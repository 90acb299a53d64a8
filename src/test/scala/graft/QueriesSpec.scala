package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (local[4], tiny SF). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** Every declared query runs, is non-degenerate, and each oracle key
  * points at a declared query. Detailed value checks live in the
  * DuckDB gate (tools/check_oracle.py) and the operator suites. */
class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs and returns a schema with rows") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      // the embed-dup variants legitimately return 0 rows at sf0.001
      // (no pair above threshold in the tiny sample); everything else
      // must produce data.
      if (!Set("d_embed_dup", "d_embed_dup_lsh")(name))
        assert(df.count() > 0, s"$name returned 0 rows")
      else assert(df.count() >= 0)
    }
  }

  /** Spark jobs started while `body` runs (polled until the count
    * stops moving — listener delivery is async). */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = counter.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      (out, counter.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** The root every `Scratch.dir` is created under. */
  private lazy val scratchRoot =
    new java.io.File(graft.util.Scratch.dir("probe")).getParentFile

  test("fixture-backed queries redo their work on every call, not just the first") {
    for (name <- Seq("q_pipeline_e2e", "q_pipeline_zip_e2e", "q_vacuum")) {
      val fn = SparkEntry.queries(name)
      val first = fn(spark, sf).collect().toSeq
      val before = scratchRoot.list().length
      val (df, jobs) = jobsDuring(fn(spark, sf))
      // every call works in fresh scratch state: a new table and log
      // for the pipelines, a new copy of the debris template to vacuum
      assert(scratchRoot.list().length > before,
        s"$name: second call allocated no working state")
      // vacuum is metadata-only by design; the pipelines run Spark jobs
      if (name != "q_vacuum")
        assert(jobs > 0, s"$name: second call launched no Spark job")
      assert(df.collect().toSeq == first, s"$name: second call's rows differ")
    }
  }
}
