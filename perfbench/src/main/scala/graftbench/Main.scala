package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, the run's trace, its seed and a
  * private scratch root inside the benchmark's work directory. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
                val seconds: Double, val work: Path, val cores: Int) {
  private var dirs = 0
  /** A new, empty directory: every pass and every set-up repetition
    * starts from fresh state. */
  def freshDir(tag: String): Path = {
    dirs += 1
    Files.createDirectories(work.resolve(f"$tag-$dirs%03d"))
  }
  /** Checks that failed, with what was expected; any entry fails the run. */
  val wrong: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) wrong += s"$what ${detail}".trim
    ok
  }
}

/** One workload: repeated set-up (measured, median reported), one
  * untimed warm-up, then timed passes of a fixed body of work until the
  * run's measuring time is used up. */
trait Workload {
  /** Generate inputs and bootstrap the store into `dir`. */
  def setup(ctx: Ctx, dir: Path): Unit
  /** Untimed: exercise every code path once so JIT and caches settle. */
  def warmup(ctx: Ctx): Unit
  /** One pass of the workload's fixed work, timing each unit op through
    * `ctx.trace.op`; output checks go through `ctx.check`. Returns the
    * nanoTime at which the workload's own work ended (checks the benchmark
    * runs afterwards are not part of the pass's wall time). */
  def pass(ctx: Ctx, passNo: Int, deadlineNs: Long): Long
  /** Op kinds timed as the workload's unit op. */
  def opKinds: Set[String]
  /** Op kinds that must each launch at least one Spark job. */
  def guardKinds: Set[String] = opKinds
  /** Workload-specific end-to-end figures (e.g. space_amp). */
  def endToEnd(ctx: Ctx): Map[String, Double]
  /** Workload-specific per-layer figures, traced run only. */
  def perLayer(ctx: Ctx): Map[String, Double]
  /** Forget figures recorded so far (a new timed phase starts). */
  def reset(): Unit = ()
}

object Main {
  val setupReps = 3

  def workload(name: String): Workload = name match {
    case "monthly_cycle" => new MonthlyCycle
    case "cdc_stream" => new CdcStreamWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opts("workload").split(',').toSeq
    val work = Path.of(opts("work")).toAbsolutePath
    val out = Path.of(opts("out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    // several workloads in one JVM only train the class-data archive;
    // the result file then holds the last one's figures
    names.foreach { name =>
      val json = run(spark, workload(name), name, opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", Files.createDirectories(work.resolve(name)), cores, sessionS)
      Files.createDirectories(out.getParent)
      Files.writeString(out, json)
    }
    val s = System.nanoTime()
    spark.stop()
    System.err.println(f"graftbench: session stopped in ${(System.nanoTime() - s) / 1e9}%.2f s")
  }

  /** One workload's run on a live session; returns its result as JSON. */
  def run(spark: SparkSession, wl: Workload, name: String, seed: Long, seconds: Double,
          traced: Boolean, work: Path, cores: Int, sessionS: Double): String = {
    val trace = new Trace(spark)
    val ctx = new Ctx(spark, trace, seed, seconds, work, cores)
    val clock = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"graftbench: $name $what at ${(System.nanoTime() - clock) / 1e9}%.2f s")

    val setupTimes = (1 to setupReps).map { rep =>
      val s = System.nanoTime()
      wl.setup(ctx, ctx.freshDir(s"setup$rep"))
      (System.nanoTime() - s) / 1e9
    }
    mark(s"set up ${setupTimes.map(t => f"$t%.2f").mkString("/")} s")
    val w0 = System.nanoTime()
    wl.warmup(ctx)
    val warmupS = (System.nanoTime() - w0) / 1e9
    mark("warmed up")

    var attempted = 0
    var failedOps = 0
    /** Timed passes of fixed work until `seconds` are used; returns the
      * pass times and the phase's wall-clock window. */
    def phase(): (Seq[Double], Double, Long, Long) = {
      trace.ops.clear()
      trace.spans.clear()
      wl.reset()
      val startMs = System.currentTimeMillis()
      val p0 = System.nanoTime()
      val deadline = p0 + (seconds * 1e9).toLong
      val passTimes = mutable.ArrayBuffer.empty[Double]
      while (passTimes.isEmpty || System.nanoTime() < deadline) {
        val s = System.nanoTime()
        passTimes += (wl.pass(ctx, passTimes.size + 1, deadline) - s) / 1e9
      }
      val phaseS = (System.nanoTime() - p0) / 1e9
      val endMs = System.currentTimeMillis()
      trace.drain()
      trace.jobless(wl.guardKinds).foreach(o =>
        ctx.wrong += s"op ${o.kind}#${o.id} launched no Spark job")
      val mine = trace.ops.filter(o => wl.opKinds(o.kind))
      attempted += mine.size
      failedOps += mine.count(!_.ok)
      (passTimes.toSeq, phaseS, startMs, endMs)
    }
    def opSeconds: Seq[Double] =
      trace.ops.filter(o => wl.opKinds(o.kind)).map(o => (o.endNs - o.startNs) / 1e9).toSeq

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val passes =
      if (!traced) {
        val (passTimes, _, _, _) = phase()
        metrics("setup_s") = (sessionS + Stats.median(setupTimes), "s")
        metrics("wall_s") = (Stats.median(passTimes), "s")
        metrics("op_p50_s") = (Stats.median(opSeconds), "s")
        metrics("op_p90_s") = (Stats.quantile(opSeconds, 0.9), "s")
        wl.endToEnd(ctx).foreach { case (k, v) => metrics(k) = (v, Units.of(k)) }
        passTimes.size
      } else {
        // the same phase untraced, then traced: their ratio is the
        // tracing overhead, and every per-layer figure is the traced one's
        val (plain, _, _, _) = phase()
        trace.enable()
        val (passTimes, phaseS, fromMs, toMs) = phase()
        val wallS = Stats.median(passTimes)
        trace.engineMetrics(trace.jobsIn(fromMs, toMs), phaseS, cores)
          .foreach { case (k, v) => metrics(k) = (v, Units.of(k)) }
        metrics("engine.session_start_s") = (sessionS, "s")
        metrics("engine.peak_rss_mb") = (Stats.peakRssMb(), "MB")
        metrics("bench.warmup_s") = (warmupS, "s")
        metrics("bench.wall_s") = (wallS, "s")
        metrics("bench.op_p50_s") = (Stats.median(opSeconds), "s")
        metrics("trace_overhead") = (wallS / Stats.median(plain), "ratio")
        val qs = trace.queries.asScala.toSeq
        metrics("plans.queries") = (qs.size.toDouble, "count")
        metrics("plans.plan_p50_s") = (Stats.median(qs.map(_.planMs / 1000.0)), "s")
        metrics("sources.files_scanned") = (qs.map(_.files).sum.toDouble, "count")
        wl.perLayer(ctx).foreach { case (k, v) => metrics(k) = (v, Units.of(k)) }
        trace.dump(work.getParent.getParent.resolve("traces").resolve(s"$name-seed$seed.json"))
        passTimes.size
      }
    mark("measured")
    trace.close()
    // a wrong answer fails at least one op even if every op returned
    val failed = math.min(attempted, math.max(failedOps, if (ctx.wrong.nonEmpty) 1 else 0))
    if (traced) metrics("bench.failed_ratio") =
      (if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio")

    val json = new StringBuilder
    json ++= s"""{"workload":"$name","seed":$seed,"correct":${ctx.wrong.isEmpty},"""
    json ++= s""""attempted":$attempted,"failed":$failed,"passes":$passes,"""
    json ++= s""""errors":[${ctx.wrong.take(20).map(e => "\"" + Json.esc(e) + "\"").mkString(",")}],"""
    json ++= "\"metrics\":{"
    json ++= metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    json ++= "}}"
    json.toString
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Units of every metric name the benchmark emits. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ratio") || name.endsWith("_amp") || name.endsWith("cpu_util") ||
      name.endsWith("task_skew") || name.endsWith("_recall") || name.endsWith("per_row_out") ||
      name.endsWith("_overhead")) "ratio"
    else "count"
}
