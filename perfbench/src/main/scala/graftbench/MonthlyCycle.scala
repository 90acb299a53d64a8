package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable
import graft.Pipeline
import graft.sources.{PricePaidCsv, Sinks}

/** The write path: the reference's monthly ETL cycle on a fresh store per
  * pass — initialize from a pp-complete file, then for each monthly file
  * the SHA decision, the A/C/D merge and a re-offer of the same file
  * (which must garbage-collect), then maintenance and verification.
  * The unit op is one monthly file processed end to end. */
final class MonthlyCycle extends Workload {
  import MonthlyCycle._

  private var inputs: Inputs = _
  private val publishes = mutable.ArrayBuffer.empty[(Long, Long)] // (files, bytes) per version
  private val tableBytes = mutable.ArrayBuffer.empty[Double]
  private var published = 0L
  private var offered = 0L
  private var passNs = 0L

  def opKinds: Set[String] = Set("month")

  def setup(ctx: Ctx, dir: Path): Unit =
    inputs = generate(new SplittableRandom(ctx.seed), dir, baseRows, months)

  def warmup(ctx: Ctx): Unit = {
    val small = generate(new SplittableRandom(ctx.seed ^ 0x5eed),
      ctx.freshDir("warmup-in"), 1500, 1, years = 1)
    runCycle(ctx, small, ctx.freshDir("warmup"))
  }

  override def reset(): Unit = {
    publishes.clear(); tableBytes.clear(); published = 0; offered = 0; passNs = 0
  }

  def pass(ctx: Ctx, passNo: Int, deadlineNs: Long): Long = {
    val dir = ctx.freshDir(s"pass$passNo")
    val start = System.nanoTime()
    runCycle(ctx, inputs, dir)
    val end = System.nanoTime()
    passNs += end - start
    tableBytes += Stats.census(dir.resolve("store"))._2.toDouble
    Stats.deleteRec(dir) // keep the checkout's disk use flat across passes
    end
  }

  private def runCycle(ctx: Ctx, in: Inputs, dir: Path): Unit = {
    val spark = ctx.spark
    val t = ctx.trace
    val table = dir.resolve("store").toString
    val log = dir.resolve("filelog").toString
    def census(): Unit = {
      val (f, b) = Stats.census(Path.of(Sinks.currentVersionDir(spark, table)), dataOnly = true)
      publishes += ((f, b)); published += b
    }
    val n = t.span("pipeline.initialize_s") { Pipeline.initialize(spark, in.complete.toString, table) }
    ctx.check("initialize row count", n == in.rows, s"got $n want ${in.rows}")
    census(); offered += Files.size(in.complete)
    in.monthly.zip(in.expected).zipWithIndex.foreach { case ((file, want), i) =>
      val name = file.getFileName.toString
      t.op("month") {
        val (dec, h) = t.span("pipeline.decideAndLog_s") {
          Pipeline.decideAndLog(spark, log, name, PricePaidCsv.normalized(spark, file.toString))
        }
        val decided = ctx.check(s"month ${i + 1} decision", dec == "archive", s"got $dec")
        val stats = t.span("pipeline.applyMonthly_s") {
          Pipeline.applyMonthly(spark, file.toString, table)
        }
        val merged = ctx.check(s"month ${i + 1} CDC outcome counts", stats == want,
          s"got ${stats.toSeq.sorted} want ${want.toSeq.sorted}")
        census(); offered += Files.size(file)
        val (dec2, h2) = t.span("pipeline.reoffer_s") {
          Pipeline.decideAndLog(spark, log, name, PricePaidCsv.normalized(spark, file.toString))
        }
        val collected = ctx.check(s"month ${i + 1} re-offer", dec2 == "garbage_collect" && h2 == h,
          s"got $dec2 hash equal ${h2 == h}")
        decided && merged && collected
      }
    }
    val v = t.span("pipeline.maintain_s") { Pipeline.maintain(spark, table) }
    ctx.check("maintained version", v == in.monthly.size + 2, s"got $v")
    census()
    // verify only: the complete file predates the monthly changes, so a
    // file-wins repair would revert them
    val verify = t.span("pipeline.verifyAndFix_s") {
      Pipeline.verifyAndFix(spark, in.complete.toString, table)
    }
    ctx.check("verify counts", verify == in.verify, s"got $verify want ${in.verify}")
  }

  def endToEnd(ctx: Ctx): Map[String, Double] =
    Map("space_amp" -> Stats.median(tableBytes.toSeq) / Files.size(inputs.complete))

  def perLayer(ctx: Ctx): Map[String, Double] = {
    val t = ctx.trace
    val spanNames = Seq("initialize_s", "decideAndLog_s", "applyMonthly_s", "reoffer_s",
      "maintain_s", "verifyAndFix_s")
    val spanned = spanNames.map(s => t.spanSeconds(s"pipeline.$s").sum).sum
    spanNames.map(s => s"pipeline.$s" -> Stats.median(t.spanSeconds(s"pipeline.$s"))).toMap ++ Map(
      "pipeline.span_coverage" -> (if (passNs == 0) 0.0 else spanned / (passNs / 1e9)),
      "sources.publish_files" -> Stats.median(publishes.map(_._1.toDouble).toSeq),
      "sources.publish_mb" -> Stats.median(publishes.map(_._2 / 1048576.0).toSeq),
      "sources.version_files" -> publishes.lastOption.map(_._1.toDouble).getOrElse(0.0),
      "sources.write_amp" -> (if (offered == 0) 0.0 else published.toDouble / offered))
  }
}

object MonthlyCycle {
  val baseRows = 20000
  val months = 5

  final case class Inputs(complete: Path, rows: Long, monthly: Seq[Path],
                          expected: Seq[Map[String, Long]], verify: Map[String, Long])

  /** The pp-complete file, M monthly files of about 1% of it each, and the
    * bookkeeping every step of the cycle must reproduce. */
  def generate(rnd: SplittableRandom, dir: Path, rows: Int, months: Int,
               years: Int = PpGen.historyYears): Inputs = {
    val base = (0 until rows).map(i => PpGen.row(rnd, i, PpGen.randomDay(rnd, years)))
    val complete = dir.resolve("pp-complete.csv")
    PpGen.writeCsv(complete, base.iterator.map(_.csv("A")))
    val model = new PpGen.Model(base)
    var serial = rows.toLong
    val files = mutable.ArrayBuffer.empty[Path]
    val expected = mutable.ArrayBuffer.empty[Map[String, Long]]
    (1 to months).foreach { m =>
      val changes = PpGen.monthlyChanges(rnd, model, math.max(100, rows / 100),
        () => { serial += 1; serial })
      val f = dir.resolve(f"pp-monthly-update-$m%02d.csv")
      PpGen.writeCsv(f, changes.iterator.map(c => c.row.csv(c.op)))
      files += f
      expected += PpGen.applyToModel(model, changes)
    }
    Inputs(complete, rows.toLong, files.toSeq, expected.toSeq, PpGen.verifyCounts(model, base))
  }
}
