package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.zip.CRC32
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.Pipeline
import graft.sources.DeletionVectors
import graft.streaming.CdcStream

/** An open loop into the streaming CDC updater: change files land on a
  * fixed schedule (`rate` files per second, whatever the stream does)
  * into `CdcStream.applyUpdatesMoR` over a freshly initialized store.
  * Each file's freshness runs from the moment it was due until the
  * benchmark sees the store version that contains it committed. The
  * same CdcMerge as the monthly cycle, run as batch-sized merge-on-read
  * commits instead of full republishes. */
final class CdcStreamWorkload extends Workload {
  import CdcStreamWorkload._

  private var in: Inputs = _
  private val lags = mutable.ArrayBuffer.empty[Double]
  private val backlog = mutable.ArrayBuffer.empty[Double]
  private val tableBytes = mutable.ArrayBuffer.empty[Double]
  private val chain = mutable.ArrayBuffer.empty[Double]

  def opKinds: Set[String] = Set("file")
  override def guardKinds: Set[String] = Set.empty // checked per micro-batch instead

  def setup(ctx: Ctx, dir: Path): Unit = {
    // enough files for the measuring time, plus a second of slack
    in = generate(new SplittableRandom(ctx.seed), dir, baseRows,
      math.ceil(rate * (ctx.seconds + 1)).toInt, rowsPerFile)
    Pipeline.initialize(ctx.spark, in.complete.toString, dir.resolve("template").toString)
  }

  def warmup(ctx: Ctx): Unit = {
    val w = generate(new SplittableRandom(ctx.seed ^ 0x5eed), ctx.freshDir("warmup-in"), 1500, 3, 20,
      years = 1)
    Pipeline.initialize(ctx.spark, w.complete.toString, w.dir.resolve("template").toString)
    stream(ctx, w, ctx.freshDir("warmup"), System.nanoTime() + 2000000000L, record = false)
  }

  override def reset(): Unit = { lags.clear(); backlog.clear(); tableBytes.clear(); chain.clear() }

  def pass(ctx: Ctx, passNo: Int, deadlineNs: Long): Long =
    stream(ctx, in, ctx.freshDir(s"pass$passNo"), deadlineNs, record = true)

  /** One stream lifecycle on a fresh copy of the store, a fresh checkpoint
    * and an empty landing directory: land files on schedule until the
    * deadline, note the backlog, drain, stop, and check the final state.
    * Returns when the last landed file was seen committed. */
  private def stream(ctx: Ctx, in: Inputs, dir: Path, deadlineNs: Long, record: Boolean): Long = {
    val spark = ctx.spark
    val table = dir.resolve("store")
    Stats.copyTree(in.dir.resolve("template"), table)
    val landing = Files.createDirectories(dir.resolve("landing"))
    val ckpt = dir.resolve("checkpoint")
    val manifests = table.resolve("_manifests")
    val baseVersions = versionsIn(manifests)
    val changes = spark.readStream.schema(changeSchema)
      .option("header", "false").option("quote", "\"").option("escape", "\"")
      .csv(landing.toString)
    val query: StreamingQuery = ctx.trace.span("streaming.applyUpdatesMoR") {
      CdcStream.applyUpdatesMoR(changes, table.toString, key, Pipeline.compareCols, "seq")
        .option("checkpointLocation", ckpt.toString)
        .start()
    }
    val intervalNs = (1e9 / rate).toLong
    val t0 = System.nanoTime() + 200000000L // first file due shortly after the start
    val due = mutable.ArrayBuffer.empty[Long]         // per landed file
    val committedAt = mutable.Map.empty[String, Long] // file name -> commit seen
    var seenVersions = baseVersions
    var drained = 0L
    def poll(): Unit = {
      val now = versionsIn(manifests)
      if (now > seenVersions) {
        val seen = System.nanoTime()
        // batch b commits store version base + 1 + b; its files are in the
        // source log of the checkpoint
        (seenVersions - baseVersions until now - baseVersions).foreach { b =>
          filesOfBatch(ckpt, b).foreach(f => committedAt.getOrElseUpdate(f, seen))
        }
        seenVersions = now
      }
    }
    try {
      while (System.nanoTime() < deadlineNs && due.size < in.files.size) {
        val next = t0 + due.size * intervalNs
        while (System.nanoTime() < next) { poll(); Thread.sleep(2) }
        val f = in.files(due.size)
        val tmp = landing.resolve("." + f.getFileName.toString + ".tmp")
        Files.copy(f, tmp)
        Files.move(tmp, landing.resolve(f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
        if (record) lags += (System.nanoTime() - next) / 1e9
        due += next
      }
      poll()
      val landed = due.size
      if (record) backlog += (landed - committedAt.size).toDouble
      val drainBy = System.nanoTime() + 60L * 1000000000L
      while (committedAt.size < landed && System.nanoTime() < drainBy) {
        Option(query.exception.orNull).foreach(e => throw e)
        poll(); Thread.sleep(2)
      }
      drained = System.nanoTime()
      ctx.check("stream drained every landed file", committedAt.size == landed,
        s"${committedAt.size} of $landed committed")
      if (record) in.files.take(landed).zip(due).foreach { case (f, d) =>
        committedAt.get(f.getFileName.toString).foreach { c =>
          ctx.trace.ops += Trace.Op(0, "file", d, c, ok = true)
        }
      }
      query.stop()
      // the merged state must be the base with exactly the landed files applied
      val want = in.checksums.take(landed + 1).reduce(Checksum.plus)
      val got = ctx.trace.span("sources.readMerged") {
        DeletionVectors.readMerged(spark, table.toString).agg(
          count(when(col("is_deleted") === "F", 1)), coalesce(sum(when(col("is_deleted") === "F",
            col("price"))), lit(0L)), count(when(col("is_deleted") === "T", 1)),
          coalesce(sum(crc32(concat_ws("|", col(key), col("price").cast("string"), col("is_deleted")))),
            lit(0L))).head()
      }
      val gotSum = Checksum(got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      ctx.check("streamed state equals the generator's", gotSum == want, s"got $gotSum want $want")
      if (record) {
        tableBytes += Stats.census(table)._2.toDouble
        chain += (seenVersions - baseVersions).toDouble
      }
    } finally {
      if (query.isActive) query.stop()
    }
    // every micro-batch that committed must have run Spark jobs
    ctx.trace.drain()
    val withJobs = ctx.trace.jobs.values.asScala
      .filter(_.query.contains(query.id.toString)).flatMap(_.batch).toSet
    val jobless = (0L until seenVersions - baseVersions).filterNot(withJobs)
    ctx.check("every micro-batch ran Spark jobs", jobless.isEmpty, s"batches ${jobless.mkString(",")}")
    Stats.deleteRec(dir)
    drained
  }

  def endToEnd(ctx: Ctx): Map[String, Double] =
    Map("space_amp" -> Stats.median(tableBytes.toSeq) / Files.size(in.complete))

  def perLayer(ctx: Ctx): Map[String, Double] = {
    val t = ctx.trace
    val progress = t.streamProgress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
    def dur(k: String) = progress.flatMap(p => Option(p.durationMs.get(k)).map(_.longValue / 1000.0))
    val queries = progress.map(_.id.toString).toSet
    val batchJobs = t.jobs.values.asScala.filter(j => j.batch.isDefined && j.query.exists(queries))
      .groupBy(j => (j.query, j.batch))
    Map(
      "streaming.batch_p50_s" -> Stats.median(dur("triggerExecution")),
      "streaming.addBatch_p50_s" -> Stats.median(dur("addBatch")),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.jobs_per_batch" -> Stats.median(batchJobs.values.map(_.size.toDouble).toSeq),
      "streaming.rows_per_batch" -> Stats.median(progress.map(_.numInputRows.toDouble)),
      "streaming.generator_lag_s" -> (if (lags.isEmpty) 0.0 else lags.max),
      "streaming.backlog_files" -> Stats.median(backlog.toSeq),
      "sources.mor_chain_len" -> Stats.median(chain.toSeq),
      "sources.mor_read_s" -> Stats.median(t.spanSeconds("sources.readMerged")))
  }
}

object CdcStreamWorkload {
  val baseRows = 15000
  val rowsPerFile = 40
  /** Files land at this fixed rate (per second). */
  val rate = 10.0
  val key = "transaction_unique_id"

  val changeSchema: StructType = StructType(
    Seq(StructField(key, StringType), StructField("price", LongType),
      StructField("transaction_date", DateType)) ++
    Pipeline.compareCols.drop(2).map(c => StructField(c, StringType)) ++
    Seq(StructField("record_op", StringType), StructField("seq", LongType)))

  /** Order-free digest of a store state: live rows, their price total,
    * soft-deleted rows, and the sum of crc32(key|price|is_deleted). */
  final case class Checksum(live: Long, price: Long, deleted: Long, crc: Long)
  object Checksum {
    def plus(a: Checksum, b: Checksum): Checksum =
      Checksum(a.live + b.live, a.price + b.price, a.deleted + b.deleted, a.crc + b.crc)
    def of(r: PpGen.Row, deleted: Boolean, sign: Int = 1): Checksum = {
      val c = new CRC32
      c.update(s"${r.key}|${r.price}|${if (deleted) "T" else "F"}".getBytes(UTF_8))
      Checksum(if (deleted) 0 else sign, if (deleted) 0 else sign * r.price,
        if (deleted) sign else 0, sign * c.getValue)
    }
  }

  /** `checksums(0)` is the base; `checksums(i)` is the change file i
    * brings, so any landed prefix sums to its expected state. */
  final case class Inputs(dir: Path, complete: Path, files: Seq[Path], checksums: Seq[Checksum])

  private def versionsIn(manifests: Path): Long =
    if (!Files.isDirectory(manifests)) 0L
    else {
      val s = Files.list(manifests)
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("m")).toLong finally s.close()
    }

  /** File names the stream's source log assigns to batch `b` (a plain
    * log file, or a compacted one that carries every earlier batch). */
  private def filesOfBatch(ckpt: Path, b: Long): Seq[String] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val plain = dir.resolve(b.toString)
    val compact = dir.resolve(s"$b.compact")
    val f = if (Files.exists(plain)) plain else compact
    if (!Files.exists(f)) Nil
    else Files.readAllLines(f).asScala.toSeq.filter(_.contains(s""""batchId":$b""")).flatMap { l =>
      "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1).split('/').last)
    }
  }

  /** A change record: the row with a plain date, its op and sequence. */
  private def line(r: PpGen.Row, op: String, seq: Long): String =
    r.csv(op).replace(" 00:00\"", "\"") + s""","$seq""""

  /** The base file and the change files, each touching keys no other file
    * touches: changes and deletes of live rows and adds of new keys. */
  def generate(rnd: SplittableRandom, dir: Path, rows: Int, files: Int, perFile: Int,
               years: Int = PpGen.historyYears): Inputs = {
    val base = (0 until rows).map(i => PpGen.row(rnd, i, PpGen.randomDay(rnd, years)))
    val complete = dir.resolve("pp-complete.csv")
    PpGen.writeCsv(complete, base.iterator.map(_.csv("A")))
    val pool = base.toArray
    var i = pool.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = pool(i); pool(i) = pool(j); pool(j) = t; i -= 1 }
    var next = 0
    var serial = rows.toLong
    var seq = 0L
    val sums = mutable.ArrayBuffer(base.map(Checksum.of(_, deleted = false)).reduce(Checksum.plus))
    val paths = (0 until files).map { f =>
      val lines = mutable.ArrayBuffer.empty[String]
      var sum = Checksum(0, 0, 0, 0)
      (0 until perFile).foreach { _ =>
        seq += 1
        rnd.nextInt(10) match {
          case k if k < 5 && next < pool.length => // change a live row
            val old = pool(next); next += 1
            val now = PpGen.changedCopy(rnd, old)
            lines += line(now, "C", seq)
            sum = Checksum.plus(Checksum.plus(sum, Checksum.of(old, deleted = false, -1)),
              Checksum.of(now, deleted = false))
          case k if k < 7 && next < pool.length => // delete a live row
            val old = pool(next); next += 1
            lines += line(old, "D", seq)
            sum = Checksum.plus(Checksum.plus(sum, Checksum.of(old, deleted = false, -1)),
              Checksum.of(old, deleted = true))
          case _ => // add a new key in the last two months
            serial += 1
            val r = PpGen.row(rnd, serial, PpGen.lastDay.minusDays(rnd.nextLong(61)))
            lines += line(r, "A", seq)
            sum = Checksum.plus(sum, Checksum.of(r, deleted = false))
        }
      }
      sums += sum
      val p = dir.resolve("changes").resolve(f"change-$f%04d.csv")
      PpGen.writeCsv(p, lines.iterator)
      p
    }
    Inputs(dir, complete, paths, sums.toSeq)
  }
}
