package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the samples (0 for none). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** (files, bytes) of the regular files under `dir`, taken from a plain
    * filesystem listing — outside the program, so it counts whatever the
    * store actually left on disk (metadata, vectors and stale versions). */
  def census(dir: Path, dataOnly: Boolean = false): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filter(p => !dataOnly || p.getFileName.toString.endsWith(".parquet"))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Copy a directory tree (a fresh mutable store from a template). */
  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }
}
