package graft.util

/** Per-JVM scratch space for registered queries that materialize a
  * working copy (a published snapshot, a persisted index, a streaming
  * checkpoint). Everything lives under one temp root that a shutdown
  * hook removes, so repeated benchmark/verify runs in one JVM — and
  * across JVMs on one host — never accumulate disk.
  *
  * The one fixture rule: cache a query's INPUTS, never its results.
  * [[fixture]] builds an on-disk input once per (name, data dir) and
  * hands back only its path, so every call of the query still runs the
  * work it claims; a query that mutates its input (a stream writing
  * into a table, a vacuum, a compaction) works on [[freshCopy]] of it.
  */
object Scratch {

  private lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(r.toFile)))
    r
  }

  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete()
    ()
  }

  /** A fresh directory under the self-cleaning root. */
  def dir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString

  /** Once-holder: `lazy val` initialization is synchronized on the
    * cell, so concurrent callers of one key wait for a single build,
    * and a build that throws leaves the cell unset for the next caller. */
  private final class Once(build: () => String) { lazy val path: String = build() }

  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Once]()

  /** The path of a fresh scratch directory that `build` filled once per
    * (`name`, `dataDir`) in this JVM. The map only hands out the cell;
    * the build runs outside `computeIfAbsent`, because builds run Spark
    * jobs and may themselves build other fixtures. */
  def fixture(name: String, dataDir: String)(build: String => Unit): String =
    fixtures.computeIfAbsent((name, dataDir), _ => new Once(() => {
      val d = dir(name)
      build(d)
      d
    })).path

  /** A private copy of the file tree at `path` (modification times
    * kept), at `<fresh scratch dir>/<last path segment>`. */
  def freshCopy(path: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(path)
    val dst = Paths.get(dir("copy")).resolve(src.getFileName)
    val walk = Files.walk(src)
    try walk.forEach(p =>
      Files.copy(p, dst.resolve(src.relativize(p)), StandardCopyOption.COPY_ATTRIBUTES))
    finally walk.close()
    dst.toString
  }
}
