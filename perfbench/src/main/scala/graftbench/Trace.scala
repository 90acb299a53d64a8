package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark records about a run, from its own files:
  * timed ops (always), and — in a traced run — spans around every call
  * into a library layer plus the engine's job/stage/task events.
  *
  * The untraced run registers one listener that only notes which op each
  * job belonged to, so the run can refuse ops that launched no Spark job
  * (a memoized result times at a few milliseconds and proves nothing).
  * Every figure that needs per-task accounting comes from the traced run.
  */
final class Trace(spark: SparkSession) {
  import Trace._
  @volatile private var enabled = false
  private val sc = spark.sparkContext
  private val opProp = "graftbench.op"
  private val spanProp = "graftbench.span"
  private val sentinelProp = "graftbench.sentinel"

  // ---- ops: the workload's unit of work, timed in every run ----------
  val ops = mutable.ArrayBuffer.empty[Op]
  private val opSeq = new AtomicLong(0)

  /** Run one timed op under its own job tag. `body` returns whether its
    * output checks passed; a throw is recorded as a failed op and rethrown. */
  def op(kind: String)(body: => Boolean): Unit = {
    val id = opSeq.incrementAndGet()
    sc.setLocalProperty(opProp, id.toString)
    val s = System.nanoTime()
    try {
      val ok = body
      ops += Op(id, kind, s, System.nanoTime(), ok)
    } catch {
      case e: Throwable =>
        ops += Op(id, kind, s, System.nanoTime(), ok = false)
        throw e
    } finally sc.setLocalProperty(opProp, null)
  }

  // ---- spans: calls into a layer, traced runs only -------------------
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var spanSeq = 0

  /** `name` is `<module>.<function>`; spans nest, and jobs started inside
    * one carry its id. Without tracing this is just the body. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      spanSeq += 1
      val id = spanSeq
      spanNames.put(id, name)
      val parent = open.headOption.getOrElse(0)
      open ::= id
      sc.setLocalProperty(spanProp, id.toString)
      val s = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, s, System.nanoTime())
        open = open.tail
        sc.setLocalProperty(spanProp, open.headOption.map(_.toString).orNull)
      }
    }

  def spanSeconds(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  // ---- engine events ------------------------------------------------
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()
  @volatile private var sentinelSeen = -1L
  val streamProgress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()

  private def moduleOf(callSite: String, span: Option[Int]): String = {
    val fromFrame = callSite.linesIterator.map(_.trim).collectFirst {
      case f if f.startsWith("graft.") => Trace.moduleOfClass(f.takeWhile(_ != '('))
    }
    fromFrame.orElse(span.flatMap(id => spanNames.get(id)).map(_.takeWhile(_ != '.')))
      .getOrElse("bench")
  }
  // span id -> name, filled when a span opens so jobs can resolve it
  private val spanNames = new java.util.concurrent.ConcurrentHashMap[Int, String]().asScala

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      prop(sentinelProp).foreach(n => sentinelJobs.put(e.jobId, n.toLong))
      val span = prop(spanProp).map(_.toInt)
      val callSite = e.stageInfos.headOption.map(_.details).getOrElse("")
      val rec = new JobRec(e.jobId, e.time, prop(opProp).map(_.toLong), span,
        prop("streaming.sql.batchId").map(_.toLong), prop("sql.streaming.queryId"),
        if (enabled) moduleOf(callSite, span) else "", e.stageIds,
        sentinel = prop(sentinelProp).isDefined)
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      if (sentinelJobs.contains(e.jobId)) sentinelSeen = sentinelJobs(e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
      val m = e.taskMetrics
      val a = stageTasks.computeIfAbsent(e.stageId, _ => new TaskAgg)
      a.synchronized {
        a.tasks += 1; a.runMs += m.executorRunTime; a.gcMs += m.jvmGCTime
        a.inB += m.inputMetrics.bytesRead; a.outB += m.outputMetrics.bytesWritten
        a.shufB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        a.durations += e.taskInfo.duration
      }
    }
  }
  // sentinel job id -> marker value
  private val sentinelJobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]().asScala

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val (f, r) = Trace.scanCounts(qe.executedPlan)
      // analysis + optimization (graft's rules) + physical planning
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      queries.add(QueryRec(funcName, durationNs, planMs, f, r))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      streamProgress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(listener)

  /** Switch to the traced mode: spans, per-task accounting, and the
    * query-execution and streaming listeners. */
  def enable(): Unit = if (!enabled) {
    enabled = true
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
  def tracing: Boolean = enabled

  /** Wait until the listener bus has delivered every event posted so far:
    * a tagged one-task job is the marker, and events of one queue arrive
    * in order. */
  def drain(): Unit = {
    val n = System.nanoTime()
    sc.setLocalProperty(sentinelProp, n.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(sentinelProp, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sentinelSeen != n && System.nanoTime() < deadline) Thread.sleep(5)
    if (sentinelSeen != n) throw new IllegalStateException("listener bus did not drain in 30 s")
  }

  /** Ops of the given kinds that launched no Spark job. Call after drain(). */
  def jobless(kinds: Set[String]): Seq[Op] = {
    val withJobs = jobs.values.asScala.flatMap(_.op).toSet
    ops.filter(o => kinds(o.kind) && !withJobs(o.id)).toSeq
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    if (enabled) {
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
  }

  // ---- engine figures over a window ---------------------------------
  /** Jobs started inside [fromMs, toMs] (wall-clock ms). */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.values.asScala.filter(j => !j.sentinel && j.startMs >= fromMs && j.startMs <= toMs).toSeq

  /** The `engine.*` and `<module>.*` figures of the jobs in the window. */
  def engineMetrics(win: Seq[JobRec], wallS: Double, cores: Int): Map[String, Double] = {
    val stages = win.flatMap(_.stageIds).distinct
    val aggs = stages.flatMap(s => Option(stageTasks.get(s)))
    def sum(f: TaskAgg => Long) = aggs.map(a => a.synchronized(f(a))).sum.toDouble
    val taskS = sum(_.runMs) / 1000.0
    // skew: median over multi-task stages of (slowest task / median task)
    val skews = aggs.flatMap { a =>
      val d = a.synchronized(a.durations.sorted.toSeq)
      if (d.size < 2) None
      else {
        val med = Stats.median(d.map(_.toDouble))
        if (med <= 0) None else Some(d.last / med)
      }
    }
    // union of job intervals
    val iv = win.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    val mb = 1024.0 * 1024.0
    val base = Map(
      "engine.jobs" -> win.size.toDouble,
      "engine.stages" -> aggs.size.toDouble,
      "engine.tasks" -> sum(_.tasks),
      "engine.task_s" -> taskS,
      "engine.gc_s" -> sum(_.gcMs) / 1000.0,
      "engine.cpu_util" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "engine.driver_gap_s" -> math.max(0.0, wallS - covered / 1000.0),
      "engine.input_mb" -> sum(_.inB) / mb,
      "engine.output_mb" -> sum(_.outB) / mb,
      "engine.shuffle_write_mb" -> sum(_.shufB) / mb,
      "engine.spill_mb" -> sum(_.spillB) / mb,
      "engine.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)))
    val perModule = Trace.modules.flatMap { m =>
      val js = win.filter(_.module == m)
      val ms = js.flatMap(_.stageIds).flatMap(s => Option(stageTasks.get(s)))
      Seq(s"$m.jobs" -> js.size.toDouble,
        s"$m.task_s" -> ms.map(a => a.synchronized(a.runMs)).sum / 1000.0)
    }
    base ++ perModule
  }

  /** Write spans, jobs and queries of the run as one JSON document. */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    sb ++= "{\"spans\":["
    sb ++= spans.map(s => s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val st = j.stageIds.flatMap(s => Option(stageTasks.get(s)))
      s"""{"id":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""op":${j.op.getOrElse(-1L)},"span":${j.span.getOrElse(0)},"batch":${j.batch.getOrElse(-1L)},""" +
        s""""module":"${j.module}","tasks":${st.map(_.tasks).sum},"task_ms":${st.map(_.runMs).sum}}"""
    }.mkString(",")
    sb ++= "],\"queries\":["
    sb ++= queries.asScala.map(q => s"""{"func":"${q.func}","ms":${q.durationNs / 1e6},"plan_ms":${q.planMs},""" +
      s""""files":${q.files},"rows":${q.rows}}""").mkString(",")
    sb ++= "]}"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Trace {
  final case class Op(id: Long, kind: String, startNs: Long, endNs: Long, ok: Boolean)
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  final case class QueryRec(func: String, durationNs: Long, planMs: Long, files: Long, rows: Long)
  final class JobRec(val id: Int, val startMs: Long, val op: Option[Long], val span: Option[Int],
                     val batch: Option[Long], val query: Option[String], val module: String,
                     val stageIds: Seq[Int], val sentinel: Boolean) {
    @volatile var endMs: Long = -1L
  }
  /** Task figures of one stage, summed as its tasks end. */
  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L; var inB = 0L; var outB = 0L
    var shufB = 0L; var spillB = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  /** The modules a job can be attributed to (`bench` is the harness). */
  val modules: Seq[String] = Seq("pipeline", "sources", "operators", "streaming")

  /** `graft.sources.Sinks$.publishSnapshot` → sources; the root package
    * holds the pipeline orchestration. */
  def moduleOfClass(frame: String): String = frame.split('.').toList match {
    case "graft" :: pkg :: _ :: _ if pkg.headOption.exists(_.isLower) => pkg
    case _ => "pipeline"
  }

  /** (files, rows) read by the file scans of an executed plan, walking
    * into adaptive query stages. */
  def scanCounts(plan: SparkPlan): (Long, Long) = {
    var files = 0L; var rows = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
          if (p.metrics.contains("numFiles")) {
            files += p.metrics("numFiles").value
            rows += p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(plan)
    (files, rows)
  }
}
