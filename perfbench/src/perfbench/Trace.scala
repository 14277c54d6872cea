package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` is the id of the top-level
  * operation span that caused it; a top-level span has `parent == -1` and
  * `op == id`. Times are epoch milliseconds, comparable with Spark's event times. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startMs: Double, var endMs: Double) {
  def durMs: Double = endMs - startMs
  def contains(t: Double): Boolean = startMs <= t && t <= endMs
}

/** Spans recorded by the benchmark around each call into a graft or Spark layer.
  * Spans stay in memory until the run ends. Disabled, [[span]] only runs its body,
  * so the untraced run does the same calls without recording them. */
final class Tracer(val enabled: Boolean) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.length, parent.fold(-1)(_.id), parent.fold(spans.length)(_.op),
        layer, name, nowMs, Double.NaN)
      spans += s
      stack = s :: stack
      try body
      finally { s.endMs = nowMs; stack = stack.tail }
    }

  /** Spans that ended inside [fromMs, toMs]. */
  def within(fromMs: Double, toMs: Double): Seq[Span] =
    spans.toSeq.filter(s => s.startMs >= fromMs && s.endMs <= toMs)
}

/** Spark's own counters for one job: the listener's view of the execution layer. */
final class JobStats(val id: Int, val startMs: Long, val listing: Boolean) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var scanRows = 0L
  var scanBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One Catalyst planning phase of one executed statement (from its planning tracker). */
final case class Phase(name: String, startMs: Long, endMs: Long)

/** SparkListener + QueryExecutionListener, both registered only in a traced run.
  * Events arrive on Spark's listener-bus thread; read them after [[SparkBus.drain]]. */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  val phases = mutable.ArrayBuffer.empty[Phase]
  private val stageJob = mutable.HashMap.empty[Int, JobStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    val j = new JobStats(e.jobId, e.time, desc.exists(_.startsWith("Listing leaf files")))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.scanRows += m.inputMetrics.recordsRead
      j.scanBytes += m.inputMetrics.bytesRead
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) => phases += Phase(name, p.startTimeMs, p.endTimeMs) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Lengths of unions of intervals, for self times. */
object Intervals {
  def union(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def clip(x: (Double, Double), s: Span): (Double, Double) =
    (math.max(x._1, s.startMs), math.min(x._2, s.endMs))
}

/** Joins the benchmark's spans with the listener's jobs and planning phases over the
  * measured window and reports per-layer totals and self times. */
final class TraceReport(tracer: Tracer, counters: Counters, fromMs: Double, toMs: Double) {
  val spans: Seq[Span] = tracer.within(fromMs, toMs)
  val jobs: Seq[JobStats] = counters.synchronized(counters.jobs.values.toSeq)
    .filter(j => j.startMs >= fromMs && j.startMs <= toMs)
  val phases: Seq[Phase] = counters.synchronized(counters.phases.toSeq)
    .filter(p => p.endMs >= fromMs && p.endMs <= toMs && p.endMs >= p.startMs)

  private val depth: Map[Int, Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    def d(s: Span): Int = if (s.parent < 0) 0 else byId.get(s.parent).fold(0)(d(_) + 1)
    spans.map(s => s.id -> d(s)).toMap
  }

  /** Innermost span whose interval holds `t`; None outside every operation. */
  private def innermost(t: Double): Option[Span] = {
    val hits = spans.filter(_.contains(t))
    if (hits.isEmpty) None else Some(hits.maxBy(s => depth(s.id)))
  }

  val jobsBySpan: Map[Int, Seq[JobStats]] =
    jobs.flatMap(j => innermost(j.startMs.toDouble).map(_.id -> j)).groupMap(_._1)(_._2)
  val phasesBySpan: Map[Int, Seq[Phase]] =
    phases.flatMap(p => innermost(p.startMs.toDouble).map(_.id -> p)).groupMap(_._1)(_._2)

  /** Jobs that started inside `s` or any span below it. */
  def jobsUnder(s: Span): Seq[JobStats] = jobs.filter(j => s.contains(j.startMs.toDouble))

  /** Self time per layer. A recorded span's self time is its length minus what its
    * child spans, its jobs and its planning phases cover. Job time counts to layer
    * `exec` and planning-phase time not under a job to layer `plan`. */
  lazy val selfMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val js = jobsBySpan.getOrElse(s.id, Nil).map(j => Intervals.clip((j.startMs.toDouble, j.endMs.toDouble), s))
      val ps = phasesBySpan.getOrElse(s.id, Nil).map(p => Intervals.clip((p.startMs.toDouble, p.endMs.toDouble), s))
      val jobMs = Intervals.union(js)
      val planMs = Intervals.union(js ++ ps) - jobMs
      acc("exec") += jobMs
      acc("plan") += planMs
      acc(s.layer) += math.max(0.0, s.durMs - Intervals.union(kids ++ js ++ ps))
    }
    acc.toMap
  }

  def phaseMs(name: String): Double =
    phases.filter(_.name == name).map(p => (p.endMs - p.startMs).toDouble).sum

  /** The execution-layer counters, summed over the window's jobs. */
  def execCounters: Seq[(String, Double)] = Seq(
    "exec.jobs" -> jobs.size.toDouble,
    "exec.stages" -> jobs.map(_.stages).sum.toDouble,
    "exec.tasks" -> jobs.map(_.tasks).sum.toDouble,
    "exec.task_cpu_ms" -> jobs.map(_.cpuNs).sum / 1e6,
    "exec.task_run_ms" -> jobs.map(_.runMs).sum.toDouble,
    "exec.gc_ms" -> jobs.map(_.gcMs).sum.toDouble,
    "exec.scan_rows" -> jobs.map(_.scanRows).sum.toDouble,
    "exec.scan_bytes" -> jobs.map(_.scanBytes).sum.toDouble,
    "exec.shuffle_read_bytes" -> jobs.map(_.shuffleReadBytes).sum.toDouble,
    "exec.shuffle_write_bytes" -> jobs.map(_.shuffleWriteBytes).sum.toDouble,
    "exec.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
    "exec.listing_jobs" -> jobs.count(_.listing).toDouble)

  /** Wall time of the job intervals under the given spans (overlaps counted once). */
  def jobWallMs(ss: Seq[Span]): Double =
    ss.map(s => Intervals.union(jobsUnder(s).map(j => Intervals.clip((j.startMs.toDouble, j.endMs.toDouble), s)))).sum

  /** Writes every span, job and phase of the window as one JSON document. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":${Json.str(s.layer)},"name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs}}""")
      .mkString(","))
    sb.append("],\"jobs\":[")
    sb.append(jobs.map(j =>
      s"""{"job":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},"listing":${j.listing},"tasks":${j.tasks},"span":${jobsBySpan.find(_._2.contains(j)).fold(-1)(_._1)}}""")
      .mkString(","))
    sb.append("],\"phases\":[")
    sb.append(phases.map(p => s"""{"phase":${Json.str(p.name)},"start_ms":${p.startMs},"end_ms":${p.endMs}}""").mkString(","))
    sb.append("]}\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
