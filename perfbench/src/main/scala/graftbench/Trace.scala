package graftbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into each layer, plus a
  * listener that attributes every Spark job to the span that was open
  * when it was submitted.
  *
  * Spans are taken only on the benchmark's driver thread, one after the
  * other, and nest by a stack, so the innermost span open when a job
  * starts is the driver-thread span that caused it, also for jobs the
  * engine submits from threads of its own (its `Future`-run phases, the
  * Checkpointer day pool). Each span also sets the `graftbench.span`
  * local property; jobs submitted from the driver thread carry it, and
  * the artifact records it beside the attribution as a cross-check.
  */
final case class Span(id: Int, name: String, parent: Int, traceId: String,
                      startNs: Long, var endNs: Long = -1L) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Span sink the workloads call around each layer call; a no-op when the
  * run is untraced, so traced and untraced iterations run the same code.
  */
trait Spans { def apply[T](name: String)(f: => T): T }
object NoSpans extends Spans { def apply[T](name: String)(f: => T): T = f }

final class Tracer(sc: SparkContext, val traceId: String) extends Spans {
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  // epoch millis ↔ nanoTime bridge: listener events carry epoch millis
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nsOfEpochMs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  def apply[T](name: String)(f: => T): T = {
    val parent = if (stack.isEmpty) -1 else stack.top.id
    val s = Span(spans.size, name, parent, traceId, System.nanoTime())
    spans += s
    stack.push(s)
    val prev = sc.getLocalProperty(Tracer.Prop)
    sc.setLocalProperty(Tracer.Prop, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Tracer.Prop, prev)
    }
  }

  /** Innermost span open at `ns` (latest start among those containing it). */
  def openAt(ns: Long): Option[Span] =
    spans.filter(s => s.startNs <= ns && (s.endNs < 0 || s.endNs >= ns))
      .sortBy(_.startNs).lastOption

  def descendantsOrSelf(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root.id).toSet
  }
}

object Tracer { val Prop = "graftbench.span" }

final case class StageRow(stageId: Int, attempt: Int, name: String,
                          numTasks: Int, submitMs: Long, completeMs: Long,
                          runMs: Long, cpuMs: Double, gcMs: Long,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long,
                          spillBytes: Long, failed: Boolean)

final case class JobRow(jobId: Int, spanProp: Option[Int], startMs: Long,
                        stageIds: Seq[Int], var endMs: Long = -1L,
                        var succeeded: Boolean = false)

/** Collects job, stage and task rows. Listener callbacks arrive on the
  * listener-bus thread; readers call [[drain]] first.
  */
final class BenchListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRow]()
  val stages = mutable.ArrayBuffer[StageRow]()
  // (launch epoch ms, finish epoch ms)
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  @volatile var taskFailures = 0L
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Prop))).flatMap(_.toIntOption)
    jobs += JobRow(e.jobId, prop, e.time, e.stageIds)
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach { j =>
      j.endMs = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    if (ti != null) taskIntervals += ((ti.launchTime, ti.finishTime))
    if (e.reason != Success) taskFailures += 1
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    stages += StageRow(si.stageId, si.attemptNumber(), si.name, si.numTasks,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0.0 else m.executorCpuTime / 1e6,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      si.failureReason.isDefined)
    touch()
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for a moment (events are delivered asynchronously).
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = synchronized(jobs.forall(_.endMs >= 0)) &&
      System.nanoTime() - lastEventNs > 300L * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }
}

/** Per-span resource profile from the listener rows. */
final case class SpanProfile(wallMs: Double, cpuMs: Double, idleMs: Double,
                             shuffleBytes: Long, gcMs: Long, jobs: Int)

object Profiles {

  /** Span id each job is attributed to: the innermost span open when it
    * started, else (a job that started between spans) its property.
    */
  def jobSpans(t: Tracer, l: BenchListener): Map[Int, Int] = l.synchronized {
    l.jobs.flatMap { j =>
      t.openAt(t.nsOfEpochMs(j.startMs)).map(_.id).orElse(j.spanProp)
        .map(j.jobId -> _)
    }.toMap
  }

  /** Stage id → owning job id (first job that lists it). */
  def stageJobs(l: BenchListener): Map[Int, Int] = l.synchronized {
    val m = mutable.LinkedHashMap[Int, Int]()
    l.jobs.sortBy(_.jobId).foreach(j => j.stageIds.foreach(s => m.getOrElseUpdate(s, j.jobId)))
    m.toMap
  }

  /** Resource profile of `s` and everything nested in it. */
  def of(t: Tracer, l: BenchListener, s: Span): SpanProfile = {
    val inSpan = t.descendantsOrSelf(s)
    val js = jobSpans(t, l)
    val jobIds = js.collect { case (j, sp) if inSpan(sp) => j }.toSet
    val sj = stageJobs(l)
    val st = l.synchronized(l.stages.filter(r => sj.get(r.stageId).exists(jobIds)).toList)
    val busy = l.synchronized(l.taskIntervals.toList).flatMap { case (a, b) =>
      val lo = math.max(t.nsOfEpochMs(a), s.startNs)
      val hi = math.min(t.nsOfEpochMs(b), s.endNs)
      if (hi > lo) Some((lo, hi)) else None
    }
    SpanProfile(s.wallMs, st.map(_.cpuMs).sum,
      math.max(0.0, (s.endNs - s.startNs - unionLength(busy)) / 1e6),
      st.map(r => r.shuffleReadBytes + r.shuffleWriteBytes).sum,
      st.map(_.gcMs).sum, jobIds.size)
  }

  private def unionLength(iv: List[(Long, Long)]): Long = {
    var total = 0L; var curLo = Long.MinValue; var curHi = Long.MinValue
    iv.sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > curHi) {
        if (curHi > curLo) total += curHi - curLo
        curLo = lo; curHi = hi
      } else if (hi > curHi) curHi = hi
    }
    if (curHi > curLo) total += curHi - curLo
    total
  }

  /** Spans + stage rows as one JSON document. */
  def artifact(t: Tracer, l: BenchListener, header: Seq[(String, String)]): String = {
    val js = jobSpans(t, l)
    val sj = stageJobs(l)
    val spans = t.spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""trace_id":${Json.str(s.traceId)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    val stages = l.synchronized(l.stages.toList).map { r =>
      val job = sj.get(r.stageId)
      val span = job.flatMap(js.get).map(id => Json.str(t.spans(id).name)).getOrElse("null")
      s"""{"stage":${r.stageId},"attempt":${r.attempt},"name":${Json.str(r.name)},""" +
        s""""job":${job.getOrElse(-1)},"span":$span,"tasks":${r.numTasks},""" +
        s""""submit_ms":${r.submitMs},"complete_ms":${r.completeMs},""" +
        s""""run_ms":${r.runMs},"cpu_ms":${Json.num(r.cpuMs)},"gc_ms":${r.gcMs},""" +
        s""""shuffle_read_bytes":${r.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${r.shuffleWriteBytes},""" +
        s""""spill_bytes":${r.spillBytes},"failed":${r.failed}}"""
    }
    val jobs = l.synchronized(l.jobs.toList).map { j =>
      s"""{"job":${j.jobId},"span":${js.get(j.jobId).getOrElse(-1)},""" +
        s""""span_property":${j.spanProp.getOrElse(-1)},"start_ms":${j.startMs},""" +
        s""""end_ms":${j.endMs},"succeeded":${j.succeeded}}"""
    }
    val head = header.map { case (k, v) => s"${Json.str(k)}:$v" }
    (head :+ s""""spans":${spans.mkString("[", ",", "]")}""" :+
      s""""jobs":${jobs.mkString("[", ",", "]")}""" :+
      s""""stages":${stages.mkString("[", ",", "]")}""").mkString("{", ",\n", "}\n")
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  /** `{"name": {"value": v, "unit": u}, ...}` */
  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
