package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: an op, a layer call inside it, a Spark job or a
  * stage. Times are epoch milliseconds, the clock Spark's listener
  * events carry, so benchmark spans and Spark spans compare directly.
  */
final class Span(val id: Long, val parent: Long, val op: Long, val kind: String,
                 val name: String, val start: Long, var end: Long) {
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def dur: Double = (end - start) / 1000.0
}

final class StageRec(val id: Int, val job: Int) {
  var submitted = 0L
  var completed = 0L
  var numTasks = 0
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  var gcMs = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  def dur: Double = (completed - submitted) / 1000.0
}

final class JobRec(val id: Int, val op: Long, val span: Long, val desc: String,
                   val start: Long) {
  var end = -1L
  var ok = true
  def dur: Double = (end - start) / 1000.0
}

/** In-memory trace of one run: op and layer spans recorded by the
  * benchmark around its calls into the library, and Spark jobs and
  * stages recorded by a listener. Every job the library runs carries
  * the local properties [[Trace.OpProp]] and [[Trace.SpanProp]] that
  * the benchmark sets before the call, which is how a job is placed
  * in its op and its layer call.
  *
  * Jobs of ops that run untraced (the runner alternates, to measure
  * the tracing overhead) and of the benchmark's own output checks are
  * counted but not recorded. A job with no op property at all is
  * "unattributed": it ran outside every op span.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private var nextId = 1L
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap.empty
  val stages: mutable.LinkedHashMap[Int, StageRec] = mutable.LinkedHashMap.empty
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile var unattributedJobMs = 0L
  private val unattributedStart = mutable.HashMap.empty[Int, Long]

  private def newId(): Long = { val i = nextId; nextId += 1; i }

  /** Open an op span and point the thread's jobs at it. */
  def openOp(name: String, traced: Boolean): Span = {
    val id = newId()
    val op = new Span(id, 0L, id, "op", name, System.currentTimeMillis(), -1L)
    sc.setLocalProperty(OpProp, op.id.toString)
    sc.setLocalProperty(TracedProp, if (traced) "1" else "0")
    sc.setLocalProperty(SpanProp, op.id.toString)
    if (traced) synchronized(spans += op)
    op
  }

  def closeOp(op: Span): Unit = {
    op.end = System.currentTimeMillis()
    sc.setLocalProperty(OpProp, null)
    sc.setLocalProperty(TracedProp, null)
    sc.setLocalProperty(SpanProp, null)
  }

  /** Mark the thread's following jobs as the benchmark's own (output
    * checks, set-up): they belong to no op and are not traced.
    */
  def ownJobs[A](what: String)(body: => A): A = {
    sc.setLocalProperty(OpProp, what)
    sc.setLocalProperty(TracedProp, "0")
    try body finally { sc.setLocalProperty(OpProp, null); sc.setLocalProperty(TracedProp, null) }
  }

  /** A layer call inside `op`: the span the call's jobs are placed in. */
  def layer[A](op: Span, name: String)(body: => A): A = {
    val traced = sc.getLocalProperty(TracedProp) == "1"
    val s = new Span(newId(), op.id, op.id, "layer", name, System.currentTimeMillis(), -1L)
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      s.end = System.currentTimeMillis()
      s.attrs("dur_s") = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(SpanProp, prev)
      if (traced) synchronized(spans += s)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(OpProp)))
    if (op.isEmpty) synchronized(unattributedStart(e.jobId) = e.time) else if (p.exists(_.getProperty(TracedProp) == "1")) synchronized {
      val span = Option(p.get.getProperty(SpanProp)).map(_.toLong).getOrElse(op.get.toLong)
      val desc = Option(p.get.getProperty("spark.job.description")).getOrElse("")
      jobs(e.jobId) = new JobRec(e.jobId, op.get.toLong, span, desc, e.time)
      e.stageInfos.foreach(si => stageJob.getOrElseUpdate(si.stageId, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    unattributedStart.remove(e.jobId).foreach(s => unattributedJobMs += e.time - s)
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskInfo != null)
      stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId, stageJob(e.stageId)))
        .taskMs += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { job =>
      val s = stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId, job))
      s.submitted = si.submissionTime.getOrElse(0L)
      s.completed = si.completionTime.getOrElse(s.submitted)
      s.numTasks = si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        s.inputBytes = m.inputMetrics.bytesRead
        s.outputBytes = m.outputMetrics.bytesWritten
        s.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten
        s.shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead
        s.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
        s.cpuNs = m.executorCpuTime
        s.gcMs = m.jvmGCTime
      }
    }
  }

  // ---- queries over the recorded trace ----

  def opSpans: Seq[Span] = spans.filter(_.kind == "op").toSeq
  def children(op: Span): Seq[Span] = spans.filter(s => s.kind == "layer" && s.op == op.id).toSeq
  def jobsOf(op: Span): Seq[JobRec] = jobs.values.filter(_.op == op.id).toSeq
  def jobsIn(span: Span): Seq[JobRec] = jobs.values.filter(_.span == span.id).toSeq
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => ids(s.job)).toSeq
  }

  /** Traced jobs that do not lie inside exactly one op span. */
  def jobsOutsideOps: Int = {
    val ops = opSpans
    jobs.values.count { j =>
      ops.count(o => o.id == j.op && j.start >= o.start && j.end <= o.end && j.end >= 0) != 1
    }
  }

  /** Write every span, one JSON object a line: ops and layer calls,
    * then Spark jobs (parent = the layer call) and stages (parent =
    * the job).
    */
  def write(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    def line(id: String, parent: String, op: Long, kind: String, name: String,
             start: Long, end: Long, attrs: Iterable[(String, Double)]): Unit =
      w.println((Seq(s""""id":"$id"""", s""""parent":"$parent"""", s""""op":$op""",
        s""""kind":"$kind"""", s""""name":${Json.str(name)}""", s""""start":$start""",
        s""""end":$end""") ++ attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" })
        .mkString("{", ",", "}"))
    try {
      spans.foreach(s => line(s"s${s.id}", if (s.parent == 0) "" else s"s${s.parent}",
        s.op, s.kind, s.name, s.start, s.end, s.attrs))
      jobs.values.foreach(j => line(s"j${j.id}", s"s${j.span}", j.op, "job", j.desc,
        j.start, j.end, Seq("ok" -> (if (j.ok) 1.0 else 0.0))))
      stages.values.foreach(s => line(s"st${s.id}", s"j${s.job}", jobs.get(s.job).fold(0L)(_.op),
        "stage", s"stage ${s.id}", s.submitted, s.completed, Seq(
          "tasks" -> s.numTasks.toDouble, "input_bytes" -> s.inputBytes.toDouble,
          "output_bytes" -> s.outputBytes.toDouble,
          "shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
          "shuffle_read_bytes" -> s.shuffleReadBytes.toDouble,
          "spill_bytes" -> s.spillBytes.toDouble, "cpu_s" -> s.cpuNs / 1e9,
          "gc_s" -> s.gcMs / 1e3)))
    } finally w.close()
  }
}

object Trace {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"
  val TracedProp = "perfbench.traced"

  /** Length in seconds of the union of `[start, end]` intervals (ms),
    * clipped to `[lo, hi]`.
    */
  def unionSeconds(iv: Seq[(Long, Long)], lo: Long = Long.MinValue,
                   hi: Long = Long.MaxValue): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1000.0
  }

  def jobIntervals(js: Seq[JobRec]): Seq[(Long, Long)] =
    js.filter(_.end >= 0).map(j => (j.start, j.end))
}
