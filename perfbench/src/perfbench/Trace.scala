package perfbench

import java.util.IdentityHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** One traced interval. Times are epoch milliseconds; `parent` is 0 for a
  * root span. The run id is added when the spans are written out. */
final case class Span(id: Long, name: String, parent: Long, startMs: Long, endMs: Long)

/** Catalyst hook for traced runs: an analyzer rule that changes nothing but
  * remembers the [[QueryPlanningTracker]] of every query analysed, with the
  * benchmark span that was open at the time, so the analysis, optimization
  * and planning phases can be read once the span ends. Installed through
  * `spark.sql.extensions` only when tracing is on. */
class TrackerCapture extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = e.injectResolutionRule(_ => CaptureRule)
}

object CaptureRule extends Rule[LogicalPlan] {
  private val seen = new IdentityHashMap[QueryPlanningTracker, java.lang.Long]()
  @volatile var span: Long = 0L

  override def apply(plan: LogicalPlan): LogicalPlan = {
    QueryPlanningTracker.get.foreach { t =>
      seen.synchronized { if (!seen.containsKey(t)) seen.put(t, span) }
    }
    plan
  }

  /** The trackers captured so far, with their span; forgets them. */
  def drain(): Seq[(QueryPlanningTracker, Long)] = seen.synchronized {
    val out = seen.asScala.toSeq.map { case (t, s) => (t, s.longValue) }
    seen.clear()
    out
  }
}

final class StageAgg(val id: Int, val name: String, val job: Int, val submitMs: Long) {
  var doneMs = 0L
  var tasks = 0
  var input, output, shWrite, shWriteRecs, shRead, fetchWaitMs = 0L
  var spillMem, spillDisk, peakMem, cpuNs, busyMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  val taskRead = mutable.ArrayBuffer.empty[Long]

  def isReduce: Boolean = shRead > 0
  def isMap: Boolean = shWrite > 0 && shRead == 0
  /** A range-partitioner sketch: scans the input and returns keys to the
    * driver, with no shuffle and no output. */
  def isSample: Boolean = input > 0 && shWrite == 0 && shRead == 0 && output == 0
}

final class JobRec(val id: Int, val spanId: Long, val parent: Long, val startMs: Long) {
  var endMs = 0L
}

/** Spans around the benchmark's calls into each layer, plus a
  * [[SparkListener]] that turns every job and stage into a child span of
  * the layer call that submitted it and sums task metrics per stage. All
  * of it stays in memory until the run writes it out. */
final class Tracer extends SparkListener {
  val SpanProp = "perfbench.span"
  private var nextId = 0L
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def newId(): Long = synchronized { nextId += 1; nextId }

  def spans: Seq[Span] = synchronized(spanBuf.toList)

  /** Runs `body` as span `name` under `parent`, passing it the span's id;
    * jobs it submits from this thread are attributed to the span. Returns
    * the result and the span. */
  def span[T](sc: SparkContext, name: String, parent: Long)(body: Long => T): (T, Span) = {
    val id = newId()
    val prev = sc.getLocalProperty(SpanProp)
    val prevCapture = CaptureRule.span
    sc.setLocalProperty(SpanProp, id.toString)
    CaptureRule.span = id
    val t0 = System.currentTimeMillis()
    var done: Span = null
    try {
      val out = body(id)
      done = Span(id, name, parent, t0, System.currentTimeMillis())
      (out, done)
    } finally {
      if (done == null) done = Span(id, name, parent, t0, System.currentTimeMillis())
      sc.setLocalProperty(SpanProp, prev)
      CaptureRule.span = prevCapture
      synchronized(spanBuf += done)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).fold(0L)(_.toLong)
    jobs(e.jobId) = new JobRec(e.jobId, newId(), parent, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      spanBuf += Span(j.spanId, s"job ${j.id}", j.parent, j.startMs, j.endMs)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stages(s.stageId) = new StageAgg(s.stageId, s.name, stageJob.getOrElse(s.stageId, -1),
      s.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { st =>
      st.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      val parent = jobs.get(st.job).fold(0L)(_.spanId)
      spanBuf += Span(newId(), s"stage ${st.id}: ${st.name}", parent, st.submitMs, st.doneMs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (st <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      st.tasks += 1
      st.input += m.inputMetrics.bytesRead
      st.output += m.outputMetrics.bytesWritten
      st.shWrite += m.shuffleWriteMetrics.bytesWritten
      st.shWriteRecs += m.shuffleWriteMetrics.recordsWritten
      val read = m.shuffleReadMetrics.totalBytesRead
      st.shRead += read
      st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      st.spillMem += m.memoryBytesSpilled
      st.spillDisk += m.diskBytesSpilled
      st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
      st.cpuNs += m.executorCpuTime
      st.busyMs += e.taskInfo.duration
      st.taskMs += e.taskInfo.duration
      st.taskRead += read
    }
  }

  /** Jobs submitted under span `spanId`, and the stages they ran. */
  def under(spanId: Long): (Seq[JobRec], Seq[StageAgg]) = synchronized {
    val js = jobs.values.filter(_.parent == spanId).toList
    val ids = js.map(_.id).toSet
    (js, stages.values.filter(s => ids.contains(s.job)).toList)
  }

  /** Wall time inside [startMs, endMs] during which none of `js` ran. */
  def idleMs(js: Seq[JobRec], startMs: Long, endMs: Long): Long = {
    val iv = js.map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered, curA, curB = 0L
    var open = false
    iv.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) covered += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) covered += curB - curA
    (endMs - startMs) - covered
  }

  /** Forget jobs and stages already accounted for; spans are kept. */
  def clear(): Unit = synchronized { jobs.clear(); stages.clear(); stageJob.clear() }
}
