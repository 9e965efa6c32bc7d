package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark counters, measured from outside the program.
  *
  * Spans are kept in memory and written out when the run ends. Spark
  * events arrive on the listener bus after the fact, so every count is
  * attributed by wall-clock window: ops run one at a time on one client
  * thread, and a job belongs to the op (or span) whose window holds its
  * submission time; stages and tasks follow their job.
  */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  import Probe._

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  @volatile private var on = false
  var op: Int = -1

  /** Time `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      val parent = open.headOption.getOrElse(-1)
      spans += Span(name, op, parent, System.currentTimeMillis, 0L,
        System.nanoTime, 0L)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endMs = System.currentTimeMillis,
          endNs = System.nanoTime)
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  // ---- listener state ----
  private val jobs = new ConcurrentLinkedQueue[(Int, Long, Seq[Int])]
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val phases = new ConcurrentLinkedQueue[PhaseRec]
  @volatile private var events = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.add((e.jobId, e.time, e.stageIds)); events += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmit.put(e.stageInfo.stageId, t))
      events += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(TaskRec(e.stageId, i.launchTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize,
        m.inputMetrics.recordsRead, i.failed))
      else tasks.add(TaskRec(e.stageId, i.launchTime, 0, 0, 0, 0, 0, 0, 0,
        0, i.failed))
      events += 1
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs)
        .getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis)
      phases.add(PhaseRec(start, ms("analysis"), ms("optimization"),
        ms("planning")))
      events += 1
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      rec(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit = rec(qe)
  }

  /** Start tracing: register the listeners, open spans from here on. */
  def attach(): Unit = if (tracing && !on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    on = true
  }

  /** Close the traced window: stop spans, take the codegen counters. */
  def freeze(): Unit = if (on) {
    on = false
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    codegenCount = h.getCount - cg0
    // the histogram keeps a decaying sample, not a sum: time is the
    // window's compile count × the sample's mean (ms)
    codegenSeconds = codegenCount * h.getSnapshot.getMean / 1e3
  }

  private var cg0 = 0L
  var codegenCount = 0L
  var codegenSeconds = 0.0

  /** Wait, outside any timed window, until the listener buses have
    * delivered everything: three equal event counts 200 ms apart.
    */
  def drain(): Unit = if (tracing) {
    var last = -1L; var stable = 0
    while (stable < 3) {
      Thread.sleep(200)
      val c = events
      if (c == last) stable += 1 else { stable = 0; last = c }
    }
  }

  def detach(): Unit = if (tracing) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Spark counters summed over the windows in `ws` (start, end ms). */
  def sparkIn(ws: Seq[(Long, Long)]): SparkCounts = {
    def inW(t: Long) = ws.exists { case (a, b) => t >= a && t <= b }
    val js = jobs.asScala.filter(j => inW(j._2)).toSeq
    val stageIds = js.flatMap(_._3).toSet
    val ts = tasks.asScala.filter(t => stageIds(t.stage)).toSeq
    val ps = phases.asScala.filter(p => inW(p.startMs)).toSeq
    val wait = ts.map { t =>
      val sub = stageSubmit.getOrDefault(t.stage, t.launchMs)
      math.max(0L, t.launchMs - sub)
    }.sum
    SparkCounts(js.size, stageIds.size, ts.size,
      ps.map(_.analysisMs).sum / 1e3, ps.map(_.optimizationMs).sum / 1e3,
      ps.map(_.planningMs).sum / 1e3, wait / 1e3,
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.shuffleWrite).sum,
      ts.map(_.shuffleRead).sum, ts.map(_.spill).sum,
      ts.map(_.resultBytes).sum, ts.map(_.recordsRead).sum,
      ts.count(_.failed))
  }

  /** Jobs submitted inside the windows of spans named `name`. */
  def jobsInSpans(name: String): Int = {
    val ws = spans.filter(_.name == name).map(s => (s.startMs, s.endMs))
    jobs.asScala.count(j => ws.exists { case (a, b) =>
      j._2 >= a && j._2 <= b })
  }

  /** Total duration (s) of spans named `name`. */
  def spanSeconds(name: String): Double =
    spans.filter(_.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Self time per span name: duration minus the time its children cover
    * (children of one span never overlap: one client thread).
    */
  def selfSeconds(): Map[String, Double] = {
    val child = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val s = spans(i)
      val kids = child.getOrElse(i, Nil).map(k =>
        spans(k).endNs - spans(k).startNs).sum
      s.name -> (s.endNs - s.startNs - kids) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Probe {
  final case class Span(name: String, op: Int, parent: Int, startMs: Long,
      endMs: Long, startNs: Long, endNs: Long)
  final case class TaskRec(stage: Int, launchMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, resultBytes: Long, recordsRead: Long, failed: Boolean)
  final case class PhaseRec(startMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long)
  final case class SparkCounts(jobs: Int, stages: Int, tasks: Int,
      analysisS: Double, optimizationS: Double, planningS: Double,
      schedWaitS: Double, taskRunS: Double, taskCpuS: Double, gcS: Double,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, resultBytes: Long,
      recordsRead: Long, tasksFailed: Int)
}
