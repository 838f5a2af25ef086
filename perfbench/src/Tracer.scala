package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval of the benchmark: pass, op, build or action (and the
 * render / sql / workflow parts of a dialect build). Times are nanoTime. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    val pass: Int, val start: Long) {
  var end: Long = start
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (end - start) / 1e9
}

final case class JobRec(id: Int, group: Int, pass: Int, startMs: Long, var endMs: Long,
    stages: Seq[Int])
final case class TaskRec(stage: Int, pass: Int, durS: Double, busyS: Double, gcS: Double,
    waitS: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long,
    output: Long)
final case class StageRec(id: Int, name: String, submitMs: Long, var endMs: Long)
final case class PhaseRec(pass: Int, name: String, startMs: Long, durMs: Long)
final case class BlockRec(pass: Int, bytes: Long)

/**
 * Spans around every call into the program, plus a SparkListener and a
 * QueryExecutionListener that attach jobs, stages, tasks and Catalyst phases
 * to those spans. Jobs find their span through the job group, which is set
 * to the span id around each build and action; Catalyst phases through the
 * wall-clock interval they started in.
 *
 * Spans are always recorded (they time the ops). Listener records are kept
 * only while `enabled`, so untraced passes pay for nothing but the span.
 */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  @volatile var pass = -1

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def epochMs(ns: Long): Long = (ns + epochOffsetNs) / 1000000L

  /** Time `body` as a child span of the current one. Build and action spans
   * become the job group of the jobs they launch. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), kind, name, pass,
      System.nanoTime())
    spans += s
    stack = s :: stack
    val grouped = enabled && (kind == "build" || kind == "action")
    if (grouped) sc.setJobGroup(s"span-${s.id}", s"$name/$kind", interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      if (grouped) sc.clearJobGroup()
    }
  }

  def current: Span = stack.head

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  val blocks = mutable.ArrayBuffer.empty[BlockRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).getOrElse(-1)
    jobs(e.jobId) = JobRec(e.jobId, group, pass, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) synchronized {
    val i = e.stageInfo
    stages(i.stageId) = StageRec(i.stageId, i.name,
      i.submissionTime.getOrElse(System.currentTimeMillis()), 0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    val submit = stages.get(e.stageId).map(_.submitMs).getOrElse(info.launchTime)
    tasks += (if (m == null) TaskRec(e.stageId, pass, info.duration / 1e3, 0, 0,
      (info.launchTime - submit) / 1e3, 0, 0, 0, 0, 0)
    else TaskRec(e.stageId, pass, info.duration / 1e3, m.executorRunTime / 1e3,
      m.jvmGCTime / 1e3, math.max(0L, info.launchTime - submit) / 1e3,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled) synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid && b.memSize + b.diskSize > 0)
      blocks += BlockRec(pass, b.memSize + b.diskSize)
  }

  private def recordPhases(qe: QueryExecution): Unit = if (enabled) synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += PhaseRec(pass, name, p.startTimeMs, p.durationMs)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)
}
