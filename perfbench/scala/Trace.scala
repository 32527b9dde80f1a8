package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLAdaptiveSQLMetricUpdates,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlanInfo

/** One timed call into a layer. `op` is shared by every span of one
  * operation; `parent` is the enclosing span (-1 at the root).
  */
final case class Span(id: Long, name: String, layer: String, op: Long,
    parent: Long, startNs: Long, var endNs: Long = -1L)

/** In-memory span recorder. Each span also becomes the Spark job group of the
  * calling thread, so the listener can attribute jobs to it; jobs submitted
  * from engine-owned threads (which do not inherit the group) fall back to
  * the innermost span open when the job started.
  */
final class Spans(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Span]()
  val all = mutable.ArrayBuffer[Span]()
  @volatile var enabled = false
  @volatile private var current: Long = -1L
  private var opId = -1L

  def innermost: Long = current
  def currentOp: Long = opId

  /** Runs `body` as the root span of a new operation. */
  def op[T](name: String)(body: => T): T = {
    opId += 1
    span(name, "op")(body)
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption.map(_.id).getOrElse(-1L)
    val s = Span(ids.getAndIncrement(), name, layer, opId, parent, System.nanoTime())
    stack.push(s); all += s; current = s.id
    sc.setJobGroup(s.id.toString, s"$layer:$name", interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      // deliver this span's events while it is still the innermost one
      org.apache.spark.sql.graftbridge.ColumnBridge.waitListenerBusEmpty(sc, 10000)
      stack.pop()
      current = stack.headOption.map(_.id).getOrElse(-1L)
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, s"${p.layer}:${p.name}",
          interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }
}

/** Aggregates task, stage and job metrics per span while `on` is set (by
  * job group, else by the innermost open span).
  */
final class LayerListener(spans: Spans) extends SparkListener {
  @volatile var on = false
  val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), Long]()
  private val filesReadAccums = ConcurrentHashMap.newKeySet[Long]()

  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, schedWaitMs = 0L
    var inputBytes, inputRows, filesRead, scanMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    def toMap: Map[String, Double] = Map[String, Double](
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "failed_tasks" -> failedTasks.toDouble, "task_run_s" -> runMs / 1e3,
      "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "sched_wait_s" -> schedWaitMs / 1e3, "input_bytes" -> inputBytes.toDouble,
      "input_rows" -> inputRows.toDouble, "files_read" -> filesRead.toDouble,
      "scan_s" -> scanMs / 1e3, "shuffle_write_bytes" -> shuffleWrite.toDouble,
      "shuffle_read_bytes" -> shuffleRead.toDouble, "spill_bytes" -> spill.toDouble)
  }

  private def add(span: Long)(f: Counters => Unit): Unit = synchronized {
    f(bySpan.computeIfAbsent(span, _ => new Counters))
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(spans.innermost)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val s = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, s))
    add(s)(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    add(stageSpan.getOrDefault(e.stageInfo.stageId, spans.innermost))(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    val s = stageSpan.getOrDefault(e.stageId, spans.innermost)
    val m = e.taskMetrics
    val info = e.taskInfo
    val submit = stageSubmit.getOrDefault((e.stageId, e.stageAttemptId), info.launchTime)
    val scan = info.accumulables.filter(_.name.contains("scan time"))
      .flatMap(_.update).collect { case n: java.lang.Number => n.longValue }.sum
    add(s) { c =>
      c.tasks += 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) c.failedTasks += 1
      c.schedWaitMs += math.max(0L, info.launchTime - submit)
      c.scanMs += scan
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  // "number of files read" is not a task metric: learn its accumulator ids
  // from the plan, then sum the updates posted for them.
  private def learn(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of files read")
      .foreach(m => filesReadAccums.add(m.accumulatorId))
    p.children.foreach(learn)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => learn(x.sparkPlanInfo)
    case x: SparkListenerSQLAdaptiveExecutionUpdate => learn(x.sparkPlanInfo)
    case x: SparkListenerSQLAdaptiveSQLMetricUpdates =>
      x.sqlPlanMetrics.filter(_.name == "number of files read")
        .foreach(m => filesReadAccums.add(m.accumulatorId))
    case x: SparkListenerDriverAccumUpdates if on =>
      val n = x.accumUpdates.collect {
        case (id, v) if filesReadAccums.contains(id) => v
      }.sum
      if (n > 0) add(spans.innermost)(_.filesRead += n)
    case _ =>
  }

  def spanCounters(id: Long): Map[String, Double] =
    Option(bySpan.get(id)).map(_.toMap).getOrElse(new Counters().toMap)

  def spanIds: Seq[Long] = bySpan.keySet().asScala.toSeq
}
