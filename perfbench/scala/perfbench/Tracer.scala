package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Marks the start or end of one span, posted into the listener bus so it
  * is delivered in order with the engine's job, task and block events. */
final case class SpanMark(id: Int, begin: Boolean) extends SparkListenerEvent

/** What the engine did inside one span. Every job, and every task of a
  * job's stages, is counted in the span that was open when the job
  * started; nothing is sampled or timed by fixed sleeps. */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var failedTasks = 0
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var writtenBytes = 0L
  var writtenRecords = 0L
  var spillBytes = 0L
  var rowsRead = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var planMs = 0L
  var pinnedPeak = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [t0, t1] during which none of this span's tasks ran. */
  def idleMs(t0: Long, t1: Long): Long = {
    var covered = 0L
    var end = t0
    for ((a, b) <- taskIntervals.sortBy(_._1)) {
      val s = math.max(a, end)
      val e = math.min(b, t1)
      if (e > s) covered += e - s
      end = math.max(end, math.min(b, t1))
    }
    math.max(0L, (t1 - t0) - covered)
  }
}

/** SparkListener, QueryExecutionListener and block-update accounting in
  * one object. All callbacks run on the shared listener queue's thread,
  * in the order the bus delivers them, so no locking is needed; readers
  * call `drain()` first. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val stats = mutable.Map.empty[Int, SpanStats]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var rddBytes = 0L
  private var open = -1
  private var openBase = 0L
  private val planPhases = Set("analysis", "optimization", "planning")

  /** Register for one traced pass. Passes start with no RDD blocks held
    * (the harness unpersists between passes), so block accounting starts
    * from zero; pinned bytes are measured as growth within a span. */
  def install(): Unit = {
    rddBlocks.clear()
    rddBytes = 0L
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Call after `drain()`, so nothing is being delivered to this listener. */
  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def begin(id: Int): Unit = PerfbenchBus.post(spark.sparkContext, SpanMark(id, begin = true))
  def end(id: Int): Unit = PerfbenchBus.post(spark.sparkContext, SpanMark(id, begin = false))
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)
  def apply(id: Int): SpanStats = stats.getOrElse(id, new SpanStats)

  private def current: Option[SpanStats] =
    if (open < 0) None else Some(stats.getOrElseUpdate(open, new SpanStats))

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case SpanMark(id, true) =>
      open = id
      openBase = rddBytes
      stats.getOrElseUpdate(id, new SpanStats)
    case SpanMark(id, false) if id == open => open = -1
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = current.foreach { s =>
    s.jobs += 1
    e.stageIds.foreach(stageSpan(_) = open)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).flatMap(stats.get).foreach { s =>
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.writtenBytes += m.outputMetrics.bytesWritten
        s.writtenRecords += m.outputMetrics.recordsWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.rowsRead += m.inputMetrics.recordsRead
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val size = info.memSize + info.diskSize
      rddBytes += size - rddBlocks.getOrElse(key, 0L)
      if (size == 0) rddBlocks.remove(key) else rddBlocks(key) = size
      current.foreach(s => s.pinnedPeak = math.max(s.pinnedPeak, rddBytes - openBase))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    current.foreach { s =>
      s.planMs += qe.tracker.phases.collect {
        case (name, p) if planPhases(name) => p.durationMs
      }.sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
