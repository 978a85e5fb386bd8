package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced window (a pass, or the stream's open-loop
  * phase), filled from listener events. */
final class Window {
  var jobs, stages, tasks = 0L
  var taskMs = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var inputBytes, inputRows, scanTasks = 0L
  var shuffleWriteBytes, shuffleWriteNs, shuffleReadBytes, fetchWaitMs = 0L
  var spillBytes = 0L
  var outputBytes, outputFiles = 0L
  var planMs = 0L
  var blocksStored, recomputed = 0L
  var cachedPeakBytes = 0L
  var skew = 0.0
  val readByStage = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** Milliseconds of [t0, t1] during which no task ran. */
  def idleMs(t0: Long, t1: Long): Long = {
    var busy = 0L
    var end = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { busy += b - math.max(a, end); end = b }
      }
    (t1 - t0) - busy
  }
}

/** The benchmark's listener: a `SparkListener` for jobs, stages, tasks,
  * shuffle and cache blocks, and a `QueryExecutionListener` for the
  * planning phases of the timed noop writes and the files the library's
  * own writers produce. Registered only in traced runs. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private var w = new Window
  private val blockState = mutable.HashMap.empty[String, Boolean]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L

  /** Hand over the current window and start a new one (call after the
    * listener bus is drained). */
  def take(): Window = synchronized { val r = w; w = new Window; r.cachedPeakBytes = math.max(r.cachedPeakBytes, cachedBytes); r }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { w.jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    w.stages += 1
    w.readByStage.remove(e.stageInfo.stageId).foreach { reads =>
      val sorted = reads.sorted
      val med = sorted(sorted.length / 2)
      if (sorted.length > 1 && med > 0) w.skew = math.max(w.skew, sorted.last.toDouble / med)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    w.tasks += 1
    val i = e.taskInfo
    w.intervals += ((i.launchTime, i.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.inputRows += m.inputMetrics.recordsRead
      if (m.inputMetrics.bytesRead > 0) w.scanTasks += 1
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      w.spillBytes += m.diskBytesSpilled
      w.readByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.shuffleReadMetrics.totalBytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val id = i.blockId.name
      cachedBytes -= blockBytes.remove(id).getOrElse(0L)
      if (i.storageLevel.isValid) {
        // stored -> removed -> stored again is one recompute; a first
        // store or a memory-to-disk demotion is not
        blockState.put(id, true) match {
          case None => w.blocksStored += 1
          case Some(false) => w.blocksStored += 1; w.recomputed += 1
          case Some(true) => ()
        }
        blockBytes(id) = i.memSize + i.diskSize
        cachedBytes += i.memSize + i.diskSize
        w.cachedPeakBytes = math.max(w.cachedPeakBytes, cachedBytes)
      } else blockState.put(id, false)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.executedPlan match {
        case d: DataWritingCommandExec =>
          w.outputFiles += d.metrics.get("numFiles").map(_.value).getOrElse(0L)
          w.outputBytes += d.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        case p if p.nodeName.contains("OverwriteByExpression") || p.nodeName.contains("AppendData") =>
          w.planMs += qe.tracker.phases.values.map(_.durationMs).sum
        case _ => ()
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
