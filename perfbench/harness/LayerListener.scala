package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Task-level counters accumulated for one layer. */
final class LayerStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  /** tasks that read input files or tables (the scan stages) */
  var inputTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** largest per-task peak execution memory seen */
  var peakExecMem = 0L

  def copy(): LayerStats = {
    val c = new LayerStats
    c.jobs = jobs; c.stages = stages; c.tasks = tasks; c.inputTasks = inputTasks
    c.cpuNs = cpuNs; c.gcMs = gcMs; c.shuffleReadBytes = shuffleReadBytes
    c.shuffleWriteBytes = shuffleWriteBytes; c.spillBytes = spillBytes
    c.peakExecMem = peakExecMem
    c
  }

  /** Counters accumulated since `before`; the peak is the peak since the
    * last [[LayerListener.resetPeaks]]. */
  def minus(before: LayerStats): LayerStats = {
    val d = copy()
    d.jobs -= before.jobs; d.stages -= before.stages; d.tasks -= before.tasks
    d.inputTasks -= before.inputTasks; d.cpuNs -= before.cpuNs
    d.gcMs -= before.gcMs; d.shuffleReadBytes -= before.shuffleReadBytes
    d.shuffleWriteBytes -= before.shuffleWriteBytes
    d.spillBytes -= before.spillBytes
    d
  }
}

/** Attributes Spark jobs, completed stages and task metrics to the layer
  * whose call started them.
  *
  * A job belongs to the layer named by its [[Tracer.LayerProperty]],
  * which the harness sets around each layer call and which threads
  * started inside the call inherit: a streaming query's batches, which
  * run under the query's own job group, still belong to the call that
  * started the query. Jobs without the property belong to `harness`.
  * Callers read the counters only after `CoreBridge.drainListeners`,
  * because task-end events arrive asynchronously.
  */
final class LayerListener extends SparkListener {
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val stats = mutable.HashMap.empty[String, LayerStats]

  private def statOf(layer: String): LayerStats =
    stats.getOrElseUpdate(layer, new LayerStats)

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.LayerProperty)))
      .getOrElse("harness")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = layerOf(e.properties)
    e.stageIds.foreach(stageLayer(_) = layer)
    statOf(layer).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val layer = stageLayer.getOrElse(e.stageInfo.stageId, "harness")
      statOf(layer).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = statOf(stageLayer.getOrElse(e.stageId, "harness"))
      s.tasks += 1
      if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0)
        s.inputTasks += 1
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** A copy of every layer's counters. */
  def snapshot(): Map[String, LayerStats] = synchronized {
    stats.map { case (k, v) => k -> v.copy() }.toMap
  }

  def resetPeaks(): Unit = synchronized(stats.values.foreach(_.peakExecMem = 0L))
}
