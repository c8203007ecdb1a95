package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task-metrics envelope for one query execution: how many jobs, stages
  * and tasks it ran, executor CPU, run and GC time summed over its
  * tasks, peak per-task execution memory (the number that decides
  * executor sizing — Spark's unified memory manager grants execution
  * memory per task slot), total shuffle bytes written/read (the exchange
  * payload), input bytes scanned, and spill. Collected from listener
  * events, drained through the listener bus before reading
  * (CoreBridge.drainListeners) so the numbers cover every task of the
  * measured body. Stages count the attempts that completed; a stage
  * skipped because its shuffle output already exists does not count. */
final class TaskEnvelope extends SparkListener {
  val jobs = new AtomicLong(0L)
  val stages = new AtomicLong(0L)
  val tasks = new AtomicLong(0L)
  val cpuNs = new AtomicLong(0L) // sums over tasks
  val runMs = new AtomicLong(0L)
  val gcMs = new AtomicLong(0L)
  val peakTaskMem = new AtomicLong(0L) // MAX over tasks
  val shuffleWrite = new AtomicLong(0L)
  val shuffleRead = new AtomicLong(0L)
  val input = new AtomicLong(0L)
  val memSpill = new AtomicLong(0L)
  val diskSpill = new AtomicLong(0L)
  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = t.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      peakTaskMem.accumulateAndGet(m.peakExecutionMemory, math.max _)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      input.addAndGet(m.inputMetrics.bytesRead)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
    }
  }
}

object TaskEnvelope {
  /** `sec` is the wall time of `body` plus the listener drain; the
    * others are in Spark's own units (CPU in ns, run and GC time in ms,
    * memory and spill in bytes). */
  final case class Env(
      sec: Double, peakTaskMem: Long, shuffleWrite: Long, shuffleRead: Long,
      input: Long, memSpill: Long, diskSpill: Long,
      jobs: Long, stages: Long, tasks: Long,
      cpuNs: Long, runMs: Long, gcMs: Long)

  /** Run `body` with a fresh envelope listener attached; returns the
    * drained measurements. Not reentrant across concurrent queries on
    * the same session (tasks of anything else running land in the same
    * envelope — run measured queries one at a time). The bus is also
    * drained before the listener is attached: a listener added to the
    * bus receives events already queued, so an earlier job's late
    * task-end events would otherwise land in this envelope. */
  def measure(spark: SparkSession)(body: => Unit): Env = {
    val sc = spark.sparkContext
    val l = new TaskEnvelope
    CoreBridge.drainListeners(sc)
    sc.addSparkListener(l)
    val t0 = System.nanoTime()
    try body
    finally {
      CoreBridge.drainListeners(sc)
      sc.removeSparkListener(l)
    }
    Env((System.nanoTime() - t0) / 1e9, l.peakTaskMem.get(),
      l.shuffleWrite.get(), l.shuffleRead.get(), l.input.get(),
      l.memSpill.get(), l.diskSpill.get(), l.jobs.get(), l.stages.get(),
      l.tasks.get(), l.cpuNs.get(), l.runMs.get(), l.gcMs.get())
  }
}
