package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What a measured block actually did, from Spark task metrics: the
  * evidence side of scale claims ("shuffle ∝ batch", "no single-task
  * blowup") that `.explain` plan shape alone cannot prove.
  */
final case class Measured[A](
    result: A,
    wallMs: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    peakTaskInputBytes: Long,
    peakTaskShuffleReadBytes: Long)

/** Task-level metrics listener for specs. Accumulates across EVERY job the
  * measured block triggers (eager localCheckpoints, edge-count gates, the
  * final action) — exactly the multi-job composites whose cost model needs
  * measuring, and what per-DataFrame `queryExecution.metrics` would miss.
  */
final class MetricsProbe private () extends SparkListener {
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val peakTaskInput = new AtomicLong
  private val peakTaskShuffleRead = new AtomicLong

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics.totalBytesRead
      shuffleRead.addAndGet(sr)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      val taskIn = m.inputMetrics.bytesRead + sr
      peakTaskInput.getAndUpdate(cur => math.max(cur, taskIn))
      peakTaskShuffleRead.getAndUpdate(cur => math.max(cur, sr))
    }
  }
}

object MetricsProbe {

  /** Run `body` with a fresh listener attached; drain the async bus before
    * snapshotting so late task-end events can't race the assertions.
    */
  def measure[A](spark: SparkSession)(body: => A): Measured[A] = {
    val probe = new MetricsProbe
    val sc = spark.sparkContext
    sc.addSparkListener(probe)
    try {
      val t0 = System.nanoTime()
      val r = body
      val wallMs = (System.nanoTime() - t0) / 1000000L
      org.apache.spark.sql.GraftPlanBridge.awaitListeners(spark)
      Measured(r, wallMs,
        probe.shuffleRead.get, probe.shuffleWrite.get,
        probe.peakTaskInput.get, probe.peakTaskShuffleRead.get)
    } finally sc.removeSparkListener(probe)
  }
}
