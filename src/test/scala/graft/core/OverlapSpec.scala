package graft.core

import java.util.concurrent.{CompletableFuture, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftPlanBridge, SparkSession}

import graft.SparkSpec

class OverlapSpec extends SparkSpec {

  private val BatchId = "streaming.sql.batchId"

  private def withProps[A](desc: String, batch: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobDescription(desc)
    sc.setLocalProperty(BatchId, batch)
    try body
    finally { sc.setJobDescription(null); sc.setLocalProperty(BatchId, null) }
  }

  test("a job started on a reused pool thread carries the submitter's " +
      "description and batch id, not the ones the thread was born under") {
    val seen = mutable.ArrayBuffer.empty[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += ((e.properties.getProperty("spark.job.description"),
          e.properties.getProperty(BatchId)))
      }
    }
    // threads the pool creates now inherit these properties
    val born = withProps("born-under", "1") {
      Overlap.all(Seq.fill(4)(() => { Thread.sleep(200); Thread.currentThread.getName }))
    }.toSet
    Thread.sleep(300) // the four are idle and polling: the next start reuses one
    spark.sparkContext.addSparkListener(listener)
    try {
      val ran = withProps("submitter", "7") {
        Overlap.start((Thread.currentThread.getName, spark.range(10).count())).join()
      }
      GraftPlanBridge.awaitListeners(spark)
      assert(born.contains(ran._1), s"ran on a fresh thread ${ran._1}, not one of $born")
      assert(ran._2 == 10L)
      assert(seen.synchronized(seen.toList).nonEmpty &&
        seen.synchronized(seen.toList).forall(_ == (("submitter", "7"))),
        s"job properties: $seen")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the action runs under the caller's active session") {
    val other = spark.newSession()
    SparkSession.setActiveSession(other)
    try assert(Overlap.start(SparkSession.active).join() eq other)
    finally SparkSession.setActiveSession(spark)
    assert(Overlap.start(SparkSession.active).join() eq spark)
  }

  test("a failure is rethrown only after its siblings finished") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap.all(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(500); siblingDone.set(true) },
        () => throw new IllegalArgumentException("second")))
    }
    assert(siblingDone.get, "rethrown before the slow sibling finished")
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("a nested call from inside pooled actions completes") {
    // more outer actions than cores, each overlapping its own jobs
    val outer = CompletableFuture.supplyAsync(() =>
      Overlap.all(Seq.fill(8)(() =>
        Overlap.all(Seq.fill(3)(() => spark.range(5).count())).sum)))
    assert(outer.get(120, TimeUnit.SECONDS) == Seq.fill(8)(15L))
  }
}
