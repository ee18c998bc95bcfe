package graft.core

import java.util.concurrent.{CompletableFuture, CompletionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{GraftPlanBridge, SparkSession}

/** Independent Spark actions started together from driver threads.
  * Actions are only sequential because the driver calls them one at a
  * time; on small batches each job's fixed cost (planning, scheduling,
  * codegen, commit) dominates, and overlapping independent ones hides
  * it while the tails of their stages back-fill each other's idle cores.
  *
  * Each action runs as if on the submitting thread: with that thread's
  * Spark local properties (so its jobs carry the submitter's job
  * description and `streaming.sql.batchId`, and listeners attribute them
  * to the submitter's drain) and its active session. A pool thread's own
  * inherited properties, frozen when the thread was created, never leak
  * into a job.
  *
  * Threads come from one cached pool: a thread per action in flight,
  * reused once idle. A pooled action may overlap its own actions (the
  * crawl commit's index save runs `MinHashDedup.compactIndex`, which
  * overlaps three writes) without waiting for a free thread, so nested
  * calls never deadlock.
  */
object Overlap {

  private lazy val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-overlap-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** One started action. */
  final class Pending[A] private[Overlap] (f: CompletableFuture[A]) {
    /** Wait for the action; its own failure is rethrown unwrapped. */
    def join(): A =
      try f.join()
      catch { case e: CompletionException if e.getCause != null => throw e.getCause }
  }

  /** Start `body` on a pooled driver thread, with the calling thread's
    * local properties and active session. */
  def start[A](body: => A): Pending[A] =
    new Pending(GraftPlanBridge.onCallerContext(SparkSession.active, pool)(body))

  /** Wait for EVERY one of `ps`, then rethrow the first failure in
    * argument order (later ones ride along as suppressed). A failing
    * action never leaves a sibling still running behind the caller. */
  def awaitAll(ps: Seq[Pending[_]]): Unit = {
    val failures = ps.flatMap { p =>
      try { p.join(); None }
      catch { case e: Throwable => Some(e) }
    }
    failures.headOption.foreach { first =>
      failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
  }

  /** Run `bodies` concurrently and return their results in order, under
    * [[awaitAll]]'s failure rule. */
  def all[A](bodies: Seq[() => A]): Seq[A] = {
    val ps = bodies.map(b => start(b()))
    awaitAll(ps)
    ps.map(_.join())
  }
}
