package graft.core

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The reap race the r6 ADVICE flagged: concurrent fresh() callers used
  * to race size()/poll() (null poll NPE'd) — now all queue ops share one
  * lock. This spec hammers fresh() from many threads.
  */
class ScratchDirsSpec extends AnyFunSuite {

  test("concurrent fresh() calls never fail and always return live distinct dirs") {
    val pool = Executors.newFixedThreadPool(8)
    try {
      val tasks = Seq.fill(64)(new Callable[String] {
        def call(): String = ScratchDirs.fresh("scratch-spec", keep = 4)
      })
      val dirs = pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      assert(dirs.distinct.size == 64, "every call must get its own dir")
      // The newest dir must still exist (the keep window shields it from
      // any concurrent reap that ran after its creation).
      val latest = ScratchDirs.fresh("scratch-spec", keep = 4)
      assert(new java.io.File(latest).isDirectory)
    } finally {
      pool.shutdown()
      pool.awaitTermination(30, TimeUnit.SECONDS): Unit
    }
  }

  test("leased dir survives any number of overlapping fresh() calls until released") {
    val held = ScratchDirs.lease("scratch-lease", keep = 2)
    val f = new java.io.File(held)
    assert(f.isDirectory)
    // Far more churn than keep=2 tolerates by count alone: without the
    // lease, `held` would be reaped within the first few calls.
    (1 to 32).foreach(_ => ScratchDirs.fresh("scratch-churn", keep = 2))
    assert(f.isDirectory, "a leased dir must never be reaped while held")
    ScratchDirs.release(held)
    // Released → ordinarily reap-eligible again: enough churn pushes it out.
    (1 to 32).foreach(_ => ScratchDirs.fresh("scratch-churn", keep = 2))
    assert(!f.exists(), "a released dir must become reap-eligible by count")
  }

  test("staged: a failed build releases its lease and is not cached") {
    var leased = ""
    intercept[IllegalStateException] {
      ScratchDirs.staged("spec-fail", "sf-spec") { d => leased = d; throw new IllegalStateException("boom") }
    }
    (1 to 32).foreach(_ => ScratchDirs.fresh("scratch-churn", keep = 2))
    assert(!new java.io.File(leased).exists(), "a failed build must release its lease")
    var builds = 0
    ScratchDirs.staged("spec-fail", "sf-spec") { d => builds += 1; d }
    assert(builds == 1, "a failed build must not be cached")
  }

  test("staged: dir, dir/, ./dir and the absolute dir hit one entry") {
    var builds = 0
    val spellings = Seq("sf-spec", "sf-spec/", "./sf-spec",
      new java.io.File("sf-spec").getAbsolutePath)
    val staged = spellings.map(ScratchDirs.staged("spec-spelling", _) { d => builds += 1; d })
    assert(staged.distinct.size == 1 && builds == 1)
  }
}
