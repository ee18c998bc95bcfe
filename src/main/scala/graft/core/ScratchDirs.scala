package graft.core

/** Bounded-lifetime scratch directories for driver queries that must
  * materialize state per invocation (TxTable MERGE round trips, streaming
  * sink + checkpoint dirs). Each call hands out a fresh temp dir; older
  * dirs are reaped once more than `keep` exist, and a shutdown hook reaps
  * the rest — disk stays bounded however many times a bench battery
  * repeats.
  *
  * Contract with callers: a dir older than the newest `keep` may be
  * deleted at any subsequent `fresh` call, so any DataFrame returned to a
  * consumer must be decoupled from its dir first (eager
  * `localCheckpoint`) — reap eligibility equals consumption. All queue
  * ops (reap loop AND add) run under one lock (concurrent callers racing
  * size()/poll() once NPE'd on a null poll).
  *
  * Callers that hold a dir across a whole query BODY (q82/q86 keep their
  * sink + checkpoint dirs alive for an entire StreamingQuery run, TxTable
  * queries for a multi-MERGE round trip) must use [[lease]]/[[release]]:
  * a leased dir is skipped by the reap loop no matter how many fresh/
  * lease calls overlap, so correctness no longer rests on the keep=8
  * heuristic outrunning caller concurrency (ADVICE r7). `release` makes
  * the dir ordinarily reap-eligible again (it does NOT delete — the
  * returned frame decouples via eager localCheckpoint as before).
  */
object ScratchDirs {

  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private val leases = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val reaper: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() => {
    created.forEach(deleteRecursively)
  }))

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  private def add(d: java.io.File, keep: Int): Unit = created.synchronized {
    // Bounded scan: a leased dir cycles to the queue tail instead of
    // dying; if everything is leased the loop terminates after one
    // rotation rather than spinning.
    var scan = created.size()
    while (created.size() > keep && scan > 0) {
      scan -= 1
      val victim = created.poll()
      if (victim != null) {
        if (leases.contains(victim.getAbsolutePath)) created.add(victim)
        else deleteRecursively(victim)
      }
    }
    created.add(d): Unit
  }

  def fresh(prefix: String, keep: Int = 8): String = {
    reaper
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    add(d, keep)
    d.getAbsolutePath
  }

  /** A fresh dir pinned against reaping until [[release]]d. The lease is
    * registered BEFORE the dir enters the queue — no window in which a
    * concurrent fresh() could reap it.
    */
  def lease(prefix: String, keep: Int = 8): String = {
    reaper
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    leases.add(d.getAbsolutePath)
    add(d, keep)
    d.getAbsolutePath
  }

  def release(path: String): Unit = { leases.remove(path): Unit }

  private val stagedCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A fixture staged once per JVM per (`name`, sf dir): `build` fills a
    * dir leased for the JVM lifetime (the shutdown hook deletes it) and
    * returns the path to cache. Equivalent spellings of the sf dir
    * (trailing slash, relative vs absolute) share one entry. A failed
    * build releases its lease and caches nothing, so the next call
    * rebuilds. `build` must not stage another fixture.
    */
  def staged(name: String, sfDir: String)(build: String => String): String =
    stagedCache.computeIfAbsent(
      name + "|" + java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize.toString,
      _ => {
        val dir = lease(s"graft-$name-")
        try build(dir)
        catch {
          case e: Throwable =>
            release(dir)
            throw e
        }
      })
}
