package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{MinHashDedup, UrlSeenSet}

/** The rolled state of `Pipeline crawl`: one field per persisted piece
  * (each declared once in [[CrawlState.Store]]), then the robots rules,
  * Crawl-delays and effective rules derived from it — cached, never
  * persisted.
  */
final case class CrawlState(
    seen: UrlSeenSet.Index, emitted: UrlSeenSet.Index, index: MinHashDedup.Index,
    robots: DataFrame, sitemaps: DataFrame, hostGraph: DataFrame,
    recrawl: DataFrame, validators: DataFrame, control: DataFrame,
    robotsErr: DataFrame, hostRanks: DataFrame,
    rules: DataFrame, delays: DataFrame, effRules: DataFrame)

object CrawlState {

  /** How restore folds committed deltas in through a piece's one roll:
    * all at once (over the latest row per key for keyed latest-wins
    * pieces), or one drain at a time in batch order (ORDER-sensitive). */
  sealed trait Replay
  final case class OneShot(latestPer: String*) extends Replay
  case object PerBatch extends Replay

  /** One persisted piece: `state/v<N>/<name>`, delta parts
    * `state/deltas/<dir>` (`parts`/`fromParts` split and join them), and
    * the ONE `roll(state, delta, drain clock)` that the live drain and
    * restore share. */
  final class Piece[A, D](val name: String, val deltaDirs: Seq[String],
      val get: CrawlState => A, val set: (CrawlState, A) => CrawlState,
      val load: Option[String] => A, val save: (A, String) => Unit,
      val roll: (A, D, Long) => A, val replay: Replay,
      val parts: D => Seq[DataFrame],
      val fromParts: Seq[Option[DataFrame]] => Option[D])

  /** The latest row per key: each other column from its highest `batch_id`. */
  private def latestPerKey(d: DataFrame, keys: Seq[String]): DataFrame = {
    val aggs = d.columns.toSeq.filterNot(c => keys.contains(c) || c == "batch_id")
      .map(v => max_by(col(v), col("batch_id")).as(v))
    d.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The crawl's durable state under `<out>/state`:
    *  - `v<N>/<piece>` + `_COMMITTED`: what a clean run end committed (a
    *    crash's partial write has no marker and is ignored); restore
    *    takes the highest committed version. The marker holds the last
    *    batch id folded into `v<N>` (empty: none recorded, as in markers
    *    written before it was kept);
    *  - `deltas/<dir>`: each drain's batchId-keyed delta per piece
    *    ([[graft.streaming.ExactlyOnce]]), valid only above the batch
    *    `v<N>` folded (a crash between the marker and the delta reap
    *    leaves folded deltas behind) and up to the newest batch the
    *    streaming checkpoint `ckptDir` committed — a batch that wrote
    *    deltas but crashed before its offset commit REPLAYS, and the
    *    replay rewrites them idempotently;
    *  - `epoch_<batchId>/`: the in-loop compactions of [[maintain]].
    *
    * Independent reads and writes overlap ([[graft.core.Overlap]]):
    * restore loads the pieces concurrently, [[advance]] starts a drain's
    * delta writes and rolls on without them (the roll folds the
    * in-memory delta, never the written files), and [[commit]] saves the
    * pieces concurrently. Ordering: the drain calls [[flush]] before
    * `foreachBatch` returns, so all of its deltas (and its outputs) land
    * before the offset commit and a straggling write never races the
    * batch's replay; every piece lands before `_COMMITTED`.
    */
  final class Store(spark: SparkSession, out: String, ckptDir: String,
      changeAware: Boolean, robotsSeed: Option[String],
      corpus: Option[String], rankIters: Int, agent: String) {
    import spark.implicits._

    private val root = s"$out/state"
    private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def ls(dir: String) =
      if (fs.exists(new Path(dir))) fs.listStatus(new Path(dir)).toSeq else Nil

    val restoredV: Option[Int] = ls(root).map(_.getPath)
      .filter(p => p.getName.matches("v\\d+") && fs.exists(new Path(p, "_COMMITTED")))
      .map(_.getName.drop(1).toInt).maxOption
    // the last batch id folded into v<N>, from its marker
    private val folded: Option[Long] = restoredV.flatMap { v =>
      val in = fs.open(new Path(s"$root/v$v/_COMMITTED"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLongOption
      finally in.close()
    }
    // the checkpoint's `commits/` log holds one file per committed batch id
    private def lastCommitted: Option[Long] =
      ls(s"$ckptDir/commits").flatMap(_.getPath.getName.toLongOption).maxOption
    private val committed = lastCommitted

    def readIfExists(path: String): Option[DataFrame] =
      if (fs.exists(new Path(path)))
        // a dir holding only _SUCCESS (an EMPTY ExactlyOnce append — the
        // batch had no rows for this piece) carries no schema to infer;
        // treat it as absent, same as no write at all
        try Some(spark.read.parquet(path))
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getErrorClass == "UNABLE_TO_INFER_SCHEMA" => None
        }
      else None

    private def deltaDir(dir: String) = s"$root/deltas/$dir"
    private def deltasOf(dir: String): Option[DataFrame] =
      readIfExists(deltaDir(dir)).map { d =>
        committed.map { c =>
          d.where(folded.fold(col("batch_id") <= c)(f => col("batch_id").between(f + 1, c)))
        }.getOrElse(d.limit(0))
      }

    private def frame(name: String, get: CrawlState => DataFrame,
        set: (CrawlState, DataFrame) => CrawlState, load: Option[String] => DataFrame,
        roll: (DataFrame, DataFrame, Long) => DataFrame, replay: Replay = OneShot(),
        deltas: Boolean = true, distinctOnSave: Boolean = false) =
      new Piece[DataFrame, DataFrame](name, if (deltas) Seq(name) else Nil, get, set,
        load, (a, dir) => (if (distinctOnSave) a.distinct() else a)
          .write.mode("overwrite").parquet(dir),
        roll, replay, Seq(_), _.headOption.flatten)
    private def committedOr(empty: => DataFrame)(dir: Option[String]) =
      dir.flatMap(readIfExists).getOrElse(empty)
    private def urlSet(name: String, get: CrawlState => UrlSeenSet.Index,
        set: (CrawlState, UrlSeenSet.Index) => CrawlState, upsert: Boolean) =
      new Piece[UrlSeenSet.Index, DataFrame](name, Seq(name), get, set,
        _.filter(d => fs.exists(new Path(d))).map(UrlSeenSet.load(spark, _))
          .getOrElse(UrlSeenSet.empty(spark)),
        (a, dir) => UrlSeenSet.compact(a, dir): Unit,
        (a, d, _) => if (upsert) UrlSeenSet.upsertWith(a, d) else UrlSeenSet.extendWith(a, d),
        if (upsert) OneShot("url_hash", "url_hash2") else OneShot(),
        Seq(_), _.headOption.flatten)

    // change-aware deltas UPSERT — latest batch wins per URL pair (a
    // changed page's new content hash replaces the stored one); restore
    // reduces them first, a shuffle paid only after a crash
    val Seen = urlSet("seen", _.seen, (s, a) => s.copy(seen = a), upsert = changeAware)
    // the EMITTED-frontier seen-set: a URL is emitted once across drains
    val Emitted = urlSet("emitted", _.emitted, (s, a) => s.copy(emitted = a), upsert = false)
    // the rolling MinHash text index; a fresh crawl builds it from the
    // `--corpus` seed
    val Index = new Piece[MinHashDedup.Index, MinHashDedup.Index]("index",
      Seq("index_buckets", "index_sets", "index_hashes"),
      _.index, (s, a) => s.copy(index = a),
      load = _.map(MinHashDedup.loadIndex(spark, _)).getOrElse {
        val docs = corpus
          .map(p => spark.read.parquet(p)
            .select(col("doc_id").cast("long"), col("text").cast("string")))
          .getOrElse(spark.range(0).select(col("id").as("doc_id"), lit("").as("text")))
        MinHashDedup.buildIndex(docs, "doc_id", "text")
      },
      save = (a, dir) => MinHashDedup.compactIndex(a, dir): Unit,
      roll = (a, d, _) => MinHashDedup.extendWith(a, d), replay = OneShot(),
      parts = d => Seq(d.buckets, d.sets, d.textHashes),
      fromParts = {
        case Seq(Some(b), Some(s), Some(h)) => Some(MinHashDedup.Index(
          b.drop("batch_id"), s.drop("batch_id"), h.drop("batch_id")))
        case _ => None
      })
    // robots bodies (host, body): the --robots seed (lowest precedence)
    // < committed state < deltas, latest fetch wins per host
    val Robots = frame("robots", _.robots, (s, a) => s.copy(robots = a),
      load = dir => Seq(
          robotsSeed.map(p => spark.read.parquet(p)
            .select(col("host").cast("string"), col("body").cast("string"))
            .withColumn("batch_id", lit(-2L))),
          dir.flatMap(readIfExists).map(_.select(col("host"), col("body"))
            .withColumn("batch_id", lit(-1L)))).flatten
        .reduceOption(_ unionByName _)
        .map(latestPerKey(_, Seq("host")).localCheckpoint())
        .getOrElse(Seq.empty[(String, String)].toDF("host", "body")),
      roll = (a, d, _) => RobotsTxt.rollBodies(a, d).localCheckpoint(),
      replay = OneShot("host"))
    // known sitemaps: children discovered from sitemap-index fetches
    val Sitemaps = frame("sitemaps", _.sitemaps, (s, a) => s.copy(sitemaps = a),
      load = committedOr(Seq.empty[String].toDF("sitemap_url"))(_).localCheckpoint(),
      roll = (a, d, _) => a.unionByName(d.select("sitemap_url")).localCheckpoint(),
      distinctOnSave = true)
    // the host link graph (src, dst): cross-host edges feed the rank
    val HostGraph = frame("hostgraph", _.hostGraph, (s, a) => s.copy(hostGraph = a),
      load = committedOr(Seq.empty[(String, String)].toDF("src", "dst"))(_)
        .localCheckpoint(),
      roll = (a, d, _) => a.unionByName(d.select("src", "dst")).localCheckpoint(),
      distinctOnSave = true)
    // refresh-crawl schedule: one row per fetched URL — (url,
    // last_fetch, last_hash, n_fetches, unchanged_streak, fail_streak,
    // gone, retry_after), the rolling form of [[RecrawlSchedule]].
    // Deltas are per-drain observation logs (fetchlog = successes,
    // faillog = 4xx/5xx refetch answers); the fold is ORDER-sensitive
    // (the streaks): successes before failures within a drain, drains
    // in batch order. withFailureDefaults migrates a pre-failure-era
    // committed state.
    val Recrawl = new Piece[DataFrame, (DataFrame, DataFrame)]("recrawl",
      Seq("fetchlog", "faillog"), _.recrawl, (s, a) => s.copy(recrawl = a),
      load = dir => RecrawlSchedule.withFailureDefaults(
        committedOr(RecrawlSchedule.emptyState(spark))(dir)),
      save = (a, dir) => a.write.mode("overwrite").parquet(dir),
      roll = { case (a, (ok, failed), _) => RecrawlSchedule.advanceFailures(
        RecrawlSchedule.advance(a, ok, "url", "t", "h"),
        failed, "url", "t", "status", "retry_after").localCheckpoint() },
      replay = PerBatch, parts = d => Seq(d._1, d._2),
      // a drain without successes (failures) left no log part: roll an
      // empty one
      fromParts = ps => if (ps.forall(_.isEmpty)) None else Some((
        ps(0).getOrElse(Seq.empty[(String, Double, Long)].toDF("url", "t", "h")),
        ps(1).getOrElse(Seq.empty[(String, Double, Int, Double)]
          .toDF("url", "t", "status", "retry_after")))))
    // conditional-request hints (url, etag, last_modified): the latest
    // validators each URL's origin sent, latest drain wins per URL; the
    // state side is only scanned (the batch broadcasts into the anti join)
    val Validators = frame("validators", _.validators, (s, a) => s.copy(validators = a),
      load = committedOr(Seq.empty[(String, String, String)]
        .toDF("url", "etag", "last_modified")),
      roll = (a, d, _) => a
        .join(broadcast(d.select(col("url").as("__v"))), col("url") === col("__v"),
          "left_anti")
        .unionByName(d).localCheckpoint(),
      replay = OneShot("url"))
    // control-plane fetch ages (url, last_fetch): latest-wins upserts on
    // the drain clock ([[ControlPlane]])
    val Control = frame("control", _.control, (s, a) => s.copy(control = a),
      load = committedOr(ControlPlane.emptyState(spark)),
      roll = (a, d, t) => ControlPlane.observe(a, d, "url", t.toDouble).localCheckpoint(),
      replay = PerBatch)
    // robots server-error latch (host, err_since): the earliest error
    // opens the window, any sub-500 answer closes it
    val RobotsErr = frame("robotserr", _.robotsErr, (s, a) => s.copy(robotsErr = a),
      load = committedOr(Seq.empty[(String, Double)].toDF("host", "err_since")),
      roll = (a, d, t) => RobotsTxt.rollErrors(a, d, t.toDouble).localCheckpoint(),
      replay = PerBatch)
    /* PageRank over the accumulated host link graph → (host, rank): the
     * frontier's crawl-value priority. Host-level, so the graph is
     * orders of magnitude smaller than the frontier — but still STATE,
     * and state is scanned, never shuffled, on ordinary drains: the
     * recompute (this piece's roll; its "delta" is the graph) runs only
     * on the CompactionPolicy cadence ([[maintain]]) and at bootstrap,
     * is persisted beside the host graph and never replayed (r16 verdict
     * #3 — a per-drain recompute is state-proportional work that grows
     * with crawl history, not batch size). Rank staleness is bounded by
     * the cadence: ≤ compactEvery drains. Restore scans the committed
     * ranks (no graph shuffle at startup), else computes once over the
     * restored graph. */
    private def rank(graph: DataFrame): DataFrame = {
      val g = graph.distinct().localCheckpoint()
      if (g.isEmpty) Seq.empty[(String, Double)].toDF("host", "rank")
      else {
        val dim = g.select(col("src").as("host"))
          .unionByName(g.select(col("dst").as("host")))
          .distinct()
          .withColumn("id", xxhash64(col("host")))
          .localCheckpoint()
        graft.operators.PageRank.run(
          g.select(xxhash64(col("src")).as("src"),
            xxhash64(col("dst")).as("dst")), rankIters)
          .join(dim, Seq("id"))
          .select(col("host"), col("rank"))
      }
    }
    val HostRanks = frame("hostranks", _.hostRanks, (s, a) => s.copy(hostRanks = a),
      load = _.flatMap(readIfExists).map(_.select(col("host"), col("rank")))
        .getOrElse(rank(restoredGraph)).localCheckpoint(),
      roll = (_, graph, _) => rank(graph).localCheckpoint(), deltas = false)

    /** Every piece, in commit order. */
    val pieces: Seq[Piece[_, _]] = Seq(Seen, Index, Emitted, Robots, Sitemaps,
      HostGraph, HostRanks, Recrawl, Validators, RobotsErr, Control)

    private def restored[A, D](p: Piece[A, D]): A = {
      val base = p.load(restoredV.map(v => s"$root/v$v/${p.name}"))
      val ps = p.deltaDirs.map(deltasOf)
      p.replay match {
        case OneShot(keys @ _*) =>
          p.fromParts(if (keys.isEmpty) ps else ps.map(_.map(latestPerKey(_, keys))))
            .fold(base)(p.roll(base, _, 0L))
        case PerBatch =>
          val logs = ps.map(_.map(_.localCheckpoint()))
          if (logs.forall(_.isEmpty)) base
          else logs.flatten.map(_.select(col("batch_id"))).reduce(_ unionByName _)
            .distinct().orderBy(col("batch_id")).as[Long].collect()
            .foldLeft(base) { (st, bid) =>
              p.fromParts(logs.map(_.map(_.where(col("batch_id") === bid))))
                .fold(st)(p.roll(st, _, bid))
            }
      }
    }
    private lazy val restoredGraph = restored(HostGraph)

    private def robotsRules(robots: DataFrame) = (
      RobotsTxt.parseRules(robots, "host", "body").localCheckpoint(),
      RobotsTxt.delayFor(RobotsTxt.parseDelays(robots, "host", "body"), agent)
        .localCheckpoint())

    /** `v<N>` plus the committed deltas, each piece loaded concurrently;
      * effective rules start as parsed. */
    def restore(): CrawlState = {
      import graft.core.Overlap.start
      val (seen, emitted, index) =
        (start(restored(Seen)), start(restored(Emitted)), start(restored(Index)))
      val robots = start { val r = restored(Robots); (r, robotsRules(r)) }
      val (sitemaps, graph, ranks) =
        (start(restored(Sitemaps)), start(restoredGraph), start(restored(HostRanks)))
      val (recrawl, validators) = (start(restored(Recrawl)), start(restored(Validators)))
      val (control, robotsErr) = (start(restored(Control)), start(restored(RobotsErr)))
      graft.core.Overlap.awaitAll(Seq(seen, emitted, index, robots, sitemaps, graph,
        ranks, recrawl, validators, control, robotsErr))
      val (robotsNow, (rules, delays)) = robots.join()
      CrawlState(seen.join(), emitted.join(), index.join(), robotsNow, sitemaps.join(),
        graph.join(), recrawl.join(), validators.join(), control.join(),
        robotsErr.join(), ranks.join(), rules, delays, rules)
    }

    /** `rules` and `delays` re-derived after robots rolled. */
    def rederived(s: CrawlState): CrawlState = {
      val (rules, delays) = robotsRules(s.robots)
      s.copy(rules = rules, delays = delays)
    }

    // delta dir -> its write in flight, until [[flush]]
    private val writing =
      new java.util.concurrent.ConcurrentHashMap[String, graft.core.Overlap.Pending[Unit]]()

    /** The live drain's step for one piece: start writing its
      * batchId-keyed delta (none on the dry run, `batchId = None`), then
      * roll without waiting for the write. */
    def advance[A, D](s: CrawlState, p: Piece[A, D], d: D,
        batchId: Option[Long]): CrawlState = {
      for (b <- batchId; (dir, part) <- p.deltaDirs.zip(p.parts(d))) {
        // a second write to one dir overwrites the same partition: it
        // waits for the first
        Option(writing.get(dir)).foreach(_.join())
        writing.put(dir, graft.core.Overlap.start(
          graft.streaming.ExactlyOnce.appendKeyed(part, deltaDir(dir), b)))
      }
      p.set(s, p.roll(p.get(s), d, batchId.getOrElse(0L)))
    }

    /** Wait until every delta write [[advance]] started has landed; after
      * all of them finish, rethrow the first failure. */
    def flush(): Unit = {
      import scala.jdk.CollectionConverters._
      graft.core.Overlap.awaitAll(
        writing.keySet.asScala.toSeq.flatMap(dir => Option(writing.remove(dir))))
    }

    /** On the compaction cadence: epoch compactions bound index and
      * seen-set lineage (the canonical commit is at run end), and host
      * ranks refresh — the loop's one graph shuffle, amortized. */
    def maintain(s: CrawlState, batchId: Long,
        policy: graft.core.CompactionPolicy): CrawlState = {
      def epoch(p: Piece[_, _]) = s"$root/epoch_$batchId/${p.name}"
      // the two compactions touch independent state: they overlap
      val index = graft.core.Overlap.start(
        policy.maybe(batchId, s.index)(MinHashDedup.compactIndex(_, epoch(Index))))
      val seen = graft.core.Overlap.start(
        policy.maybe(batchId, s.seen)(UrlSeenSet.compact(_, epoch(Seen))))
      graft.core.Overlap.awaitAll(Seq(index, seen))
      s.copy(index = index.join(), seen = seen.join(), hostRanks = policy.maybe(
        batchId, s.hostRanks)(HostRanks.roll(_, s.hostGraph, batchId)))
    }

    /** Commit `v<N+1>` (every pending delta, then the pieces
      * concurrently, then — once all of them landed — `_COMMITTED` naming
      * the last batch the checkpoint committed, every one of them folded
      * into `s`); reap `v<N>`, the deltas and the epoch dirs. Returns
      * N+1. */
    def commit(s: CrawlState): Int = {
      flush()
      val next = restoredV.fold(0)(_ + 1)
      def save[A](p: Piece[A, _]): Unit = p.save(p.get(s), s"$root/v$next/${p.name}")
      graft.core.Overlap.all(pieces.map(p => () => save(p))): Unit
      val marker = fs.create(new Path(s"$root/v$next/_COMMITTED"), true)
      try marker.write(lastCommitted.fold("")(_.toString).getBytes("UTF-8"))
      finally marker.close()
      restoredV.foreach(v => fs.delete(new Path(s"$root/v$v"), true))
      fs.delete(new Path(s"$root/deltas"), true): Unit
      ls(root).filter(_.getPath.getName.startsWith("epoch_"))
        .foreach(st => fs.delete(st.getPath, true))
      next
    }
  }
}
