package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection.
  *
  * Classic shingle → minhash-signature → banded-LSH → bucket-join →
  * exact-verify pipeline (Broder '97 resemblance sketches; the standard
  * web-dedup construction):
  *
  *  1. per doc: distinct shingle hashes (narrow, [[Shingles]])
  *  2. per doc: k-element minhash signature. Hash function family is
  *     double hashing over two XXH64 draws, h_i(x) = h1(x) + i·h2(x)
  *     with h2 odd (Kirsch–Mitzenmacher) — 2 strong hashes + k
  *     multiply-adds per shingle; JVM long arithmetic wraps mod 2⁶⁴
  *     natively (SQL-side ANSI overflow rules don't apply inside a
  *     native expression).
  *  3. signature split into `bands` bands of `rows` values; each band
  *     hashed to one bucket key. Docs sharing ANY band bucket are
  *     candidates. With bands=32, rows=4 the candidate threshold is
  *     (1/32)^(1/4) ≈ 0.42, so recall for Jaccard ≥ 0.5 pairs is ~0.87 per
  *     band-miss-model and ≥ 1-6e-8 for the ≥ 0.8 pairs this stage exists
  *     to catch.
  *  4. candidates exact-verified with true Jaccard on the shingle sets —
  *     LSH false positives never reach the output.
  *
  * Scale shape: stages 1-2 are per-row codegen; the only shuffles are the
  * bucket-join (on a 64-bit bucket key, `bands` rows per doc) and the final
  * distinct on pairs. Nothing ever materializes O(n²).
  */
object MinHashDedup {

  /** k-element minhash signature of a shingle-set column. Native
    * single-pass codegen'd expression ([[graft.functions.MinHashSignature]],
    * double-hashing family) — one traversal of the shingle set instead of
    * k array_min(transform(...)) passes.
    */
  def signature(shingleSet: Column, k: Int): Column =
    call_function("graft_minhash", shingleSet, lit(k))

  /** Candidate pairs (idA < idB) from banded LSH over the signature.
    * Input: df with `idCol` and `sigCol` (array of k longs).
    *
    * Formulated as bucket-collect rather than self-join: group the
    * (band, bucket) explosion, collect ids per bucket, emit intra-bucket
    * pairs. One evaluation of the (expensive) signature subtree and one
    * shuffle — a self-join would execute the upstream plan twice. Hot
    * buckets are quadratic either way (that's LSH's contract); sorting
    * ids in-bucket keeps pair orientation deterministic.
    */
  /** One row per (doc, band): bucket keys from the native
    * [[graft.functions.BandBuckets]] expression — one small expression
    * where the previous 32-struct xxhash64 formulation's codegen
    * compilation dominated this stage. Bucket values are engine-defined
    * and differ from that older formulation; an Index's buckets must be
    * produced by the same build. `keep` carries pass-through columns
    * (e.g. an event-time column) so the SINGLE bucket-generation recipe
    * serves both the batch collect and [[graft.streaming.StreamingNearDup]]
    * — two copies drifting apart would silently break their spec'd
    * equivalence.
    */
  private[graft] def bandBuckets(
      df: DataFrame, idCol: String, sigCol: String, bands: Int, rows: Int,
      keep: Seq[String] = Nil): DataFrame = {
    val kept = keep.map(col)
    df.select((col(idCol) +: kept) :+
        posexplode(call_function("graft_band_buckets", col(sigCol), lit(bands), lit(rows))): _*)
      .select((col(idCol) +: kept) ++
        Seq(col("pos").as("band"), col("col").as("bucket")): _*)
  }

  def candidatePairs(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      bands: Int,
      rows: Int
  ): DataFrame = {
    val exploded = bandBuckets(df, idCol, sigCol, bands, rows)

    exploded
      .groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(Pairs.ordered(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
  }

  /** Persisted LSH index of a corpus: band buckets for candidate lookup
    * plus shingle sets for exact verification. Both are plain DataFrames
    * (write them as parquet, bucketed by `bucket`/`id` at scale) — the
    * state that makes near-dup detection INCREMENTAL: a new crawl batch
    * probes the index instead of re-pairing the whole corpus.
    */
  /** `textHashes` is the distinct (xxhash64, salted-xxhash64) PAIR of
    * every corpus text, with NO shingle-width floor — sub-shingle-width
    * docs (1-2 tokens) are invisible to `buckets`/`sets`, so exact-match
    * consumers ([[IncrementalIngest]]) need this unfiltered view or short
    * texts re-enter the corpus forever. The pair matters at scale: a
    * single 64-bit text hash hits its birthday bound at ~4B corpus texts,
    * where a collision silently KILLS a novel batch doc as "already in
    * the corpus"; matching on two domain-separated draws pushes that to
    * ~10^-19 at 10^10 texts while the index stays two longs per text.
    */
  /** The shingling/banding parameters ride WITH the index: postings
    * made under different (shingleWidth, bands, rows) live in an
    * incompatible hash space, so [[extendIndex]] and [[probe]] take
    * them from here instead of trusting a second call site to repeat
    * the build's values — the same frozen-parameter law as
    * `IvfIndex.extendIndex`'s frozen quantizer.
    */
  final case class Index(
      buckets: DataFrame, sets: DataFrame, textHashes: DataFrame,
      shingleWidth: Int = 3, bands: Int = 32, rows: Int = 4)

  /** Build the index for `docs`: buckets (band, bucket, id), sets
    * (id, shset), and the unfiltered text-hash set. The build parameters
    * are stored on the returned [[Index]] — [[probe]] and [[extendIndex]]
    * reuse them, so they cannot diverge from the build.
    */
  def buildIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      bands: Int = 32,
      rows: Int = 4
  ): Index = {
    // ONE scan of the corpus feeds both halves of the index: shingle
    // sets for the banded side, the text-hash pair for the exact side.
    // The checkpoint happens BEFORE the shingle-width filter because the
    // text hashes must cover sub-shingle-width docs too (the unfiltered
    // view IncrementalIngest depends on); the empty shsets it stores are
    // a few bytes per short doc.
    val scanned = docs
      .select(col(idCol).as("id"),
        Shingles.shingleSet(col(textCol), shingleWidth).as("shset"),
        xxhash64(col(textCol)).as("text_hash"),
        xxhash64(lit("graft-th2"), col(textCol)).as("text_hash2"))
      .localCheckpoint()
    val withSets = scanned.select(col("id"), col("shset"))
      .filter(size(col("shset")) > 0)
    val withSig = withSets.withColumn("sig", signature(col("shset"), bands * rows))
    val buckets = bandBuckets(withSig, "id", "sig", bands, rows)
      .select(col("band"), col("bucket"), col("id"))
    Index(buckets, withSets,
      scanned.select(col("text_hash"), col("text_hash2")).distinct(),
      shingleWidth, bands, rows)
  }

  /** Build an [[Index]] from a PRE-MATERIALIZED scan frame that already
    * carries the per-doc shingle set and text-hash pair (the fused-
    * boundary path of [[IncrementalIngest]], r19): the caller's stage
    * materialization and the index scan share ONE job instead of
    * checkpointing the same batch rows twice. Frame-identical to
    * [[buildIndex]] over the same docs when the columns were computed
    * with the build's own expressions (`Shingles.shingleSet`,
    * `xxhash64(text)`, `xxhash64('graft-th2', text)`) —
    * IncrementalIngestSpec pins the cycle outputs.
    */
  private[graft] def indexFromScan(
      scanned: DataFrame, idCol: String, shsetCol: String,
      thCol: String, th2Col: String,
      shingleWidth: Int, bands: Int, rows: Int): Index = {
    val withSets = scanned.select(col(idCol).as("id"), col(shsetCol).as("shset"))
      .filter(size(col("shset")) > 0)
    val withSig = withSets.withColumn("sig", signature(col("shset"), bands * rows))
    val buckets = bandBuckets(withSig, "id", "sig", bands, rows)
      .select(col("band"), col("bucket"), col("id"))
    Index(buckets, withSets,
      scanned.select(col(thCol).as("text_hash"), col(th2Col).as("text_hash2"))
        .distinct(),
      shingleWidth, bands, rows)
  }

  /** Extend an index with newly-accepted docs — the ROLLING-ingest path:
    * one batch's survivors join the corpus the NEXT batch dedups
    * against, at cost proportional to the NEW docs (one bounded
    * [[buildIndex]] scan over them), never a corpus-wide rebuild. The
    * extension is a frame union on all three index components (banded
    * postings, shingle sets, text-hash pairs), each side already
    * checkpoint-bounded by its own build.
    *
    * Scale note: after thousands of extensions the union tree itself
    * becomes the overhead — a long-running ingest loop should
    * periodically [[compactIndex]], exactly like any log-structured
    * structure compacts its segment list.
    */
  def extendIndex(
      index: Index,
      docs: DataFrame,
      idCol: String,
      textCol: String
  ): Index =
    extendWith(index, extension(index, docs, idCol, textCol))

  /** The batch's index EXTENSION alone (built under `index`'s frozen
    * parameters) — the unit the crawl CLI persists per-drain so a
    * crash between drains cannot lose index state the streaming
    * checkpoint already committed (r15 ADVICE). [[extendWith]] applies
    * it; writing its three frames and unioning them share one build.
    */
  def extension(index: Index, docs: DataFrame,
      idCol: String, textCol: String): Index =
    buildIndex(docs, idCol, textCol,
      index.shingleWidth, index.bands, index.rows)

  /** [[extendIndex]] over a precomputed [[extension]]. */
  def extendWith(index: Index, add: Index): Index =
    index.copy(
      buckets = index.buckets.unionByName(add.buckets),
      sets = index.sets.unionByName(add.sets),
      textHashes = index.textHashes.unionByName(add.textHashes))

  /** Compact a (repeatedly extended) index — the log-structured
    * maintenance step [[extendIndex]]'s scaladoc prescribes: every
    * extension stacks one union on all three frames, so past a handful
    * of batches the plan tree grows linearly (re-analysis cost per
    * probe) and any recompute replays the whole extension history.
    * Compaction writes the three frames as parquet under `dir` and
    * reloads them: lineage depth resets to one scan each, the write is
    * O(index bytes) once every k extensions (amortized O(survivors) per
    * batch), and the files double as the index's DURABLE form — the
    * restart state a real ingest deployment pairs with the streaming
    * checkpoint (q232's contract). Row-for-row the same index
    * (CompactIndexSpec pins probe/cycle equality on the q231 fixture);
    * the frozen shingling/banding parameters ride along unchanged.
    * Bucket postings land partitioned-by-write on the 64-bit bucket
    * hash space; at real scale, bucket-sort before writing so the probe
    * join's scan is clustered.
    */
  def compactIndex(index: Index, dir: String): Index = {
    val spark = index.buckets.sparkSession
    // The three frames are independent — their writes overlap
    // ([[graft.core.Overlap]]), so one compaction costs ~the largest
    // frame's write instead of the sum of three, and the tails of each
    // write's stage back-fill the others' idle cores.
    def path(name: String) = s"${dir.stripSuffix("/")}/$name"
    graft.core.Overlap.all(Seq(
      "buckets" -> index.buckets, "sets" -> index.sets,
      "text_hashes" -> index.textHashes).map { case (name, df) =>
      () => df.write.mode("overwrite").parquet(path(name))
    }): Unit
    index.copy(
      buckets = spark.read.parquet(path("buckets")),
      sets = spark.read.parquet(path("sets")),
      textHashes = spark.read.parquet(path("text_hashes")))
  }

  /** Restore a [[compactIndex]]-written index from its durable form —
    * the restart path a long-running ingest loop (`Pipeline crawl`)
    * pairs with its streaming checkpoint. The shingling/banding
    * parameters are NOT stored in the files (they shape the frames, not
    * the rows), so the caller must pass the same frozen values the
    * index was built with — the frozen-parameter law.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      shingleWidth: Int = 3, bands: Int = 32, rows: Int = 4): Index = {
    val d = dir.stripSuffix("/")
    Index(
      spark.read.parquet(s"$d/buckets"),
      spark.read.parquet(s"$d/sets"),
      spark.read.parquet(s"$d/text_hashes"),
      shingleWidth, bands, rows)
  }

  /** Probe the index with a NEW batch: pairs (new_id, corpus_id) whose
    * exact Jaccard ≥ `threshold`. Cost is proportional to the BATCH
    * (shingle/signature passes over new docs only) plus an equi-join on
    * the 64-bit bucket key against the index — the whole-corpus pair
    * generation never reruns. New-batch-internal duplicates are
    * [[nearDuplicatePairs]]'s job; this finds collisions against the
    * EXISTING corpus.
    */
  def probe(
      newDocs: DataFrame,
      index: Index,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5
  ): DataFrame =
    probeWith(
      buildIndex(newDocs, idCol, textCol,
        index.shingleWidth, index.bands, index.rows),
      index, threshold)

  /** [[probe]] over a PRE-BUILT batch index (same frozen parameters as
    * `index`) — callers that also need the batch's index rows (e.g.
    * [[IncrementalIngest]], which extends the corpus index with the
    * survivors' rows) build it once and share it between the probe and
    * the extension instead of shingling the batch twice.
    */
  def probeWith(
      probeIdx: Index,
      index: Index,
      threshold: Double
  ): DataFrame = {
    val cands = probeIdx.buckets.select(col("band"), col("bucket"), col("id").as("new_id"))
      .join(index.buckets.select(col("band"), col("bucket"), col("id").as("corpus_id")),
        Seq("band", "bucket"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()
    cands
      .join(probeIdx.sets.select(col("id").as("new_id"), col("shset").as("set_n")), "new_id")
      .join(index.sets.select(col("id").as("corpus_id"), col("shset").as("set_c")), "corpus_id")
      .withColumn("jaccard", Shingles.jaccard(col("set_n"), col("set_c")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** [[nearDuplicatePairs]] over a PRE-BUILT [[Index]] of the same
    * docs: candidate generation reads the index's banded postings and
    * verification its shingle sets — a caller that already built an
    * index over the batch (e.g. [[IncrementalIngest]], which needs one
    * for the corpus probe and the rolling extension anyway) reuses it
    * instead of shingling and signing the batch a second time. Output
    * is row-identical to [[nearDuplicatePairs]] under the index's
    * frozen build parameters (id columns named `id_a`/`id_b`).
    */
  def pairsFromIndex(idx: Index, threshold: Double): DataFrame = {
    val cands = idx.buckets
      .groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(Pairs.ordered(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    cands
      .join(idx.sets.select(col("id").as("id_a"), col("shset").as("set_a")), "id_a")
      .join(idx.sets.select(col("id").as("id_b"), col("shset").as("set_b")), "id_b")
      .withColumn("jaccard", Shingles.jaccard(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Full near-dup pipeline over a document table: pairs with exact
    * Jaccard ≥ `threshold`, plus the estimate-free exact similarity.
    */
  def nearDuplicatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      shingleWidth: Int = 3,
      bands: Int = 32,
      rows: Int = 4
  ): DataFrame = {
    // The shingle-set frame feeds three consumers (signature path + both
    // sides of the verification join). localCheckpoint materializes it
    // once and truncates lineage; unlike persist() (which nothing would
    // ever unpersist — Spark does not evict when a plan finishes), the
    // blocks are released by the ContextCleaner as soon as the checkpoint
    // RDD is unreferenced. Trade: not fault-tolerant to executor loss —
    // acceptable for a recomputable intermediate.
    val withSets = docs
      .select(col(idCol), Shingles.shingleSet(col(textCol), shingleWidth).as("shset"))
      .filter(size(col("shset")) > 0)
      .localCheckpoint()
    val withSig = withSets
      .withColumn("sig", signature(col("shset"), bands * rows))

    val cands = candidatePairs(withSig, idCol, "sig", bands, rows)

    val setsA = withSets.select(col(idCol).as("id_a"), col("shset").as("set_a"))
    val setsB = withSets.select(col(idCol).as("id_b"), col("shset").as("set_b"))
    cands
      .join(setsA, "id_a")
      .join(setsB, "id_b")
      .withColumn("jaccard", Shingles.jaccard(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }
}
