package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One corpus-ingest cycle — the production loop of a training-data
  * pipeline: a new batch arrives, is deduplicated against ITSELF (exact,
  * then near-dup), then against the EXISTING corpus (exact text match,
  * then near-dup probe), and only the survivors are appended (e.g. via
  * `TxTable.merge`) for the next cycle.
  *
  * Cost model at scale: every stage is proportional to the BATCH, never
  * the corpus — intra-batch stages touch batch rows only, the exact
  * corpus check is an anti-join against the index's skinny text-hash
  * set, and the near-dup stage probes `MinHashDedup.buildIndex`'s banded
  * buckets (an equi-join on 64-bit keys; the corpus pair generation never
  * reruns). The corpus index can be built once and reused across many
  * batches; it is a parameter here so callers control that amortization.
  * Calling either entry point is EAGER, not plan-only: the shingle-set
  * frames localCheckpoint at call time and ConnectedComponents runs its
  * adaptive edge-count gate.
  *
  * Near-dup semantics floor: shingling needs `shingleWidth` tokens, so
  * sub-shingle-width texts (1-2 tokens at the default width 3) are
  * deduplicated EXACTLY only — the exact stages (min-id per text within
  * the batch, text-hash anti-join against the corpus) are what keeps
  * short texts from re-entering the corpus forever.
  *
  * Composition of proven parts: ExactDedup.keepFirst (q19/q20),
  * MinHashDedup.nearDuplicatePairs (q21), ConnectedComponents.assign
  * (q48/q75), MinHashDedup.probe (q62). q80/q81 gate the composite
  * end-to-end against a DuckDB recompute of every stage.
  */
object IncrementalIngest {

  /** The stage frames of one cycle, exposed so [[survivors]] and
    * [[report]]/[[cycle]] cannot drift apart. `bound` materializes each
    * stage boundary (cycle mode: localCheckpoint with the stage count
    * riding the SAME job via `Dataset.observe` — one pass per stage
    * instead of materialize-then-count, guide §1/§2: a count is a second
    * full scan of the stage output at any scale).
    */
  private final case class Stages(
      exact: DataFrame, intra: DataFrame, survivors: DataFrame,
      batchIdx: MinHashDedup.Index)

  private def stages(
      corpusIndex: MinHashDedup.Index,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      bound: (DataFrame, String) => DataFrame
  ): Stages = {
    // intra-batch, exact: deterministic min-id winner per text. The
    // batch frame is consumed exactly once (here), so it is NOT
    // checkpointed: its rows flow straight into this stage's single
    // materialization (callers pass already-bounded micro-batches).
    //
    // The exact-stage boundary and the index scan are FUSED (r19): one
    // materialization carries the batch columns PLUS the shingle set and
    // text-hash pair, so the batch is checkpointed once per cycle — the
    // old shape materialized the exact stage and then buildIndex
    // re-checkpointed the same rows as its own scan (one extra full
    // batch copy + one extra job per drain). The shingle/hash
    // expressions are buildIndex's own, under the corpus index's frozen
    // parameters (the Index scaladoc's frozen-parameter law), so the
    // derived index is frame-identical to a fresh buildIndex.
    val fat = bound(
      ExactDedup.keepFirst(batch, Seq(textCol), Seq(col(idCol)))
        .withColumn("__graft_shset",
          Shingles.shingleSet(col(textCol), corpusIndex.shingleWidth))
        .withColumn("__graft_th", xxhash64(col(textCol)))
        .withColumn("__graft_th2", xxhash64(lit("graft-th2"), col(textCol))),
      "exact")
    val exact = fat.drop("__graft_shset", "__graft_th", "__graft_th2")
    val batchIdx = MinHashDedup.indexFromScan(fat, idCol, "__graft_shset",
      "__graft_th", "__graft_th2",
      corpusIndex.shingleWidth, corpusIndex.bands, corpusIndex.rows)
    // intra-batch, near: banded candidate pairs -> components -> min id
    val pairs = MinHashDedup.pairsFromIndex(batchIdx, threshold)
      .select(col("id_a"), col("id_b"))
    val labels = ConnectedComponents.assign(
      exact.select(col(idCol).as("id")), pairs)
    val intra = bound(exact.join(
      labels.filter(col("id") === col("component")).select(col("id").as(idCol)),
      Seq(idCol), "left_semi"), "intra")
    // cross-corpus, exact: the text-hash anti-join catches EVERY copy,
    // including sub-shingle-width texts the banded probe cannot see.
    // Matching on the PAIR of hashes (see MinHashDedup.Index.textHashes)
    // keeps a 64-bit birthday collision from killing a novel doc.
    val noExactCopy = intra.join(corpusIndex.textHashes,
      xxhash64(intra(textCol)) === corpusIndex.textHashes("text_hash") &&
        xxhash64(lit("graft-th2"), intra(textCol)) ===
          corpusIndex.textHashes("text_hash2"), "left_anti")
    // cross-corpus, near: banded probe + exact-Jaccard verification,
    // over the batch index restricted to the rows still alive (a
    // skinny id semi-join — no re-shingling)
    val ncIds = noExactCopy.select(col(idCol).as("id"))
    val probeIdx = MinHashDedup.Index(
      batchIdx.buckets.join(ncIds, Seq("id"), "left_semi")
        .select(col("band"), col("bucket"), col("id")),
      batchIdx.sets.join(ncIds, Seq("id"), "left_semi")
        .select(col("id"), col("shset")),
      batchIdx.textHashes,
      batchIdx.shingleWidth, batchIdx.bands, batchIdx.rows)
    // NO distinct on the hit ids: the only consumer is the left_anti
    // join below, and an anti-join is insensitive to right-side
    // multiplicity — the old `.distinct()` added an Exchange + two
    // HashAggregates whose output-size estimate also pushed the planner
    // to a SortMergeJoin, dragging an Exchange + Sort onto the
    // batch-sized LEFT side (r19 plan dump). Dup hits per id are bounded
    // by the probe's verified pairs, which the cands-level distinct
    // already collapsed per (new, corpus) pair.
    val corpusHits = MinHashDedup
      .probeWith(probeIdx, corpusIndex, threshold)
      .select(col("new_id").as(idCol))
    Stages(exact, intra, noExactCopy.join(corpusHits, Seq(idCol), "left_anti"),
      batchIdx)
  }

  /** Batch survivors after the four dedup stages. */
  def survivors(
      corpusIndex: MinHashDedup.Index,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5
  ): DataFrame =
    // the fused exact+index scan is materialized even in plan-only mode
    // (it feeds the pair stage, the probe and the survivor join — the
    // materialization buildIndex used to own internally)
    stages(corpusIndex, batch, idCol, textCol, threshold,
      (df, name) => if (name == "exact") df.localCheckpoint() else df).survivors

  /** One cycle, eagerly: the survivor frame PLUS the per-stage counts
    * `(n_batch, n_after_exact, n_after_intra, n_survivors)` — what a
    * `foreachBatch` ingest sink needs without running the stage chain
    * twice ([[survivors]] then [[report]] would). The survivor frame is
    * localCheckpoint-bounded, so appending it to a sink does not re-run
    * the dedup stages.
    *
    * Counts ride the stage-materialization jobs via `Dataset.observe`
    * (a `CollectMetrics` node above each checkpointed plan, plus one at
    * the batch level inside the first stage's plan): one job per stage
    * boundary instead of materialize-then-count — at corpus scale each
    * merged count deletes one full pass over the stage output, and the
    * incoming micro-batch is no longer re-materialized at all (it is
    * consumed exactly once, by the exact stage's own job).
    */
  def cycle(
      corpusIndex: MinHashDedup.Index,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5
  ): (DataFrame, Array[Long]) = {
    val (surv, counts, _) =
      cycleWithExtension(corpusIndex, batch, idCol, textCol, threshold)
    (surv, counts)
  }

  /** [[cycle]] PLUS the survivors' index extension (the frames
    * [[MinHashDedup.extendWith]] unions and a persisting loop writes
    * per drain) — derived from the probe stage's ALREADY-BUILT batch
    * index by a survivor-id semi-join, so the survivors are never
    * shingled a second time: the old
    * `cycle(...)` + `extendIndex(index, surv, ...)` sequence paid one
    * full shingle+signature pass (and one materialization job) per
    * drain for rows the probe had just processed. Frame-identical to
    * `MinHashDedup.extension(corpusIndex, surv, ...)`
    * (IncrementalIngestSpec pins it).
    */
  def cycleWithExtension(
      corpusIndex: MinHashDedup.Index,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5
  ): (DataFrame, Array[Long], MinHashDedup.Index) = {
    val obs = Seq("batch", "exact", "intra", "survivors")
      .map(_ -> new graft.core.Durable.RowCount).toMap
    def counted(df: DataFrame, name: String): DataFrame = obs(name).on(df)
    val st = stages(corpusIndex, counted(batch, "batch"), idCol, textCol,
      threshold, (df, name) => counted(df, name).localCheckpoint())
    val surv = counted(st.survivors, "survivors").localCheckpoint()
    // A provably-empty stage (empty batch) is optimizer-eliminated
    // (PropagateEmptyRelation) together with its CollectMetrics node —
    // the observation then completes with NO metrics, which is exactly
    // a zero count. Any non-empty plan keeps its node.
    def n(name: String): Long = obs(name).n
    val survIds = surv.select(col(idCol).as("id"))
    val ext = MinHashDedup.Index(
      st.batchIdx.buckets.join(survIds, Seq("id"), "left_semi")
        .select(col("band"), col("bucket"), col("id")),
      st.batchIdx.sets.join(survIds, Seq("id"), "left_semi")
        .select(col("id"), col("shset")),
      // the text-hash pair is two plain hashes over the checkpointed
      // survivor frame — no shingling involved
      surv.select(xxhash64(col(textCol)).as("text_hash"),
        xxhash64(lit("graft-th2"), col(textCol)).as("text_hash2"))
        .distinct(),
      corpusIndex.shingleWidth, corpusIndex.bands, corpusIndex.rows)
    (surv, Array(n("batch"), n("exact"), n("intra"), n("survivors")), ext)
  }

  /** Per-stage row counts for one ingest cycle — the operational report
    * (what arrived, what each stage removed, what got in). Same eager
    * stage chain as [[cycle]]; the counts ride the stage jobs.
    */
  def report(
      corpusIndex: MinHashDedup.Index,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5
  ): DataFrame = {
    val spark = batch.sparkSession
    val (_, c) = cycle(corpusIndex, batch, idCol, textCol, threshold)
    import spark.implicits._
    Seq((c(0), c(1), c(2), c(3)))
      .toDF("n_batch", "n_after_exact", "n_after_intra", "n_survivors")
  }
}
