package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Driver-contract queries for the deduplication family.
  *
  * The test `documents` table ships duplicate-free, so the exact-dedup
  * queries plant duplicates deterministically (same planting expressed in
  * the oracle SQL). The near-dup corpus relies on the generator's planted
  * near-duplicates (all pairwise Jaccard ≥ 0.8 at sf0.01/sf0.1, with a wide
  * gap to the ~0.2 background).
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Synthetic ingest batch for q80/q81, exercising every kill path of one
    * incremental cycle:
    *   - exact corpus copies   (id%10==0 → id+1M, original text)   — die at the exact corpus text-match stage;
    *   - duplicate re-uploads  (id%20==0 → id+3M, same text as the +1M twin) — die at intra-batch EXACT dedup (higher id);
    *   - near-dup variants     (id%15==0 with ≥18 shingles → id+4M, text + unique tail token; Jaccard n/(n+2) ≥ 0.9 vs the original) —
    *     die intra-batch against the +1M twin when id%30==0, at the corpus probe otherwise;
    *   - genuinely novel docs  (id%7==0 → id+2M, 20 repeats of a per-id zzqq token: one distinct shingle, shared with nothing) — survive.
    * The ≥18-shingle guard keeps every real SYNTHETIC near-dup edge at
    * Jaccard ≥ 0.9, where the banded-LSH catch probability is 1-1e-15 —
    * the engine/oracle agreement is the same deterministic-recall argument
    * q21 rests on. Edges between shifted copies of two DISTINCT corpus
    * docs inherit the corpus pair's own Jaccard, so the argument also
    * needs the corpus gap property: no corpus pair has exact Jaccard in
    * [0.5, 0.8) (planted near-dups sit at ≥ 0.8, background at ~0.2 —
    * IncrementalIngestSpec asserts this against the real testdata, so a
    * corpus-generator change that breaks it fails a spec, not as an
    * opaque probabilistic oracle mismatch here).
    */
  private def ingestBatch(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    // The +1M/+2M/+3M/+4M shifts encode batch provenance and are
    // collision-free only while corpus ids stay under 1M; a future SF bump
    // must fail HERE, not as an opaque oracle hash mismatch downstream.
    val maxId = Option(d.agg(max(col("doc_id"))).head.get(0))
      .fold(0L)(_.asInstanceOf[Number].longValue) // null max = empty table
    require(maxId < 1000000L,
      s"ingestBatch id-shift scheme assumes max(doc_id) < 1000000; got $maxId — " +
        "re-derive the shift offsets before raising the scale factor")
    val copies = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val reuploads = d.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
    val nearVariants = d.filter(col("doc_id") % 15 === 0)
      .filter(size(Shingles.shingleSet(col("text"))) >= 18)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(col("text"), lit(" zzqq"), col("doc_id").cast("string"), lit("tail")).as("text"))
    val novel = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ",
          array_repeat(concat(lit("zzqq"), col("doc_id").cast("string")), 20)).as("text"))
    copies.unionByName(reuploads).unionByName(nearVariants).unionByName(novel)
  }

  /** documents ∪ copies of every 10th doc under shifted ids. */
  private def docsWithDuplicates(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000))
  }

  private val docsWithDuplicatesSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Keep-first dedup: one representative order per customer,
    // deterministic (earliest orderdate, then smallest orderkey).
    "q19_dedup_keepfirst" -> { (s, dir) =>
      ExactDedup.keepFirst(
        Tables.load(s, dir, "orders"),
        keyCols = Seq("o_custkey"),
        tiebreak = Seq(col("o_orderdate"), col("o_orderkey")))
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    },

    // Exact duplicate groups over planted text duplicates: group size +
    // kept representative per duplicated text.
    "q20_dedup_exact" -> { (s, dir) =>
      ExactDedup.duplicateGroups(docsWithDuplicates(s, dir), Seq("text"), "doc_id")
        .select(col("kept_id"), col("n_copies"))
        .orderBy("kept_id")
    },

    // Cross-source duplicate overlap matrix over planted mirrors (every
    // 5th doc re-sourced 'mirror', every 7th 'crawl2'): for each source
    // pair, the count of distinct shared texts. The engine's plan never
    // self-joins the corpus — one aggregation collects each text's
    // distinct source set and pairs explode from the set — while the
    // oracle IS the naive self-join, so agreement pins the
    // no-join rewrite exactly.
    "q123_source_overlap" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text", "source")
      val planted = d
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .withColumn("source", lit("mirror")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .withColumn("source", lit("crawl2")))
      ExactDedup.sourceOverlap(planted, Seq("text"), "source")
        .orderBy("source_a", "source_b")
    },

    // MinHash+LSH near-dup pairs, exact-verified at Jaccard ≥ 0.5. Oracle
    // is the exact all-pairs computation: equality holds because banded
    // LSH (32×4) recall at the corpus' planted similarity (≥ 0.8) is
    // 1 - 6e-8 per pair and the corpus has no pairs in [0.5, 0.8).
    "q21_minhash_neardup" -> { (s, dir) =>
      MinHashDedup.nearDuplicatePairs(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // SimHash fingerprints + Hamming-ball pairs over planted exact copies
    // (distance 0) and organic near-dups, reduced to a CONTRACT ROW the
    // oracle can hash-check (the raw pair set is engine-hash-defined):
    // DuckDB independently counts the corpus and its identical-text pairs
    // from `text` equality; the engine must (a) surface every identical-
    // text pair at Hamming 0 (identical text ⇒ identical fingerprint ⇒
    // same chunks, so a miss is a bug in the chunk join), (b) emit only
    // ordered pairs inside the distance ball, (c) emit each pair once.
    // q65 keeps the planted-copy (%10 arithmetic) differential; this row
    // derives the expectation from text equality itself.
    "q22_simhash_nearpairs" -> { (s, dir) =>
      val dd = docsWithDuplicates(s, dir)
      val fps = SimHash.fingerprints(dd, "doc_id", "text")
      val pairs = SimHash.nearPairs(fps, "doc_id", maxDistance = 3)
      val sameText = dd.as("x").join(dd.as("y"),
          col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
          lit(1L).as("st"))
      // full outer: rows = found pairs ∪ identical-text pairs; a sameText
      // row with null/nonzero hamming is a recall miss, a pair row
      // violating (ordered, 0 ≤ hamming ≤ 3, unique) is a contract break.
      val stats = pairs.join(sameText, Seq("id_a", "id_b"), "full_outer").agg(
        sum(col("st")).cast("long").as("n_same_text_pairs"),
        sum(when(col("st").isNotNull &&
            (col("hamming").isNull || col("hamming") =!= 0), 1L)
          .otherwise(0L)).cast("long").as("n_identical_missed"),
        (sum(when(col("hamming").isNotNull &&
            (col("id_a") >= col("id_b") ||
              col("hamming") < 0 || col("hamming") > 3), 1L)
          .otherwise(0L)) === 0L).as("pairs_valid_ok"),
        (sum(when(col("hamming").isNotNull, 1L).otherwise(0L)) ===
          countDistinct(when(col("hamming").isNotNull,
            struct(col("id_a"), col("id_b"))))).as("pairs_unique_ok"))
      dd.agg(count(lit(1)).cast("long").as("n_docs")).crossJoin(stats)
    },

    // Oracle-checked differential for the SimHash family (companion to
    // the q22 contract row, keeping violation COUNTS visible). The base corpus is duplicate-free, so identical-text
    // pairs are EXACTLY the planted copies (id, id + 1000000 for id % 10
    // = 0); identical text forces identical fingerprints, so the chunked
    // Hamming join must surface every one at distance 0 — DuckDB counts
    // the expected pairs from text equality, Spark counts the found ones.
    // The violation counters pin the output contract (ordered pairs,
    // distance within the ball).
    "q65_simhash_planted" -> { (s, dir) =>
      val fps = SimHash.fingerprints(docsWithDuplicates(s, dir), "doc_id", "text")
      SimHash.nearPairs(fps, "doc_id", maxDistance = 3).agg(
        sum(when(col("id_b") === col("id_a") + 1000000 &&
          col("id_a") % 10 === 0 && col("hamming") === 0, 1L).otherwise(0L))
          .as("planted_pairs_found"),
        sum(when(col("id_a") >= col("id_b"), 1L).otherwise(0L)).as("ordering_violations"),
        sum(when(col("hamming") > 3 || col("hamming") < 0, 1L).otherwise(0L))
          .as("hamming_violations"))
    },

    // Connected components over the near-dup pair graph: every doc labeled
    // with min doc_id of its duplicate cluster — the grouping behind
    // leakage-free train/test splits. Oracle: DuckDB recursive CTE
    // transitive closure over the same (exact-Jaccard ≥ 0.5) edges.
    "q48_dup_components" -> { (s, dir) =>
      val d = docs(s, dir)
      val edges = NgramJaccard.similarPairs(d, "doc_id", "text", threshold = 0.5)
      ConnectedComponents.assign(
        d.select(col("doc_id").as("id")), edges)
        .orderBy("id")
    },

    // One incremental-ingest cycle over the corpus — the production loop:
    // a synthetic batch exercising every kill path (exact corpus copies,
    // duplicate re-uploads, near-dup variants, genuinely novel docs) runs
    // exact dedup → intra-batch near-dup → corpus probe, and only the
    // novel docs come out. Oracle: DuckDB re-implements all four stages
    // relationally (batch synthesis arithmetic, min-id-per-text, exact
    // Jaccard graph + recursive components, cross-corpus Jaccard).
    "q80_ingest_survivors" -> { (s, dir) =>
      val d = docs(s, dir)
      IncrementalIngest.survivors(
        MinHashDedup.buildIndex(d, "doc_id", "text"),
        ingestBatch(s, dir), "doc_id", "text")
        .select(col("doc_id")).orderBy("doc_id")
    },

    // The same cycle's operational report: per-stage row counts.
    "q81_ingest_report" -> { (s, dir) =>
      IncrementalIngest.report(
        MinHashDedup.buildIndex(docs(s, dir), "doc_id", "text"),
        ingestBatch(s, dir), "doc_id", "text")
    },

    // ROLLING ingest — the semantics q80/q227's fixed index cannot show:
    // four sequential batches (shard = doc_id % 4) where each batch's
    // SURVIVORS extend the corpus index before the next batch runs
    // (MinHashDedup.extendIndex — cost ∝ survivors, never a rebuild).
    // The planted cross-batch duplicate makes the difference LIVE: every
    // doc with doc_id % 20 = 5 (shard 1) also arrives as a copy (id +
    // 5000000) of the doc FIVE ids earlier — a shard-0 doc with
    // doc_id % 5 = 0, i.e. NOT in the base corpus, so only the grown
    // index can kill the copy; a fixed index would let it through. The oracle unrolls all eight
    // stages relationally, each one's corpus = base ∪ earlier survivors.
    // The loop also runs the index's log-structured MAINTENANCE step
    // live: every second extension the index round-trips through
    // [[MinHashDedup.compactIndex]] — by frame equality the ledger is
    // identical with or without it (CompactIndexSpec pins this), and the
    // battery now exercises the bounded-lineage path a real multi-batch
    // ingest loop must take.
    "q231_rolling_ingest" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select(col("doc_id"), col("text")).localCheckpoint()
      // 5000000 ≡ 0 (mod 4): the copy stays in its source's shard 1
      val srcText = d.select((col("doc_id") + 5L).as("doc_id"),
        col("text").as("src_text"))
      val plants = d.filter(col("doc_id") % 20 === 5)
        .join(srcText, "doc_id")
        .select((col("doc_id") + 5000000L).as("doc_id"),
          col("src_text").as("text"))
      val all = d.unionByName(plants).localCheckpoint()
      val corpus0 = d.filter(col("doc_id") % 5 =!= 0)
      var index = MinHashDedup.buildIndex(corpus0, "doc_id", "text")
      val scratch = graft.core.ScratchDirs.lease("graft-rolling-compact-")
      try {
        val ledger = (0 until 4).map { k =>
          val batch = all.filter(col("doc_id") % 4 === k)
          // the extension rides the cycle's probe index — the survivors
          // are never shingled a second time
          val (_, c, ext) = IncrementalIngest.cycleWithExtension(
            index, batch, "doc_id", "text")
          index = MinHashDedup.extendWith(index, ext)
          if (k % 2 == 1)
            index = MinHashDedup.compactIndex(index, s"$scratch/compact_$k")
          (k.toLong, c(0), c(1), c(2), c(3))
        }
        // createDataset of a driver-held seq — nothing reads scratch
        // after the release below
        s.createDataset(ledger)
          .toDF("shard", "n_batch", "n_after_exact", "n_after_intra",
            "n_survivors")
          .orderBy(col("shard"))
      } finally graft.core.ScratchDirs.release(scratch)
    },

    // STREAMING twin of q231 — the SAME rolling semantics (and the SAME
    // oracle: one-oracle-two-modes, the q198/q199 discipline) under a
    // real StreamingQuery, composed the way a continuous crawl actually
    // runs: shard files arrive OVER TIME, and each arrival is drained by
    // an AvailableNow run that RESUMES from the shared checkpoint — four
    // stream restarts, each seeing exactly the one new file, with the
    // grown index carried across restarts on the driver. This makes the
    // batch order driver-controlled (stage shard k, drain, extend,
    // repeat), so the rolling ledger is deterministic without relying on
    // file-listing or modification-time order — the one thing a
    // maxFilesPerTrigger stream of a pre-staged directory cannot
    // guarantee. The foreachBatch body enforces the invariant loudly:
    // exactly one shard cohort per micro-batch, in staged order.
    //
    // 100 TB shape: this IS the production loop — a daily crawl drop
    // lands, the resumed job processes only the new files (checkpointed
    // source offsets), every stage costs ∝ the drop, and the index grows
    // by survivors only (extendIndex), with periodic compaction per its
    // scaladoc. State across restarts is {checkpoint, index frames},
    // both durable in the real deployment.
    "q232_stream_rolling_ingest" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.Trigger
      val d = docs(s, dir).select(col("doc_id"), col("text")).localCheckpoint()
      val srcText = d.select((col("doc_id") + 5L).as("doc_id"),
        col("text").as("src_text"))
      val plants = d.filter(col("doc_id") % 20 === 5)
        .join(srcText, "doc_id")
        .select((col("doc_id") + 5000000L).as("doc_id"),
          col("src_text").as("text"))
      val all = d.unionByName(plants).localCheckpoint()
      val corpus0 = d.filter(col("doc_id") % 5 =!= 0)
      val index = new java.util.concurrent.atomic.AtomicReference(
        MinHashDedup.buildIndex(corpus0, "doc_id", "text"))
      val scratch = graft.core.ScratchDirs.lease("graft-rolling-stream-")
      try {
        val inDir = new java.io.File(s"$scratch/in"); inDir.mkdirs(): Unit
        val ledgerDir = s"$scratch/ledger"
        val ckptDir = s"$scratch/ckpt"
        val staged = new java.util.concurrent.atomic.AtomicLong(-1L)
        val drained = new java.util.concurrent.atomic.AtomicLong(0L)
        // stage all four shard files UP FRONT into tmp dirs outside the
        // watched inDir — four independent writes of the checkpointed
        // `all`, overlapped ([[graft.core.Overlap]]) instead of one
        // driver-sequenced write job per drain. Each loop iteration
        // below only MOVES one file in, so arrival order and the
        // one-new-file-per-drain invariant are byte-identical.
        val parts = graft.core.Overlap.all((0 until 4).map { k => () =>
          val tmp = s"$scratch/tmp_$k"
          all.filter(col("doc_id") % 4 === k)
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          new java.io.File(tmp).listFiles()
            .find(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no parquet part file in $tmp"))
        })
        (0 until 4).foreach { k =>
          // shard k ARRIVES: one new file in the watched dir, then drain
          java.nio.file.Files.move(parts(k).toPath,
            new java.io.File(inDir, f"shard-$k%04d.parquet").toPath): Unit
          staged.set(k.toLong)
          val q = s.readStream
            .schema("doc_id LONG, text STRING")
            .format("parquet")
            .load(inDir.getAbsolutePath)
            .writeStream
            .foreachBatch { (batch0: DataFrame, batchId: Long) =>
              {
                val sp = batch0.sparkSession
                import sp.implicits._
                // cohort assertion rides the checkpoint job itself
                // (Dataset.observe) — zero extra passes. The checkpoint
                // is LOAD-BEARING beyond lineage (r19, measured): a
                // streaming-derived batch plan carries NO size
                // statistics, so feeding the cycle the raw micro-batch
                // flips the batch-vs-corpus joins from broadcast to
                // sort-merge (q232 9.1 s → 24 s in the experiment);
                // materializing the drop first gives the planner a
                // sized LogicalRDD.
                val obsB = org.apache.spark.sql.Observation()
                val b = batch0
                  .observe(obsB, collect_set(col("doc_id") % 4).as("cohorts"))
                  .localCheckpoint()
                // An AvailableNow empty timeout batch reads NO cohorts
                // from this observe (absent metrics ≡ empty) and skips
                // below: the empty checkpoint is near-free, where the
                // old separate isEmpty probe paid one extra job per
                // REAL drain (§1.4).
                val cohorts = obsB.get.get("cohorts")
                  .map(_.asInstanceOf[scala.collection.Seq[Long]])
                  .getOrElse(Seq.empty[Long]).sorted
                if (cohorts.nonEmpty) {
                  require(cohorts.length == 1 && cohorts.head == staged.get,
                    s"micro-batch must be exactly the staged shard ${staged.get}, " +
                      s"got cohorts ${cohorts.sorted.mkString(",")} — the " +
                      "rolling ledger would be order-scrambled")
                  val (_, c, ext) = IncrementalIngest.cycleWithExtension(
                    index.get, b, "doc_id", "text")
                  index.set(MinHashDedup.extendWith(index.get, ext))
                  // batchId-keyed partition overwrite: a replayed
                  // micro-batch rewrites its own ledger partition instead
                  // of double-appending — exactly-once under retry
                  // ([[graft.streaming.ExactlyOnce]]; batchIds keep
                  // incrementing across the checkpoint-resumed restarts,
                  // so every drain owns a distinct partition)
                  graft.streaming.ExactlyOnce.appendKeyed(
                    Seq((cohorts.head, c(0), c(1), c(2), c(3)))
                      .toDF("shard", "n_batch", "n_after_exact",
                        "n_after_intra", "n_survivors"),
                    ledgerDir, batchId)
                  drained.incrementAndGet(): Unit
                }
              }
            }
            .option("checkpointLocation", ckptDir)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        require(drained.get == 4L,
          s"expected 4 drained shard batches, got ${drained.get}")
        s.read.parquet(ledgerDir)
          .select(col("shard"), col("n_batch"), col("n_after_exact"),
            col("n_after_intra"), col("n_survivors"))
          .localCheckpoint(true)
          .orderBy(col("shard"))
      } finally graft.core.ScratchDirs.release(scratch)
    },

    // Exact-substring dedup (Lee et al. 2021's ExactSubstr, Spark-first):
    // spans >= 40 chars appearing verbatim >= 2 times corpus-wide,
    // detected by char-window hashing + one hash-keyed aggregation
    // (never pairwise), merged per doc. Corpus = documents ∪ planted
    // "quotes" (every 9th long doc re-published with its first 150 chars
    // embedded under fresh chrome — the license/boilerplate shape that
    // survives document-level dedup). Oracle recomputes every stage from
    // window STRINGS (the engine groups 64-bit XXH64 window hashes —
    // equality holds up to collisions, P ~ 1e-8 at sf0.1, over-mark-only
    // polarity, the q21 determinism argument).
    "q233_substr_spans" -> { (s, dir) =>
      ExactSubstr.report(substrCorpus(s, dir), "doc_id", "text", width = 40)
        .orderBy("doc_id")
    },

    // The removal side: clean_text = the doc with every duplicated span
    // cut out (possibly "" when the whole text is duplicated — planted
    // quotes guarantee both classes live). Oracle rebuilds each cleaned
    // string from the inter-span segments with ordered string_agg.
    "q234_substr_scrub" -> { (s, dir) =>
      ExactSubstr.scrub(substrCorpus(s, dir), "doc_id", "text", width = 40)
        .orderBy("doc_id")
    },

    // Same semantics as q48, but with the driver-side union-find DISABLED
    // (maxLocalEdges = 0): this forces the distributed min-label-propagation
    // path — the one a 100 TB edge set would take — so the scale path itself
    // is DuckDB-checked at verify/bench scale every round, not only on the
    // synthetic graphs in ConnectedComponentsSpec.
    "q75_components_distributed" -> { (s, dir) =>
      val d = docs(s, dir)
      val edges = NgramJaccard.similarPairs(d, "doc_id", "text", threshold = 0.5)
      ConnectedComponents.assign(
        d.select(col("doc_id").as("id")), edges, maxLocalEdges = 0L)
        .orderBy("id")
    },

    // Exact n-gram Jaccard all-pairs at ≥ 0.5 — the brute-force ground
    // truth the LSH paths are checked against.
    "q23_ngram_jaccard" -> { (s, dir) =>
      NgramJaccard.similarPairs(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // Exact Jaccard join via PREFIX FILTERING (PrefixJaccard) — the
    // scalable exact path between q23's all-shingle posting join and
    // q21's probabilistic LSH: discovery touches only each set's
    // rarest n - ceil(t·n) + 1 shingles, with zero recall loss by the
    // prefix lemma. Same output contract as q23, same oracle: the
    // naive all-pairs recompute in DuckDB.
    "q150_prefix_jaccard" -> { (s, dir) =>
      PrefixJaccard.similarPairs(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // Incremental near-dup: a "new batch" (every 10th doc under shifted
    // ids, text unchanged) probes the LSH index of the full corpus.
    // Oracle is the exact cross-set Jaccard at ≥ 0.5 — equality holds by
    // the same banded-recall argument as q21 (all qualifying pairs are
    // exact copies or ≥ 0.8 planted near-dups).
    "q62_incremental_probe" -> { (s, dir) =>
      val corpus = docs(s, dir)
      val newBatch = corpus.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
      val index = MinHashDedup.buildIndex(corpus, "doc_id", "text")
      MinHashDedup.probe(newBatch, index, "doc_id", "text", threshold = 0.5)
        .orderBy("new_id", "corpus_id")
    },

    // Benchmark-contamination scan: corpus docs sharing any 8-gram with
    // the "benchmark" subset (every 5th doc), with the count of distinct
    // shared 8-grams. Oracle compares on shingle strings (same
    // cardinalities as our hashes barring in-doc xxhash64 collisions).
    "q58_contamination" -> { (s, dir) =>
      val d = docs(s, dir)
      Contamination.flagged(
        corpus = d.filter(col("doc_id") % 5 =!= 0),
        benchmark = d.filter(col("doc_id") % 5 === 0),
        idCol = "doc_id", textCol = "text", w = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Leakage-free split contract (componentSplit): every copy of a text
    // must land in the SAME train/test split, because split ids hash the
    // COMPONENT id, not the row id. Components here come from the exact-
    // duplicate graph (star edges inside each duplicated-text group), so
    // the component count is a pure text fact the oracle can pin:
    // distinct texts. Split values are xxhash64-defined (not oracle-
    // reproducible); the leak counter is computed from the engine's own
    // assignment and must be zero. NOTE the counter pins the "split is a
    // pure function of the component id" contract, not component
    // correctness (which n_components pins): since componentSplit hashes
    // the component id, countDistinct(split) per component is
    // structurally 1. ConnectedComponentsSpec's negative control shows
    // the counter fires when splitting by row id instead.
    "q69_split_leakage" -> { (s, dir) =>
      val dd = docsWithDuplicates(s, dir)
      val groups = dd.groupBy(col("text"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1)
      val edges = groups.select(
        col("ids").getItem(0).as("id_a"),
        explode(expr("slice(ids, 2, size(ids) - 1)")).as("id_b"))
      val labeled = ConnectedComponents.assign(
        dd.select(col("doc_id").as("id")), edges)
      val perComp = ConnectedComponents.componentSplit(labeled, splits = 10)
        .groupBy(col("component"))
        .agg(countDistinct(col("split")).as("ns"), count(lit(1)).as("sz"))
      perComp.agg(
        sum(col("sz")).cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_components"),
        sum(when(col("ns") > 1, 1L).otherwise(0L)).cast("long").as("n_leaky_components"))
    },

    // Cross-document duplicated 8-gram accounting (CrossDocNgrams) — the
    // corpus-global verbatim-sharing score behind RefinedWeb-style
    // substring dedup. String-keyed mode here so DuckDB recomputes the
    // whole result EXACTLY; CrossDocNgramsSpec pins the hash-keyed scale
    // path to this same output on the same data.
    "q98_crossdoc_ngrams" -> { (s, dir) =>
      CrossDocNgrams.stats(docs(s, dir), "doc_id", "text", w = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Duplicated-span REMOVAL (CrossDocNgrams.trim) — the cleaned corpus
    // q98 only accounts for: every maximal run of ≥2 consecutive shared
    // 8-grams is cut out of the text. String-keyed so the DuckDB oracle
    // recomputes the kept text character-exactly; the hash-keyed scale
    // path is pinned ≡ string in CrossDocNgramsSpec.
    "q109_span_trim" -> { (s, dir) =>
      CrossDocNgrams.trim(docs(s, dir), "doc_id", "text", w = 8, minDocs = 2, minRun = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // CCNet-style line-level exact dedup ([[LineDedup]]): the corpus is
    // rebuilt as multi-line pages with planted boilerplate — a mailing-
    // list header and copyright footer on every doc (freq = corpus
    // size), a 'special offer' line on every 3rd doc, a 'group marker
    // k' line shared by doc_id%100 cohorts, and the real text split
    // into two unique lines. With maxFreq = 10 the ubiquitous chrome
    // dies, cohort markers live or die by the SF-dependent cohort size,
    // and the prose always survives in original order — all recomputed
    // line-exactly by the oracle.
    "q217_line_dedup" -> { (s, dir) =>
      val ws = split(col("text"), " ")
      val built = docs(s, dir).select(
        col("doc_id"),
        // concat_ws skips the null CASE branch natively
        concat_ws("\n",
          lit("join our mailing list today"),
          concat_ws(" ", slice(ws, 1, 7)),
          concat_ws(" ", slice(ws, 8, 1000000)),
          when(col("doc_id") % 3 === 0, lit("special offer for subscribers")),
          concat(lit("group marker "), (col("doc_id") % 100).cast("string")),
          lit("all rights reserved 2026")).as("text"))
      LineDedup.dedup(built, "doc_id", "text", maxFreq = 10)
        .orderBy("doc_id")
    },

    // keepFirst line dedup on the same planted pages: every line keeps
    // exactly its corpus-first (doc_id, pos) occurrence — doc 0 keeps
    // the chrome, everyone later loses it; each 'group marker k' line
    // survives only in its cohort's smallest doc.
    "q219_line_keepfirst" -> { (s, dir) =>
      val ws = split(col("text"), " ")
      val built = docs(s, dir).select(
        col("doc_id"),
        concat_ws("\n",
          lit("join our mailing list today"),
          concat_ws(" ", slice(ws, 1, 7)),
          concat_ws(" ", slice(ws, 8, 1000000)),
          when(col("doc_id") % 3 === 0, lit("special offer for subscribers")),
          concat(lit("group marker "), (col("doc_id") % 100).cast("string")),
          lit("all rights reserved 2026")).as("text"))
      LineDedup.keepFirst(built, "doc_id", "text")
        .orderBy("doc_id")
    },

    // Thresholded decontamination verdict (q58's split, but the
    // RefinedWeb fraction rule instead of any-overlap): every corpus doc
    // with its benchmark-overlap fraction and the quarantine verdict at
    // 5% — both verdict classes live on this data. The verdict compares
    // the UNROUNDED fraction on both sides.
    "q107_contamination_verdict" -> { (s, dir) =>
      val d = docs(s, dir)
      Contamination.overlapVerdict(
        corpus = d.filter(col("doc_id") % 5 =!= 0),
        benchmark = d.filter(col("doc_id") % 5 === 0),
        idCol = "doc_id", textCol = "text", w = 8, minOverlap = 0.05)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }
  )

  /** Shared DuckDB fragment: distinct 3-shingle hashes per doc ≡
    * Shingles.shingleSet semantics (whitespace split, space-joined
    * 3-grams) — except hashes: DuckDB can't reproduce xxhash64, so the
    * oracle compares on shingle *strings*; set cardinalities are identical
    * barring xxhash64 collisions within a doc (none at these sizes).
    */
  /** Shared by WarcQueries' crawl-loop oracle (private[graft], not
    * private: the q242 composite reuses the trigram-Jaccard machinery).
    */
  private[graft] val shingleSetsSql =
    """toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |idx AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) i FROM toks WHERE len(ts) >= 3),
      |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] s FROM idx),
      |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT id_a, id_b,
      |    n_common::DOUBLE / (x.n + y.n - n_common) jaccard
      |  FROM inter
      |  JOIN sz x ON x.doc_id = id_a
      |  JOIN sz y ON y.doc_id = id_b)""".stripMargin

  /** DuckDB recompute of one full ingest cycle (q80/q81): batch synthesis
    * arithmetic, min-bid-per-text exact dedup, exact-Jaccard graph +
    * recursive min-label components for the intra-batch stage, the exact
    * corpus text-match kill, and the cross-corpus exact-Jaccard probe.
    * Ends with CTEs `batch`, `exact`, `intra`, and `surv` for the oracles
    * to select from.
    */
  private val ingestStagesSql =
    """t15 AS (SELECT doc_id, string_split(text, ' ') ts FROM documents WHERE doc_id % 15 = 0),
      |i15 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) i FROM t15 WHERE len(ts) >= 3),
      |ok15 AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, count(DISTINCT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) n
      |    FROM i15 GROUP BY doc_id) WHERE n >= 18),
      |batch AS (
      |  SELECT doc_id + 1000000 AS bid, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT d.doc_id + 4000000, d.text || ' zzqq' || d.doc_id || 'tail'
      |  FROM documents d JOIN ok15 USING (doc_id)
      |  UNION ALL
      |  SELECT doc_id + 2000000, trim(repeat('zzqq' || doc_id || ' ', 20))
      |  FROM documents WHERE doc_id % 7 = 0),
      |exact AS (SELECT min(bid) AS bid, text FROM batch GROUP BY text),
      |btoks AS (SELECT bid, string_split(text, ' ') ts FROM exact),
      |bidx AS (SELECT bid, ts, unnest(range(1, len(ts) - 1)) i FROM btoks WHERE len(ts) >= 3),
      |bsh AS (SELECT DISTINCT bid, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] s FROM bidx),
      |bsz AS (SELECT bid, count(*) n FROM bsh GROUP BY 1),
      |binter AS (
      |  SELECT a.bid ba, b.bid bb, count(*) c
      |  FROM bsh a JOIN bsh b ON a.s = b.s AND a.bid < b.bid GROUP BY 1, 2),
      |bedges AS (
      |  SELECT ba, bb FROM binter
      |  JOIN bsz x ON x.bid = ba JOIN bsz y ON y.bid = bb
      |  WHERE c * 1.0 / (x.n + y.n - c) >= 0.5),
      |bsym AS (SELECT ba s, bb d FROM bedges UNION ALL SELECT bb, ba FROM bedges),
      |breach AS (
      |  SELECT bid AS id, bid AS r FROM exact
      |  UNION
      |  SELECT breach.id, bsym.d FROM breach JOIN bsym ON breach.r = bsym.s),
      |intra AS (
      |  SELECT id AS bid FROM (SELECT id, min(r) comp FROM breach GROUP BY id)
      |  WHERE id = comp),
      |ctoks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |cidx AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) i FROM ctoks WHERE len(ts) >= 3),
      |csh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] s FROM cidx),
      |csz AS (SELECT doc_id, count(*) n FROM csh GROUP BY 1),
      |noexact AS (
      |  SELECT i.bid FROM intra i JOIN exact e ON e.bid = i.bid
      |  WHERE e.text NOT IN (SELECT text FROM documents)),
      |xinter AS (
      |  SELECT b.bid, c.doc_id, count(*) cc
      |  FROM bsh b JOIN noexact i ON i.bid = b.bid JOIN csh c ON b.s = c.s
      |  GROUP BY 1, 2),
      |xhit AS (
      |  SELECT DISTINCT x.bid FROM xinter x
      |  JOIN bsz bz ON bz.bid = x.bid JOIN csz cz ON cz.doc_id = x.doc_id
      |  WHERE cc * 1.0 / (bz.n + cz.n - cc) >= 0.5),
      |surv AS (SELECT bid FROM noexact WHERE bid NOT IN (SELECT bid FROM xhit))""".stripMargin

  /** q233/q234/q237 corpus: documents ∪ a re-published "quote" of every
    * 9th long doc (its first 150 chars under fresh chrome) —
    * deterministic cross-doc verbatim spans with exactly known extent.
    * Shared with TextQueries' q237 composite (one definition, engine +
    * SQL, so the plant rule cannot drift between the span queries and
    * the curation composite).
    */
  private[graft] def substrCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") % 9 === 0 && length(col("text")) >= 160)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(lit("QUOTED "), col("doc_id").cast("string"), lit(": "),
            substring(col("text"), 1, 150), lit(" :ENDQUOTE")).as("text")))
  }

  /** SQL mirror of [[substrCorpus]] — ONE definition of the plant rule
    * for every oracle over that corpus (q233/q234 here, q237 in
    * TextQueries).
    */
  private[graft] val substrCorpusSql: String =
    """corpus AS MATERIALIZED (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 6000000,
      |    'QUOTED ' || doc_id::VARCHAR || ': ' || substr(text, 1, 150) || ' :ENDQUOTE'
      |  FROM documents WHERE doc_id % 9 = 0 AND length(text) >= 160)""".stripMargin

  /** Shared q233/q234 oracle prefix: the planted corpus, all width-40
    * char windows (positions in CHARACTERS, matching the kernel), the
    * over-the-bar window set by STRING equality, and the per-doc merged
    * spans — the same sorted-interval merge the engine runs (fixed width
    * ⇒ running max end = previous pos + width).
    */
  private val substrSpansPrefix: String =
    s"""WITH $substrCorpusSql,
      |w AS MATERIALIZED (
      |  SELECT doc_id, pos, substr(text, pos, 40) AS win
      |  FROM (SELECT doc_id, text,
      |          unnest(range(1, greatest(length(text) - 38, 1))) AS pos
      |        FROM corpus)),
      |duph AS MATERIALIZED (
      |  SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
      |mk AS MATERIALIZED (
      |  SELECT w.doc_id, w.pos FROM w JOIN duph USING (win)),
      |sp AS MATERIALIZED (
      |  SELECT doc_id, sid, min(pos) AS s, max(pos) + 40 AS e
      |  FROM (SELECT doc_id, pos,
      |          sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
      |        FROM (SELECT doc_id, pos,
      |                CASE WHEN pos > coalesce(lag(pos) OVER (
      |                    PARTITION BY doc_id ORDER BY pos), -2147483648) + 40
      |                  THEN 1 ELSE 0 END AS ns
      |              FROM mk))
      |  GROUP BY doc_id, sid)""".stripMargin

  /** DuckDB recompute of the q231 ROLLING ingest: the q80 cycle unrolled
    * four times, stage k's corpus = base (doc_id % 5 <> 0) ∪ survivors
    * of stages 0..k-1. Everything reduces to the ID level through two
    * shared frames — `jsym` (the symmetric exact-Jaccard ≥ 0.5 pair set
    * over documents) and `tg` (text-group ids, so text equality is tgrp
    * equality even if the base corpus ever carried duplicate texts) —
    * because every batch text IS some document's text (plants copy the
    * doc five ids earlier). Stage CTEs are AS MATERIALIZED: the unrolled
    * chain references each survivor set up to seven times and inlining
    * would blow up the plan.
    */
  private val rollingIngestSql: String = {
    val head =
      s"""$shingleSetsSql,
         |jsym AS MATERIALIZED (
         |  SELECT id_a a, id_b b FROM jac WHERE jaccard >= 0.5
         |  UNION ALL SELECT id_b, id_a FROM jac WHERE jaccard >= 0.5),
         |tg AS MATERIALIZED (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS tgrp
         |  FROM documents),
         |b AS MATERIALIZED (
         |  SELECT doc_id AS bid, doc_id AS src, doc_id % 4 AS shard
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 5000000, doc_id - 5, 1
         |  FROM documents WHERE doc_id % 20 = 5),
         |corp0 AS MATERIALIZED (
         |  SELECT t.tgrp FROM documents d JOIN tg t ON t.doc_id = d.doc_id
         |  WHERE d.doc_id % 5 <> 0)""".stripMargin
    val stages = (0 until 4).map { k =>
      val priorT =
        if (k == 0) "SELECT tgrp FROM corp0 WHERE false"
        else (0 until k).map(j => s"SELECT tgrp FROM surv_$j")
          .mkString(" UNION ALL ")
      val priorS =
        if (k == 0) "SELECT bid AS doc FROM b WHERE false"
        else (0 until k).map(j => s"SELECT src AS doc FROM surv_$j")
          .mkString(" UNION ALL ")
      s"""ex_$k AS MATERIALIZED (
         |  SELECT min(b.bid) AS bid, arg_min(b.src, b.bid) AS src, t.tgrp
         |  FROM b JOIN tg t ON t.doc_id = b.src WHERE b.shard = $k
         |  GROUP BY t.tgrp),
         |prior_t_$k AS MATERIALIZED ($priorT),
         |prior_s_$k AS MATERIALIZED ($priorS),
         |edges_$k AS MATERIALIZED (
         |  SELECT x.bid AS s, y.bid AS d
         |  FROM ex_$k x JOIN ex_$k y ON x.bid <> y.bid
         |  JOIN jsym j ON j.a = x.src AND j.b = y.src),
         |reach_$k AS (
         |  SELECT bid AS id, bid AS r FROM ex_$k
         |  UNION
         |  SELECT reach_$k.id, edges_$k.d FROM reach_$k
         |  JOIN edges_$k ON reach_$k.r = edges_$k.s),
         |intra_$k AS MATERIALIZED (
         |  SELECT id AS bid FROM (
         |    SELECT id, min(r) AS comp FROM reach_$k GROUP BY id)
         |  WHERE id = comp),
         |noex_$k AS MATERIALIZED (
         |  SELECT e.bid, e.src, e.tgrp
         |  FROM intra_$k i JOIN ex_$k e ON e.bid = i.bid
         |  WHERE e.tgrp NOT IN (SELECT tgrp FROM corp0)
         |    AND e.tgrp NOT IN (SELECT tgrp FROM prior_t_$k)),
         |surv_$k AS MATERIALIZED (
         |  SELECT n.bid, n.src, n.tgrp FROM noex_$k n
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM jsym j
         |    WHERE j.a = n.src AND (
         |      j.b IN (SELECT d.doc_id FROM documents d WHERE d.doc_id % 5 <> 0)
         |      OR j.b IN (SELECT doc FROM prior_s_$k))))""".stripMargin
    }
    val finals = (0 until 4).map { k =>
      s"""SELECT $k::BIGINT AS shard,
         |  (SELECT count(*) FROM b WHERE shard = $k)::BIGINT AS n_batch,
         |  (SELECT count(*) FROM ex_$k)::BIGINT AS n_after_exact,
         |  (SELECT count(*) FROM intra_$k)::BIGINT AS n_after_intra,
         |  (SELECT count(*) FROM surv_$k)::BIGINT AS n_survivors""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH RECURSIVE\n$head,\n${stages.mkString(",\n")}\n$finals\nORDER BY shard"
  }

  /** Transitive closure over the exact-Jaccard ≥ 0.5 edge set — the
    * component oracle shared by q48 (adaptive path) and q75 (forced
    * distributed path); both must produce the identical min-id labeling.
    */
  private val componentsOracle =
    s"""WITH RECURSIVE $shingleSetsSql,
       |edges AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
       |sym AS (
       |  SELECT id_a s, id_b d FROM edges
       |  UNION ALL SELECT id_b, id_a FROM edges),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM documents
       |  UNION
       |  SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s)
       |SELECT id, min(r) AS component
       |FROM reach GROUP BY id ORDER BY id""".stripMargin

  val oracles: Map[String, String] = Map(
    // Contract row for the SimHash pair set: DuckDB pins corpus size and
    // the identical-text pair count (the recall floor the Hamming-0 rule
    // guarantees) plus zero misses and true validity/uniqueness booleans.
    "q22_simhash_nearpairs" ->
      s"""WITH all_docs AS ($docsWithDuplicatesSql)
         |SELECT (SELECT count(*) FROM all_docs)::BIGINT AS n_docs,
         |  (SELECT count(*) FROM all_docs a JOIN all_docs b
         |     ON a.text = b.text AND a.doc_id < b.doc_id)::BIGINT
         |    AS n_same_text_pairs,
         |  0::BIGINT AS n_identical_missed,
         |  true AS pairs_valid_ok,
         |  true AS pairs_unique_ok""".stripMargin,

    // DuckDB computes the EXPECTED planted-pair count from text equality
    // (the base corpus ships duplicate-free, so identical-text pairs are
    // exactly the planted copies); Spark must find every one through the
    // SimHash chunk join, with zero contract violations.
    "q65_simhash_planted" ->
      """SELECT count(*)::BIGINT AS planted_pairs_found,
        |  0::BIGINT AS ordering_violations,
        |  0::BIGINT AS hamming_violations
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin,

    "q19_dedup_keepfirst" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) rn
        |  FROM orders) WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,

    "q20_dedup_exact" ->
      s"""WITH all_docs AS ($docsWithDuplicatesSql)
         |SELECT min(doc_id) AS kept_id, count(*) AS n_copies
         |FROM all_docs GROUP BY text HAVING count(*) > 1
         |ORDER BY kept_id""".stripMargin,

    "q123_source_overlap" ->
      """WITH all_docs AS (
        |  SELECT text, source FROM documents
        |  UNION ALL
        |  SELECT text, 'mirror' AS source FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT text, 'crawl2' AS source FROM documents WHERE doc_id % 7 = 0),
        |t AS (SELECT DISTINCT text, source FROM all_docs)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_shared
        |FROM t a JOIN t b ON a.text = b.text AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q21_minhash_neardup" ->
      s"""WITH $shingleSetsSql
         |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         |FROM jac WHERE jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "q80_ingest_survivors" ->
      s"""WITH RECURSIVE $ingestStagesSql
         |SELECT bid AS doc_id FROM surv ORDER BY doc_id""".stripMargin,

    "q81_ingest_report" ->
      s"""WITH RECURSIVE $ingestStagesSql
         |SELECT
         |  (SELECT count(*) FROM batch)::BIGINT AS n_batch,
         |  (SELECT count(*) FROM exact)::BIGINT AS n_after_exact,
         |  (SELECT count(*) FROM intra)::BIGINT AS n_after_intra,
         |  (SELECT count(*) FROM surv)::BIGINT AS n_survivors""".stripMargin,

    "q231_rolling_ingest" -> rollingIngestSql,

    // ONE oracle, two modes (the q198/q199 discipline): the streaming
    // checkpoint-resumed run must land on the identical rolling ledger.
    "q232_stream_rolling_ingest" -> rollingIngestSql,

    "q233_substr_spans" ->
      s"""$substrSpansPrefix
         |SELECT c.doc_id,
         |  coalesce(st.n_spans, 0)::BIGINT AS n_spans,
         |  coalesce(st.dup_chars, 0)::BIGINT AS dup_chars,
         |  coalesce(st.max_span, 0)::BIGINT AS max_span
         |FROM corpus c LEFT JOIN (
         |  SELECT doc_id, count(*) AS n_spans, sum(e - s) AS dup_chars,
         |    max(e - s) AS max_span
         |  FROM sp GROUP BY doc_id) st USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin,

    "q234_substr_scrub" ->
      s"""$substrSpansPrefix,
         |seg AS (
         |  SELECT doc_id,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS a,
         |    s AS b
         |  FROM sp
         |  UNION ALL
         |  SELECT sp.doc_id, max(sp.e) AS a, min(length(c.text)) + 1 AS b
         |  FROM sp JOIN corpus c USING (doc_id) GROUP BY sp.doc_id),
         |agg AS (
         |  SELECT g.doc_id,
         |    string_agg(substr(c.text, g.a, g.b - g.a), '' ORDER BY g.a) AS clean
         |  FROM seg g JOIN corpus c USING (doc_id) GROUP BY g.doc_id)
         |SELECT c.doc_id, coalesce(a.clean, c.text) AS clean_text
         |FROM corpus c LEFT JOIN agg a USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin,

    "q48_dup_components" -> componentsOracle,

    // q75 runs the distributed label-propagation path over the SAME edge
    // set — the component labels must be identical, so it shares q48's
    // transitive-closure oracle verbatim.
    "q75_components_distributed" -> componentsOracle,

    "q23_ngram_jaccard" ->
      s"""WITH $shingleSetsSql
         |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         |FROM jac WHERE jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    // q150: prefix filtering is exact-complete, so the oracle is the
    // same naive all-pairs computation q23 checks against.
    "q150_prefix_jaccard" ->
      s"""WITH $shingleSetsSql
         |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         |FROM jac WHERE jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "q62_incremental_probe" ->
      s"""WITH $shingleSetsSql,
         |nsz AS (SELECT doc_id + 1000000 AS new_id, n FROM sz WHERE doc_id % 10 = 0),
         |nsh AS (SELECT doc_id + 1000000 AS new_id, s FROM sh WHERE doc_id % 10 = 0),
         |ninter AS (
         |  SELECT n.new_id, c.doc_id corpus_id, count(*) n_common
         |  FROM nsh n JOIN sh c ON n.s = c.s
         |  GROUP BY 1, 2),
         |njac AS (
         |  SELECT ninter.new_id, corpus_id,
         |    n_common::DOUBLE / (x.n + y.n - n_common) jaccard
         |  FROM ninter
         |  JOIN nsz x ON x.new_id = ninter.new_id
         |  JOIN sz y ON y.doc_id = corpus_id)
         |SELECT new_id, corpus_id, round(jaccard, 6) AS jaccard
         |FROM njac WHERE jaccard >= 0.5
         |ORDER BY new_id, corpus_id""".stripMargin,

    // Same 8-gram construction as q58's fragment, but counting per-doc
    // occurrences (multiplicity kept) and corpus-wide document frequency.
    "q98_crossdoc_ngrams" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |idx AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) i
        |        FROM toks WHERE len(ts) >= 8),
        |g AS (SELECT doc_id,
        |    ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]
        |      ||' '||ts[i+5]||' '||ts[i+6]||' '||ts[i+7] s
        |  FROM idx),
        |pdg AS (SELECT doc_id, s, count(*) n_occ FROM g GROUP BY 1, 2),
        |df AS (SELECT s FROM pdg GROUP BY s HAVING count(*) >= 2),
        |dup AS (
        |  SELECT doc_id, sum(n_occ) n_dup_occ, count(*) n_dup_distinct
        |  FROM pdg JOIN df USING (s) GROUP BY 1),
        |tot AS (SELECT doc_id,
        |    greatest(len(string_split(text, ' ')) - 7, 0) n_grams
        |  FROM documents)
        |SELECT t.doc_id, t.n_grams::BIGINT AS n_grams,
        |  coalesce(d.n_dup_occ, 0)::BIGINT AS n_dup_occ,
        |  coalesce(d.n_dup_distinct, 0)::BIGINT AS n_dup_distinct,
        |  CASE WHEN t.n_grams > 0
        |    THEN round(coalesce(d.n_dup_occ, 0) / t.n_grams::DOUBLE, 6)
        |    ELSE 0.0 END AS dup_frac
        |FROM tot t LEFT JOIN dup d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q98's 8-gram construction, then gaps-and-islands over shared gram
    // positions (i - row_number per doc), runs of ≥2 to covered token
    // intervals [s, s+len+w-2], and the kept text re-assembled
    // token-exactly (both sides are shift-invariant: Spark positions are
    // 0-based, these 1-based).
    "q109_span_trim" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |idx AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) i
        |        FROM toks WHERE len(ts) >= 8),
        |g AS (SELECT doc_id, i,
        |    ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]
        |      ||' '||ts[i+5]||' '||ts[i+6]||' '||ts[i+7] s
        |  FROM idx),
        |pdg AS (SELECT DISTINCT doc_id, s FROM g),
        |df AS (SELECT s FROM pdg GROUP BY s HAVING count(*) >= 2),
        |sp AS (SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) grp
        |  FROM g JOIN df USING (s)),
        |runs AS (SELECT doc_id, min(i) s, count(*) len
        |  FROM sp GROUP BY doc_id, grp HAVING count(*) >= 2),
        |ivs AS (SELECT doc_id, s, s + len + 6 e FROM runs),
        |tok AS (SELECT doc_id, ts[i] tok, i
        |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) i FROM toks)),
        |removed AS (SELECT DISTINCT t.doc_id, t.i
        |  FROM tok t JOIN ivs v ON t.doc_id = v.doc_id AND t.i BETWEEN v.s AND v.e),
        |keptagg AS (
        |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.i) clean_text,
        |    count(*) n_kept
        |  FROM tok t LEFT JOIN removed r ON t.doc_id = r.doc_id AND t.i = r.i
        |  WHERE r.i IS NULL GROUP BY t.doc_id)
        |SELECT tk.doc_id, coalesce(k.clean_text, '') AS clean_text,
        |  len(tk.ts)::BIGINT AS n_tokens,
        |  (len(tk.ts) - coalesce(k.n_kept, 0))::BIGINT AS n_removed
        |FROM toks tk LEFT JOIN keptagg k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Same planted page construction, then line frequencies and the
    // ordered rebuild — string_agg skips the over-the-bar CASE nulls,
    // generate_subscripts supplies the original line order.
    "q217_line_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |built AS (
        |  SELECT doc_id, list_filter([
        |      'join our mailing list today',
        |      array_to_string(ws[1:7], ' '),
        |      array_to_string(ws[8:], ' '),
        |      CASE WHEN doc_id % 3 = 0 THEN 'special offer for subscribers' END,
        |      'group marker ' || (doc_id % 100)::VARCHAR,
        |      'all rights reserved 2026'
        |    ], x -> x IS NOT NULL) AS lines
        |  FROM w),
        |l AS (
        |  SELECT doc_id, generate_subscripts(lines, 1) AS ord,
        |    unnest(lines) AS line
        |  FROM built),
        |c AS (SELECT line, count(*) AS freq FROM l GROUP BY 1),
        |f AS (SELECT l.doc_id, l.line, l.ord, c.freq FROM l JOIN c USING (line))
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN freq <= 10 THEN line END,
        |    chr(10) ORDER BY ord), '') AS text,
        |  CAST(count(*) FILTER (WHERE freq <= 10) AS BIGINT) AS n_lines_kept,
        |  CAST(count(*) FILTER (WHERE freq > 10) AS BIGINT) AS n_lines_dropped
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same pages; first occurrence = row_number 1 over (line → doc_id,
    // ord), mirroring the engine's min-struct aggregation.
    "q219_line_keepfirst" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |built AS (
        |  SELECT doc_id, list_filter([
        |      'join our mailing list today',
        |      array_to_string(ws[1:7], ' '),
        |      array_to_string(ws[8:], ' '),
        |      CASE WHEN doc_id % 3 = 0 THEN 'special offer for subscribers' END,
        |      'group marker ' || (doc_id % 100)::VARCHAR,
        |      'all rights reserved 2026'
        |    ], x -> x IS NOT NULL) AS lines
        |  FROM w),
        |l AS (
        |  SELECT doc_id, generate_subscripts(lines, 1) AS ord,
        |    unnest(lines) AS line
        |  FROM built),
        |f AS (
        |  SELECT doc_id, line, ord,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, ord) AS rn
        |  FROM l)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN line END,
        |    chr(10) ORDER BY ord), '') AS text,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_lines_kept,
        |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_lines_dropped
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q58_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |idx AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) i
        |        FROM toks WHERE len(ts) >= 8),
        |sh AS (SELECT DISTINCT doc_id,
        |    ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]
        |      ||' '||ts[i+5]||' '||ts[i+6]||' '||ts[i+7] s
        |  FROM idx),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 5 = 0)
        |SELECT c.doc_id, count(*) AS n_shared
        |FROM sh c JOIN bench b ON c.s = b.s
        |WHERE c.doc_id % 5 != 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q107: q58's shingle construction + per-doc set size; verdict on
    // the unrounded fraction.
    "q107_contamination_verdict" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |idx AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) i
        |        FROM toks WHERE len(ts) >= 8),
        |sh AS (SELECT DISTINCT doc_id,
        |    ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]
        |      ||' '||ts[i+5]||' '||ts[i+6]||' '||ts[i+7] s
        |  FROM idx),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 5 = 0),
        |shared AS (
        |  SELECT c.doc_id, count(*) n_shared
        |  FROM sh c JOIN bench b ON c.s = b.s
        |  WHERE c.doc_id % 5 != 0 GROUP BY 1),
        |sizes AS (
        |  SELECT doc_id, count(*) n_shingles FROM sh
        |  WHERE doc_id % 5 != 0 GROUP BY 1
        |  UNION ALL
        |  SELECT doc_id, 0 FROM documents
        |  WHERE doc_id % 5 != 0 AND len(string_split(text, ' ')) < 8)
        |SELECT z.doc_id, z.n_shingles::BIGINT AS n_shingles,
        |  coalesce(h.n_shared, 0)::BIGINT AS n_shared,
        |  CASE WHEN z.n_shingles > 0
        |    THEN round(coalesce(h.n_shared, 0) / z.n_shingles::DOUBLE, 6)
        |    ELSE 0.0 END AS overlap_frac,
        |  (z.n_shingles > 0 AND
        |    coalesce(h.n_shared, 0) / z.n_shingles::DOUBLE >= 0.05) AS contaminated
        |FROM sizes z LEFT JOIN shared h ON z.doc_id = h.doc_id
        |ORDER BY z.doc_id""".stripMargin,

    // n_components = distinct texts (exact-duplicate components are text
    // classes; the base corpus ships duplicate-free). n_leaky is pinned
    // at 0: the engine computes it from its own split assignment, and
    // any component straddling two splits would break the hash-the-
    // component contract.
    "q69_split_leakage" ->
      s"""WITH all_docs AS ($docsWithDuplicatesSql)
         |SELECT count(*)::BIGINT AS n_rows,
         |  count(DISTINCT text)::BIGINT AS n_components,
         |  0::BIGINT AS n_leaky_components
         |FROM all_docs""".stripMargin
  )
}
