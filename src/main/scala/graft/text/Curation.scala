package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{ConnectedComponents, Contamination, CrossDocNgrams, ExactDedup, MinHashDedup}
import graft.operators.Sampling
import graft.similarity.HyperplaneLsh

/** End-to-end corpus curation — the composition the individual operators
  * exist for, in the standard order a pre-training data pipeline runs:
  *
  *   optional phrase-blocklist filter (Aho–Corasick, UT1 position) →
  *   quality filter → exact dedup → near-dup dedup (LSH + connected
  *   components, keep one doc per duplicate cluster) → optional semantic
  *   dedup (embedding-space LSH pairs, same cluster-and-keep-min) →
  *   optional exact-substring scrub (char-level corpus-duplicated spans
  *   cut from the surviving text, `ExactSubstr.scrubFlagged`) →
  *   optional duplicated-span removal (cross-doc-shared 8-gram runs cut
  *   from the surviving text, `CrossDocNgrams.trim`) →
  *   benchmark decontamination → deterministic sampling →
  *   context-window chunking
  *
  * Every stage is the already-tested operator; this object contributes
  * the plumbing and a per-stage count report. Order matters and is part
  * of the contract: dedup before decontamination (drop clusters once,
  * not per member), sampling after filtering (the fraction applies to
  * the clean pool), chunking last (chunks inherit every upstream
  * guarantee).
  *
  * Scale shape: stages communicate through DataFrames only — each one
  * keeps its own shuffle/broadcast strategy (LSH bucket join, broadcast
  * shingle dictionary, hash-priority sampling filter), so the composed
  * pipeline inherits the per-operator scale designs unchanged. The
  * intermediate corpus is materialized once per stage boundary where
  * reuse would otherwise re-run upstream stages — either ephemeral
  * (`localCheckpoint`, the default: fastest, but blocks live only on
  * their executors, so one lost executor aborts the composite) or
  * durable (`checkpointDir` set: each boundary writes parquet and reads
  * it back, an executor loss replays from the files, and the per-stage
  * count rides the write via `Dataset.observe` instead of a second
  * pass). Durable is the 1000-executor/100-TB mode; the directory is the
  * caller's to place (object store) and clean.
  */
object Curation {

  final case class Report(
      input_docs: Long,
      after_quality: Long,
      after_exact_dedup: Long,
      after_neardup: Long,
      after_semantic: Long,
      after_decontam: Long,
      after_sample: Long,
      chunks: Long,
      // docs whose TEXT lost a duplicated span (doc count is unchanged
      // by the span-trim stage); 0 when the stage is off
      spans_trimmed: Long = 0L,
      // docs whose TEXT lost over-represented lines (doc count is
      // unchanged by the line-dedup stage); 0 when the stage is off
      lines_deduped: Long = 0L,
      // docs whose TEXT changed under the encoding-hygiene stage
      // (NFC + mojibake repair); 0 when the stage is off
      texts_normalized: Long = 0L,
      // docs surviving the language filter; -1 when the stage is off
      after_lang: Long = -1L,
      // docs surviving the phrase-blocklist filter; -1 when off
      after_blocklist: Long = -1L,
      // docs whose TEXT lost a corpus-duplicated exact substring span
      // (doc count is unchanged by the scrub stage); 0 when off
      substr_scrubbed: Long = 0L,
      // docs that produced at least one chunk (= the distinct doc count
      // of the chunk frame: chunk_idx 0 occurs exactly once per covered
      // doc). Rides the chunks boundary's observe — the coverage check
      // callers ran as a separate distinct().count() pass over the full
      // chunk corpus (guide §1.4) reads this instead.
      chunk_docs: Long = 0L)

  /** @param docs       (idCol, textCol) corpus
    * @param benchmark  optional eval set to decontaminate against
    * @param embeddings optional (idCol, embeddingCol) frame for semantic
    *                   dedup — near-identical meaning under different
    *                   surface text, which token-level Jaccard cannot see
    * @param minQuality keep docs with qualityScore ≥ this ([0,1])
    * @param neardupThreshold Jaccard threshold for duplicate clustering
    * @param sampleFraction deterministic keep-fraction of the clean pool
    * @param maxTokens  chunk budget for the context windows
    * @param normalizeText when true, an encoding-HYGIENE stage runs
    *                   FIRST (before even line dedup — the CCNet order:
    *                   fix the bytes before anything hashes them):
    *                   `graft_fix_mojibake` then `graft_nfc` rewrite
    *                   each text, so NFD-decomposed or CP1252-mojibake
    *                   copies of the same document normalize to
    *                   identical bytes and exact dedup collapses them
    *                   instead of letting corrupted twins slip through.
    *                   Rewrites text, never drops docs.
    * @param langIdFn   when set, a LANGUAGE FILTER stage runs after line
    *                   dedup and before the quality gate: docs whose
    *                   predicted language (`langIdFn(textColumn)`) is
    *                   not in `keepLangs` are dropped. Pluggable — pass
    *                   [[TextAnalysis.langId]] for the marker heuristic
    *                   or a trained [[CharNgramLangId.Model]]'s
    *                   `predict` for the char-n-gram profiles.
    * @param keepLangs  language codes the filter keeps (with `langIdFn`)
    * @param lineDedupMaxFreq when set, a CCNet-style LINE-level exact
    *                   dedup stage ([[graft.dedup.LineDedup]]) runs
    *                   FIRST — before the quality gate, the CCNet order:
    *                   boilerplate lines (headers, cookie banners,
    *                   footers) whose corpus-wide occurrence count
    *                   exceeds this bar are cut from every document, so
    *                   quality scoring and everything downstream see the
    *                   de-chromed text. Rewrites text, never drops docs.
    * @param spanTrimMinRun when set, a duplicated-span REMOVAL stage
    *                   (`CrossDocNgrams.trim`, w=8, minDocs=2) runs on
    *                   the dedup survivors BEFORE decontamination: every
    *                   maximal run of ≥ this many consecutive
    *                   cross-doc-shared 8-grams is cut from the text, so
    *                   downstream stages (and the emitted chunks) see
    *                   the cleaned corpus. Trimming rewrites text, never
    *                   drops docs — the report carries how many docs
    *                   lost spans.
    * @param blocklist  when non-empty, a PHRASE-BLOCKLIST filter stage
    *                   ((pid, phrase) pairs, UT1-style bad-phrase lists)
    *                   runs after the language filter and before the
    *                   quality gate: docs whose total non-overlapping
    *                   hit count across the whole dictionary exceeds
    *                   `blocklistMaxHits` are dropped. One Aho–Corasick
    *                   automaton pass per doc ([[Blocklist]]'s kernel),
    *                   composed here as a NARROW scan-side filter (the
    *                   per-doc total folds over the kernel's array with
    *                   an `aggregate` HOF — no explode, no shuffle).
    *                   NULL text keeps with zero hits (the [[Blocklist]]
    *                   verdict contract; it dies at the quality gate).
    * @param blocklistMaxHits total-hits cap a doc may carry and stay
    *                   (with `blocklist`; 0 = zero tolerance)
    * @param substrScrubWidth when set, an EXACT-SUBSTRING scrub stage
    *                   ([[graft.dedup.ExactSubstr]], Lee et al. 2021)
    *                   runs on the dedup survivors before the 8-gram
    *                   span trim: every text span of >= this many chars
    *                   appearing verbatim >= 2 times in the SURVIVING
    *                   corpus is cut. Char-exact where the 8-gram trim
    *                   is token-run-shaped — licenses/boilerplate that
    *                   cross token boundaries. Rewrites text, never
    *                   drops docs; the report counts affected docs.
    * @param substrScrubEvery winnowing step for the scrub stage (1 =
    *                   oracle-exact all-windows mode; k > 1 = the
    *                   ~2/(k+1)-volume scale mode, detection exact for
    *                   spans >= width+k-1, boundaries loosen < k chars)
    * @param checkpointDir when set, stage boundaries are DURABLE: each
    *                   stage writes `$checkpointDir/<stage>` as parquet
    *                   and downstream stages read the files, so a lost
    *                   executor replays from storage instead of aborting
    *                   the composite; stage counts ride the writes via
    *                   `Dataset.observe`. Unset = `localCheckpoint`
    *                   (fast, single-job-lifetime, non-fault-tolerant).
    */
  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: Option[DataFrame] = None,
      embeddings: Option[DataFrame] = None,
      embeddingCol: String = "embedding",
      semanticThreshold: Double = 0.9,
      minQuality: Double = 0.5,
      neardupThreshold: Double = 0.5,
      sampleFraction: Double = 1.0,
      maxTokens: Int = 512,
      lineDedupMaxFreq: Option[Long] = None,
      spanTrimMinRun: Option[Int] = None,
      blocklist: Seq[(Long, String)] = Seq.empty,
      blocklistMaxHits: Long = 0L,
      substrScrubWidth: Option[Int] = None,
      substrScrubEvery: Int = 1,
      checkpointDir: Option[String] = None,
      normalizeText: Boolean = false,
      langIdFn: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None,
      keepLangs: Seq[String] = Seq.empty
  ): (org.apache.spark.sql.Dataset[Chunker.DocChunk], Report) = {
    // A set langIdFn with an empty keep-list would build a zero-value
    // isin() that silently drops EVERY document — guard loudly like the
    // other optional stages (Blocklist requires non-empty patterns).
    require(langIdFn.isEmpty || keepLangs.nonEmpty,
      "langIdFn is set but keepLangs is empty — the language filter " +
        "would drop every document; pass the language codes to keep")
    val spark = docs.sparkSession
    import spark.implicits._

    // Stage boundary: materialize `df` and return (reusable frame, row
    // count). BOTH modes count during the materialization action
    // (observe = a plan node that sees every row of the same action —
    // no second pass): durable rides the parquet write, ephemeral rides
    // the localCheckpoint job. A provably-empty stage is optimizer-
    // eliminated together with its CollectMetrics node
    // (PropagateEmptyRelation) — no metrics ≡ 0 rows.
    def boundary(df: DataFrame, name: String): (DataFrame, Long) = {
      val (b, n, _) = boundaryFlagged(df, name, None)
      (b, n)
    }

    // Boundary with an optional FLAG count riding the SAME observe (two
    // metrics, one materialization job — guide §1.4): the text-rewrite
    // stages (normalize / line-dedup / substr-scrub / span-trim) report
    // how many docs changed, which used to cost one extra
    // filter(flag).count() pass over the checkpointed boundary each.
    def boundaryFlagged(df: DataFrame, name: String,
        flagCol: Option[String]): (DataFrame, Long, Long) = {
      val metrics = count(lit(1)).as("n") +: flagCol.map(f =>
        coalesce(sum(when(col(f), 1L).otherwise(0L)), lit(0L)).as("flagged")).toSeq
      def read(m: Map[String, Any]): (Long, Long) =
        (graft.core.Durable.metric(m, "n"), graft.core.Durable.metric(m, "flagged"))
      checkpointDir match {
        case Some(base) =>
          val obs = org.apache.spark.sql.Observation(s"curation_$name")
          val path = s"$base/$name"
          df.observe(obs, metrics.head, metrics.tail: _*)
            .write.mode("overwrite").parquet(path)
          val (n, f) = read(obs.get)
          (spark.read.parquet(path), n, f)
        case None =>
          val obs = org.apache.spark.sql.Observation()
          val c = df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint()
          val (n, f) = read(obs.get)
          (c, n, f)
      }
    }

    val rawInput0 = docs.select(col(idCol).as("id"), col(textCol).as("text"))

    // -1. optional encoding hygiene: mojibake repair then NFC, BEFORE
    // anything hashes or scores the text — corrupted twins must
    // normalize to identical bytes so exact dedup sees one group.
    val (rawInput, normalizedN) =
      if (!normalizeText) (rawInput0, 0L)
      else {
        val fixed = call_function("graft_nfc",
          call_function("graft_fix_mojibake", col("text")))
        val d = rawInput0.select(col("id"), fixed.as("text"),
          (fixed =!= col("text")).as("__fx"))
        val (b, _, n) = boundaryFlagged(d, "normalize", Some("__fx"))
        (b.select(col("id"), col("text")), n)
      }

    // 0. optional line-level dedup (CCNet order: before quality — the
    // chrome must be gone before the quality heuristics score the text).
    // Doc count is unchanged, so the input count can still observe the
    // post-stage frame.
    val (input, linesDedupedN) = lineDedupMaxFreq match {
      case Some(bar) =>
        val d = graft.dedup.LineDedup.dedup(rawInput, "id", "text", bar)
          .select(col("id"), col("text"),
            (col("n_lines_dropped") > 0L).as("__ld"))
        val (b, _, n) = boundaryFlagged(d, "line_dedup", Some("__ld"))
        (b.select(col("id"), col("text")), n)
      case None => (rawInput, 0L)
    }

    // 0.5 + 1. optional language filter, then the quality gate (both
    // scan-side, narrow). The input count observes the same action as
    // the first downstream boundary (a pre-filter CollectMetrics node),
    // saving the separate source pass in both modes.
    val inObs = org.apache.spark.sql.Observation("curation_input")
    val observedInput = input.observe(inObs, count(lit(1)).as("n"))
    val (langKept, afterLangN) = langIdFn match {
      case Some(fn) =>
        boundary(
          observedInput.filter(fn(col("text")).isin(keepLangs.map(lit(_)): _*)),
          "lang")
      case None => (observedInput, -1L)
    }
    // 0.75 optional phrase-blocklist filter (UT1 position: after the
    // language gate, before quality) — a narrow scan-side filter: the
    // per-doc total hit count folds over the Aho–Corasick kernel's
    // (pid, n) array in-row, so the whole dictionary costs one automaton
    // pass per doc and zero shuffles.
    val (blocked, afterBlocklistN) =
      if (blocklist.isEmpty) (langKept, -1L)
      else boundary(
        langKept.filter(
          Blocklist.totalHits(col("text"), blocklist) <= blocklistMaxHits),
        "blocklist")
    val (quality, qualityN) = boundary(
      blocked.filter(TextAnalysis.qualityScore(col("text")) >= minQuality),
      "quality")
    val inputN = graft.core.Durable.metric(inObs.get, "n")

    // 2. exact dedup (deterministic keep-first per identical text)
    val (exact, exactN) = boundary(
      ExactDedup.keepFirst(quality, Seq("text"), Seq(col("id"))), "exact_dedup")

    // 3. near-dup clustering: LSH pairs → components → keep min id
    val pairs = MinHashDedup.nearDuplicatePairs(
      exact, "id", "text", threshold = neardupThreshold)
      .select(col("id_a"), col("id_b"))
    val components = ConnectedComponents.assign(
      exact.select(col("id")), pairs)
    val (nearDeduped, nearN) = boundary(
      exact.join(components, Seq("id"))
        .filter(col("id") === col("component"))
        .drop("component"),
      "neardup")

    // 4. optional semantic dedup: embedding-space LSH pairs over the
    // SURVIVING docs' embeddings, clustered and collapsed exactly like
    // the token-level stage — catches paraphrases Jaccard cannot see.
    val (semanticDeduped, semanticN) = embeddings match {
      case Some(emb) =>
        val vecs = emb.select(col(idCol).as("id"), col(embeddingCol).as("emb"))
          .join(nearDeduped.select(col("id")), Seq("id"))
        val sPairs = HyperplaneLsh.nearDuplicatePairs(
          vecs, "id", "emb", threshold = semanticThreshold, nTables = 8)
          .select(col("id_a"), col("id_b"))
        val sComponents = ConnectedComponents.assign(
          nearDeduped.select(col("id")), sPairs)
        boundary(
          nearDeduped.join(sComponents, Seq("id"))
            .filter(col("id") === col("component"))
            .drop("component"),
          "semantic")
      case None => (nearDeduped, nearN)
    }

    // 4.5 optional exact-substring scrub (Lee et al. 2021 ExactSubstr):
    // char-level spans >= width duplicated >= 2 times across the
    // SURVIVING corpus are cut from the text. Runs before the 8-gram
    // span trim — char-exact first, token-run-shaped second. Doc count
    // is unchanged; the report counts docs whose text lost a span.
    val (substrCleaned, substrScrubbedN) = substrScrubWidth match {
      case Some(w) =>
        val t = graft.dedup.ExactSubstr
          .scrubFlagged(semanticDeduped, "id", "text",
            width = w, every = substrScrubEvery)
          .select(col("id"), col("clean_text").as("text"),
            col("scrubbed").as("__sub"))
        val (b, _, n) = boundaryFlagged(t, "substr_scrub", Some("__sub"))
        (b.select(col("id"), col("text")), n)
      case None => (semanticDeduped, 0L)
    }

    // 5. optional duplicated-span removal: runs of ≥ minRun consecutive
    // cross-doc-shared 8-grams are cut from the surviving docs' TEXT
    // (CrossDocNgrams.trim). Doc count is unchanged — the report carries
    // how many docs lost spans — and everything downstream
    // (decontamination, sampling, chunking) sees the cleaned corpus.
    val (spanCleaned, spansTrimmedN) = spanTrimMinRun match {
      case Some(minRun) =>
        // hashKeys: the shared-set join keys on xxhash64 longs instead of
        // w-token gram strings — ~6× skinnier shuffle, the difference
        // between shipping tokens×8B and tokens×~50B at corpus scale.
        // CrossDocNgramsSpec pins hash ≡ string on the real testdata;
        // collisions are over-trim-only.
        val t = CrossDocNgrams
          .trim(substrCleaned, "id", "text", w = 8, minDocs = 2, minRun = minRun,
            hashKeys = true)
          .select(col("id"), col("clean_text").as("text"),
            (col("n_removed") > 0L).as("__trimmed"))
        val (b, _, nTrimmed) = boundaryFlagged(t, "span_trim", Some("__trimmed"))
        (b.select(col("id"), col("text")), nTrimmed)
      case None => (substrCleaned, 0L)
    }

    // 6. decontamination: drop docs sharing 8-grams with the benchmark
    val (decontaminated, decontamN) = benchmark match {
      case Some(bench) =>
        val flagged = Contamination.flagged(
          spanCleaned, bench.select(col(idCol).as("id"), col(textCol).as("text")),
          "id", "text")
        boundary(
          spanCleaned.join(flagged.select(col("id")), Seq("id"), "left_anti"),
          "decontam")
      case None => (spanCleaned, semanticN)
    }

    // 7. deterministic sampling (hash-priority filter; reruns identical).
    // Identity fraction reuses the decontam count — no extra action; a
    // real sample is a narrow filter over the materialized boundary, so
    // ephemeral mode just counts it (durable mode persists it like any
    // other boundary — the chunker and the caller both read it).
    val (sampled, sampledN) =
      if (sampleFraction >= 1.0) (decontaminated, decontamN)
      else {
        val sdf = Sampling.byFraction(decontaminated, "id", sampleFraction)
        if (checkpointDir.isDefined) boundary(sdf, "sampled")
        else (sdf, sdf.count())
      }

    // 8. context-window chunking — a stage boundary like the others: the
    // report's count and the caller's own action would otherwise each
    // run the row-exploding flatMap over the full corpus. The covered-doc
    // count (chunk_idx 0 rows ≡ distinct chunked docs) rides the same
    // observe, so coverage checks cost no extra pass.
    val (chunksB, chunksN, chunkDocsN) = boundaryFlagged(
      Chunker.chunk(
        sampled.select(col("id"), col("text")).as[(Long, String)], maxTokens)
        .toDF()
        .withColumn("__c0", col("chunk_idx") === 0),
      "chunks", Some("__c0"))
    val chunksDf = chunksB.select("doc_id", "chunk_idx", "text", "n_tokens")

    (chunksDf.as[Chunker.DocChunk], Report(inputN, qualityN, exactN, nearN,
      semanticN, decontamN, sampledN, chunksN, spansTrimmedN, linesDedupedN,
      normalizedN, afterLangN, afterBlocklistN, substrScrubbedN,
      chunk_docs = chunkDocsN))
  }
}
