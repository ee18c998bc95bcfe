package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-substring deduplication — remove text SPANS that appear verbatim
  * more than once in the corpus (across documents or repeated inside
  * one), the ExactSubstr side of Lee et al. 2021 ("Deduplicating Training
  * Data Makes Language Models Better"): verbatim repetition (boilerplate,
  * licenses, quoted headers) survives document-level near-dedup because
  * the HOSTING documents differ, yet it is exactly what a language model
  * memorizes first. Lee et al. build a single-machine suffix array; the
  * Spark-first equivalent is width-`w` character-window hashing
  * ([[graft.functions.CharWindowHasher]]): a span of length >= w is
  * duplicated iff at least one of its width-w windows is duplicated, and
  * a window is duplicated iff its hash occurs >= minCount times
  * corpus-wide — so detection reduces to ONE hash-keyed aggregation, no
  * pairwise anything.
  *
  * Plan shape, per stage:
  *   1. window rows: `explode(graft_char_windows(text, w, every))` — one
  *      codegen kernel call per document, (pos:int, h:long) rows only
  *      (the window TEXT never leaves the kernel, so the shuffle rows
  *      are 16 bytes + id regardless of w);
  *   2. duplicated hashes: groupBy(h).count >= minCount — partial
  *      aggregation collapses repeats map-side (a hot boilerplate window
  *      arrives at the reducer once per map partition, not once per
  *      occurrence);
  *   3. mark + merge: left-semi join windows against the duplicated-hash
  *      set (equi-join on a long — AQE/broadcast-eligible when few
  *      hashes survive the bar), then per-DOCUMENT interval merge of
  *      [pos, pos+w) under a Window partitioned by doc id (bounded by
  *      one document's windows — never a global window).
  *
  * Scale mode (`every` = k > 1): winnowing selection inside the same
  * kernel cuts stage-1/2 volume to ~2/(k+1) with a deterministic
  * guarantee — spans >= w + k - 1 are still DETECTED exactly; reported
  * boundaries loosen by < k chars per side (see the kernel's scaladoc;
  * ExactSubstrSpec pins containment + coverage against every=1).
  *
  * 64-bit window-hash collisions can only OVER-mark (merge two distinct
  * windows' counts), mirroring the shingle-hash polarity of q21: a
  * collision quarantines extra text, never resurrects a duplicate.
  */
object ExactSubstr {

  /** Exploded window rows: (id, pos, h). */
  private def windowRows(
      docs: DataFrame, idCol: String, textCol: String,
      width: Int, every: Int): DataFrame =
    docs
      .select(col(idCol), explode(
        call_function("graft_char_windows", col(textCol), lit(width), lit(every)))
        .as("w"))
      .select(col(idCol), col("w.pos").as("pos"), col("w.h").as("h"))

  /** Maximal duplicated spans per document: `(id, span_start, span_end)`
    * with 1-based character positions, end exclusive — the union of
    * [pos, pos+width) over every window whose hash clears `minCount`
    * occurrences corpus-wide, merged per document.
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 40,
      minCount: Long = 2L,
      every: Int = 1
  ): DataFrame = {
    val win = windowRows(docs, idCol, textCol, width, every)
    // The duplicated-hash set is MATERIALIZED with its count riding the
    // job (observe, guide §1.4), and the mark join's strategy is chosen
    // from that exact count (guide §3.1/§3.2): the planner only sees the
    // PRE-filter shuffle stats (corpus-windows-sized), so AQE left this
    // as a sort-merge join — every window row exchanged AND sorted on h
    // (the measured q237 hot stage: 20.4 s-task at 32 threads for a
    // dup-set of a few hundred KB). With the post-filter set usually a
    // tiny fraction of the corpus, broadcasting it turns the mark into a
    // scan-side semi join: the window rows never shuffle on h at all.
    // Past the broadcast budget (a boilerplate-heavy corpus can carry
    // billions of duplicated hashes) the hint is withheld and the join
    // stays a keyed shuffle — the decision is data-adaptive, not a
    // local-mode constant.
    val (dupH, nDup) = graft.core.Durable.materializeCounted(win.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("h")))
    // 8 bytes a hash; 1M hashes ≈ the 8 MB broadcast-relation ballpark
    val dupSide = if (nDup <= 1000000L) broadcast(dupH) else dupH
    val marked = win.join(dupSide, Seq("h"), "left_semi")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("new_span",
        when(col("pos") >
          coalesce(lag(col("pos"), 1).over(byDoc), lit(Int.MinValue)) + width,
          lit(1)).otherwise(lit(0)))
      .withColumn("span_id", sum(col("new_span")).over(byDoc))
      .groupBy(col(idCol), col("span_id"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + width).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Per-document duplicated-span accounting over ALL documents (zeros
    * for clean ones): `(id, n_spans, dup_chars, max_span)`.
    */
  def report(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 40,
      minCount: Long = 2L,
      every: Int = 1
  ): DataFrame = {
    val perDoc = duplicateSpans(docs, idCol, textCol, width, minCount, every)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start")).as("dup_chars"),
        max(col("span_end") - col("span_start")).as("max_span"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).cast("long").as("dup_chars"),
        coalesce(col("max_span"), lit(0L)).cast("long").as("max_span"))
  }

  /** Remove every duplicated span: `(id, clean_text)` where clean_text is
    * the concatenation of the inter-span segments (possibly "" when the
    * whole document is duplicated). The cut runs as one `aggregate` HOF
    * over the per-document sorted span list — spans ride the row (a
    * document has few spans), the text is sliced once per segment, and
    * everything stays inside whole-stage codegen.
    */
  def scrub(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 40,
      minCount: Long = 2L,
      every: Int = 1
  ): DataFrame =
    scrubFlagged(docs, idCol, textCol, width, minCount, every).drop("scrubbed")

  /** [[scrub]] plus a `scrubbed` flag — true iff the document carried at
    * least one duplicated span (every span removes >= width chars, so
    * the flag is exactly "clean_text differs from text") — so a caller
    * composing this stage ([[graft.text.Curation]]) can count affected
    * docs without re-joining the original text.
    */
  def scrubFlagged(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 40,
      minCount: Long = 2L,
      every: Int = 1
  ): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, width, minCount, every)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("spans"))
    docs.select(col(idCol), col(textCol).as("graft_es_text"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("spans").isNull, col("graft_es_text"))
          .otherwise(expr(
            """aggregate(spans,
              |  named_struct('cur', 1, 'acc', ''),
              |  (st, sp) -> named_struct(
              |    'cur', sp.e,
              |    'acc', concat(st.acc,
              |      substring(graft_es_text, st.cur, sp.s - st.cur))),
              |  st -> concat(st.acc,
              |    substring(graft_es_text, st.cur,
              |      length(graft_es_text) - st.cur + 1)))""".stripMargin))
          .as("clean_text"),
        col("spans").isNotNull.as("scrubbed"))
  }
}
