package graft.operators

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Observation}

import graft.core.EngineConfig

/** The reference's fixed six-stage transform sequence (transformer.py:39-92):
  * clean names → nulls → dedup → cast → derive → validate, with the stats
  * dict re-expressed as [[TransformStats]].
  *
  * Job accounting (the 100 TB concern): `plan` costs at most one stats job
  * (the fused [[ColumnStats]] aggregate, skipped when no stage needs it) —
  * the returned plan is otherwise lazy. `runWithStats` always runs the
  * stats job and adds none: its output-side counters ride the caller's
  * write of the returned plan. The reference's eager per-stage
  * len(df)/isnull() calls would be 6+ full scans here; we refuse to
  * replicate that.
  */
object TransformPipeline {

  final case class TransformStats(
      inputRows: Long,
      outputRows: Long,
      rowsRemoved: Long,
      duplicatesRemoved: Long,
      totalNullsFound: Long,
      nullHandling: String,
      transformationsApplied: Seq[String],
      validation: Stages.ValidationReport
  )

  /** Lazy path: compose the full transform plan. The single ColumnStats job
    * runs only if the chosen strategy/casts need it (flag-mode nulls and the
    * 80% numeric rule are data-dependent — SURVEY.md §7.4).
    */
  def plan(df: DataFrame, config: EngineConfig = EngineConfig.default): DataFrame = {
    // T0 guard, lazily: a schema-less frame can't be transformed; a merely
    // row-empty frame flows through the (lazy) plan at zero cost.
    if (df.columns.isEmpty) return df
    val strategy = Stages.NullStrategy.fromString(
      config.getString("etl.transform.null_handling", "drop"))
    val threshold = config.getDouble("etl.transform.numeric_parse_threshold", 0.8)
    val dedup = config.getBoolean("etl.transform.deduplicate", default = true)

    val cleaned = Stages.cleanColumnNames(df)
    // At most one stats job, lazily — and never on a streaming plan, where
    // an aggregate action is illegal: streams run the static stages only
    // (flag-mode adds no columns, the 80% numeric rule doesn't fire).
    lazy val stats =
      if (df.isStreaming) ColumnStats.unknown else ColumnStats.collect(cleaned)
    val afterNulls = Stages.handleNulls(cleaned, strategy, stats)
    val afterDedup = if (dedup) Stages.deduplicate(afterNulls) else afterNulls
    val cast = Stages.castTypes(afterDedup, stats, threshold)
    Stages.deriveFields(cast)
  }

  /** The transformed plan and its stats. The output-side counters
    * (`outputRows`, `rowsRemoved`, `duplicatesRemoved`, `validation`) are a
    * `Dataset.observe` metric set on `output`, filled by the first action
    * that executes it — normally the sink write; the observation sits in
    * that action's result stage, above the dedup shuffle, so a re-run map
    * stage cannot count twice. `stats` reads them once that action has
    * run and throws `IllegalStateException` (never blocks) before it.
    */
  final class Transformed private[operators] (val output: DataFrame,
      read: () => TransformStats) {
    lazy val stats: TransformStats = read()
  }

  /** Eager path with the reference's full stats contract, for the cost of
    * the stats job alone: the input count and the rows null handling keeps
    * come from the fused [[ColumnStats]] aggregate, the output-side
    * counters from the write (see [[Transformed]]).
    */
  def runWithStats(
      df: DataFrame,
      config: EngineConfig = EngineConfig.default
  ): Transformed = {
    val strategy = Stages.NullStrategy.fromString(
      config.getString("etl.transform.null_handling", "drop"))
    val threshold = config.getDouble("etl.transform.numeric_parse_threshold", 0.8)
    val dedup = config.getBoolean("etl.transform.deduplicate", default = true)

    val cleaned = Stages.cleanColumnNames(df)
    val stats = ColumnStats.collect(cleaned)
    if (stats.rowCount == 0) {
      val report = Stages.ValidationReport(isValid = true, 0L, df.columns.length,
        df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap, Seq.empty)
      val empty = TransformStats(0, 0, 0, 0, 0, "empty_input", Seq.empty, report)
      return new Transformed(df, () => empty)
    }

    // Row count after null handling, before dedup — needed for the
    // duplicates_removed counter (transformer.py:160-170). drop is the only
    // strategy that changes the row count.
    val rowsBeforeDedup =
      if (strategy == Stages.NullStrategy.Drop) stats.completeRows else stats.rowCount
    val afterNulls = Stages.handleNulls(cleaned, strategy, stats)
    val afterDedup = if (dedup) Stages.deduplicate(afterNulls) else afterNulls
    val cast = Stages.castTypes(afterDedup, stats, threshold)
    val derived = Stages.deriveFields(cast)

    val applied = Seq("clean_column_names", "null_handling") ++
      (if (dedup) Seq("deduplication") else Nil) ++
      Seq("type_casting", "derived_fields")
    def withValidation(validation: Stages.ValidationReport) = TransformStats(
      inputRows = stats.rowCount,
      outputRows = validation.rowCount,
      rowsRemoved = stats.rowCount - validation.rowCount,
      duplicatesRemoved = rowsBeforeDedup - validation.rowCount,
      totalNullsFound = stats.totalNulls,
      nullHandling = strategy.toString.toLowerCase,
      transformationsApplied = applied,
      validation = validation
    )
    if (rowsBeforeDedup == 0) {
      // null handling keeps nothing: the counters are known without a write
      val empty = withValidation(Stages.validationReport(derived, Map.empty))
      return new Transformed(derived, () => empty)
    }
    val obs = Observation()
    val metrics = Stages.validationMetrics(derived)
    new Transformed(derived.observe(obs, metrics.head, metrics.tail: _*),
      () => withValidation(Stages.validationReport(derived, observed(obs, df))))
  }

  /** The observation's metrics once the observed frame has run. The
    * observation completes on the listener bus after the action returns,
    * so drain the bus first; still incomplete means no action ran it.
    */
  private def observed(obs: Observation, df: DataFrame): Map[String, Any] = {
    if (!obs.future.isCompleted) GraftPlanBridge.awaitListeners(df.sparkSession)
    if (!obs.future.isCompleted) throw new IllegalStateException(
      "transform stats read before the transformed frame was executed: " +
        "write Transformed.output first")
    obs.get
  }
}
