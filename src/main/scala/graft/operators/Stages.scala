package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The six reference transform stages (transformer.py:60-84), re-expressed
  * as lazy DataFrame transforms. Stages never call actions; the
  * data-dependent ones (null flags, numeric inference) take a pre-collected
  * [[ColumnStats]] so the whole pipeline costs one stats job + one write job
  * regardless of stage count.
  */
object Stages {

  // ── Stage 1: column-name normalization (T1, transformer.py:94-111) ──────

  /** lowercase → spaces→_ → strip non-word → collapse `_+` → trim `_`. */
  def normalizeName(name: String): String =
    name.toLowerCase
      .replace(" ", "_")
      .replaceAll("[^\\w]", "")
      .replaceAll("_+", "_")
      .replaceAll("^_+|_+$", "")

  /** Pure metadata op: no shuffle, no scan — just a projection rename. */
  def cleanColumnNames(df: DataFrame): DataFrame = {
    val renamed = df.columns.map(normalizeName)
    if (renamed.sameElements(df.columns)) df else df.toDF(renamed.toIndexedSeq: _*)
  }

  // ── Stage 2: null handling (T2-T5, transformer.py:113-148) ──────────────

  sealed trait NullStrategy
  object NullStrategy {
    case object Drop extends NullStrategy
    case object Fill extends NullStrategy
    case object Flag extends NullStrategy
    case object None extends NullStrategy
    def fromString(s: String): NullStrategy = s.toLowerCase match {
      case "drop" => Drop
      case "fill" => Fill
      case "flag" => Flag
      case _      => None
    }
  }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  /** `flag` needs to know which columns actually contain nulls
    * (transformer.py:137-140) — that's the stats dependency.
    */
  def handleNulls(df: DataFrame, strategy: NullStrategy, stats: => ColumnStats): DataFrame =
    strategy match {
      case NullStrategy.Drop => df.na.drop("any")
      case NullStrategy.Fill =>
        val numeric = df.schema.fields.filter(f => isNumeric(f.dataType)).map(_.name)
        val strings = df.schema.fields.filter(_.dataType == StringType).map(_.name)
        df.na.fill(0, numeric).na.fill("", strings)
      case NullStrategy.Flag =>
        stats.columnsWithNulls.foldLeft(df) { (d, c) =>
          d.withColumn(s"${c}_is_null", col(c).isNull)
        }
      case NullStrategy.None => df
    }

  // ── Stage 3: deduplication (D1, transformer.py:150-171) ─────────────────

  /** Full-row distinct. One shuffle on all columns; at scale prefer
    * [[graft.dedup.ExactDedup]] which shuffles on a 64-bit row hash instead
    * of full rows.
    */
  def deduplicate(df: DataFrame): DataFrame = df.dropDuplicates()

  // ── Stage 4: type casting (T9-T10, transformer.py:173-198) ──────────────

  private val dateKeywords = Seq("date", "time", "created", "updated")

  def isDateNamed(c: String): Boolean = {
    val lower = c.toLowerCase
    dateKeywords.exists(lower.contains)
  }

  /** Date-keyword string columns → timestamp (unparseable → null), then
    * string columns whose parse rate exceeds `threshold` → double.
    * Both casts use try_* semantics ≡ pandas errors="coerce"
    * (transformer.py:186, transformer.py:193).
    *
    * Documented deviations from the reference:
    *  - to_datetime applies to strings only (the reference also coerces
    *    numeric columns, interpreting them as epoch nanos);
    *  - the numeric parse rate is measured on the PRE-null-handling,
    *    pre-dedup frame (the fused single-stats-pass design,
    *    SURVEY.md §7.4), while the reference measures it on the frame as
    *    it stands at cast time (transformer.py:194). Inputs whose
    *    non-numeric rows are preferentially removed by null-drop/dedup
    *    can therefore cast in the reference but not here (and vice
    *    versa). The trade buys one stats job per run instead of two.
    */
  def castTypes(df: DataFrame, stats: => ColumnStats, threshold: Double = 0.8): DataFrame = {
    val afterDates = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == StringType && isDateNamed(f.name))
        d.withColumn(f.name, try_to_timestamp(col(f.name)))
      else d
    }
    afterDates.schema.fields.foldLeft(afterDates) { (d, f) =>
      if (f.dataType == StringType && !isDateNamed(f.name) &&
          stats.numericParseRate.getOrElse(f.name, 0.0) > threshold)
        d.withColumn(f.name, expr(s"try_cast(`${f.name}` AS DOUBLE)"))
      else d
    }
  }

  // ── Stage 5: derived fields (T6-T8, transformer.py:200-224) ─────────────

  /** Appends `_processed_at`, `_row_hash`, and `_year`/`_month`/`_day` from
    * the FIRST timestamp/date column in schema order (transformer.py:216-219
    * — order-dependent by design; preserved).
    *
    * Deviations from pandas, documented: the hash is xxhash64 over all
    * pre-existing columns (pd.util.hash_pandas_object values are
    * pandas-internal and explicitly a non-goal, SURVEY.md §7.4), and it
    * excludes `_processed_at` so re-running the pipeline over the same data
    * yields the same hashes (the reference hashes the wall-clock timestamp
    * in, making every run's hashes unique — useless for idempotency
    * tracking, which is the column's stated purpose, etl/README.md:739-741).
    */
  def deriveFields(df: DataFrame): DataFrame = {
    val dataCols = df.columns.map(col)
    val withHash = df
      .withColumn("_row_hash", xxhash64(dataCols.toIndexedSeq: _*))
      // Second independent 64-bit draw (domain-separated by a salt
      // literal): identity checks that must hold at 10^10-row scale
      // (sinks.Writers.appendDedup) match on the PAIR — a 64-bit hash
      // alone has its birthday bound at ~4B rows, where a collision
      // silently drops a distinct row; the pair pushes P[any collision]
      // to ~10^-19 at 10^10 rows.
      .withColumn("_row_hash2",
        xxhash64((lit("graft-rh2") +: dataCols.toIndexedSeq): _*))
      .withColumn("_processed_at", current_timestamp())
    firstTemporalColumn(df) match {
      case Some(d) =>
        withHash
          .withColumn("_year", year(col(d)))
          .withColumn("_month", month(col(d)))
          .withColumn("_day", dayofmonth(col(d)))
      case None => withHash
    }
  }

  def firstTemporalColumn(df: DataFrame): Option[String] =
    df.schema.fields.collectFirst {
      case f if f.dataType == TimestampType || f.dataType == DateType ||
        f.dataType == TimestampNTZType => f.name
    }

  // ── Stage 6: validation (A5-A7, transformer.py:226-254) ─────────────────

  final case class ValidationReport(
      isValid: Boolean,
      rowCount: Long,
      columnCount: Int,
      schema: Map[String, String],
      warnings: Seq[String]
  )

  /** The output profile as aggregate metrics: row count, per-column null
    * presence, and distinct counts for string columns. approx_count_distinct,
    * not the reference's exact nunique() (O(distinct) memory,
    * transformer.py:244). One list serves the standalone [[validate]]
    * aggregate and the observation [[TransformPipeline.runWithStats]]
    * attaches to the write.
    */
  def validationMetrics(df: DataFrame): Seq[Column] = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    count(lit(1)).as("__n") +:
      (df.columns.toSeq.map(c => max(col(c).isNull.cast(IntegerType)).as(s"__hasnull__$c")) ++
        stringCols.map(c => approx_count_distinct(col(c)).as(s"__distinct__$c")))
  }

  /** The report from [[validationMetrics]] values. An absent or null
    * metric (no metrics at all, or an aggregate over no rows) reads as its
    * empty-input value.
    */
  def validationReport(df: DataFrame, metrics: Map[String, Any]): ValidationReport = {
    def value[T](k: String): Option[T] = metrics.get(k).flatMap(v => Option(v.asInstanceOf[T]))
    val cols = df.columns.toSeq
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    val n = value[Long]("__n").getOrElse(0L)

    val nullCols = cols.filter(c => value[Int](s"__hasnull__$c").exists(_ > 0))
    val warnings = Seq.newBuilder[String]
    if (nullCols.nonEmpty) warnings += s"Columns with nulls: ${nullCols.mkString(", ")}"
    if (n > 100) stringCols.foreach { c =>
      val ratio = value[Long](s"__distinct__$c").getOrElse(0L).toDouble / n
      if (ratio > 0.9)
        warnings += s"Column '$c' may be a unique identifier (high cardinality)"
    }
    val ws = warnings.result()
    ValidationReport(ws.isEmpty, n, cols.length,
      df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap, ws)
  }

  /** Profile a frame in one standalone aggregate job. */
  def validate(df: DataFrame): ValidationReport = {
    if (df.columns.isEmpty) return validationReport(df, Map.empty)
    val aggs = validationMetrics(df)
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    validationReport(df, row.getValuesMap(row.schema.fieldNames.toSeq))
  }
}
