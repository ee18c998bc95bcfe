package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StringType}

/** Per-column statistics the data-dependent transforms need.
  *
  * The reference recomputes `df.isnull().sum()` and numeric parse rates
  * column-by-column, eagerly (transformer.py:124-125, transformer.py:190-197)
  * — cheap on a single-node pandas frame, ruinous as separate Spark jobs.
  * Here every counter for every column is fused into ONE aggregate (one job,
  * one scan): row count, complete-row count, per-column null counts, and
  * per-string-column numeric parse rates. This is the "exactly one extra
  * job per transform run" design from SURVEY.md §7.4.
  */
final case class ColumnStats(
    rowCount: Long,
    /** Rows `na.drop("any")` keeps: no null in any column and no NaN in a
      * float/double column (Spark's `AtLeastNNonNulls`). */
    completeRows: Long,
    nullCounts: Map[String, Long],
    /** Fraction of rows (NOT just non-null rows) whose value parses as a
      * number — matches `notna().sum() / len(df)` at transformer.py:194. */
    numericParseRate: Map[String, Double]
) {
  def columnsWithNulls: Seq[String] =
    nullCounts.collect { case (c, n) if n > 0 => c }.toSeq.sorted
  def totalNulls: Long = nullCounts.values.sum
}

object ColumnStats {

  /** No-information stats: no nulls known, no parse rates known. The
    * data-dependent stages degrade gracefully under it (no flag columns,
    * no 80%-rule casts) — used where collecting would need an action we
    * can't run, i.e. on streaming plans.
    */
  val unknown: ColumnStats = ColumnStats(0L, 0L, Map.empty, Map.empty)

  /** One-pass collection. Returns zero stats for an empty-schema frame. */
  def collect(df: DataFrame): ColumnStats = {
    val cols = df.columns.toSeq
    if (cols.isEmpty) return ColumnStats(0L, 0L, Map.empty, Map.empty)
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    val complete = df.schema.fields.map { f =>
      f.dataType match {
        case FloatType | DoubleType => col(f.name).isNotNull && !isnan(col(f.name))
        case _                      => col(f.name).isNotNull
      }
    }.reduce(_ && _)

    // try_cast, not cast: Spark 4 runs with ANSI on, where a failed cast
    // throws instead of yielding null (the pandas errors="coerce" analogue).
    val aggs =
      count(lit(1)).as("__n") +: count_if(complete).as("__complete") +:
        (cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null__$c")) ++
          stringCols.map(c =>
            avg(when(expr(s"try_cast(`$c` AS DOUBLE)").isNotNull, 1.0).otherwise(0.0))
              .as(s"__num__$c")))

    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getAs[Long]("__n")
    val nulls = cols.map(c => c -> Option(row.getAs[Long](s"__null__$c")).getOrElse(0L)).toMap
    val rates = stringCols.map { c =>
      c -> Option(row.getAs[Double](s"__num__$c")).getOrElse(0.0)
    }.toMap
    ColumnStats(n, row.getAs[Long]("__complete"), nulls, rates)
  }
}
