package graft.operators

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.EngineConfig

/** The fused stats `runWithStats` reports (the stats pass's complete-row
  * count, the observation riding the write) equal the standalone
  * computations they replace: `na.drop("any").count()`, an explicit
  * post-null-handling count and [[Stages.validate]].
  */
class TransformStatsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("Order ID", StringType), StructField("category", StringType),
    StructField("quantity", LongType), StructField("price", DoubleType),
    StructField("order_date", StringType)))

  /** 300 rows (nulls in three columns, NaN prices) plus 20 planted
    * duplicates: over 100 rows survive every strategy, so the
    * high-cardinality warning (approx distinct) is compared too. */
  private def mixed: DataFrame = {
    val rows = (0 until 300).map { i =>
      Row(s"ORD$i", if (i % 3 == 0) null else s"c${i % 5}",
        if (i % 11 == 0) null else (i % 7).toLong,
        if (i % 13 == 0) Double.NaN else i * 1.5,
        f"2024-01-${i % 28 + 1}%02d")
    }
    spark.createDataFrame(java.util.List.of((rows ++ rows.take(20)): _*), schema)
  }

  /** Every row has a null somewhere. */
  private def allNull: DataFrame =
    spark.createDataFrame(java.util.List.of(
      Row("ORD1", null, 1L, 2.0, "2024-01-01"),
      Row("ORD2", "c1", null, 3.0, "2024-01-02"),
      Row(null, "c1", 1L, 2.0, "2024-01-03"),
      Row("ORD2", "c1", null, 3.0, "2024-01-02")), schema)

  test("completeRows equals na.drop(\"any\").count(), NaN counted as missing") {
    for (df <- Seq(mixed, allNull)) {
      val stats = ColumnStats.collect(df)
      assert(stats.completeRows == df.na.drop("any").count())
      assert(stats.rowCount == df.count())
    }
    assert(ColumnStats.collect(allNull).completeRows == 0L)
  }

  for {
    (name, input) <- Seq[(String, () => DataFrame)](
      "mixed" -> (() => mixed), "all rows null" -> (() => allNull))
    strategy <- Seq("drop", "fill", "flag", "none")
    dedup <- Seq(true, false)
  } test(s"TransformStats parity: $name, null_handling=$strategy, deduplicate=$dedup") {
    val df = input()
    val cfg = EngineConfig(Map("etl.transform.null_handling" -> strategy,
      "etl.transform.deduplicate" -> dedup.toString))
    val run = TransformPipeline.runWithStats(df, cfg)
    run.output.write.format("noop").mode("overwrite").save()
    val stats = run.stats

    val cleaned = Stages.cleanColumnNames(df)
    val colStats = ColumnStats.collect(cleaned)
    val afterNulls = Stages.handleNulls(cleaned,
      Stages.NullStrategy.fromString(strategy), colStats)
    val rowsBeforeDedup = afterNulls.count()
    val validation = Stages.validate(run.output)
    assert(stats.inputRows == df.count())
    assert(stats.outputRows == validation.rowCount)
    assert(stats.outputRows == run.output.count())
    assert(stats.rowsRemoved == stats.inputRows - validation.rowCount)
    assert(stats.duplicatesRemoved == rowsBeforeDedup - validation.rowCount)
    assert(dedup || stats.duplicatesRemoved == 0L)
    assert(stats.totalNullsFound == colStats.totalNulls)
    assert(stats.nullHandling == strategy)
    assert(stats.validation == validation,
      s"observed ${stats.validation} vs standalone $validation")
  }

  test("the planted duplicates and the high-cardinality id are seen") {
    val run = TransformPipeline.runWithStats(mixed,
      EngineConfig(Map("etl.transform.null_handling" -> "fill")))
    run.output.write.format("noop").mode("overwrite").save()
    assert(run.stats.duplicatesRemoved == 20L)
    assert(run.stats.validation.warnings.exists(_.contains("'order_id' may be a unique")))
  }

  test("reading the stats of a never-written frame fails fast") {
    val run = TransformPipeline.runWithStats(sampleSales)
    val read = Future(scala.util.Try(run.stats))
    val outcome = Await.result(read, 2.minutes)
    assert(outcome.failed.toOption.exists(_.isInstanceOf[IllegalStateException]),
      s"expected an IllegalStateException, got $outcome")
    // once written, the same handle reads
    run.output.write.format("noop").mode("overwrite").save()
    assert(run.stats.outputRows == 3L)
  }
}
