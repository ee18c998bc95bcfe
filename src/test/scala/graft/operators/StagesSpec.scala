package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.EngineConfig

/** Mirrors tests/unit/test_transformer.py. */
class StagesSpec extends SparkSpec {

  test("T1: column name normalization goldens (test_transformer.py:45-57)") {
    assert(Stages.normalizeName("Order ID") == "order_id")
    assert(Stages.normalizeName("Customer Name") == "customer_name")
    assert(Stages.normalizeName("Unit Price ($)") == "unit_price")
    assert(Stages.normalizeName("__weird__  Col!! ") == "weird_col")
    assert(Stages.normalizeName("already_clean") == "already_clean")
  }

  test("T1 idempotence: normalize(normalize(x)) == normalize(x)") {
    val inputs = Seq("Order ID", "A  B   C", "x-y.z", "UPPER", "_lead", "trail_", "a$%^b")
    inputs.foreach { s =>
      val once = Stages.normalizeName(s)
      assert(Stages.normalizeName(once) == once, s"not idempotent for '$s'")
    }
  }

  test("T2: drop strategy removes rows with any null (test_transformer.py:59-67)") {
    val stats = ColumnStats.collect(sampleSalesWithNulls)
    val out = Stages.handleNulls(sampleSalesWithNulls, Stages.NullStrategy.Drop, stats)
    assert(out.count() == 1)
    assert(out.collect()(0).getString(0) == "ORD001")
  }

  test("T3: fill strategy — numeric→0, string→'' (test_transformer.py:69-78)") {
    val stats = ColumnStats.collect(sampleSalesWithNulls)
    val out = Stages.handleNulls(sampleSalesWithNulls, Stages.NullStrategy.Fill, stats)
      .orderBy(col("quantity"))
    val rows = out.collect()
    assert(out.count() == 3)
    assert(!rows.exists(r => (0 until r.length).exists(r.isNullAt)))
    val filled = rows.find(_.getString(0) == "").get
    assert(filled.getLong(2) == 0L && filled.getString(4) == "")
  }

  test("T4: flag strategy adds _is_null only for columns that have nulls") {
    val stats = ColumnStats.collect(sampleSalesWithNulls)
    val out = Stages.handleNulls(sampleSalesWithNulls, Stages.NullStrategy.Flag, stats)
    val flags = out.columns.filter(_.endsWith("_is_null")).sorted
    assert(flags.toSeq == Seq("customer_id_is_null", "order_id_is_null",
      "quantity_is_null", "status_is_null", "unit_price_is_null"))
    assert(out.filter(col("order_id_is_null")).count() == 1)
  }

  test("D1: dedup removes exact duplicates (test_transformer.py:80-90)") {
    val schema = StructType(Seq(
      StructField("order_id", StringType), StructField("product", StringType)))
    val df = spark.createDataFrame(java.util.List.of(
      Row("A", "x"), Row("A", "x"), Row("B", "y")), schema)
    assert(Stages.deduplicate(df).count() == 2)
  }

  test("T9: date-keyword string columns cast to timestamp (test_transformer.py:100-110)") {
    val schema = StructType(Seq(
      StructField("order_date", StringType), StructField("value", LongType)))
    val df = spark.createDataFrame(java.util.List.of(
      Row("2024-01-15", 1L), Row("2024-01-16", 2L), Row("garbage", 3L)), schema)
    val stats = ColumnStats.collect(df)
    val out = Stages.castTypes(df, stats)
    assert(out.schema("order_date").dataType == TimestampType)
    assert(out.schema("value").dataType == LongType)
    assert(out.filter(col("order_date").isNull).count() == 1) // coerce → null
  }

  test("T10: 80% numeric rule — above casts, below doesn't") {
    val schema = StructType(Seq(
      StructField("mostly_num", StringType), StructField("mostly_text", StringType)))
    val rows = (1 to 9).map(i => Row(i.toString, s"text$i")) :+ Row("oops", "10")
    val df = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
    val stats = ColumnStats.collect(df)
    assert(stats.numericParseRate("mostly_num") == 0.9)
    assert(stats.numericParseRate("mostly_text") == 0.1)
    val out = Stages.castTypes(df, stats)
    assert(out.schema("mostly_num").dataType == DoubleType)
    assert(out.schema("mostly_text").dataType == StringType)
    assert(out.filter(col("mostly_num").isNull).count() == 1)
  }

  test("T10 boundary: exactly 0.8 does NOT cast (strict >, transformer.py:194)") {
    val schema = StructType(Seq(StructField("c", StringType)))
    val rows = (1 to 8).map(i => Row(i.toString)) ++ Seq(Row("a"), Row("b"))
    val df = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
    val stats = ColumnStats.collect(df)
    assert(stats.numericParseRate("c") == 0.8)
    assert(Stages.castTypes(df, stats).schema("c").dataType == StringType)
  }

  test("T6-T8: derived fields (test_transformer.py:35-43, :92-98)") {
    val df = Stages.castTypes(Stages.cleanColumnNames(sampleSales),
      ColumnStats.collect(sampleSales))
    val out = Stages.deriveFields(df)
    assert(Seq("_processed_at", "_row_hash", "_year", "_month", "_day")
      .forall(out.columns.contains))
    val r = out.filter(col("order_id") === "ORD001").collect()(0)
    assert(r.getAs[Int]("_year") == 2024)
    assert(r.getAs[Int]("_month") == 1)
    assert(r.getAs[Int]("_day") == 15)
  }

  test("T7: row hash deterministic across runs and excludes _processed_at") {
    val base = Stages.castTypes(Stages.cleanColumnNames(sampleSales),
      ColumnStats.collect(sampleSales))
    val h1 = Stages.deriveFields(base).select("order_id", "_row_hash").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Thread.sleep(5)
    val h2 = Stages.deriveFields(base).select("order_id", "_row_hash").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h1 == h2)
  }

  test("T8: partition keys come from the FIRST temporal column in schema order") {
    val schema = StructType(Seq(
      StructField("created_time", TimestampType), StructField("updated_time", TimestampType)))
    val df = spark.createDataFrame(java.util.List.of(
      Row(java.sql.Timestamp.valueOf("2020-05-05 00:00:00"),
        java.sql.Timestamp.valueOf("2021-06-06 00:00:00"))), schema)
    val out = Stages.deriveFields(df)
    assert(out.collect()(0).getAs[Int]("_year") == 2020)
  }

  test("A5-A7: validation report (test_transformer.py:112-131)") {
    val report = Stages.validate(sampleSalesWithNulls)
    assert(!report.isValid)
    assert(report.rowCount == 3 && report.columnCount == 5)
    assert(report.warnings.exists(_.contains("Columns with nulls")))
    assert(report.schema("quantity") == "bigint")
  }

  test("T0: empty input short-circuits (test_transformer.py:26-33)") {
    val run = TransformPipeline.runWithStats(spark.emptyDataFrame)
    assert(run.output.columns.isEmpty)
    assert(run.stats.nullHandling == "empty_input" && run.stats.inputRows == 0)
  }

  test("full pipeline: sales frame end-to-end (test_transformer.py:35-43)") {
    val run = TransformPipeline.runWithStats(sampleSales)
    val out = run.output
    out.write.format("noop").mode("overwrite").save()
    val stats = run.stats
    assert(stats.inputRows == 3 && stats.outputRows == 3)
    assert(stats.duplicatesRemoved == 0)
    assert(out.schema("order_date").dataType == TimestampType)
    assert(Seq("_processed_at", "_row_hash", "_year", "_month", "_day")
      .forall(out.columns.contains))
  }

  test("full pipeline honors null_handling=fill config") {
    val cfg = EngineConfig(Map("etl.transform.null_handling" -> "fill"))
    val run = TransformPipeline.runWithStats(sampleSalesWithNulls, cfg)
    val out = run.output
    out.write.format("noop").mode("overwrite").save()
    assert(run.stats.outputRows == 3)
    assert(out.filter(col("customer_id") === "").count() == 1)
  }
}
