package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Spark fixes the codegen cache cap at the JVM's first codegen:
      // this must stay the only session the test JVM builds.
      .config(graft.core.EngineSession.compileReuse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** FIXTURES.md §1: the canonical 3-row sales frame (tests/conftest.py:20-31). */
  def sampleSales: DataFrame = {
    val schema = StructType(Seq(
      StructField("order_id", StringType),
      StructField("customer_id", StringType),
      StructField("product_name", StringType),
      StructField("quantity", LongType),
      StructField("unit_price", DoubleType),
      StructField("order_date", StringType),
      StructField("status", StringType)
    ))
    spark.createDataFrame(java.util.List.of(
      Row("ORD001", "CUST001", "Laptop Pro 15", 1L, 999.99, "2024-01-15", "completed"),
      Row("ORD002", "CUST002", "Wireless Mouse", 2L, 29.99, "2024-01-16", "completed"),
      Row("ORD003", "CUST003", "USB-C Cable", 3L, 12.99, "2024-01-17", "pending")
    ), schema)
  }

  /** FIXTURES.md §2: nulls variant (tests/conftest.py:34-45). */
  def sampleSalesWithNulls: DataFrame = {
    val schema = StructType(Seq(
      StructField("order_id", StringType),
      StructField("customer_id", StringType),
      StructField("quantity", LongType),
      StructField("unit_price", DoubleType),
      StructField("status", StringType)
    ))
    spark.createDataFrame(java.util.List.of(
      Row("ORD001", "CUST001", 1L, 999.99, "completed"),
      Row("ORD002", null, 2L, null, "completed"),
      Row(null, "CUST003", null, 12.99, null)
    ), schema)
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
