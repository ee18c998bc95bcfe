package graft.sinks

import java.time.Instant

import graft.SparkSpec
import graft.core.{FileFormat, SinkSpec}
import graft.operators.TransformPipeline

/** Mirrors tests/unit/test_loader.py. */
class WritersSpec extends SparkSpec {

  private val fixedDate = Instant.parse("2024-03-07T12:00:00Z")

  test("L0: empty frame skipped, nothing written (test_loader.py:36-43)") {
    val out = tmpDir("writers")
    val res = Writers.load(spark.emptyDataFrame, "job-1", SinkSpec(out), fixedDate)
    assert(res.status == "skipped" && res.rowsLoaded == 0)
  }

  test("L0: a row-empty frame is found empty after the write and removed") {
    val out = tmpDir("writers")
    for (sink <- Seq(SinkSpec(out), SinkSpec(out, FileFormat.Csv),
        SinkSpec(out, partitionOnData = true))) {
      val res = Writers.load(sampleSales.limit(0), "job-empty", sink, fixedDate)
      assert(res.status == "skipped" && res.rowsLoaded == 0 && res.destination.isEmpty)
      assert(new java.io.File(out).listFiles().isEmpty, s"$sink left files behind")
    }
  }

  test("L1/L4/L6: parquet write under wall-clock hive path with stats (test_loader.py:45-64)") {
    val out = tmpDir("writers")
    val res = Writers.load(sampleSales, "job-2", SinkSpec(out), fixedDate)
    assert(res.status == "success")
    assert(res.destination.contains("processed/year=2024/month=03/day=07/job-2"))
    assert(res.rowsLoaded == 3)
    assert(res.fileSizeBytes > 0)
    assert(spark.read.parquet(res.destination).count() == 3)
  }

  test("L2/L3: csv and json sinks round-trip (test_loader.py:81-118)") {
    val out = tmpDir("writers")
    val csv = Writers.load(sampleSales, "j-csv", SinkSpec(out, FileFormat.Csv), fixedDate)
    assert(spark.read.option("header", "true").csv(csv.destination).count() == 3)
    val json = Writers.load(sampleSales, "j-json", SinkSpec(out, FileFormat.Json), fixedDate)
    assert(spark.read.json(json.destination).count() == 3)
  }

  test("L4 data-driven partitioning: partitionBy(_year,_month,_day) layout") {
    val out = tmpDir("writers")
    val transformed = TransformPipeline.runWithStats(sampleSales).output
    val res = Writers.load(transformed, "j-part",
      SinkSpec(out, partitionOnData = true), fixedDate)
    assert(res.status == "success")
    val files = new java.io.File(res.destination).listFiles()
    assert(files.exists(f => f.getName == "_year=2024"))
    val back = spark.read.parquet(res.destination)
    assert(back.count() == 3)
    // partition pruning works on read-back
    assert(back.where("_day = 15").count() == 1)
  }

  test("L7: archive move relocates the source file (test_loader.py:131-151)") {
    val dir = tmpDir("writers")
    val src = java.nio.file.Paths.get(dir, "in.csv")
    java.nio.file.Files.write(src, "x\n1\n".getBytes)
    val archived = Writers.archiveSource(sampleSales, src.toString, dir, fixedDate)
    assert(archived.isDefined)
    assert(archived.get.contains("archive/2024/03/in.csv"))
    assert(!java.nio.file.Files.exists(src))
  }

  test("L7: archive failure returns None, never throws (loader.py:196-204)") {
    val base = tmpDir("writers")
    assert(Writers.archiveSource(sampleSales, s"$base/missing/in.csv", base, fixedDate)
      .isEmpty)
  }
}

class OrcFormatSpec extends graft.SparkSpec {
  import graft.core.{FileFormat, SinkSpec}

  test("ORC extension dispatch and sink/source round-trip") {
    assert(FileFormat.fromPath("x/y/data.ORC").contains(FileFormat.Orc))
    val out = tmpDir("orc")
    val res = Writers.load(sampleSales, "job-orc", SinkSpec(out, FileFormat.Orc))
    assert(res.status == "success" && res.rowsLoaded == 3)
    val files = graft.sources.Readers.listSupported(spark, res.destination)
    assert(files.nonEmpty && files.forall(_.endsWith(".orc")))
    assert(graft.sources.Readers.single(spark, files.head).count() > 0)
  }
}

class AppendDedupSpec extends graft.SparkSpec {
  import graft.operators.TransformPipeline

  test("re-ingesting the same input is a no-op; novel rows append") {
    val out = tmpDir("appdedup") + "/silver"
    val silver = TransformPipeline.plan(sampleSales)

    val first = Writers.appendDedup(silver, out)
    assert(first.status == "success" && first.rowsLoaded == 3)

    val rerun = Writers.appendDedup(silver, out)
    assert(rerun.status == "skipped" && rerun.rowsLoaded == 0)
    assert(spark.read.parquet(out).count() == 3)

    // One genuinely new row → only it lands.
    val more = TransformPipeline.plan(
      sampleSales.withColumn("quantity",
        org.apache.spark.sql.functions.col("quantity") + 100))
    val delta = Writers.appendDedup(more, out)
    assert(delta.status == "success" && delta.rowsLoaded == 3)
    assert(spark.read.parquet(out).count() == 6)
  }

  test("a 64-bit hash collision does not drop a distinct row (pair identity)") {
    import spark.implicits._
    val out = tmpDir("appdedup-pair") + "/silver"
    // Simulated collision: same _row_hash, different _row_hash2/content.
    // With hash-only identity the second row would be silently dropped —
    // the exact failure mode a 10^10-row corpus makes a certainty.
    Writers.appendDedup(
      Seq(("a", 100L, 1L)).toDF("v", "_row_hash", "_row_hash2"), out): Unit
    val second = Writers.appendDedup(
      Seq(("b", 100L, 2L)).toDF("v", "_row_hash", "_row_hash2"), out)
    assert(second.rowsLoaded == 1, "distinct row lost to a 64-bit collision")
    // and a true duplicate (both hashes equal) still dedups
    val third = Writers.appendDedup(
      Seq(("a", 100L, 1L)).toDF("v", "_row_hash", "_row_hash2"), out)
    assert(third.status == "skipped" && third.rowsLoaded == 0)
  }

  test("legacy dests without _row_hash2 fall back to single-hash identity") {
    import spark.implicits._
    val out = tmpDir("appdedup-legacy") + "/silver"
    Writers.appendDedup(Seq(("a", 100L)).toDF("v", "_row_hash"), out): Unit
    val rerun = Writers.appendDedup(
      Seq(("a", 100L, 5L)).toDF("v", "_row_hash", "_row_hash2"), out)
    assert(rerun.status == "skipped" && rerun.rowsLoaded == 0,
      "hash-matched row must dedup against a legacy dest")
  }

  test("mixed-schema dest: legacy rows (null hash2) still dedup by single hash") {
    import spark.implicits._
    val out = tmpDir("appdedup-mixed") + "/silver"
    // legacy file first, then an upgraded file → dest mixes schemas
    Writers.appendDedup(Seq(("old", 100L)).toDF("v", "_row_hash"), out): Unit
    val up = Writers.appendDedup(
      Seq(("new", 200L, 7L)).toDF("v", "_row_hash", "_row_hash2"), out)
    assert(up.rowsLoaded == 1)
    // re-ingesting the LEGACY row (now carrying a hash2 the dest's legacy
    // file lacks) must be a no-op: with a non-null-safe pair join the
    // legacy row's null hash2 never matches and the dup re-appends
    val replayOld = Writers.appendDedup(
      Seq(("old", 100L, 3L)).toDF("v", "_row_hash", "_row_hash2"), out)
    assert(replayOld.status == "skipped" && replayOld.rowsLoaded == 0,
      "legacy row replay re-appended — pair join is not null-tolerant")
    // and the pair identity still distinguishes a true 64-bit collision
    // against UPGRADED rows
    val collide = Writers.appendDedup(
      Seq(("new2", 200L, 8L)).toDF("v", "_row_hash", "_row_hash2"), out)
    assert(collide.rowsLoaded == 1, "distinct row lost to a 64-bit collision")
  }
}
