package graft.sinks

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.{FileFormat, SinkSpec}

/** Sink layer (loader.py:42-151): format switch, partitioned destination,
  * empty-skip, write stats, archive move.
  *
  * Reference parity: wall-clock Hive path `processed/year=Y/month=M/day=D/`
  * + one object per job (loader.py:77-96 — partitioning by *job* date, not
  * data date). Scale path: `partitionOnData = true` writes with
  * `partitionBy("_year","_month","_day")` so downstream readers get real
  * partition pruning on data dates (the upgrade config.yaml:91-93 gestures
  * at but the reference never implements).
  */
object Writers {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  final case class LoadResult(
      status: String, // success | skipped
      destination: String,
      format: String,
      rowsLoaded: Long,
      fileSizeBytes: Long
  )

  /** L0-L6. `jobDate` is injectable for deterministic tests (defaults to
    * wall clock like loader.py:88).
    */
  def load(
      df: DataFrame,
      jobId: String,
      sink: SinkSpec,
      jobDate: Instant = Instant.now()
  ): LoadResult = {
    // L0 empty-skip (loader.py:53-59). A schema-less frame never reaches
    // the writer; a row-empty one is found AFTER the write, from the
    // written files' count. A pre-write isEmpty is no cheap probe: LIMIT 1
    // over a dedup runs the whole upstream plan and its shuffle.
    val skipped = LoadResult("skipped", "", sink.format.name, 0L, 0L)
    if (df.columns.isEmpty) return skipped

    val dest =
      if (sink.partitionOnData) s"${sink.dir.stripSuffix("/")}/processed/$jobId"
      else s"${sink.dir.stripSuffix("/")}/${wallClockPartitionPath(jobDate)}/$jobId"

    val writer = {
      val base = df.write.mode("overwrite")
      val hasDateCols = Seq("_year", "_month", "_day").forall(df.columns.contains)
      if (sink.partitionOnData && !hasDateCols)
        log.warn(s"partitionOnData requested but _year/_month/_day absent " +
          s"from ${df.columns.mkString(",")} — writing unpartitioned (no pruning downstream)")
      if (sink.partitionOnData && hasDateCols)
        base.partitionBy("_year", "_month", "_day")
      else base
    }

    sink.format match {
      case FileFormat.Parquet =>
        writer.option("compression", sink.compression).parquet(dest)
      case FileFormat.Csv =>
        writer.option("header", "true").csv(dest)
      case FileFormat.Json =>
        writer.json(dest)
      case FileFormat.Orc =>
        writer.option("compression", sink.compression).orc(dest)
    }

    val (rows, bytes) = writtenStats(df, dest, sink.format)
    if (rows > 0) LoadResult("success", dest, sink.format.name, rows, bytes)
    else {
      // dest is job-unique: drop it, then the partition dirs it leaves
      // empty below sink.dir (a non-recursive delete refuses a dir that
      // another job has written into meanwhile)
      val path = new Path(dest)
      val fs = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(path, true)
      val rootDepth = new Path(sink.dir.stripSuffix("/")).depth
      var p = path.getParent
      while (p.depth > rootDepth && fs.listStatus(p).isEmpty && fs.delete(p, false))
        p = p.getParent
      skipped
    }
  }

  /** `processed/year=YYYY/month=MM/day=DD` from the job timestamp
    * (loader.py:88-96).
    */
  def wallClockPartitionPath(at: Instant): String = {
    val d = at.atZone(ZoneOffset.UTC)
    f"processed/year=${d.getYear}%04d/month=${d.getMonthValue}%02d/day=${d.getDayOfMonth}%02d"
  }

  /** L6 write stats (loader.py:128-151 reports rows + bytes): byte size from
    * the FS content summary; row count by counting the *written* files, not
    * the input plan — for parquet that collapses to a footer-metadata read,
    * and it never recomputes the (possibly expensive) upstream transform.
    */
  private def writtenStats(df: DataFrame, dest: String, fmt: FileFormat): (Long, Long) = {
    val spark = df.sparkSession
    val path = new Path(dest)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val rows = fmt match {
      case FileFormat.Parquet => spark.read.parquet(dest).count()
      case FileFormat.Csv     =>
        // multiLine: quoted embedded newlines are one record, not two.
        spark.read.option("header", "true").option("multiLine", "true").csv(dest).count()
      case FileFormat.Json    => spark.read.json(dest).count()
      case FileFormat.Orc     => spark.read.orc(dest).count()
    }
    (rows, bytes)
  }

  /** Idempotent append: write only rows whose `hashCol` is absent from
    * the destination — re-running a job over the same input is a no-op,
    * which is the stated purpose of the `_row_hash` column the reference
    * derives but never consumes (etl/README.md:739-741).
    *
    * The anti-join reads ONLY the hash column from the existing data
    * (column-pruned scan), broadcast when small. Atomicity caveat: this
    * is check-then-append without a transaction log — two concurrent
    * writers can both pass the check; serialize callers per destination
    * (the reference has the same property via single-Lambda-per-object).
    */
  def appendDedup(
      df: DataFrame,
      dest: String,
      hashCol: String = "_row_hash",
      hashCol2: String = "_row_hash2"
  ): LoadResult = {
    require(df.columns.contains(hashCol), s"$hashCol column required")
    val spark = df.sparkSession
    val path = new Path(dest)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val novel =
      if (!fs.exists(path)) df
      else {
        // Identity = the (hash, hash2) PAIR when both sides carry it
        // (Stages.deriveFields writes both): a single 64-bit hash hits
        // its birthday bound at ~4B rows and a collision here silently
        // DROPS a distinct row. Both reads stay column-pruned (1-2 longs
        // per dest row). mergeSchema: a dest can MIX legacy files
        // (written before hash2 existed) with pair files — single-footer
        // schema inference would see hash2 or not depending on which
        // file it samples, making dedup nondeterministic.
        val existing = spark.read.option("mergeSchema", "true").parquet(dest)
        if (df.columns.contains(hashCol2) && existing.columns.contains(hashCol2)) {
          // Legacy rows inside an upgraded dest surface hash2 = NULL; a
          // plain `===` never matches NULL and would silently RE-APPEND
          // a duplicate of every legacy row. Such rows match on hashCol
          // alone (conservative: keeps idempotence; the 64-bit collision
          // odds persist only for pre-upgrade rows).
          val seen = existing.select(col(hashCol).as("__h1"), col(hashCol2).as("__h2"))
          df.join(seen,
            df(hashCol) === seen("__h1") &&
              (seen("__h2").isNull || df(hashCol2) === seen("__h2")),
            "left_anti")
        } else {
          df.join(existing.select(hashCol), Seq(hashCol), "left_anti")
        }
      }
    // Single execution of the (possibly expensive) upstream plan: write
    // unconditionally, derive the row delta from parquet footer counts
    // (metadata-only reads) — a pre-write isEmpty check would run the
    // anti-join twice.
    val before = if (fs.exists(path)) spark.read.parquet(dest).count() else 0L
    novel.write.mode("append").option("compression", "snappy").parquet(dest)
    val after = spark.read.parquet(dest).count()
    val bytes = fs.getContentSummary(path).getLength
    val delta = after - before
    LoadResult(if (delta > 0) "success" else "skipped", dest, "parquet", delta, bytes)
  }

  /** L7 archive move (loader.py:162-204): relocate a consumed source file to
    * `archive/{year}/{month}/{basename}`. Pure FS op, no Spark job. Returns
    * the archive path, or None on failure — archive failures never fail the
    * job (loader.py:196-204).
    */
  def archiveSource(
      df: DataFrame,
      sourcePath: String,
      archiveBase: String,
      at: Instant = Instant.now()
  ): Option[String] = {
    try {
      val src = new Path(sourcePath)
      val fs = src.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      val d = at.atZone(ZoneOffset.UTC)
      val base = new Path(
        f"${archiveBase.stripSuffix("/")}/archive/${d.getYear}%04d/${d.getMonthValue}%02d/${src.getName}")
      fs.mkdirs(base.getParent)
      // Recurring basenames (a producer re-dropping data.csv next month's
      // sweep) would make rename return false against an existing dest and
      // the source would be re-ingested forever; suffix on collision.
      val dst =
        if (!fs.exists(base)) base
        else new Path(base.getParent, s"${base.getName}.${at.toEpochMilli}")
      if (fs.rename(src, dst)) Some(dst.toString) else None
    } catch {
      case _: Exception => None
    }
  }
}
