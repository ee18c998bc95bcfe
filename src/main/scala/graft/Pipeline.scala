package graft

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.SparkSession

import graft.core.{EngineConfig, FileFormat, SinkSpec, SourceSpec}
import graft.meta.{JobLedger, LogMetricsSink, LogNotifier, MetricsSink, Notifier}
import graft.operators.TransformPipeline
import graft.sinks.Writers
import graft.sources.Readers

/** The ETL driver (O1, lambda_handler.py:41-153): mint a job id, ledger
  * start, extract → transform → load, ledger complete/fail, notify. One
  * Spark application replaces one Lambda invocation; the same code path
  * serves single-file, batch, and scheduled triggers via [[SourceSpec]].
  */
object Pipeline {

  final case class JobOutcome(
      jobId: String,
      status: String, // success | failed
      stats: Option[TransformPipeline.TransformStats],
      load: Option[Writers.LoadResult],
      error: Option[String]
  )

  private val jobIdFmt =
    DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss").withZone(ZoneOffset.UTC)

  /** `etl-<UTC yyyymmdd-HHMMSS>` (lambda_handler.py:57) + an 8-hex random
    * suffix so concurrent jobs in the same second don't collide (the
    * reference accepts that collision; we don't). Not nanoTime: its origin
    * is arbitrary (can be negative → malformed id) and 10^5 values is a
    * weak birthday bound.
    */
  def mintJobId(at: Instant = Instant.now()): String =
    s"etl-${jobIdFmt.format(at)}-${java.util.UUID.randomUUID().toString.take(8)}"

  def run(
      spark: SparkSession,
      source: SourceSpec,
      sink: SinkSpec,
      config: EngineConfig = EngineConfig.default,
      ledger: Option[JobLedger] = None,
      notifier: Notifier = LogNotifier,
      metrics: MetricsSink = LogMetricsSink
  ): JobOutcome = {
    val jobId = mintJobId()
    val t0 = System.nanoTime()
    // The default-param sink was built from EngineConfig.default at class
    // init; when the caller passed a custom config but kept the default
    // sink, rebuild it so monitoring.cloudwatch.metric_namespace applies.
    val metricsSink =
      if (metrics eq LogMetricsSink) new LogMetricsSink(config) else metrics
    ledger.foreach(_.startJob(jobId, describeSource(source)))
    try {
      // Oversize-input guard. The reference DEFINES max_file_size_mb
      // (config.yaml:79) but never enforces it; enforcement here (error
      // on a direct source, skip-with-warning in batch) is a deliberate
      // extension beyond the reference, OFF by default — set the key > 0
      // to opt in. A batch skip is a data drop, so it must never happen
      // unless the operator asked for it.
      val maxMb = config.getInt("etl.extract.max_file_size_mb", 0).toLong
      val raw = Readers.extract(spark, source,
        maxFileSizeMb = if (maxMb > 0) Some(maxMb) else None)
      // two executions of the transform plan: the stats job, then the
      // write, which also fills the output-side stats
      val transformed = TransformPipeline.runWithStats(raw, config)
      val load = Writers.load(transformed.output, jobId, sink)
      val stats = transformed.stats
      val duration = (System.nanoTime() - t0) / 1e9
      ledger.foreach(_.completeJob(jobId, Map(
        "status" -> load.status,
        "destination" -> load.destination,
        "rows_loaded" -> load.rowsLoaded.toString,
        "input_rows" -> stats.inputRows.toString,
        "output_rows" -> stats.outputRows.toString
      ), duration))
      notifier.notify(s"ETL Job Success: $jobId",
        s"rows=${load.rowsLoaded} dest=${load.destination} duration=${duration}s")
      // N2 metric emission (aws_clients.py:167-201 contract: failures in
      // the sink must not fail the job — sinks are expected to swallow).
      metricsSink.putMetric("JobDuration", duration, "Seconds", Map("job_id" -> jobId))
      metricsSink.putMetric("RowsProcessed", load.rowsLoaded.toDouble, "Count", Map("job_id" -> jobId))
      JobOutcome(jobId, "success", Some(stats), Some(load), None)
    } catch {
      case e: Exception =>
        val sw = new java.io.StringWriter()
        e.printStackTrace(new java.io.PrintWriter(sw))
        ledger.foreach(_.failJob(jobId, String.valueOf(e.getMessage), sw.toString))
        notifier.notify(s"ETL Job Failed: $jobId", String.valueOf(e.getMessage))
        metricsSink.putMetric("JobFailed", 1.0, "Count", Map("job_id" -> jobId))
        JobOutcome(jobId, "failed", None, None, Some(String.valueOf(e.getMessage)))
    }
  }

  /** O2 event parser (lambda_handler.py:155-197) is [[SourceSpec.fromEvent]];
    * this records the parsed spec into the ledger's trigger_event map.
    */
  private def describeSource(s: SourceSpec): Map[String, String] = s match {
    case SourceSpec.SingleFile(p) => Map("type" -> "direct", "path" -> p)
    case SourceSpec.Batch(d)      => Map("type" -> "batch", "dir" -> d)
    case sc: SourceSpec.Scheduled => Map("type" -> "scheduled", "dir" -> sc.pendingDir)
  }

  /** One job's latest-known state, flattened for the status report. */
  final case class JobSummary(
      jobId: String,
      status: String,
      timestamp: String,
      durationSeconds: Option[Double],
      rowsLoaded: Option[Long]
  )

  /** Ops status report — scripts/status_check.py parity minus the live AWS
    * resource probes (Lambda/DynamoDB/CloudWatch have no Spark-native
    * meaning): recent jobs at their latest status, status counts, duration
    * aggregates over completed jobs, and destination size + object count
    * (the bucket-stats analog, status_check.py:51-91).
    */
  final case class OpsStatus(
      recentJobs: Seq[JobSummary],
      statusCounts: Map[String, Long],
      avgDurationSeconds: Option[Double],
      maxDurationSeconds: Option[Double],
      dataBytes: Long,
      dataObjects: Long
  )

  /** Build the status report for a pipeline destination dir (whose ledger
    * lives at `<outDir>/_ledger`, as [[main]] wires it). The ledger is
    * append-only and unbounded, so counts and duration stats come from
    * ONE distributed `groupBy/agg` over the latest-per-job frame (per-
    * status partials combined driver-side); only the ≤#statuses agg rows
    * and the latest-`limit` display rows reach the driver, and the
    * ledger is scanned (and the latest-per-job window computed) once for
    * the aggregates plus once for the display ordering.
    */
  def status(
      spark: SparkSession,
      outDir: String,
      statusFilter: Option[String] = None,
      limit: Int = 10
  ): OpsStatus = {
    import org.apache.spark.sql.functions.{col, count, max, sum}
    val ledger = new JobLedger(spark, s"${outDir.stripSuffix("/")}/_ledger")
    val latest = ledger.latestJobs(status = None)

    val perStatus = latest.groupBy("status").agg(
      count(org.apache.spark.sql.functions.lit(1)).as("n"),
      sum(col("duration_seconds").cast("double")).as("dur_sum"),
      count(col("duration_seconds")).as("dur_n"),
      max(col("duration_seconds").cast("double")).as("dur_max")).collect()
    val counts = perStatus.map(r => r.getString(0) -> r.getLong(1)).toMap
    val durSum = perStatus.collect { case r if !r.isNullAt(2) => r.getDouble(2) }.sum
    val durN = perStatus.map(_.getLong(3)).sum
    val avgDur = if (durN == 0) None else Some(durSum / durN)
    val maxDur = perStatus.collect { case r if !r.isNullAt(4) => r.getDouble(4) }
      .maxOption
    val jobs = ledger.listJobs(status = statusFilter, limit = limit).collect()
      .map { r =>
        val result = Option(r.getAs[scala.collection.Map[String, String]]("job_result"))
          .getOrElse(scala.collection.Map.empty[String, String])
        JobSummary(
          r.getAs[String]("job_id"),
          r.getAs[String]("status"),
          r.getAs[String]("timestamp"),
          Option(r.getAs[java.math.BigDecimal]("duration_seconds")).map(_.doubleValue()),
          result.get("rows_loaded").flatMap(_.toLongOption))
      }.toSeq

    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (bytes, objects) =
      if (fs.exists(p)) {
        val cs = fs.getContentSummary(p)
        (cs.getLength, cs.getFileCount)
      } else (0L, 0L)

    OpsStatus(jobs, counts, avgDur, maxDur, bytes, objects)
  }

  /** One cleanup target: a top-level entry under the destination dir. */
  final case class CleanupTarget(path: String, bytes: Long, deleted: Boolean)

  /** Resource teardown — scripts/cleanup.py parity for the surface that
    * exists here (data prefixes + the ledger stand in for
    * buckets/tables/functions). DRY-RUN unless `force`: the reference
    * requires interactive confirmation before deleting (cleanup.py:186-199);
    * a non-interactive CLI makes that an explicit flag. `keepLedger`
    * preserves the job history (the audit trail) while clearing data.
    *
    * Force-deletes additionally require the dir to look like a pipeline
    * destination (a `_ledger` present — [[main]] writes one on every run):
    * the reference scopes deletion to prefix-matched resources
    * (cleanup.py:61-90), so a typo'd outDir must refuse rather than wipe
    * unrelated data. `allowUnmarked` (CLI `--force-unmarked`) overrides
    * for destinations whose ledger was already removed.
    */
  def cleanup(
      spark: SparkSession,
      outDir: String,
      force: Boolean = false,
      keepLedger: Boolean = true,
      allowUnmarked: Boolean = false
  ): Seq[CleanupTarget] = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val entries = fs.listStatus(root).toSeq.sortBy(_.getPath.getName)
    if (force && !allowUnmarked && entries.nonEmpty &&
        !entries.exists(_.getPath.getName == "_ledger"))
      throw new IllegalArgumentException(
        s"refusing to force-delete: $outDir has no _ledger marker, so it " +
          "does not look like a pipeline destination. Re-check the path, or " +
          "pass --force-unmarked to delete anyway.")
    entries.flatMap { st =>
      val p = st.getPath
      if (keepLedger && p.getName == "_ledger") None
      else {
        val bytes = fs.getContentSummary(p).getLength
        // delete() returning false (no exception) would otherwise read as
        // success and leave the resource half-reaped silently.
        val deleted = force && fs.delete(p, true)
        Some(CleanupTarget(p.toString, bytes, deleted))
      }
    }
  }

  /** Per-subcommand usage lines; the top-level usage joins them. */
  private object Usage {
    val run = "Pipeline <inPathOrDir> <outDir> [parquet|csv|json]"
    val status = "Pipeline status <outDir> [RUNNING|SUCCESS|FAILED] [limit]"
    val cleanup = "Pipeline cleanup <outDir> [--force] [--force-unmarked] [--delete-ledger]"
    val exportShards = "Pipeline export-shards <inParquet> <outDir> [nShards] [idCol] [textCol]"
    val curate = "Pipeline curate <inPath> <outDir> [--min-quality X] " +
      "[--sample F] [--max-tokens N] [--format parquet|tar] [--shards N] " +
      "[--blocked-domains d1,d2] [--dry-run]"
    val crawl = "Pipeline crawl <inDir> <outDir> [--agent NAME] " +
      "[--blocked-domains d1,d2] [--robots PARQUET] [--corpus PARQUET] " +
      "[--psl PARQUET] [--change-aware] [--files-per-drain N] " +
      "[--compact-every K] [--recrawl-base N] [--recrawl-max N] " +
      "[--control-refresh N] [--dry-run]"
    val all: String = Seq(run, status, cleanup, exportShards, curate, crawl).mkString(" | ")
  }

  /** `Pipeline cleanup <outDir> [--force] [--force-unmarked] [--delete-ledger]`. */
  private def cleanupMain(args: Array[String]): Unit = {
    val usage = s"usage: ${Usage.cleanup}"
    // The destination must be first: "cleanup --force /out" would treat
    // the flag as the path, find nothing, and report success while /out
    // stays untouched.
    require(args.nonEmpty && !args(0).startsWith("-"), usage)
    val unrecognized = args.drop(1)
      .filterNot(Set("--force", "--force-unmarked", "--delete-ledger"))
    require(unrecognized.isEmpty,
      s"unrecognized argument(s): ${unrecognized.mkString(", ")}\n$usage")
    val force = args.contains("--force")
    val spark = graft.core.EngineSession.create()
    val targets = cleanup(spark, args(0), force = force,
      keepLedger = !args.contains("--delete-ledger"),
      allowUnmarked = args.contains("--force-unmarked"))
    if (targets.isEmpty) println(s"nothing to clean under ${args(0)}")
    targets.foreach { t =>
      val verb = if (t.deleted) "deleted" else if (force) "FAILED to delete" else "would delete"
      println(f"$verb ${t.path} (${t.bytes}%d bytes)")
    }
    if (!force && targets.nonEmpty) println("dry run — pass --force to delete")
    spark.stop()
    if (force && targets.exists(!_.deleted)) sys.exit(1)
  }

  /** `Pipeline status <outDir> [statusFilter] [limit]` — the ops dashboard
    * (status_check.py's job table + resource sizes, over the ledger).
    */
  /** Typed positional args for `status`: a known status name (any case)
    * is the filter, a bare number is the limit — "status /out 20" must
    * not silently filter on status "20" and print an empty table —
    * anything else errors loudly instead of defaulting.
    */
  private[graft] def parseStatusArgs(rest: Seq[String]): (Option[String], Int) = {
    val statuses = Set("RUNNING", "SUCCESS", "FAILED")
    val filters = rest.filter(a => statuses.contains(a.toUpperCase)).map(_.toUpperCase)
    val limits = rest.flatMap(_.toIntOption)
    val unrecognized = rest.filterNot(a =>
      statuses.contains(a.toUpperCase) || a.toIntOption.isDefined)
    require(unrecognized.isEmpty,
      s"unrecognized argument(s): ${unrecognized.mkString(", ")}")
    // At most one of each: a duplicated or contradictory arg must error,
    // not half-apply (dropping "RUNNING" from "status /out SUCCESS 5
    // RUNNING" silently answers a different question).
    require(filters.length <= 1, s"multiple status filters: ${filters.mkString(", ")}")
    require(limits.length <= 1, s"multiple limits: ${limits.mkString(", ")}")
    (filters.headOption, limits.headOption.getOrElse(10))
  }

  /** One export's summary: shard files written/skipped + payload totals. */
  final case class ShardExport(shards: Long, members: Long,
                               payloadBytes: Long, resumedShards: Long)

  /** `Pipeline export-shards` — the training-export surface: pack a
    * parquet table's (id, text) rows into WebDataset-style tar shards
    * ([[graft.sources.TarShards]]), resume-aware (a rerun over a
    * partially written destination only builds the missing shards).
    */
  def exportShards(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String,
      outDir: String,
      nShards: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): ShardExport = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    import spark.implicits._
    // Null id/text rows are real in corpus parquet; without this guard
    // they surface as an opaque executor NPE (text.getBytes) or an
    // encoder null-in-nonnullable error rather than a clean export.
    // A null key has no shard/name and a null text no payload — drop
    // them in the SAME pass (accumulator, not a second count() scan of
    // a possibly-100TB table) and report the count on stderr.
    // DIAGNOSTIC ONLY: Spark accumulators in transformations (this is a
    // flatMap, not an action) re-count on task retry and speculative
    // re-execution, so under failures the number can OVER-state the
    // true drop count. The export itself is unaffected (retried output
    // is deterministic); do not gate correctness on this value.
    val droppedNulls = spark.sparkContext.longAccumulator("export_shards_dropped_nulls")
    val members = spark.read.parquet(inPath)
      .select(org.apache.spark.sql.functions.col(idCol).cast("long"),
        org.apache.spark.sql.functions.col(textCol).cast("string"))
      .flatMap { row =>
        if (row.isNullAt(0) || row.isNullAt(1)) { droppedNulls.add(1L); None }
        else {
          val id = row.getLong(0)
          Some(graft.sources.TarShards.Member(
            java.lang.Math.floorMod(id, nShards.toLong).toInt,
            f"$id%020d.txt",
            row.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        }
      }
    val manifest = graft.sources.TarShards.pack(members, outDir, resume = true)
    if (droppedNulls.value > 0)
      System.err.println(
        s"export-shards: dropped ${droppedNulls.value} row(s) with null $idCol/$textCol")
    val t = manifest.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.sum("n_members"),
      org.apache.spark.sql.functions.sum("member_bytes"),
      org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("resumed"), 1L).otherwise(0L))).head()
    ShardExport(t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3))
  }

  private def exportShardsMain(args: Array[String]): Unit = {
    val usage = s"usage: ${Usage.exportShards}"
    require(args.length >= 2 && !args(0).startsWith("-"), usage)
    val nShards = if (args.length > 2) {
      require(args(2).toIntOption.isDefined, s"nShards must be an int: ${args(2)}\n$usage")
      args(2).toInt
    } else 64
    val spark = graft.core.EngineSession.create()
    val r = exportShards(spark, args(0), args(1), nShards,
      idCol = if (args.length > 3) args(3) else "doc_id",
      textCol = if (args.length > 4) args(4) else "text")
    println(s"shards=${r.shards} members=${r.members} " +
      s"payload_bytes=${r.payloadBytes} resumed_shards=${r.resumedShards}")
    spark.stop()
  }

  /** One curation run's summary (the curate twin of [[JobOutcome]]). */
  final case class CurateOutcome(
      jobId: String,
      status: String, // success | failed
      report: Option[graft.text.Curation.Report],
      chunksWritten: Long,
      error: Option[String])

  /** Typed flags for `curate` — parse-time validation, the
    * [[parseStatusArgs]] discipline: junk errors loudly, nothing
    * half-applies. Every `None` falls back to the `curate.*` config key.
    */
  private[graft] final case class CurateArgs(
      minQuality: Option[Double] = None,
      sampleFraction: Option[Double] = None,
      maxTokens: Option[Int] = None,
      format: Option[String] = None,
      shards: Option[Int] = None,
      blockedDomains: Seq[String] = Nil,
      dryRun: Boolean = false)

  private[graft] def parseCurateArgs(rest: Seq[String]): CurateArgs = {
    def dbl(flag: String, v: String): Double = v.toDoubleOption.getOrElse(
      throw new IllegalArgumentException(s"$flag expects a number, got '$v'"))
    def int(flag: String, v: String): Int = v.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"$flag expects an integer, got '$v'"))
    @annotation.tailrec
    def loop(args: List[String], acc: CurateArgs): CurateArgs = args match {
      case Nil => acc
      case "--dry-run" :: t => loop(t, acc.copy(dryRun = true))
      case "--min-quality" :: v :: t =>
        loop(t, acc.copy(minQuality = Some(dbl("--min-quality", v))))
      case "--sample" :: v :: t =>
        loop(t, acc.copy(sampleFraction = Some(dbl("--sample", v))))
      case "--max-tokens" :: v :: t =>
        loop(t, acc.copy(maxTokens = Some(int("--max-tokens", v))))
      case "--shards" :: v :: t =>
        loop(t, acc.copy(shards = Some(int("--shards", v))))
      case "--format" :: v :: t =>
        if (v != "parquet" && v != "tar") throw new IllegalArgumentException(
          s"--format expects parquet|tar, got '$v'")
        loop(t, acc.copy(format = Some(v)))
      case "--blocked-domains" :: v :: t =>
        loop(t, acc.copy(blockedDomains =
          v.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
      case other :: _ =>
        throw new IllegalArgumentException(s"unrecognized argument: $other")
    }
    loop(rest.toList, CurateArgs())
  }

  /** `Pipeline curate` — config-driven corpus curation end to end,
    * completing the O3 orchestration surface for the curation stack the
    * way `run` completes it for E→T→L: read a corpus (a CRAWL directory
    * of WARC shards goes through streamed record parsing + HTML
    * extraction + the URL-level domain blocklist; anything else is a
    * parquet corpus with configurable id/text columns), run the
    * [[graft.text.Curation]] recipe (quality gate, exact + near-dup
    * dedup, sampling, chunking — knobs from `curate.*` config overridden
    * by CLI flags), export the chunks (parquet, or WebDataset-style tar
    * shards via [[graft.sources.TarShards]]), and ledger the run under
    * `outDir/_ledger` with the per-stage counts. `dryRun` computes and
    * prints the full report but writes nothing — no chunks, no ledger.
    *
    * Crawl-input doc ids are `xxhash64(record_id)` — record ids are
    * unique per crawl, so the 64-bit draw is birthday-safe to ~10⁹
    * records per run (the MinHash textHashes arithmetic).
    */
  def curate(
      spark: SparkSession,
      inPath: String,
      outDir: String,
      config: EngineConfig = EngineConfig.default,
      args: CurateArgs = CurateArgs()): CurateOutcome = {
    import org.apache.spark.sql.functions._
    val minQuality = args.minQuality.getOrElse(
      config.getDouble("curate.min_quality", 0.5))
    val sampleFraction = args.sampleFraction.getOrElse(
      config.getDouble("curate.sample_fraction", 1.0))
    val maxTokens = args.maxTokens.getOrElse(config.getInt("curate.max_tokens", 512))
    val format = args.format.getOrElse(
      config.getString("curate.output_format", "parquet"))
    require(format == "parquet" || format == "tar",
      s"curate.output_format must be parquet|tar, got '$format'")
    val nShards = args.shards.getOrElse(config.getInt("curate.shards", 16))
    require(nShards > 0, s"curate.shards must be positive, got $nShards")
    val blocked =
      if (args.blockedDomains.nonEmpty) args.blockedDomains
      else config.getString("curate.blocked_domains", "")
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq

    val jobId = mintJobId()
    val t0 = System.nanoTime()
    val ledger =
      if (args.dryRun) None
      else Some(new JobLedger(spark, s"${outDir.stripSuffix("/")}/_ledger"))
    ledger.foreach(_.startJob(jobId, Map("type" -> "curate", "path" -> inPath)))
    try {
      val inP = new org.apache.hadoop.fs.Path(inPath)
      val fs = inP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val isCrawl = fs.isDirectory(inP) && fs.globStatus(
        new org.apache.hadoop.fs.Path(
          s"${inPath.stripSuffix("/")}/{*.warc,*.warc.gz}")).nonEmpty
      val docs =
        if (isCrawl) {
          val recs = graft.sources.WarcShards.readRecords(spark, inPath)
            .where(col("http_status") === 200)
            .select(col("target_uri").as("uri"),
              xxhash64(col("record_id")).as("doc_id"),
              call_function("graft_html_text",
                col("body").cast("string"),
                lit(config.getInt("curate.extract.min_chars", 20)),
                lit(config.getInt("curate.extract.max_link_pct", 33))).as("text"))
          val kept =
            if (blocked.nonEmpty)
              graft.sources.Domains.filterBlocked(recs, "uri", blocked)
            else recs
          kept.select(col("doc_id"), col("text"))
        } else {
          val idCol = config.getString("curate.id_col", "doc_id")
          val textCol = config.getString("curate.text_col", "text")
          spark.read.parquet(inPath)
            .select(col(idCol).cast("long").as("doc_id"),
              col(textCol).cast("string").as("text"))
        }
      val (chunks, report) = graft.text.Curation.run(docs, "doc_id", "text",
        minQuality = minQuality, sampleFraction = sampleFraction,
        maxTokens = maxTokens)
      val dest = s"${outDir.stripSuffix("/")}/chunks"
      if (!args.dryRun) {
        if (format == "parquet") chunks.toDF().write.mode("overwrite").parquet(dest)
        else {
          import spark.implicits._
          val members = chunks.map { c =>
            graft.sources.TarShards.Member(
              java.lang.Math.floorMod(c.doc_id, nShards.toLong).toInt,
              f"${c.doc_id}%020d_${c.chunk_idx}%05d.txt",
              Option(c.text).getOrElse("")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          graft.sources.TarShards.pack(members, dest, resume = true): Unit
        }
      }
      val duration = (System.nanoTime() - t0) / 1e9
      ledger.foreach(_.completeJob(jobId, Map(
        "status" -> "success",
        "destination" -> dest,
        "input_docs" -> report.input_docs.toString,
        "after_quality" -> report.after_quality.toString,
        "after_exact_dedup" -> report.after_exact_dedup.toString,
        "after_neardup" -> report.after_neardup.toString,
        "after_sample" -> report.after_sample.toString,
        "rows_loaded" -> report.chunks.toString
      ), duration))
      CurateOutcome(jobId, "success", Some(report), report.chunks, None)
    } catch {
      case e: Exception =>
        val sw = new java.io.StringWriter()
        e.printStackTrace(new java.io.PrintWriter(sw))
        ledger.foreach(_.failJob(jobId, String.valueOf(e.getMessage), sw.toString))
        CurateOutcome(jobId, "failed", None, 0L, Some(String.valueOf(e.getMessage)))
    }
  }

  /** One crawl run's summary (the crawl twin of [[CurateOutcome]]). */
  final case class CrawlOutcome(
      jobId: String,
      status: String, // success | failed
      drains: Long,
      docsIngested: Long,
      stateVersion: Option[Int],
      error: Option[String])

  /** One drain's stage counts: the `drains` ledger row after its
    * `batch_id`, and the dry-run line (names without `n_`). */
  final case class DrainCounts(
      n_batch: Long, n_after_domain: Long, n_after_robots: Long,
      n_after_url: Long, n_new_url: Long, n_after_exact: Long,
      n_after_intra: Long, n_survivors: Long, n_frontier: Long,
      n_redirects: Long, n_robots_fetches: Long, n_sitemap_seeds: Long,
      n_not_modified: Long, n_refetch: Long, n_assets: Long, n_failed: Long,
      n_canonical: Long, n_noindex: Long, n_control: Long)

  /** Typed flags for `crawl` — every `None` falls back to a `crawl.*`
    * config key, the [[CurateArgs]] discipline.
    */
  private[graft] final case class CrawlArgs(
      agent: Option[String] = None,
      blockedDomains: Seq[String] = Nil,
      robotsPath: Option[String] = None,
      corpusPath: Option[String] = None,
      pslPath: Option[String] = None,
      changeAware: Boolean = false,
      filesPerDrain: Option[Int] = None,
      compactEvery: Option[Int] = None,
      recrawlBase: Option[Int] = None,
      recrawlMax: Option[Int] = None,
      controlRefresh: Option[Int] = None,
      dryRun: Boolean = false)

  private[graft] def parseCrawlArgs(rest: Seq[String]): CrawlArgs = {
    def int(flag: String, v: String): Int = v.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"$flag expects an integer, got '$v'"))
    @annotation.tailrec
    def loop(args: List[String], acc: CrawlArgs): CrawlArgs = args match {
      case Nil => acc
      case "--dry-run" :: t => loop(t, acc.copy(dryRun = true))
      case "--change-aware" :: t => loop(t, acc.copy(changeAware = true))
      case "--agent" :: v :: t => loop(t, acc.copy(agent = Some(v)))
      case "--robots" :: v :: t => loop(t, acc.copy(robotsPath = Some(v)))
      case "--corpus" :: v :: t => loop(t, acc.copy(corpusPath = Some(v)))
      case "--psl" :: v :: t => loop(t, acc.copy(pslPath = Some(v)))
      case "--files-per-drain" :: v :: t =>
        loop(t, acc.copy(filesPerDrain = Some(int("--files-per-drain", v))))
      case "--compact-every" :: v :: t =>
        loop(t, acc.copy(compactEvery = Some(int("--compact-every", v))))
      case "--recrawl-base" :: v :: t =>
        loop(t, acc.copy(recrawlBase = Some(int("--recrawl-base", v))))
      case "--recrawl-max" :: v :: t =>
        loop(t, acc.copy(recrawlMax = Some(int("--recrawl-max", v))))
      case "--control-refresh" :: v :: t =>
        loop(t, acc.copy(controlRefresh = Some(int("--control-refresh", v))))
      case "--blocked-domains" :: v :: t =>
        loop(t, acc.copy(blockedDomains =
          v.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
      case other :: _ =>
        throw new IllegalArgumentException(s"unrecognized argument: $other")
    }
    loop(rest.toList, CrawlArgs())
  }

  /** `Pipeline crawl` — the q242 continuous-crawl loop as a
    * config-driven CLI, completing the O3 orchestration surface for
    * ingestion the way `curate` completes it for curation. One
    * invocation = one `Trigger.AvailableNow` drain of the WATCHED input
    * directory of WARC shards (the deployment pattern: a scheduler
    * invokes per drop; the streaming checkpoint under `outDir/ckpt`
    * skips already-processed shards across invocations).
    *
    * The loop is SELF-HOSTED (r15 verdict): its control surfaces come
    * from the crawl's own records, not side files —
    *  - robots.txt bodies are harvested from `/robots.txt` fetches in
    *    the drops ([[graft.sources.RobotsTxt.fetchesIn]]) and rolled
    *    latest-fetch-wins per host; a site's robots CHANGE takes
    *    effect on the next drain. The `--robots` parquet is only a
    *    SEED (lowest precedence — any self-fetched body supersedes it).
    *  - 3xx responses yield frontier targets and canonical-alias
    *    chains ([[graft.sources.RedirectEdges]], written to
    *    `out/aliases`) instead of being dropped.
    *  - sitemaps advertised by the rolled robots state are recognized
    *    when their bodies arrive in a drop: `<urlset>` entries seed
    *    the frontier, `<sitemapindex>` children become fetch targets
    *    AND roll into the known-sitemap state for later drains.
    *
    * Every drained micro-batch is ROUTED by HTTP media type (markup/
    * text → extraction; other 200s → the `out/assets` ledger with
    * media type + byte size, the hand-off to a multimodal pipeline),
    * then flows through HTML extraction → domain
    * blocklist ([[graft.sources.Domains]], PSL rules prepared ONCE per
    * run) → the self-hosted robots gate → within-batch canonical-URL
    * dedup → the ROLLING URL seen-set (change-aware with
    * `--change-aware`) → the rolling MinHash text index. Frontier
    * discovery resolves outlinks against each page's `<base href>`-
    * aware effective base, unions redirect targets and sitemap seeds,
    * passes the same gates PLUS an EMITTED-frontier seen-set (a URL is
    * emitted once across drains, never re-emitted until fetched), and
    * caps per host under Crawl-delay quotas with the frontier
    * PRIORITIZED by PageRank over the accumulated host link graph —
    * hot hosts' quota slots go to their highest-authority targets.
    *
    * REFRESH crawling (`--recrawl-base N`, intervals in drains): every
    * fetch observation — including unchanged refetches, 304 Not
    * Modified revalidations, and WARC `revisit` records (the fetcher's
    * own byte-identical-capture dedup), all of which confirm the
    * cached copy without ingesting anything — advances a rolling
    * per-URL schedule ([[graft.sources.RecrawlSchedule]]: churners
    * keep the base interval, static pages back off exponentially to
    * `--recrawl-max`). URLs due at the current drain clock re-enter
    * the frontier through the same domain/robots gates and the
    * politeness cap, emitted once per fetch GENERATION (emitted-set
    * key `url#last_fetch`): a due URL becomes re-eligible only after
    * it is actually refetched. Refetch frontier rows carry the
    * origin's latest cache validators (`etag`, `last_modified` —
    * rolled as their own state piece) so a fetcher can send
    * If-None-Match / If-Modified-Since instead of refetching blind.
    *
    * Durability: survivors, frontier, aliases and the per-drain ledger
    * land batchId-keyed ([[graft.streaming.ExactlyOnce]]); every piece
    * of the rolled [[graft.sources.CrawlState]] (seen/emitted hash rows,
    * index extension frames, robots fetches, sitemaps, host-graph
    * edges, fetch-observation logs, …) ALSO appends a batchId-keyed
    * DELTA per drain under `state/deltas/` ([[graft.sources.CrawlState.Store]]
    * owns the format), so a run that dies mid-stream loses nothing the
    * checkpoint committed: the next invocation restores `state/v<N>`
    * plus the deltas of COMMITTED batches through the live drain's roll
    * (replayed batches rewrite their deltas idempotently). A clean run
    * end compacts everything into `state/v<N+1>` + `_COMMITTED` and
    * reaps v<N>, the deltas, and the in-loop epoch compactions.
    *
    * `dryRun` BATCH-reads the whole input (no checkpoint, nothing
    * written) and prints the stage counts one drain of everything
    * would produce.
    */
  def crawl(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      config: EngineConfig = EngineConfig.default,
      args: CrawlArgs = CrawlArgs()): CrawlOutcome = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = outDir.stripSuffix("/")
    val agent = args.agent.getOrElse(config.getString("crawl.agent", "graftbot"))
    val blocked0 =
      if (args.blockedDomains.nonEmpty) args.blockedDomains
      else config.getString("crawl.blocked_domains", "")
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val robotsPath = args.robotsPath.orElse(
      Some(config.getString("crawl.robots_path", "")).filter(_.nonEmpty))
    val corpusPath = args.corpusPath.orElse(
      Some(config.getString("crawl.corpus_path", "")).filter(_.nonEmpty))
    val changeAware = args.changeAware ||
      config.getBoolean("crawl.change_aware", default = false)
    val filesPerDrain = args.filesPerDrain.getOrElse(
      config.getInt("crawl.files_per_drain", 0))
    val compactEvery = args.compactEvery.getOrElse(
      config.getInt("crawl.compact_every", 4))
    val minChars = config.getInt("crawl.extract.min_chars", 20)
    val maxLinkPct = config.getInt("crawl.extract.max_link_pct", 33)
    val horizon = config.getDouble("crawl.horizon_seconds", 60.0)
    val defaultDelay = config.getDouble("crawl.default_delay_seconds", 5.0)
    val maxHops = config.getInt("crawl.redirect_max_hops", 4)
    val rankIters = config.getInt("crawl.rank_iterations", 3)
    // RFC 9309 §2.3.1.4 server-error window, in DRAINS: a host whose
    // robots.txt keeps answering 5xx serves its cached rules for this
    // many drains, then gates to complete disallow until a sub-500
    // answer clears the latch (0 disables the latch entirely)
    val robotsErrWindow = config.getInt("crawl.robots_error_drains", 4)
    // refresh crawling: 0 = off; intervals are measured in DRAINS (the
    // loop's monotone crawl clock — micro-batch ids survive restarts)
    val recrawlBase = args.recrawlBase.getOrElse(
      config.getInt("crawl.recrawl_base_drains", 0))
    val recrawlMax = args.recrawlMax.getOrElse(
      config.getInt("crawl.recrawl_max_drains", recrawlBase * 64))
    // control-plane refresh cadence, in DRAINS: a robots.txt / known
    // sitemap whose last observed fetch is at least this old is
    // re-asked-for through the frontier (0 = off — the frontier then
    // never asks for its own control surfaces, the r17 staleness gap)
    val controlRefresh = args.controlRefresh.getOrElse(
      config.getInt("crawl.control_refresh_drains", 0))
    // fault injection for the resume contract's spec: fail the run
    // after N completed drains (0 = off)
    val failAfter = config.getInt("crawl.fail_after_drains", 0)
    val policy = graft.core.CompactionPolicy(compactEvery)

    // PSL rules prepared ONCE per run (r15 ADVICE: the per-call form
    // re-normalizes and re-checkpoints every drain)
    val preparedPsl = args.pslPath
      .orElse(Some(config.getString("crawl.psl_path", "")).filter(_.nonEmpty))
      .map(p => graft.sources.Domains.prepareSuffixes(spark.read.parquet(p)))

    // ---- durable state: restore v<N> plus committed-batch deltas ----
    val ckptDir = s"$out/ckpt"
    val store = new graft.sources.CrawlState.Store(spark, out, ckptDir,
      changeAware, robotsPath, corpusPath, rankIters, agent)
    val restoredV = store.restoredV
    // Output-schema migration guard (r16 ADVICE): resuming over a
    // directory written by a pre-refresh build would APPEND wider-
    // schema parquet next to the old files, and a plain read then
    // picks one footer's schema nondeterministically (etag hints can
    // silently vanish). Refuse loudly instead of corrupting.
    for ((dir, marker) <- Seq("frontier" -> "etag", "drains" -> "n_noindex",
        "drains" -> "n_control", "aliases" -> "kind", "assets" -> "reason")) {
      // readIfExists: an empty dir (a killed run's bare _SUCCESS, or
      // no committed files yet) carries no schema — nothing to guard
      if (store.readIfExists(s"$out/$dir")
          .exists(d => !d.columns.contains(marker)))
        throw new IllegalStateException(
          s"$out/$dir was written by an older build (missing column " +
            s"'$marker'): this output directory is not resumable across " +
            "the schema change — crawl into a fresh outDir, or backfill " +
            s"the column into the existing $dir parquet first")
    }
    val state = new java.util.concurrent.atomic.AtomicReference(store.restore())
    def advance[A, D](p: graft.sources.CrawlState.Piece[A, D], d: D,
        batchId: Option[Long]): Unit =
      state.set(store.advance(state.get, p, d, batchId))

    def domainKill(df: DataFrame, uriCol: String): DataFrame =
      if (blocked0.isEmpty) df
      else preparedPsl
        .map(p => graft.sources.Domains.filterBlocked(df, uriCol, blocked0, p))
        .getOrElse(graft.sources.Domains.filterBlocked(df, uriCol, blocked0))

    /** FRONTIER assembly from outlinks + redirect targets + sitemap
      * seeds: canonicalize → fetchable schemes → the SAME gates fetched
      * URLs pass (domain blocklist, robots, the seen-set — which
      * already holds this batch's own URLs) → the EMITTED-frontier
      * seen-set (each target is emitted once across drains) → the
      * Crawl-delay politeness cap, PRIORITY-ordered by host rank. The
      * capped output extends the emitted set (budget-dropped targets
      * stay eligible next drain). Returns the frontier with its row,
      * refetch and control-refresh counts, which ride the frontier's
      * checkpoint job.
      */
    def discover(linkPages: DataFrame, extraTargets: DataFrame,
        controlTargets: DataFrame, batchId: Option[Long])
        : (DataFrame, Long, Long, Long) = {
      // FOLLOWABLE anchors only: rel=nofollow (and sponsored/ugc)
      // links are not editorial endorsements — seeding the frontier
      // from them is how link spam farms a crawler
      val outl = linkPages.select(col("uri"),
          graft.sources.HtmlLinks.effectiveBase(col("uri"), col("html"))
            .as("base"),
          explode(graft.sources.HtmlLinks.extractFollowable(col("html")))
            .as("ref"))
        .select(col("uri"),
          graft.sources.HtmlLinks.resolve(col("base"), col("ref")).as("abs"))
        .where(col("abs").isNotNull)
        .localCheckpoint()
      // host link graph: cross-host edges feed the rank
      val batchEdges = outl.select(
          graft.sources.UrlOps.host(col("uri")).as("src"),
          graft.sources.UrlOps.host(col("abs")).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct().localCheckpoint()
      advance(store.HostGraph, batchEdges, batchId)
      val st = state.get

      // per-URL priority TIER beside the host rank: provenance is a
      // crawl-value signal the loop already has — a sitemap-advertised
      // URL (the site's own recommendation) outranks a redirect- or
      // canonical-declared target, which outranks a plain outlink.
      // Quotas window PER HOST, so the tier decides order among
      // same-host candidates (where the host rank is a constant) and
      // the rank decides nothing less than it did before.
      val targets = outl
        .select(graft.sources.UrlOps.canonicalize(col("abs")).as("target"))
        .withColumn("__tier", lit(0.0))
        .unionByName(extraTargets.select(col("target"), col("__tier")))
        .where(col("target").rlike("^https?://")) // fetchable schemes only
        .groupBy(col("target")).agg(max(col("__tier")).as("__tier"))
      val domKept = domainKill(targets, "target")
      val robKept = graft.sources.RobotsTxt.filterAllowed(
        domKept, "target", st.effRules, agent)
      val unseen = graft.dedup.UrlSeenSet.filterNew(robKept, "target", st.seen)
      val unEmitted = graft.dedup.UrlSeenSet.filterNew(
        unseen, "target", st.emitted)
      // REFETCH pool: URLs whose refresh schedule says they're due,
      // re-checked against the CURRENT domain/robots gates (both may
      // have changed since the original fetch) and emitted once per
      // fetch-GENERATION — the emitted-set key is url#last_fetch, so a
      // due URL is re-eligible only after it is actually refetched
      // (which advances last_fetch). Discovery rows keep the plain
      // target as their emitted key (identical hashes to the pre-
      // refresh protocol, so restored emitted state stays valid).
      val pool0 = unEmitted.withColumn("__ekey", col("target"))
        .withColumn("etag", lit(null).cast("string"))
        .withColumn("last_modified", lit(null).cast("string"))
        .withColumn("__ctl", lit(false))
      val withDue =
        if (recrawlBase > 0 && batchId.isDefined) {
          val due = graft.sources.RecrawlSchedule.due(st.recrawl,
            batchId.get.toDouble, recrawlBase.toDouble, recrawlMax.toDouble)
            .select(col("url").as("target"),
              concat(col("url"), lit("#"),
                col("last_fetch").cast("long").cast("string")).as("__ekey"),
              lit(0.0).as("__tier"))
          val dueDom = domainKill(due, "target")
          val dueRob = graft.sources.RobotsTxt.filterAllowed(
            dueDom, "target", st.effRules, agent)
          val dueNew = graft.dedup.UrlSeenSet.filterNew(
            dueRob, "__ekey", st.emitted).localCheckpoint()
          // conditional-request hints for the refetch rows: validator
          // state scanned once (due keys broadcast into the semi
          // join), then two small-side joins
          val hints = st.validators.join(
            broadcast(dueNew.select(col("target").as("__u"))),
            col("url") === col("__u"), "left_semi")
          val hinted = dueNew.join(broadcast(hints),
              col("target") === col("url"), "left")
            .select(col("target"), col("__ekey"), col("__tier"),
              col("etag"), col("last_modified"), lit(false).as("__ctl"))
          // a URL fetched but never EMITTED (bootstrap/seeded shards)
          // can be both a discovery row and a due row in one drain —
          // two frontier rows for one target would spend the host's
          // politeness quota twice and command a double fetch (r16
          // ADVICE). The due row wins: it carries the validator hints.
          pool0.join(broadcast(hinted.select(col("target").as("__d"))),
              col("target") === col("__d"), "left_anti")
            .unionByName(hinted)
        } else pool0
      // control-plane refresh rows (stale robots.txt / sitemaps, due
      // per [[graft.sources.ControlPlane]]): domain-gated, but NOT
      // robots-gated — robots.txt must stay fetchable even under a
      // full Disallow (RFC 9309 exempts the control file; an
      // error-latched host could otherwise never clear its own latch)
      // — and NOT seen-set-gated (the whole point is a refetch);
      // generation-keyed like due refetches, deduped against any
      // same-drain discovery row for the same target (the r16 pool
      // discipline — one politeness slot per target per drain).
      val pool =
        if (controlRefresh > 0 && batchId.isDefined) {
          val ctl = domainKill(controlTargets, "target")
          val ctlNew = graft.dedup.UrlSeenSet.filterNew(
              ctl, "__ekey", st.emitted)
            .withColumn("etag", lit(null).cast("string"))
            .withColumn("last_modified", lit(null).cast("string"))
            .select(col("target"), col("__ekey"), col("__tier"),
              col("etag"), col("last_modified"), col("__ctl"))
            .localCheckpoint()
          withDue.join(broadcast(ctlNew.select(col("target").as("__ct"))),
              col("target") === col("__ct"), "left_anti")
            .unionByName(ctlNew)
        } else withDue
      // rank lookup without shuffling the rank STATE: the pool's host
      // set (batch-sized) broadcasts into a semi join that filters the
      // scanned state down to batch-relevant rows, which then broadcast
      // back onto the pool — the validator-hints shape
      val pooled = pool
        .withColumn("__thost", graft.sources.UrlOps.host(col("target")))
        .localCheckpoint()
      val relevantRanks = st.hostRanks.join(
          broadcast(pooled.select(col("__thost").as("__h")).distinct()),
          col("host") === col("__h"), "left_semi")
        .select(col("host").as("__rhost"), col("rank").as("__rank"))
      val prioritized = pooled
        .join(broadcast(relevantRanks),
          col("__thost") === col("__rhost"), "left")
        .withColumn("__priority",
          coalesce(col("__rank"), lit(0.0)) + col("__tier"))
        .drop("__thost", "__rhost", "__rank")
      // refetch emissions are the frontier rows whose emitted key is a
      // url#generation, not the bare target; control-refresh asks are
      // counted apart (also generation-keyed, but control-plane rows)
      import graft.core.Durable.{materializeObserved, metric}
      val (capped, m) = materializeObserved(
        graft.sources.CrawlBudget.cap(prioritized, "target",
          st.delays, horizon, defaultDelay,
          priorityCol = Some("__priority"))
          .drop("__priority", "__tier"),
        None, "frontier", Seq(count(lit(1)).as("n"),
          count_if(col("__ekey") =!= col("target") && !col("__ctl"))
            .as("refetch"),
          count_if(col("__ctl")).as("control")))
      val emDelta = graft.dedup.UrlSeenSet.deltaRows(capped, "__ekey")
      advance(store.Emitted, emDelta, batchId)
      (capped, metric(m, "n"), metric(m, "refetch"), metric(m, "control"))
    }

    def stageCounts(recs: DataFrame, batchId: Option[Long])
        : (DrainCounts, DataFrame, DataFrame, DataFrame, DataFrame) = {
      // one drained batch of RECORDS (already checkpointed by the
      // caller) through the full loop; returns (per-stage counts,
      // survivors, frontier, redirect aliases, non-HTML assets).
      // batchId = None is the dry run: no delta writes.

      // Stage counts ride the stage materialization jobs (Durable's
      // RowCount: one CollectMetrics node per counted level), never a
      // count action — a second full pass over a drop-sized frame.
      import graft.core.Durable.{RowCount, materializeCounted}

      // self-hosted robots: roll this drain's /robots.txt fetches
      val (robFetches, nRobFetch) =
        materializeCounted(graft.sources.RobotsTxt.fetchesIn(recs))
      if (nRobFetch > 0) {
        advance(store.Robots, robFetches, batchId)
        state.set(store.rederived(state.get))
      }
      // RFC 9309 server-error latch: every robots ANSWER (any status)
      // rolls the per-host error state — a 5xx opens the cached
      // window, a sub-500 answer closes it; once a host's window
      // expires the effective rules gate it to complete disallow
      if (robotsErrWindow > 0) {
        val (robAnswers, nAnswers) =
          materializeCounted(graft.sources.RobotsTxt.answersIn(recs))
        if (nAnswers > 0L) advance(store.RobotsErr, robAnswers, batchId)
      }
      // the rules every gate actually consults THIS drain: the parsed
      // rules, wrapped by the server-error complete-disallow once a
      // host's 5xx window expires — refreshed at the top of each drain
      // (the latch depends on the drain clock, not on robots fetches)
      val errSt = state.get.robotsErr
      state.set(state.get.copy(effRules =
        if (robotsErrWindow > 0 && !errSt.isEmpty)
          graft.sources.RobotsTxt.withErrorDisallow(state.get.rules, errSt,
            batchId.getOrElse(0L).toDouble, robotsErrWindow.toDouble)
            .localCheckpoint()
        else state.get.rules))

      // sitemaps: advertised by the rolled robots state + children
      // discovered from earlier sitemap-index fetches
      val advertised = graft.sources.RobotsTxt.sitemapRefs(
        state.get.robots, "host", "body")
        .select(graft.sources.UrlOps.canonicalize(col("sitemap_url"))
          .as("sitemap_url"))
      val known = advertised.unionByName(state.get.sitemaps)
        .distinct().localCheckpoint()
      // revisit records (WARC-Type: revisit — the fetcher's own
      // URL-level dedup: the capture was byte-identical to an earlier
      // one, the payload carries response HEADERS only) are NOT pages:
      // without the warc_type gate their header-only 200 envelope
      // would flow into extraction as an empty document AND reset the
      // refresh streak with an empty-text hash. TRUNCATED captures
      // (WARC-Truncated: the writer cut the payload at a length/time
      // limit) are dropped whole — partial HTML mints partial text,
      // and a partial-content hash would poison change detection.
      val ok = recs.where(col("http_status") === 200 &&
        col("warc_type") === "response" && col("truncated").isNull)
      val uriCanon = graft.sources.UrlOps.canonicalize(col("target_uri"))
      val smBodies = ok.withColumn("__c", uriCanon)
        .join(broadcast(known.select(col("sitemap_url").as("__k"))),
          col("__c") === col("__k"), "left_semi")
        .select(col("body").cast("string").as("xml"))
      val locs = smBodies
        .select(col("xml").rlike("(?i)<\\s*sitemapindex").as("is_index"),
          explode(graft.sources.Sitemaps.urls(col("xml"))).as("loc"))
        .select(col("is_index"),
          graft.sources.UrlOps.canonicalize(col("loc")).as("loc"))
        .localCheckpoint()
      val children = locs.where(col("is_index"))
        .select(col("loc").as("sitemap_url")).distinct()
      val (newChildren, nChildren) = materializeCounted(children
        .join(state.get.sitemaps.select(col("sitemap_url").as("__e")),
          col("sitemap_url") === col("__e"), "left_anti"))
      if (nChildren > 0L) advance(store.Sitemaps, newChildren, batchId)
      val (pageSeeds, nSeeds) = materializeCounted(locs.where(!col("is_index"))
        .select(col("loc").as("target")).distinct())
      // sitemaps themselves are fetch targets (advertised ones every
      // drain — the EMITTED seen-set downstream keeps each a one-time
      // emission; children once, on discovery)
      val sitemapTargets = known.select(col("sitemap_url").as("target"))
        .unionByName(newChildren.select(col("sitemap_url").as("target")))

      // control-plane refresh: observe this drain's robots/sitemap
      // answers (any status — an answer proves the ask worked), then
      // re-ask for the stale ones through the frontier so the rolled
      // robots state and seed set can never silently age out
      val pathOf = graft.sources.UrlOps.path(col("target_uri"))
      val drainT = batchId.getOrElse(0L).toDouble
      if (controlRefresh > 0) {
        val robotsFetched = recs
          .where(col("warc_type") === "response" && pathOf === "/robots.txt")
          .select(uriCanon.as("url"))
        val smFetched = recs.where(col("warc_type") === "response")
          .select(uriCanon.as("url"))
          .join(broadcast(known.select(col("sitemap_url").as("__k"))),
            col("url") === col("__k"), "left_semi")
        val (ctlFetched, nCtlFetched) =
          materializeCounted(robotsFetched.unionByName(smFetched).distinct())
        if (nCtlFetched > 0L) advance(store.Control, ctlFetched, batchId)
      }
      val ctlTargets =
        if (controlRefresh > 0 && batchId.isDefined)
          graft.sources.ControlPlane.due(
              state.get.control, drainT, controlRefresh.toDouble)
            .select(col("url").as("target"),
              concat(col("url"), lit("#"),
                col("last_fetch").cast("long").cast("string")).as("__ekey"),
              lit(3.0).as("__tier"), lit(true).as("__ctl"))
        else Seq.empty[(String, String, Double, Boolean)]
          .toDF("target", "__ekey", "__tier", "__ctl")

      // redirects: frontier edges + canonical-alias chains
      val (redirEdges, nRedir) =
        materializeCounted(graft.sources.RedirectEdges.edges(recs))
      val aliases = graft.sources.RedirectEdges
        .resolveChains(redirEdges, maxHops).localCheckpoint()
      // frontier targets are the chain-resolved FINAL destinations:
      // an intermediate hop is already known to be a redirect, and a
      // cyclic chain's members are known dead ends — fetching either
      // wastes a politeness-budget slot
      val redirTargets = aliases.select(
        graft.sources.UrlOps.canonicalize(col("final_dst")).as("target"))

      // corpus candidates: 200s minus the control plane (robots +
      // sitemaps), then ROUTED by the HTTP media type — only markup/
      // text goes through HTML extraction (a PDF or image body through
      // the extractor mints garbage text); everything else lands in
      // the assets ledger for a downstream multimodal pipeline. An
      // absent Content-Type routes to extraction (legacy servers —
      // the min-chars/link-density gates absorb binary noise).
      val nonControl = ok.where(pathOf =!= "/robots.txt")
        .withColumn("__c", uriCanon)
        .join(broadcast(known.select(col("sitemap_url").as("__k"))),
          col("__c") === col("__k"), "left_anti")
        .localCheckpoint()
      // markup/text goes to extraction — UNLESS the body is still
      // compressed under a Content-Encoding the JDK cannot undo (br,
      // zstd: the reader inflates gzip and surfaces any other token).
      // Decoding such bytes as text mints garbage; they are fenced
      // into the assets ledger with an explicit reason instead (the
      // H.264/MP3 codec precedent: route, never guess).
      val typeExtractable = col("http_content_type").isNull ||
        col("http_content_type").startsWith("text/") ||
        col("http_content_type") === "application/xhtml+xml"
      val extractable = typeExtractable &&
        col("http_content_encoding").isNull
      // the assets route obeys the SAME policy surfaces as the page
      // route (r16 ADVICE): a blocked domain's or robots-disallowed
      // PDF must not reach the multimodal hand-off either
      val (assets, nAssets) = materializeCounted(graft.sources.RobotsTxt.filterAllowed(
          domainKill(nonControl.where(!extractable), "target_uri"),
          "target_uri", state.get.effRules, agent)
        .select(col("target_uri").as("uri"),
          col("http_content_type").as("media_type"),
          length(col("body")).cast("long").as("n_bytes"),
          when(col("http_content_encoding").isNotNull,
            concat(lit("unsupported-encoding:"),
              col("http_content_encoding")))
            .otherwise(lit("media-type")).as("reason")))
      // URL-level policy gates FIRST — the domain blocklist and the
      // robots verdict read nothing but the URI, so they run on the
      // raw page rows and extraction pays only for the SURVIVORS: at
      // a real blocklist/robots surface the loop must not spend its
      // most expensive kernel (graft_html_text) on pages it is about
      // to throw away (r17 verdict #2 — the moral equivalent of an
      // unpushed filter above an expensive projection). The stage
      // counts read off the un-extracted frames; nonControl is
      // already checkpointed, so the cheap URL filters recompute from
      // materialized rows.
      // the batch/domain/robots counts ride the ONE job that
      // materializes the gated+extracted frame below (per-gate
      // CollectMetrics nodes — filters cannot push through an observe,
      // so each count stays exact at its gate level)
      val Seq(obsBatch, obsDom, obsRob) = Seq.fill(3)(new RowCount)
      val pages = obsBatch.on(nonControl.where(extractable)
        .select(xxhash64(col("record_id")).as("doc_id"),
          col("target_uri").as("uri"),
          col("http_x_robots_tag").as("__xrt"),
          col("body"),
          coalesce(col("http_charset"), lit("")).as("__cs")))
      val domKept = obsDom.on(domainKill(pages, "uri"))
      val robKeptRaw = graft.sources.RobotsTxt.filterAllowed(
        domKept, "uri", state.get.effRules, agent)
      // charset-aware decode (NOT cast-as-UTF-8) on the gate
      // survivors only: the Content-Type charset drives the byte
      // decode per row; absent/unknown labels fall back to UTF-8,
      // malformed input decodes to U+FFFD.
      //
      // Page-level robots directives: the X-Robots-Tag header
      // (agent-scoped forms apply only when they name OUR agent —
      // another crawler's opt-out is not ours to honor) and the
      // robots META, combined (either source can set either flag).
      // `noindex` pages are excluded from the corpus but still
      // advance the refresh schedule and (unless nofollow) yield
      // outlinks; `nofollow` pages never seed the frontier.
      val withHtml = robKeptRaw.withColumn("html",
        call_function("graft_decode", col("body"), col("__cs")))
      val pageDirs = concat_ws(",",
        coalesce(graft.sources.HtmlLinks.scopedDirectives(
          col("__xrt"), agent), lit("")),
        coalesce(graft.sources.HtmlLinks.metaRobots(col("html")), lit("")))
      val robKept = obsRob.on(withHtml
        .withColumn("text", call_function("graft_html_text",
          col("html"), lit(minChars), lit(maxLinkPct)))
        .withColumn("__noindex",
          graft.sources.HtmlLinks.hasRobotsDirective(pageDirs, "noindex"))
        .withColumn("__nofollow",
          graft.sources.HtmlLinks.hasRobotsDirective(pageDirs, "nofollow"))
        .drop("__xrt", "body", "__cs"))
        .localCheckpoint()
      val (nBatch, nDom, nRob) = (obsBatch.n, obsDom.n, obsRob.n)
      // `rel=canonical` aliases — the HTML-declared twin of the 3xx
      // chain (CMSes stamp it on every URL variant; on large sites it
      // outnumbers redirect aliases). Harvested post-policy-gates; a
      // relative canonical resolves against the page's effective base;
      // the self-canonical no-op (the common case) is dropped. The
      // declared target joins the frontier through the same gates as
      // any discovery.
      // two steps so the html regexes (extraction + base) run once per
      // page and the resolve when-tree — which expands its input refs
      // ~6× — reads the skinny materialized columns, not the html
      val canonRaw = robKept
        .where(graft.sources.HtmlLinks.canonicalHref(col("html")).isNotNull)
        .select(col("uri").as("src"),
          graft.sources.HtmlLinks.canonicalHref(col("html")).as("__raw"),
          graft.sources.HtmlLinks.effectiveBase(col("uri"), col("html"))
            .as("__base"))
        .localCheckpoint()
      val (canonPairs, nCanon) = materializeCounted(canonRaw.select(col("src"),
          graft.sources.UrlOps.canonicalize(
            graft.sources.HtmlLinks.resolve(col("__base"), col("__raw")))
            .as("final_dst"))
        .where(col("final_dst").isNotNull &&
          col("final_dst") =!= graft.sources.UrlOps.canonicalize(col("src"))))
      val allAliases = aliases.withColumn("kind", lit("redirect"))
        .unionByName(canonPairs.withColumn("hops", lit(1))
          .withColumn("kind", lit("canonical"))
          .select(col("src"), col("final_dst"), col("hops"), col("kind")))
      val canonTargets = canonPairs.select(col("final_dst").as("target"))
      // canonical-dedup and novelty counts ride the ONE job that
      // materializes `fresh` (the intermediate urlDeduped frame is
      // consumed exactly once, by the novelty anti-join)
      val Seq(obsUrl, obsNew) = Seq.fill(2)(new RowCount)
      val urlDeduped = obsUrl.on(graft.dedup.ExactDedup.keepFirst(
        robKept.withColumn("canon",
          graft.sources.UrlOps.canonicalize(col("uri"))),
        Seq("canon"), Seq(col("uri"))))
      val fresh = obsNew.on(
        if (changeAware)
          graft.dedup.UrlSeenSet.filterNew(urlDeduped, "canon", "text", state.get.seen)
        else
          graft.dedup.UrlSeenSet.filterNew(urlDeduped, "canon", state.get.seen))
          .localCheckpoint()
      val (nUrl, nNew) = (obsUrl.n, obsNew.n)
      val seenDelta =
        if (changeAware) graft.dedup.UrlSeenSet.deltaRows(fresh, "canon", "text")
        else graft.dedup.UrlSeenSet.deltaRows(fresh, "canon")
      advance(store.Seen, seenDelta, batchId)
      // refresh-crawl bookkeeping: EVERY fetch observation advances
      // the rolling schedule — the drain's 200s post-URL-dedup
      // (changed or not: an unchanged refetch grows the streak), plus
      // UNCHANGED-confirmations that carry no content: 304 Not
      // Modified revalidations and WARC revisit records (both mean
      // "fetched, same as the cached copy" — the last known hash is
      // re-observed, nothing is ingested)
      val (nNotMod, nFailed) =
        if (recrawlBase > 0) {
          val fetchObs = urlDeduped.select(col("canon").as("url"),
            xxhash64(col("text")).as("h"))
          val notMod = recs.where(
              (col("http_status") === 304 &&
                col("warc_type") === "response") ||
                col("warc_type") === "revisit")
            .select(uriCanon.as("url")).distinct()
            .join(broadcast(fetchObs.select(col("url").as("__f"))),
              col("url") === col("__f"), "left_anti")
            .select(col("url"))
          val confirms = state.get.recrawl
            .join(broadcast(notMod), Seq("url"))
            .select(col("url"), col("last_hash").as("h"))
          val obs = fetchObs.unionByName(confirms)
            .withColumn("t", lit(batchId.getOrElse(0L).toDouble))
            .select(col("url"), col("t"), col("h"))
            .localCheckpoint()
          // FAILED refetch answers (4xx/5xx responses) are schedule
          // observations too — dropping them permanently stalled the
          // URL (its emitted generation was spent and nothing ever
          // advanced last_fetch; r16 verdict #2). A URL that ALSO
          // succeeded or revalidated this drain is a success — the
          // failure row is the one that yields. A drain carrying
          // SEVERAL failures for one URL keeps one representative
          // response — terminal 404/410 preferred, status and
          // Retry-After from the SAME observation (r17 verdict #3).
          // Retry-After: numeric (delta-seconds) form honored;
          // HTTP-date forms are wall time, which the drain clock has
          // no axis for → null. NO-RESPONSE attempts (WARC metadata/
          // resource records carrying an outcome line — a timeout or
          // DNS failure leaves no response capture at all) join the
          // same path with status 0: they back off and re-mint the
          // generation like a 5xx, but can never latch the tombstone,
          // and any real response for the URL outranks them in the
          // representative pick.
          val respFails = recs.where(col("warc_type") === "response" &&
              col("http_status").between(400, 599))
            .select(uriCanon.as("url"),
              col("http_status").cast("int").as("status"),
              when(regexp_extract(
                coalesce(col("http_retry_after"), lit("")),
                "^[0-9]{1,9}$", 0) === "", lit(null).cast("double"))
                .otherwise(col("http_retry_after").cast("double"))
                .as("__ra"))
          val attemptFails = graft.sources.RecrawlSchedule
            .attemptFailures(recs)
            .select(col("url"), lit(0).as("status"),
              lit(null).cast("double").as("__ra"))
          val fails = graft.sources.RecrawlSchedule.representativeFailures(
              respFails.unionByName(attemptFails), "url", "status", "__ra")
            .join(broadcast(obs.select(col("url").as("__o"))),
              col("url") === col("__o"), "left_anti")
            .withColumn("t", lit(batchId.getOrElse(0L).toDouble))
            .select(col("url"), col("t"), col("status"), col("retry_after"))
            .localCheckpoint()
          batchId.foreach(bid =>
            advance(store.Recrawl, (obs, fails), Some(bid)))
          (confirms.count(), fails.count())
        } else (0L, 0L)
      // validator-hint roll: one row per URL per drain (an origin that
      // sent ETag/Last-Modified on a 200 or re-sent them on a 304)
      if (recrawlBase > 0) {
        val valRows = recs.where(col("warc_type") === "response" &&
            (col("http_status") === 200 || col("http_status") === 304) &&
            (col("http_etag").isNotNull ||
              col("http_last_modified").isNotNull))
          .groupBy(uriCanon.as("url"))
          .agg(max(col("http_etag")).as("etag"),
            max(col("http_last_modified")).as("last_modified"))
          .localCheckpoint()
        if (!valRows.isEmpty)
          batchId.foreach(bid => advance(store.Validators, valRows, Some(bid)))
      }
      // noindex pages never enter the ingest cycle (they must not
      // reach the corpus OR the dedup index), but they already
      // advanced the schedule and the seen-set above
      val (indexable, nIndexable) = materializeCounted(fresh.where(!col("__noindex")))
      val nNoindex = nNew - nIndexable
      val (surv, c) =
        if (nNew > nNoindex) {
          // the extension rides the cycle's probe index (the survivors
          // are never shingled a second time); its frames are both
          // persisted below and unioned into the live index
          val (sv, cc, add) = graft.dedup.IncrementalIngest
            .cycleWithExtension(
              state.get.index,
              indexable.select(col("doc_id"), col("uri"), col("text"),
                col("html"), col("__nofollow")),
              "doc_id", "text")
          advance(store.Index, add, batchId)
          (sv, cc)
        } else
          (fresh.limit(0), Array(0L, 0L, 0L, 0L))
      // frontier discovery reads corpus survivors PLUS the
      // noindex-but-followable pages (real crawlers keep walking
      // through noindex hubs — category pages are the classic case);
      // page-level nofollow kills the page's whole outlink yield
      val linkPages = surv.where(!col("__nofollow"))
        .select(col("uri"), col("html"))
        .unionByName(fresh.where(col("__noindex") && !col("__nofollow"))
          .select(col("uri"), col("html")))
      // provenance tiers: sitemap-advertised (2) > redirect/canonical
      // final destinations (1) > plain outlinks (0, added in discover)
      val (frontier, nFrontier, nRefetch, nControl) = discover(linkPages,
        redirTargets.withColumn("__tier", lit(1.0))
          .unionByName(pageSeeds.withColumn("__tier", lit(2.0)))
          .unionByName(sitemapTargets.withColumn("__tier", lit(2.0)))
          .unionByName(canonTargets.withColumn("__tier", lit(1.0))),
        ctlTargets, batchId)
      (DrainCounts(nBatch, nDom, nRob, nUrl, nNew, c(1), c(2), c(3),
        nFrontier, nRedir, nRobFetch, nSeeds, nNotMod, nRefetch,
        nAssets, nFailed, nCanon, nNoindex, nControl),
        surv, frontier, allAliases, assets)
    }

    def records(df: DataFrame): DataFrame = df.select(
      col("record_id"), col("warc_type"), col("target_uri"),
      col("truncated"), col("http_status"), col("http_location"),
      col("http_content_type"), col("http_charset"), col("http_etag"),
      col("http_last_modified"), col("http_retry_after"),
      col("http_content_encoding"), col("http_x_robots_tag"), col("body"))

    if (args.dryRun) {
      val (c, _, _, _, _) = stageCounts(
        records(graft.sources.WarcShards.readRecords(spark, inDir))
          .localCheckpoint(), None)
      println(c.productElementNames.zip(c.productIterator)
        .map { case (k, v) => s"${k.stripPrefix("n_")}=$v" }
        .mkString("", " ", " (dry run — nothing written)"))
      return CrawlOutcome("(dry-run)", "success", 0L, c.n_survivors, restoredV, None)
    }

    val jobId = mintJobId()
    val t0 = System.nanoTime()
    val ledger = new JobLedger(spark, s"$out/_ledger")
    ledger.startJob(jobId, Map("type" -> "crawl", "path" -> inDir))
    val drains = new java.util.concurrent.atomic.AtomicLong(0L)
    val ingested = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      import org.apache.spark.sql.streaming.Trigger
      val q = records(
        graft.sources.WarcShards.readRecordsStream(spark, inDir, filesPerDrain))
        .writeStream
        .foreachBatch { (batch0: DataFrame, batchId: Long) =>
          // fault injection FIRST: a prior drain's offsets are already
          // committed, so failing here opens exactly the window the
          // delta protocol covers (committed batches whose state would
          // otherwise live only in memory)
          if (failAfter > 0 && drains.get >= failAfter)
            throw new RuntimeException(
              s"injected failure after $failAfter drain(s) " +
                "(crawl.fail_after_drains)")
          // AvailableNow can fire an empty timeout batch — skip it; the
          // emptiness check rides the batch's own checkpoint job
          val (batch, nRecs) = graft.core.Durable.materializeCounted(batch0)
          if (nRecs > 0) {
            val sp = batch0.sparkSession
            import sp.implicits._
            val (c, surv, frontier, aliases, assets) =
              stageCounts(batch, Some(batchId))
            for ((dir, df) <- Seq(
                "docs" -> surv.select(col("doc_id"), col("uri"), col("text")),
                "frontier" -> frontier.select(col("target"), col("etag"), col("last_modified")),
                "aliases" -> aliases, "assets" -> assets,
                "drains" -> Seq(c).toDF().select(lit(batchId).as("batch_id"), col("*"))))
              graft.streaming.ExactlyOnce.appendKeyed(df, s"$out/$dir", batchId)
            drains.incrementAndGet(): Unit
            ingested.addAndGet(c.n_survivors): Unit
            state.set(store.maintain(state.get, batchId, policy))
          }
        }
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      val nextV = store.commit(state.get)

      val duration = (System.nanoTime() - t0) / 1e9
      ledger.completeJob(jobId, Map(
        "status" -> "success",
        "destination" -> s"$out/docs",
        "drains" -> drains.get.toString,
        "rows_loaded" -> ingested.get.toString,
        "state_version" -> nextV.toString
      ), duration)
      CrawlOutcome(jobId, "success", drains.get, ingested.get,
        Some(nextV), None)
    } catch {
      case e: Exception =>
        val sw = new java.io.StringWriter()
        e.printStackTrace(new java.io.PrintWriter(sw))
        ledger.failJob(jobId, String.valueOf(e.getMessage), sw.toString)
        CrawlOutcome(jobId, "failed", drains.get, ingested.get, restoredV,
          Some(String.valueOf(e.getMessage)))
    }
  }

  private def crawlMain(args: Array[String]): Unit = {
    val usage = s"usage: ${Usage.crawl}"
    require(args.length >= 2 && !args(0).startsWith("-") && !args(1).startsWith("-"),
      usage)
    val parsed =
      try parseCrawlArgs(args.drop(2).toSeq)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"${e.getMessage}\n$usage")
      }
    val spark = graft.core.EngineSession.create()
    val outcome = crawl(spark, args(0), args(1), args = parsed)
    println(s"job=${outcome.jobId} status=${outcome.status} " +
      s"drains=${outcome.drains} docs=${outcome.docsIngested}" +
      outcome.stateVersion.map(v => s" state=v$v").getOrElse("") +
      outcome.error.map(e => s" error=$e").getOrElse(""))
    spark.stop()
    if (outcome.status != "success") sys.exit(1)
  }

  private def curateMain(args: Array[String]): Unit = {
    val usage = s"usage: ${Usage.curate}"
    require(args.length >= 2 && !args(0).startsWith("-") && !args(1).startsWith("-"),
      usage)
    val parsed =
      try parseCurateArgs(args.drop(2).toSeq)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"${e.getMessage}\n$usage")
      }
    val spark = graft.core.EngineSession.create()
    val out = curate(spark, args(0), args(1), args = parsed)
    out.report.foreach { r =>
      println(s"input=${r.input_docs} quality=${r.after_quality} " +
        s"exact=${r.after_exact_dedup} neardup=${r.after_neardup} " +
        s"sampled=${r.after_sample} chunks=${r.chunks}" +
        (if (parsed.dryRun) " (dry run — nothing written)" else ""))
    }
    println(s"job=${out.jobId} status=${out.status}" +
      out.error.map(e => s" error=$e").getOrElse(""))
    spark.stop()
    if (out.status != "success") sys.exit(1)
  }

  private def statusMain(args: Array[String]): Unit = {
    val usage = s"usage: ${Usage.status}"
    require(args.nonEmpty && !args(0).startsWith("-"), usage)
    val (filter, limit) = parseStatusArgs(args.drop(1).toSeq)
    val spark = graft.core.EngineSession.create()
    val report = status(spark, args(0),
      statusFilter = filter,
      limit = limit)
    println(s"destination: ${args(0)}")
    println(f"data: ${report.dataBytes}%d bytes in ${report.dataObjects}%d objects")
    println("jobs: " + (if (report.statusCounts.isEmpty) "none"
      else report.statusCounts.toSeq.sortBy(_._1).map { case (s, n) => s"$s=$n" }.mkString(" ")))
    (report.avgDurationSeconds, report.maxDurationSeconds) match {
      case (Some(avg), Some(max)) =>
        println(f"duration: avg=$avg%.2fs max=$max%.2fs (completed jobs)")
      case _ => ()
    }
    println(f"${"job_id"}%-40s ${"status"}%-8s ${"timestamp"}%-28s ${"duration"}%9s ${"rows"}%8s")
    report.recentJobs.foreach { j =>
      println(f"${j.jobId}%-40s ${j.status}%-8s ${j.timestamp}%-28s " +
        j.durationSeconds.map(d => f"$d%8.2fs").getOrElse("       - ") +
        j.rowsLoaded.map(r => f" $r%7d").getOrElse("       -"))
    }
    spark.stop()
  }

  /** O3 local CLI runner (scripts/run_local.py:184-251):
    * `runMain graft.Pipeline <inPathOrDir> <outDir> [format]`, plus the
    * `status` subcommand ([[statusMain]]).
    */
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("status")) return statusMain(args.drop(1))
    if (args.headOption.contains("cleanup")) return cleanupMain(args.drop(1))
    if (args.headOption.contains("export-shards")) return exportShardsMain(args.drop(1))
    if (args.headOption.contains("curate")) return curateMain(args.drop(1))
    if (args.headOption.contains("crawl")) return crawlMain(args.drop(1))
    require(args.length >= 2, s"usage: ${Usage.all}")
    val spark = graft.core.EngineSession.create()
    val in = args(0)
    val source =
      if (new java.io.File(in).isDirectory) SourceSpec.Batch(in)
      else SourceSpec.SingleFile(in)
    val fmt = if (args.length > 2) FileFormat.fromName(args(2)) else FileFormat.Parquet
    val ledger = new JobLedger(spark, s"${args(1).stripSuffix("/")}/_ledger")
    val outcome = run(spark, source, SinkSpec(args(1), fmt), ledger = Some(ledger))
    println(s"job=${outcome.jobId} status=${outcome.status} " +
      outcome.load.map(l => s"rows=${l.rowsLoaded} dest=${l.destination}").getOrElse("") +
      outcome.error.map(e => s"error=$e").getOrElse(""))
    spark.stop()
    if (outcome.status != "success") sys.exit(1)
  }
}
