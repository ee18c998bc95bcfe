package graft

import org.apache.spark.sql.functions._

import graft.core.{FileFormat, SinkSpec, SourceSpec}
import graft.meta.{FileNotifier, JobLedger}

/** End-to-end driver test (EP2, lambda_handler.py:41-153 semantics): one
  * CSV through extract → six-stage transform → partitioned parquet, with
  * ledger + notification side effects.
  */
class PipelineSpec extends SparkSpec {

  test("E→T→L success path: output, stats, ledger SUCCESS, notification") {
    val in = tmpDir("pipe-in")
    val out = tmpDir("pipe-out")
    sampleSales.coalesce(1).write.mode("overwrite").option("header", "true").csv(in)
    val csv = new java.io.File(in).listFiles().find(_.getName.endsWith(".csv")).get

    val ledger = new JobLedger(spark, s"$out/_ledger")
    val notes = s"$out/notes.txt"
    val outcome = Pipeline.run(spark,
      SourceSpec.SingleFile(csv.getAbsolutePath),
      SinkSpec(out, FileFormat.Parquet),
      ledger = Some(ledger),
      notifier = new FileNotifier(notes))

    assert(outcome.status == "success", outcome.error)
    assert(outcome.stats.get.inputRows == 3)
    assert(outcome.load.get.rowsLoaded == 3)

    val written = spark.read.parquet(outcome.load.get.destination)
    assert(written.columns.toSet.contains("_row_hash"))
    assert(written.filter(col("_year") === 2024).count() == 3)

    val latest = ledger.getJob(outcome.jobId).get
    assert(latest.getAs[String]("status") == "SUCCESS")
    assert(ledger.listJobs(Some("SUCCESS")).count() == 1)

    val noteLines = scala.io.Source.fromFile(notes).getLines().toSeq
    assert(noteLines.exists(_.contains("ETL Job Success")))
  }

  test("run executes the transform plan twice: the stats job and the write") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
    import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
    val in = tmpDir("pipe-plans-in")
    val out = tmpDir("pipe-plans-out")
    // a planted duplicate and a row with a null, across a CSV and a JSON file
    Seq(("ORD001", "CUST001", 1L, "2024-01-15"), ("ORD002", "CUST002", 2L, "2024-01-16"),
      ("ORD002", "CUST002", 2L, "2024-01-16"), ("ORD003", null, 3L, "2024-01-17"))
      .toDF("order_id", "customer_id", "quantity", "order_date")
      .coalesce(1).write.option("header", "true").csv(s"$in/csv")
    Seq(("ORD004", "CUST004", 4L, "2024-01-18"), ("ORD001", "CUST001", 1L, "2024-01-15"))
      .toDF("order_id", "customer_id", "quantity", "order_date")
      .coalesce(1).write.json(s"$in/json")

    // the analyzed plan of every action the run executes
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.analyzed): Unit
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = plans.add(qe.analyzed): Unit
    }
    org.apache.spark.sql.GraftPlanBridge.awaitListeners(spark)
    spark.listenerManager.register(listener)
    val outcome =
      try {
        val o = Pipeline.run(spark, SourceSpec.Batch(in), SinkSpec(out))
        org.apache.spark.sql.GraftPlanBridge.awaitListeners(spark)
        o
      } finally spark.listenerManager.unregister(listener)
    assert(outcome.status == "success", outcome.error)
    val stats = outcome.stats.get
    assert(stats.inputRows == 6 && stats.outputRows == 3 && stats.duplicatesRemoved == 2)
    assert(outcome.load.get.rowsLoaded == 3)

    // schema inference reads the files through the text format; the
    // transform plan reads them as CSV/JSON
    val root = new java.io.File(in).toURI.getPath.stripSuffix("/")
    def scansInput(p: LogicalPlan) = p.exists {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation =>
          (r.fileFormat.isInstanceOf[CSVFileFormat] ||
            r.fileFormat.isInstanceOf[JsonFileFormat]) &&
            r.location.rootPaths.exists(_.toUri.getPath.startsWith(root))
        case _ => false
      }
      case _ => false
    }
    val executed = plans.toArray(Array.empty[LogicalPlan]).toSeq
    assert(executed.count(scansInput) == 2,
      s"plans scanning the input: ${executed.filter(scansInput).map(_.treeString)}")
    assert(executed.count(_.exists(_.isInstanceOf[Deduplicate])) == 1,
      "the dedup shuffle must run once, in the write")
  }

  test("run over a batch in which every row has a null: load skipped, " +
      "nothing left under the destination") {
    import spark.implicits._
    val in = tmpDir("pipe-allnull-in")
    val out = tmpDir("pipe-allnull-out")
    Seq(("ORD001", None: Option[String]), ("ORD002", None)).toDF("order_id", "note")
      .coalesce(1).write.option("header", "true").csv(s"$in/csv")
    Seq("ORD003", "ORD004").toDF("order_id").coalesce(1).write.json(s"$in/json")

    val outcome = Pipeline.run(spark, SourceSpec.Batch(in), SinkSpec(out))
    assert(outcome.status == "success", outcome.error)
    val stats = outcome.stats.get
    assert(stats.inputRows == 4 && stats.outputRows == 0 && stats.rowsRemoved == 4)
    assert(outcome.load.get.status == "skipped" && outcome.load.get.rowsLoaded == 0)
    val left = new java.io.File(out).listFiles().toSeq
    assert(left.isEmpty, s"an empty load left $left under the destination")
  }

  test("status subcommand report: job table, counts, durations, dest sizes") {
    val in = tmpDir("pipe-status-in")
    val out = tmpDir("pipe-status-out")
    sampleSales.coalesce(1).write.mode("overwrite").option("header", "true").csv(in)
    val csv = new java.io.File(in).listFiles().find(_.getName.endsWith(".csv")).get
    val ledger = new JobLedger(spark, s"$out/_ledger")

    val ok = Pipeline.run(spark, SourceSpec.SingleFile(csv.getAbsolutePath),
      SinkSpec(out, FileFormat.Parquet), ledger = Some(ledger))
    val bad = Pipeline.run(spark, SourceSpec.SingleFile(s"$in/definitely-missing.csv"),
      SinkSpec(out, FileFormat.Parquet), ledger = Some(ledger))
    assert(ok.status == "success" && bad.status == "failed")

    val report = Pipeline.status(spark, out)
    assert(report.statusCounts == Map("SUCCESS" -> 1L, "FAILED" -> 1L))
    assert(report.recentJobs.map(_.jobId).toSet == Set(ok.jobId, bad.jobId))
    // latest-first ordering: the failed job ran second
    assert(report.recentJobs.head.jobId == bad.jobId)
    val okRow = report.recentJobs.find(_.jobId == ok.jobId).get
    assert(okRow.rowsLoaded.contains(3L))
    assert(okRow.durationSeconds.exists(_ > 0.0))
    assert(report.avgDurationSeconds.exists(_ > 0.0))
    assert(report.dataBytes > 0L && report.dataObjects > 0L)

    // the filter narrows the table but not the global counts
    val failedOnly = Pipeline.status(spark, out, statusFilter = Some("FAILED"))
    assert(failedOnly.recentJobs.map(_.status) == Seq("FAILED"))
    assert(failedOnly.statusCounts == report.statusCounts)
  }

  test("status args are typed: numbers are limits, names are filters, junk errors") {
    assert(Pipeline.parseStatusArgs(Seq.empty) == (None, 10))
    assert(Pipeline.parseStatusArgs(Seq("20")) == (None, 20))
    assert(Pipeline.parseStatusArgs(Seq("failed")) == (Some("FAILED"), 10))
    assert(Pipeline.parseStatusArgs(Seq("SUCCESS", "5")) == (Some("SUCCESS"), 5))
    assert(Pipeline.parseStatusArgs(Seq("5", "running")) == (Some("RUNNING"), 5))
    intercept[IllegalArgumentException](Pipeline.parseStatusArgs(Seq("bogus")))
    // duplicated/contradictory args error instead of half-applying
    intercept[IllegalArgumentException](
      Pipeline.parseStatusArgs(Seq("SUCCESS", "5", "running")))
    intercept[IllegalArgumentException](Pipeline.parseStatusArgs(Seq("5", "20")))
  }

  test("cleanup subcommand: dry-run by default, --force deletes, ledger kept") {
    val in = tmpDir("pipe-clean-in")
    val out = tmpDir("pipe-clean-out")
    sampleSales.coalesce(1).write.mode("overwrite").option("header", "true").csv(in)
    val csv = new java.io.File(in).listFiles().find(_.getName.endsWith(".csv")).get
    val ledger = new JobLedger(spark, s"$out/_ledger")
    val outcome = Pipeline.run(spark, SourceSpec.SingleFile(csv.getAbsolutePath),
      SinkSpec(out, FileFormat.Parquet), ledger = Some(ledger))
    assert(outcome.status == "success")

    val dry = Pipeline.cleanup(spark, out) // no force
    assert(dry.nonEmpty && dry.forall(!_.deleted))
    assert(dry.forall(_.bytes > 0L))
    assert(!dry.exists(_.path.endsWith("_ledger")), "ledger is kept by default")
    assert(new java.io.File(outcome.load.get.destination).exists, "dry run must not delete")

    val forced = Pipeline.cleanup(spark, out, force = true)
    assert(forced.nonEmpty && forced.forall(_.deleted))
    assert(!new java.io.File(outcome.load.get.destination).exists)
    // job history survives a data-only cleanup
    assert(ledger.listJobs().count() == 1L)

    val ledgerToo = Pipeline.cleanup(spark, out, force = true, keepLedger = false)
    assert(ledgerToo.map(t => new java.io.File(t.path).getName) == Seq("_ledger"))
    assert(ledgerToo.forall(_.deleted))
    assert(Pipeline.cleanup(spark, out, force = true, keepLedger = false).isEmpty)
  }

  test("cleanup --force refuses a dir with no _ledger marker (typo'd outDir)") {
    val out = tmpDir("pipe-clean-unmarked")
    sampleSales.limit(2).write.mode("overwrite").parquet(s"$out/precious")

    val refusal = intercept[IllegalArgumentException] {
      Pipeline.cleanup(spark, out, force = true)
    }
    assert(refusal.getMessage.contains("--force-unmarked"))
    assert(spark.read.parquet(s"$out/precious").count() == 2, "refusal must not delete")

    // dry-run still reports without a marker (it deletes nothing)
    val dry = Pipeline.cleanup(spark, out)
    assert(dry.nonEmpty && dry.forall(!_.deleted))

    // the explicit override deletes
    val overridden = Pipeline.cleanup(spark, out, force = true, allowUnmarked = true)
    assert(overridden.nonEmpty && overridden.forall(_.deleted))
  }

  test("max_file_size_mb guard is OFF by default; opting in skips oversized batch files") {
    val in = tmpDir("pipe-size-in")
    // 1.2 MB file (over a 1 MB limit) + a small sibling
    val big = new java.io.File(in, "big.csv")
    val w = new java.io.PrintWriter(big)
    w.println("x"); (1 to 600000).foreach(_ => w.println("1")); w.close()
    val small = new java.io.File(in, "ok.csv")
    val w2 = new java.io.PrintWriter(small)
    w2.println("x"); w2.println("7"); w2.close()

    // Default config: guard disabled (ADVICE r4 — a silent batch skip is
    // a data drop, and the reference never enforces the key) → all rows.
    val outDef = tmpDir("pipe-size-out1")
    val defOutcome = Pipeline.run(spark, SourceSpec.Batch(in),
      SinkSpec(outDef, FileFormat.Parquet))
    assert(defOutcome.status == "success", defOutcome.error)
    assert(defOutcome.stats.get.inputRows == 600001)

    // Opt-in (key > 0): the oversized file is skipped, sibling survives.
    val outCap = tmpDir("pipe-size-out2")
    val capped = Pipeline.run(spark, SourceSpec.Batch(in),
      SinkSpec(outCap, FileFormat.Parquet),
      config = core.EngineConfig.default.withOverride("etl.extract.max_file_size_mb", "1"))
    assert(capped.status == "success", capped.error)
    assert(capped.stats.get.inputRows == 1)
  }

  test("failure path: bad source → FAILED ledger record, failure note, no throw") {
    val out = tmpDir("pipe-fail")
    val ledger = new JobLedger(spark, s"$out/_ledger")
    val notes = s"$out/notes.txt"
    val outcome = Pipeline.run(spark,
      SourceSpec.SingleFile("/nonexistent/input.csv"),
      SinkSpec(out, FileFormat.Parquet),
      ledger = Some(ledger),
      notifier = new FileNotifier(notes))

    assert(outcome.status == "failed")
    assert(ledger.getJob(outcome.jobId).get.getAs[String]("status") == "FAILED")
    assert(scala.io.Source.fromFile(notes).getLines().exists(_.contains("ETL Job Failed")))
  }

  test("ledger compaction preserves records and shrinks file count") {
    val dir = tmpDir("ledger-compact")
    val ledger = new JobLedger(spark, dir)
    (1 to 5).foreach(i => ledger.startJob(s"job-$i", Map("i" -> i.toString)))
    ledger.completeJob("job-1", Map.empty, 1.0)

    def parquetFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles == 6)
    ledger.compact()
    assert(parquetFiles == 1)
    assert(ledger.read().count() == 6)
    assert(ledger.getJob("job-1").get.getAs[String]("status") == "SUCCESS")
  }

  test("curate subcommand: corpus → curation recipe → sharded export + ledger") {
    import spark.implicits._
    val in = tmpDir("curate-in")
    val out = tmpDir("curate-out")
    val a = "the quick brown fox jumps over the lazy sleeping dog tonight again"
    val b = "pack my box with five dozen liquor jugs before the morning train"
    Seq(
      (1L, a),                              // survives
      (2L, a),                              // exact copy → dies at exact dedup
      (3L, a.replace("again", "quietly")),  // near-dup → dies at near-dup
      (4L, "!!!!!! ??? ###"),               // junk → dies at the quality gate
      (5L, b)                               // survives
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(in)

    // dry run: full per-stage report, NOTHING written (no chunks, no ledger)
    val dry = Pipeline.curate(spark, in, out,
      args = Pipeline.CurateArgs(dryRun = true))
    assert(dry.status == "success")
    val r0 = dry.report.get
    assert(r0.input_docs == 5 && r0.after_quality == 4 &&
      r0.after_exact_dedup == 3 && r0.after_neardup == 2 && r0.chunks == 2,
      s"unexpected dry-run report: $r0")
    val outF = new java.io.File(out)
    assert(!outF.exists() || outF.list().isEmpty, "dry run wrote output")

    // real run with CLI-shaped flags: WebDataset tar export + ledger row
    val outcome = Pipeline.curate(spark, in, out,
      args = Pipeline.parseCurateArgs(Seq("--format", "tar", "--shards", "2")))
    assert(outcome.status == "success" && outcome.chunksWritten == 2)
    val back = graft.sources.TarShards.readMembers(spark, s"$out/chunks")
      .selectExpr("cast(content as string) AS text")
      .as[String].collect().toSet
    assert(back == Set(a, b), s"tar round trip lost chunks: $back")
    val job = new JobLedger(spark, s"$out/_ledger")
      .getJob(outcome.jobId).get
    assert(job.getAs[String]("status") == "SUCCESS")
    val result = job.getAs[Map[String, String]]("job_result")
    assert(result("rows_loaded") == "2" && result("after_neardup") == "2")
  }

  test("crawl subcommand: resumable drains through the full gate chain + durable state") {
    import spark.implicits._
    val in = tmpDir("crawl-in")
    val out = tmpDir("crawl-out")
    def page(text: String, links: Seq[String]): Array[Byte] = {
      // outlinks ride a link-dense nav block: extraction drops it (the
      // WarcQueries template rule), discovery reads it
      val nav = if (links.isEmpty) ""
      else links.map(l => s"""<a href="$l">x</a>""").mkString("<nav>", " ", "</nav>")
      ("<html><head><title>t</title></head><body>" + nav + "<p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    def entry(shard: Int, ord: Long, host: String, path: String,
        text: String, links: Seq[String] = Nil) =
      graft.sources.WarcShards.Entry(shard, ord, "response",
        s"http://$host$path", s"<urn:test:$shard:$ord>",
        "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(
          page(text, links), "text/html; charset=utf-8"))
    val alpha = "the alpha page talks about mountains and rivers flowing north"
    val beta = "a second page describing oceans tides and the salty breeze"
    val betaV2 = "a second page describing updated oceans content after the big edit"
    val gamma = "completely different words about the weather in marseille this morning"
    // day 1, two shards → two drains at --files-per-drain 1. e1's
    // outlinks exercise every frontier gate: /a/2 is genuinely new
    // (and gets fetched by the NEXT drain), the tracker link dies at
    // the domain blocklist, /priv/x at robots, and the self-link at
    // the seen-set (this drain's own URLs are already recorded).
    graft.sources.WarcShards.pack(Seq(
      entry(0, 1, "good.example.com", "/a/1", alpha, Seq(
        "/a/2", "https://ads.tracker.net/z", "/priv/x", "/a/1")),
      entry(0, 2, "ads.tracker.net", "/x/1",
        "tracker junk that is long enough to pass the extractor"),
      entry(0, 3, "good.example.com", "/priv/1",
        "private content long enough to pass the extractor fine"),
      entry(1, 1, "good.example.com", "/a/2", beta, Seq("rel/sub")),
      entry(1, 2, "good.example.com", "/a/1?utm_source=x", alpha)
    ).toDS(), in): Unit
    val robotsPq = tmpDir("crawl-robots") + "/robots"
    Seq(("good.example.com", "User-agent: *\nDisallow: /priv\n"))
      .toDF("host", "body").write.parquet(robotsPq)
    val flags = Seq("--robots", robotsPq, "--blocked-domains", "Tracker.NET",
      "--files-per-drain", "1", "--change-aware")

    // dry run first: full counts over everything, NOTHING written
    val dry = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(flags :+ "--dry-run"))
    assert(dry.status == "success" && dry.docsIngested == 2L,
      s"unexpected dry-run outcome: $dry")
    val outF = new java.io.File(out)
    assert(!outF.exists() || outF.list().isEmpty, "dry run wrote output")

    // run 1: tracker domain dies, /priv dies at robots, the utm variant
    // of /a/1 dies at the CROSS-drain seen-set
    val r1 = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(flags))
    assert(r1.status == "success" && r1.drains == 2L &&
      r1.docsIngested == 2L && r1.stateVersion.contains(0), s"run 1: $r1")
    val drains1 = spark.read.parquet(s"$out/drains")
      .orderBy("batch_id")
      .select("n_batch", "n_after_domain", "n_after_robots", "n_after_url",
        "n_new_url", "n_survivors", "n_frontier")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(drains1 == Seq(
      (3L, 2L, 1L, 1L, 1L, 1L, 1L),   // frontier: /a/2 survives the gates
      (2L, 2L, 2L, 2L, 1L, 1L, 1L)),  // frontier: /a/rel/sub
      s"run 1 drain ledger: $drains1")
    val front1 = spark.read.parquet(s"$out/frontier")
      .select("target").as[String].collect().sorted.toSeq
    assert(front1 == Seq(
      "http://good.example.com/a/2",       // discovered drain 1, fetched drain 2
      "http://good.example.com/a/rel/sub"),
      s"run 1 frontier: $front1")

    // day 2: one new shard — an UNCHANGED re-crawl (dies at the
    // change-aware seen-set), a CHANGED page at an old URL (passes and
    // supersedes), and a brand-new page
    val stage = tmpDir("crawl-day2")
    graft.sources.WarcShards.pack(Seq(
      entry(2, 1, "good.example.com", "/a/1", alpha),
      // the changed page's only outlink is already seen → contributes 0;
      // the new page discovers a protocol-relative link and a query ref
      entry(2, 2, "good.example.com", "/a/2", betaV2, Seq("/a/1")),
      entry(2, 3, "another.example.com", "/n/1", gamma, Seq(
        "//good.example.com/a/9", "?q=1"))
    ).toDS(), stage): Unit
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(stage, "shard-00002.warc"),
      java.nio.file.Paths.get(in, "shard-00002.warc")): Unit

    // run 2: the checkpoint skips shards 0-1; restored state kills the
    // re-crawl; v0 state is superseded by v1
    val r2 = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(flags))
    assert(r2.status == "success" && r2.drains == 1L &&
      r2.docsIngested == 2L && r2.stateVersion.contains(1), s"run 2: $r2")
    assert(!new java.io.File(s"$out/state/v0").exists(), "v0 not reaped")
    assert(new java.io.File(s"$out/state/v1/_COMMITTED").exists())
    val drains2 = spark.read.parquet(s"$out/drains").count()
    assert(drains2 == 3L, s"expected 3 cumulative drain rows, got $drains2")
    // run-2 frontier: the seen self-link contributes nothing; the
    // protocol-relative and query refs resolve and survive
    val front2 = spark.read.parquet(s"$out/frontier")
      .select("target").as[String].collect().sorted.toSeq
    assert(front2 == Seq(
      "http://another.example.com/n/1?q=1",
      "http://good.example.com/a/2",
      "http://good.example.com/a/9",
      "http://good.example.com/a/rel/sub"),
      s"run 2 cumulative frontier: $front2")
    val docs = spark.read.parquet(s"$out/docs")
      .select("uri").as[String].collect().sorted.toSeq
    assert(docs == Seq(
      "http://another.example.com/n/1",
      "http://good.example.com/a/1",
      "http://good.example.com/a/2",   // day-1 beta
      "http://good.example.com/a/2"),  // day-2 superseding v2
      s"ingested docs: $docs")
    // the ops ledger recorded both runs
    val jobs = new JobLedger(spark, s"$out/_ledger").read()
    assert(jobs.filter(col("status") === "SUCCESS").count() == 2L)
  }

  test("crawl is self-hosted: robots from own records, sitemap seeding, " +
      "redirect harvest, emitted-frontier dedup") {
    import spark.implicits._
    val in = tmpDir("selfcrawl-in")
    val out = tmpDir("selfcrawl-out")
    val S = "site.example.com"
    def page(text: String, links: Seq[String]): Array[Byte] = {
      val nav = if (links.isEmpty) ""
      else links.map(l => s"""<a href="$l">x</a>""").mkString("<nav>", " ", "</nav>")
      ("<html><head><title>t</title></head><body>" + nav + "<p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    def entry(shard: Int, ord: Long, path: String, payload: Array[Byte],
        ct: String = "application/http;msgtype=response") =
      graft.sources.WarcShards.Entry(shard, ord, "response",
        s"http://$S$path", s"<urn:test:self:$shard:$ord>", ct, payload)
    def resp(body: Array[Byte], ct: String) =
      graft.sources.WarcShards.WarcCodec.httpResponse(body, ct)
    val alpha = "the alpha page talks about mountains and rivers flowing north"
    val beta = "a second page describing oceans tides and the salty breeze"
    val gamma = "completely different words about the weather in marseille today"
    val robots1 = "User-agent: *\nDisallow: /priv\n" +
      s"Sitemap: http://$S/sitemap.xml\n"
    val robots2 = "User-agent: *\nDisallow: /s\n" +
      s"Sitemap: http://$S/sitemap.xml\n"
    val sitemapXml = "<urlset>" +
      s"<url><loc>http://$S/s/1</loc></url>" +
      s"<url><loc>http://$S/s/2</loc></url>" +
      s"<url><loc>http://$S/priv/s1</loc></url>" +
      s"<url><loc>http://$S/p/3</loc></url>" +
      "</urlset>"
    // drain 1: a robots fetch (self-hosted rules from THIS drop), a page
    // whose outlinks hit the fresh robots, and a 2-hop redirect chain
    graft.sources.WarcShards.pack(Seq(
      entry(0, 1, "/robots.txt",
        resp(robots1.getBytes("UTF-8"), "text/plain")),
      entry(0, 2, "/p/1", resp(page(alpha, Seq("/p/2", "/priv/x")),
        "text/html; charset=utf-8")),
      entry(0, 3, "/old1",
        graft.sources.WarcShards.WarcCodec.httpRedirect(301, "/old2")),
      entry(0, 4, "/old2",
        graft.sources.WarcShards.WarcCodec.httpRedirect(302, s"http://$S/p/3"))
    ).toDS(), in): Unit
    // drain 2: the advertised sitemap's body arrives (recognized via the
    // rolled robots state) + a frontier page re-linking an emitted URL
    val stage2 = tmpDir("selfcrawl-d2")
    graft.sources.WarcShards.pack(Seq(
      entry(1, 1, "/sitemap.xml",
        resp(sitemapXml.getBytes("UTF-8"), "application/xml")),
      entry(1, 2, "/p/2", resp(page(beta, Seq("/p/3")),
        "text/html; charset=utf-8"))
    ).toDS(), stage2): Unit
    // drain 3: a robots CHANGE (now disallowing /s) must gate the very
    // page fetched beside it
    val stage3 = tmpDir("selfcrawl-d3")
    graft.sources.WarcShards.pack(Seq(
      entry(2, 1, "/robots.txt",
        resp(robots2.getBytes("UTF-8"), "text/plain")),
      entry(2, 2, "/s/1", resp(page(gamma, Nil), "text/html; charset=utf-8"))
    ).toDS(), stage3): Unit

    val flags = Seq("--files-per-drain", "1")
    val r1 = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(flags))
    assert(r1.status == "success" && r1.drains == 1L && r1.docsIngested == 1L,
      s"run 1: $r1")
    val d1 = spark.read.parquet(s"$out/drains")
      .select("n_batch", "n_after_robots", "n_new_url", "n_survivors",
        "n_frontier", "n_redirects", "n_robots_fetches", "n_sitemap_seeds")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    // frontier: /p/2 (outlink), /p/3 (redirect FINAL destination — not
    // the intermediate /old2), /sitemap.xml (advertised fetch target);
    // /priv/x died at the robots parsed from this very drop
    assert(d1 == (1L, 1L, 1L, 1L, 3L, 2L, 1L, 0L), s"drain 1: $d1")
    val aliases = spark.read.parquet(s"$out/aliases")
      .select("src", "final_dst", "hops")
      .as[(String, String, Long)].collect().sorted.toSeq
    assert(aliases == Seq(
      (s"http://$S/old1", s"http://$S/p/3", 2L),
      (s"http://$S/old2", s"http://$S/p/3", 1L)),
      s"redirect aliases: $aliases")

    // drains 2 + 3 (checkpoint resumes past shard 0)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(stage2, "shard-00001.warc"),
      java.nio.file.Paths.get(in, "shard-00001.warc")): Unit
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(stage3, "shard-00002.warc"),
      java.nio.file.Paths.get(in, "shard-00002.warc")): Unit
    val r2 = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(flags))
    assert(r2.status == "success" && r2.drains == 2L && r2.docsIngested == 1L,
      s"run 2: $r2")
    val rows = spark.read.parquet(s"$out/drains").orderBy("batch_id")
      .select("n_batch", "n_after_robots", "n_new_url", "n_survivors",
        "n_frontier", "n_redirects", "n_robots_fetches", "n_sitemap_seeds")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows(1) == (1L, 1L, 1L, 1L, 2L, 0L, 0L, 4L),
      s"drain 2 (sitemap seeds /s/1 + /s/2; /priv/s1 dies at robots, " +
        s"/p/3 at the emitted set): ${rows(1)}")
    assert(rows(2) == (1L, 0L, 0L, 0L, 0L, 0L, 1L, 0L),
      s"drain 3 (the robots change gates the page fetched beside it): " +
        s"${rows(2)}")
    // every frontier target was emitted exactly once across all drains
    val front = spark.read.parquet(s"$out/frontier")
      .select("target").as[String].collect().sorted.toSeq
    assert(front == Seq(
      s"http://$S/p/2", s"http://$S/p/3", s"http://$S/s/1", s"http://$S/s/2",
      s"http://$S/sitemap.xml"),
      s"cumulative frontier: $front")
    val docs = spark.read.parquet(s"$out/docs")
      .select("uri").as[String].collect().sorted.toSeq
    assert(docs == Seq(s"http://$S/p/1", s"http://$S/p/2"),
      s"ingested docs (control-plane fetches and the robots-gated /s/1 " +
        s"excluded): $docs")
    // the committed state carries every self-hosted piece
    for (piece <- Seq("seen", "emitted", "robots", "sitemaps", "hostgraph"))
      assert(new java.io.File(s"$out/state/v1/$piece").exists(),
        s"state piece $piece missing from v1")
    val robotsState = spark.read.parquet(s"$out/state/v1/robots")
      .as[(String, String)].collect().toMap
    assert(robotsState(S).contains("Disallow: /s"),
      s"latest robots body not rolled: ${robotsState(S)}")
  }

  test("crawl killed mid-stream resumes without duplicates " +
      "(per-drain durable-state deltas)") {
    import spark.implicits._
    val in = tmpDir("failcrawl-in")
    val out = tmpDir("failcrawl-out")
    def page(text: String): Array[Byte] =
      ("<html><head><title>t</title></head><body><p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def entry(shard: Int, ord: Long, path: String, text: String) =
      graft.sources.WarcShards.Entry(shard, ord, "response",
        s"http://h.example.com$path", s"<urn:test:fail:$shard:$ord>",
        "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(
          page(text), "text/html; charset=utf-8"))
    val alpha = "the alpha page talks about mountains and rivers flowing north"
    val beta = "a second page describing oceans tides and the salty breeze"
    graft.sources.WarcShards.pack(Seq(
      entry(0, 1, "/a/1", alpha)).toDS(), in): Unit
    val stage = tmpDir("failcrawl-d2")
    graft.sources.WarcShards.pack(Seq(
      entry(1, 1, "/a/1", alpha), // re-crawl: must die at the RESTORED seen-set
      entry(1, 2, "/a/2", beta)
    ).toDS(), stage): Unit
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(stage, "shard-00001.warc"),
      java.nio.file.Paths.get(in, "shard-00001.warc")): Unit

    // run 1 processes drain 1 (checkpoint-committed, deltas written),
    // then dies before drain 2 — exactly the window where the r15 loop
    // lost state (it committed only at run end)
    val failCfg = graft.core.EngineConfig.default
      .withOverride("crawl.fail_after_drains", "1")
    val r1 = Pipeline.crawl(spark, in, out, config = failCfg,
      args = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1")))
    assert(r1.status == "failed" && r1.drains == 1L,
      s"run 1 should die after one drain: $r1")
    assert(!new java.io.File(s"$out/state/v0").exists(),
      "no run-end state commit should exist after the crash")
    assert(new java.io.File(s"$out/state/deltas/seen").exists(),
      "drain 1's seen delta missing")

    // resume: drain 1's URLs must be restored from the deltas — the
    // re-crawled /a/1 dies, /a/2 is ingested, nothing duplicates
    val r2 = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1")))
    assert(r2.status == "success" && r2.stateVersion.contains(0),
      s"resume: $r2")
    val docs = spark.read.parquet(s"$out/docs")
      .select("uri").as[String].collect().sorted.toSeq
    assert(docs == Seq("http://h.example.com/a/1", "http://h.example.com/a/2"),
      s"docs after resume (no duplicates): $docs")
    assert(new java.io.File(s"$out/state/v0/_COMMITTED").exists())
    assert(!new java.io.File(s"$out/state/deltas").exists(),
      "deltas not reaped by the clean run end")
  }

  test("crawl killed at every drain boundary commits the same state as " +
      "an uninterrupted run, piece by piece") {
    import spark.implicits._
    val (s, t, u) = ("st.example.org", "t.example.org", "u.example.org")
    def page(text: String, links: Seq[String] = Nil): Array[Byte] = {
      val nav = if (links.isEmpty) ""
      else links.map(l => s"""<a href="$l">x</a>""").mkString("<nav>", " ", "</nav>")
      ("<html><head><title>t</title></head><body>" + nav + "<p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    def entry(shard: Int, ord: Long, host: String, path: String,
        payload: Array[Byte]) =
      graft.sources.WarcShards.Entry(shard, ord, "response",
        s"http://$host$path", s"<urn:test:statekill:$shard:$ord>",
        "application/http;msgtype=response", payload)
    def resp(body: String, ct: String) =
      graft.sources.WarcShards.WarcCodec.httpResponse(body.getBytes("UTF-8"), ct)
    def html(text: String, links: String*) =
      graft.sources.WarcShards.WarcCodec.httpResponse(
        page(text, links), "text/html; charset=utf-8")
    def err(status: Int, reason: String) =
      s"HTTP/1.1 $status $reason\r\nContent-Length: 0\r\n\r\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val robots1 = s"User-agent: *\nDisallow: /priv\nSitemap: http://$s/sitemap.xml\n"
    val robots2 = s"User-agent: *\nDisallow: /s\nSitemap: http://$s/sitemap.xml\n"
    val smIndex = s"<sitemapindex><sitemap><loc>http://$s/sm/a.xml</loc>" +
      "</sitemap></sitemapindex>"
    val smUrls = s"<urlset><url><loc>http://$s/s/1</loc></url>" +
      s"<url><loc>http://$s/p/6</loc></url></urlset>"
    // every delta-backed piece rolls in at least one drain, and the
    // keyed and order-sensitive ones in several: robots (s at 0 and 2),
    // robotserr (t opens at 0 and clears at 2, u opens at 1), sitemaps
    // (an index child at 1), control (robots + sitemap answers),
    // validators (ETag a1 at 0 and 1, a2 at 2), recrawl (a 304, a
    // change, a 404), seen (a changed refetch under --change-aware),
    // hostgraph (cross-host links), index
    val drops = Seq(
      entry(0, 1, s, "/robots.txt", resp(robots1, "text/plain")),
      entry(0, 2, s, "/p/1", graft.sources.WarcShards.WarcCodec.httpResponse(
        page("the alpha page talks about mountains and rivers flowing north",
          Seq("/p/2", "/priv/x", s"http://$t/q/1")),
        "text/html; charset=utf-8", Seq("ETag" -> "\"a1\""))),
      entry(0, 3, s, "/old", graft.sources.WarcShards.WarcCodec
        .httpRedirect(301, s"http://$s/p/3")),
      entry(0, 4, t, "/robots.txt", err(503, "Service Unavailable")),
      entry(1, 1, s, "/sitemap.xml", resp(smIndex, "application/xml")),
      entry(1, 2, s, "/p/2", html(
        "a second page describing oceans tides and the salty breeze",
        "/p/4", s"http://$u/r/1")),
      entry(1, 3, s, "/p/1",
        graft.sources.WarcShards.WarcCodec.httpNotModified(etag = "\"a1\"")),
      entry(1, 4, u, "/robots.txt", err(503, "Service Unavailable")),
      entry(2, 1, s, "/sm/a.xml", resp(smUrls, "application/xml")),
      entry(2, 2, s, "/p/1", graft.sources.WarcShards.WarcCodec.httpResponse(
        page("the alpha page was rewritten to cover deserts dunes and camels"),
        "text/html; charset=utf-8", Seq("ETag" -> "\"a2\""))),
      entry(2, 3, s, "/p/2", err(404, "Not Found")),
      entry(2, 4, s, "/robots.txt", resp(robots2, "text/plain")),
      entry(2, 5, t, "/robots.txt", resp("User-agent: *\nDisallow:\n", "text/plain")),
      entry(2, 6, t, "/q/1", html(
        "completely different words about the weather in marseille today",
        s"http://$s/p/5")))
    val flags = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1",
      "--change-aware", "--recrawl-base", "1", "--control-refresh", "2"))
    val nDrains = drops.map(_.shard).distinct.size

    val (inA, outA) = (tmpDir("statekill-a-in"), tmpDir("statekill-a-out"))
    graft.sources.WarcShards.pack(drops.toDS(), inA): Unit
    val clean = Pipeline.crawl(spark, inA, outA, args = flags)
    assert(clean.status == "success" && clean.drains == nDrains,
      s"uninterrupted run: $clean")

    // the same drops, each invocation killed after one drain: every
    // resume restores from committed deltas alone (no v<N> exists
    // until the last invocation ends cleanly)
    val (inB, outB) = (tmpDir("statekill-b-in"), tmpDir("statekill-b-out"))
    graft.sources.WarcShards.pack(drops.toDS(), inB): Unit
    val failCfg = graft.core.EngineConfig.default
      .withOverride("crawl.fail_after_drains", "1")
    val runs = scala.collection.mutable.ArrayBuffer.empty[Pipeline.CrawlOutcome]
    while (runs.size <= nDrains && !runs.lastOption.exists(_.status == "success"))
      runs += Pipeline.crawl(spark, inB, outB, config = failCfg, args = flags)
    val (killed, rest) = runs.toSeq.span(_.status == "failed")
    assert(killed.size == nDrains - 1 && killed.forall(_.drains == 1L) &&
      rest.headOption.exists(r => r.status == "success" && r.drains == 1L &&
        r.stateVersion.contains(0)),
      s"one drain per invocation, the last one commits v0: $runs")

    // hostranks is left out: it is recomputed on the compaction
    // cadence (and at every restore without a committed version), never
    // replayed from deltas, so its staleness differs by design
    val pieces = Seq("seen/url_hashes", "emitted/url_hashes",
      "index/buckets", "index/sets", "index/text_hashes", "robots",
      "robotserr", "sitemaps", "hostgraph", "recrawl", "validators",
      "control")
    for (p <- pieces) {
      val a = spark.read.parquet(s"$outA/state/v0/$p")
      val b = spark.read.parquet(s"$outB/state/v0/$p")
        .select(a.columns.map(col).toSeq: _*)
      assert(!a.isEmpty, s"fixture leaves state piece $p empty")
      val (onlyA, onlyB) = (a.exceptAll(b).collect(), b.exceptAll(a).collect())
      assert(onlyA.isEmpty && onlyB.isEmpty,
        s"state piece $p differs after kill+resume: uninterrupted-only " +
          s"${onlyA.toSeq}, resumed-only ${onlyB.toSeq}")
    }
  }

  test("a crash between the state commit and the delta reap does not " +
      "replay folded deltas: recrawl matches an uninterrupted run") {
    import spark.implicits._
    val H = "fold.example.net"
    def entry(shard: Int, ord: Long, path: String, text: String) =
      graft.sources.WarcShards.Entry(shard, ord, "response",
        s"http://$H$path", s"<urn:test:fold:$shard:$ord>",
        "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(
          ("<html><head><title>t</title></head><body><p>" + text +
            "</p></body></html>").getBytes("UTF-8"), "text/html; charset=utf-8"))
    val drops = Seq(
      entry(0, 1, "/a/1", "the alpha page talks about mountains and rivers flowing north"),
      entry(0, 2, "/b/1", "a second page describing oceans tides and the salty breeze"),
      entry(1, 1, "/c/1", "completely different words about the weather in marseille now"))
    val flags = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1",
      "--recrawl-base", "1"))

    val (inA, outA) = (tmpDir("fold-a-in"), tmpDir("fold-a-out"))
    graft.sources.WarcShards.pack(drops.toDS(), inA): Unit
    val clean = Pipeline.crawl(spark, inA, outA, args = flags)
    assert(clean.status == "success" && clean.drains == 2L, s"uninterrupted run: $clean")

    // drain 0 commits its deltas, then the run dies; keep a copy of them
    val (inB, outB) = (tmpDir("fold-b-in"), tmpDir("fold-b-out"))
    graft.sources.WarcShards.pack(drops.toDS(), inB): Unit
    val failCfg = graft.core.EngineConfig.default
      .withOverride("crawl.fail_after_drains", "1")
    val r1 = Pipeline.crawl(spark, inB, outB, config = failCfg, args = flags)
    assert(r1.status == "failed" && r1.drains == 1L, s"run 1: $r1")
    val deltas = new java.io.File(s"$outB/state/deltas")
    val aside = new java.io.File(tmpDir("fold-aside"), "deltas")
    org.apache.commons.io.FileUtils.copyDirectory(deltas, aside)

    // the resume folds them into v0 and reaps them; putting them back is
    // what a crash between v0's _COMMITTED and the reap leaves
    val r2 = Pipeline.crawl(spark, inB, outB, args = flags)
    assert(r2.status == "success" && r2.stateVersion.contains(0), s"resume: $r2")
    assert(!deltas.exists(), "deltas not reaped by the clean run end")
    org.apache.commons.io.FileUtils.copyDirectory(aside, deltas)
    val r3 = Pipeline.crawl(spark, inB, outB, args = flags)
    assert(r3.status == "success" && r3.drains == 0L && r3.stateVersion.contains(1),
      s"restart over the leftover deltas: $r3")

    val a = spark.read.parquet(s"$outA/state/v0/recrawl")
    val b = spark.read.parquet(s"$outB/state/v1/recrawl").select(a.columns.map(col).toSeq: _*)
    val (onlyA, onlyB) = (a.exceptAll(b).collect(), b.exceptAll(a).collect())
    assert(onlyA.isEmpty && onlyB.isEmpty,
      s"recrawl differs: uninterrupted-only ${onlyA.toSeq}, restarted-only ${onlyB.toSeq}")
  }

  test("a failed delta write fails the drain before its offset commit; " +
      "the rerun commits the same state as an uninterrupted run") {
    import spark.implicits._
    val (s, t) = ("dw.example.org", "dx.example.org")
    def entry(shard: Int, ord: Long, host: String, path: String, text: String,
        links: String*) =
      graft.sources.WarcShards.Entry(shard, ord, "response",
        s"http://$host$path", s"<urn:test:deltawrite:$shard:$ord>",
        "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(
          ("<html><head><title>t</title></head><body><nav>" +
            links.map(l => s"""<a href="$l">x</a>""").mkString(" ") +
            "</nav><p>" + text + "</p></body></html>").getBytes("UTF-8"),
          "text/html; charset=utf-8"))
    val drop0 = Seq(
      entry(0, 1, s, "/a/1", "the alpha page talks about mountains and rivers flowing north",
        "/a/2", s"http://$t/b/1"))
    val drop1 = Seq(
      entry(1, 1, s, "/a/2", "a second page describing oceans tides and the salty breeze",
        "/a/3", s"http://$t/b/2"),
      entry(1, 2, t, "/b/1", "completely different words about the weather in marseille now",
        s"http://$s/a/4"))
    val flags = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1", "--recrawl-base", "1"))
    def crawlDrop(in: String, out: String, drop: Seq[graft.sources.WarcShards.Entry]) = {
      val stage = tmpDir("deltawrite-stage")
      graft.sources.WarcShards.pack(drop.toDS(), stage): Unit
      val shard = f"shard-${drop.head.shard}%05d.warc"
      java.nio.file.Files.copy(java.nio.file.Paths.get(stage, shard),
        java.nio.file.Paths.get(in, shard)): Unit
      Pipeline.crawl(spark, in, out, args = flags)
    }

    val (inA, outA) = (tmpDir("deltawrite-a-in"), tmpDir("deltawrite-a-out"))
    assert(crawlDrop(inA, outA, drop0).stateVersion.contains(0))
    val clean = crawlDrop(inA, outA, drop1)
    assert(clean.status == "success" && clean.stateVersion.contains(1),
      s"uninterrupted run: $clean")

    val (inB, outB) = (tmpDir("deltawrite-b-in"), tmpDir("deltawrite-b-out"))
    assert(crawlDrop(inB, outB, drop0).stateVersion.contains(0))
    // the obstruction: a dangling link where drain 1's seen delta goes.
    // Restore sees no delta there; the write cannot create its directory
    val link = java.nio.file.Paths.get(s"$outB/state/deltas/seen")
    java.nio.file.Files.createDirectories(link.getParent)
    java.nio.file.Files.createSymbolicLink(link,
      java.nio.file.Paths.get(tmpDir("deltawrite-nowhere"), "absent"))
    val failed = crawlDrop(inB, outB, drop1)
    assert(failed.status == "failed" && failed.drains == 0L,
      s"the drain whose delta write failed must fail: $failed")
    assert(new java.io.File(s"$outB/ckpt/offsets/1").exists() &&
      !new java.io.File(s"$outB/ckpt/commits/1").exists(),
      "the failed drain must stop before its offset commit")
    assert(!new java.io.File(s"$outB/state/v1/_COMMITTED").exists(),
      "no state commit after a failed delta write")
    assert(new java.io.File(s"$outB/state/deltas/hostgraph").isDirectory,
      "the drain's other delta writes must have finished before it failed")

    java.nio.file.Files.delete(link)
    val rerun = Pipeline.crawl(spark, inB, outB, args = flags)
    assert(rerun.status == "success" && rerun.drains == 1L &&
      rerun.stateVersion.contains(1), s"rerun: $rerun")
    for (p <- Seq("seen/url_hashes", "emitted/url_hashes", "index/buckets",
        "index/sets", "index/text_hashes", "hostgraph", "recrawl")) {
      val a = spark.read.parquet(s"$outA/state/v1/$p")
      val b = spark.read.parquet(s"$outB/state/v1/$p")
        .select(a.columns.map(col).toSeq: _*)
      assert(!a.isEmpty, s"fixture leaves state piece $p empty")
      val (onlyA, onlyB) = (a.exceptAll(b).collect(), b.exceptAll(a).collect())
      assert(onlyA.isEmpty && onlyB.isEmpty,
        s"state piece $p differs after the failed write and rerun: " +
          s"uninterrupted-only ${onlyA.toSeq}, rerun-only ${onlyB.toSeq}")
    }
  }

  test("a repeated crawl call reuses the classes the first call compiled") {
    import spark.implicits._
    val H = "reuse.example.org"
    def entry(ord: Long, path: String, text: String, links: Seq[String]) =
      graft.sources.WarcShards.Entry(0, ord, "response",
        s"http://$H$path", s"<urn:test:reuse:$ord>",
        "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(
          ("<html><head><title>t</title></head><body><nav>" +
            links.map(l => s"""<a href="$l">x</a>""").mkString(" ") +
            "</nav><p>" + text + "</p></body></html>").getBytes("UTF-8"),
          "text/html; charset=utf-8"))
    val in = tmpDir("reuse-in")
    graft.sources.WarcShards.pack(Seq(
      entry(1, "/a/1", "the alpha page talks about mountains and rivers flowing north",
        Seq("/a/2", "/a/3")),
      entry(2, "/a/2", "a second page describing oceans tides and the salty breeze",
        Seq("/a/1", "/b/1"))
    ).toDS(), in): Unit
    val flags = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1", "--change-aware"))
    // one histogram update per class Janino compiles (cache misses only);
    // the cap that lets the second call hit comes from SparkSpec.spark
    // being the JVM's first codegen session
    val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    def compilesOf(out: String): Long = {
      val before = compiled.getCount
      val r = Pipeline.crawl(spark, in, out, args = flags)
      assert(r.status == "success" && r.drains == 1L && r.docsIngested == 2L,
        s"crawl into $out: $r")
      compiled.getCount - before
    }
    val first = compilesOf(tmpDir("reuse-out-1"))
    val second = compilesOf(tmpDir("reuse-out-2"))
    info(s"classes compiled: first call $first, second call $second")
    assert(second <= 10,
      s"the second call compiled $second classes (the first $first)")
  }

  test("crawl refresh scheduling: due URLs re-emitted once per fetch " +
      "generation, 304 confirms grow the streak, backoff holds across runs") {
    import spark.implicits._
    val in = tmpDir("recrawl-in")
    val out = tmpDir("recrawl-out")
    val H = "site.example.net"
    def page(text: String): Array[Byte] =
      ("<html><head><title>t</title></head><body><p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def entry(shard: Int, ord: Long, path: String, payload: Array[Byte],
        warcType: String = "response", refersTo: String = "") =
      graft.sources.WarcShards.Entry(shard, ord, warcType,
        s"http://$H$path", s"<urn:test:recrawl:$shard:$ord>",
        "application/http;msgtype=response", payload, refersTo = refersTo)
    def resp(text: String) = graft.sources.WarcShards.WarcCodec
      .httpResponse(page(text), "text/html; charset=utf-8")
    val alpha = "the alpha page talks about mountains and rivers flowing north"
    val beta = "a second page describing oceans tides and the salty breeze"
    val gamma = "completely different words about the weather in marseille now"
    val delta = "the delta page rambles at length about trains and stations"
    val eps = "the epsilon page discusses harbors lighthouses and seagulls"
    // run 1 — drain 0: /a/1 + /b/1 fetched (/b/1's origin sends an
    // ETag); drain 1: /c/1 fetched, and the schedule makes /a/1 + /b/1
    // due (base interval = 1 drain)
    graft.sources.WarcShards.pack(Seq(
      entry(0, 1, "/a/1", resp(alpha)),
      entry(0, 2, "/b/1", graft.sources.WarcShards.WarcCodec.httpResponse(
        page(beta), "text/html; charset=utf-8", Seq("ETag" -> "\"b1\""))),
      entry(1, 1, "/c/1", resp(gamma))
    ).toDS(), in): Unit
    val flags = Seq("--files-per-drain", "1", "--change-aware",
      "--recrawl-base", "1")
    val r1 = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(flags))
    assert(r1.status == "success" && r1.drains == 2L &&
      r1.docsIngested == 3L && r1.stateVersion.contains(0), s"run 1: $r1")
    val led1 = spark.read.parquet(s"$out/drains").orderBy("batch_id")
      .select("n_not_modified", "n_refetch", "n_frontier")
      .as[(Long, Long, Long)].collect().toSeq
    assert(led1 == Seq((0L, 0L, 0L), (0L, 2L, 2L)),
      s"run 1 ledger (drain 1 re-emits the two drain-0 URLs): $led1")

    // run 2 — drain 2: /a/1 refetched UNCHANGED (streak → 1, killed at
    // the change-aware seen-set, but the fetch is OBSERVED) + a 304
    // revalidation of /b/1 (same: streak grows, nothing ingested);
    // /c/1 becomes due. drain 3: /d/1 is fetched and a WARC revisit
    // record confirms /c/1 unchanged (byte-identical capture — the
    // payload is response HEADERS only); nothing due (backoff pushed
    // a/b to drain 4; /c/1's generation is already emitted). drain 4:
    // /a/1 + /b/1 due AGAIN under their new generation (last_fetch =
    // 2), plus /d/1's first refresh (fetched at 3, base interval 1);
    // /c/1's revisit pushed it to drain 5.
    val stage = tmpDir("recrawl-d2")
    graft.sources.WarcShards.pack(Seq(
      entry(2, 1, "/a/1", resp(alpha)),
      entry(2, 2, "/b/1",
        graft.sources.WarcShards.WarcCodec.httpNotModified(etag = "\"b1\"")),
      entry(3, 1, "/d/1", resp(delta)),
      entry(3, 2, "/c/1",
        "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8),
        warcType = "revisit", refersTo = "<urn:test:recrawl:1:1>"),
      // a non-HTML 200: routed to the assets ledger, never extracted
      entry(3, 3, "/img/1.png", graft.sources.WarcShards.WarcCodec
        .httpResponse(Array.fill[Byte](24)(7), "image/png")),
      // a text/html 200 still compressed under brotli: fenced to the
      // assets ledger too (no JDK codec — extraction would mint noise)
      entry(3, 4, "/br/1",
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Content-Encoding: br\r\nContent-Length: 9\r\n\r\nBBBBBBBBB")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      entry(4, 1, "/e/1", resp(eps))
    ).toDS(), stage): Unit
    for (sh <- Seq("shard-00002.warc", "shard-00003.warc", "shard-00004.warc"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(stage, sh),
        java.nio.file.Paths.get(in, sh)): Unit
    val r2 = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(flags))
    assert(r2.status == "success" && r2.drains == 3L &&
      r2.docsIngested == 2L && r2.stateVersion.contains(1), s"run 2: $r2")
    val led2 = spark.read.parquet(s"$out/drains").orderBy("batch_id")
      .select("n_not_modified", "n_refetch", "n_frontier")
      .as[(Long, Long, Long)].collect().toSeq
    assert(led2 == Seq((0L, 0L, 0L), (0L, 2L, 2L),
      (1L, 1L, 1L), (1L, 0L, 0L), (0L, 3L, 3L)),
      s"full drain ledger: $led2")
    // frontier: each (url, generation) exactly once — a & b twice
    // (generations 0 and 2), c & d once (one generation each: c's
    // revisit pushed its next refresh past the horizon, d's first
    // refresh lands in drain 4). Refetch rows carry the origin's
    // validators: /b/1's ETag rides BOTH its emissions (rolled from
    // the drain-0 200, re-confirmed by the drain-2 304); /a/1 and
    // /d/1 never got validators → null hints.
    val front = spark.read.parquet(s"$out/frontier")
      .select("target", "etag").as[(String, Option[String])]
      .collect().sorted.toSeq
    assert(front == Seq(
      (s"http://$H/a/1", None), (s"http://$H/a/1", None),
      (s"http://$H/b/1", Some("\"b1\"")), (s"http://$H/b/1", Some("\"b1\"")),
      (s"http://$H/c/1", None), (s"http://$H/d/1", None)),
      s"cumulative frontier: $front")
    // the committed schedule state: observation counts + streaks (the
    // revisit counts as /c/1's second, unchanged observation)
    val sched = spark.read.parquet(s"$out/state/v1/recrawl")
      .select("url", "n_fetches", "unchanged_streak")
      .as[(String, Long, Int)].collect().sorted.toSeq
    assert(sched == Seq(
      (s"http://$H/a/1", 2L, 1), (s"http://$H/b/1", 2L, 1),
      (s"http://$H/c/1", 2L, 1), (s"http://$H/d/1", 1L, 0),
      (s"http://$H/e/1", 1L, 0)),
      s"committed recrawl state: $sched")
    // the committed validator state holds exactly the one origin hint
    val vals = spark.read.parquet(s"$out/state/v1/validators")
      .select("url", "etag").as[(String, Option[String])]
      .collect().sorted.toSeq
    assert(vals == Seq((s"http://$H/b/1", Some("\"b1\""))),
      s"committed validators: $vals")
    // the non-HTML 200 and the brotli-compressed page both landed in
    // the assets ledger, not the corpus, each with its routing reason
    val assets = spark.read.parquet(s"$out/assets")
      .select("uri", "media_type", "n_bytes", "reason")
      .as[(String, String, Long, String)].collect().sorted.toSeq
    assert(assets == Seq(
      (s"http://$H/br/1", "text/html", 9L, "unsupported-encoding:br"),
      (s"http://$H/img/1.png", "image/png", 24L, "media-type")),
      s"assets ledger: $assets")
    // the unchanged refetch and the 304 ingested nothing
    val docs = spark.read.parquet(s"$out/docs")
      .select("uri").as[String].collect().sorted.toSeq
    assert(docs == Seq(s"http://$H/a/1", s"http://$H/b/1", s"http://$H/c/1",
      s"http://$H/d/1", s"http://$H/e/1"), s"ingested docs: $docs")
  }

  test("crawl harvests rel=canonical into the alias ledger and the " +
      "frontier; self-canonicals are no-ops") {
    import spark.implicits._
    val in = tmpDir("canon-in")
    val out = tmpDir("canon-out")
    val H = "cn.example.org"
    def entry(ord: Long, path: String, html: String) =
      graft.sources.WarcShards.Entry(0, ord, "response",
        s"http://$H$path", s"<urn:test:canon:$ord>",
        "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(
          html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          "text/html; charset=utf-8"))
    val p1 = "<html><head><title>t</title>" +
      "<link rel=\"canonical\" href=\"/canon/1\"></head>" +
      "<body><nav><a href=\"/p/2\">x</a></nav>" +
      "<p>the alpha page talks about mountains and rivers flowing north</p>" +
      "</body></html>"
    // self-canonical: the common CMS stamp — aliases nothing
    val p3 = "<html><head><title>t</title>" +
      "<link rel=\"canonical\" href=\"/p/3\"></head>" +
      "<body><p>a second page describing oceans tides and the breeze</p>" +
      "</body></html>"
    graft.sources.WarcShards.pack(Seq(
      entry(1, "/p/1", p1), entry(2, "/p/3", p3)).toDS(), in): Unit
    val r = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1")))
    assert(r.status == "success" && r.drains == 1L, s"run: $r")
    val aliases = spark.read.parquet(s"$out/aliases")
      .select("src", "final_dst", "hops", "kind")
      .as[(String, String, Int, String)].collect().toSeq
    assert(aliases == Seq(
      (s"http://$H/p/1", s"http://$H/canon/1", 1, "canonical")),
      s"alias ledger: $aliases")
    val front = spark.read.parquet(s"$out/frontier")
      .select("target").as[String].collect().sorted.toSeq
    assert(front == Seq(s"http://$H/canon/1", s"http://$H/p/2"),
      s"frontier (canonical target + outlink): $front")
    val led = spark.read.parquet(s"$out/drains")
      .select("n_canonical").as[Long].head()
    assert(led == 1L, s"n_canonical: $led")
  }

  test("frontier provenance tiers: when the politeness quota binds, a " +
      "redirect-declared target outranks plain outlinks on the same host") {
    import spark.implicits._
    val in = tmpDir("tier-in")
    val out = tmpDir("tier-out")
    val S = "src.example.org"
    val T = "tgt.example.org"
    val html = ("<html><head><title>t</title></head><body>" +
      s"""<nav><a href="http://$T/out/a">x</a> <a href="http://$T/out/b">y</a></nav>""" +
      "<p>the alpha page talks about mountains and rivers flowing north</p>" +
      "</body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    graft.sources.WarcShards.pack(Seq(
      graft.sources.WarcShards.Entry(0, 1, "response", s"http://$S/p",
        "<urn:test:tier:1>", "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(html,
          "text/html; charset=utf-8")),
      graft.sources.WarcShards.Entry(0, 2, "response", s"http://$T/r",
        "<urn:test:tier:2>", "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpRedirect(301,
          s"http://$T/final"))
    ).toDS(), in): Unit
    // horizon 5 s / default delay 5 s → quota 1 URL per host per drain:
    // of the three same-host candidates (/out/a, /out/b at tier 0,
    // /final at tier 1), only the redirect-declared target may emit
    val r = Pipeline.crawl(spark, in, out,
      config = graft.core.EngineConfig(
        Map("crawl.horizon_seconds" -> "5"), env = Map.empty),
      args = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1")))
    assert(r.status == "success" && r.drains == 1L, s"run: $r")
    val front = spark.read.parquet(s"$out/frontier")
      .select("target").as[String].collect().sorted.toSeq
    assert(front == Seq(s"http://$T/final"),
      s"quota-1 frontier (tier 1 beats tier 0): $front")
  }

  test("crawl honors robots META / X-Robots-Tag / rel=nofollow: noindex " +
      "stays out of the corpus but follows; nofollow never seeds") {
    import spark.implicits._
    val in = tmpDir("meta-in")
    val out = tmpDir("meta-out")
    val H = "meta.example.org"
    def page(meta: String, text: String, links: Seq[(String, Boolean)]) = {
      val m = if (meta.isEmpty) ""
      else s"""<meta name="robots" content="$meta">"""
      val nav = if (links.isEmpty) ""
      else links.map { case (l, nf) =>
        if (nf) s"""<a rel="nofollow" href="$l">x</a>"""
        else s"""<a href="$l">x</a>"""
      }.mkString("<nav>", " ", "</nav>")
      s"<html><head><title>t</title>$m</head><body>$nav<p>$text</p></body></html>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    def entry(ord: Long, path: String, body: Array[Byte],
        extraHeaders: Seq[(String, String)] = Nil) =
      graft.sources.WarcShards.Entry(0, ord, "response",
        s"http://$H$path", s"<urn:test:meta:$ord>",
        "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(body,
          "text/html; charset=utf-8", extraHeaders))
    val tA = "the alpha page talks about mountains and rivers flowing north"
    val tB = "a second page describing oceans tides and the salty breeze"
    val tC = "completely different words about the weather in marseille today"
    val tD = "the delta page rambles at length about trains and stations"
    graft.sources.WarcShards.pack(Seq(
      // plain page: ingested; plain anchor seeds, nofollow anchor never
      entry(1, "/a", page("", tA,
        Seq(("/a1", false), ("/a2", true)))),
      // meta noindex: NOT ingested, outlink still seeds
      entry(2, "/b", page("noindex", tB, Seq(("/b1", false)))),
      // X-Robots-Tag nofollow: ingested, outlink never seeds
      entry(3, "/c", page("", tC, Seq(("/c1", false))),
        extraHeaders = Seq("X-Robots-Tag" -> "nofollow")),
      // meta none (= noindex, nofollow): neither
      entry(4, "/d", page("none", tD, Seq(("/d1", false))))
    ).toDS(), in): Unit
    val r = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1",
        "--recrawl-base", "1")))
    assert(r.status == "success" && r.drains == 1L, s"run: $r")
    val docs = spark.read.parquet(s"$out/docs")
      .select("uri").as[String].collect().sorted.toSeq
    assert(docs == Seq(s"http://$H/a", s"http://$H/c"),
      s"corpus (noindex pages excluded): $docs")
    val front = spark.read.parquet(s"$out/frontier")
      .select("target").as[String].collect().sorted.toSeq
    assert(front == Seq(s"http://$H/a1", s"http://$H/b1"),
      s"frontier (nofollow anchors and nofollow pages seed nothing): $front")
    val led = spark.read.parquet(s"$out/drains")
      .select("n_noindex", "n_survivors").as[(Long, Long)].head()
    assert(led == ((2L, 2L)), s"noindex/survivor counts: $led")
    // noindex pages still advance the refresh schedule (all four URLs)
    val sched = spark.read.parquet(s"$out/state/v0/recrawl")
      .select("url").as[String].collect().sorted.toSeq
    assert(sched == Seq(s"http://$H/a", s"http://$H/b", s"http://$H/c",
      s"http://$H/d"), s"schedule urls: $sched")
  }

  test("crawl runs the URL-level policy gates BEFORE extraction: a " +
      "blocked-domain or robots-disallowed page's html never reaches " +
      "the graft_html_text kernel") {
    import spark.implicits._
    val in = tmpDir("gate-order-in")
    val out = tmpDir("gate-order-out")
    def page(text: String): Array[Byte] =
      ("<html><head><title>t</title></head><body><p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def entry(ord: Long, host: String, path: String, text: String) =
      graft.sources.WarcShards.Entry(0, ord, "response",
        s"http://$host$path", s"<urn:test:gateord:$ord>",
        "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(
          page(text), "text/html; charset=utf-8"))
    graft.sources.WarcShards.pack(Seq(
      entry(1, "good.example.com", "/a/1",
        "the alpha page talks about mountains and rivers flowing north"),
      entry(2, "good.example.com", "/a/2",
        "a second page describing oceans tides and the salty breeze"),
      entry(3, "ads.tracker.net", "/x/1",
        "tracker junk that is long enough to pass the extractor fine"),
      entry(4, "good.example.com", "/priv/1",
        "private content long enough to pass the extractor easily")
    ).toDS(), in): Unit
    val robotsPq = tmpDir("gate-order-robots") + "/robots"
    Seq(("good.example.com", "User-agent: *\nDisallow: /priv\n"))
      .toDF("host", "body").write.parquet(robotsPq)
    val counter = graft.functions.HtmlTextExtractor.invocations
    counter.reset()
    graft.functions.HtmlTextExtractor.countInvocations = true
    try {
      val r = Pipeline.crawl(spark, in, out,
        args = Pipeline.parseCrawlArgs(Seq(
          "--robots", robotsPq, "--blocked-domains", "tracker.net",
          "--files-per-drain", "1")))
      assert(r.status == "success" && r.drains == 1L, s"run: $r")
    } finally graft.functions.HtmlTextExtractor.countInvocations = false
    val led = spark.read.parquet(s"$out/drains")
      .select("n_batch", "n_after_domain", "n_after_robots")
      .as[(Long, Long, Long)].head()
    assert(led == ((4L, 3L, 2L)), s"stage counts: $led")
    // extraction ran exactly once per POST-GATE page — the blocked
    // and disallowed pages never fed the kernel (r17 verdict #2)
    assert(counter.sum() == 2L,
      s"extraction invocations: ${counter.sum()} (want n_after_robots=2)")
  }

  test("crawl refresh failure feedback: a transient 503 backs off but " +
      "re-emits (no permanent stall), 3x404 tombstones, a 200 resurrects") {
    import spark.implicits._
    val in = tmpDir("refail-in")
    val out = tmpDir("refail-out")
    val H = "err.example.net"
    def page(text: String): Array[Byte] =
      ("<html><head><title>t</title></head><body><p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def entry(shard: Int, ord: Long, path: String, payload: Array[Byte]) =
      graft.sources.WarcShards.Entry(shard, ord, "response",
        s"http://$H$path", s"<urn:test:refail:$shard:$ord>",
        "application/http;msgtype=response", payload)
    def resp(text: String) = graft.sources.WarcShards.WarcCodec
      .httpResponse(page(text), "text/html; charset=utf-8")
    def err(status: Int, reason: String, extra: String = "") =
      (s"HTTP/1.1 $status $reason\r\n" + extra + "Content-Length: 0\r\n\r\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val alpha = "the alpha page talks about mountains and rivers flowing north"
    val beta = "a second page describing oceans tides and the salty breeze"
    val gamma = "completely different words about the weather in marseille now"
    val delta = "the delta page rambles at length about trains and stations"
    // drain 0: /a/1 + /b/1 fetched. drain 1: /a/1 answers 503 (with
    // Retry-After: 2) and /b/1 404 — both must ADVANCE the schedule
    // (lf=1, fail_streak=1), not stall. drain 2: /b/1 404 again; /c/1
    // appears. drain 3: /b/1's third 404 → tombstone; /d/1 appears;
    // /a/1 comes due (1 + max(2^1, RA 2) = 3) and re-emits under its
    // FAILURE generation — the r16 stall fixed. drain 4: /a/1 answers
    // 200 unchanged → failure streak clears, unchanged streak grows.
    graft.sources.WarcShards.pack(Seq(
      entry(0, 1, "/a/1", resp(alpha)),
      entry(0, 2, "/b/1", resp(beta)),
      entry(1, 1, "/a/1", err(503, "Service Unavailable", "Retry-After: 2\r\n")),
      entry(1, 2, "/b/1", err(404, "Not Found")),
      entry(2, 1, "/b/1", err(404, "Not Found")),
      entry(2, 2, "/c/1", resp(gamma)),
      entry(3, 1, "/d/1", resp(delta)),
      entry(3, 2, "/b/1", err(404, "Not Found")),
      entry(4, 1, "/a/1", resp(alpha))
    ).toDS(), in): Unit
    val flags = Seq("--files-per-drain", "1", "--change-aware",
      "--recrawl-base", "1")
    val r1 = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(flags))
    assert(r1.status == "success" && r1.drains == 5L, s"run 1: $r1")
    val led = spark.read.parquet(s"$out/drains").orderBy("batch_id")
      .select("n_failed", "n_refetch", "n_frontier")
      .as[(Long, Long, Long)].collect().toSeq
    assert(led == Seq((0L, 0L, 0L), (2L, 0L, 0L), (1L, 0L, 0L),
      (1L, 2L, 2L), (0L, 1L, 1L)),
      s"drain ledger (failures consumed; a re-emits at drain 3): $led")
    // frontier: /a/1 under its failure-minted generation, /c/1 and
    // /d/1 under their first refresh; /b/1 NEVER (tombstoned before
    // any due window opened)
    val front = spark.read.parquet(s"$out/frontier")
      .select("target").as[String].collect().sorted.toSeq
    assert(front == Seq(s"http://$H/a/1", s"http://$H/c/1", s"http://$H/d/1"),
      s"frontier: $front")
    val sched1 = spark.read.parquet(s"$out/state/v0/recrawl")
      .select("url", "n_fetches", "unchanged_streak", "fail_streak", "gone")
      .as[(String, Long, Int, Int, Boolean)].collect().sorted.toSeq
    assert(sched1 == Seq(
      (s"http://$H/a/1", 2L, 1, 0, false),
      (s"http://$H/b/1", 1L, 0, 3, true),
      (s"http://$H/c/1", 1L, 0, 0, false),
      (s"http://$H/d/1", 1L, 0, 0, false)),
      s"committed schedule after run 1: $sched1")

    // run 2: /b/1 answers 200 again — the origin resurrected it; the
    // tombstone clears and the streaks restart from the success
    val stage = tmpDir("refail-d5")
    graft.sources.WarcShards.pack(Seq(
      entry(5, 1, "/b/1", resp(beta))).toDS(), stage): Unit
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(stage, "shard-00005.warc"),
      java.nio.file.Paths.get(in, "shard-00005.warc")): Unit
    val r2 = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(flags))
    assert(r2.status == "success" && r2.drains == 1L, s"run 2: $r2")
    val b2 = spark.read.parquet(s"$out/state/v1/recrawl")
      .where(col("url") === s"http://$H/b/1")
      .select("n_fetches", "unchanged_streak", "fail_streak", "gone")
      .as[(Long, Int, Int, Boolean)].head()
    assert(b2 == ((2L, 1, 0, false)), s"resurrected /b/1 state: $b2")
  }

  test("crawl control-plane refresh: stale robots.txt and sitemaps are " +
      "re-asked-for through the frontier (generation-keyed), and the " +
      "answered refetch's robots change gates the same drain") {
    import spark.implicits._
    val in = tmpDir("ctlref-in")
    val out = tmpDir("ctlref-out")
    val S = "ctl.example.org"
    def page(text: String, links: Seq[String] = Nil): Array[Byte] = {
      val nav = if (links.isEmpty) ""
      else links.map(l => s"""<a href="$l">x</a>""").mkString("<nav>", " ", "</nav>")
      ("<html><head><title>t</title></head><body>" + nav + "<p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    def entry(shard: Int, ord: Long, path: String, payload: Array[Byte]) =
      graft.sources.WarcShards.Entry(shard, ord, "response",
        s"http://$S$path", s"<urn:test:ctl:$shard:$ord>",
        "application/http;msgtype=response", payload)
    def resp(body: Array[Byte], ct: String) =
      graft.sources.WarcShards.WarcCodec.httpResponse(body, ct)
    val alpha = "the alpha page talks about mountains and rivers flowing north"
    val beta = "a second page describing oceans tides and the salty breeze"
    val gamma = "completely different words about the weather in marseille today"
    val robots1 = s"User-agent: *\nDisallow: /priv\nSitemap: http://$S/sitemap.xml\n"
    val robots2 = s"User-agent: *\nDisallow: /s\nSitemap: http://$S/sitemap.xml\n"
    val sitemapXml = s"<urlset><url><loc>http://$S/s/1</loc></url></urlset>"
    // drain 0: robots + a page; drain 1: the sitemap body + a page;
    // drain 2: a page only — the drain-0 robots is now 2 drains old →
    // the frontier ASKS for it; drain 3: the fetcher answers the ask
    // with a CHANGED body (now disallowing /s) that must gate the page
    // fetched beside it, and the sitemap (fetched at 1) comes due.
    graft.sources.WarcShards.pack(Seq(
      entry(0, 1, "/robots.txt", resp(robots1.getBytes("UTF-8"), "text/plain")),
      entry(0, 2, "/p/1", resp(page(alpha, Seq("/p/2")), "text/html; charset=utf-8")),
      entry(1, 1, "/sitemap.xml", resp(sitemapXml.getBytes("UTF-8"), "application/xml")),
      entry(1, 2, "/p/2", resp(page(beta), "text/html; charset=utf-8")),
      entry(2, 1, "/s/1", resp(page(gamma), "text/html; charset=utf-8")),
      entry(3, 1, "/robots.txt", resp(robots2.getBytes("UTF-8"), "text/plain")),
      entry(3, 2, "/s/2", resp(page(gamma), "text/html; charset=utf-8"))
    ).toDS(), in): Unit
    val r = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1",
        "--control-refresh", "2")))
    assert(r.status == "success" && r.drains == 4L, s"run: $r")
    val led = spark.read.parquet(s"$out/drains").orderBy("batch_id")
      .select("n_control", "n_robots_fetches")
      .as[(Long, Long)].collect().toSeq
    assert(led == Seq((0L, 1L), (0L, 0L), (1L, 0L), (1L, 1L)),
      s"control asks per drain (robots due at 2, sitemap due at 3): $led")
    // frontier: the robots ask rides its generation exactly once; the
    // sitemap appears twice — the advertised discovery emission (drain
    // 0) and the drain-3 control refresh under its generation key
    val front = spark.read.parquet(s"$out/frontier")
      .select("target").as[String].collect().sorted.toSeq
    assert(front == Seq(
      s"http://$S/p/2", s"http://$S/robots.txt", s"http://$S/s/1",
      s"http://$S/sitemap.xml", s"http://$S/sitemap.xml"),
      s"cumulative frontier: $front")
    // the refreshed robots gated /s/2 in its own drain
    val docs = spark.read.parquet(s"$out/docs")
      .select("uri").as[String].collect().sorted.toSeq
    assert(docs == Seq(s"http://$S/p/1", s"http://$S/p/2", s"http://$S/s/1"),
      s"ingested docs (/s/2 gated by the refreshed robots): $docs")
    // committed control ages: robots re-observed at 3, sitemap at 1
    val ctl = spark.read.parquet(s"$out/state/v0/control")
      .as[(String, Double)].collect().toMap
    assert(ctl == Map(s"http://$S/robots.txt" -> 3.0,
      s"http://$S/sitemap.xml" -> 1.0), s"control state: $ctl")
  }

  test("crawl accepts fetch-attempt records: a timed-out refetch (WARC " +
      "metadata, no response) backs off and re-emits instead of " +
      "stalling its generation forever") {
    import spark.implicits._
    val in = tmpDir("attempt-in")
    val out = tmpDir("attempt-out")
    val H = "att.example.net"
    def page(text: String): Array[Byte] =
      ("<html><head><title>t</title></head><body><p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def entry(shard: Int, ord: Long, path: String, text: String) =
      graft.sources.WarcShards.Entry(shard, ord, "response",
        s"http://$H$path", s"<urn:test:att:$shard:$ord>",
        "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(
          page(text), "text/html; charset=utf-8"))
    val texts = Seq(
      "the alpha page talks about mountains and rivers flowing north",
      "a second page describing oceans tides and the salty breeze",
      "completely different words about the weather in marseille now",
      "the delta page rambles at length about trains and stations",
      "the epsilon page discusses harbors lighthouses and seagulls")
    // drain 0: /a/1 fetched. drain 1: /a/1 due → emitted (generation
    // 0). drain 2: the fetcher TIMES OUT on /a/1 — only a metadata
    // attempt record arrives; without it the spent generation would
    // stall forever. drain 4: /a/1 due again (2 + 2^1) → re-emits
    // under its failure-minted generation.
    graft.sources.WarcShards.pack(Seq(
      entry(0, 1, "/a/1", texts(0)),
      entry(1, 1, "/b/1", texts(1)),
      graft.sources.WarcShards.Entry(2, 1, "metadata", s"http://$H/a/1",
        "<urn:test:att:2:1>", "application/warc-fields",
        "outcome: timeout\r\nvia: graft-fetcher\r\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      entry(2, 2, "/c/1", texts(2)),
      entry(3, 1, "/d/1", texts(3)),
      entry(4, 1, "/e/1", texts(4))
    ).toDS(), in): Unit
    val r = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1",
        "--change-aware", "--recrawl-base", "1")))
    assert(r.status == "success" && r.drains == 5L, s"run: $r")
    val led = spark.read.parquet(s"$out/drains").orderBy("batch_id")
      .select("n_failed", "n_refetch")
      .as[(Long, Long)].collect().toSeq
    assert(led == Seq((0L, 0L), (0L, 1L), (1L, 1L), (0L, 1L), (0L, 2L)),
      s"drain ledger (attempt consumed at 2; /a/1 re-emits at 4): $led")
    val front = spark.read.parquet(s"$out/frontier")
      .select("target").as[String].collect().sorted.toSeq
    assert(front == Seq(s"http://$H/a/1", s"http://$H/a/1",
      s"http://$H/b/1", s"http://$H/c/1", s"http://$H/d/1"),
      s"frontier (two /a/1 generations): $front")
    val a = spark.read.parquet(s"$out/state/v0/recrawl")
      .where(col("url") === s"http://$H/a/1")
      .select("last_fetch", "n_fetches", "fail_streak", "gone")
      .as[(Double, Long, Int, Boolean)].head()
    assert(a == ((2.0, 1L, 1, false)),
      s"/a/1 schedule after the attempt: $a")
  }

  test("a due refetch respects the CURRENT robots state: a robots change " +
      "suppresses the re-emission of an already-fetched URL") {
    import spark.implicits._
    val in = tmpDir("recrawl-rob-in")
    val out = tmpDir("recrawl-rob-out")
    val H = "h.example.org"
    def page(text: String): Array[Byte] =
      ("<html><head><title>t</title></head><body><p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def entry(shard: Int, ord: Long, path: String, payload: Array[Byte]) =
      graft.sources.WarcShards.Entry(shard, ord, "response",
        s"http://$H$path", s"<urn:test:rr:$shard:$ord>",
        "application/http;msgtype=response", payload)
    def resp(body: Array[Byte], ct: String) =
      graft.sources.WarcShards.WarcCodec.httpResponse(body, ct)
    val alpha = "the alpha page talks about mountains and rivers flowing north"
    val beta = "a second page describing oceans tides and the salty breeze"
    // drain 0: permissive robots + /a/1 and /b/1 fetched. drain 1: the
    // robots body CHANGES to disallow /a — /a/1 is due (base = 1 drain)
    // but must die at the robots gate; /b/1 is due and re-emits.
    graft.sources.WarcShards.pack(Seq(
      entry(0, 1, "/robots.txt",
        resp("User-agent: *\nDisallow:\n".getBytes("UTF-8"), "text/plain")),
      entry(0, 2, "/a/1", resp(page(alpha), "text/html; charset=utf-8")),
      entry(0, 3, "/b/1", resp(page(beta), "text/html; charset=utf-8")),
      entry(1, 1, "/robots.txt",
        resp("User-agent: *\nDisallow: /a\n".getBytes("UTF-8"), "text/plain"))
    ).toDS(), in): Unit
    val r = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1",
        "--change-aware", "--recrawl-base", "1")))
    assert(r.status == "success" && r.drains == 2L, s"run: $r")
    val front = spark.read.parquet(s"$out/frontier")
      .select("target").as[String].collect().sorted.toSeq
    assert(front == Seq(s"http://$H/b/1"),
      s"only the still-allowed URL re-emits: $front")
    val led = spark.read.parquet(s"$out/drains").orderBy("batch_id")
      .select("n_refetch").as[Long].collect().toSeq
    assert(led == Seq(0L, 1L), s"refetch counts: $led")
  }

  test("host ranks are durable state on the compaction cadence: " +
      "staleness bounded by K drains, recompute only when the policy fires") {
    import spark.implicits._
    val in = tmpDir("rank-in")
    val out = tmpDir("rank-out")
    def page(text: String, links: Seq[String]): Array[Byte] = {
      val nav = if (links.isEmpty) ""
      else links.map(l => s"""<a href="$l">x</a>""").mkString("<nav>", " ", "</nav>")
      ("<html><head><title>t</title></head><body>" + nav + "<p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    def entry(shard: Int, host: String, links: Seq[String]) =
      graft.sources.WarcShards.Entry(shard, 1L, "response",
        s"http://$host/p", s"<urn:test:rank:$shard>",
        "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(
          page(s"a page of host $host with words enough to pass extraction $shard",
            links), "text/html; charset=utf-8"))
    def h(i: Int) = s"h$i.example.org"
    // drains 0/1/2 each add one cross-host edge; compact-every 2 fires
    // the rank recompute at the END of drain 1 only
    graft.sources.WarcShards.pack(Seq(
      entry(0, h(0), Seq(s"http://${h(1)}/x")),
      entry(1, h(2), Seq(s"http://${h(3)}/x")),
      entry(2, h(4), Seq(s"http://${h(5)}/x"))
    ).toDS(), in): Unit
    val flags = Seq("--files-per-drain", "1", "--compact-every", "2")
    val r1 = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(flags))
    assert(r1.status == "success" && r1.drains == 3L, s"run 1: $r1")
    // the persisted ranks reflect the graph AS OF the drain-1 firing:
    // drain-2's hosts are absent (staleness ≤ K = 2 drains by design)
    val ranks1 = spark.read.parquet(s"$out/state/v0/hostranks")
      .select("host").as[String].collect().toSet
    assert(ranks1 == Set(h(0), h(1), h(2), h(3)),
      s"v0 ranks (recomputed at drain 1, drain-2 hosts stale-out): $ranks1")
    // the full graph IS durable — only the rank derivation is amortized
    val graph1 = spark.read.parquet(s"$out/state/v0/hostgraph").count()
    assert(graph1 == 3L, s"v0 hostgraph edges: $graph1")

    // resume with drain 3: the policy fires (3 % 2 == 1) and the
    // recompute folds in everything accumulated since
    val stage = tmpDir("rank-d3")
    graft.sources.WarcShards.pack(Seq(
      entry(3, h(6), Seq(s"http://${h(7)}/x"))).toDS(), stage): Unit
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(stage, "shard-00003.warc"),
      java.nio.file.Paths.get(in, "shard-00003.warc")): Unit
    val r2 = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(flags))
    assert(r2.status == "success" && r2.drains == 1L, s"run 2: $r2")
    val ranks2 = spark.read.parquet(s"$out/state/v1/hostranks")
      .select("host").as[String].collect().toSet
    assert(ranks2 == (0 to 7).map(h).toSet,
      s"v1 ranks (drain-3 firing catches up the whole graph): $ranks2")
  }

  test("a non-recompute drain never shuffles the host graph: resume-drain " +
      "shuffle bytes are flat in the accumulated graph size") {
    import spark.implicits._
    def page(text: String, links: Seq[String]): Array[Byte] = {
      val nav = if (links.isEmpty) ""
      else links.map(l => s"""<a href="$l">x</a>""").mkString("<nav>", " ", "</nav>")
      ("<html><head><title>t</title></head><body>" + nav + "<p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    def entry(shard: Int, host: String, links: Seq[String]) =
      graft.sources.WarcShards.Entry(shard, 1L, "response",
        s"http://$host/p", s"<urn:test:rankflat:$shard>",
        "application/http;msgtype=response",
        graft.sources.WarcShards.WarcCodec.httpResponse(
          page("seed page with words enough to pass the extraction gates",
            links), "text/html; charset=utf-8"))
    // two crawls, same day-2 shard, 64×-different accumulated host
    // graphs (seed page fans out to 8 vs 512 hosts). With the rank
    // recompute amortized away (--compact-every 1000), the resume
    // drain must cost the SAME shuffle bytes under both — the graph
    // (like every other state piece) is scanned, never shuffled.
    def resumeShuffle(nHosts: Int, tag: String): Long = {
      val in = tmpDir(s"rankflat-$tag-in")
      val out = tmpDir(s"rankflat-$tag-out")
      val links = (0 until nHosts).map(i => s"http://f$i.$tag.example.org/x")
      graft.sources.WarcShards.pack(Seq(
        entry(0, s"seed.$tag.example.org", links)).toDS(), in): Unit
      val flags = Seq("--files-per-drain", "1", "--compact-every", "1000")
      val r1 = Pipeline.crawl(spark, in, out,
        args = Pipeline.parseCrawlArgs(flags))
      assert(r1.status == "success", s"seed run ($tag): $r1")
      val stage = tmpDir(s"rankflat-$tag-d2")
      graft.sources.WarcShards.pack(Seq(
        entry(1, s"day2.$tag.example.org",
          Seq(s"http://next.$tag.example.org/x"))).toDS(), stage): Unit
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(stage, "shard-00001.warc"),
        java.nio.file.Paths.get(in, "shard-00001.warc")): Unit
      val m = MetricsProbe.measure(spark) {
        val r2 = Pipeline.crawl(spark, in, out,
          args = Pipeline.parseCrawlArgs(flags))
        assert(r2.status == "success" && r2.drains == 1L, s"resume ($tag): $r2")
      }
      m.shuffleReadBytes
    }
    val small = resumeShuffle(8, "s")
    val big = resumeShuffle(512, "b")
    assert(big <= small * 1.10 + 64 * 1024,
      s"resume-drain shuffle grew with graph size: small=$small big=$big")
  }

  test("a robots revisit or truncated capture never erases the rolled " +
      "rules: Disallow survives a header-only refetch") {
    import spark.implicits._
    val in = tmpDir("robrev-in")
    val out = tmpDir("robrev-out")
    val H = "rv.example.org"
    def page(text: String, links: Seq[String]): Array[Byte] = {
      val nav = if (links.isEmpty) ""
      else links.map(l => s"""<a href="$l">x</a>""").mkString("<nav>", " ", "</nav>")
      ("<html><head><title>t</title></head><body>" + nav + "<p>" + text +
        "</p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    def entry(shard: Int, ord: Long, path: String, payload: Array[Byte],
        warcType: String = "response", truncated: String = "") =
      graft.sources.WarcShards.Entry(shard, ord, warcType,
        s"http://$H$path", s"<urn:test:robrev:$shard:$ord>",
        "application/http;msgtype=response", payload, truncated = truncated)
    def resp(body: Array[Byte], ct: String) =
      graft.sources.WarcShards.WarcCodec.httpResponse(body, ct)
    val alpha = "the alpha page talks about mountains and rivers flowing north"
    val beta = "a second page describing oceans tides and the salty breeze"
    // drain 0: robots disallows /priv; /p/1 links into /priv and /p/2 —
    // only /p/2 survives. drain 1: the fetcher deduped an UNCHANGED
    // robots.txt into a REVISIT record (header-only 200, empty body)
    // and a TRUNCATED permissive capture arrived too; /p/2's outlinks
    // again include /priv/b — it must STILL die at the robots gate.
    graft.sources.WarcShards.pack(Seq(
      entry(0, 1, "/robots.txt",
        resp("User-agent: *\nDisallow: /priv\n".getBytes("UTF-8"),
          "text/plain")),
      entry(0, 2, "/p/1", resp(page(alpha, Seq("/priv/a", "/p/2")),
        "text/html; charset=utf-8")),
      entry(1, 1, "/robots.txt",
        "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8),
        warcType = "revisit"),
      entry(1, 2, "/robots.txt",
        resp("User-agent: *\nDisallow:\n".getBytes("UTF-8"), "text/plain"),
        truncated = "length"),
      entry(1, 3, "/p/2", resp(page(beta, Seq("/priv/b", "/p/3")),
        "text/html; charset=utf-8"))
    ).toDS(), in): Unit
    val r = Pipeline.crawl(spark, in, out,
      args = Pipeline.parseCrawlArgs(Seq("--files-per-drain", "1")))
    assert(r.status == "success" && r.drains == 2L, s"run: $r")
    val front = spark.read.parquet(s"$out/frontier")
      .select("target").as[String].collect().sorted.toSeq
    assert(front == Seq(s"http://$H/p/2", s"http://$H/p/3"),
      s"frontier (every /priv outlink dead under the SURVIVING rules): $front")
    // the committed robots state still carries the day-0 body
    val robotsState = spark.read.parquet(s"$out/state/v0/robots")
      .select("host", "body").as[(String, String)].collect().toMap
    assert(robotsState(H).contains("Disallow: /priv"),
      s"rolled robots body was overwritten: ${robotsState.get(H)}")
  }

  test("crawl args are typed: junk flags and values error loudly") {
    intercept[IllegalArgumentException](
      Pipeline.parseCrawlArgs(Seq("--files-per-drain", "one")))
    intercept[IllegalArgumentException](
      Pipeline.parseCrawlArgs(Seq("--robotz", "x")))
    intercept[IllegalArgumentException](
      Pipeline.parseCrawlArgs(Seq("--compact-every", "x")))
    intercept[IllegalArgumentException](
      Pipeline.parseCrawlArgs(Seq("--recrawl-base", "daily")))
    val p = Pipeline.parseCrawlArgs(Seq("--agent", "MyBot", "--change-aware",
      "--blocked-domains", "a.com, b.net", "--files-per-drain", "2",
      "--psl", "/tmp/psl.parquet", "--recrawl-base", "1",
      "--recrawl-max", "16"))
    assert(p.agent.contains("MyBot") && p.changeAware &&
      p.blockedDomains == Seq("a.com", "b.net") &&
      p.filesPerDrain.contains(2) && p.pslPath.contains("/tmp/psl.parquet") &&
      p.recrawlBase.contains(1) && p.recrawlMax.contains(16))
  }

  test("curate args are typed: junk flags and values error loudly") {
    intercept[IllegalArgumentException](
      Pipeline.parseCurateArgs(Seq("--min-quality", "abc")))
    intercept[IllegalArgumentException](
      Pipeline.parseCurateArgs(Seq("--frmt", "tar")))
    intercept[IllegalArgumentException](
      Pipeline.parseCurateArgs(Seq("--format", "zip")))
    intercept[IllegalArgumentException](
      Pipeline.parseCurateArgs(Seq("--shards", "two")))
    val p = Pipeline.parseCurateArgs(Seq("--min-quality", "0.7",
      "--sample", "0.5", "--dry-run", "--blocked-domains", "a.com, b.net"))
    assert(p.minQuality.contains(0.7) && p.sampleFraction.contains(0.5) &&
      p.dryRun && p.blockedDomains == Seq("a.com", "b.net"))
  }

  test("export-shards packs a parquet table into tar shards; rerun resumes") {
    import spark.implicits._
    val in = tmpDir("export-in")
    val out = tmpDir("export-out")
    (0L until 20L).map(i => (i, s"text for doc $i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)

    val first = Pipeline.exportShards(spark, in, out, nShards = 4)
    assert(first == Pipeline.ShardExport(4L, 20L,
      (0L until 20L).map(i => s"text for doc $i".length.toLong).sum, 0L))
    // ignore Hadoop LocalFS .crc sidecars
    val files = new java.io.File(out).list().filterNot(_.startsWith(".")).sorted.toSeq
    assert(files == (0 until 4).map(i => f"shard-$i%05d.tar"))

    // delete one shard: the rerun rebuilds exactly it, resumes the rest
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "shard-00002.tar"))
    val second = Pipeline.exportShards(spark, in, out, nShards = 4)
    assert(second.shards == 4L && second.members == 20L && second.resumedShards == 3L)

    // round trip: every doc comes back byte-exact through the scan
    val back = graft.sources.TarShards.readMembers(spark, out)
      .selectExpr("cast(regexp_extract(name, '^0*([0-9]+)\\\\.txt$', 1) as bigint) AS id",
        "cast(content as string) AS text")
      .as[(Long, String)].collect().toMap
    assert(back == (0L until 20L).map(i => i -> s"text for doc $i").toMap)
  }
}
