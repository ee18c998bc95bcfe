package pipebench

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.WarcShards

/** Rows/s of the native text kernels, at one task and at `cores` tasks,
  * each consumed through the noop writer (every row and column computed).
  */
object Kernels {
  val names: Seq[String] = Seq("html_text_rps_1t", "html_text_rps_nt",
    "minhash_rps_1t", "minhash_rps_nt")
  val none: Map[String, Double] = names.map(_ -> 0.0).toMap

  def measure(spark: SparkSession, in: Planted, cores: Int): Map[String, Double] = {
    val html = WarcShards.readRecords(spark, in.dir)
      .where(col("http_status") === 200)
      .select(col("body").cast("string").as("html"))
      .crossJoin(spark.range(8).toDF("copy")).drop("copy")
      .repartition(cores).localCheckpoint()
    val text = html
      .select(call_function("graft_html_text", col("html"), lit(20), lit(33)).as("text"))
      .where(col("text").isNotNull).localCheckpoint()
    val shingles = text
      .select(graft.dedup.Shingles.shingleSet(col("text"), 3).as("sh")).localCheckpoint()
    val cases = Seq(
      ("html_text", html,
        call_function("graft_html_text", col("html"), lit(20), lit(33))),
      ("minhash", shingles, graft.dedup.MinHashDedup.signature(col("sh"), 128)))
    val out = cases.flatMap { case (name, df, kernel) =>
      val rows = df.count().toDouble
      Seq(("1t", df.coalesce(1)), ("nt", df)).map { case (tag, d) =>
        val q = d.select(kernel.as("k"))
        q.write.format("noop").mode("overwrite").save()
        val walls = (0 until 3).map { _ =>
          val t0 = System.nanoTime()
          q.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        s"${name}_rps_$tag" -> rows / Main.median(walls)
      }
    }.toMap
    Seq(html, text, shingles).foreach(_.unpersist())
    out
  }
}

/** The per-layer report of a traced run: medians over the traced ops. */
object Layers {

  /** `ops` are the traced calls; `growth` is the untimed multi-drain call
    * (crawl_drains only).
    */
  def report(o: Main.Opts, ops: Seq[Main.OpResult], growth: Option[Main.OpResult],
      untracedJobS: Double, compileS: Double, first: Main.OpResult): Seq[(String, Double, String)] = {
    def med(f: Main.OpResult => Double): Double = Main.median(ops.map(f))
    def st(f: OpStats => Double): Double = med(r => r.stats.map(f).getOrElse(0.0))
    def drains(r: Main.OpResult) = r.stats.map(_.drainDurations.toSeq).getOrElse(Nil)
    def wall(d: Map[String, Long]) = d.getOrElse("triggerExecution", 0L) / 1e3
    // per-drain job counts by module, over every drain with work of every
    // traced call
    val drainJobs = (ops ++ growth).flatMap(_.stats.toSeq).flatMap { s =>
      s.drainDurations.flatMap(d => s.drainJobs.get(d("batchId")))
    }
    def perDrain(f: collection.Map[String, Int] => Int) = Main.median(drainJobs.map(f(_).toDouble))
    val tracedJobS = med(_.jobS)

    val spark = Seq(
      ("spark.jobs", st(_.jobs), "count"),
      ("spark.stages", st(_.stages), "count"),
      ("spark.tasks", st(_.tasks), "count"),
      ("spark.jobs_per_drain", perDrain(_.values.sum), "count"),
      ("spark.driver_gap_s", med(r =>
        r.jobS - r.stats.map(s => Intervals.union(s.jobIntervals.toSeq) / 1e3).getOrElse(0.0)), "s"),
      ("spark.plan_ms", st(_.planMs), "ms"),
      ("spark.codegen_compile_s", compileS, "s"),
      ("spark.codegen_failures", med(_.codegenFailures.toDouble), "count"),
      ("spark.codegen_failures_first_job", first.codegenFailures.toDouble, "count"),
      ("spark.task_s", st(_.taskMs / 1e3), "s"),
      ("spark.cpu_s", st(_.cpuNs / 1e9), "s"),
      ("spark.gc_s", med(_.gcS), "s"),
      ("spark.busy_share", med(r =>
        r.stats.map(_.taskMs / 1e3).getOrElse(0.0) / (r.jobS * o.cores)), "ratio"),
      ("spark.shuffle_write_bytes", st(_.shuffleWrite.toDouble), "bytes"),
      ("spark.shuffle_read_bytes", st(_.shuffleRead.toDouble), "bytes"),
      ("spark.spill_bytes", st(_.spill.toDouble), "bytes"),
      ("spark.input_bytes", st(_.inputBytes.toDouble), "bytes"),
      ("spark.output_bytes", st(_.outputBytes.toDouble), "bytes"))

    val spans = SpanSampler.opSpans.map(s =>
      (s"${s}_share", med(_.spans.getOrElse(s, 0.0)), "ratio"))
    val modules = Modules.names.flatMap { m =>
      Seq((s"$m.self_share", med(_.selfShares.getOrElse(m, 0.0)), "ratio"),
        (s"$m.jobs", st(_.moduleJobs(m).toDouble), "count"),
        (s"$m.job_share", med(r => r.stats.map { s =>
          val all = s.moduleJobMs.values.sum
          if (all > 0) s.moduleJobMs(m).toDouble / all else 0.0
        }.getOrElse(0.0)), "ratio"))
    }
    val modulePerDrain = Seq("pipeline", "dedup", "sources", "streaming", "operators").map { m =>
      (s"$m.jobs_per_drain", perDrain(_.getOrElse(m, 0)), "count")
    }

    def counts(k: String) = med(_.called.counts.getOrElse(k, 0L).toDouble)
    def ratios(k: String) = med(_.called.ratios.getOrElse(k, 0.0))
    val outputs = Seq(
      ("operators.keep_share", ratios("keep_share"), "ratio"),
      ("sinks.files_written", counts("files_written"), "count"),
      ("dedup.url_keep_share", ratios("url_keep_share"), "ratio"),
      ("dedup.new_url_share", ratios("new_url_share"), "ratio"),
      ("streaming.state_bytes", counts("state_bytes"), "bytes"))

    val streaming = {
      def phaseShare(phase: String) = med { r =>
        val ds = drains(r)
        val total = ds.map(wall).sum
        if (total > 0) ds.map(_.getOrElse(phase, 0L)).sum / 1e3 / total else 0.0
      }
      val growthWalls = growth.toSeq.flatMap(r => drains(r).map(wall))
      if (growthWalls.nonEmpty) System.err.println("[pipebench] growth call drain walls (s): " +
        growthWalls.map(w => String.format(Locale.ROOT, "%.3f", Double.box(w))).mkString(" ") +
        String.format(Locale.ROOT, "; p50 %.3f", Double.box(Main.median(growthWalls))))
      Seq(
        ("streaming.add_batch_share", phaseShare("addBatch"), "ratio"),
        ("streaming.wal_commit_share", phaseShare("walCommit"), "ratio"),
        ("streaming.commit_offsets_share", phaseShare("commitOffsets"), "ratio"),
        ("streaming.latest_offset_share", phaseShare("latestOffset"), "ratio"),
        ("streaming.final_commit_share", med { r =>
          val ds = drains(r)
          if (ds.isEmpty) 0.0
          else {
            val s = r.stats.get
            val streamWall = ds.map(wall).sum
            val preStream = s.jobIntervals.map(_._1).minOption
              .map(j0 => (s.streamStartMs - j0) / 1e3).getOrElse(0.0)
            math.max(0.0, r.jobS - math.max(0.0, preStream) - streamWall) / r.jobS
          }
        }, "ratio"),
        ("streaming.drain_growth", slope(growthWalls), "ratio"))
    }

    // the etl read-back is the gold read (`Gold.dailySummary` + `dailyRevenue`)
    val gold = Seq(("gold.query_share",
      if (o.workload == EtlBatch.name) med(r => r.queryS / r.jobS) else 0.0, "ratio"))

    val trace = Seq(
      ("trace.job_s", tracedJobS, "s"),
      ("trace.overhead_share", if (untracedJobS > 0) tracedJobS / untracedJobS - 1 else 0.0,
        "ratio"))

    spark ++ spans ++ modules ++ modulePerDrain ++ outputs ++ streaming ++
      gold ++ trace
  }

  /** Layers of the curate probe: its entry spans as shares of the call,
    * each curation stage's keep share, and the kernel rows/s. All zero
    * when the probe did not run (every workload but crawl_drains).
    */
  def curateProbe(spans: Map[String, Double], called: Called,
      kernels: Map[String, Double]): Seq[(String, Double, String)] =
    SpanSampler.probeSpans.map(s => (s"${s}_share", spans.getOrElse(s, 0.0), "ratio")) ++
      Seq("quality", "exact_dedup", "neardup", "sample").map(k =>
        (s"text.keep_share.$k", called.ratios.getOrElse(k, 0.0), "ratio")) ++
      Kernels.names.map(k => (s"functions.$k", kernels(k), "rows/s"))

  /** Least-squares slope of drain wall against drain index, as a share of
    * the mean drain wall: how much each further drain adds.
    */
  def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) 0.0
    else {
      val n = ys.size.toDouble
      val xm = (n - 1) / 2
      val ym = ys.sum / n
      val num = ys.zipWithIndex.map { case (y, i) => (i - xm) * (y - ym) }.sum
      val den = ys.indices.map(i => (i - xm) * (i - xm)).sum
      if (ym > 0) num / den / ym else 0.0
    }
}
