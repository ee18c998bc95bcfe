package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.ScratchDirs

/** Oracle-checked driver queries that run an ACTUAL `StreamingQuery` —
  * not batch-equivalent semantics of streaming operators (q17/q57 cover
  * those): a file-source `readStream` drained by `Trigger.AvailableNow`
  * through watermarked dedup into a parquet sink with a checkpoint, the
  * event-per-file micro-batch pattern the reference wires as S3
  * ObjectCreated → Lambda (main.tf:372-390) and SURVEY §2.9 upgrades to
  * Structured Streaming.
  *
  * q82 plants exact duplicates (a copy of every 10th event appended to
  * the watched dir as a second batch of files), streams the dir once,
  * dedups on `event_id` within a generous watermark, and reads the sink
  * back. Planted copies are byte-identical rows, so the survivor set is
  * exactly the original table regardless of arrival order — which is
  * what lets DuckDB express the expected sink contents relationally.
  */
object StreamingQueries {

  /** Watched-dir INPUTS are staged once per JVM per sf dir
    * ([[ScratchDirs.staged]]): the input files never change across
    * invocations, and bench runs each query cold+3×warm — without the
    * cache every run would re-write the events table into scratch, and
    * the timer would measure fixture writes instead of the stream.
    * Per-invocation scratch holds only sink / checkpoint / table dirs
    * (fresh checkpoints are what let the same input dir stream
    * repeatedly).
    */
  private def stagedInput(dir: String, name: String)(
      build: String => Unit): String =
    ScratchDirs.staged(name, dir) { lease => val in = s"$lease/in"; build(in); in }

  /** Shared q82/q86/q140/q145/q183/q189 setup — one recipe, many sinks:
    * the events table plus a second batch of planted exact-duplicate
    * files (a copy of every 10th event) in a watched dir (staged once
    * per JVM, see [[stagedInput]]), and a schema'd readStream over
    * it. `ts` normalization (nanos-long OR µs-NTZ parquet →
    * TimestampType, see sources.Tables) happens on the BATCH load
    * before staging, so the staged files are always TIMESTAMP_MICROS
    * (EngineSession's outputTimestampType) and the stream schema needs no
    * per-encoding conversion — the same values the oracles' `::TIMESTAMP`
    * read produces.
    * @return (stream ready to transform, scratch root for sink/ckpt dirs —
    *         leased for the WHOLE query body, released in the caller's
    *         finally)
    */
  private def plantedEventStream(
      s: SparkSession, dir: String, prefix: String): (DataFrame, String) = {
    val raw = graft.sources.Tables.load(s, dir, "events")
    val inDir = stagedInput(dir, "stream-planted") { in =>
      raw.write.mode("overwrite").parquet(in)
      raw.filter(col("event_id") % 10 === 0).write.mode("append").parquet(in)
    }
    val scratch = ScratchDirs.lease(prefix)
    try {
      // maxFilesPerTrigger forces MULTIPLE micro-batches under
      // AvailableNow, so cross-batch paths (dedup state, repeated MERGE
      // commits) actually run rather than collapsing into one batch.
      val stream = s.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(inDir)
      (stream, scratch)
    } catch {
      case e: Throwable =>
        ScratchDirs.release(scratch)
        throw e
    }
  }

  /** q199/q204 staging: the CEP automatons require non-decreasing
    * per-key event time ACROSS micro-batches, so the fixture stages the
    * stream in event-time order BY CONSTRUCTION: three ts-range slices
    * written SEQUENTIALLY as one file each (strictly increasing
    * mod-times) + maxFilesPerTrigger=1 → three micro-batches in time
    * order. Leased scratch; release-on-failure between lease and return
    * (the plantedEventStream pattern).
    */
  private def timePhasedEventStream(
      s: SparkSession, dir: String, prefix: String): (DataFrame, String) = {
    val raw = graft.sources.Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
    val inDir = stagedInput(dir, "stream-phased") { in =>
      val root = new org.apache.hadoop.fs.Path(in)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.mkdirs(root)
      val Array(t0, t1) = raw
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val cuts = Array(Long.MinValue, t0 + (t1 - t0) / 3, t0 + 2 * ((t1 - t0) / 3), Long.MaxValue)
      (0 until 3).foreach { i =>
        val tmp = s"$in-tmp$i"
        raw.where(unix_micros(col("ts")) >= cuts(i) &&
            unix_micros(col("ts")) < cuts(i + 1))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*"))(0).getPath
        fs.rename(part, new org.apache.hadoop.fs.Path(s"$in/phase-$i.parquet")): Unit
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true): Unit
      }
    }
    val scratch = ScratchDirs.lease(prefix)
    try {
      val stream = s.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
      (stream, scratch)
    } catch {
      case e: Throwable =>
        ScratchDirs.release(scratch)
        throw e
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q82_streaming_dedup" -> { (s, dir) =>
      val (stream, scratch) = plantedEventStream(s, dir, "graft-stream-q")
      try {
        val sinkDir = s"$scratch/sink"
        val ckptDir = s"$scratch/ckpt"
        val deduped = StreamingIngest.dedupWithinWatermark(
          stream, keyCols = Seq("event_id"), tsCol = "ts", watermark = "3650 days")
        val q = deduped.writeStream
          .format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()

        // Eager localCheckpoint: the ScratchDirs contract — the returned
        // frame must not read sinkDir after a later invocation reaps it.
        s.read.parquet(sinkDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"))
          .localCheckpoint(true)
          .orderBy("event_id")
      } finally ScratchDirs.release(scratch)
    },

    // Streaming × transactional composition: the same planted-duplicate
    // file stream drains through `foreachBatch(TxTable.mergeSink)` —
    // every micro-batch is one transactional MERGE commit, with
    // `maxFilesPerTrigger` forcing MULTIPLE micro-batches so the
    // upsert-across-commits path (not just a single init) actually runs.
    // mergeSink's content-idempotent upsert is what makes the replayed-
    // batch story exactly-once; here it also collapses the planted
    // copies (identical rows, keyed on event_id), so the committed table
    // must equal the original table — the same relational oracle as q82.
    "q86_streaming_txmerge" -> { (s, dir) =>
      val (stream, scratch) = plantedEventStream(s, dir, "graft-stream-tx")
      try {
        val tableDir = s"$scratch/table"
        val ckptDir = s"$scratch/ckpt"
        val q = stream.writeStream
          .foreachBatch(
            graft.sinks.TxTable.mergeSink(tableDir, Seq("event_id"), orderBy = Some("ts")))
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()

        graft.sinks.TxTable.read(s, tableDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"))
          .localCheckpoint(true)
          .orderBy("event_id")
      } finally ScratchDirs.release(scratch)
    },

    // Streaming CEP: StatefulOps.matchPattern (q198's batch twin) run
    // as an actual StreamingQuery over [[timePhasedEventStream]]'s
    // event-time-ordered micro-batches — per-user chains span batch
    // boundaries through O(1) per-key state. Same relational oracle as
    // q198: the streaming run must land the exact batch-semantics hits.
    "q199_streaming_pattern" -> { (s, dir) =>
      import s.implicits._
      val (stream, scratch) = timePhasedEventStream(s, dir, "graft-stream-cep")
      try {
        val hits = graft.streaming.StatefulOps.matchPattern(
          stream.as[StatefulOps.TypedEvent],
          Seq("view", "click", "purchase"), withinMs = 24L * 3600 * 1000)
        val sinkDir = s"$scratch/sink"
        val q = hits.writeStream
          .format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", s"$scratch/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()

        s.read.parquet(sinkDir)
          .select(col("user_id"), col("t_start"), col("t_end"), col("span_seconds"))
          .localCheckpoint(true)
          .orderBy("user_id")
      } finally ScratchDirs.release(scratch)
    },

    // Streaming CEP with ABANDONMENT (q203's streaming twin): matched
    // outcomes emit at the completing event; uncompleted anchors emit at
    // the EVENT-TIME TIMEOUT when the watermark passes anchor+24h — the
    // funnel-drop profile as a stream. Every anchor's deadline sits ≥14
    // days before max(ts) at both SFs (no straggler ambiguity), so the
    // streaming output equals q203's complete batch outcome set and the
    // SAME oracle gates both.
    "q204_streaming_abandonment" -> { (s, dir) =>
      import s.implicits._
      val (stream, scratch) = timePhasedEventStream(s, dir, "graft-stream-aband")
      try {
        val outcomes = graft.streaming.StatefulOps.patternOutcomes(
          stream.as[StatefulOps.TypedEvent],
          Seq("view", "click", "purchase"), withinMs = 24L * 3600 * 1000)
        val sinkDir = s"$scratch/sink"
        val q = outcomes.writeStream
          .format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", s"$scratch/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()

        s.read.parquet(sinkDir)
          .select(col("user_id"), col("t_start"), col("stage_reached"), col("matched"))
          .localCheckpoint(true)
          .orderBy("user_id")
      } finally ScratchDirs.release(scratch)
    },

    // Stream-static join — the standard streaming dimension-enrichment
    // pattern: every micro-batch joins against a BATCH-computed frame
    // (per-user order profile) that broadcasts into the stream side; the
    // static aggregate is evaluated once per micro-batch planning, never
    // shuffled against the stream. No dedup on purpose: the planted
    // copies flow through, proving row-level passthrough (sink = events
    // ∪ planted copies, each enriched) — which is exactly what DuckDB
    // recomputes relationally. The left join + coalesce keeps events
    // whose user has no orders.
    "q140_stream_enrich" -> { (s, dir) =>
      val (stream, scratch) = plantedEventStream(s, dir, "graft-stream-enrich")
      try {
        val sinkDir = s"$scratch/sink"
        val ckptDir = s"$scratch/ckpt"
        val userDim = graft.sources.Tables.load(s, dir, "orders")
          .groupBy(col("o_custkey").as("user_id"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("user_total"))
        val enriched = stream
          .join(broadcast(userDim), Seq("user_id"), "left_outer")
          .select(col("event_id"), col("user_id"), col("event_type"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            round(coalesce(col("user_total"), lit(0).cast("decimal(18,2)"))
              .cast("double"), 2).as("user_total"))
        val q = enriched.writeStream
          .format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()

        s.read.parquet(sinkDir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("n_orders"), col("user_total"))
          .localCheckpoint(true)
          .orderBy("event_id")
      } finally ScratchDirs.release(scratch)
    },

    // Stream-STREAM interval join — the last streaming join shape the
    // battery lacked (q140 covers stream-static): clicks and views are
    // two filtered streams over the same planted file source, each
    // watermarked, inner-joined on user plus a bounded event-time window
    // (view within 30 min after the click). The time bound is what makes
    // the state store finite at scale: each side buffers only rows inside
    // the watermark-relative window, and `maxFilesPerTrigger` forces the
    // match to happen ACROSS micro-batches (click arriving batches before
    // its view), exercising buffered-state lookup rather than intra-batch
    // join. The watermark here is deliberately generous so no row is ever
    // dropped as late whatever order the file source lists — the inner
    // join then emits exactly the batch-semantics result, which is what
    // DuckDB recomputes (planted copies flow through both sides, so pair
    // multiplicities replay relationally too). A production deployment
    // would tighten the watermark to the real lateness bound; the
    // completeness contract is what the hash gate pins.
    "q145_stream_stream_join" -> { (s, dir) =>
      val (stream, scratch) = plantedEventStream(s, dir, "graft-stream-ssj")
      try {
        val sinkDir = s"$scratch/sink"
        val ckptDir = s"$scratch/ckpt"
        val clicks = stream.filter(col("event_type") === "click")
          .selectExpr("event_id AS click_id", "user_id", "ts AS click_ts")
          .withWatermark("click_ts", "3650 days")
        val views = stream.filter(col("event_type") === "view")
          .selectExpr("event_id AS view_id", "user_id AS v_user_id", "ts AS view_ts")
          .withWatermark("view_ts", "3650 days")
        val joined = clicks.join(views,
          expr("""user_id = v_user_id AND
                  view_ts >= click_ts AND
                  view_ts <= click_ts + interval 30 minutes"""))
          .select(col("click_id"), col("view_id"), col("user_id"),
            col("click_ts"), col("view_ts"))
        val q = joined.writeStream
          .format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()

        s.read.parquet(sinkDir)
          .select(col("click_id"), col("view_id"), col("user_id"),
            col("click_ts"), col("view_ts"))
          .localCheckpoint(true)
          .orderBy("click_id", "view_id")
      } finally ScratchDirs.release(scratch)
    },

    // Late-data quarantine under a REAL StreamingQuery: the month's
    // later half arrives in micro-batch 1 and advances the engine's
    // persisted event-time horizon to maxTs − 1h; the earlier half
    // arrives in micro-batch 2, entirely behind that horizon, and the
    // foreachBatch router (StreamingIngest.lateQuarantineSink) must
    // route every one of its rows to the quarantine sink instead of
    // silently dropping them. File arrival order is pinned with
    // explicit setTimes, not write timing (a same-millisecond tie would
    // fall back to path order). The output is the per-destination
    // audit — exactly the split the oracle recomputes relationally.
    "q170_streaming_late_data" -> { (s, dir) =>
      val raw = graft.sources.Tables.load(s, dir, "events")
      val inDir = stagedInput(dir, "stream-late") { in =>
        val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
        raw.filter(col("ts") >= cutoff).coalesce(1)
          .write.mode("overwrite").parquet(s"$in/batch1")
        raw.filter(col("ts") < cutoff).coalesce(1)
          .write.mode("overwrite").parquet(s"$in/batch2")
        val fs = new org.apache.hadoop.fs.Path(in)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def stamp(sub: String, t: Long): Unit = fs
          .listStatus(new org.apache.hadoop.fs.Path(s"$in/$sub"))
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach(f => fs.setTimes(f.getPath, t, -1))
        stamp("batch1", 1000000L)
        stamp("batch2", 2000000L)
      }
      val scratch = ScratchDirs.lease("graft-stream-late")
      try {
        val sinkDir = s"$scratch/sink"
        val lateDir = s"$scratch/late"
        val q = s.readStream.schema(raw.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true")
          .parquet(inDir)
          .writeStream
          .foreachBatch(StreamingIngest.lateQuarantineSink(
            sinkDir, lateDir, s"$scratch/hwm", tsCol = "ts"))
          .option("checkpointLocation", s"$scratch/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()

        def audit(path: String, dest: String) =
          s.read.schema(raw.schema).parquet(path)
            .agg(count(lit(1)).as("n_rows"),
              countDistinct(col("user_id")).as("n_users"),
              min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
            .select(lit(dest).as("destination"), col("n_rows"),
              col("n_users"), col("min_ts"), col("max_ts"))
        audit(sinkDir, "ontime").unionByName(audit(lateDir, "late"))
          .localCheckpoint(true)
          .orderBy("destination")
      } finally ScratchDirs.release(scratch)
    },

    // Streaming top-k: hourly event-type leaders maintained by a REAL
    // StreamingQuery — windowed counts in UPDATE mode, each micro-batch
    // upserting its refreshed (window, type) cumulative counts through a
    // transactional MERGE (TxTable.mergeSink), the streaming-upsert
    // aggregation pattern that stays exact under ANY micro-batch split
    // (multiple batches forced via maxFilesPerTrigger; the planted
    // every-10th copies shift counts deterministically, proving real
    // accumulation rather than a single-batch collapse). The watermark
    // is deliberately generous so nothing drops as late — at production
    // lateness bounds it also evicts window state; rows already merged
    // stay correct either way. Final ranking (top-3 per window) is a
    // batch window over the committed table.
    "q183_streaming_topk" -> { (s, dir) =>
      val (stream, scratch) = plantedEventStream(s, dir, "graft-stream-topk")
      try {
        val tableDir = s"$scratch/table"
        val ckptDir = s"$scratch/ckpt"
        val counts = stream
          .withWatermark("ts", "3650 days")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .count()
          .select(col("window.start").as("window_start"), col("event_type"),
            col("count").as("n_events"))
        val q = counts.writeStream
          .outputMode("update")
          .foreachBatch(graft.sinks.TxTable.mergeSink(
            tableDir, Seq("window_start", "event_type")))
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()

        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("window_start"))
          .orderBy(col("n_events").desc, col("event_type"))
        graft.sinks.TxTable.read(s, tableDir)
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("window_start"), col("rnk"), col("event_type"),
            col("n_events"))
          .localCheckpoint(true)
          .orderBy("window_start", "rnk")
      } finally ScratchDirs.release(scratch)
    },

    // Streaming as-of enrichment through the engine's CUSTOM operator:
    // every micro-batch runs graft.plans.NativeAsOfJoin against the
    // batch-side snapshot table (dim-sized, so the broadcast strategy
    // fires — the micro-batch is never shuffled). Per-row results
    // depend only on the row and the static snapshots, so appending
    // per-batch outputs equals the one-shot batch join whatever the
    // micro-batch split — which is exactly DuckDB's ASOF LEFT JOIN over
    // events ∪ planted copies (copies are byte-identical rows; their
    // doubled outputs sort-tie harmlessly, the q140 discipline).
    "q189_streaming_asof" -> { (s, dir) =>
      val (stream, scratch) = plantedEventStream(s, dir, "graft-stream-asof")
      try {
        val sinkDir = s"$scratch/sink"
        val ckptDir = s"$scratch/ckpt"
        val snaps = graft.sources.Tables.load(s, dir, "events")
          .filter(col("event_id") % 10 === 0)
          .select(col("user_id"), col("ts"), col("value").as("snap_value"))
        val q = stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            graft.plans.NativeAsOfJoin.backward(
              batch.select("event_id", "user_id", "ts", "value"), snaps,
              keyCols = Seq("user_id"), leftTime = "ts", rightTime = "ts",
              rightValues = Seq("snap_value"))
              .write.mode("append").parquet(sinkDir)
          }
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()

        s.read.parquet(sinkDir)
          .select(col("event_id"), col("user_id"), col("ts"), col("value"),
            col("asof_ts"), col("snap_value"))
          .localCheckpoint(true)
          .orderBy("event_id")
      } finally ScratchDirs.release(scratch)
    }
  )

  val oracles: Map[String, String] = Map(
    // The planted copies are exact duplicates of every 10th event, so a
    // correct within-watermark dedup restores precisely the original
    // table. `::TIMESTAMP` lands DuckDB on µs wall-clock values whatever
    // the parquet encodes (ns truncates, µs is a no-op) — the same
    // normalization Tables.load applies on the engine side.
    "q82_streaming_dedup" ->
      """SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,

    // The MERGE-per-micro-batch keyed upsert of identical planted copies
    // lands the committed table at exactly the original rows — same
    // recompute as q82.
    "q86_streaming_txmerge" ->
      """SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,

    // One oracle, two execution modes: the streaming CEP run must equal
    // q198's batch-mode result exactly.
    "q199_streaming_pattern" -> graft.operators.ParityQueries.patternMatchOracle,

    // Same principle for the abandonment half: the event-time-timeout
    // emission set must equal q203's complete batch outcomes.
    "q204_streaming_abandonment" -> graft.operators.ParityQueries.patternOutcomeOracle,

    // Stream-static enrichment: the sink holds events ∪ planted copies
    // (no dedup in q140), each left-joined to the per-user order
    // profile. The planted copies are byte-identical rows, so the
    // duplicate event_ids sort-tie harmlessly under the row-sorted hash
    // compare.
    // Stream-stream inner interval join with a never-dropping watermark
    // emits exactly the batch join of the two filtered sides (events ∪
    // planted copies on both) — pair multiplicities from duplicated
    // clicks/views included.
    "q145_stream_stream_join" ->
      """WITH ev AS (
        |  SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type FROM events
        |  UNION ALL
        |  SELECT event_id, ts::TIMESTAMP, user_id, event_type FROM events
        |  WHERE event_id % 10 = 0),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM ev WHERE event_type = 'click'),
        |v AS (
        |  SELECT event_id AS view_id, user_id, ts AS view_ts
        |  FROM ev WHERE event_type = 'view')
        |SELECT c.click_id, v.view_id, c.user_id, c.click_ts, v.view_ts
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND v.view_ts >= c.click_ts
        |  AND v.view_ts <= c.click_ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, view_id""".stripMargin,

    "q140_stream_enrich" ->
      """WITH dim AS (
        |  SELECT o_custkey AS user_id, count(*)::BIGINT AS n_orders,
        |    sum(o_totalprice::DECIMAL(18,2)) AS user_total
        |  FROM orders GROUP BY 1),
        |ev AS (
        |  SELECT event_id, user_id, event_type FROM events
        |  UNION ALL
        |  SELECT event_id, user_id, event_type FROM events
        |  WHERE event_id % 10 = 0)
        |SELECT ev.event_id, ev.user_id, ev.event_type,
        |  coalesce(dim.n_orders, 0)::BIGINT AS n_orders,
        |  round(coalesce(dim.user_total, 0::DECIMAL(18,2))::DOUBLE, 2)
        |    AS user_total
        |FROM ev LEFT JOIN dim USING (user_id)
        |ORDER BY event_id""".stripMargin,

    // q170: batch 1 (the on-time later half) sets the horizon; batch 2
    // (the earlier half) is entirely behind max(on-time) − 1h, so the
    // split is exactly the calendar cutoff — which is what makes the
    // audit relationally expressible.
    "q170_streaming_late_data" ->
      """WITH e AS (SELECT ts::TIMESTAMP AS ts, user_id FROM events)
        |SELECT 'late' AS destination, count(*)::BIGINT AS n_rows,
        |  count(DISTINCT user_id)::BIGINT AS n_users,
        |  min(ts) AS min_ts, max(ts) AS max_ts
        |FROM e WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        |UNION ALL
        |SELECT 'ontime', count(*)::BIGINT, count(DISTINCT user_id)::BIGINT,
        |  min(ts), max(ts)
        |FROM e WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
        |ORDER BY destination""".stripMargin,

    // q183: streaming-upsert aggregation is exact under any micro-batch
    // split, so the committed counts equal the batch recompute over
    // events ∪ planted copies; date_trunc('hour') ≡ Spark's
    // window(ts, '1 hour').start.
    "q183_streaming_topk" ->
      """WITH ev AS (
        |  SELECT ts::TIMESTAMP AS ts, event_type FROM events
        |  UNION ALL
        |  SELECT ts::TIMESTAMP, event_type FROM events WHERE event_id % 10 = 0),
        |c AS (
        |  SELECT date_trunc('hour', ts) AS window_start, event_type,
        |    count(*)::BIGINT AS n_events
        |  FROM ev GROUP BY 1, 2),
        |r AS (
        |  SELECT window_start, event_type, n_events,
        |    row_number() OVER (PARTITION BY window_start
        |                       ORDER BY n_events DESC, event_type) AS rnk
        |  FROM c)
        |SELECT window_start, rnk::INT AS rnk, event_type, n_events
        |FROM r WHERE rnk <= 3
        |ORDER BY window_start, rnk""".stripMargin,

    // q189: per-micro-batch as-of against static snapshots ≡ the batch
    // ASOF join over events ∪ planted copies.
    "q189_streaming_asof" ->
      """WITH l AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP ts, value FROM events
        |  UNION ALL
        |  SELECT event_id, user_id, ts::TIMESTAMP, value FROM events
        |  WHERE event_id % 10 = 0),
        |r AS (SELECT user_id, ts::TIMESTAMP ts, value AS snap_value
        |      FROM events WHERE event_id % 10 = 0)
        |SELECT l.event_id, l.user_id, l.ts, l.value,
        |  r.ts AS asof_ts, r.snap_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin
  )
}
