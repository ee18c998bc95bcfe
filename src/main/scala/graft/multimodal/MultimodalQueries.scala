package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Driver-contract queries for the multimodal plumbing, over a media table
  * synthesized deterministically from `documents` (image rows carry real
  * PNG/JPEG container bytes, audio/video rows UTF-8 text bytes). The
  * schema/partitioning/batching and the header codecs are the real
  * contract; only the pixel decode inside
  * [[Multimodal.extractFeatures]] is stubbed.
  */
object MultimodalQueries {

  private def media(s: SparkSession, dir: String) =
    Multimodal.mediaFromDocuments(Tables.load(s, dir, "documents"))

  /** Doc ids for the perceptual near-dup corpora (q83/q84/q85): guarded
    * against +1M/+2M variant-id aliasing — the planted-pair arithmetic
    * (`id % 1M` residues) silently corrupts past 1M ids, so a future SF
    * bump must fail HERE, not as an opaque oracle mismatch (same
    * rationale as DedupQueries.ingestBatch) — and repartitioned so codec
    * work spreads across every core (the id column scans as ONE
    * partition at small SF; the shuffle moves only longs).
    */
  private def fingerprintIds(s: SparkSession, dir: String): Dataset[Long] = {
    import s.implicits._
    val d = Tables.load(s, dir, "documents").select(col("doc_id").cast("long"))
    val maxId = Option(d.agg(max(col("doc_id"))).head.get(0))
      .fold(0L)(_.asInstanceOf[Number].longValue) // null max = empty table
    require(maxId < 1000000L,
      s"perceptual variant-id scheme assumes max(doc_id) < 1000000; got $maxId")
    d.as[Long].repartition(s.sparkContext.defaultParallelism)
  }

  /** Synthetic media corpora (id → real container bytes), each
    * materialized to parquet ONCE per (corpus, sf dir) and cached for
    * the JVM lifetime. Encoding a synthetic corpus is fixture work, not
    * the operator under test — with it inside the timed body, a bench
    * number measures media *generation* (plus its GC interaction: q85
    * recorded 13.3s cold in r8 vs ~1.5s in isolation, q79 12.0s warm in
    * the r10 battery vs ~2s in isolation) instead of the decode path a
    * user actually runs against media they already have. The bench
    * pre-builds these outside the timer ([[Bench]] calls
    * [[materializeGifCorpus]] and [[materializeVideoDecodeCorpus]]
    * right after session warm-up); Verify builds lazily on first use,
    * which is fine because correctness is untimed.
    *
    * Each corpus is a [[graft.core.ScratchDirs.staged]] fixture.
    */
  private def materializeCorpus(s: SparkSession, dir: String, name: String)(
      build: => org.apache.spark.sql.Dataset[(Long, Array[Byte])]): String =
    graft.core.ScratchDirs.staged(name, dir) { lease =>
      import s.implicits._
      val path = s"$lease/$name.parquet"
      build.toDF("id", "gif").write.mode("overwrite").parquet(path)
      path
    }

  /** q85's corpus: per-doc 4-frame animated GIFs plus resized (%4) and
    * slow-motion (%6) planted variants under shifted ids.
    */
  def materializeGifCorpus(s: SparkSession, dir: String): String =
    materializeCorpus(s, dir, "gif-corpus") {
      import s.implicits._
      fingerprintIds(s, dir)
        .flatMap { id =>
          def g(f: Int)(cx: Int, cy: Int): Int =
            PerceptualHash.cellPattern(id * 131 + f, cx, cy)
          def gif(w: Int, h: Int, cell: Int, frameIds: Seq[Int]): Array[Byte] =
            Codecs.encodeGifAnimated(w, h, frameIds.size,
              (f, x, y) => g(frameIds(f))(x / cell, y / cell))
          val baseFrames = 0 until 4
          Seq(id -> gif(36, 32, 4, baseFrames)) ++
            (if (id % 4 == 0)
              Seq((id + 1000000L) -> gif(72, 64, 8, baseFrames)) else Nil) ++
            (if (id % 6 == 0)
              Seq((id + 2000000L) ->
                gif(36, 32, 4, baseFrames.flatMap(f => Seq(f, f)))) else Nil)
        }
    }

  /** q79's corpus: one formula-rendered animated GIF per doc
    * (frames = id%5+2, w = id%12+2, h = id%10+2, gray =
    * (31f+7x+11y+id)%256 — the arithmetic the DuckDB oracle replays).
    */
  def materializeVideoDecodeCorpus(s: SparkSession, dir: String): String =
    materializeCorpus(s, dir, "video-decode-corpus") {
      import s.implicits._
      graft.sources.Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        // the id column scans as ONE partition at small SF; codec work
        // must spread across every core (the shuffle moves only longs)
        .repartition(s.sparkContext.defaultParallelism)
        .map { id =>
          val frames = (id % 5 + 2).toInt
          val w = (id % 12 + 2).toInt
          val h = (id % 10 + 2).toInt
          id -> Codecs.encodeGifAnimated(w, h, frames, (f, x, y) =>
            ((f * 31L + x * 7L + y * 11L + id) % 256).toInt)
        }
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LAION-shape image-text WebDataset round trip — the multimodal
    // export/ingest composite: per doc, a REAL PNG (formula-rendered,
    // id-derived dimensions) plus its caption text pack as
    // `<id>.png`/`<id>.txt` members into tar shards
    // (sources.TarShards), scan back, fold into samples, and the PNG
    // header parser recovers the dimensions — which DuckDB recomputes
    // from the same id arithmetic, so a byte slip anywhere in
    // encode → tar frame → scan → sample-group → header parse is a
    // hash fail. Scratch lifecycle: lease + eager decouple + release.
    "q206_media_shard_export" -> { (s, dir) =>
      import s.implicits._
      val lease = graft.core.ScratchDirs.lease("graft-media-wds-")
      try {
        val members = graft.sources.Tables.load(s, dir, "documents")
          .select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)]
          // the id column scans as ONE partition at small SF; codec work
          // must spread across every core (the shuffle moves tiny rows)
          .repartition(s.sparkContext.defaultParallelism)
          .flatMap { case (id, text) =>
            val w = (id % 12 + 2).toInt
            val h = (id % 10 + 2).toInt
            val png = Codecs.encodePng(w, h, (x, y) =>
              (((x * 7 + y * 11 + id) % 256).toInt << 16) | 0x007f7f)
            Seq(
              graft.sources.TarShards.Member((id % 8).toInt, f"$id%012d.png", png),
              graft.sources.TarShards.Member((id % 8).toInt, f"$id%012d.txt",
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          }
        graft.sources.TarShards.pack(members, lease): Unit
        graft.sources.TarShards
          .samples(graft.sources.TarShards.readMembers(s, lease))
          .select(col("key").cast("long").as("doc_id"),
            element_at(col("components"), "png").as("png"),
            length(element_at(col("components"), "txt")).cast("long").as("txt_bytes"))
          .as[(Long, Array[Byte], Long)]
          .map { case (id, png, txtBytes) =>
            val meta = ImageHeaders.decode(png).getOrElse(
              throw new IllegalStateException(s"undecodable PNG for doc $id"))
            (id, meta.widthPx, meta.heightPx, txtBytes)
          }
          .toDF("doc_id", "width_px", "height_px", "txt_bytes")
          .localCheckpoint(true)
          .orderBy("doc_id")
      } finally graft.core.ScratchDirs.release(lease)
    },

    // Metadata + payload accounting + frame-sampling plumbing, all
    // SQL-expressible: per media kind, payload byte totals, the frame
    // count a stride-2 sampler of 256-byte frames would produce, and the
    // dimension sums PARSED from the real PNG/JPEG header bytes — DuckDB
    // recomputes the expected dimensions from the synthesis arithmetic,
    // so a big-endian/offset bug in the header parser is a hash fail.
    "q34_multimodal_meta" -> { (s, dir) =>
      media(s, dir).toDF()
        .withColumn("n_frames",
          size(Multimodal.sampleFrames(col("payload"), frameBytes = 256, stride = 2)))
        .groupBy(col("meta.kind").as("kind"))
        .agg(
          count(lit(1)).as("n_media"),
          sum(length(col("payload"))).as("total_bytes"),
          sum(col("n_frames")).as("total_frames"),
          sum(col("meta.widthPx")).cast("long").as("sum_width_px"),
          sum(col("meta.heightPx")).cast("long").as("sum_height_px"))
        .orderBy("kind")
    },

    // Feature extraction through the partition-batched decode stub. The
    // stub is a normalized byte histogram, so the contract IS
    // SQL-expressible: n_bytes = octet_length(payload) and feature_sum =
    // 1.0 for any non-empty payload (6-dp rounding absorbs fp summation
    // error) — a full DuckDB oracle over the mapPartitions path.
    "q35_multimodal_features" -> { (s, dir) =>
      import s.implicits._
      Multimodal.extractFeatures(media(s, dir), targetPartitions = 8)
        .toDF()
        .select(
          col("id"),
          col("kind"),
          col("nBytes").as("n_bytes"),
          round(aggregate(col("features"), lit(0.0), (a, x) => a + x), 6).as("feature_sum"))
        .orderBy("id")
    },

    // REAL pixel decode under the hash gate: every doc synthesizes a small
    // real PNG (deterministic per-pixel formula), the engine decodes it
    // with the actual JDK ImageIO codec (Codecs.decodeImage — the same
    // path extractFeatures runs for image payloads), and reports
    // integer-exact per-channel pixel sums plus the decoded dimensions.
    // DuckDB recomputes all five columns from the synthesis arithmetic
    // alone — a wrong decode (dimension, channel order, pixel value)
    // is a hash fail with zero floating-point tolerance.
    "q77_multimodal_decode" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        // the id column scans as ONE partition at small SF; codec work
        // must spread across every core (the shuffle moves only longs)
        .repartition(s.sparkContext.defaultParallelism)
        .map { id =>
          val w = (id % 16 + 1).toInt
          val h = (id % 12 + 1).toInt
          val png = Codecs.encodePng(w, h, (x, y) =>
            ((((x * 7 + id) % 256).toInt) << 16) |
              ((((y * 5 + id) % 256).toInt) << 8) |
              (((x + y + id) % 256).toInt))
          val img = Codecs.decodeImage(png).getOrElse(
            throw new IllegalStateException(s"PNG round trip failed for doc_id=$id"))
          val (r, g, b) = Codecs.channelSums(img)
          (id, img.getWidth, img.getHeight, r, g, b)
        }
        .toDF("doc_id", "width_px", "height_px", "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id")
    },

    // REAL audio decode under the hash gate, mirroring q77: every doc
    // synthesizes 16-bit mono PCM from a per-sample formula, wraps it in a
    // real RIFF/WAVE container, and the engine decodes it with the JDK's
    // javax.sound.sampled codec (the same path extractFeatures runs for
    // audio payloads), reporting integer-exact Σ|s| and strict zero
    // crossings. DuckDB recomputes everything from the formula alone.
    "q78_multimodal_audio" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        // the id column scans as ONE partition at small SF; codec work
        // must spread across every core (the shuffle moves only longs)
        .repartition(s.sparkContext.defaultParallelism)
        .map { id =>
          val n = (id % 192 + 16).toInt
          val rate = if (id % 2 == 0) 16000 else 8000
          val samples = Array.tabulate(n)(i =>
            (((i.toLong * 37 + id * 11) % 4001) - 2000).toShort)
          val wav = Codecs.encodeWavPcm16(rate, samples)
          val (gotRate, decoded) = Codecs.decodeWavPcm16(wav).getOrElse(
            throw new IllegalStateException(s"WAV round trip failed for doc_id=$id"))
          val (sumAbs, crossings) = Codecs.pcmStats(decoded)
          (id, decoded.length, gotRate, sumAbs, crossings)
        }
        .toDF("doc_id", "n_samples", "sample_rate", "sum_abs", "n_crossings")
        .orderBy("doc_id")
    },

    // REAL video-frame decode under the hash gate, completing the modality
    // set: every doc has a multi-frame animated GIF (lossless 256-gray
    // palette, rendered from a per-frame-pixel formula and
    // pre-materialized to parquet by [[materializeVideoDecodeCorpus]] —
    // the encoding is fixture work, kept outside the operator body and
    // outside the bench timer, the q85 discipline). The engine decodes
    // every frame with the JDK GIF reader (the same path extractFeatures
    // runs for video payloads) and reports integer-exact total luminance
    // and inter-frame motion. DuckDB recomputes both from the formula.
    "q79_multimodal_video" -> { (s, dir) =>
      import s.implicits._
      val corpus = materializeVideoDecodeCorpus(s, dir)
      s.read.parquet(corpus)
        .select(col("id").as[Long], col("gif").as[Array[Byte]])
        .map { case (id, gif) =>
          val frames = (id % 5 + 2).toInt
          val decoded = Codecs.decodeGifFrames(gif).getOrElse(
            throw new IllegalStateException(s"GIF round trip failed for doc_id=$id"))
          require(decoded.length == frames,
            s"frame count mismatch for doc_id=$id: ${decoded.length} != $frames")
          val (sumGray, motion) = Codecs.frameStats(decoded)
          (id, decoded.length, sumGray, motion)
        }
        .toDF("doc_id", "n_frames", "sum_gray", "sum_motion")
        .orderBy("doc_id")
    },

    // Image NEAR-DUP via perceptual hash — the multimodal and dedup
    // pillars composed: every doc renders a real 36×32 PNG from a
    // per-cell avalanche pattern; docs %4 plant a RESIZED duplicate
    // (72×64, same content re-rendered) and docs %6 a RE-ENCODED one
    // (same raster as BMP). Each variant is decoded with the real JDK
    // codec and fingerprinted (PerceptualHash.dHash), and the pairs come
    // from the SAME Hamming-band chunk join SimHash uses (q22/q65).
    // Contract row, q65 pattern: DuckDB derives the expected planted
    // pair count from the %4/%6 arithmetic (variants of one base id are
    // pairwise Hamming-0 because box-averaged cell luminances are
    // integer-exact under grid-aligned resize and lossless re-encode);
    // off-planted pairs and contract violations are pinned at zero.
    "q83_image_neardup" -> { (s, dir) =>
      import s.implicits._
      val fps = fingerprintIds(s, dir)
        .flatMap { id =>
          def gray(cx: Int, cy: Int): Int = {
            val l = PerceptualHash.cellPattern(id, cx, cy)
            (l << 16) | (l << 8) | l
          }
          def fp(bytes: Array[Byte]): Long =
            PerceptualHash.dHash(Codecs.decodeImage(bytes).getOrElse(
              throw new IllegalStateException(s"image decode failed for doc_id=$id")))
          val base = Seq(id -> fp(Codecs.encodePng(36, 32, (x, y) => gray(x / 4, y / 4))))
          val resized =
            if (id % 4 == 0)
              Seq((id + 1000000L) -> fp(Codecs.encodePng(72, 64, (x, y) => gray(x / 8, y / 8))))
            else Nil
          val reencoded =
            if (id % 6 == 0)
              Seq((id + 2000000L) -> fp(Codecs.encodeBmp(36, 32, (x, y) => gray(x / 4, y / 4))))
            else Nil
          base ++ resized ++ reencoded
        }
        .toDF("id", "simhash")
      perceptualPairContract(fps)
    },

    // Audio NEAR-DUP via perceptual fingerprint — the audio pillar
    // composed with dedup, mirroring q83: every doc synthesizes a 520-
    // sample PCM clip (65 slices × 8 samples, per-slice amplitude from
    // the avalanche pattern), round-trips it through the REAL JDK WAV
    // codec, and fingerprints it with the energy-delta-sign construction
    // (PerceptualHash.audioHash). Docs %4 plant a VOLUME-SCALED duplicate
    // (samples ×2 — every slice energy scales together, so the sign
    // pattern is exact) and docs %6 a slice-aligned UPSAMPLED one (each
    // sample duplicated at 2× rate — per-slice means unchanged). Pair
    // discovery is the same SimHash Hamming-band chunk join; the contract
    // row and oracle arithmetic are q83's exactly.
    "q84_audio_neardup" -> { (s, dir) =>
      import s.implicits._
      val fps = fingerprintIds(s, dir)
        .flatMap { id =>
          // 13-bit per-slice amplitude, capped so the ×2 variant cannot
          // clip at the int16 ceiling (max ((255<<5)|31) + 100 = 8291,
          // ×2 = 16582 < 32767)
          def amp(j: Int): Int =
            ((PerceptualHash.cellPattern(id, j, 0) << 5) |
              (PerceptualHash.cellPattern(id, j, 1) & 31)) + 100
          val base = Array.tabulate(520) { i =>
            val a = amp(i / 8)
            (if (i % 2 == 0) a else -a).toShort
          }
          def fp(rate: Int, samples: Array[Short]): Long = {
            val (_, decoded) = Codecs.decodeWavPcm16(
              Codecs.encodeWavPcm16(rate, samples)).getOrElse(
              throw new IllegalStateException(s"WAV round trip failed for doc_id=$id"))
            PerceptualHash.audioHash(decoded)
          }
          val rows = Seq(id -> fp(16000, base)) ++
            (if (id % 4 == 0)
              Seq((id + 1000000L) ->
                fp(16000, base.map(s => (s * 2).toShort)))
            else Nil) ++
            (if (id % 6 == 0)
              Seq((id + 2000000L) ->
                fp(32000, base.flatMap(s => Array(s, s))))
            else Nil)
          rows
        }
        .toDF("id", "simhash")
      perceptualPairContract(fps)
    },

    // Video NEAR-DUP via temporal perceptual fingerprint — the third
    // modality composed with dedup: every doc has a 4-frame animated GIF
    // (per-frame avalanche cell patterns, pre-materialized to parquet by
    // [[materializeGifCorpus]] — the generation is fixture work, kept
    // outside the operator body and outside the bench timer). The engine
    // reads the GIF bytes, decodes every frame with the real JDK GIF
    // reader, per-frame dHashes combine by strict majority vote
    // (PerceptualHash.videoHash). Docs %4 plant a RESIZED duplicate
    // (72×64 frames, same content) and docs %6 a SLOW-MOTION one (every
    // frame duplicated — strict majority is scale-invariant in the frame
    // count). Same chunk join, same contract row, same oracle arithmetic
    // as q83/q84.
    "q85_video_neardup" -> { (s, dir) =>
      import s.implicits._
      val corpus = materializeGifCorpus(s, dir)
      val fps = s.read.parquet(corpus)
        .select(col("id").as[Long], col("gif").as[Array[Byte]])
        .map { case (id, gif) =>
          val frames = Codecs.decodeGifFrames(gif).getOrElse(
            throw new IllegalStateException(s"GIF decode failed for id=$id"))
          (id, PerceptualHash.videoHash(frames.toSeq))
        }
        .toDF("id", "simhash")
      perceptualPairContract(fps)
    }
  )

  /** Shared contract-row aggregation for the perceptual near-dup queries
    * (q83 images, q84 audio): planted variants live at base_id + 1M/2M,
    * so planted pairs are exactly the same-residue pairs at Hamming 0;
    * off-planted pairs and contract violations are pinned at zero.
    */
  private def perceptualPairContract(fps: DataFrame): DataFrame = {
      // One evaluation of the (expensive) encode/decode/fingerprint
      // flatMap: both consumers — the chunk join and the count — read
      // the checkpointed frame, not the codec pipeline.
      val mat = fps.localCheckpoint()
      val pairs = graft.dedup.SimHash.nearPairs(mat, "id", maxDistance = 3)
      // coalesce: an (unexpectedly) empty pair set must read as zero
      // counts, not a null row the oracle can never match
      // n_items, modality-neutral: this contract serves images (q83),
      // audio clips (q84) AND video clips (q85) — ADVICE r7.
      mat.agg(count(lit(1)).cast("long").as("n_items")).crossJoin(
        pairs.agg(
          coalesce(sum(when(col("id_a") % 1000000L === col("id_b") % 1000000L &&
            col("hamming") === 0, 1L).otherwise(0L)), lit(0L)).cast("long")
            .as("planted_pairs_found"),
          coalesce(sum(when(col("id_a") % 1000000L =!= col("id_b") % 1000000L, 1L)
            .otherwise(0L)), lit(0L)).cast("long").as("offplant_pairs"),
          coalesce(sum(when(col("id_a") >= col("id_b"), 1L).otherwise(0L)), lit(0L))
            .cast("long").as("ordering_violations"),
          coalesce(sum(when(col("hamming") > 3 || col("hamming") < 0, 1L)
            .otherwise(0L)), lit(0L)).cast("long").as("hamming_violations")))
  }

  // Image payload sizes are format constants: a header-valid PNG is
  // 8 (signature) + 25 (IHDR chunk) + 12 (IEND chunk) = 45 bytes, a
  // header-valid 3-component JPEG is 2 (SOI) + 19 (SOF0 segment) + 2
  // (EOI) = 23 bytes. Dimensions re-derive the synthesis arithmetic
  // (width = n_chars % 1000 + 1, height = doc_id % 500 + 1) that the
  // Spark side must recover by PARSING the bytes.
  private val payloadBytesSql =
    """CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 6 = 0 THEN 45 ELSE 23 END)
      |     ELSE octet_length(encode(text)) END""".stripMargin

  val oracles: Map[String, String] = Map(
    "q206_media_shard_export" ->
      """SELECT doc_id,
        |  CAST(doc_id % 12 + 2 AS INT) AS width_px,
        |  CAST(doc_id % 10 + 2 AS INT) AS height_px,
        |  CAST(strlen(text) AS BIGINT) AS txt_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q34_multimodal_meta" ->
      s"""WITH m AS (
         |  SELECT
         |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END kind,
         |    $payloadBytesSql nb,
         |    CASE WHEN doc_id % 3 = 0 THEN n_chars % 1000 + 1 ELSE 0 END w,
         |    CASE WHEN doc_id % 3 = 0 THEN doc_id % 500 + 1 ELSE 0 END h
         |  FROM documents)
         |SELECT kind, count(*) AS n_media, sum(nb)::BIGINT AS total_bytes,
         |  sum(CASE WHEN nb >= 256 THEN (nb // 256 - 1) // 2 + 1 ELSE 0 END)::BIGINT AS total_frames,
         |  sum(w)::BIGINT AS sum_width_px, sum(h)::BIGINT AS sum_height_px
         |FROM m GROUP BY kind ORDER BY kind""".stripMargin,

    // The decode stub is a normalized byte histogram: its sum is exactly
    // 1.0 for non-empty payloads (0.0 for empty) and n_bytes is the
    // payload length — both computable by DuckDB from the same documents
    // table the media set is synthesized from.
    "q35_multimodal_features" ->
      s"""SELECT doc_id AS id,
         |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END kind,
         |  ($payloadBytesSql)::INT AS n_bytes,
         |  round(CASE WHEN ($payloadBytesSql) > 0 THEN 1.0 ELSE 0.0 END, 6)::DOUBLE
         |    AS feature_sum
         |FROM documents ORDER BY id""".stripMargin,

    // Pixel formula recompute: width = id%16+1, height = id%12+1, and per
    // pixel r=(7x+id)%256 (y-independent), g=(5y+id)%256 (x-independent),
    // b=(x+y+id)%256. Lateral generate_series with column bounds isn't
    // supported here, so the pixel grid is a bounded cross join (max 16x12)
    // filtered to each image's actual w-1 = id%16, h-1 = id%12.
    "q77_multimodal_decode" ->
      """WITH xs AS (SELECT unnest(range(0, 16)) AS x),
        |     ys AS (SELECT unnest(range(0, 12)) AS y),
        |     px AS (
        |       SELECT d.doc_id, xs.x, ys.y
        |       FROM documents d CROSS JOIN xs CROSS JOIN ys
        |       WHERE xs.x <= d.doc_id % 16 AND ys.y <= d.doc_id % 12)
        |SELECT doc_id,
        |  (doc_id % 16 + 1)::INT AS width_px,
        |  (doc_id % 12 + 1)::INT AS height_px,
        |  sum((x * 7 + doc_id) % 256)::BIGINT AS sum_r,
        |  sum((y * 5 + doc_id) % 256)::BIGINT AS sum_g,
        |  sum((x + y + doc_id) % 256)::BIGINT AS sum_b
        |FROM px
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // PCM formula recompute: n = id%192+16 samples of
    // s(i) = ((37i + 11·id) % 4001) - 2000; strict-product zero-crossing
    // rule matches Codecs.pcmStats exactly. range(0, 208) bounds the
    // sample index grid (max n-1 = 206), filtered per doc.
    "q78_multimodal_audio" ->
      """WITH idx AS (SELECT unnest(range(0, 208)) AS i),
        |     samp AS (
        |       SELECT d.doc_id, idx.i,
        |              ((idx.i * 37 + d.doc_id * 11) % 4001) - 2000 AS s
        |       FROM documents d CROSS JOIN idx
        |       WHERE idx.i <= d.doc_id % 192 + 15),
        |     w AS (
        |       SELECT doc_id, s,
        |              lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |       FROM samp)
        |SELECT doc_id,
        |  (doc_id % 192 + 16)::INT AS n_samples,
        |  (CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 8000 END)::INT AS sample_rate,
        |  sum(abs(s))::BIGINT AS sum_abs,
        |  sum(CASE WHEN prev IS NOT NULL AND prev * s < 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_crossings
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Frame formula recompute: frames = id%5+2, w = id%12+2, h = id%10+2,
    // gray(f,x,y) = (31f + 7x + 11y + id) % 256. Motion compares each
    // pixel against the SAME pixel in the previous frame — both values
    // are closed-form, so no window function is needed.
    "q79_multimodal_video" ->
      """WITH fs AS (SELECT unnest(range(0, 6)) AS f),
        |     xs AS (SELECT unnest(range(0, 13)) AS x),
        |     ys AS (SELECT unnest(range(0, 11)) AS y),
        |     px AS (
        |       SELECT d.doc_id,
        |              (fs.f * 31 + xs.x * 7 + ys.y * 11 + d.doc_id) % 256 AS g,
        |              CASE WHEN fs.f > 0
        |                   THEN ((fs.f - 1) * 31 + xs.x * 7 + ys.y * 11 + d.doc_id) % 256
        |              END AS gp
        |       FROM documents d CROSS JOIN fs CROSS JOIN xs CROSS JOIN ys
        |       WHERE fs.f <= d.doc_id % 5 + 1
        |         AND xs.x <= d.doc_id % 12 + 1
        |         AND ys.y <= d.doc_id % 10 + 1)
        |SELECT doc_id,
        |  (doc_id % 5 + 2)::INT AS n_frames,
        |  sum(g)::BIGINT AS sum_gray,
        |  sum(CASE WHEN gp IS NOT NULL THEN abs(g - gp) ELSE 0 END)::BIGINT AS sum_motion
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Planted-pair arithmetic: base images for every doc, a resized
    // variant for %4 docs, a re-encoded variant for %6 docs. Variants of
    // one base id are pairwise Hamming-0 (content-identical at 9×8), so
    // the expected pair count per base is C(|group|, 2): 3 when both
    // variants exist (%12), 1 when exactly one does. Distinct base ids
    // land ~32 bits apart (avalanche cell pattern), so off-planted pairs
    // within distance 3 are pinned at zero.
    "q83_image_neardup" ->
      """SELECT
        |  (count(*)
        |    + count(*) FILTER (WHERE doc_id % 4 = 0)
        |    + count(*) FILTER (WHERE doc_id % 6 = 0))::BIGINT AS n_items,
        |  coalesce(sum(CASE WHEN doc_id % 12 = 0 THEN 3
        |                    WHEN doc_id % 4 = 0 OR doc_id % 6 = 0 THEN 1
        |                    ELSE 0 END), 0)::BIGINT AS planted_pairs_found,
        |  0::BIGINT AS offplant_pairs,
        |  0::BIGINT AS ordering_violations,
        |  0::BIGINT AS hamming_violations
        |FROM documents""".stripMargin,

    // Same planting arithmetic as q83 (resized for %4, slow-motion for
    // %6): per-frame dHash is resize-invariant and strict majority is
    // frame-count-scale-invariant, so variants are pairwise Hamming-0.
    "q85_video_neardup" ->
      """SELECT
        |  (count(*)
        |    + count(*) FILTER (WHERE doc_id % 4 = 0)
        |    + count(*) FILTER (WHERE doc_id % 6 = 0))::BIGINT AS n_items,
        |  coalesce(sum(CASE WHEN doc_id % 12 = 0 THEN 3
        |                    WHEN doc_id % 4 = 0 OR doc_id % 6 = 0 THEN 1
        |                    ELSE 0 END), 0)::BIGINT AS planted_pairs_found,
        |  0::BIGINT AS offplant_pairs,
        |  0::BIGINT AS ordering_violations,
        |  0::BIGINT AS hamming_violations
        |FROM documents""".stripMargin,

    // Same planting arithmetic as q83 (volume-scaled for %4, upsampled
    // for %6): variants of one base id are pairwise Hamming-0 because
    // exact scaling and slice-aligned duplication preserve every
    // mean-energy comparison; distinct clips separate by avalanche.
    "q84_audio_neardup" ->
      """SELECT
        |  (count(*)
        |    + count(*) FILTER (WHERE doc_id % 4 = 0)
        |    + count(*) FILTER (WHERE doc_id % 6 = 0))::BIGINT AS n_items,
        |  coalesce(sum(CASE WHEN doc_id % 12 = 0 THEN 3
        |                    WHEN doc_id % 4 = 0 OR doc_id % 6 = 0 THEN 1
        |                    ELSE 0 END), 0)::BIGINT AS planted_pairs_found,
        |  0::BIGINT AS offplant_pairs,
        |  0::BIGINT AS ordering_violations,
        |  0::BIGINT AS hamming_violations
        |FROM documents""".stripMargin
  )
}
