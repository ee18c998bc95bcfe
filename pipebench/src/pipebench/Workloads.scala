package pipebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.core.{EngineConfig, FileFormat, SinkSpec, SourceSpec}
import graft.meta.JobLedger
import graft.sources.WarcShards

/** What a generator wrote: the input directory, its size and record
  * count, and what the job must report back (checked after every call).
  */
final case class Planted(dir: String, bytes: Long, records: Long,
    expect: Map[String, Long], extra: Map[String, Double] = Map.empty,
    frontiers: IndexedSeq[Set[String]] = IndexedSeq.empty)

/** One job call's outcome as the checks and the per-layer report see it.
  * `records` and `inBytes` are the input this call consumed.
  */
final case class Called(out: String, ok: Boolean, error: String,
    counts: Map[String, Long], ratios: Map[String, Double] = Map.empty,
    targets: Set[String] = Set.empty, records: Long = 0L, inBytes: Long = 0L)

/** A seeded workload: a generator, one `Pipeline` entry point, the
  * output check and a read of the output a downstream user would run.
  */
trait Workload {
  def name: String
  /** What the entry point returns. */
  type Out
  def generate(spark: SparkSession, dir: String, seed: Long): Planted
  /** Output directory of call `op`; deleted after the call unless
    * `keepsOutput`, when later calls resume from it.
    */
  def outDir(work: String, op: Int): String = s"$work/$name-out-$op"
  def keepsOutput: Boolean = false
  /** Whether a traced run adds the untimed [[Workload.GrowthOp]] call. */
  def growth: Boolean = false
  /** Untimed: hands call `op` its input. */
  def prepare(in: Planted, op: Int, out: String): Unit = ()
  /** The timed call: the `Pipeline` entry point and nothing else. */
  def call(spark: SparkSession, in: Planted, op: Int, out: String): Out
  /** Untimed, after the call: reads what the checks and the per-layer
    * report need from the entry point's outcome and its output.
    */
  def observe(spark: SparkSession, in: Planted, op: Int, out: String, o: Out): Called
  /** Mismatches between `got` and what the generator planted for call `op`. */
  def check(in: Planted, op: Int, got: Called): Seq[String]
  /** Reads the job's output back, fully consumed (collect of an
    * aggregate over every row — never `count()`); returns mismatches.
    */
  def readBack(spark: SparkSession, in: Planted, got: Called): Seq[String]
}

object Workload {
  /** The timed workloads. [[CurateWarc]] runs as a probe inside the
    * traced crawl run (see README.md for why it is not timed on its own).
    */
  val all: Map[String, Workload] =
    Seq(EtlBatch, CrawlDrains).map(w => w.name -> w).toMap

  /** Op number of the traced run's extra, untimed multi-drain call. */
  val GrowthOp: Int = -1

  def expectEq(what: String, want: Long, got: Long): Seq[String] =
    if (want == got) Nil else Seq(s"$what: expected $want, got $got")

  def write(path: String, bytes: Array[Byte]): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes): Unit
  }

  def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(dir))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val it = Files.walk(src).iterator()
    while (it.hasNext) {
      val p = it.next()
      val q = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
  }

  def dataFiles(dir: String, ext: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(ext)) 1 else 0
    walk(new File(dir))
  }
}

/** Seeded English-like text: sentences over a fixed vocabulary with real
  * stopwords, so the quality gate keeps them and unrelated documents share
  * almost no 3-shingles.
  */
object Text {
  private val stop = Array("the", "and", "of", "a", "to", "in", "is", "with",
    "for", "on", "that", "by", "as", "at", "from")
  private val syll = Array("ka", "lo", "mi", "ra", "te", "su", "no", "vi",
    "pe", "da", "zo", "ri", "ba", "ne", "tu", "go", "sa", "le", "mo", "xi")

  def word(r: SplittableRandom): String = {
    val n = 2 + r.nextInt(3)
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb.append(syll(r.nextInt(syll.length))); i += 1 }
    sb.toString
  }

  def doc(r: SplittableRandom, words: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(' ')
      sb.append(if (i % 3 == 1) stop(r.nextInt(stop.length)) else word(r))
      i += 1
      if (i % 12 == 0 && i < words) sb.append('.')
    }
    sb.append('.').toString
  }

  def page(text: String, links: Seq[String]): Array[Byte] = {
    val nav =
      if (links.isEmpty) ""
      else links.map(l => s"""<a href="$l">x</a>""").mkString("<nav>", " ", "</nav>")
    ("<html><head><title>t</title></head><body>" + nav + "<p>" + text +
      "</p></body></html>").getBytes(UTF_8)
  }
}

/** `Pipeline.run` over a batch of dirty, sales-shaped CSV and JSON-lines
  * files, then the gold read (`Gold.dailySummary` + `Gold.dailyRevenue`)
  * over the processed output.
  *
  * Planted dirt: messy headers (`Unit Price ($)`), a numeric column carried
  * as strings with junk values, empty fields (the transform drops those
  * rows) and exact duplicate rows (the transform removes them).
  */
object EtlBatch extends Workload {
  val name = "etl_batch"
  type Out = Pipeline.JobOutcome
  val csvFiles = 3
  val jsonFiles = 1
  val rowsPerFile = 75000
  val days = 20

  private val headers = Seq("Order ID", "Customer ID", "Product Name",
    "Quantity", "Unit Price ($)", "Order Date", "Status")
  private val products = Seq("Laptop Pro 15", "Desk Lamp", "Monitor, 27 inch",
    "USB-C Hub", "Office Chair", "Notebook (A5)", "Standing Desk", "Webcam HD")
  private val statuses = Seq("completed", "pending", "shipped", "cancelled")

  def generate(spark: SparkSession, dir: String, seed: Long): Planted = {
    val r = new SplittableRandom(seed)
    var input = 0L; var kept = 0L; var dups = 0L
    var revenueCents = 0L
    var rowNo = 0L
    val nFiles = csvFiles + jsonFiles
    for (f <- 0 until nFiles) {
      val json = f >= csvFiles
      val sb = new StringBuilder
      if (!json) sb.append(headers.map(h => "\"" + h + "\"").mkString(",")).append('\n')
      var i = 0
      while (i < rowsPerFile) {
        rowNo += 1
        val id = s"ORD-$seed-${pad(rowNo, 8)}"
        val cust = "CUST" + pad(r.nextInt(20000), 5)
        val prod = products(r.nextInt(products.size))
        val qty = 1 + r.nextInt(20)
        val cents = 100 + r.nextInt(99900)
        val junkPrice = r.nextInt(50) == 0
        val price = if (junkPrice) "n/a" else s"${cents / 100}.${pad(cents % 100, 2)}"
        val date = "2024-03-" + pad(1 + r.nextInt(days), 2)
        val status = statuses(r.nextInt(statuses.size))
        // one empty field in ~3% of rows: dropped by the null handling
        val hole = if (r.nextInt(33) == 0) 1 + r.nextInt(3) else 0
        val fields: Seq[Option[String]] = Seq(Some(id),
          if (hole == 1) None else Some(cust), Some(prod),
          if (hole == 2) None else Some(qty.toString), Some(price), Some(date),
          if (hole == 3) None else Some(status))
        val line =
          if (json) headers.zip(fields).map {
            case (h, None) => s""""$h":null"""
            case (h, Some(v)) if h == "Quantity" => s""""$h":$v"""
            case (h, Some(v)) => s""""$h":"$v""""
          }.mkString("{", ",", "}")
          else fields.map {
            case None => ""
            case Some(v) => "\"" + v + "\""
          }.mkString(",")
        val copies = if (r.nextInt(20) == 0) 2 else 1
        var c = 0
        while (c < copies) { sb.append(line).append('\n'); c += 1 }
        input += copies
        if (hole == 0) {
          kept += 1
          dups += copies - 1
          if (!junkPrice) revenueCents += qty.toLong * cents
        }
        i += 1
      }
      Workload.write(f"$dir/batch/part-$f%02d.${if (json) "jsonl" else "csv"}",
        sb.toString.getBytes(UTF_8))
    }
    Planted(s"$dir/batch", Workload.dirBytes(s"$dir/batch"), input,
      Map("input_rows" -> input, "rows_loaded" -> kept,
        "duplicates_removed" -> dups, "days" -> days.toLong),
      Map("revenue" -> revenueCents / 100.0))
  }

  /** `n` in decimal, zero-padded to `width` digits. */
  private def pad(n: Long, width: Int): String = {
    val d = n.toString
    if (d.length >= width) d else "0" * (width - d.length) + d
  }

  def call(spark: SparkSession, in: Planted, op: Int, out: String): Out =
    Pipeline.run(spark, SourceSpec.Batch(in.dir),
      SinkSpec(out, FileFormat.Parquet, partitionOnData = true),
      ledger = Some(new JobLedger(spark, s"$out/_ledger")))

  def observe(spark: SparkSession, in: Planted, op: Int, out: String, o: Out): Called = {
    val st = o.stats
    val load = o.load
    Called(load.map(_.destination).getOrElse(out), o.status == "success",
      o.error.getOrElse(""),
      Map("input_rows" -> st.map(_.inputRows).getOrElse(-1L),
        "output_rows" -> st.map(_.outputRows).getOrElse(-1L),
        "duplicates_removed" -> st.map(_.duplicatesRemoved).getOrElse(-1L),
        "rows_loaded" -> load.map(_.rowsLoaded).getOrElse(-1L),
        "files_written" -> load.map(l => Workload.dataFiles(l.destination, ".parquet")
          .toLong).getOrElse(0L)),
      Map("keep_share" -> st.map(s =>
        s.outputRows.toDouble / math.max(1L, s.inputRows)).getOrElse(0.0)),
      records = in.records, inBytes = in.bytes)
  }

  def check(in: Planted, op: Int, got: Called): Seq[String] =
    if (!got.ok) Seq(s"job failed: ${got.error}")
    else Seq("input_rows", "rows_loaded", "duplicates_removed").flatMap(k =>
      Workload.expectEq(k, in.expect(k), got.counts(k)))

  def readBack(spark: SparkSession, in: Planted, got: Called): Seq[String] = {
    val silver = spark.read.parquet(got.out)
    val summary = graft.gold.Gold.dailySummary(silver).collect()
    val revenue = graft.gold.Gold.dailyRevenue(silver).collect()
    val orders = revenue.map(_.getAs[Long]("order_count")).sum
    val total = revenue.map(_.getAs[Double]("total_revenue")).sum
    val qty = summary.map(_.getAs[Long]("total_quantity")).sum
    val want = in.extra("revenue")
    Workload.expectEq("gold order_count", in.expect("rows_loaded"), orders) ++
      Workload.expectEq("gold days", in.expect("days"), revenue.length.toLong) ++
      Workload.expectEq("gold summary days", in.expect("days"), summary.length.toLong) ++
      (if (math.abs(total - want) <= 1e-6 * want) Nil
       else Seq(f"gold total_revenue: expected $want%.2f, got $total%.2f")) ++
      (if (qty > 0) Nil else Seq("gold total_quantity is empty"))
  }
}

/** `Pipeline curate --format tar` over a seeded WARC crawl. Each novel
  * document is planted with exact copies (die at exact dedup), one-word
  * edits (die at near-dup), and junk pages (die at the quality gate).
  */
object CurateWarc extends Workload {
  val name = "curate_warc"
  type Out = Pipeline.CurateOutcome
  val novel = 1200
  val shards = 8

  def generate(spark: SparkSession, dir: String, seed: Long): Planted = {
    import spark.implicits._
    val r = new SplittableRandom(seed)
    val entries = scala.collection.mutable.ArrayBuffer.empty[WarcShards.Entry]
    var exact = 0L; var near = 0L; var junk = 0L
    var ord = 0L
    def add(text: String): Unit = {
      ord += 1
      entries += WarcShards.Entry((ord % shards).toInt, ord, "response",
        s"http://site${ord % 97}.example.org/doc/$ord", s"<urn:bench:$seed:$ord>",
        "application/http;msgtype=response",
        WarcShards.WarcCodec.httpResponse(Text.page(text, Nil),
          "text/html; charset=utf-8"))
    }
    for (_ <- 0 until novel) {
      val text = Text.doc(r, 60 + r.nextInt(90))
      add(text)
      r.nextInt(10) match {
        case 0 => add(text); exact += 1
        case 1 =>
          val words = text.split(' ')
          val k = r.nextInt(words.length)
          words(k) = "edited"
          add(words.mkString(" ")); near += 1
        case 2 => add("!!!! ???? #### $$$$ %%%% @@@@ **** ++++ ^^^^"); junk += 1
        case _ =>
      }
    }
    WarcShards.pack(entries.toSeq.toDS(), s"$dir/warc"): Unit
    val total = novel + exact + near + junk
    Planted(s"$dir/warc", Workload.dirBytes(s"$dir/warc"), total,
      Map("input_docs" -> total, "after_quality" -> (total - junk),
        "after_exact_dedup" -> (total - junk - exact),
        "after_neardup" -> novel.toLong, "chunks" -> novel.toLong))
  }

  def config: EngineConfig = EngineConfig.default
    .withOverride("curate.output_format", "tar")
    .withOverride("curate.shards", shards.toString)

  def call(spark: SparkSession, in: Planted, op: Int, out: String): Out =
    Pipeline.curate(spark, in.dir, out, config)

  def observe(spark: SparkSession, in: Planted, op: Int, out: String, o: Out): Called = {
    val rep = o.report
    def c(f: graft.text.Curation.Report => Long) = rep.map(f).getOrElse(-1L)
    val input = c(_.input_docs)
    def share(n: Long, d: Long) = if (d > 0) n.toDouble / d else 0.0
    Called(s"$out/chunks", o.status == "success", o.error.getOrElse(""),
      Map("input_docs" -> input, "after_quality" -> c(_.after_quality),
        "after_exact_dedup" -> c(_.after_exact_dedup),
        "after_neardup" -> c(_.after_neardup),
        "after_sample" -> c(_.after_sample), "chunks" -> o.chunksWritten),
      Map("quality" -> share(c(_.after_quality), input),
        "exact_dedup" -> share(c(_.after_exact_dedup), c(_.after_quality)),
        "neardup" -> share(c(_.after_neardup), c(_.after_exact_dedup)),
        "sample" -> share(c(_.after_sample), c(_.after_neardup))),
      records = in.records, inBytes = in.bytes)
  }

  def check(in: Planted, op: Int, got: Called): Seq[String] =
    if (!got.ok) Seq(s"job failed: ${got.error}")
    else Seq("input_docs", "after_quality", "after_exact_dedup", "after_neardup",
      "chunks").flatMap(k => Workload.expectEq(k, in.expect(k), got.counts(k)))

  def readBack(spark: SparkSession, in: Planted, got: Called): Seq[String] = {
    val members = graft.sources.TarShards.readMembers(spark, got.out)
    val row = members.agg(count(lit(1)), sum(length(col("content"))),
      countDistinct(col("name"))).collect().head
    Workload.expectEq("tar members", in.expect("chunks"), row.getLong(0)) ++
      Workload.expectEq("distinct member names", in.expect("chunks"), row.getLong(2)) ++
      (if (!row.isNullAt(1) && row.getLong(1) > 0) Nil else Seq("tar members are empty"))
  }
}

/** `Pipeline crawl --files-per-drain 1 --change-aware`, invoked the way it
  * is deployed: a scheduler delivers a WARC drop into the watched
  * directory and invokes the crawl, which drains it on top of the state and
  * checkpoint the earlier invocations left.
  *
  * The first call drains drop 0. Every warm call drains drop 1 on the
  * output the first call left: before it, outside the timed window, the
  * output directory (checkpoint and rolled state included) is restored from
  * a copy taken after the first call, so every warm call does the same
  * work. The growth op (traced runs only) drains drops 1 … `growthDrains`
  * in one call on the same restored output.
  *
  * Drops hold pages on several hosts that link to each other, to a blocked
  * domain and to robots-disallowed paths; drop 0 carries each host's
  * robots.txt; later drops re-fetch earlier pages unchanged (they die at the
  * change-aware seen-set) or changed (ingested again). The expected
  * frontier follows from the planted links and the crawl's gates: blocked
  * domain, robots, seen set and emitted set.
  */
object CrawlDrains extends Workload {
  val name = "crawl_drains"
  type Out = Pipeline.CrawlOutcome
  val growthDrains = 3
  val drops = growthDrains + 1
  val hosts = 6
  val newPerDrop = 60
  val blocked = "tracker.net"

  override def outDir(work: String, op: Int): String = s"$work/crawl-out"
  override def keepsOutput: Boolean = true
  override def growth: Boolean = true

  /** The drops call `op` drains, in order. */
  def dropsOf(op: Int): Seq[Int] =
    if (op == 0) Seq(0) else if (op == Workload.GrowthOp) 1 to growthDrains else Seq(1)

  private def dropFile(d: Int) = f"shard-$d%05d.warc"

  def generate(spark: SparkSession, dir: String, seed: Long): Planted = {
    import spark.implicits._
    val r = new SplittableRandom(seed)
    def host(h: Int) = s"h$h.example.com"
    def url(h: Int, p: Int) = s"http://${host(h)}/p/$p"
    val texts = scala.collection.mutable.HashMap.empty[String, String]
    val fetched = scala.collection.mutable.LinkedHashSet.empty[String]
    val emitted = scala.collection.mutable.LinkedHashSet.empty[String]
    val entries = scala.collection.mutable.ArrayBuffer.empty[WarcShards.Entry]
    val expect = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val frontiers = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    var nextPage = 0
    for (d <- 0 until drops) {
      var ord = 0L
      def add(u: String, body: Array[Byte], ct: String): Unit = {
        ord += 1
        entries += WarcShards.Entry(d, ord, "response", u, s"<urn:bench:$seed:$d:$ord>",
          "application/http;msgtype=response",
          WarcShards.WarcCodec.httpResponse(body, ct))
      }
      if (d == 0) for (h <- 0 until hosts)
        add(s"http://${host(h)}/robots.txt",
          "User-agent: *\nDisallow: /priv\n".getBytes(UTF_8), "text/plain")
      // re-fetches of earlier pages: every other one changed
      val old = fetched.toIndexedSeq
      var survivors = 0L
      val refetch = scala.collection.mutable.LinkedHashSet.empty[String]
      while (old.nonEmpty && refetch.size < newPerDrop / 3)
        refetch += old(r.nextInt(old.size))
      refetch.toSeq.zipWithIndex.foreach { case (u, i) =>
        if (i % 2 == 0) add(u, Text.page(texts(u), Nil), "text/html; charset=utf-8")
        else {
          val t = Text.doc(r, 50 + r.nextInt(40))
          texts(u) = t
          add(u, Text.page(t, Nil), "text/html; charset=utf-8")
          survivors += 1
        }
      }
      // new pages, each with up to two outlinks
      val fresh = (0 until newPerDrop).map { _ =>
        nextPage += 1
        url(r.nextInt(hosts), nextPage)
      }
      val fetchedNow = (fresh ++ refetch).toSet
      val frontier = scala.collection.mutable.LinkedHashSet.empty[String]
      // new targets per host per drain stay under the politeness quota
      // (crawl.horizon_seconds / crawl.default_delay_seconds), so the
      // frontier is exactly the set of links that pass the gates
      val quota = Array.fill(hosts)(0)
      fresh.foreach { u =>
        val t = Text.doc(r, 50 + r.nextInt(40))
        texts(u) = t
        val links = Seq.fill(2) {
          val h = r.nextInt(hosts)
          r.nextInt(10) match {
            case 0 => s"http://ads.$blocked/ad/${r.nextInt(1000)}"
            case 1 => s"http://${host(h)}/priv/${r.nextInt(1000)}"
            case 2 if old.nonEmpty => old(r.nextInt(old.size))
            case _ if quota(h) >= 8 => s"http://${host(h)}/priv/${r.nextInt(1000)}"
            case _ => url(h, nextPage + 1 + r.nextInt(4 * newPerDrop))
          }
        }.distinct
        links.foreach { l =>
          val gated = l.contains(blocked) || l.contains("/priv/") ||
            fetched.contains(l) || fetchedNow.contains(l) || emitted.contains(l)
          if (!gated && frontier.add(l))
            quota(l.stripPrefix("http://h").takeWhile(_.isDigit).toInt) += 1
        }
        add(u, Text.page(t, links), "text/html; charset=utf-8")
        survivors += 1
      }
      fetched ++= fetchedNow
      emitted ++= frontier
      expect(s"survivors_$d") = survivors
      expect(s"records_$d") = ord
      frontiers += emitted.toSet
    }
    WarcShards.pack(entries.toSeq.toDS(), s"$dir/drops"): Unit
    Files.createDirectories(Paths.get(s"$dir/watch"))
    for (d <- 0 until drops)
      expect(s"bytes_$d") = new File(s"$dir/drops/${dropFile(d)}").length()
    Planted(s"$dir/drops", Workload.dirBytes(s"$dir/drops"), entries.size.toLong,
      expect.toMap, frontiers = frontiers.toIndexedSeq)
  }

  private def watch(in: Planted) = s"${new File(in.dir).getParent}/watch"

  /** The watched directory ends up holding drop 0 and the drops of `op`,
    * delivered in order (the file source drains the oldest first); before
    * every call but the first, `out` is reset to what the first call left.
    */
  override def prepare(in: Planted, op: Int, out: String): Unit = {
    Option(new File(watch(in)).listFiles()).foreach(_.foreach { f =>
      if (op == 0 || f.getName != dropFile(0)) f.delete()
    })
    if (op != 0) {
      val snapshot = s"$out.after-drop-0"
      if (!new File(snapshot).exists()) Workload.copyTree(out, snapshot)
      Main.deleteRec(new File(out))
      Workload.copyTree(snapshot, out)
    }
    val t0 = System.currentTimeMillis() - 60000L
    dropsOf(op).foreach { d =>
      val to = Paths.get(watch(in), dropFile(d))
      Files.copy(Paths.get(in.dir, dropFile(d)), to)
      Files.setLastModifiedTime(to, java.nio.file.attribute.FileTime.fromMillis(t0 + d * 1000L))
    }
  }

  def config: EngineConfig = EngineConfig.default
    .withOverride("crawl.files_per_drain", "1")
    .withOverride("crawl.change_aware", "true")
    .withOverride("crawl.blocked_domains", blocked)

  def call(spark: SparkSession, in: Planted, op: Int, out: String): Out =
    Pipeline.crawl(spark, watch(in), out, config)

  def observe(spark: SparkSession, in: Planted, op: Int, out: String, o: Out): Called = {
    val ds = dropsOf(op)
    val records = ds.map(d => in.expect(s"records_$d")).sum
    val inBytes = (0 to ds.last).map(d => in.expect(s"bytes_$d")).sum
    if (o.status != "success")
      return Called(out, ok = false, o.error.getOrElse(""), Map.empty)
    val last = spark.read.parquet(s"$out/drains").orderBy(col("batch_id").desc)
      .select("n_batch", "n_after_url", "n_new_url", "n_survivors", "n_frontier")
      .head()
    val targets = spark.read.parquet(s"$out/frontier").select("target")
      .collect().map(_.getString(0))
    val (batch, afterUrl, newUrl) = (last.getLong(0), last.getLong(1), last.getLong(2))
    Called(out, ok = true, "",
      Map("drains" -> o.drains, "docs" -> o.docsIngested,
        "survivors" -> last.getLong(3),
        "frontier" -> targets.length.toLong,
        "frontier_distinct" -> targets.distinct.length.toLong,
        "state_bytes" -> Workload.dirBytes(s"$out/state")),
      Map("url_keep_share" -> (if (batch > 0) afterUrl.toDouble / batch else 0.0),
        "new_url_share" -> (if (afterUrl > 0) newUrl.toDouble / afterUrl else 0.0)),
      targets.toSet, records, inBytes)
  }

  def check(in: Planted, op: Int, got: Called): Seq[String] =
    if (!got.ok) Seq(s"job failed: ${got.error}")
    else {
      val ds = dropsOf(op)
      val want = in.frontiers(ds.last)
      Workload.expectEq("drains", ds.size.toLong, got.counts("drains")) ++
        Workload.expectEq("docs ingested", ds.map(d => in.expect(s"survivors_$d")).sum,
          got.counts("docs")) ++
        Workload.expectEq("last drain survivors", in.expect(s"survivors_${ds.last}"),
          got.counts("survivors")) ++
        Workload.expectEq("frontier emitted once", got.counts("frontier"),
          got.counts("frontier_distinct")) ++
        (if (want == got.targets) Nil
         else Seq(s"frontier: ${got.targets.size} targets, expected ${want.size}; " +
           "unexpected: " + (got.targets -- want).toSeq.sorted.take(3).mkString(", ") +
           "; missing: " + (want -- got.targets).toSeq.sorted.take(3).mkString(", ")))
    }

  /** What a consumer of the crawl reads: every ingested document (all
    * columns hashed), the frontier and the per-drain ledger.
    */
  def readBack(spark: SparkSession, in: Planted, got: Called): Seq[String] = {
    val docs = spark.read.parquet(s"${got.out}/docs")
    val row = docs.agg(count(lit(1)), countDistinct(col("uri")),
      sum(xxhash64(docs.columns.map(col).toIndexedSeq: _*) % 1000)).collect().head
    val frontier = spark.read.parquet(s"${got.out}/frontier")
      .agg(countDistinct(col("target"))).collect().head.getLong(0)
    val drained = spark.read.parquet(s"${got.out}/drains")
      .agg(sum(col("n_survivors"))).collect().head.getLong(0)
    (if (row.getLong(0) >= got.counts("docs")) Nil
     else Seq(s"docs table holds ${row.getLong(0)} rows, fewer than this call ingested")) ++
      (if (row.getLong(1) > 0) Nil else Seq("docs table is empty")) ++
      Workload.expectEq("frontier read back", got.counts("frontier"), frontier) ++
      Workload.expectEq("drain survivors read back", row.getLong(0), drained)
  }
}
