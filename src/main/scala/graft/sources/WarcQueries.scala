package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract queries for the WARC source + HTML→text extraction —
  * the pretraining pipeline's ingestion front door
  * ([[WarcShards]], [[graft.functions.HtmlTextExtractor]]).
  *
  * The fixture synthesizes a Common-Crawl-shaped crawl FROM the
  * `documents` table with a closed-form page template, packs it into 8
  * real WARC shards (even shards plain, odd shards per-record-gzip — both
  * read paths exercised in every query), and stages it once per JVM
  * ([[graft.core.ScratchDirs.staged]]). Because the template is
  * closed-form, DuckDB can rebuild every byte: q214 recomputes the whole
  * record inventory from SQL string concatenation, and q215's extraction
  * oracle is simply `documents.text` — boilerplate removal must recover
  * the planted payload EXACTLY (token-exact, not just statistically).
  */
object WarcQueries {

  /** Closed-form page: head chrome (title/style/script — dropped whole),
    * a link-dense nav, a short h1, the document text as the one real
    * paragraph, and a link-dense footer with an entity. Extraction with
    * (minChars=20, maxLinkPct=33) keeps exactly the paragraph:
    * `Doc <id>` is < 20 chars, nav/footer blocks are link-dense and
    * short, head never reaches block scoring.
    */
  private def pageHtml(id: Long, lang: String, text: String): String =
    "<!DOCTYPE html><html><head><title>Doc " + id + "</title>" +
      "<style>p{margin:0}</style><script>var w=1;</script></head>" +
      "<body><nav><a href=\"/\">home</a> <a href=\"/l/" + lang + "\">" + lang +
      "</a> <a href=\"/s\">more</a></nav>" +
      "<h1>Doc " + id + "</h1>" +
      "<p>" + text + "</p>" +
      "<footer><a href=\"/p\">prev</a> <a href=\"/n\">next</a> &copy; 2026</footer>" +
      "</body></html>"

  /** The same template as DuckDB SQL (crlf/html fragments composed in the
    * oracles below) — single source of truth for the oracle strings.
    */
  private val pageHtmlSql: String =
    "'<!DOCTYPE html><html><head><title>Doc ' || doc_id::VARCHAR || '</title>" +
      "<style>p{margin:0}</style><script>var w=1;</script></head>" +
      "<body><nav><a href=\"/\">home</a> <a href=\"/l/' || lang || '\">' || lang || " +
      "'</a> <a href=\"/s\">more</a></nav>" +
      "<h1>Doc ' || doc_id::VARCHAR || '</h1>" +
      "<p>' || text || '</p>" +
      "<footer><a href=\"/p\">prev</a> <a href=\"/n\">next</a> &copy; 2026</footer>" +
      "</body></html>'"

  private def requestPayload(id: Long): Array[Byte] =
    (s"GET /doc/$id HTTP/1.1\r\nHost: example.com\r\nUser-Agent: graft\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8)

  private val warcinfoPayload: Array[Byte] =
    "software: graft-warc/1.0\r\nformat: WARC/1.0\r\n"
      .getBytes(StandardCharsets.UTF_8)

  private val NShards = 8

  /** Stage a WARC fixture once per JVM per sf dir
    * ([[graft.core.ScratchDirs.staged]]) and return its shard directory.
    * Even shards pack plain and odd shards per-record gzip, so every
    * fixture exercises both read paths.
    */
  private def stageShards(name: String, dir: String)(
      entries: => Dataset[WarcShards.Entry]): String =
    graft.core.ScratchDirs.staged(name, dir) { out =>
      val all = entries
      WarcShards.pack(all.filter(_.shard % 2 == 0), out, gzip = false): Unit
      WarcShards.pack(all.filter(_.shard % 2 == 1), out, gzip = true): Unit
      out
    }

  /** The base crawl: a request/response pair per doc over 8 shards,
    * each led by a warcinfo record.
    */
  def materializeCrawl(s: SparkSession, dir: String): String =
    stageShards("warc-crawl", dir) {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"), col("lang"))
        .as[(Long, String, String)]
      val pages = docs.flatMap { case (id, text, lang) =>
        val shard = (id % NShards).toInt
        val uri = s"http://example.com/doc/$id"
        val html = pageHtml(id, lang, text).getBytes(StandardCharsets.UTF_8)
        val ct = "text/html; charset=utf-8"
        // all three wire shapes real captures carry, by doc cohort:
        // plain Content-Length, gzip Content-Encoding, chunked
        // Transfer-Encoding — the reader must hand extraction the
        // same entity bytes for every cohort (q215's oracle is the
        // cohort-blind documents table).
        val http = (id % 3) match {
          case 0 => WarcShards.WarcCodec.httpResponse(html, ct)
          case 1 => WarcShards.WarcCodec.httpResponseGzip(html, ct)
          case _ => WarcShards.WarcCodec.httpResponseChunked(html, ct, chunkSize = 100)
        }
        Seq(
          // the request carries WARC-Concurrent-To → its response
          // (the Common Crawl pairing key; URI alone is ambiguous in
          // real crawls, which refetch URIs across segments)
          WarcShards.Entry(shard, id * 2 + 1, "request", uri,
            s"<urn:graft:req:$id>", "application/http;msgtype=request",
            requestPayload(id), concurrentTo = s"<urn:graft:resp:$id>"),
          WarcShards.Entry(shard, id * 2 + 2, "response", uri,
            s"<urn:graft:resp:$id>", "application/http;msgtype=response",
            http))
      }
      val info = s.createDataset((0 until NShards).map { sh =>
        WarcShards.Entry(sh, 0L, "warcinfo", "",
          s"<urn:graft:warcinfo:$sh>", "application/warc-fields",
          warcinfoPayload)
      })
      pages.union(info)
    }

  private def stopList = graft.text.TextAnalysis.stopwords
    .map(w => s"'$w'").mkString(", ")

  /** "Day 2" recrawl shards for the q242 crawl loop, staged once per JVM
    * like [[materializeCrawl]]: shard 8 (plain) re-fetches every shard-1
    * doc (doc_id % 8 = 1) under its ORIGINAL URI with the identical page
    * — the unchanged-page recrawl the URL seen-set must kill; shard 9
    * (gzip) re-publishes every shard-5 doc (doc_id % 8 = 5) under a NEW
    * path (`/page/<id>`) with the identical page — passes every URL
    * stage and must die at the TEXT stages (base corpus for
    * doc_id % 5 ≠ 0; the ROLLING index's day-1 survivors for the novel
    * doc_id % 40 = 5 cohort, which only a grown index can kill).
    */
  def materializeRecrawl(s: SparkSession, dir: String): String =
    stageShards("warc-recrawl", dir) {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"), col("lang"))
        .as[(Long, String, String)]
      val r8 = docs.filter(_._1 % 8 == 1).map { case (id, text, lang) =>
        WarcShards.Entry(8, id, "response", s"http://example.com/doc/$id",
          s"<urn:graft:resp:r8:$id>", "application/http;msgtype=response",
          WarcShards.WarcCodec.httpResponse(
            pageHtml(id, lang, text).getBytes(StandardCharsets.UTF_8),
            "text/html; charset=utf-8"))
      }
      val r9 = docs.filter(_._1 % 8 == 5).map { case (id, text, lang) =>
        WarcShards.Entry(9, id, "response", s"http://example.com/page/$id",
          s"<urn:graft:resp:r9:$id>", "application/http;msgtype=response",
          WarcShards.WarcCodec.httpResponse(
            pageHtml(id, lang, text).getBytes(StandardCharsets.UTF_8),
            "text/html; charset=utf-8"))
      }
      r8.union(r9)
    }

  /** Redirect shards for q254, staged once per JVM: planted 301/302
    * chains by doc_id % 4 cohort —
    *  - %4=0: one hop `/r/<id>` → `/doc/<id>` (a FETCHED URL: the
    *    chain's target dies at the seen side);
    *  - %4=1: two hops `/r/<id>` → `/m/<id>` → `/final/<id>`;
    *  - %4=2: one cross-host hop `/r/<id>` → `other.example.org`;
    *  - %4=3: a 2-cycle `/r/<id>` ↔ `/c/<id>` (must drop whole).
    * Relative and absolute Location forms both planted; shard 0 plain,
    * shard 1 per-record gzip (both read paths in every run).
    */
  def materializeRedirects(s: SparkSession, dir: String): String =
    stageShards("warc-redirects", dir) {
      import s.implicits._
      val ids = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
      ids.flatMap { id =>
        val shard = (id % 2).toInt
        def red(sub: Int, path: String, status: Int, loc: String) =
          WarcShards.Entry(shard, id * 4 + sub, "response",
            s"http://example.com$path", s"<urn:graft:redir:$path:$id>",
            "application/http;msgtype=response",
            WarcShards.WarcCodec.httpRedirect(status, loc))
        (id % 4) match {
          case 0 => Seq(red(0, s"/r/$id", 301, s"/doc/$id"))
          case 1 => Seq(red(0, s"/r/$id", 302, s"/m/$id"),
            red(1, s"/m/$id", 301, s"http://example.com/final/$id"))
          case 2 => Seq(red(0, s"/r/$id", 301,
            s"http://other.example.org/x/$id"))
          case _ => Seq(red(0, s"/r/$id", 301, s"/c/$id"),
            red(1, s"/c/$id", 302, s"/r/$id"))
        }
      }
    }

  private val RevalLastModified = "Sat, 01 Jun 2024 12:00:00 GMT"

  /** Revalidation fixture (q259/q260): per doc one 200 response
    * carrying cache validators by cohort — doc_id%3: 0 = strong ETag,
    * 1 = weak (`W/`-prefixed) ETag, 2 = none; doc_id%2=0 adds a
    * constant `Last-Modified` — plus, for the even docs, a 304 Not
    * Modified record at the same URI re-sending the validators with no
    * body (the conditional-refetch answer), and, for the %3=0 docs, a
    * WARC `revisit` record (`WARC-Refers-To` names the original; the
    * payload is the response HEADER block only — the fetcher's
    * byte-identical-capture dedup, reference WARC/1.1 §6.7.2 shape as
    * Common Crawl emits it). Shard 0 plain, shard 1 gzip.
    */
  def materializeRevalidation(s: SparkSession, dir: String): String =
    stageShards("warc-reval", dir) {
      import s.implicits._
      val ids = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
      ids.flatMap { id =>
        val shard = (id % 2).toInt
        val uri = s"http://example.com/doc/$id"
        val etag = (id % 3) match {
          case 0 => "\"v" + id + "\""
          case 1 => "W/\"v" + id + "\""
          case _ => ""
        }
        val lm = if (id % 2 == 0) RevalLastModified else ""
        val headers =
          (if (etag.nonEmpty) Seq("ETag" -> etag) else Nil) ++
            (if (lm.nonEmpty) Seq("Last-Modified" -> lm) else Nil)
        val body = s"<html><body>doc $id</body></html>"
          .getBytes(StandardCharsets.UTF_8)
        val ok = WarcShards.Entry(shard, id * 3 + 1, "response", uri,
          s"<urn:graft:reval:200:$id>",
          "application/http;msgtype=response",
          WarcShards.WarcCodec.httpResponse(body,
            "text/html; charset=utf-8", headers))
        val notMod =
          if (id % 2 == 0)
            Seq(WarcShards.Entry(shard, id * 3 + 2, "response", uri,
              s"<urn:graft:reval:304:$id>",
              "application/http;msgtype=response",
              WarcShards.WarcCodec.httpNotModified(etag, lm)))
          else Nil
        val revisit =
          if (id % 3 == 0)
            Seq(WarcShards.Entry(shard, id * 3 + 3, "revisit", uri,
              s"<urn:graft:reval:rev:$id>",
              "application/http;msgtype=response",
              ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
                s"ETag: $etag\r\n\r\n").getBytes(StandardCharsets.UTF_8),
              refersTo = s"<urn:graft:reval:200:$id>"))
          else Nil
        Seq(ok) ++ notMod ++ revisit
      }
    }

  /** Media-type fixture (q261): one 200 response per doc, the
    * Content-Type by cohort — doc_id%4: 0 = text/html page, 1 =
    * image/png (deterministic byte blob), 2 = application/pdf, 3 = NO
    * Content-Type header at all (legacy servers). Shard 0 plain,
    * shard 1 gzip.
    */
  def materializeMediaTypes(s: SparkSession, dir: String): String =
    stageShards("warc-media", dir) {
      import s.implicits._
      val ids = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
      ids.flatMap { id =>
        val shard = (id % 2).toInt
        def e(path: String, payload: Array[Byte]) =
          WarcShards.Entry(shard, id, "response",
            s"http://example.com$path", s"<urn:graft:media:$id>",
            "application/http;msgtype=response", payload)
        val main = (id % 4) match {
          case 0 => e(s"/doc/$id", WarcShards.WarcCodec.httpResponse(
            s"<html><body>doc $id</body></html>"
              .getBytes(StandardCharsets.UTF_8),
            "text/html; charset=utf-8"))
          case 1 => e(s"/img/$id.png", WarcShards.WarcCodec.httpResponse(
            Array.fill[Byte]((id % 50 + 10).toInt)((id % 251).toByte),
            "image/png"))
          case 2 => e(s"/pdf/$id", WarcShards.WarcCodec.httpResponse(
            Array.fill[Byte]((id % 25 + 5).toInt)(37.toByte),
            "application/pdf"))
          case _ =>
            val body = s"plain doc $id".getBytes(StandardCharsets.UTF_8)
            val h = s"HTTP/1.1 200 OK\r\nContent-Length: ${body.length}\r\n\r\n"
              .getBytes(StandardCharsets.UTF_8)
            e(s"/raw/$id", h ++ body)
        }
        // brotli cohort: a text/html 200 whose body rides
        // `Content-Encoding: br` — the JDK has no brotli codec, so
        // the reader must SURFACE the token (body left compressed)
        // and the loop fence it out of extraction
        val br =
          if (id % 7 == 0) {
            val payload = Array.fill[Byte]((id % 30 + 5).toInt)(66.toByte)
            val h = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
              "Content-Encoding: br\r\n" +
              s"Content-Length: ${payload.length}\r\n\r\n")
              .getBytes(StandardCharsets.UTF_8)
            Seq(WarcShards.Entry(shard, id + 1000000L, "response",
              s"http://example.com/br/$id", s"<urn:graft:media:br:$id>",
              "application/http;msgtype=response", h ++ payload))
          } else Nil
        Seq(main) ++ br
      }
    }

  /** Charset fixture (q262/q263): one text/plain 200 per doc whose
    * BYTES are encoded in the charset its Content-Type declares —
    * doc_id%4: 0 = UTF-8 (incl. astral-free multibyte), 1 = ISO-8859-1,
    * 2 = windows-1252 (€/œ live in the 0x80-0x9F range Latin-1 maps to
    * C1 controls — the cohort that catches a Latin-1 shortcut), 3 =
    * UTF-8 bytes MISLABELED iso-8859-1 (the decode must follow the
    * label and produce the deterministic mojibake, not sniff). Docs
    * with doc_id%5=0 add a TRUNCATED capture at `/t/<id>`
    * (`WARC-Truncated: length`). Shard 0 plain, shard 1 gzip.
    */
  def materializeCharsets(s: SparkSession, dir: String): String =
    stageShards("warc-charsets", dir) {
      import s.implicits._
      val ids = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
      ids.flatMap { id =>
        val shard = (id % 2).toInt
        def e(ord: Long, path: String, payload: Array[Byte],
            truncated: String = "") =
          WarcShards.Entry(shard, ord, "response",
            s"http://example.com$path", s"<urn:graft:cs:$path:$id>",
            "application/http;msgtype=response", payload,
            truncated = truncated)
        val (text, wire, label) = (id % 4) match {
          case 0 => (s"café número $id — €",
            "UTF-8", "utf-8")
          case 1 => (s"café número $id ±",
            "ISO-8859-1", "iso-8859-1")
          case 2 => (s"café € $id œ",
            "windows-1252", "windows-1252")
          // mislabel: UTF-8 bytes, iso-8859-1 label — decodes to
          // deterministic mojibake (é = C3 A9 → Ã©)
          case _ => (s"café $id", "UTF-8", "iso-8859-1")
        }
        val main = e(id * 2, s"/doc/$id",
          WarcShards.WarcCodec.httpResponse(
            text.getBytes(java.nio.charset.Charset.forName(wire)),
            s"text/plain; charset=$label"))
        val trunc =
          if (id % 5 == 0)
            Seq(e(id * 2 + 1, s"/t/$id",
              WarcShards.WarcCodec.httpResponse(
                "partial co".getBytes(StandardCharsets.UTF_8),
                "text/html"),
              truncated = "length"))
          else Nil
        Seq(main) ++ trunc
      }
    }

  /** Domain-curation fixture: each doc gets a host by doc_id % 6 — two
    * subdomains (one case-mangled) per registered domain, three
    * registered domains (`example.com`, `example.co.uk` via the
    * multi-part-suffix rule, `tracker.net` as the planted bad domain) —
    * and a synthetic https URI. Single source of truth for the Spark
    * fixture and the DuckDB oracle CTE.
    */
  private val DomainHosts = Seq(
    "WWW.Example.COM", "cdn.example.com", "Blog.Example.co.uk",
    "shop.example.co.uk", "ads.tracker.net", "cdn.static.tracker.net")

  /** PSL-fixture hosts by doc_id % 8 — two `github.io` user sites (one
    * case-mangled), two `example.com` subdomains, a `co.uk` registrant,
    * a wildcard-`ck` publisher, the `!www.ck` exception carve-out, and
    * a bare public suffix (`bar.ck`, passthrough).
    */
  private val PslHosts = Seq(
    "Alice.GitHub.IO", "bob.github.io", "www.example.com", "cdn.example.com",
    "shop.example.co.uk", "foo.bar.ck", "x.www.ck", "bar.ck")

  /** The q246 rule table: plain, deep, wildcard and exception entries. */
  private val PslSuffixes = Seq(
    "com", "uk", "co.uk", "io", "github.io", "ck", "*.ck", "!www.ck")

  private def domainFixture(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val host = element_at(
      array(DomainHosts.map(lit(_)): _*), (col("doc_id") % 6 + 1).cast("int"))
    d.withColumn("uri",
      concat(lit("https://"), host, lit("/doc/"), col("doc_id").cast("string")))
  }

  /** The oracle's twin of [[domainFixture]] + host extraction +
    * registered-domain derivation, as a WITH-clause prefix ending in
    * relation `dom(doc_id, text, host, domain)`.
    */
  private def domainFixtureSql: String = {
    val hostList = DomainHosts.map(h => s"'$h'").mkString(", ")
    val rd = Domains.registeredDomainSql("host")
    s"""u AS (
       |  SELECT doc_id, text,
       |    'https://' || [$hostList][(doc_id % 6 + 1)::INT] ||
       |      '/doc/' || doc_id::VARCHAR AS uri
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, text,
       |    lower(regexp_extract(uri, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)', 1))
       |      AS host
       |  FROM u),
       |dom AS (SELECT doc_id, text, host, $rd AS domain FROM h)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Record inventory by WARC type across both file layouts (plain +
    // .gz) AND all three HTTP wire shapes (Content-Length / gzip
    // Content-Encoding / chunked Transfer-Encoding): counts, DECODED
    // body bytes, parsed statuses. The oracle recomputes every decoded
    // byte from the closed-form templates; a framing bug anywhere
    // (record CRLF discipline, Content-Length, gzip members, chunk
    // framing, body inflation) breaks the stream or the byte totals.
    "q214_warc_records" -> { (s, dir) =>
      val crawl = materializeCrawl(s, dir)
      WarcShards.readRecords(s, crawl)
        .groupBy(col("warc_type"))
        .agg(
          count(lit(1)).as("n_records"),
          sum(length(col("body"))).as("body_bytes"),
          sum(when(col("http_status") === 200, 1L).otherwise(0L)).as("n_http_ok"))
        .orderBy(col("warc_type"))
    },

    // Boilerplate removal recovers the planted text EXACTLY: head
    // chrome/script/style dropped, nav + footer dropped by the
    // link-density rule, h1 dropped by the length rule, entities
    // decoded — the oracle is the documents table itself.
    "q215_warc_extract" -> { (s, dir) =>
      val crawl = materializeCrawl(s, dir)
      WarcShards.readRecords(s, crawl)
        .where(col("http_status") === 200)
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          call_function("graft_html_text",
            col("body").cast("string"), lit(20), lit(33)).as("text"))
        .orderBy(col("doc_id"))
    },

    // URL canonicalization ([[UrlOps]]) — the dedup key computed BEFORE
    // text dedup in a real crawl: three dirty variants of each doc's
    // page URL (case-mangled host, default port, trailing slash,
    // utm/gclid tracking params, fragment) collapse to two canonical
    // forms (the http pair unifies; the https variant stays distinct —
    // scheme is semantic). Every step mirrored in the oracle with the
    // same RE2/Java-neutral patterns.
    "q220_url_canonicalize" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
      val id = col("doc_id").cast("string")
      val urls = d.select(col("doc_id"), explode(array(
        concat(lit("HTTP://Example.COM:80/Doc/"), id,
          lit("/?utm_source=feed&ref="), col("lang"), lit("#top")),
        concat(lit("http://example.com/Doc/"), id,
          lit("?ref="), col("lang"), lit("&utm_medium=mail")),
        concat(lit("https://Example.com:443/Doc/"), id,
          lit("?gclid=abc123")))).as("url"))
      urls.select(col("doc_id"), UrlOps.canonicalize(col("url")).as("canon"),
        UrlOps.host(col("url")).as("host"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("canon")).as("n_canon"),
          min(col("canon")).as("first_canon"),
          countDistinct(col("host")).as("n_hosts"))
        .orderBy(col("doc_id"))
    },

    // CROSS-BATCH URL seen-set ([[graft.dedup.UrlSeenSet]]) — the crawl
    // loop's URL-stage kill, rolled over four batches: a canonical-URL
    // hash index grows with each batch's fresh URLs (extendIndex-style,
    // compacted every second batch) and a planted CROSS-BATCH recrawl
    // (every shard-1 doc with doc_id % 8 = 1 re-arrives in shard 3 under
    // a case-mangled/tracking-param variant) dies by exact anti-join
    // BEFORE any text stage, while a planted INTRA-batch variant (doc_id
    // % 8 = 3, dirty twin in its own shard 3) dies at within-batch
    // canonical dedup. The oracle recomputes the whole frontier
    // relationally: per-shard counts, distinct canons, first-shard-wins.
    "q241_url_seen_ingest" -> { (s, dir) =>
      import s.implicits._
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val originals = d.select((col("doc_id") % 4).as("shard"),
        concat(lit("http://example.com/doc/"), id).as("url"))
      val recrawl = d.filter(col("doc_id") % 8 === 1)
        .select(lit(3L).as("shard"),
          concat(lit("HTTP://Example.COM:80/doc/"), id,
            lit("?utm_source=feed#frag")).as("url"))
      val intradup = d.filter(col("doc_id") % 8 === 3)
        .select(lit(3L).as("shard"),
          concat(lit("http://example.com:80/doc/"), id,
            lit("/?fbclid=zz")).as("url"))
      val all = originals.unionByName(recrawl).unionByName(intradup)
        .localCheckpoint()
      var seen = graft.dedup.UrlSeenSet.empty(s)
      val scratch = graft.core.ScratchDirs.lease("graft-url-seen-")
      try {
        val ledger = (0 until 4).map { k =>
          // ALL three stage counts ride ONE materialization job per
          // batch (r19, guide §1.4): batch → canonical dedup → seen-set
          // anti-join is a single-consumer chain over the checkpointed
          // `all`, so the intermediate checkpoints bought nothing — the
          // per-level observes keep every count exact (filters/windows
          // cannot push through CollectMetrics) while only the FRESH
          // frame (the one the next batch's anti-join reuses)
          // materializes. Was 3 checkpoints + 3 count jobs per batch.
          val Seq(obsB, obsD, obsF) = Seq.fill(3)(new graft.core.Durable.RowCount)
          val batch = obsB.on(all.filter(col("shard") === k)
            .withColumn("canon", UrlOps.canonicalize(col("url"))))
          val deduped = obsD.on(graft.dedup.ExactDedup.keepFirst(
            batch, Seq("canon"), Seq(col("url"))))
          val fresh = obsF.on(graft.dedup.UrlSeenSet.filterNew(deduped, "canon", seen))
            .localCheckpoint()
          val (nBatch, nAfterBatch, nNew) = (obsB.n, obsD.n, obsF.n)
          seen = graft.dedup.UrlSeenSet.extend(seen, fresh, "canon")
          if (k % 2 == 1)
            seen = graft.dedup.UrlSeenSet.compact(seen, s"$scratch/seen_$k")
          (k.toLong, nBatch, nAfterBatch, nNew)
        }
        // driver-held seq — nothing reads scratch after the release below
        s.createDataset(ledger)
          .toDF("shard", "n_batch", "n_after_batch", "n_new")
          .orderBy(col("shard"))
      } finally graft.core.ScratchDirs.release(scratch)
    },

    // CHANGE-AWARE RE-CRAWL ([[graft.dedup.UrlSeenSet]]'s content
    // overloads) — the refresh path a URL-only seen-set cannot express:
    // day 1 stores every page's URL *and content hash* over three
    // batches; day 2 (batch 3) re-crawls one cohort UNCHANGED (doc_id %
    // 8 = 1 — must die at the URL stage as before), re-publishes a
    // CHANGED page at an UNCHANGED URL (doc_id % 8 = 3, text + "
    // [updated v2]" — must pass the URL stage and UPSERT its stored
    // hash), and mints genuinely new URLs (doc_id % 8 = 5 under /page/
    // — the new-URL path still works); day 3 (batch 4) proves the
    // SUPERSESSION: the v2 content re-offered at the same URL now dies
    // (the upsert really replaced v1), while a v3 edit of the
    // unchanged-cohort page passes. Ledger splits survivors into
    // new-URL vs changed-content; the oracle recomputes every verdict
    // relationally from the batch construction. The set is compacted
    // every second batch (CompactionPolicy) — invisible by contract.
    //
    // 100 TB shape: same join as q241's URL kill — two-long equi-join,
    // index side broadcast or bucket-co-located — plus one index scan
    // per upsert; content hashes add 8 bytes/URL, not a text copy.
    "q245_recrawl_refresh" -> { (s, dir) =>
      import s.implicits._
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val id = col("doc_id").cast("string")
      val url = concat(lit("http://example.com/doc/"), id)
      val day1 = d.select((col("doc_id") % 3).as("batch"), url.as("url"),
        col("text"))
      val day2 = d.filter(col("doc_id") % 8 === 1)
        .select(lit(3L).as("batch"), url.as("url"), col("text"))
        .unionByName(d.filter(col("doc_id") % 8 === 3)
          .select(lit(3L).as("batch"), url.as("url"),
            concat(col("text"), lit(" [updated v2]")).as("text")))
        .unionByName(d.filter(col("doc_id") % 8 === 5)
          .select(lit(3L).as("batch"),
            concat(lit("http://example.com/page/"), id).as("url"),
            col("text")))
      val day3 = d.filter(col("doc_id") % 8 === 1)
        .select(lit(4L).as("batch"), url.as("url"),
          concat(col("text"), lit(" [updated v3]")).as("text"))
        .unionByName(d.filter(col("doc_id") % 8 === 3)
          .select(lit(4L).as("batch"), url.as("url"),
            concat(col("text"), lit(" [updated v2]")).as("text")))
      val all = day1.unionByName(day2).unionByName(day3).localCheckpoint()
      var seen = graft.dedup.UrlSeenSet.empty(s)
      val compaction = graft.core.CompactionPolicy(2)
      val scratch = graft.core.ScratchDirs.lease("graft-recrawl-refresh-")
      try {
        val ledger = (0 until 5).map { k =>
          // ONE index probe and ONE materialization per batch (r19,
          // guide §1.4): the new-URL/changed-content split is a per-row
          // predicate of the content-aware join itself
          // ([[graft.dedup.UrlSeenSet.filterNewFlagged]] — flag = "URL
          // pair unseen", exactly the old URL-only anti-join's
          // membership), so the separate URL-only probe (a second full
          // scan of batch AND index per batch) is gone, and the batch
          // count + kept count + flag total all ride the fresh frame's
          // checkpoint job. Was: batch cp + count, anti-join count,
          // fresh cp + count = 5 jobs and 2 index probes per batch.
          val obsB = new graft.core.Durable.RowCount
          val obsF = org.apache.spark.sql.Observation()
          val batch = obsB.on(all.filter(col("batch") === k))
          val fresh = graft.dedup.UrlSeenSet
            .filterNewFlagged(batch, "url", "text", seen)
            .observe(obsF, count(lit(1)).as("n"),
              coalesce(sum(when(col(graft.dedup.UrlSeenSet.newUrlFlag), 1L)
                .otherwise(0L)), lit(0L)).as("new_url"))
            .localCheckpoint()
          val (nBatch, nKept, nNewUrl) = (obsB.n,
            graft.core.Durable.metric(obsF.get, "n"),
            graft.core.Durable.metric(obsF.get, "new_url"))
          seen = graft.dedup.UrlSeenSet.extend(
            seen, fresh.drop(graft.dedup.UrlSeenSet.newUrlFlag), "url", "text")
          seen = compaction.maybe(k.toLong, seen)(
            graft.dedup.UrlSeenSet.compact(_, s"$scratch/seen_$k"))
          (k.toLong, nBatch, nNewUrl, nKept - nNewUrl, nKept)
        }
        // driver-held seq — nothing reads scratch after the release below
        s.createDataset(ledger)
          .toDF("batch", "n_batch", "n_new_url", "n_changed", "n_kept")
          .orderBy(col("batch"))
      } finally graft.core.ScratchDirs.release(scratch)
    },

    // THE PRODUCTION CRAWL LOOP, whole — every ingestion operator the
    // r11–r14 rounds built, composed into ONE rolling run: ten
    // driver-staged micro-batch drains (the q232 checkpoint-RESUME
    // pattern — 8 day-1 crawl shards, then 2 day-2 recrawl shards) flow
    // through the streamed WARC front door → HTML extraction → host
    // enrichment (doc_id % 6 over [[DomainHosts]], standing in for real
    // host diversity) + planted dirty-URI noise (doc_id % 7 = 0) →
    // DOMAIN blocklist kill (tracker.net, [[Domains.filterBlocked]]) →
    // robots.txt POLITENESS gate ([[RobotsTxt]] — two planted robots
    // bodies parsed once, applied per batch: shop.example.co.uk
    // disallows /doc/1*, cdn.example.com disallows /page — the latter
    // bites only the day-2 re-published batch) →
    // within-batch canonical-URL dedup → the rolling CROSS-BATCH URL
    // seen-set ([[graft.dedup.UrlSeenSet]]; day-2 shard 8 re-fetches
    // shard-1 URIs and dies here WHOLE) → the rolling MinHash text index
    // ([[graft.dedup.IncrementalIngest.cycle]] + extendIndex; day-2
    // shard 9 re-publishes shard-5 pages under NEW /page/ URIs: its
    // robots-allowed remainder passes every URL stage and dies at the
    // text stages — the doc_id % 40 = 5 cohort ONLY against day-1
    // survivors, i.e. only a grown index kills it) — with BOTH indexes
    // compacted every third drain (compactIndex/compact: the
    // maintenance step, invisible by frame equality). The oracle
    // recomputes the entire ten-batch frontier relationally: per-batch
    // arrivals, domain and robots kills, canonical classes,
    // first-batch-wins URL novelty, and the q231-style unrolled rolling
    // dedup (corpus_k = base ∪ survivors of batches < k).
    //
    // 100 TB shape: this IS the deployment loop — daily drops drain from
    // a watched prefix at one cap-bounded record of memory per task,
    // every stage costs ∝ the drop (domain/URL kills are scan-side or
    // skinny anti-joins BEFORE any text work), the two rolling indexes
    // grow by survivors only, and compaction bounds their lineage.
    "q242_crawl_loop_rolling" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.Trigger
      val crawl = materializeCrawl(s, dir)
      val recrawl = materializeRecrawl(s, dir)
      val corpus0 = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 =!= 0)
      val indexRef = new java.util.concurrent.atomic.AtomicReference(
        graft.dedup.MinHashDedup.buildIndex(corpus0, "doc_id", "text"))
      val seenRef = new java.util.concurrent.atomic.AtomicReference(
        graft.dedup.UrlSeenSet.empty(s))
      // the politeness rules, parsed ONCE from planted robots bodies and
      // applied to every drain (rules are per-host and tiny — broadcast)
      val robotsRules = RobotsTxt.parseRules(
        Seq(("shop.example.co.uk", "User-agent: *\nDisallow: /doc/1\n"),
            ("cdn.example.com", "User-agent: *\nDisallow: /page\n"))
          .toDF("host", "body"),
        "host", "body").localCheckpoint()
      val ledger = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Long, Long, Long, Long, Long, Long, Long, Long)]()
      val compaction = graft.core.CompactionPolicy(3)
      val scratch = graft.core.ScratchDirs.lease("graft-crawl-loop-")
      try {
        val inDir = new java.io.File(s"$scratch/in"); inDir.mkdirs(): Unit
        val ckptDir = s"$scratch/ckpt"
        def shardFiles(d: String): Seq[java.io.File] =
          new java.io.File(d).listFiles().toSeq
            .filter(_.getName.matches("shard-\\d+\\.warc(\\.gz)?"))
            .sortBy(_.getName.replaceAll("[^0-9]", "").toInt)
        val staged = shardFiles(crawl) ++ shardFiles(recrawl)
        require(staged.size == 10, s"expected 10 shard files, got ${staged.size}")
        // day-2 shard 8 re-fetches shard-1 docs; shard 9 shard-5 docs
        def expectCohort(ord: Int): Long =
          if (ord <= 7) ord.toLong else if (ord == 8) 1L else 5L
        staged.zipWithIndex.foreach { case (f, ord) =>
          java.nio.file.Files.copy(f.toPath,
            new java.io.File(inDir, f.getName).toPath): Unit
          val q = WarcShards.readRecordsStream(s, inDir.getAbsolutePath)
            .where(col("http_status") === 200)
            .select(col("target_uri").as("uri"),
              col("body").cast("string").as("html"))
            .writeStream
            .foreachBatch { (batch0: DataFrame, _: Long) =>
              {
                val sp = batch0.sparkSession
                import sp.implicits._
                // no checkpoint here: `noisy`'s localCheckpoint below is
                // the one materialization of this micro-batch (the union
                // branches re-scan the tiny in-flight batch, which is
                // cheaper than a second materialization job per drain)
                val b0 = batch0
                val idEx = regexp_extract(
                  col("uri"), "/(?:doc|page)/([0-9]+)$", 1).cast("long")
                val base = b0.select(
                  idEx.as("src"),
                  when(col("uri").contains("/page/"), idEx + 9000000L)
                    .otherwise(idEx).as("bid"),
                  regexp_replace(col("uri"), "^http://example\\.com", "")
                    .as("path"),
                  col("html"))
                val hostv = element_at(
                  array(DomainHosts.map(lit(_)): _*),
                  (col("src") % 6 + 1).cast("int"))
                val clean = base.select(col("bid"), col("src"), col("path"),
                  col("html"),
                  concat(lit("http://"), hostv, col("path")).as("uri2"))
                // ALL stage counts ride ONE materialization job per
                // drain via Dataset.observe (one CollectMetrics node per
                // gate level): the batch count + cohort set, the domain/
                // robots/canonical/novelty counts — every gate is a
                // filter, and filters cannot push through an observe, so
                // each level's count stays exact while the whole
                // batch→gates→extraction chain materializes in one job
                // (guide §1.4/§2.3; r18 had a separate batch checkpoint
                // — one extra full materialization of the drop per
                // drain — and r17 had 5 count jobs + 3 intermediate
                // checkpoints).
                val obsB = org.apache.spark.sql.Observation()
                val Seq(obsDom, obsRob, obsUrl, obsNew) =
                  Seq.fill(4)(new graft.core.Durable.RowCount)
                val noisy = clean.select("bid", "src", "uri2", "html")
                  .unionByName(clean.filter(col("src") % 7 === 0)
                    .select(col("bid"), col("src"),
                      concat(lit("HTTP://"), upper(hostv), lit(":80"),
                        col("path"), lit("?utm_source=feed#frag")).as("uri2"),
                      col("html")))
                  .observe(obsB, count(lit(1)).as("n"),
                    collect_set(col("src") % 8).as("cohorts"))
                // URL-only gates FIRST, extraction on the survivors
                // only (the loop's r18 discipline: the drop's most
                // expensive kernel must not run on rows the domain
                // blocklist or robots verdict is about to throw away).
                // Gates are filters: a CollectMetrics node at each gate
                // level keeps the counts exact (filters do not push
                // through an observe), while the whole gated chain
                // materializes in ONE job.
                val domKept = obsDom.on(graft.sources.Domains.filterBlocked(
                    noisy, "uri2", Seq("tracker.net")))
                val robKept = obsRob.on(RobotsTxt.filterAllowed(
                    domKept, "uri2", robotsRules, "graftbot")
                  .withColumn("text", call_function("graft_html_text",
                    col("html"), lit(20), lit(33)))
                  .drop("html"))
                val urlDeduped = obsUrl.on(graft.dedup.ExactDedup.keepFirst(
                    robKept.withColumn("canon", UrlOps.canonicalize(col("uri2"))),
                    Seq("canon"), Seq(col("uri2"))))
                val fresh = obsNew.on(graft.dedup.UrlSeenSet.filterNew(
                    urlDeduped, "canon", seenRef.get))
                  .localCheckpoint()
                val nBatch = graft.core.Durable.metric(obsB.get, "n")
                // An AvailableNow empty timeout batch reads nBatch = 0
                // from the same observe (absent metrics ≡ 0) and skips
                // here: the empty gate chain materializes near-free,
                // where the old separate isEmpty probe paid one extra
                // job per REAL drain (§1.4).
                if (nBatch > 0) {
                  val cohorts = obsB.get.get("cohorts")
                    .map(_.asInstanceOf[scala.collection.Seq[Long]])
                    .getOrElse(Seq.empty[Long])
                  require(cohorts.length == 1 && cohorts.head == expectCohort(ord),
                    s"drain $ord: expected cohort ${expectCohort(ord)}, got " +
                      cohorts.sorted.mkString(","))
                  val (nDom, nRob, nUrl, nNew) = (obsDom.n, obsRob.n, obsUrl.n, obsNew.n)
                  // the seen-set delta is a projection of the ALREADY
                  // checkpointed gated frame — extendBounded skips the
                  // delta's own materialization job per drain (§1.4)
                  seenRef.set(graft.dedup.UrlSeenSet.extendBounded(
                    seenRef.get, fresh, "canon"))
                  val row =
                    if (nNew > 0) {
                      val (_, c, ext) = graft.dedup.IncrementalIngest
                        .cycleWithExtension(
                          indexRef.get,
                          fresh.select(col("bid").as("doc_id"), col("text")),
                          "doc_id", "text")
                      indexRef.set(graft.dedup.MinHashDedup.extendWith(
                        indexRef.get, ext))
                      (ord.toLong, nBatch, nDom, nRob, nUrl,
                        c(0), c(1), c(2), c(3))
                    } else (ord.toLong, nBatch, nDom, nRob, nUrl, 0L, 0L, 0L, 0L)
                  ledger.add(row): Unit
                  // index maintenance, live in the loop (reads precede
                  // the scratch release below) — one CompactionPolicy
                  // drives BOTH rolling indexes; the two compactions
                  // touch independent state, so they overlap
                  // ([[graft.core.Overlap]]): a compaction drain costs
                  // ~the larger write instead of the sum of both
                  val idx = graft.core.Overlap.start(
                    compaction.maybe(ord.toLong, indexRef.get)(
                      graft.dedup.MinHashDedup.compactIndex(_, s"$scratch/idx_$ord")))
                  val seen = graft.core.Overlap.start(
                    compaction.maybe(ord.toLong, seenRef.get)(
                      graft.dedup.UrlSeenSet.compact(_, s"$scratch/seen_$ord")))
                  graft.core.Overlap.awaitAll(Seq(idx, seen))
                  indexRef.set(idx.join())
                  seenRef.set(seen.join())
                }
              }
            }
            .option("checkpointLocation", ckptDir)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        val rows = {
          val it = ledger.iterator()
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
          while (it.hasNext) buf += it.next()
          buf.toSeq
        }
        require(rows.size == 10, s"expected 10 drained batches, got ${rows.size}")
        // driver-held seq — nothing reads scratch after the release below
        s.createDataset(rows)
          .toDF("ord", "n_batch", "n_after_domain", "n_after_robots",
            "n_after_url", "n_new_url", "n_after_exact", "n_after_intra",
            "n_survivors")
          .orderBy(col("ord"))
      } finally graft.core.ScratchDirs.release(scratch)
    },

    // robots.txt POLITENESS gate ([[RobotsTxt]], RFC 9309) — the other
    // URL-side kill a real crawler runs beside the domain blocklist:
    // six per-host robots BODIES (comments, CRLF, mixed-case keys, the
    // empty-Disallow allow-all idiom, an unknown Crawl-delay directive,
    // multi-group files) are PARSED in-query, then every candidate URL
    // gets the RFC verdict for agent "GraftBot": specific-agent group
    // beats *, longest prefix wins, allow wins length ties, no match →
    // allowed. The oracle declares the expected rule rows directly and
    // recomputes group selection + longest-match relationally — parser
    // and verdict engine must both be exact for the hash to land.
    "q243_robots_filter" -> { (s, dir) =>
      import s.implicits._
      val hostsLower = DomainHosts.map(_.toLowerCase(java.util.Locale.ROOT))
      val bodies = Seq(
        (hostsLower(0),
          "# site robots\nUser-Agent: *\nDisallow: /private\nAllow: /private/doc\n"),
        (hostsLower(1),
          "User-agent: graftbot\nDisallow: /doc\nUser-agent: *\nDisallow:\n"),
        (hostsLower(2), "User-agent: *\nDisallow:\nCrawl-delay: 10\n"),
        (hostsLower(3), "User-agent: *\r\nDisallow: /doc/1\r\n"),
        (hostsLower(4), "User-agent: *\nDisallow: / # deny all\n"),
        (hostsLower(5),
          "User-agent: OtherBot\nAllow: /\nUser-agent: *\nDisallow: /\n")
      ).toDF("host", "body")
      val rules = RobotsTxt.parseRules(bodies, "host", "body")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val host = element_at(
        array(hostsLower.map(lit(_)): _*), (col("doc_id") % 6 + 1).cast("int"))
      val urls = d.select(col("doc_id"), lit("doc").as("kind"),
          concat(lit("https://"), host, lit("/doc/"), id).as("url"))
        .unionByName(d.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), lit("priv_doc").as("kind"),
            concat(lit("https://"), host, lit("/private/doc/"), id).as("url")))
        .unionByName(d.filter(col("doc_id") % 3 === 1)
          .select(col("doc_id"), lit("priv_data").as("kind"),
            concat(lit("https://"), host, lit("/private/data/"), id).as("url")))
      RobotsTxt.verdicts(urls, "url", rules, "GraftBot")
        .select(col("doc_id"), col("kind"), col("allowed"))
        .orderBy(col("doc_id"), col("kind"))
    },

    // FRONTIER DISCOVERY ([[HtmlLinks]]) — the step that turns the
    // crawl loop into a crawler: every fetched page's `<a href>`
    // references are extracted, RESOLVED against the page URI (RFC
    // 3986), canonicalized, aggregated per target, and anti-joined
    // against the fetched set — the survivors are the next drain's
    // fetch list. Runs over the REAL staged WARC crawl: the page
    // template's nav/footer links (`/`, `/l/<lang>`, `/s`, `/p`, `/n`)
    // are what extraction must recover from the raw bytes. The oracle
    // chains all three SQL mirrors — extractSql over the rebuilt page
    // html, resolveSql, canonicalizeSql — so parser, resolver and
    // canonicalizer must each be exact for the hash to land.
    //
    // 100 TB shape: discovery is row-local string work inside codegen
    // (one regex scan per page, a fixed resolve expression tree); the
    // only shuffles are the frontier-sized count aggregation and the
    // anti-join against the seen side — both ∝ links, never the corpus.
    "q248_link_frontier" -> { (s, dir) =>
      val crawl = materializeCrawl(s, dir)
      val pages = WarcShards.readRecords(s, crawl)
        .where(col("http_status") === 200)
        .select(col("target_uri").as("base"), col("body").cast("string").as("html"))
      // pages declaring <base href> (r15 verdict #4): every relative
      // reference rebases onto the declared base, not the page URI —
      // one cohort's closed-form pages carry an absolute <base> plus a
      // relative AND an absolute-path ref (the two resolve branches
      // the rebase changes)
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val basePages = d.filter(col("doc_id") % 5 === 0).select(
        concat(lit("http://example.com/bp/"), id).as("base"),
        concat(
          lit("<html><head><base href=\"https://static.example.net/lib/\">" +
            "</head><body><a href=\"x/"), id,
          lit("\">a</a> <a href='/abs/"), id,
          lit("'>b</a></body></html>")).as("html"))
      val all = pages.unionByName(basePages)
      val links = all
        .select(HtmlLinks.effectiveBase(col("base"), col("html")).as("eb"),
          explode(HtmlLinks.extract(col("html"))).as("ref"))
        .select(UrlOps.canonicalize(
          HtmlLinks.resolve(col("eb"), col("ref"))).as("target"))
      val fetched = all
        .select(UrlOps.canonicalize(col("base")).as("target")).distinct()
      links.groupBy(col("target"))
        .agg(count(lit(1)).as("n_refs"))
        .join(fetched, Seq("target"), "left_anti")
        .orderBy(col("target"))
    },

    // HOST-LEVEL LINK GRAPH → PageRank — the Common-Crawl-style domain
    // authority signal curation pipelines join as a quality feature:
    // synthetic cross-host pages (closed-form from documents — each
    // cohort links to its +1 and +3 neighbor hosts, plus every non-hub
    // cohort links to the hub, making the graph irregular) flow through
    // [[HtmlLinks.extract]]/[[resolve]] (absolute AND protocol-relative
    // forms) → host edges → symmetric closure (q141's mass-conservation
    // recipe) → the existing [[graft.operators.PageRank]] for 3
    // DECIMAL-exact iterations → per-host rank. Hosts become long ids
    // by xxhash64 for the rank loop and join back for the report; rank
    // values are id-agnostic, so the oracle replays the iterations
    // keyed by the host STRING over the same closed-form edge set.
    "q249_link_graph" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      def h(off: Int) = element_at(
        array(DomainHosts.map(lit(_)): _*),
        ((col("doc_id") + off) % 6 + 1).cast("int"))
      val base = concat(lit("https://"), h(0), lit("/doc/"),
        col("doc_id").cast("string"))
      val hub = DomainHosts.head
      val html = concat(
        lit("<html><body><p>see <a href=\"https://"), h(1), lit("/doc/"),
        ((col("doc_id") * 7) % 97).cast("string"),
        lit("\">a</a> and <a href='//"), h(3), lit("/p/"),
        col("doc_id").cast("string"),
        lit("'>b</a> and <a href=\"https://" + hub +
          "/\">hub</a></p></body></html>"))
      val links = d.select(base.as("base"), html.as("html"))
        .select(col("base"), explode(HtmlLinks.extract(col("html"))).as("ref"))
      val hostPairs = links.select(
          UrlOps.host(col("base")).as("src"),
          UrlOps.host(HtmlLinks.resolve(col("base"), col("ref"))).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val edges0 = hostPairs
        .unionByName(hostPairs.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .localCheckpoint()
      val dim = edges0.select(col("src").as("host"))
        .unionByName(edges0.select(col("dst").as("host")))
        .distinct()
        .withColumn("id", xxhash64(col("host")))
        .localCheckpoint()
      val e = edges0.select(
        xxhash64(col("src")).as("src"), xxhash64(col("dst")).as("dst"))
      graft.operators.PageRank.run(e, iterations = 3)
        .join(dim, Seq("id"))
        .select(col("host"), round(col("rank"), 6).as("rank"))
        .orderBy(col("host"))
    },

    // CRAWL-DELAY POLITENESS BUDGET ([[RobotsTxt.parseDelays]] /
    // [[delayFor]] / [[CrawlBudget.cap]]) — the scheduling stage
    // between frontier discovery and the next drain: per-host
    // Crawl-delay directives (agent-specific group beating `*`, a junk
    // value ignored, an absent robots file and a wrong-agent group both
    // falling to the default) become floor(horizon/delay) quotas, and
    // the frontier is capped per host with the skew-safe two-phase
    // rank. The oracle declares the expected quotas from the planted
    // bodies and recomputes candidates/kept relationally.
    "q250_crawl_budget" -> { (s, dir) =>
      import s.implicits._
      val hostsLower = DomainHosts.map(_.toLowerCase(java.util.Locale.ROOT))
      val bodies = Seq(
        (hostsLower(0), "User-agent: *\nCrawl-delay: 2\n"),
        (hostsLower(1), "User-agent: GraftBot\nCrawl-delay: 10\nDisallow:\n" +
          "User-agent: *\nCrawl-delay: 1\n"),
        (hostsLower(2), "User-agent: *\nCrawl-delay: 0.5\n"),
        (hostsLower(3), "User-agent: *\nCrawl-delay: abc\n"),
        // hostsLower(4) publishes no robots file at all
        (hostsLower(5), "User-agent: OtherBot\nCrawl-delay: 1\n")
      ).toDF("host", "body")
      val delays = RobotsTxt.delayFor(
        RobotsTxt.parseDelays(bodies, "host", "body"), "GraftBot")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val host = element_at(
        array(hostsLower.map(lit(_)): _*), (col("doc_id") % 6 + 1).cast("int"))
      val f = d.select(concat(lit("https://"), host, lit("/doc/"),
        col("doc_id").cast("string")).as("url")).localCheckpoint()
      val kept = CrawlBudget.cap(f, "url", delays,
        horizonSeconds = 60.0, defaultDelaySeconds = 5.0)
      val cand = f.select(UrlOps.host(col("url")).as("host"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_candidates"))
      val k = kept.select(UrlOps.host(col("url")).as("host"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_kept"))
      cand.join(k, Seq("host")).orderBy(col("host"))
    },

    // PRIORITY-ordered politeness budget — crawl-VALUE scheduling: when
    // a host's frontier exceeds its quota, the HIGHEST-priority URLs
    // (a domain-rank or quality score joined upstream; here a planted
    // closed-form priority) win the slots, URL as the deterministic
    // tie-break. Zero-padded ids make the tie-break order identical in
    // both engines; the oracle replays the per-host rank relationally.
    "q251_frontier_priority" -> { (s, dir) =>
      import s.implicits._
      val hostsLower = DomainHosts.map(_.toLowerCase(java.util.Locale.ROOT))
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val host = element_at(
        array(hostsLower.map(lit(_)): _*), (col("doc_id") % 6 + 1).cast("int"))
      val f = d.select(
        concat(lit("https://"), host, lit("/doc/"),
          lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
        ((col("doc_id") * 7) % 101).cast("long").as("priority"))
        .localCheckpoint()
      val delays = Seq((hostsLower(0), 6.0), (hostsLower(1), 3.0))
        .toDF("host", "delay_seconds")
      val kept = CrawlBudget.cap(f, "url", delays,
        horizonSeconds = 60.0, defaultDelaySeconds = 5.0,
        priorityCol = Some("priority"))
      val cand = f.select(UrlOps.host(col("url")).as("host"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_candidates"))
      val k = kept.select(UrlOps.host(col("url")).as("host"), col("priority"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("priority")).as("sum_kept_priority"))
      cand.join(k, Seq("host")).orderBy(col("host"))
    },

    // SITEMAP SEEDING ([[RobotsTxt.sitemapRefs]] + [[Sitemaps.urls]]) —
    // the frontier's other source: robots bodies ADVERTISE sitemaps
    // (host-wide, group-independent, one with an inline comment),
    // closed-form urlset XML bodies stand in for the fetched documents
    // (case-mangled hosts, XML-entity-escaped query strings, padded
    // <loc> whitespace, a tracking param, a cross-host spam sitemap
    // listing a blocked domain), and the listed URLs canonicalize and
    // pass the domain + seen-set gates into per-host seed counts. The
    // entity decode is load-bearing: the seen-set stores the DECODED
    // canonical form, so a wrong unescape breaks the kill counts.
    "q252_sitemap_seed" -> { (s, dir) =>
      import s.implicits._
      val hostsLower = DomainHosts.map(_.toLowerCase(java.util.Locale.ROOT))
      val robots = Seq(
        (hostsLower(0), "User-agent: *\nDisallow: /x\nSitemap: https://" +
          hostsLower(0) + "/sitemap.xml # main\n"),
        (hostsLower(1), "Sitemap: https://" + hostsLower(1) +
          "/sm/a.xml\nUser-agent: *\nDisallow:\nSitemap: https://" +
          hostsLower(1) + "/sm/b.xml\n")
      ).toDF("host", "body")
      val refs = RobotsTxt.sitemapRefs(robots, "host", "body")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val entries = d.filter(col("doc_id") % 3 === 0)
        .select(lit(s"https://${hostsLower(0)}/sitemap.xml").as("sm"),
          concat(lit("<url><loc>https://WWW.Example.COM/doc/"), id,
            lit("?a=1&amp;b=2</loc></url>")).as("entry"))
        .unionByName(d.filter(col("doc_id") % 3 === 1)
          .select(lit(s"https://${hostsLower(1)}/sm/a.xml").as("sm"),
            concat(lit("<url><loc> https://" + hostsLower(1) + "/doc/"), id,
              lit("?utm_source=sm </loc></url>")).as("entry")))
        .unionByName(d.filter(col("doc_id") % 3 === 2)
          .select(lit(s"https://${hostsLower(1)}/sm/b.xml").as("sm"),
            concat(lit("<url><loc>https://ads.tracker.net/doc/"), id,
              lit("</loc></url>")).as("entry")))
      val bodies = entries.groupBy(col("sm"))
        .agg(concat(lit("<urlset>"),
          concat_ws("", collect_list(col("entry"))), lit("</urlset>")).as("xml"))
      // only ADVERTISED sitemaps are fetched and parsed
      val listed = refs.join(bodies, col("sitemap_url") === col("sm"))
        .select(explode(Sitemaps.urls(col("xml"))).as("u"))
        .select(UrlOps.canonicalize(col("u")).as("url"))
        .localCheckpoint()
      val seen = graft.dedup.UrlSeenSet.build(
        d.filter(col("doc_id") % 6 === 0)
          .select(concat(lit("https://www.example.com/doc/"), id,
            lit("?a=1&b=2")).as("canon")),
        "canon")
      val gated = graft.dedup.UrlSeenSet.filterNew(
        Domains.filterBlocked(listed, "url", Seq("tracker.net")),
        "url", seen)
      val l = listed.groupBy(UrlOps.host(col("url")).as("host"))
        .agg(count(lit(1)).as("n_listed"))
      val g = gated.groupBy(UrlOps.host(col("url")).as("host"))
        .agg(count(lit(1)).as("n_seeded"))
      l.join(g, Seq("host"), "left")
        .select(col("host"), col("n_listed"),
          coalesce(col("n_seeded"), lit(0L)).as("n_seeded"))
        .orderBy(col("host"))
    },

    // TWO-LEVEL sitemap resolution — how large sites actually publish:
    // robots advertises ONE <sitemapindex>, whose <loc> entries name
    // child <urlset> sitemaps (one listed child is never fetched — the
    // join drops it, the operator does not invent bodies), and the
    // children's <loc> entries are the page URLs. [[Sitemaps.urls]]
    // runs at BOTH levels (its body-agnostic contract); per-child URL
    // and canonical counts, closed-form oracle.
    "q253_sitemap_index" -> { (s, dir) =>
      import s.implicits._
      val h0 = DomainHosts.head.toLowerCase(java.util.Locale.ROOT)
      val robots = Seq((h0,
        s"User-agent: *\nDisallow:\nSitemap: https://$h0/sitemap_index.xml\n"))
        .toDF("host", "body")
      val refs = RobotsTxt.sitemapRefs(robots, "host", "body")
      val indexXml = Seq((s"https://$h0/sitemap_index.xml",
        (0 to 2).map(k => s"<sitemap><loc>https://$h0/sm/$k.xml</loc></sitemap>")
          .mkString("<sitemapindex>", "",
            s"<sitemap><loc>https://$h0/sm/missing.xml</loc></sitemap>" +
              "</sitemapindex>"))).toDF("sm", "xml")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val childBodies = d
        .select(concat(lit(s"https://$h0/sm/"),
            (col("doc_id") % 3).cast("string"), lit(".xml")).as("sm"),
          concat(lit(s"<url><loc>https://$h0/doc/"), id,
            lit("</loc></url>")).as("entry"))
        .groupBy(col("sm"))
        .agg(concat(lit("<urlset>"),
          concat_ws("", collect_list(col("entry"))), lit("</urlset>")).as("xml"))
      val children = refs.join(indexXml, col("sitemap_url") === col("sm"))
        .select(explode(Sitemaps.urls(col("xml"))).as("child"))
      val pages = children.join(childBodies, col("child") === col("sm"))
        .select(col("child").as("sitemap"),
          explode(Sitemaps.urls(col("xml"))).as("u"))
      pages.groupBy(col("sitemap"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(UrlOps.canonicalize(col("u"))).as("n_canon"))
        .orderBy(col("sitemap"))
    },

    // REDIRECT HARVEST ([[RedirectEdges]]) — 3xx responses carry the
    // crawl's cheapest frontier signal: the Location header IS the next
    // fetch. Over REAL staged WARC shards (plain + per-record gzip, the
    // headers surfaced by the reader's one framing pass): planted
    // 301/302 chains per doc_id % 4 cohort — a 1-hop redirect to an
    // ALREADY-FETCHED URL (the base crawl's /doc/<id>, killed at the
    // fetched side), a 2-hop chain to a new URL, a cross-host absolute
    // Location, and a 2-cycle that must drop whole. Per-cohort chain
    // counts, hop totals, and how many land on unseen targets; the
    // oracle recomputes all of it closed-form from documents.
    //
    // 100 TB shape: edges are 3xx-sized (a slice of the drain), chain
    // resolution is maxHops small self-joins, the seen probe one
    // anti-join — nothing touches the corpus.
    "q254_redirect_edges" -> { (s, dir) =>
      val crawl = materializeCrawl(s, dir)
      val redirs = materializeRedirects(s, dir)
      val recs = WarcShards.readRecords(s, redirs)
      val chains = RedirectEdges.resolveChains(
        RedirectEdges.edges(recs), maxHops = 4)
      val fetched = WarcShards.readRecords(s, crawl)
        .where(col("http_status") === 200)
        .select(UrlOps.canonicalize(col("target_uri")).as("t")).distinct()
      chains
        .withColumn("cohort",
          regexp_extract(col("src"), "/(?:r|m|c)/([0-9]+)$", 1)
            .cast("long") % 4)
        .join(fetched,
          UrlOps.canonicalize(col("final_dst")) === col("t"), "left")
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_chains"),
          sum(col("hops")).cast("long").as("sum_hops"),
          sum(when(col("t").isNull, 1L).otherwise(0L)).as("n_unseen"))
        .orderBy(col("cohort"))
    },

    // ROBOTS META / X-Robots-Tag / rel=nofollow
    // ([[HtmlLinks.metaRobots]] / [[hasRobotsDirective]] /
    // [[scopedDirectives]] / [[extractFollowable]]) — the in-page and
    // in-header robots directives a real crawler honors beyond
    // robots.txt. Meta cohort by doc_id % 4 ("index, follow" /
    // "noindex" / SPLIT-META "nofollow" beside a second robots meta
    // carrying "noarchive" (the union trap: honoring only the FIRST
    // tag loses the nofollow when tag order flips — planted
    // noarchive-first — and `none`-implies must NOT fire for
    // noarchive) / "none" ≡ noindex,nofollow), an X-Robots-Tag cohort
    // by doc_id % 5 (0 = generic "noindex"; 1 = "googlebot: noindex"
    // — ANOTHER crawler's opt-out, ignored for graftbot; 2 =
    // "graftbot: noindex" — our own scoped form, honored), and anchor
    // cohorts by parity: evens plant a QUOTED rel=nofollow, an
    // UNQUOTED rel=nofollow (valid HTML — must drop), and a
    // rel="nofollowme" (substring trap — must keep); odds a
    // rel=sponsored. The oracle restates every flag and count
    // closed-form.
    "q266_robots_meta" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val c4 = col("doc_id") % 4
      val meta = when(c4 === 0, lit("<meta name=\"robots\" content=\"index, follow\">"))
        .when(c4 === 1, lit("<meta name=\"robots\" content=\"noindex\">"))
        .when(c4 === 2, lit("<meta content=\"noarchive\" name=\"robots\">" +
          "<meta name=\"robots\" content=\"nofollow\">"))
        .otherwise(lit("<meta name=\"robots\" content=\"none\">"))
      val anchors = when(col("doc_id") % 2 === 0, concat(
          lit("<a href=\"/p/"), id, lit("\">a</a><a href=\"/q/"), id,
          lit("\">b</a><a rel=\"nofollow\" href=\"/x/"), id,
          lit("\">c</a><a rel=nofollow href=\"/u/"), id,
          lit("\">e</a><a rel=\"nofollowme\" href=\"/v/"), id,
          lit("\">f</a>")))
        .otherwise(concat(
          lit("<a href=\"/p/"), id, lit("\">a</a><a href=\"/y/"), id,
          lit("\" rel=\"sponsored\">d</a>")))
      val html = concat(
        lit("<html><head>"), meta,
        lit("</head><body>"), anchors, lit("</body></html>"))
      val c5 = col("doc_id") % 5
      val xrt = when(c5 === 0, lit("noindex"))
        .when(c5 === 1, lit("googlebot: noindex"))
        .when(c5 === 2, lit("graftbot: noindex"))
        .otherwise(lit(null).cast("string"))
      val dirs = concat_ws(",",
        coalesce(HtmlLinks.scopedDirectives(col("xrt"), "graftbot"), lit("")),
        coalesce(HtmlLinks.metaRobots(col("html")), lit("")))
      d.select(col("doc_id"), html.as("html"), xrt.as("xrt"))
        .select(col("doc_id"),
          HtmlLinks.hasRobotsDirective(dirs, "noindex").as("noindex"),
          HtmlLinks.hasRobotsDirective(dirs, "nofollow").as("nofollow"),
          HtmlLinks.hasRobotsDirective(dirs, "noarchive").as("noarchive"),
          size(HtmlLinks.extract(col("html"))).cast("long").as("n_links"),
          size(HtmlLinks.extractFollowable(col("html"))).cast("long")
            .as("n_follow_links"))
        .orderBy(col("doc_id"))
    },

    // `rel=canonical` ALIASES ([[HtmlLinks.canonicalHref]]) — the
    // HTML-declared twin of the 3xx alias chain, by doc_id % 4 cohort:
    // an absolute canonical, a RELATIVE canonical resolving against a
    // `<base href>` (the trap: page-URI resolution mints the wrong
    // alias), the href-before-rel attribute order, and the
    // self-canonical no-op (the common case — excluded, it aliases
    // nothing). The oracle rebuilds the pages in SQL and runs the
    // DuckDB MIRRORS of the same extraction + base + resolution chain.
    "q265_canonical_alias" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val uri = concat(lit("http://example.com/doc/"), id)
      val c4 = col("doc_id") % 4
      val linkTag = when(c4 === 0, concat(
          lit("<link rel=\"canonical\" href=\"https://canon.example.com/c/"),
          id, lit("\">")))
        .when(c4 === 1, concat(
          lit("<base href=\"https://base.example.org/dir/\">" +
            "<link rel=\"canonical\" href=\"../c/"), id, lit("\">")))
        .when(c4 === 2, concat(
          lit("<link href=\"/alt/"), id, lit("\" rel=\"canonical\">")))
        .otherwise(concat(
          lit("<link rel=\"canonical\" href=\"/doc/"), id, lit("\">")))
      val html = concat(lit("<html><head><title>t</title>"), linkTag,
        lit("</head><body><p>x</p></body></html>"))
      // two materialized steps: the html regexes (extraction + base)
      // run ONCE per row, then the resolve when-tree — whose branch
      // expansion references its inputs ~6× — reads the cheap
      // materialized columns instead of re-running the html regexes
      // multiplicatively (measured 13 s → ~1 s at sf0.1)
      d.select(col("doc_id"), uri.as("src"),
          HtmlLinks.canonicalHref(html).as("raw"),
          HtmlLinks.effectiveBase(uri, html).as("base"))
        .localCheckpoint()
        .select(col("doc_id"), col("src"),
          HtmlLinks.resolve(col("base"), col("raw")).as("canonical"))
        .where(col("canonical").isNotNull && col("canonical") =!= col("src"))
        .orderBy(col("doc_id"))
    },

    // SELF-HOSTED ROBOTS ROLL ([[RobotsTxt.fetchesIn]] + [[rollBodies]]
    // + the RFC 9309 §2.3.1.4 server-error latch [[answersIn]] /
    // [[rollErrors]] / [[withErrorDisallow]]) — the rules table derived
    // from the crawl's OWN /robots.txt fetches, rolled latest-fetch-wins
    // across nine drains: day 1 plants permissive bodies for two hosts,
    // day 2 REPLACES host A's body (Disallow switches from /priv to
    // /doc — the same drain's fetch list must flip), day 3 shuts host B
    // down entirely, day 4 carries a REVISIT capture of host A's robots
    // (header-only 200, EMPTY body — the fetcher's byte-identical
    // dedup, the refresh crawl's common case) which must NOT erase A's
    // Disallow, day 5 a WARC-Truncated partial capture of A's robots
    // (permissive prefix of a stricter file) which must NOT roll
    // either; then the 5xx arc: day 6 A's robots answers 503 — the
    // CACHED rules keep applying (days 6 and 7, window = 2 drains) —
    // until day 8 crosses the window and A gates to COMPLETE DISALLOW
    // (its host row goes ABSENT, and the latch must REPLACE A's rules:
    // its old `Disallow: /doc` would otherwise leave /priv allowed),
    // and day 9's fresh permissive 200 clears the latch and rolls the
    // new body (allow-all). Each day's candidate URLs are judged under
    // the state AS OF that day; the oracle recomputes every (day, host)
    // allowed-count closed-form.
    "q255_robots_rolling" -> { (s, dir) =>
      import s.implicits._
      val h0 = "a.example.com"
      val h1 = "b.example.org"
      def fetchFrame(rows: Seq[(String, Int, String, String, Option[String])]) =
        rows.map { case (h, st, b, wt, tr) =>
          (s"http://$h/robots.txt", st, b.getBytes(StandardCharsets.UTF_8),
            wt, tr)
        }.toDF("target_uri", "http_status", "body", "warc_type", "truncated")
      val days = Seq(
        fetchFrame(Seq(
          (h0, 200, "User-agent: *\nDisallow: /priv\n", "response", None),
          (h1, 200, "User-agent: *\nDisallow:\n", "response", None))),
        fetchFrame(Seq(
          (h0, 200, "User-agent: *\nDisallow: /doc\n", "response", None))),
        fetchFrame(Seq(
          (h1, 200, "User-agent: *\nDisallow: /\n", "response", None))),
        // a revisit's envelope parses to 200 with an EMPTY body —
        // latest-wins would turn A's Disallow into allow-all
        fetchFrame(Seq((h0, 200, "", "revisit", None))),
        // a truncated capture carries a permissive PARTIAL rule set
        fetchFrame(Seq(
          (h0, 200, "User-agent: *\nDisallow:\n", "response", Some("length")))),
        // the server-error arc: a 503 answer (empty body — fetchesIn
        // ignores it, answersIn latches it) ...
        fetchFrame(Seq((h0, 503, "", "response", None))),
        // ... a quiet day inside the cached window ...
        fetchFrame(Nil),
        // ... a quiet day PAST the window (complete disallow) ...
        fetchFrame(Nil),
        // ... and the recovering permissive 200
        fetchFrame(Seq(
          (h0, 200, "User-agent: *\nDisallow:\n", "response", None))))
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val host = when(col("doc_id") % 2 === 0, lit(h0)).otherwise(lit(h1))
      val urls = d.select(col("doc_id"),
          concat(lit("http://"), host, lit("/doc/"), id).as("url"))
        .unionByName(d.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"),
            concat(lit("http://"), host, lit("/priv/"), id).as("url")))
        .localCheckpoint()
      var state = Seq.empty[(String, String)].toDF("host", "body")
      var errState = Seq.empty[(String, Double)].toDF("host", "err_since")
      val perDay = days.zipWithIndex.map { case (fetches, day) =>
        // checkpoint the rolled states every third day only: the
        // frames are two-host tiny and the roll plans nest shallowly,
        // so per-day materialization jobs dominate the query's cost
        // (the q264 checkpoint-halving lesson)
        def cp(df: org.apache.spark.sql.DataFrame) =
          if (day % 3 == 2) df.localCheckpoint() else df
        state = cp(RobotsTxt.rollBodies(state, RobotsTxt.fetchesIn(fetches)))
        errState = cp(RobotsTxt.rollErrors(errState,
          RobotsTxt.answersIn(fetches), day.toDouble))
        val rules = RobotsTxt.withErrorDisallow(
          RobotsTxt.parseRules(state, "host", "body"),
          errState, day.toDouble, cachedWindow = 2.0)
        RobotsTxt.verdicts(urls, "url", rules, "graftbot")
          .where(col("allowed"))
          .select(UrlOps.host(col("url")).as("host"))
          .groupBy(col("host"))
          .agg(count(lit(1)).as("n_allowed"))
          .select(lit(day).cast("long").as("crawl_day"), col("host"),
            col("n_allowed"))
      }
      perDay.reduce(_ unionByName _).orderBy(col("crawl_day"), col("host"))
    },

    // RANKED FRONTIER — crawl-value scheduling end to end: PageRank
    // over the q249-shaped host graph (+1/+3 neighbors, non-hub→hub,
    // symmetric closure) prices each host's authority, every frontier
    // URL inherits the rank of the host that DISCOVERED it, and
    // [[CrawlBudget.cap]] spends each target host's Crawl-delay quota
    // on the highest-rank recommendations first (URL tie-break,
    // zero-padded ids). Per-host kept counts and the kept-rank total;
    // the oracle replays the 3 DECIMAL-exact rank iterations keyed by
    // the host string, then the priority window relationally.
    "q256_ranked_frontier" -> { (s, dir) =>
      import s.implicits._
      val hostsLower = DomainHosts.map(_.toLowerCase(java.util.Locale.ROOT))
      // the q249 edge set, constructed directly (rank values are
      // id-agnostic, so they match the string-keyed oracle replay)
      val idx = (0 until 6)
      val f = idx.flatMap(i => Seq((i, (i + 1) % 6), (i, (i + 3) % 6))) ++
        idx.filter(_ != 0).map(i => (i, 0))
      val sym = (f ++ f.map(_.swap)).distinct.filter(p => p._1 != p._2)
      val edges = sym.map { case (a, b) => (hostsLower(a), hostsLower(b)) }
        .toDF("src_h", "dst_h")
      val dim = edges.select(col("src_h").as("host"))
        .unionByName(edges.select(col("dst_h").as("host")))
        .distinct().withColumn("id", xxhash64(col("host")))
        .localCheckpoint()
      val ranks = graft.operators.PageRank.run(
        edges.select(xxhash64(col("src_h")).as("src"),
          xxhash64(col("dst_h")).as("dst")), iterations = 3)
        .join(dim, Seq("id"))
        .select(col("host").as("src_host"), col("rank"))
        .localCheckpoint()
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val tHost = element_at(array(hostsLower.map(lit(_)): _*),
        (col("doc_id") % 6 + 1).cast("int"))
      val sHost = element_at(array(hostsLower.map(lit(_)): _*),
        ((col("doc_id") * 7 + 1) % 6 + 1).cast("int"))
      // per-URL provenance boost beside the host rank (the crawl
      // loop's tier protocol): doc_id % 11 = 0 marks the
      // sitemap-advertised cohort — same host, same rank, but the
      // site's own recommendation must win the quota window over a
      // deep outlink (+2.0, the loop's sitemap tier)
      val frontier = d.select(
          col("doc_id"),
          concat(lit("https://"), tHost, lit("/doc/"),
            lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
          sHost.as("src_host"))
        .join(broadcast(ranks), Seq("src_host"))
        .select(col("url"),
          (col("rank") + when(col("doc_id") % 11 === 0, 2.0)
            .otherwise(0.0)).as("priority"))
        .localCheckpoint()
      val delays = Seq((hostsLower(0), 6.0), (hostsLower(1), 3.0))
        .toDF("host", "delay_seconds")
      val kept = CrawlBudget.cap(frontier, "url", delays,
        horizonSeconds = 60.0, defaultDelaySeconds = 5.0,
        priorityCol = Some("priority"))
      val cand = frontier.select(UrlOps.host(col("url")).as("host"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_candidates"))
      val k = kept.select(UrlOps.host(col("url")).as("host"), col("priority"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_kept"),
          round(sum(col("priority")), 6).as("sum_kept_rank"))
      cand.join(k, Seq("host")).orderBy(col("host"))
    },

    // ADAPTIVE RE-CRAWL SCHEDULING ([[RecrawlSchedule]]) — WHEN to
    // refetch, from each URL's planted change history: churners
    // (hash changes every fetch) keep the base interval, static pages
    // back off exponentially, a mid-history change restarts the streak,
    // single observations carry no evidence. Fetch counts and change
    // patterns vary by doc_id cohorts; the oracle states every
    // streak/interval closed-form — no replay needed.
    "q257_recrawl_schedule" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val n = (col("doc_id") % 4 + 1).cast("int")
      val fetches = d
        .select(col("doc_id"), n.as("n"),
          explode(sequence(lit(0), n - 1)).as("k"))
        .select(col("doc_id"),
          concat(lit("http://example.com/doc/"),
            col("doc_id").cast("string")).as("url"),
          (col("doc_id") * 1000 + col("k") * 100).cast("double").as("t"),
          when(col("doc_id") % 3 === 0, lit(7L))
            .when(col("doc_id") % 3 === 1, col("k").cast("long"))
            .otherwise(when(col("k") < (col("n") / 2).cast("int"), lit(0L))
              .otherwise(lit(1L))).as("h"))
      RecrawlSchedule.schedule(fetches, "url", "t", "h",
          baseIntervalSeconds = 100.0, maxIntervalSeconds = 500.0)
        .select(
          regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("n_fetches"), col("unchanged_streak").cast("long")
            .as("unchanged_streak"),
          col("interval_seconds"), col("next_fetch"))
        .orderBy(col("doc_id"))
    },

    // REFRESH FRONTIER end to end — the ROLLING form of the schedule
    // ([[RecrawlSchedule.advance]]/[[due]], the crawl CLI's per-drain
    // path): fold q257's change cohorts drain by drain on a drain
    // clock, take the URLs DUE at clock 4, and spend each host's
    // Crawl-delay quota on the FRESHEST pages first (priority =
    // -interval: churners beat backed-off static pages). The fold ≡
    // schedule() equivalence is spec-pinned (RecrawlScheduleSpec);
    // here the oracle recomputes streaks closed-form per cohort, the
    // due filter, and the budget window relationally.
    //
    // 100 TB shape: the fold never shuffles the state (batch broadcast
    // into one inner + one anti join per drain), due is one state scan,
    // the cap is the q250 two-phase skew-safe window.
    "q258_refresh_frontier" -> { (s, dir) =>
      import s.implicits._
      val hostsLower = DomainHosts.map(_.toLowerCase(java.util.Locale.ROOT))
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val n = (col("doc_id") % 4 + 1).cast("int")
      val host = element_at(array(lit(hostsLower(0)), lit(hostsLower(1))),
        (col("doc_id") % 2 + 1).cast("int"))
      val fetches = d
        .select(col("doc_id"), n.as("n"),
          explode(sequence(lit(0), n - 1)).as("k"))
        .select(
          concat(lit("https://"), host, lit("/doc/"),
            lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
          col("k").cast("double").as("t"),
          when(col("doc_id") % 3 === 0, lit(7L))
            .when(col("doc_id") % 3 === 1, col("k").cast("long"))
            .otherwise(when(col("k") < (col("n") / 2).cast("int"), lit(0L))
              .otherwise(lit(1L))).as("h"))
        .localCheckpoint()
      val state = (0 until 4).foldLeft(RecrawlSchedule.emptyState(s)) {
        (st, k) => RecrawlSchedule.advance(st,
          fetches.where(col("t") === k.toDouble), "url", "t", "h")
          .localCheckpoint()
      }
      val due = RecrawlSchedule.due(state, asOf = 4.0,
        baseIntervalSeconds = 1.0, maxIntervalSeconds = 8.0)
      val delays = Seq((hostsLower(0), 6.0), (hostsLower(1), 3.0))
        .toDF("host", "delay_seconds")
      CrawlBudget.cap(
          due.withColumn("freshness", -col("interval_seconds")),
          "url", delays, horizonSeconds = 12.0, defaultDelaySeconds = 5.0,
          priorityCol = Some("freshness"))
        .select(
          regexp_extract(col("url"), "/doc/0*([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("n_fetches"), col("unchanged_streak").cast("long")
            .as("unchanged_streak"),
          col("interval_seconds"), col("next_fetch"))
        .orderBy(col("doc_id"))
    },

    // ERROR-STATUS FEEDBACK in the refresh loop
    // ([[RecrawlSchedule.advanceFailures]] / [[scheduleOf]]) — the
    // observations a refresh crawler gets when a refetch FAILS, folded
    // drain by drain beside the success path: a transient 503 backs
    // the URL off (and `Retry-After` floors the delay) but the next
    // generation still mints — the URL is NOT stalled; a later 200
    // clears the failure streak (and an unchanged body still grows the
    // unchanged streak); three consecutive failures ending in 404
    // tombstone the row out of `due` forever. Cohorts by doc_id % 6:
    //   0: 200 → 503(Retry-After: 4) → 200 unchanged   (recovered)
    //   1: 200 → 404 → 404 → 404                       (tombstoned)
    //   2: 200 → 503(Retry-After: 3)                   (RA floors delay)
    //   3: 200 → 503 → 200 CHANGED                     (streak reset)
    //   4: 200 → 404 → 404                             (2 strikes: alive)
    //   5: 200 → 503 (+500 w/ RA:7 same drain)         (plain backoff)
    // Two drains carry MIXED per-URL failures, collapsed to ONE
    // representative observation by [[RecrawlSchedule
    // .representativeFailures]] (the crawl loop's pre-fold step):
    // cohort 1's tombstoning drain also carries a 503 — the 404 must
    // win or the gone-latch never fires (independent max(status)
    // picks 503); cohort 5's drain pairs a 503 (no Retry-After) with
    // a 500 carrying Retry-After: 7 — the chosen 503's NULL RA must
    // ride along, not the other row's 7 (which would wrongly floor
    // next_fetch at 8 instead of 3).
    // The oracle restates every streak/interval/next-fetch closed-form.
    "q264_refetch_errors" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
        .localCheckpoint()
      val c6 = col("doc_id") % 6
      val url = concat(lit("http://example.com/doc/"),
        col("doc_id").cast("string"))
      val nullRa = lit(null).cast("double")
      val succ = d.select(url.as("url"), lit(0.0).as("t"), lit(1L).as("h"))
        .unionByName(d.filter(c6 === 0 || c6 === 3)
          .select(url.as("url"), lit(2.0).as("t"),
            when(c6 === 3, 2L).otherwise(1L).as("h")))
        .localCheckpoint()
      val fails = d
        .select(url.as("url"), lit(1.0).as("t"),
          when(c6.isin(1L, 4L), 404).otherwise(503).as("status"),
          when(c6 === 0, 4.0).when(c6 === 2, 3.0).otherwise(nullRa).as("ra"))
        .unionByName(d.filter(c6 === 5) // same-drain second failure
          .select(url.as("url"), lit(1.0).as("t"), lit(500).as("status"),
            lit(7.0).as("ra")))
        .unionByName(d.filter(c6.isin(1L, 4L))
          .select(url.as("url"), lit(2.0).as("t"), lit(404).as("status"),
            nullRa.as("ra")))
        .unionByName(d.filter(c6 === 1)
          .select(url.as("url"), lit(3.0).as("t"), lit(404).as("status"),
            nullRa.as("ra")))
        .unionByName(d.filter(c6 === 1) // beside the latching 404
          .select(url.as("url"), lit(3.0).as("t"), lit(503).as("status"),
            nullRa.as("ra")))
        .localCheckpoint()
      var st = RecrawlSchedule.emptyState(s)
      for (t <- 0 to 3) {
        // one checkpoint per clock tick (after BOTH folds): plan depth
        // stays bounded at two fold layers, half the materializations
        st = RecrawlSchedule.advanceFailures(
          RecrawlSchedule.advance(st,
            succ.where(col("t") === t.toDouble), "url", "t", "h"),
          RecrawlSchedule.representativeFailures(
            fails.where(col("t") === t.toDouble), "url", "status", "ra")
            .withColumn("t", lit(t.toDouble)),
          "url", "t", "status", "retry_after")
          .localCheckpoint()
      }
      RecrawlSchedule.scheduleOf(st,
          baseIntervalSeconds = 1.0, maxIntervalSeconds = 8.0)
        .select(
          regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("n_fetches"),
          col("unchanged_streak").cast("long").as("unchanged_streak"),
          col("fail_streak").cast("long").as("fail_streak"),
          col("gone"),
          col("interval_seconds"), col("next_fetch"),
          (col("eligible") && col("next_fetch") <= 4.0).as("is_due"))
        .orderBy(col("doc_id"))
    },

    // SITEMAP LASTMOD SEEDING ([[Sitemaps.entries]] +
    // [[RecrawlSchedule.seedFromLastmod]]) — the freshness prior a
    // site DECLARES: a urlset entry's <lastmod> seeds the re-crawl
    // interval the schedule would otherwise learn only after several
    // wasted refetches. Per doc a two-entry urlset (one entry with a
    // cohort-aged lastmod, one without — optional per sitemaps.org);
    // ages by doc_id % 5 span under-base (streak 0) through
    // clamp-at-max (streak 3). The first real fetch KEEPS the seeded
    // streak (no change evidence against the prior), a second
    // unchanged fetch (even docs) grows it normally, the un-hinted
    // twin starts at streak 0, and re-seeding a known URL is a no-op
    // (real observations outrank declared hints). Closed-form oracle.
    "q269_sitemap_lastmod" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
        .localCheckpoint()
      // ages vs asOf = 2026-01-02T00:00:00Z: 1800 s (< base → 0),
      // 7200 (→ 1), 16200 (→ 2), 32400 (→ 3), 10 days (clamp → 3)
      val lastmods = Seq("2026-01-01T23:30:00Z", "2026-01-01T22:00:00Z",
        "2026-01-01T19:30:00Z", "2026-01-01T15:00:00Z",
        "2025-12-23T00:00:00Z")
      val lm = element_at(array(lastmods.map(lit(_)): _*),
        (col("doc_id") % 5 + 1).cast("int"))
      val url = concat(lit("http://example.com/doc/"),
        col("doc_id").cast("string"))
      val xml = concat(lit("<urlset><url><loc>"), url,
        lit("</loc><lastmod>"), lm, lit("</lastmod></url><url><loc>"),
        url, lit("?skip=1</loc></url></urlset>"))
      val asOf = 1767312000.0 // 2026-01-02T00:00:00Z
      val seeds = d.select(col("doc_id"),
          explode(Sitemaps.entries(xml)).as("e"))
        .select(col("e.loc").as("url"),
          unix_timestamp(to_timestamp(col("e.lastmod"))).cast("double")
            .as("lm"))
        .localCheckpoint()
      var st = RecrawlSchedule.seedFromLastmod(
        RecrawlSchedule.emptyState(s), seeds, "url", "lm", asOf,
        baseIntervalSeconds = 3600.0, maxIntervalSeconds = 28800.0)
      // re-seeding known URLs with a different hint is a no-op
      st = RecrawlSchedule.seedFromLastmod(st,
        seeds.where(col("lm").isNotNull).withColumn("lm", lit(0.0)),
        "url", "lm", asOf,
        baseIntervalSeconds = 3600.0, maxIntervalSeconds = 28800.0)
        .localCheckpoint()
      val fetch1 = d.select(url.as("url"), lit(asOf + 600.0).as("t"),
          lit(1L).as("h"))
        .unionByName(d.select(concat(url, lit("?skip=1")).as("url"),
          lit(asOf + 600.0).as("t"), lit(1L).as("h")))
      st = RecrawlSchedule.advance(st, fetch1, "url", "t", "h")
        .localCheckpoint()
      val fetch2 = d.filter(col("doc_id") % 2 === 0)
        .select(url.as("url"), lit(asOf + 1200.0).as("t"), lit(1L).as("h"))
        .unionByName(d.filter(col("doc_id") % 2 === 0)
          .select(concat(url, lit("?skip=1")).as("url"),
            lit(asOf + 1200.0).as("t"), lit(1L).as("h")))
      st = RecrawlSchedule.advance(st, fetch2, "url", "t", "h")
        .localCheckpoint()
      RecrawlSchedule.scheduleOf(st,
          baseIntervalSeconds = 3600.0, maxIntervalSeconds = 28800.0)
        .select(
          regexp_extract(col("url"), "/doc/([0-9]+)", 1).cast("long")
            .as("doc_id"),
          (!col("url").contains("?")).as("seeded"),
          col("n_fetches"),
          col("unchanged_streak").cast("long").as("unchanged_streak"),
          col("interval_seconds"))
        .orderBy(col("doc_id"), col("seeded"))
    },

    // FETCH-ATTEMPT OBSERVATIONS ([[RecrawlSchedule.attemptFailures]])
    // — the failures that leave NO response record: a timed-out or
    // DNS-failed refetch writes only a WARC metadata/resource attempt
    // record (`outcome: timeout`), which must advance the schedule
    // like a 5xx (backoff + generation re-mint, the r16 stall class)
    // but can never latch the 404/410 tombstone. Cohorts by doc_id%4:
    //   0: 200 → timeout → 200 unchanged   (recovered; streak grows)
    //   1: 200 → timeout → timeout → dns-error via a `resource`
    //      record with the `fetch-outcome:` spelling — fail_streak 3
    //      yet NEVER gone (no HTTP 404 evidence)
    //   2: 200 → timeout + 404 response in ONE drain — the response
    //      outranks the attempt in the representative pick
    //   3: 200 only                        (baseline)
    // The oracle restates every terminal state closed-form.
    "q268_fetch_attempts" -> { (s, dir) =>
      import s.implicits._
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
        .localCheckpoint()
      val c4 = col("doc_id") % 4
      val url = concat(lit("http://example.com/doc/"),
        col("doc_id").cast("string"))
      val succ = d.select(url.as("url"), lit(0.0).as("t"), lit(1L).as("h"))
        .unionByName(d.filter(c4 === 0)
          .select(url.as("url"), lit(2.0).as("t"), lit(1L).as("h")))
        .localCheckpoint()
      // attempt records, WARC-shaped (the reader's envelope columns)
      def attempt(frame: org.apache.spark.sql.DataFrame, wt: String,
          body: String) =
        frame.select(url.as("target_uri"), lit(wt).as("warc_type"),
          lit(body.getBytes(StandardCharsets.UTF_8)).as("body"))
      val attempts = Seq(
        (1.0, attempt(d.filter(c4.isin(0L, 1L, 2L)), "metadata",
          "outcome: timeout\r\nvia: graft-fetcher\r\n")),
        (2.0, attempt(d.filter(c4 === 1), "metadata",
          "outcome: timeout\r\n")),
        (3.0, attempt(d.filter(c4 === 1), "resource",
          "fetch-outcome: dns-error\r\n")))
      val respFails = d.filter(c4 === 2)
        .select(url.as("url"), lit(1.0).as("t"), lit(404).as("status"),
          lit(null).cast("double").as("ra"))
        .localCheckpoint()
      var st = RecrawlSchedule.emptyState(s)
      for (t <- 0 to 3) {
        val att = attempts.filter(_._1 == t.toDouble).map(_._2)
          .reduceOption(_ unionByName _)
          .map(a => RecrawlSchedule.attemptFailures(a)
            .select(col("url"), lit(0).as("status"),
              lit(null).cast("double").as("ra")))
          .getOrElse(Seq.empty[(String, Int, Option[Double])]
            .toDF("url", "status", "ra"))
        val raw = respFails.where(col("t") === t.toDouble)
          .select(col("url"), col("status"), col("ra"))
          .unionByName(att)
        st = RecrawlSchedule.advanceFailures(
          RecrawlSchedule.advance(st,
            succ.where(col("t") === t.toDouble), "url", "t", "h"),
          RecrawlSchedule.representativeFailures(raw, "url", "status", "ra")
            .withColumn("t", lit(t.toDouble)),
          "url", "t", "status", "retry_after")
          .localCheckpoint()
      }
      RecrawlSchedule.scheduleOf(st,
          baseIntervalSeconds = 1.0, maxIntervalSeconds = 8.0)
        .select(
          regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("n_fetches"),
          col("unchanged_streak").cast("long").as("unchanged_streak"),
          col("fail_streak").cast("long").as("fail_streak"),
          col("gone"),
          col("interval_seconds"), col("next_fetch"),
          (col("eligible") && col("next_fetch") <= 4.0).as("is_due"))
        .orderBy(col("doc_id"))
    },

    // CONTROL-PLANE REFRESH ([[ControlPlane]]) — the loop asking for
    // its OWN control surfaces: per-host robots.txt ages on the drain
    // clock ([[ControlPlane.observe]]), stale entries re-emit through
    // the frontier ([[due]], cadence 2 drains) GENERATION-keyed like
    // due refetches — one ask per (url, last_fetch) until the fetch
    // actually lands. Five ticks, cohorts by doc_id % 3: cohort 0's
    // host answers the tick-2 ask with a CHANGED body (Disallow flips
    // from /priv to /doc — the refreshed rules must gate the probe
    // URL), cohort 1 never answers (its spent generation must NOT
    // re-emit: one ask, not one per tick), cohort 2 re-answers
    // unchanged (and earns a second ask at tick 4, like cohort 0).
    // The oracle restates emissions/ages/verdicts closed-form.
    "q267_control_refresh" -> { (s, dir) =>
      import s.implicits._
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
        .localCheckpoint()
      val c3 = col("doc_id") % 3
      val host = concat(lit("h"), col("doc_id").cast("string"),
        lit(".example.com"))
      val rUrl = concat(lit("http://"), host, lit("/robots.txt"))
      val v1 = "User-agent: *\nDisallow: /priv\n"
      val v2 = "User-agent: *\nDisallow: /doc\n"
      // the scripted fetcher: tick-0 bootstrap for all hosts, tick-2
      // answers only for cohorts 0 (changed) and 2 (unchanged)
      val answers = d
        .select(lit(0.0).as("t"), host.as("host"), lit(v1).as("body"),
          rUrl.as("url"))
        .unionByName(d.filter(c3 === 0)
          .select(lit(2.0).as("t"), host.as("host"), lit(v2).as("body"),
            rUrl.as("url")))
        .unionByName(d.filter(c3 === 2)
          .select(lit(2.0).as("t"), host.as("host"), lit(v1).as("body"),
            rUrl.as("url")))
        .localCheckpoint()
      var ctl = ControlPlane.emptyState(s)
      var robots = Seq.empty[(String, String)].toDF("host", "body")
      var emitted = graft.dedup.UrlSeenSet.empty(s)
      val emissionFrames = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.spark.sql.DataFrame]
      for (t <- 0 to 4) {
        // ask FIRST (the frontier emits off the state as of this tick;
        // answers land afterwards, the loop's drain semantics).
        // Checkpoints only where a frame is consumed more than once
        // (fresh) or the fold would otherwise nest five ticks deep
        // (tick-2 states) — the frames are corpus-sized-small and
        // per-tick materialization jobs dominate the cost otherwise.
        val due = ControlPlane.due(ctl, t.toDouble, everyDrains = 2.0)
          .select(col("url").as("target"),
            concat(col("url"), lit("#"),
              col("last_fetch").cast("long").cast("string")).as("__ekey"))
        val fresh = graft.dedup.UrlSeenSet.filterNew(due, "__ekey", emitted)
          .localCheckpoint()
        emitted = graft.dedup.UrlSeenSet.extend(emitted, fresh, "__ekey")
        emissionFrames += fresh.select(col("target"))
        val ans = answers.where(col("t") === t.toDouble)
        def cp(df: org.apache.spark.sql.DataFrame) =
          if (t == 2) df.localCheckpoint() else df
        ctl = cp(ControlPlane.observe(ctl, ans, "url", t.toDouble))
        robots = cp(RobotsTxt.rollBodies(robots,
          ans.select(col("host"), col("body"))))
      }
      val nEm = emissionFrames.reduce(_ unionByName _)
        .groupBy(col("target")).agg(count(lit(1)).as("n_emissions"))
      val probe = d.select(col("doc_id"),
        concat(lit("http://"), host, lit("/doc/1")).as("purl"),
        rUrl.as("target"))
      val rules = RobotsTxt.parseRules(robots, "host", "body")
      RobotsTxt.verdicts(probe, "purl", rules, "graftbot")
        .join(nEm, Seq("target"))
        .join(ctl.select(col("url").as("target"), col("last_fetch")),
          Seq("target"))
        .select(col("doc_id"), col("n_emissions"), col("last_fetch"),
          col("allowed").as("doc_allowed"))
        .orderBy(col("doc_id"))
    },

    // HTTP cache validators through the WARC reader — `http_etag` /
    // `http_last_modified` surfaced from the one header-block parse
    // (WarcCodec.parseHttpEnvelope), and 304 Not Modified responses
    // (a refresh crawler's conditional-request answers) framed with
    // status + re-sent validators + NO body. Weak ETags keep their
    // `W/` prefix and quotes VERBATIM (RFC 9110 §8.8.3 — entity tags
    // are opaque; normalizing them breaks If-None-Match echo).
    "q259_http_validators" -> { (s, dir) =>
      val shards = materializeRevalidation(s, dir)
      WarcShards.readRecords(s, shards)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("http_status").cast("long").as("http_status"),
          col("http_etag"), col("http_last_modified"),
          length(col("body")).cast("long").as("body_len"))
        .orderBy(col("doc_id"), col("http_status"))
    },

    // WARC revisit records — the fetcher's byte-identical-capture
    // dedup, read as first-class rows: `warc_type` distinguishes them
    // from real responses (a crawl loop that ingests a revisit's
    // header-only payload as a page mints empty documents and poisons
    // change detection), `refers_to` names the original capture, the
    // envelope still parses (status + re-sent validators) and the
    // entity body is EMPTY regardless of the original's length.
    "q260_revisit_records" -> { (s, dir) =>
      val shards = materializeRevalidation(s, dir)
      WarcShards.readRecords(s, shards)
        .where(col("warc_type") === "revisit")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("refers_to"),
          col("http_status").cast("long").as("http_status"),
          col("http_etag"),
          length(col("body")).cast("long").as("body_len"))
        .orderBy(col("doc_id"))
    },

    // MEDIA-TYPE ROUTING — the crawl loop's extract-vs-asset fork,
    // keyed on `http_content_type` (the Content-Type media-type token,
    // lowercased, parameters stripped; NULL when the origin sent no
    // header — routed to extraction, where the min-chars/link-density
    // gates absorb binary noise). Markup/text extracts; image/pdf/etc
    // land in the assets ledger with media type + byte size. The
    // oracle restates the cohorts and byte counts closed-form.
    "q261_media_routing" -> { (s, dir) =>
      val shards = materializeMediaTypes(s, dir)
      val extractable = (col("http_content_type").isNull ||
        col("http_content_type").startsWith("text/") ||
        col("http_content_type") === "application/xhtml+xml") &&
        col("http_content_encoding").isNull
      WarcShards.readRecords(s, shards)
        .where(col("warc_type") === "response")
        .select(
          coalesce(col("http_content_type"), lit("(absent)"))
            .as("media_type"),
          coalesce(col("http_content_encoding"), lit("(none)"))
            .as("encoding"),
          extractable.as("extractable"),
          length(col("body")).cast("long").as("n_bytes"))
        .groupBy(col("media_type"), col("encoding"), col("extractable"))
        .agg(count(lit(1)).as("n_responses"),
          sum(col("n_bytes")).as("total_bytes"))
        .orderBy(col("media_type"), col("encoding"))
    },

    // CHARSET-AWARE BODY DECODE (`graft_decode`, [[graft.functions
    // .CharsetKernels]]) — the Content-Type charset drives the byte
    // decode PER ROW (Spark's builtin `decode` takes a literal charset
    // only): UTF-8 fast-path, ISO-8859-1, windows-1252 (€/œ in the
    // 0x80-0x9F range a Latin-1 shortcut garbles), and a MISLABELED
    // cohort whose UTF-8 bytes must decode per the declared Latin-1
    // label into deterministic mojibake (decode follows the header,
    // it does not sniff). The oracle restates every decoded string
    // closed-form — byte-exact agreement or hash mismatch.
    "q262_charset_decode" -> { (s, dir) =>
      val shards = materializeCharsets(s, dir)
      WarcShards.readRecords(s, shards)
        .where(col("warc_type") === "response" && col("truncated").isNull)
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          call_function("graft_decode", col("body"),
            coalesce(col("http_charset"), lit(""))).as("text"))
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },

    // WARC-Truncated surfacing — captures the writer cut at a
    // length/time limit carry `WARC-Truncated: <reason>`; the crawl
    // loop drops them whole (partial HTML mints partial text and a
    // partial-content hash poisons change detection). The reader
    // surfaces the reason as a nullable column; absent header = NULL.
    "q263_truncated_records" -> { (s, dir) =>
      val shards = materializeCharsets(s, dir)
      WarcShards.readRecords(s, shards)
        .where(col("truncated").isNotNull)
        .select(
          regexp_extract(col("target_uri"), "/t/([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("truncated"),
          col("http_status").cast("long").as("http_status"),
          length(col("body")).cast("long").as("body_len"))
        .orderBy(col("doc_id"))
    },

    // robots.txt WILDCARD rules (RFC 9309 §2.2.3) — the `*`/`$` pattern
    // forms major sites actually publish, parsed from planted bodies
    // and judged per URL: end-anchored suffix kills (`/doc/*3$`,
    // `/*.dat$`), a LITERAL allow losing to a LONGER wildcard disallow
    // (pattern octets, not match length), an exact-URL-only anchor
    // (`/doc$` spares `/doc/9`), a bare `*` deny-all, an
    // agent-specific wildcard group, and the `$`-vs-`*` interplay
    // (`/private/data$` carves the exact URL out of `/private/*`).
    // Wildcard rules compile to anchored regexes on the broadcast rules
    // side; literal rules keep the startsWith fast path. The oracle
    // declares the expected rule rows WITH independently hand-written
    // regexes and recomputes group selection + longest-pattern
    // precedence relationally.
    "q247_robots_wildcards" -> { (s, dir) =>
      import s.implicits._
      val hostsLower = DomainHosts.map(_.toLowerCase(java.util.Locale.ROOT))
      val bodies = Seq(
        (hostsLower(0), "User-agent: *\nDisallow: /doc/*3$\nAllow: /doc/13\n"),
        (hostsLower(1), "User-agent: *\nDisallow: /*.dat$\nAllow: /files/1*\n"),
        (hostsLower(2),
          "User-agent: *\nDisallow: /private/*\nAllow: /private/data$\n"),
        (hostsLower(3),
          "User-agent: GraftBot\nDisallow: /*/data\nUser-agent: *\nDisallow:\n"),
        (hostsLower(4), "User-agent: *\nDisallow: *\n"),
        (hostsLower(5), "User-agent: *\nDisallow: /doc$\n")
      ).toDF("host", "body")
      val rules = RobotsTxt.parseRules(bodies, "host", "body")
      val d = Tables.load(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val host = element_at(
        array(hostsLower.map(lit(_)): _*), (col("doc_id") % 6 + 1).cast("int"))
      val urls = d.select(col("doc_id"), lit("doc").as("kind"),
          concat(lit("https://"), host, lit("/doc/"), id).as("url"))
        .unionByName(d.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), lit("dat").as("kind"),
            concat(lit("https://"), host, lit("/files/"), id, lit(".dat"))
              .as("url")))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), lit("bare").as("kind"),
            concat(lit("https://"), host, lit("/doc")).as("url")))
        .unionByName(d.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), lit("pdata").as("kind"),
            concat(lit("https://"), host, lit("/private/data/"), id).as("url")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), lit("pexact").as("kind"),
            concat(lit("https://"), host, lit("/private/data")).as("url")))
      RobotsTxt.verdicts(urls, "url", rules, "GraftBot")
        .select(col("doc_id"), col("kind"), col("allowed"))
        .orderBy(col("doc_id"), col("kind"))
    },

    // DOMAIN-level aggregation ([[Domains.stats]]) — the per-publisher
    // report behind C4/RefinedWeb-style domain curation: registered
    // domain (eTLD+1; case-mangled subdomains collapse, the multi-part
    // co.uk rule fires) keyed ONE hash aggregation over doc/host/char
    // counts. Oracle recomputes host extraction and the label rule from
    // the same fixture arithmetic.
    "q239_domain_stats" -> { (s, dir) =>
      graft.sources.Domains.stats(domainFixture(s, dir), "uri", "text")
        .orderBy(col("domain"))
    },

    // Per-DOMAIN quality report — the decision input behind C4-style
    // domain curation (a domain whose docs mostly fail the quality bar
    // gets blocklisted wholesale): registered-domain grouping × the
    // Gopher-style quality score, with the below-bar count per domain.
    // Oracle recomputes host extraction, the label rule, AND the full
    // quality arithmetic (q216's recipe) per domain.
    "q244_domain_quality" -> { (s, dir) =>
      val f = domainFixture(s, dir)
      val q = graft.text.TextAnalysis.qualityScore(col("text"))
      f.select(
          graft.sources.Domains.registeredDomain(UrlOps.host(col("uri")))
            .as("domain"),
          q.as("quality"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          // exact in any summation order: quality is 6dp-rounded, so the
          // DECIMAL sum is engine- and partitioning-independent (q216)
          round(sum(col("quality").cast("decimal(18,6)")).cast("double"), 6)
            .as("sum_quality"),
          sum(when(col("quality") < 0.5, 1L).otherwise(0L)).as("n_below_bar"))
        .orderBy(col("domain"))
    },

    // DATA-DRIVEN Public Suffix List ([[Domains.withRegisteredDomain]])
    // — the full-PSL upgrade of q239's literal rule: a planted suffix
    // table with a deep entry (`github.io` — each USER site is its own
    // publisher), a wildcard (`*.ck` — one label deeper than its base
    // is still a public suffix), and an exception (`!www.ck` — carved
    // back OUT of the wildcard) regroups the corpus by the real PSL
    // algorithm (exception beats all, else most labels, else the
    // implicit '*'); hosts that ARE public suffixes pass through whole.
    // The engine runs it as K broadcast probes + one row-local
    // precedence expression (zero shuffles before the aggregation —
    // DomainsSpec plan-gates it); the oracle recomputes the whole rule
    // relationally (candidate suffix unnest + precedence arg_max).
    "q246_domain_psl" -> { (s, dir) =>
      import s.implicits._
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val host = element_at(
        array(PslHosts.map(lit(_)): _*), (col("doc_id") % 8 + 1).cast("int"))
      val docs = d.withColumn("uri",
        concat(lit("https://"), host, lit("/doc/"), col("doc_id").cast("string")))
      graft.sources.Domains.stats(docs, "uri", "text",
        PslSuffixes.toDF("suffix"))
        .orderBy(col("domain"))
    },

    // DOMAIN blocklist ([[Domains.filterBlocked]]) — the URL-level kill
    // that runs BEFORE any text stage: every doc under the planted bad
    // registered domain (tracker.net, both its subdomains) dies on the
    // URI alone; the second blocklist entry matches nothing (set
    // semantics, not prefix). Output is the post-kill domain report —
    // the oracle proves the kill by recomputing the surviving groups.
    "q240_domain_blocklist" -> { (s, dir) =>
      val kept = graft.sources.Domains.filterBlocked(
        domainFixture(s, dir), "uri", Seq("tracker.net", "phish.example"))
      graft.sources.Domains.stats(kept, "uri", "text")
        .orderBy(col("domain"))
    },

    // The STREAMING front door: [[WarcShards.readRecordsStream]] over the
    // same staged crawl (maxFilesPerTrigger=2 → four real micro-batches
    // across the 8 shards, both layouts interleaved), each batch decoding
    // WARC framing + HTTP wire shapes and running boilerplate removal —
    // the continuous-ingestion twin of q215, hash-equal to the SAME
    // oracle (documents.text). This is the 100 TB shape: Common Crawl
    // drops land in a watched prefix and flow through extraction
    // incrementally, no reprocessing of already-seen shards (file-source
    // tracking via the checkpoint). The source scan lists PATHS only and
    // each task STREAMS its shard file record-by-record (the batch
    // reader's contract, one shared parse closure): per-task memory is
    // one cap-bounded record, never a whole ~1 GB compressed shard.
    "q222_warc_stream" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val crawl = materializeCrawl(s, dir)
      val scratch = graft.core.ScratchDirs.lease("graft-warc-stream-")
      try {
        val sinkDir = s"$scratch/sink"
        val ckptDir = s"$scratch/ckpt"
        val records = WarcShards.readRecordsStream(s, crawl, maxFilesPerTrigger = 2)
          .where(col("http_status") === 200)
          .select(col("target_uri"), col("body"))
        val extracted = records.select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          call_function("graft_html_text",
            col("body").cast("string"), lit(20), lit(33)).as("text"))
        val q = extracted.writeStream
          .format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // Eager localCheckpoint: the ScratchDirs contract — the returned
        // frame must not read sinkDir after a later invocation reaps it.
        s.read.parquet(sinkDir)
          .select(col("doc_id"), col("text"))
          .localCheckpoint(true)
          .orderBy("doc_id")
      } finally graft.core.ScratchDirs.release(scratch)
    },

    // The full front-door composite the verdict asked for: WARC scan →
    // HTML extraction → the EXACT q73 curation pipeline (planted copies,
    // quality gate, exact + near-dup dedup, span trim, decontamination,
    // chunk coverage) — with q73's own oracle, verbatim. Green iff
    // extraction hands curation a corpus byte-identical to documents.
    "q218_warc_to_curation" -> { (s, dir) =>
      import s.implicits._
      val crawl = materializeCrawl(s, dir)
      // Materialize the WARC-scan+extraction ONCE: three consumers
      // (both union branches of `corpus`, plus `bench` feeding the
      // decontamination broadcast) would otherwise each re-run the
      // loop's most expensive kernel over the full shard set — measured
      // 3 × ~2-3 s of extraction task time per q218 run (guide §1:
      // don't compute things twice; §5: localCheckpoint for reused
      // recomputable intermediates).
      val extracted = WarcShards.readRecords(s, crawl)
        .where(col("http_status") === 200)
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          call_function("graft_html_text",
            col("body").cast("string"), lit(20), lit(33)).as("text"))
        .localCheckpoint()
      val corpus0 = extracted.filter(col("doc_id") % 5 =!= 0)
      val corpus = corpus0.unionByName(
        corpus0.filter(col("doc_id") % 10 === 1)
          .withColumn("doc_id", col("doc_id") + 1000000))
      val bench = extracted.filter(col("doc_id") % 5 === 0)
      val (_, r) = graft.text.Curation.run(corpus, "doc_id", "text",
        benchmark = Some(bench), spanTrimMinRun = Some(2))
      // coverage reads the observed chunk_docs (rides the chunks
      // boundary) — the old distinct().count() was a second full pass
      // over the chunk corpus (guide §1.4)
      Seq((r.input_docs, r.after_quality, r.after_exact_dedup, r.after_neardup,
        r.spans_trimmed, r.after_decontam, r.chunk_docs == r.after_sample))
        .toDF("input_docs", "after_quality", "after_exact_dedup", "after_neardup",
          "spans_trimmed", "after_decontam", "chunks_cover_all")
    },

    // The composed front door: WARC scan → HTML extraction → the
    // text-analysis stack (marker-word language ID + quality scoring)
    // over the EXTRACTED text, aggregated per predicted language. The
    // oracle recomputes the same heuristics from documents.text — green
    // only if extraction is byte-transparent to downstream curation.
    "q216_warc_curation" -> { (s, dir) =>
      val crawl = materializeCrawl(s, dir)
      val ta = graft.text.TextAnalysis
      WarcShards.readRecords(s, crawl)
        .where(col("http_status") === 200)
        .select(call_function("graft_html_text",
          col("body").cast("string"), lit(20), lit(33)).as("text"))
        .select(
          ta.langId(col("text")).as("lang_pred"),
          ta.stopwordCount(col("text")).as("n_stop"),
          ta.qualityScore(col("text")).as("quality"))
        .groupBy(col("lang_pred"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_stop")).as("sum_stopwords"),
          // exact in any summation order: quality is a 6dp-rounded value,
          // so the DECIMAL sum is engine- and partitioning-independent
          round(sum(col("quality").cast("decimal(18,6)")).cast("double"), 6)
            .as("sum_quality"))
        .orderBy(col("lang_pred"))
    },

    // Request↔response pairing via `WARC-Concurrent-To` — the Common
    // Crawl pairing key (readRecords surfaces it as `concurrent_to`).
    // Real crawls refetch URIs across segments, so URI-keyed pairing is
    // ambiguous; the record-id join is exact. Scale shape: one equi-join
    // keyed on the response record id (shuffle-partitioned, AQE-safe) —
    // never a URI self-join. Oracle: each document contributes exactly
    // one pair with closed-form request/entity byte counts.
    "q225_warc_pairing" -> { (s, dir) =>
      val crawl = materializeCrawl(s, dir)
      val recs = WarcShards.readRecords(s, crawl)
      val resp = recs.where(col("warc_type") === "response")
        .select(col("record_id").as("resp_id"),
          col("target_uri").as("resp_uri"),
          length(col("body")).cast("long").as("resp_body_bytes"))
      val req = recs.where(col("warc_type") === "request")
        .select(col("target_uri").as("req_uri"),
          col("concurrent_to"), col("payload_bytes").as("req_bytes"))
      req.join(resp, col("concurrent_to") === col("resp_id"))
        .select(
          regexp_extract(col("resp_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          (col("req_uri") === col("resp_uri")).as("uri_match"),
          col("req_bytes"), col("resp_body_bytes"))
        .orderBy(col("doc_id"))
    },

    // WET sidecar round trip — the crawl loop's EXPORT side: WARC scan →
    // HTML extraction → [[WarcShards.packWet]] conversion shards →
    // readRecords back. Green iff the text survives byte-exactly
    // (oracle: documents.text, the q215 contract) AND every conversion
    // record's WARC-Refers-To still names its source response record.
    "q226_wet_export" -> { (s, dir) =>
      val crawl = materializeCrawl(s, dir)
      val extracted = WarcShards.readRecords(s, crawl)
        .where(col("http_status") === 200)
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("target_uri"),
          col("record_id").as("refers_to"),
          call_function("graft_html_text",
            col("body").cast("string"), lit(20), lit(33)).as("text"))
      val scratch = graft.core.ScratchDirs.lease("graft-wet-q")
      try {
        // pack is eager (driver-held manifest), so the shards exist
        // before the read-back plan runs
        WarcShards.packWet(extracted, s"$scratch/wet", nShards = 4): Unit
        val id = regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
        WarcShards.readRecords(s, s"$scratch/wet")
          .where(col("warc_type") === "conversion")
          .select(
            id.cast("long").as("doc_id"),
            col("body").cast("string").as("text"),
            (col("refers_to") ===
              concat(lit("<urn:graft:resp:"), id, lit(">"))).as("refers_ok"))
          .localCheckpoint(true)
          .orderBy(col("doc_id"))
      } finally graft.core.ScratchDirs.release(scratch)
    },

    // The CONTINUOUS-CRAWL LOOP (r11/r12 verdicts' top task), composed
    // end to end: [[WarcShards.readRecordsStream]] over the staged crawl
    // (maxFilesPerTrigger=1 → 8 REAL micro-batches, one shard each; the
    // source scan lists paths only, each task STREAMS its shard
    // record-by-record) → WARC framing + HTTP decode + HTML extraction →
    // URL-canonical dedup key ([[UrlOps.canonicalize]]; planted recrawl
    // noise arrives under case-mangled/tracking-param URI variants that
    // must collapse) → [[graft.dedup.IncrementalIngest.cycle]] against a
    // FIXED corpus index inside foreachBatch (the q86 sink pattern) →
    // survivors appended + a per-batch stage-count ledger row. Batches
    // are keyed by shard (each micro-batch is exactly one shard file),
    // so the per-batch counts are deterministic and DuckDB recomputes
    // the FULL cycle per shard: URL collapse, min-id exact dedup,
    // intra-batch exact-Jaccard components, corpus text-match kill,
    // cross-corpus Jaccard probe. `sink_match` pins survivors-appended
    // == ledger.
    //
    // 100 TB shape: crawl drops stream through a watched prefix; every
    // stage is proportional to the BATCH (the corpus index is built once
    // and amortized across batches); one shard file per task at one
    // cap-bounded record of memory, whatever the shard size.
    "q227_stream_crawl_ingest" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.Trigger
      val crawl = materializeCrawl(s, dir)
      val corpus = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 =!= 0)
      val index = graft.dedup.MinHashDedup.buildIndex(corpus, "doc_id", "text")
      val scratch = graft.core.ScratchDirs.lease("graft-crawl-ingest-")
      try {
        val sinkDir = s"$scratch/survivors"
        val ledgerDir = s"$scratch/ledger"
        val ckptDir = s"$scratch/ckpt"
        val extracted = WarcShards
          .readRecordsStream(s, crawl, maxFilesPerTrigger = 1)
          .where(col("http_status") === 200)
          .select(col("target_uri").as("uri"),
            col("body").cast("string").as("html"))
          .select(
            regexp_extract(col("uri"), "/doc/([0-9]+)$", 1)
              .cast("long").as("doc_id"),
            col("uri"),
            call_function("graft_html_text",
              col("html"), lit(20), lit(33)).as("text"))
        // recrawl noise: every 7th doc ALSO arrives under a dirty URI
        val withVariants = extracted.unionByName(
          extracted.filter(col("doc_id") % 7 === 0)
            .withColumn("uri", concat(lit("HTTP://Example.COM:80/doc/"),
              col("doc_id").cast("string"), lit("?utm_source=feed#frag"))))
        val q = withVariants.writeStream
          .foreachBatch { (batch0: DataFrame, batchId: Long) =>
            {
              val sp = batch0.sparkSession
              import sp.implicits._
              // batch count + shard assertion ride the checkpoint job
              // itself (Dataset.observe) — zero extra passes. The
              // checkpoint is LOAD-BEARING beyond lineage (r19,
              // measured): a streaming-derived batch plan carries NO
              // size statistics (defaultSizeInBytes), so feeding the
              // cycle the raw micro-batch flips every batch-vs-corpus
              // join from broadcast to sort-merge — the corpus index
              // exchanged and sorted per drain (q227 16.9 s → 86 s in
              // the experiment). Materializing the drop first gives the
              // planner a sized LogicalRDD; one extra batch-sized copy
              // per drain is the cheap side of that trade at any scale.
              val obsB = org.apache.spark.sql.Observation()
              val b = batch0
                .observe(obsB, count(lit(1)).as("n"),
                  collect_set(col("doc_id") % 8).as("shards"))
                .localCheckpoint()
              // An AvailableNow empty timeout batch reads nBatch = 0
              // from this observe (absent metrics ≡ 0) and skips below:
              // the empty checkpoint is near-free, where the old
              // separate isEmpty probe paid one extra job per REAL
              // drain (§1.4).
              val m = obsB.get
              val nBatch = graft.core.Durable.metric(m, "n")
              if (nBatch > 0) {
                val shards = m.get("shards")
                  .map(_.asInstanceOf[scala.collection.Seq[Long]])
                  .getOrElse(Seq.empty[Long])
                require(shards.length == 1,
                  s"expected one shard file per micro-batch, got cohorts " +
                    s"${shards.sorted.mkString(",")} — per-shard ledger counts " +
                    "would be meaningless")
                val urlDeduped = graft.dedup.ExactDedup.keepFirst(
                  b.withColumn("canonical_url", UrlOps.canonicalize(col("uri"))),
                  Seq("canonical_url"), Seq(col("uri")))
                  .select(col("doc_id"), col("text"))
                val (surv, counts) = graft.dedup.IncrementalIngest.cycle(
                  index, urlDeduped, "doc_id", "text")
                // batchId-keyed partition overwrite: a replayed micro-batch
                // rewrites its own partition instead of double-appending —
                // exactly-once ledger/survivor semantics under retry
                // ([[graft.streaming.ExactlyOnce]], the r13 ADVICE item).
                // The two sinks are independent directories, so their
                // writes overlap ([[graft.core.Overlap]]): the tiny
                // ledger job hides inside the survivor write.
                val ledgerRow = Seq((shards.head, nBatch, counts(0), counts(1),
                    counts(2), counts(3)))
                  .toDF("shard", "n_batch", "n_after_url", "n_after_exact",
                    "n_after_intra", "n_survivors")
                graft.core.Overlap.all(Seq(
                  () => graft.streaming.ExactlyOnce.appendKeyed(
                    surv.select(col("doc_id")), sinkDir, batchId),
                  () => graft.streaming.ExactlyOnce.appendKeyed(
                    ledgerRow, ledgerDir, batchId))): Unit
              }
            }
          }
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val ledger = s.read.parquet(ledgerDir)
        val sunk = s.read.parquet(sinkDir)
          .groupBy((col("doc_id") % 8).as("shard"))
          .agg(count(lit(1)).as("n_sunk"))
        ledger.join(sunk, Seq("shard"), "left")
          .select(col("shard"), col("n_batch"), col("n_after_url"),
            col("n_after_exact"), col("n_after_intra"), col("n_survivors"),
            (coalesce(col("n_sunk"), lit(0L)) === col("n_survivors"))
              .as("sink_match"))
          .localCheckpoint(true)
          .orderBy(col("shard"))
      } finally graft.core.ScratchDirs.release(scratch)
    }
  )

  /** DuckDB recompute of the q242 crawl loop — the rollingIngestSql
    * discipline over TEN batches with the three URL-side pre-stages
    * (domain blocklist, robots rules, canonical classes) bolted on. Everything reduces to the ID level: every batch text IS some
    * document's text (`src`), so text equality is `tg` group equality
    * and near-dup is the shared `jsym` pair set; every batch URL's
    * canonical class is closed-form from (src % 6 host, path key), so
    * the seen-set is first-batch-wins over `ck`. Stage k's corpus =
    * base (doc_id % 5 ≠ 0) ∪ survivors of batches 0..k-1 — day-2
    * batch 9's doc_id % 40 = 5 cohort is killed ONLY via surv_5, the
    * rolling-index proof. AS MATERIALIZED throughout: the unrolled
    * chain references each frame many times.
    */
  private def crawlLoopSql: String = {
    val head =
      s"""${graft.dedup.DedupQueries.shingleSetsSql},
         |jsym AS MATERIALIZED (
         |  SELECT id_a a, id_b b FROM jac WHERE jaccard >= 0.5
         |  UNION ALL SELECT id_b, id_a FROM jac WHERE jaccard >= 0.5),
         |tg AS MATERIALIZED (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS tgrp
         |  FROM documents),
         |m0 AS MATERIALIZED (
         |  SELECT doc_id % 8 AS ord, doc_id AS bid, doc_id AS src,
         |    'doc/' || doc_id::VARCHAR AS ukey
         |  FROM documents
         |  UNION ALL
         |  SELECT 8, doc_id, doc_id, 'doc/' || doc_id::VARCHAR
         |  FROM documents WHERE doc_id % 8 = 1
         |  UNION ALL
         |  SELECT 9, doc_id + 9000000, doc_id, 'page/' || doc_id::VARCHAR
         |  FROM documents WHERE doc_id % 8 = 5),
         |m AS MATERIALIZED (
         |  SELECT ord, bid, src, ukey FROM m0
         |  UNION ALL
         |  SELECT ord, bid, src, ukey FROM m0 WHERE src % 7 = 0),
         |dk AS MATERIALIZED (SELECT * FROM m WHERE src % 6 NOT IN (4, 5)),
         |-- robots kills: shop.example.co.uk (src%6=3) disallows /doc/1*,
         |-- cdn.example.com (src%6=1) disallows /page* (paths = '/'||ukey;
         |-- dirty-variant query suffixes cannot defeat a prefix rule)
         |rk AS MATERIALIZED (
         |  SELECT * FROM dk
         |  WHERE NOT (src % 6 = 3 AND ukey LIKE 'doc/1%')
         |    AND NOT (src % 6 = 1 AND ukey LIKE 'page%')),
         |cku AS (SELECT ord, bid, src,
         |  ukey || '@' || (src % 6)::VARCHAR AS ck FROM rk),
         |uk AS MATERIALIZED (
         |  SELECT ord, ck, min(bid) AS bid, arg_min(src, bid) AS src
         |  FROM cku GROUP BY ord, ck),
         |firsts AS MATERIALIZED (SELECT ck, min(ord) AS ford FROM uk GROUP BY ck),
         |corp0 AS MATERIALIZED (
         |  SELECT t.tgrp FROM documents d JOIN tg t ON t.doc_id = d.doc_id
         |  WHERE d.doc_id % 5 <> 0)""".stripMargin
    val stages = (0 until 10).map { k =>
      val priorT =
        if (k == 0) "SELECT tgrp FROM corp0 WHERE false"
        else (0 until k).map(j => s"SELECT tgrp FROM surv_$j")
          .mkString(" UNION ALL ")
      val priorS =
        if (k == 0) "SELECT src AS doc FROM uk WHERE false"
        else (0 until k).map(j => s"SELECT src AS doc FROM surv_$j")
          .mkString(" UNION ALL ")
      s"""uq_$k AS MATERIALIZED (
         |  SELECT u.bid, u.src FROM uk u JOIN firsts f ON f.ck = u.ck
         |  WHERE u.ord = $k AND f.ford = $k),
         |ex_$k AS MATERIALIZED (
         |  SELECT min(u.bid) AS bid, arg_min(u.src, u.bid) AS src, t.tgrp
         |  FROM uq_$k u JOIN tg t ON t.doc_id = u.src
         |  GROUP BY t.tgrp),
         |prior_t_$k AS MATERIALIZED ($priorT),
         |prior_s_$k AS MATERIALIZED ($priorS),
         |edges_$k AS MATERIALIZED (
         |  SELECT x.bid AS s, y.bid AS d
         |  FROM ex_$k x JOIN ex_$k y ON x.bid <> y.bid
         |  JOIN jsym j ON j.a = x.src AND j.b = y.src),
         |reach_$k AS (
         |  SELECT bid AS id, bid AS r FROM ex_$k
         |  UNION
         |  SELECT reach_$k.id, edges_$k.d FROM reach_$k
         |  JOIN edges_$k ON reach_$k.r = edges_$k.s),
         |intra_$k AS MATERIALIZED (
         |  SELECT id AS bid FROM (
         |    SELECT id, min(r) AS comp FROM reach_$k GROUP BY id)
         |  WHERE id = comp),
         |noex_$k AS MATERIALIZED (
         |  SELECT e.bid, e.src, e.tgrp
         |  FROM intra_$k i JOIN ex_$k e ON e.bid = i.bid
         |  WHERE e.tgrp NOT IN (SELECT tgrp FROM corp0)
         |    AND e.tgrp NOT IN (SELECT tgrp FROM prior_t_$k)),
         |surv_$k AS MATERIALIZED (
         |  SELECT n.bid, n.src, n.tgrp FROM noex_$k n
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM jsym j
         |    WHERE j.a = n.src AND (
         |      j.b IN (SELECT d.doc_id FROM documents d WHERE d.doc_id % 5 <> 0)
         |      OR j.b IN (SELECT doc FROM prior_s_$k))))""".stripMargin
    }
    val finals = (0 until 10).map { k =>
      s"""SELECT $k::BIGINT AS ord,
         |  (SELECT count(*) FROM m WHERE ord = $k)::BIGINT AS n_batch,
         |  (SELECT count(*) FROM dk WHERE ord = $k)::BIGINT AS n_after_domain,
         |  (SELECT count(*) FROM rk WHERE ord = $k)::BIGINT AS n_after_robots,
         |  (SELECT count(*) FROM uk WHERE ord = $k)::BIGINT AS n_after_url,
         |  (SELECT count(*) FROM uq_$k)::BIGINT AS n_new_url,
         |  (SELECT count(*) FROM ex_$k)::BIGINT AS n_after_exact,
         |  (SELECT count(*) FROM intra_$k)::BIGINT AS n_after_intra,
         |  (SELECT count(*) FROM surv_$k)::BIGINT AS n_survivors""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH RECURSIVE\n$head,\n${stages.mkString(",\n")}\n$finals\nORDER BY ord"
  }

  /** DuckDB recompute of the q245 change-aware re-crawl: the frontier's
    * stored (url → content-version) state is rolled forward batch by
    * batch with the SAME keep/upsert rule the engine applies — kept iff
    * the URL is absent from the state OR its stored version differs;
    * the state then upserts the kept rows. Content versions reduce to
    * integers because every batch text is `documents.text` plus a
    * closed-form suffix (equal texts ⇔ equal (url, ver)). Five batches,
    * unrolled (the q241/q242 discipline).
    */
  private def recrawlRefreshSql: String = {
    val head =
      s"""b AS MATERIALIZED (
         |  SELECT doc_id % 3 AS batch, 'doc/' || doc_id::VARCHAR AS url,
         |    0 AS ver
         |  FROM documents
         |  UNION ALL
         |  SELECT 3, 'doc/' || doc_id::VARCHAR, 0
         |  FROM documents WHERE doc_id % 8 = 1
         |  UNION ALL
         |  SELECT 3, 'doc/' || doc_id::VARCHAR, 2
         |  FROM documents WHERE doc_id % 8 = 3
         |  UNION ALL
         |  SELECT 3, 'page/' || doc_id::VARCHAR, 0
         |  FROM documents WHERE doc_id % 8 = 5
         |  UNION ALL
         |  SELECT 4, 'doc/' || doc_id::VARCHAR, 3
         |  FROM documents WHERE doc_id % 8 = 1
         |  UNION ALL
         |  SELECT 4, 'doc/' || doc_id::VARCHAR, 2
         |  FROM documents WHERE doc_id % 8 = 3),
         |s0 AS MATERIALIZED (
         |  SELECT ''::VARCHAR AS url, 0 AS ver WHERE false)""".stripMargin
    val steps = (0 until 5).map { k =>
      s"""k$k AS MATERIALIZED (
         |  SELECT x.url, x.ver
         |  FROM (SELECT url, ver FROM b WHERE batch = $k) x
         |  LEFT JOIN s$k ON s$k.url = x.url
         |  WHERE s$k.url IS NULL OR s$k.ver <> x.ver),
         |s${k + 1} AS MATERIALIZED (
         |  SELECT url, ver FROM s$k WHERE url NOT IN (SELECT url FROM k$k)
         |  UNION ALL SELECT url, ver FROM k$k)""".stripMargin
    }
    val finals = (0 until 5).map { k =>
      s"""SELECT $k::BIGINT AS batch,
         |  (SELECT count(*) FROM b WHERE batch = $k)::BIGINT AS n_batch,
         |  (SELECT count(*) FROM b WHERE batch = $k
         |     AND url NOT IN (SELECT url FROM s$k))::BIGINT AS n_new_url,
         |  ((SELECT count(*) FROM k$k) -
         |   (SELECT count(*) FROM b WHERE batch = $k
         |      AND url NOT IN (SELECT url FROM s$k)))::BIGINT AS n_changed,
         |  (SELECT count(*) FROM k$k)::BIGINT AS n_kept""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $head,\n${steps.mkString(",\n")}\n$finals\nORDER BY batch"
  }

  val oracles: Map[String, String] = Map(
    "q242_crawl_loop_rolling" -> crawlLoopSql,
    "q245_recrawl_refresh" -> recrawlRefreshSql,

    // the EXPECTED rule rows declared directly (the parser must recover
    // exactly these from the bodies), then RFC 9309 group selection +
    // longest-match recomputed relationally; key = 2·len + allow makes
    // longest-wins/allow-on-tie one integer arg_max
    "q243_robots_filter" -> {
      val hostList = DomainHosts
        .map(h => s"'${h.toLowerCase(java.util.Locale.ROOT)}'").mkString(", ")
      s"""WITH rules(host, agent, rule, prefix) AS (VALUES
         |  ('www.example.com', '*', 'disallow', '/private'),
         |  ('www.example.com', '*', 'allow', '/private/doc'),
         |  ('cdn.example.com', 'graftbot', 'disallow', '/doc'),
         |  ('shop.example.co.uk', '*', 'disallow', '/doc/1'),
         |  ('ads.tracker.net', '*', 'disallow', '/'),
         |  ('cdn.static.tracker.net', 'otherbot', 'allow', '/'),
         |  ('cdn.static.tracker.net', '*', 'disallow', '/')),
         |grp AS (
         |  SELECT host, rule, prefix FROM (
         |    SELECT *,
         |      CASE WHEN agent = 'graftbot' THEN 1 ELSE 0 END AS spec,
         |      max(CASE WHEN agent = 'graftbot' THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY host) AS bs
         |    FROM rules WHERE agent IN ('graftbot', '*'))
         |  WHERE spec = bs),
         |u AS (
         |  SELECT doc_id, 'doc' AS kind,
         |    [$hostList][(doc_id % 6 + 1)::INT] AS host,
         |    '/doc/' || doc_id::VARCHAR AS path
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'priv_doc', [$hostList][(doc_id % 6 + 1)::INT],
         |    '/private/doc/' || doc_id::VARCHAR
         |  FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id, 'priv_data', [$hostList][(doc_id % 6 + 1)::INT],
         |    '/private/data/' || doc_id::VARCHAR
         |  FROM documents WHERE doc_id % 3 = 1),
         |m AS (
         |  SELECT u.doc_id, u.kind, length(g.prefix) AS l,
         |    CASE WHEN g.rule = 'allow' THEN 1 ELSE 0 END AS aw
         |  FROM u JOIN grp g
         |    ON g.host = u.host AND starts_with(u.path, g.prefix)),
         |best AS (
         |  SELECT doc_id, kind, arg_max(aw, l * 2 + aw) AS aw_best
         |  FROM m GROUP BY doc_id, kind)
         |SELECT u.doc_id, u.kind,
         |  coalesce(best.aw_best = 1, true) AS allowed
         |FROM u LEFT JOIN best USING (doc_id, kind)
         |ORDER BY doc_id, kind""".stripMargin
    },
    // the FOUR [[HtmlLinks]]/[[UrlOps]] SQL mirrors CHAINED over the
    // byte-exact rebuilt page template plus the <base href> cohort:
    // extract hrefs, derive the EFFECTIVE base (declared <base>
    // resolved against the page URI, else the page URI), resolve each
    // ref against it, canonicalize, count per target, subtract the
    // fetched set
    "q248_link_frontier" -> {
      val eb = HtmlLinks.effectiveBaseSql("base", "html")
      val resolve = HtmlLinks.resolveSql("eb", "ref")
      val canonT = UrlOps.canonicalizeSql("url")
      val canonB = UrlOps.canonicalizeSql("base")
      val bpHtml = "'<html><head><base href=\"https://static.example.net/lib/\">" +
        "</head><body><a href=\"x/' || doc_id::VARCHAR || " +
        "'\">a</a> <a href=''/abs/' || doc_id::VARCHAR || " +
        "'''>b</a></body></html>'"
      s"""WITH page AS (
         |  SELECT doc_id, $pageHtmlSql AS html,
         |    'http://example.com/doc/' || doc_id::VARCHAR AS base
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, $bpHtml,
         |    'http://example.com/bp/' || doc_id::VARCHAR
         |  FROM documents WHERE doc_id % 5 = 0),
         |withbase AS (SELECT base, html, $eb AS eb FROM page),
         |links AS (
         |  SELECT eb, unnest(${HtmlLinks.extractSql("html")}) AS ref
         |  FROM withbase),
         |resolved AS (SELECT $resolve AS url FROM links),
         |canon AS (SELECT $canonT AS target FROM resolved),
         |fetched AS (SELECT DISTINCT $canonB AS target FROM page)
         |SELECT target, count(*)::BIGINT AS n_refs
         |FROM canon
         |WHERE target NOT IN (SELECT target FROM fetched)
         |GROUP BY target ORDER BY target""".stripMargin
    },

    // per-cohort chain arithmetic closed-form: cohort 0's finals are
    // all fetched (n_unseen 0), cohort 1 yields TWO chain rows per doc
    // (src and the intermediate hop, 2+1 hops) on an unseen final,
    // cohort 2 one cross-host unseen hop, cohort 3 (the cycle) ABSENT
    "q254_redirect_edges" ->
      """WITH c AS (SELECT
        |    count(*) FILTER (WHERE doc_id % 4 = 0) AS n0,
        |    count(*) FILTER (WHERE doc_id % 4 = 1) AS n1,
        |    count(*) FILTER (WHERE doc_id % 4 = 2) AS n2
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 0::BIGINT AS cohort, n0::BIGINT AS n_chains,
        |    n0::BIGINT AS sum_hops, 0::BIGINT AS n_unseen FROM c
        |  UNION ALL SELECT 1, 2 * n1, 3 * n1, 2 * n1 FROM c
        |  UNION ALL SELECT 2, n2, n2, n2 FROM c)
        |ORDER BY cohort""".stripMargin,

    // flags and counts restated closed-form: noindex from the meta
    // cohort (1, 3 — "none" counts) OR the header cohort (%5 = 0);
    // nofollow from the meta cohort (2, 3); followable anchors exclude
    // the rel=nofollow and rel=sponsored plants
    // closed-form truth per cohort: noindex from the meta cohorts 1/3
    // plus the GENERIC (f=0) and OWN-AGENT (f=2) X-Robots-Tag forms —
    // the googlebot-scoped f=1 cohort is ANOTHER crawler's opt-out and
    // must stay indexable; nofollow from meta cohorts 2 (the SECOND
    // robots meta of the split pair — first-tag-only parsing loses it)
    // and 3; noarchive ONLY from cohort 2's first meta (`none` must
    // not imply it); evens carry 5 anchors of which the quoted AND
    // unquoted rel=nofollow drop while rel="nofollowme" survives the
    // whole-token test
    "q266_robots_meta" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 4 AS c, doc_id % 5 AS f, doc_id % 2 AS e
        |  FROM documents)
        |SELECT doc_id,
        |  (c IN (1, 3) OR f IN (0, 2)) AS noindex,
        |  (c IN (2, 3)) AS nofollow,
        |  (c = 2) AS noarchive,
        |  (CASE WHEN e = 0 THEN 5 ELSE 2 END)::BIGINT AS n_links,
        |  (CASE WHEN e = 0 THEN 3 ELSE 1 END)::BIGINT AS n_follow_links
        |FROM p ORDER BY doc_id""".stripMargin,

    // the same pages rebuilt in SQL, pushed through the DuckDB mirrors
    // of canonical extraction + effective-base + RFC 3986 resolution —
    // extraction regexes and the resolution chain must agree byte-wise
    "q265_canonical_alias" -> {
      val canon = HtmlLinks.resolveSql(
        HtmlLinks.effectiveBaseSql("src", "html"),
        HtmlLinks.canonicalHrefSql("html"))
      s"""WITH p AS (
         |  SELECT doc_id, doc_id % 4 AS c, doc_id::VARCHAR AS i
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, 'http://example.com/doc/' || i AS src,
         |    '<html><head><title>t</title>' ||
         |    CASE c
         |      WHEN 0 THEN '<link rel="canonical" href="https://canon.example.com/c/' || i || '">'
         |      WHEN 1 THEN '<base href="https://base.example.org/dir/"><link rel="canonical" href="../c/' || i || '">'
         |      WHEN 2 THEN '<link href="/alt/' || i || '" rel="canonical">'
         |      ELSE '<link rel="canonical" href="/doc/' || i || '">'
         |    END || '</head><body><p>x</p></body></html>' AS html
         |  FROM p),
         |r AS (SELECT doc_id, src, ($canon) AS canonical FROM h)
         |SELECT doc_id, src, canonical FROM r
         |WHERE canonical IS NOT NULL AND canonical <> src
         |ORDER BY doc_id""".stripMargin
    },

    // per-(day, host) allowed counts closed-form from the planted
    // bodies: day 1 replaces host A's rules whole (latest-fetch-wins),
    // day 2 shuts host B down — its group row must be ABSENT, not
    // zero — days 3/4 are NO-OPS: the revisit (empty body) and the
    // truncated permissive capture must leave A's day-1 Disallow
    // standing (rows identical to day 2's A row); day 5's 503 keeps
    // the CACHED rules serving through day 6 (window = 2 drains), day
    // 7 crosses the window → A gates to complete disallow (NO day-7
    // rows at all — under mere rule-AUGMENTATION instead of
    // replacement, A's /priv rows would survive), and day 8's fresh
    // permissive 200 clears the latch (allow-all: ne + pe)
    "q255_robots_rolling" ->
      """WITH c AS (SELECT
        |    count(*) FILTER (WHERE doc_id % 2 = 0) AS ne,
        |    count(*) FILTER (WHERE doc_id % 2 = 1) AS nodd,
        |    count(*) FILTER (WHERE doc_id % 6 = 0) AS pe,
        |    count(*) FILTER (WHERE doc_id % 6 = 3) AS po
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 0::BIGINT AS crawl_day, 'a.example.com' AS host,
        |    ne::BIGINT AS n_allowed FROM c
        |  UNION ALL SELECT 0, 'b.example.org', nodd + po FROM c
        |  UNION ALL SELECT 1, 'a.example.com', pe FROM c
        |  UNION ALL SELECT 1, 'b.example.org', nodd + po FROM c
        |  UNION ALL SELECT 2, 'a.example.com', pe FROM c
        |  UNION ALL SELECT 3, 'a.example.com', pe FROM c
        |  UNION ALL SELECT 4, 'a.example.com', pe FROM c
        |  UNION ALL SELECT 5, 'a.example.com', pe FROM c
        |  UNION ALL SELECT 6, 'a.example.com', pe FROM c
        |  UNION ALL SELECT 8, 'a.example.com', ne + pe FROM c)
        |ORDER BY crawl_day, host""".stripMargin,

    // the q249 rank replay (3 DECIMAL-exact iterations keyed by the
    // host string) feeding the q251 priority window: every frontier
    // URL carries its DISCOVERING host's rank, quotas from the planted
    // delays (60/6=10, 60/3=20, default 12)
    "q256_ranked_frontier" -> {
      val hostList = DomainHosts
        .map(h => s"'${h.toLowerCase(java.util.Locale.ROOT)}'").mkString(", ")
      val hostVals = DomainHosts.zipWithIndex
        .map { case (h, i) => s"($i, '${h.toLowerCase(java.util.Locale.ROOT)}')" }
        .mkString(", ")
      def iter(i: Int): String =
        s"""r$i AS (
           |  SELECT nodes.id,
           |    round(((1.0 - 0.85) / (SELECT n FROM nn))
           |        + 0.85 * coalesce(c.inflow, 0.0), 12) AS rank
           |  FROM nodes LEFT JOIN (
           |    SELECT e.dst,
           |      sum((r.rank / o.outdeg)::DECIMAL(28,15))::DOUBLE AS inflow
           |    FROM e
           |    JOIN r${i - 1} r ON r.id = e.src
           |    JOIN outdeg o ON o.src = e.src
           |    GROUP BY 1) c ON c.dst = nodes.id)"""
      s"""WITH hh(i, host) AS (VALUES $hostVals),
         |f AS (
         |  SELECT i AS s, (i + 1) % 6 AS d FROM hh
         |  UNION ALL SELECT i, (i + 3) % 6 FROM hh
         |  UNION ALL SELECT i, 0 FROM hh WHERE i <> 0),
         |eidx AS (
         |  SELECT DISTINCT s, d FROM (
         |    SELECT s, d FROM f UNION ALL SELECT d, s FROM f)
         |  WHERE s <> d),
         |e AS (
         |  SELECT a.host AS src, b.host AS dst
         |  FROM eidx JOIN hh a ON a.i = eidx.s JOIN hh b ON b.i = eidx.d),
         |outdeg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |r0 AS (SELECT id, (1.0 / (SELECT n FROM nn)) AS rank FROM nodes),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |q(host, quota) AS (VALUES
         |  ('www.example.com', 10), ('cdn.example.com', 20),
         |  ('blog.example.co.uk', 12), ('shop.example.co.uk', 12),
         |  ('ads.tracker.net', 12), ('cdn.static.tracker.net', 12)),
         |fr AS (
         |  SELECT doc_id, [$hostList][(doc_id % 6 + 1)::INT] AS host,
         |    'https://' || [$hostList][(doc_id % 6 + 1)::INT] || '/doc/' ||
         |      lpad(doc_id::VARCHAR, 8, '0') AS url,
         |    [$hostList][((doc_id * 7 + 1) % 6 + 1)::INT] AS src_host
         |  FROM documents),
         |fr2 AS (
         |  SELECT fr.host, fr.url,
         |    r3.rank + (CASE WHEN fr.doc_id % 11 = 0 THEN 2.0 ELSE 0.0 END)
         |      AS priority
         |  FROM fr JOIN r3 ON r3.id = fr.src_host),
         |r AS (
         |  SELECT fr2.host, fr2.priority, q.quota,
         |    row_number() OVER (PARTITION BY fr2.host
         |      ORDER BY fr2.priority DESC, fr2.url ASC) AS rn
         |  FROM fr2 JOIN q ON q.host = fr2.host)
         |SELECT host, count(*)::BIGINT AS n_candidates,
         |  count(*) FILTER (WHERE rn <= quota)::BIGINT AS n_kept,
         |  round(sum(priority) FILTER (WHERE rn <= quota), 6) AS sum_kept_rank
         |FROM r GROUP BY host ORDER BY host""".stripMargin
    },

    // every streak/interval stated closed-form from the cohort
    // arithmetic (change-every-fetch → 0; never-changed → n−1;
    // mid-switch at n//2 → n − n//2 − 1; single fetch → 0), base 100
    // doubling to the 500 clamp
    "q257_recrawl_schedule" ->
      """WITH p AS (
        |  SELECT doc_id, (doc_id % 4 + 1) AS n, (doc_id % 3) AS c
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n,
        |    CASE WHEN c = 0 THEN n - 1
        |         WHEN c = 1 THEN 0
        |         ELSE CASE WHEN n = 1 THEN 0 ELSE n - (n // 2) - 1 END
        |    END AS streak
        |  FROM p)
        |SELECT doc_id, n::BIGINT AS n_fetches, streak::BIGINT AS unchanged_streak,
        |  least(500.0, 100.0 * power(2.0, streak)) AS interval_seconds,
        |  (doc_id * 1000 + (n - 1) * 100)::DOUBLE
        |    + least(500.0, 100.0 * power(2.0, streak)) AS next_fetch
        |FROM s ORDER BY doc_id""".stripMargin,

    // q257's closed-form streaks + the due filter at clock 4 + the
    // freshness-priority budget window (quota = floor(horizon/delay):
    // host0 12/6 = 2, host1 12/3 = 4; priority -interval desc ≡
    // interval asc, url asc tie-break)
    "q258_refresh_frontier" -> {
      val h0 = DomainHosts(0).toLowerCase(java.util.Locale.ROOT)
      val h1 = DomainHosts(1).toLowerCase(java.util.Locale.ROOT)
      s"""WITH p AS (
         |  SELECT doc_id, (doc_id % 4 + 1) AS n, (doc_id % 3) AS c,
         |    CASE WHEN doc_id % 2 = 0 THEN '$h0' ELSE '$h1' END AS host
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, n, host,
         |    CASE WHEN c = 0 THEN n - 1
         |         WHEN c = 1 THEN 0
         |         ELSE CASE WHEN n = 1 THEN 0 ELSE n - (n // 2) - 1 END
         |    END AS streak
         |  FROM p),
         |d AS (
         |  SELECT doc_id, host, n::BIGINT AS n_fetches,
         |    streak::BIGINT AS unchanged_streak,
         |    least(8.0, power(2.0, streak)) AS interval_seconds,
         |    (n - 1)::DOUBLE + least(8.0, power(2.0, streak)) AS next_fetch,
         |    'https://' || host || '/doc/' || lpad(doc_id::VARCHAR, 8, '0')
         |      AS url
         |  FROM s
         |  WHERE (n - 1)::DOUBLE + least(8.0, power(2.0, streak)) <= 4.0),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY host
         |      ORDER BY interval_seconds ASC, url ASC) AS rn,
         |    CASE WHEN host = '$h0' THEN 2 ELSE 4 END AS quota
         |  FROM d)
         |SELECT doc_id, n_fetches, unchanged_streak, interval_seconds,
         |  next_fetch
         |FROM r WHERE rn <= quota ORDER BY doc_id""".stripMargin
    },

    // every cohort's terminal state restated closed-form: n_fetches
    // counts successes only, the failure streak backs off exactly like
    // the unchanged streak (2^max of the two, clamped at 8), the
    // Retry-After of the LATEST failure floors the delay (cohort 2:
    // greatest(2, 3) = 3), and only the 3-strikes-ending-in-404 cohort
    // is tombstoned (gone, never due). Two rows discriminate the
    // mixed-drain representative pick: cohort 1's gone=true needs the
    // 404 to beat the same-drain 503 (independent max(status) reads
    // 503 and never latches), and cohort 5's next_fetch=3.0 needs the
    // chosen 503's NULL Retry-After (pairing the other row's RA:7
    // would floor it at 8.0)
    "q264_refetch_errors" ->
      """WITH p AS (SELECT doc_id, (doc_id % 6) AS c FROM documents)
        |SELECT doc_id,
        |  (CASE WHEN c IN (0, 3) THEN 2 ELSE 1 END)::BIGINT AS n_fetches,
        |  (CASE WHEN c = 0 THEN 1 ELSE 0 END)::BIGINT AS unchanged_streak,
        |  (CASE c WHEN 1 THEN 3 WHEN 4 THEN 2 WHEN 2 THEN 1 WHEN 5 THEN 1
        |    ELSE 0 END)::BIGINT AS fail_streak,
        |  (c = 1) AS gone,
        |  (CASE c WHEN 0 THEN 2.0 WHEN 1 THEN 8.0 WHEN 2 THEN 2.0
        |    WHEN 3 THEN 1.0 WHEN 4 THEN 4.0 ELSE 2.0 END)::DOUBLE
        |    AS interval_seconds,
        |  (CASE c WHEN 0 THEN 4.0 WHEN 1 THEN 11.0 WHEN 2 THEN 4.0
        |    WHEN 3 THEN 3.0 WHEN 4 THEN 6.0 ELSE 3.0 END)::DOUBLE
        |    AS next_fetch,
        |  (c IN (0, 2, 3, 5)) AS is_due
        |FROM p ORDER BY doc_id""".stripMargin,

    // seeded streaks closed-form from the cohort ages (0/1/2/3/3,
    // the last clamped at log2(max/base)); the first fetch keeps the
    // seed, the evens' second unchanged fetch adds one; the un-hinted
    // ?skip twin walks the ordinary 0-then-1 path
    "q269_sitemap_lastmod" ->
      """WITH p AS (
        |  SELECT doc_id, (doc_id % 5) AS c, (doc_id % 2) AS e
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, e,
        |    (CASE c WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 3 END)
        |      AS s0
        |  FROM p)
        |SELECT * FROM (
        |  SELECT doc_id, true AS seeded,
        |    (CASE WHEN e = 0 THEN 2 ELSE 1 END)::BIGINT AS n_fetches,
        |    (s0 + CASE WHEN e = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS unchanged_streak,
        |    least(28800.0, 3600.0 * power(2.0,
        |      s0 + CASE WHEN e = 0 THEN 1 ELSE 0 END))::DOUBLE
        |      AS interval_seconds
        |  FROM s
        |  UNION ALL
        |  SELECT doc_id, false,
        |    (CASE WHEN e = 0 THEN 2 ELSE 1 END)::BIGINT,
        |    (CASE WHEN e = 0 THEN 1 ELSE 0 END)::BIGINT,
        |    (CASE WHEN e = 0 THEN 7200.0 ELSE 3600.0 END)::DOUBLE
        |  FROM p)
        |ORDER BY doc_id, seeded""".stripMargin,

    // every terminal state closed-form: attempts advance last_fetch
    // (the stall fix) and back off like 5xx failures, the dns-error
    // resource record reaches streak 3 with gone STILL false (no 404
    // evidence — attempt failures can never tombstone), the mixed
    // drain's 404 response outranks the same drain's timeout attempt,
    // and cohort 0's recovery clears the streak
    "q268_fetch_attempts" ->
      """WITH p AS (SELECT doc_id, (doc_id % 4) AS c FROM documents)
        |SELECT doc_id,
        |  (CASE WHEN c = 0 THEN 2 ELSE 1 END)::BIGINT AS n_fetches,
        |  (CASE WHEN c = 0 THEN 1 ELSE 0 END)::BIGINT AS unchanged_streak,
        |  (CASE c WHEN 1 THEN 3 WHEN 2 THEN 1 ELSE 0 END)::BIGINT
        |    AS fail_streak,
        |  false AS gone,
        |  (CASE c WHEN 0 THEN 2.0 WHEN 1 THEN 8.0 WHEN 2 THEN 2.0
        |    ELSE 1.0 END)::DOUBLE AS interval_seconds,
        |  (CASE c WHEN 0 THEN 4.0 WHEN 1 THEN 11.0 WHEN 2 THEN 3.0
        |    ELSE 1.0 END)::DOUBLE AS next_fetch,
        |  (c <> 1) AS is_due
        |FROM p ORDER BY doc_id""".stripMargin,

    // the refresh timeline restated closed-form: every host is asked
    // at tick 2 (bootstrap age 2 ≥ cadence); answering hosts (cohorts
    // 0/2) age-reset to 2 and earn a SECOND ask at tick 4, the silent
    // cohort 1 keeps its spent generation (one ask total, last_fetch
    // pinned at the bootstrap); only cohort 0's refreshed body gates
    // the /doc probe
    "q267_control_refresh" ->
      """WITH p AS (SELECT doc_id, doc_id % 3 AS c FROM documents)
        |SELECT doc_id,
        |  (CASE WHEN c = 1 THEN 1 ELSE 2 END)::BIGINT AS n_emissions,
        |  (CASE WHEN c = 1 THEN 0.0 ELSE 2.0 END)::DOUBLE AS last_fetch,
        |  (c <> 0) AS doc_allowed
        |FROM p ORDER BY doc_id""".stripMargin,

    // the planted validators restated closed-form: 200 rows for every
    // doc (etag cohort by %3, Last-Modified on evens, body = the
    // 30-chars-plus-id-digits stub), 304 rows for the evens (validators
    // re-sent, zero-length body)
    "q259_http_validators" ->
      s"""WITH p AS (
         |  SELECT doc_id, (doc_id % 3) AS c3, (doc_id % 2) AS c2
         |  FROM documents),
         |v AS (
         |  SELECT doc_id, c2,
         |    CASE WHEN c3 = 0 THEN '"v' || doc_id || '"'
         |         WHEN c3 = 1 THEN 'W/"v' || doc_id || '"'
         |         ELSE NULL END AS http_etag,
         |    CASE WHEN c2 = 0 THEN '$RevalLastModified'
         |         ELSE NULL END AS http_last_modified
         |  FROM p),
         |r200 AS (
         |  SELECT doc_id, 200::BIGINT AS http_status, http_etag,
         |    http_last_modified,
         |    (30 + length(doc_id::VARCHAR))::BIGINT AS body_len
         |  FROM v),
         |r304 AS (
         |  SELECT doc_id, 304::BIGINT, http_etag, http_last_modified,
         |    0::BIGINT
         |  FROM v WHERE c2 = 0)
         |SELECT * FROM r200 UNION ALL SELECT * FROM r304
         |ORDER BY doc_id, http_status""".stripMargin,

    // the planted revisit cohort (doc_id%3 = 0) closed-form: original
    // named by refers_to, 200 envelope, strong ETag re-sent, no body
    "q260_revisit_records" ->
      """SELECT doc_id,
        |  '<urn:graft:reval:200:' || doc_id || '>' AS refers_to,
        |  200::BIGINT AS http_status,
        |  '"v' || doc_id || '"' AS http_etag,
        |  0::BIGINT AS body_len
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY doc_id""".stripMargin,

    // the five planted media cohorts, counts and byte totals restated
    // closed-form (html 30+digits bytes, png doc_id%50+10, pdf
    // doc_id%25+5, header-less 10+digits, and the brotli cohort:
    // text/html but still-compressed under Content-Encoding: br →
    // NOT extractable, body = the doc_id%30+5 wire bytes verbatim)
    "q261_media_routing" ->
      """WITH p AS (SELECT doc_id, (doc_id % 4) AS c FROM documents),
        |g AS (
        |  SELECT '(absent)' AS media_type, '(none)' AS encoding,
        |    TRUE AS extractable,
        |    count(*)::BIGINT AS n_responses,
        |    sum(10 + length(doc_id::VARCHAR))::BIGINT AS total_bytes
        |  FROM p WHERE c = 3
        |  UNION ALL
        |  SELECT 'application/pdf', '(none)', FALSE, count(*)::BIGINT,
        |    sum(doc_id % 25 + 5)::BIGINT
        |  FROM p WHERE c = 2
        |  UNION ALL
        |  SELECT 'image/png', '(none)', FALSE, count(*)::BIGINT,
        |    sum(doc_id % 50 + 10)::BIGINT
        |  FROM p WHERE c = 1
        |  UNION ALL
        |  SELECT 'text/html', '(none)', TRUE, count(*)::BIGINT,
        |    sum(30 + length(doc_id::VARCHAR))::BIGINT
        |  FROM p WHERE c = 0
        |  UNION ALL
        |  SELECT 'text/html', 'br', FALSE, count(*)::BIGINT,
        |    sum(doc_id % 30 + 5)::BIGINT
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT * FROM g ORDER BY media_type, encoding""".stripMargin,

    // every decoded string restated closed-form per charset cohort —
    // incl. the mislabeled cohort's deterministic mojibake
    // (UTF-8 0xC3 0xA9 read as Latin-1)
    "q262_charset_decode" ->
      s"""WITH p AS (SELECT doc_id, (doc_id % 4) AS c FROM documents),
         |t AS (
         |  SELECT doc_id,
         |    CASE c
         |      WHEN 0 THEN 'café número ' || doc_id || ' — €'
         |      WHEN 1 THEN 'café número ' || doc_id || ' ±'
         |      WHEN 2 THEN 'café € ' || doc_id || ' œ'
         |      ELSE 'cafÃ© ' || doc_id
         |    END AS text
         |  FROM p)
         |SELECT doc_id, text, length(text)::BIGINT AS n_chars
         |FROM t ORDER BY doc_id""".stripMargin,

    // the planted truncated cohort: reason token, parsed envelope, the
    // 10 bytes the writer kept
    "q263_truncated_records" ->
      """SELECT doc_id, 'length' AS truncated, 200::BIGINT AS http_status,
        |  10::BIGINT AS body_len
        |FROM documents WHERE doc_id % 5 = 0
        |ORDER BY doc_id""".stripMargin,

    // the q141 PageRank replay over the closed-form host edge set
    // (+1 / +3 neighbors, non-hub→hub, symmetric closure, no self
    // loops): 3 unrolled iterations keyed by the host STRING — rank
    // values are id-agnostic, so the engine's xxhash64 host ids and the
    // oracle's string keys must land on identical ranks
    "q249_link_graph" -> {
      val hostVals = DomainHosts.zipWithIndex
        .map { case (h, i) => s"($i, '${h.toLowerCase(java.util.Locale.ROOT)}')" }
        .mkString(", ")
      def iter(i: Int): String =
        s"""r$i AS (
           |  SELECT nodes.id,
           |    round(((1.0 - 0.85) / (SELECT n FROM nn))
           |        + 0.85 * coalesce(c.inflow, 0.0), 12) AS rank
           |  FROM nodes LEFT JOIN (
           |    SELECT e.dst,
           |      sum((r.rank / o.outdeg)::DECIMAL(28,15))::DOUBLE AS inflow
           |    FROM e
           |    JOIN r${i - 1} r ON r.id = e.src
           |    JOIN outdeg o ON o.src = e.src
           |    GROUP BY 1) c ON c.dst = nodes.id)"""
      s"""WITH hh(i, host) AS (VALUES $hostVals),
         |f AS (
         |  SELECT i AS s, (i + 1) % 6 AS d FROM hh
         |  UNION ALL SELECT i, (i + 3) % 6 FROM hh
         |  UNION ALL SELECT i, 0 FROM hh WHERE i <> 0),
         |eidx AS (
         |  SELECT DISTINCT s, d FROM (
         |    SELECT s, d FROM f UNION ALL SELECT d, s FROM f)
         |  WHERE s <> d),
         |e AS (
         |  SELECT a.host AS src, b.host AS dst
         |  FROM eidx JOIN hh a ON a.i = eidx.s JOIN hh b ON b.i = eidx.d),
         |outdeg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |r0 AS (SELECT id, (1.0 / (SELECT n FROM nn)) AS rank FROM nodes),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT id AS host, round(rank, 6) AS rank FROM r3 ORDER BY host""".stripMargin
    },

    // per-host priority rank replayed relationally: quotas declared
    // from the planted delays (h0 60/6=10, h1 60/3=20, default 12),
    // row_number over (priority DESC, url ASC) — zero-padded urls make
    // the tie-break identical across engines
    "q251_frontier_priority" -> {
      val hostList = DomainHosts
        .map(h => s"'${h.toLowerCase(java.util.Locale.ROOT)}'").mkString(", ")
      s"""WITH q(host, quota) AS (VALUES
         |  ('www.example.com', 10), ('cdn.example.com', 20),
         |  ('blog.example.co.uk', 12), ('shop.example.co.uk', 12),
         |  ('ads.tracker.net', 12), ('cdn.static.tracker.net', 12)),
         |f AS (
         |  SELECT [$hostList][(doc_id % 6 + 1)::INT] AS host,
         |    'https://' || [$hostList][(doc_id % 6 + 1)::INT] || '/doc/' ||
         |      lpad(doc_id::VARCHAR, 8, '0') AS url,
         |    (doc_id * 7) % 101 AS priority
         |  FROM documents),
         |r AS (
         |  SELECT f.host, f.priority, q.quota,
         |    row_number() OVER (PARTITION BY f.host
         |      ORDER BY f.priority DESC, f.url ASC) AS rn
         |  FROM f JOIN q USING (host))
         |SELECT host, count(*)::BIGINT AS n_candidates,
         |  count(*) FILTER (WHERE rn <= quota)::BIGINT AS n_kept,
         |  CAST(sum(priority) FILTER (WHERE rn <= quota) AS BIGINT)
         |    AS sum_kept_priority
         |FROM r GROUP BY host ORDER BY host""".stripMargin
    },

    // per-child closed-form counts; the never-fetched child named by
    // the index must be ABSENT, not zero-row-invented
    "q253_sitemap_index" ->
      s"""WITH c AS (
         |  SELECT
         |    count(*) FILTER (WHERE doc_id % 3 = 0) AS l0,
         |    count(*) FILTER (WHERE doc_id % 3 = 1) AS l1,
         |    count(*) FILTER (WHERE doc_id % 3 = 2) AS l2
         |  FROM documents)
         |SELECT * FROM (
         |  SELECT 'https://www.example.com/sm/0.xml' AS sitemap,
         |    l0::BIGINT AS n_urls, l0::BIGINT AS n_canon FROM c
         |  UNION ALL SELECT 'https://www.example.com/sm/1.xml',
         |    l1::BIGINT, l1::BIGINT FROM c
         |  UNION ALL SELECT 'https://www.example.com/sm/2.xml',
         |    l2::BIGINT, l2::BIGINT FROM c)
         |ORDER BY sitemap""".stripMargin,

    // closed-form seed counts: the advertised sitemaps list the
    // %3-cohorts; the seen-set holds the %6=0 decoded canonical forms
    // (a subset of www's %3=0 listing), the spam sitemap's tracker.net
    // rows all die at the blocklist
    "q252_sitemap_seed" ->
      s"""WITH c AS (
         |  SELECT
         |    count(*) FILTER (WHERE doc_id % 3 = 0) AS l0,
         |    count(*) FILTER (WHERE doc_id % 3 = 1) AS l1,
         |    count(*) FILTER (WHERE doc_id % 3 = 2) AS l2,
         |    count(*) FILTER (WHERE doc_id % 6 = 3) AS s0
         |  FROM documents)
         |SELECT * FROM (
         |  SELECT 'www.example.com' AS host, l0::BIGINT AS n_listed,
         |    s0::BIGINT AS n_seeded FROM c
         |  UNION ALL SELECT 'cdn.example.com', l1::BIGINT, l1::BIGINT FROM c
         |  UNION ALL SELECT 'ads.tracker.net', l2::BIGINT, 0::BIGINT FROM c)
         |ORDER BY host""".stripMargin,

    // expected per-host quotas declared from the planted bodies
    // (horizon 60 / delay, default 5 → 12, liveness floor 1 unused
    // here), candidates and least(n, quota) recomputed relationally
    "q250_crawl_budget" -> {
      val hostList = DomainHosts
        .map(h => s"'${h.toLowerCase(java.util.Locale.ROOT)}'").mkString(", ")
      s"""WITH q(host, quota) AS (VALUES
         |  ('www.example.com', 30),        -- delay 2
         |  ('cdn.example.com', 6),         -- agent-specific delay 10
         |  ('blog.example.co.uk', 120),    -- fractional delay 0.5
         |  ('shop.example.co.uk', 12),     -- junk value → default 5
         |  ('ads.tracker.net', 12),        -- no robots file → default
         |  ('cdn.static.tracker.net', 12)),-- wrong-agent group → default
         |c AS (
         |  SELECT [$hostList][(doc_id % 6 + 1)::INT] AS host,
         |    count(*) AS n
         |  FROM documents GROUP BY 1)
         |SELECT c.host, CAST(c.n AS BIGINT) AS n_candidates,
         |  CAST(least(c.n, q.quota) AS BIGINT) AS n_kept
         |FROM c JOIN q USING (host) ORDER BY host""".stripMargin
    },

    // the q243 discipline for the wildcard forms: expected rule rows
    // declared directly with INDEPENDENTLY hand-written regexes (the
    // parser + pattern compiler must both be exact), group selection +
    // longest-PATTERN precedence recomputed relationally
    "q247_robots_wildcards" -> {
      val hostList = DomainHosts
        .map(h => s"'${h.toLowerCase(java.util.Locale.ROOT)}'").mkString(", ")
      s"""WITH rules(host, agent, rule, prefix, wild, rx) AS (VALUES
         |  ('www.example.com', '*', 'disallow', '/doc/*3$$', true, '^/doc/.*3$$'),
         |  ('www.example.com', '*', 'allow', '/doc/13', false, NULL),
         |  ('cdn.example.com', '*', 'disallow', '/*.dat$$', true, '^/.*\\.dat$$'),
         |  ('cdn.example.com', '*', 'allow', '/files/1*', true, '^/files/1.*'),
         |  ('blog.example.co.uk', '*', 'disallow', '/private/*', true,
         |    '^/private/.*'),
         |  ('blog.example.co.uk', '*', 'allow', '/private/data$$', true,
         |    '^/private/data$$'),
         |  ('shop.example.co.uk', 'graftbot', 'disallow', '/*/data', true,
         |    '^/.*/data'),
         |  ('ads.tracker.net', '*', 'disallow', '*', true, '^.*'),
         |  ('cdn.static.tracker.net', '*', 'disallow', '/doc$$', true,
         |    '^/doc$$')),
         |grp AS (
         |  SELECT host, rule, prefix, wild, rx FROM (
         |    SELECT *,
         |      CASE WHEN agent = 'graftbot' THEN 1 ELSE 0 END AS spec,
         |      max(CASE WHEN agent = 'graftbot' THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY host) AS bs
         |    FROM rules WHERE agent IN ('graftbot', '*'))
         |  WHERE spec = bs),
         |u AS (
         |  SELECT doc_id, 'doc' AS kind,
         |    [$hostList][(doc_id % 6 + 1)::INT] AS host,
         |    '/doc/' || doc_id::VARCHAR AS path
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'dat', [$hostList][(doc_id % 6 + 1)::INT],
         |    '/files/' || doc_id::VARCHAR || '.dat'
         |  FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL
         |  SELECT doc_id, 'bare', [$hostList][(doc_id % 6 + 1)::INT], '/doc'
         |  FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, 'pdata', [$hostList][(doc_id % 6 + 1)::INT],
         |    '/private/data/' || doc_id::VARCHAR
         |  FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id, 'pexact', [$hostList][(doc_id % 6 + 1)::INT],
         |    '/private/data'
         |  FROM documents WHERE doc_id % 7 = 0),
         |m AS (
         |  SELECT u.doc_id, u.kind, length(g.prefix) AS l,
         |    CASE WHEN g.rule = 'allow' THEN 1 ELSE 0 END AS aw
         |  FROM u JOIN grp g
         |    ON g.host = u.host AND (CASE WHEN g.wild
         |      THEN regexp_matches(u.path, g.rx)
         |      ELSE starts_with(u.path, g.prefix) END)),
         |best AS (
         |  SELECT doc_id, kind, arg_max(aw, l * 2 + aw) AS aw_best
         |  FROM m GROUP BY doc_id, kind)
         |SELECT u.doc_id, u.kind,
         |  coalesce(best.aw_best = 1, true) AS allowed
         |FROM u LEFT JOIN best USING (doc_id, kind)
         |ORDER BY doc_id, kind""".stripMargin
    },

    // crlf spelled as chr(13)||chr(10); body bytes are the DECODED
    // entity bytes — the page html for responses (whatever the wire
    // encoding), the raw payload for request/warcinfo records.
    "q214_warc_records" ->
      s"""WITH c AS (SELECT chr(13) || chr(10) AS crlf),
         |page AS (
         |  SELECT doc_id, $pageHtmlSql AS html FROM documents),
         |resp AS (SELECT doc_id, strlen(html) AS body FROM page),
         |req AS (
         |  SELECT doc_id,
         |    strlen('GET /doc/' || doc_id::VARCHAR || ' HTTP/1.1' || crlf ||
         |      'Host: example.com' || crlf || 'User-Agent: graft' || crlf || crlf)
         |      AS body
         |  FROM documents, c),
         |info AS (
         |  SELECT strlen('software: graft-warc/1.0' || crlf ||
         |    'format: WARC/1.0' || crlf) AS body
         |  FROM range(8), c)
         |SELECT * FROM (
         |  SELECT 'request' AS warc_type, count(*) AS n_records,
         |    CAST(sum(body) AS BIGINT) AS body_bytes,
         |    CAST(0 AS BIGINT) AS n_http_ok
         |  FROM req
         |  UNION ALL
         |  SELECT 'response', count(*),
         |    CAST(sum(body) AS BIGINT), count(*) FROM resp
         |  UNION ALL
         |  SELECT 'warcinfo', count(*),
         |    CAST(sum(body) AS BIGINT), CAST(0 AS BIGINT) FROM info)
         |ORDER BY warc_type""".stripMargin,

    "q215_warc_extract" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",

    // one pair per document; request bytes and DECODED response entity
    // bytes are closed-form from the fixture templates
    "q225_warc_pairing" ->
      s"""WITH c AS (SELECT chr(13) || chr(10) AS crlf),
         |page AS (
         |  SELECT doc_id, $pageHtmlSql AS html FROM documents)
         |SELECT doc_id, true AS uri_match,
         |  CAST(strlen('GET /doc/' || doc_id::VARCHAR || ' HTTP/1.1' || crlf ||
         |    'Host: example.com' || crlf || 'User-Agent: graft' || crlf || crlf)
         |    AS BIGINT) AS req_bytes,
         |  CAST(strlen(html) AS BIGINT) AS resp_body_bytes
         |FROM page, c ORDER BY doc_id""".stripMargin,

    // byte-exact WET round trip: extraction recovers documents.text
    // (q215), the conversion shards must hand it back unchanged with
    // the refers-to link intact
    "q226_wet_export" ->
      "SELECT doc_id, text, true AS refers_ok FROM documents ORDER BY doc_id",

    // Full-cycle recompute of the streaming crawl loop, per shard
    // cohort (shard = doc_id % 8; each micro-batch is one shard file):
    // URL canonicalization collapse (the same canonicalizeSql as q220),
    // min-id-per-text exact dedup, intra-shard exact-Jaccard trigram
    // components (recursive closure), corpus text-match kill against
    // documents with doc_id % 5 <> 0, and the cross-corpus Jaccard
    // probe — the q80/q81 oracle discipline applied per batch.
    // sink_match is structurally true: survivors appended == ledger.
    "q227_stream_crawl_ingest" -> {
      val canon = UrlOps.canonicalizeSql("url")
      s"""WITH RECURSIVE
         |u AS (
         |  SELECT doc_id,
         |    'http://example.com/doc/' || doc_id::VARCHAR AS url
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id,
         |    'HTTP://Example.COM:80/doc/' || doc_id::VARCHAR ||
         |      '?utm_source=feed#frag'
         |  FROM documents WHERE doc_id % 7 = 0),
         |cu AS (SELECT doc_id, $canon AS canon FROM u),
         |urlkept AS (SELECT min(doc_id) AS doc_id FROM cu GROUP BY canon),
         |ex AS (
         |  SELECT d.doc_id % 8 AS shard, min(k.doc_id) AS bid, d.text
         |  FROM urlkept k JOIN documents d ON d.doc_id = k.doc_id
         |  GROUP BY d.doc_id % 8, d.text),
         |btoks AS (SELECT bid, string_split(text, ' ') ts FROM ex),
         |bidx AS (SELECT bid, ts, unnest(range(1, len(ts) - 1)) i
         |         FROM btoks WHERE len(ts) >= 3),
         |bsh AS (SELECT DISTINCT bid,
         |          ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] s FROM bidx),
         |bsz AS (SELECT bid, count(*) n FROM bsh GROUP BY 1),
         |binter AS (
         |  SELECT a.bid ba, b.bid bb, count(*) c
         |  FROM bsh a JOIN bsh b
         |    ON a.s = b.s AND a.bid < b.bid AND a.bid % 8 = b.bid % 8
         |  GROUP BY 1, 2),
         |bedges AS (
         |  SELECT ba, bb FROM binter
         |  JOIN bsz x ON x.bid = ba JOIN bsz y ON y.bid = bb
         |  WHERE c * 1.0 / (x.n + y.n - c) >= 0.5),
         |bsym AS (SELECT ba s, bb d FROM bedges UNION ALL SELECT bb, ba FROM bedges),
         |breach AS (
         |  SELECT bid AS id, bid AS r FROM ex
         |  UNION
         |  SELECT breach.id, bsym.d FROM breach JOIN bsym ON breach.r = bsym.s),
         |intra AS (
         |  SELECT id AS bid FROM (SELECT id, min(r) comp FROM breach GROUP BY id)
         |  WHERE id = comp),
         |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         |noexact AS (
         |  SELECT i.bid FROM intra i JOIN ex ON ex.bid = i.bid
         |  WHERE ex.text NOT IN (SELECT text FROM corpus)),
         |ctoks AS (SELECT doc_id, string_split(text, ' ') ts FROM corpus),
         |cidx AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) i
         |         FROM ctoks WHERE len(ts) >= 3),
         |csh AS (SELECT DISTINCT doc_id,
         |          ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] s FROM cidx),
         |csz AS (SELECT doc_id, count(*) n FROM csh GROUP BY 1),
         |xinter AS (
         |  SELECT b.bid, c.doc_id, count(*) cc
         |  FROM bsh b JOIN noexact i ON i.bid = b.bid JOIN csh c ON b.s = c.s
         |  GROUP BY 1, 2),
         |xhit AS (
         |  SELECT DISTINCT x.bid FROM xinter x
         |  JOIN bsz bz ON bz.bid = x.bid JOIN csz cz ON cz.doc_id = x.doc_id
         |  WHERE cc * 1.0 / (bz.n + cz.n - cc) >= 0.5),
         |surv AS (SELECT bid FROM noexact WHERE bid NOT IN (SELECT bid FROM xhit)),
         |nb AS (SELECT doc_id % 8 AS shard, count(*)::BIGINT n_batch
         |       FROM u GROUP BY 1),
         |nurl AS (SELECT doc_id % 8 AS shard, count(*)::BIGINT n_after_url
         |         FROM urlkept GROUP BY 1),
         |nex AS (SELECT shard, count(*)::BIGINT n_after_exact FROM ex GROUP BY 1),
         |nintra AS (SELECT bid % 8 AS shard, count(*)::BIGINT n_after_intra
         |           FROM intra GROUP BY 1),
         |nsurv AS (SELECT bid % 8 AS shard, count(*)::BIGINT n_survivors
         |          FROM surv GROUP BY 1)
         |SELECT nb.shard::BIGINT AS shard, n_batch, n_after_url, n_after_exact,
         |  n_after_intra, coalesce(n_survivors, 0)::BIGINT AS n_survivors,
         |  true AS sink_match
         |FROM nb JOIN nurl USING (shard) JOIN nex USING (shard)
         |  JOIN nintra USING (shard) LEFT JOIN nsurv USING (shard)
         |ORDER BY shard""".stripMargin
    },

    // the streaming twin lands on the identical corpus-recovery contract
    "q222_warc_stream" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",

    // the frontier recomputed relationally: per-shard arrivals, distinct
    // canonical URLs within the shard, first-shard-wins across shards
    "q241_url_seen_ingest" -> {
      val canon = UrlOps.canonicalizeSql("url")
      s"""WITH r AS (
         |  SELECT doc_id % 4 AS shard,
         |    'http://example.com/doc/' || doc_id::VARCHAR AS url
         |  FROM documents
         |  UNION ALL
         |  SELECT 3, 'HTTP://Example.COM:80/doc/' || doc_id::VARCHAR ||
         |    '?utm_source=feed#frag'
         |  FROM documents WHERE doc_id % 8 = 1
         |  UNION ALL
         |  SELECT 3, 'http://example.com:80/doc/' || doc_id::VARCHAR ||
         |    '/?fbclid=zz'
         |  FROM documents WHERE doc_id % 8 = 3),
         |c AS (SELECT shard, $canon AS canon FROM r),
         |nb AS (SELECT shard, count(*)::BIGINT AS n_batch FROM c GROUP BY 1),
         |nd AS (SELECT shard, count(DISTINCT canon)::BIGINT AS n_after_batch
         |       FROM c GROUP BY 1),
         |firsts AS (SELECT canon, min(shard) AS shard FROM c GROUP BY 1),
         |nn AS (SELECT shard, count(*)::BIGINT AS n_new FROM firsts GROUP BY 1)
         |SELECT nb.shard::BIGINT AS shard, n_batch, n_after_batch,
         |  coalesce(n_new, 0)::BIGINT AS n_new
         |FROM nb JOIN nd USING (shard) LEFT JOIN nn USING (shard)
         |ORDER BY shard""".stripMargin
    },

    "q239_domain_stats" ->
      s"""WITH $domainFixtureSql
         |SELECT domain, count(*) AS n_docs,
         |  count(DISTINCT host) AS n_hosts,
         |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
         |FROM dom GROUP BY domain ORDER BY domain""".stripMargin,

    // the PSL algorithm recomputed relationally: every k-label suffix
    // of the host is a candidate, candidates join the normalized rule
    // rows (exception / wildcard / exact, each with its own label
    // arithmetic), and arg_max over (exception-first, most-labels)
    // picks the prevailing public suffix; no match = the implicit '*'
    "q246_domain_psl" -> {
      val hostList = PslHosts.map(h => s"'$h'").mkString(", ")
      val sxList = PslSuffixes.map(e => s"('$e')").mkString(", ")
      s"""WITH sx(entry) AS (VALUES $sxList),
         |rl AS (
         |  SELECT CASE WHEN entry LIKE '!%' THEN entry[2:]
         |              WHEN entry LIKE '*.%' THEN entry[3:]
         |              ELSE entry END AS key,
         |    entry LIKE '!%' AS exc, entry LIKE '*.%' AS wild,
         |    NOT (entry LIKE '!%' OR entry LIKE '*.%') AS ex
         |  FROM sx),
         |u AS (
         |  SELECT doc_id, text,
         |    'https://' || [$hostList][(doc_id % 8 + 1)::INT] ||
         |      '/doc/' || doc_id::VARCHAR AS uri
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, text,
         |    lower(regexp_extract(uri, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)', 1))
         |      AS host
         |  FROM u),
         |lab AS (
         |  SELECT doc_id, text, host, string_split(host, '.') AS ls,
         |    len(string_split(host, '.')) AS n
         |  FROM h),
         |ckey AS (
         |  SELECT doc_id, n, k, array_to_string(ls[n - k + 1 : n], '.') AS cand
         |  FROM (SELECT doc_id, n, ls, unnest(range(1, n + 1)) AS k FROM lab)),
         |m AS (
         |  SELECT c.doc_id, 2 AS pri, c.k - 1 AS ps
         |  FROM ckey c JOIN rl r ON r.key = c.cand AND r.exc
         |  UNION ALL
         |  SELECT c.doc_id, 1, c.k + 1
         |  FROM ckey c JOIN rl r ON r.key = c.cand AND r.wild
         |  WHERE c.n >= c.k + 1
         |  UNION ALL
         |  SELECT c.doc_id, 1, c.k
         |  FROM ckey c JOIN rl r ON r.key = c.cand AND r.ex),
         |-- (exception-first, most-labels) as ONE integer key: ps < 100
         |best AS (SELECT doc_id, arg_max(ps, pri * 100 + ps) AS ps
         |         FROM m GROUP BY doc_id),
         |dom AS (
         |  SELECT l.doc_id, l.text, l.host,
         |    CASE WHEN l.n <= coalesce(b.ps, 1) THEN l.host
         |         ELSE array_to_string(l.ls[l.n - coalesce(b.ps, 1) : l.n], '.')
         |    END AS domain
         |  FROM lab l LEFT JOIN best b USING (doc_id))
         |SELECT domain, count(*) AS n_docs,
         |  count(DISTINCT host) AS n_hosts,
         |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
         |FROM dom GROUP BY domain ORDER BY domain""".stripMargin
    },

    // q216's quality arithmetic verbatim, grouped by registered domain;
    // quality values are k/3 rounded to 6dp, so the 0.5 bar is far from
    // any representable value (no fp-boundary risk)
    "q244_domain_quality" ->
      s"""WITH $domainFixtureSql,
         |t AS (
         |  SELECT domain, regexp_split_to_array(lower(text), '\\s+') ltoks,
         |    len(regexp_split_to_array(text, '\\s+')) n_tok, text
         |  FROM dom),
         |m AS (
         |  SELECT domain, n_tok,
         |    len(list_filter(ltoks, x -> x IN ($stopList))) n_stop,
         |    CASE WHEN length(text) > 0
         |      THEN length(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
         |        / length(text)
         |      ELSE 0.0 END p_ratio
         |  FROM t),
         |q AS (
         |  SELECT domain,
         |    round((
         |      (CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) +
         |      (CASE WHEN n_tok > 0 AND n_stop::DOUBLE / n_tok > 0.01
         |        THEN 1.0 ELSE 0.0 END) +
         |      (CASE WHEN p_ratio < 0.2 THEN 1.0 ELSE 0.0 END)) / 3.0, 6)
         |      AS quality
         |  FROM m)
         |SELECT domain, count(*) AS n_docs,
         |  round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE), 6)
         |    AS sum_quality,
         |  CAST(sum(CASE WHEN quality < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_below_bar
         |FROM q GROUP BY domain ORDER BY domain""".stripMargin,

    "q240_domain_blocklist" ->
      s"""WITH $domainFixtureSql
         |SELECT domain, count(*) AS n_docs,
         |  count(DISTINCT host) AS n_hosts,
         |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
         |FROM dom
         |WHERE domain NOT IN ('tracker.net', 'phish.example')
         |GROUP BY domain ORDER BY domain""".stripMargin,

    "q220_url_canonicalize" -> {
      val canon = UrlOps.canonicalizeSql("url")
      s"""WITH v AS (
         |  SELECT doc_id, unnest([
         |    'HTTP://Example.COM:80/Doc/' || doc_id::VARCHAR ||
         |      '/?utm_source=feed&ref=' || lang || '#top',
         |    'http://example.com/Doc/' || doc_id::VARCHAR ||
         |      '?ref=' || lang || '&utm_medium=mail',
         |    'https://Example.com:443/Doc/' || doc_id::VARCHAR || '?gclid=abc123'
         |  ]) AS url FROM documents),
         |c AS (SELECT doc_id, $canon AS canon,
         |  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)', 1))
         |    AS host
         |  FROM v)
         |SELECT doc_id, count(*) AS n_urls,
         |  count(DISTINCT canon) AS n_canon,
         |  min(canon) AS first_canon,
         |  count(DISTINCT host) AS n_hosts
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // q73's oracle verbatim: extraction is byte-transparent, so the
    // expected curation report over the extracted corpus IS the
    // expected report over documents.
    "q218_warc_to_curation" ->
      graft.text.TextQueries.oracles("q73_curation_report"),

    "q216_warc_curation" ->
      s"""WITH t AS (
         |  SELECT regexp_split_to_array(lower(text), '\\s+') ltoks,
         |    len(regexp_split_to_array(text, '\\s+')) n_tok, text
         |  FROM documents),
         |m AS (
         |  SELECT n_tok, text,
         |    len(list_filter(ltoks, x -> x IN ($stopList))) n_stop,
         |    len(list_filter(ltoks, x -> x IN ('the','and','of','is','with'))) en,
         |    len(list_filter(ltoks, x -> x IN ('der','die','und','das','mit'))) de,
         |    len(list_filter(ltoks, x -> x IN ('le','la','et','les','des'))) fr,
         |    len(list_filter(ltoks, x -> x IN ('el','los','las','una','con'))) es,
         |    CASE WHEN length(text) > 0
         |      THEN length(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
         |        / length(text)
         |      ELSE 0.0 END p_ratio
         |  FROM t),
         |q AS (
         |  SELECT
         |    CASE
         |      WHEN en > 0 AND en >= de AND en >= fr AND en >= es THEN 'en'
         |      WHEN de > 0 AND de >= fr AND de >= es THEN 'de'
         |      WHEN fr > 0 AND fr >= es THEN 'fr'
         |      WHEN es > 0 THEN 'es'
         |      ELSE 'und' END lang_pred,
         |    n_stop,
         |    round((
         |      (CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) +
         |      (CASE WHEN n_tok > 0 AND n_stop::DOUBLE / n_tok > 0.01
         |        THEN 1.0 ELSE 0.0 END) +
         |      (CASE WHEN p_ratio < 0.2 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
         |  FROM m)
         |SELECT lang_pred, count(*) AS n_docs,
         |  CAST(sum(n_stop) AS BIGINT) AS sum_stopwords,
         |  round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE), 6)
         |    AS sum_quality
         |FROM q GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
