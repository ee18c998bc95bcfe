package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** sitemaps.org XML parsing — the OTHER frontier source beside page
  * outlinks ([[HtmlLinks]]): sites publish the URLs they WANT crawled
  * in `<urlset>` documents (and sitemap-index files pointing at more
  * sitemaps), advertised via robots.txt `Sitemap:` directives
  * ([[RobotsTxt.sitemapRefs]]). One regex pass pulls the `<loc>`
  * values; the five predefined XML entities are decoded (`&amp;` LAST,
  * so `&amp;lt;` round-trips correctly) — sitemap URLs routinely carry
  * `&amp;` in query strings. Works for both `<urlset>` and
  * `<sitemapindex>` bodies: a `<loc>` under an index names another
  * sitemap to fetch, under a urlset a page URL — the caller routes by
  * which body it fetched. Pure Column ops, DuckDB mirror for oracles.
  */
object Sitemaps {

  private val LocRe = "(?is)<loc>\\s*(.*?)\\s*</loc>"

  private def xmlUnescape(s: Column): Column = {
    val lt = regexp_replace(s, "&lt;", "<")
    val gt = regexp_replace(lt, "&gt;", ">")
    val quot = regexp_replace(gt, "&quot;", "\"")
    val apos = regexp_replace(quot, "&apos;", "'")
    regexp_replace(apos, "&amp;", "&")
  }

  /** All `<loc>` values in a sitemap/sitemap-index body, entity-decoded,
    * blanks dropped.
    */
  def urls(xml: Column): Column =
    filter(
      transform(
        regexp_extract_all(xml, lit(LocRe), lit(1)),
        l => xmlUnescape(l)),
      u => u =!= "")

  private val UrlBlockRe = "(?is)<url>(.*?)</url>"
  private val LastmodRe = "(?is)<lastmod>\\s*(.*?)\\s*</lastmod>"

  /** The `<url>` ENTRIES of a urlset with their freshness hint:
    * `array<struct<loc, lastmod>>` — `lastmod` is the raw W3C-datetime
    * string (null when the entry carries none; sitemaps.org makes it
    * optional). The hint is exactly the prior an adaptive re-crawl
    * schedule can seed intervals from
    * ([[RecrawlSchedule.seedFromLastmod]]): a recently-modified URL
    * deserves the base revisit interval, a years-old one starts backed
    * off. [[urls]] stays the loc-only extractor (it also reads
    * `<sitemapindex>` bodies, whose `<sitemap>` blocks this parser
    * deliberately ignores).
    */
  def entries(xml: Column): Column =
    filter(
      transform(
        regexp_extract_all(xml, lit(UrlBlockRe), lit(1)),
        b => struct(
          xmlUnescape(regexp_extract(b, LocRe, 1)).as("loc"),
          nullif(regexp_extract(b, LastmodRe, 1), lit("")).as("lastmod"))),
      e => e.getField("loc") =!= "")
}
