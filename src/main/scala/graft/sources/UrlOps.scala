package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization — the dedup key real crawl pipelines compute
  * BEFORE any text-level dedup (the same page is fetched under
  * `HTTP://Host/x?utm_source=…#frag` variants; canonicalizing collapses
  * them so one fetch survives). Pure builtin Column expressions (regex +
  * array HOFs, whole-stage codegen, no UDFs, no kernel): the DuckDB
  * oracle mirrors each step with the same RE2/Java-neutral patterns —
  * the q46 PII-redaction discipline.
  *
  * Canonical form:
  *  - scheme and host lowercased (path/query case preserved)
  *  - default ports stripped (`http://h:80` → `http://h`,
  *    `https://h:443` → `https://h`)
  *  - fragment stripped
  *  - tracking params dropped (`utm_*`, `fbclid`, `gclid`), remaining
  *    params kept IN ORDER (order can be semantic; sorting is a
  *    different policy); an emptied query drops its `?`
  *  - trailing slash trimmed from a non-root path
  */
object UrlOps {

  private val SchemeHost = "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)"
  private val Tracking = "^(utm_[A-Za-z]+|fbclid|gclid)="

  /** Lowercased host (no port, no scheme); '' for scheme-less input. */
  def host(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)", 1))

  /** The path (no query, no fragment); '' for scheme-less input. */
  def path(url: Column): Column =
    regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)

  def canonicalize(url: Column): Column = {
    // 1. strip the fragment
    val noFrag = regexp_replace(url, "#.*$", "")
    // 2. split into scheme://host[:port] prefix and the rest
    val prefix0 = lower(regexp_extract(noFrag, SchemeHost, 1))
    val rest = regexp_replace(noFrag, SchemeHost, "")
    // 3. default ports off the lowercased prefix
    val prefix = regexp_replace(
      regexp_replace(prefix0, "^(http://[^/?#:]*):80$", "$1"),
      "^(https://[^/?#:]*):443$", "$1")
    // 4. path / query split on the remainder
    val path0 = regexp_replace(rest, "\\?.*$", "")
    val query = when(rest.contains("?"), regexp_replace(rest, "^[^?]*\\?", ""))
      .otherwise(lit(""))
    // 5. drop tracking params, keep the rest in order
    val keptParams = filter(split(query, "&"),
      p => !(p.rlike(Tracking) || p === ""))
    val cleanQuery = array_join(keptParams, "&")
    // 6. trailing slash off a non-root path
    val path = regexp_replace(path0, "(.)/$", "$1")
    concat(prefix, path,
      when(cleanQuery === "", lit("")).otherwise(concat(lit("?"), cleanQuery)))
  }

  /** The DuckDB mirror of [[canonicalize]] as a SQL expression over a
    * column reference — single source of truth for the oracle strings
    * (each step is the same pattern the Column chain applies).
    */
  def canonicalizeSql(colRef: String): String = {
    val noFrag = s"regexp_replace($colRef, '#.*$$', '')"
    val prefix0 = s"lower(regexp_extract($noFrag, '$SchemeHost', 1))"
    val rest = s"regexp_replace($noFrag, '$SchemeHost', '')"
    val prefix = "regexp_replace(regexp_replace(" + prefix0 +
      ", '^(http://[^/?#:]*):80$', '\\1'), '^(https://[^/?#:]*):443$', '\\1')"
    val path0 = s"regexp_replace($rest, '\\?.*$$', '')"
    val query = s"CASE WHEN contains($rest, '?') " +
      s"THEN regexp_replace($rest, '^[^?]*\\?', '') ELSE '' END"
    // coalesce: DuckDB's array_to_string yields NULL (not '') when the
    // filter empties the list, which would NULL the whole concatenation
    val cleanQuery = "coalesce(array_to_string(list_filter(string_split(" + query +
      s", '&'), p -> NOT regexp_matches(p, '$Tracking') AND p <> ''), '&'), '')"
    val path = s"regexp_replace($path0, '(.)/$$', '\\1')"
    s"$prefix || $path || (CASE WHEN $cleanQuery = '' THEN '' " +
      s"ELSE '?' || $cleanQuery END)"
  }
}
