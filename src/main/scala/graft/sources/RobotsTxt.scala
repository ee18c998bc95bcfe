package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** robots.txt (RFC 9309, the Robots Exclusion Protocol) — the crawl
  * loop's POLITENESS gate, the URL-side stage that runs beside the
  * domain blocklist ([[Domains]]) and the seen-set: parse per-host
  * robots bodies into (host, agent, rule, prefix) rows, then give every
  * candidate URL an allow/deny verdict by the RFC's rules:
  *
  *  - group selection: the group whose `User-agent` token exactly
  *    matches the crawler (case-insensitive) if one exists, else the
  *    `*` group; no applicable group → allowed.
  *  - rule selection within the group: the LONGEST matching rule wins
  *    (most octets of the PATTERN, RFC 9309 §2.2.2); on a length tie
  *    the LEAST RESTRICTIVE rule (allow) wins; no matching rule →
  *    allowed.
  *  - path patterns per RFC 9309 §2.2.3: literal prefixes match by
  *    startsWith; `*` matches any character sequence and a TRAILING
  *    `$` anchors the end of the path (a mid-pattern `$` is literal,
  *    the Googlebot convention) — wildcard rules compile to anchored
  *    regexes on the (tiny, broadcast) rules side, literal rules keep
  *    the cheaper startsWith fast path.
  *
  * Scale shape: rules tables are per-host and tiny (a few rows per
  * registered host — broadcast side by construction), so the verdict is
  * a host equi-join with an in-row prefix filter and one max_by
  * aggregate per URL: cost ∝ URL batch × rules-per-host, never a
  * cartesian, never a corpus shuffle.
  */
object RobotsTxt {

  /** Parse robots.txt bodies into rule rows `(host, agent, rule,
    * prefix)` with `rule ∈ {allow, disallow}`. Per RFC 9309: `#`
    * comments stripped, keys case-insensitive, CRLF tolerated,
    * consecutive `User-agent` lines share one group, unknown directives
    * ignored, and an EMPTY prefix (`Disallow:` with no value — the
    * classic allow-all idiom) parses to no rule row at all.
    *
    * Parsing is per-document imperative state (group accumulation), so
    * it rides a flatMap like the WARC codec — one pass, no UDF in any
    * hot aggregation path.
    */
  def parseRules(robots: DataFrame, hostCol: String, bodyCol: String): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol).cast("string").as("host"),
        col(bodyCol).cast("string").as("body"))
      .as[(String, String)]
      .flatMap { case (host, body) =>
        if (host == null || body == null) Iterator.empty
        else {
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String)]
          var agents = List.empty[String]
          var inGroupRules = false // rules seen since the last User-agent run
          body.split("\r?\n").iterator.foreach { raw =>
            val line = raw.takeWhile(_ != '#').trim
            val k = line.indexOf(':')
            if (k > 0) {
              val key = line.substring(0, k).trim.toLowerCase(java.util.Locale.ROOT)
              val value = line.substring(k + 1).trim
              key match {
                case "user-agent" =>
                  // a User-agent after rules starts a NEW group; one
                  // inside a User-agent run extends the current group
                  if (inGroupRules) { agents = Nil; inGroupRules = false }
                  agents = value.toLowerCase(java.util.Locale.ROOT) :: agents
                case "allow" | "disallow" =>
                  inGroupRules = true
                  if (value.nonEmpty) // empty prefix = allow-all idiom: no rule
                    agents.foreach(a => out += ((host, a, key, value)))
                case _ => () // crawl-delay, sitemap, unknown: ignored
              }
            }
          }
          out.iterator
        }
      }
      .toDF("host", "agent", "rule", "prefix")
  }

  /** `Crawl-delay` directives per (host, agent) — the de-facto
    * politeness extension (RFC 9309 §2.2.4 "other records", carried by
    * the user-agent group). Same one-pass state machine as
    * [[parseRules]] with the SAME group-boundary convention (only
    * allow/disallow end a user-agent run — a crawl-delay between
    * user-agent lines leaves the run open); non-positive or
    * unparseable values are ignored. Feed [[delayFor]] → the
    * [[CrawlBudget]] politeness cap.
    */
  def parseDelays(robots: DataFrame, hostCol: String, bodyCol: String): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol).cast("string").as("host"),
        col(bodyCol).cast("string").as("body"))
      .as[(String, String)]
      .flatMap { case (host, body) =>
        if (host == null || body == null) Iterator.empty
        else {
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
          var agents = List.empty[String]
          var inGroupRules = false
          body.split("\r?\n").iterator.foreach { raw =>
            val line = raw.takeWhile(_ != '#').trim
            val k = line.indexOf(':')
            if (k > 0) {
              val key = line.substring(0, k).trim.toLowerCase(java.util.Locale.ROOT)
              val value = line.substring(k + 1).trim
              key match {
                case "user-agent" =>
                  if (inGroupRules) { agents = Nil; inGroupRules = false }
                  agents = value.toLowerCase(java.util.Locale.ROOT) :: agents
                case "allow" | "disallow" =>
                  inGroupRules = true
                case "crawl-delay" =>
                  value.toDoubleOption.filter(_ > 0).foreach { d =>
                    agents.foreach(a => out += ((host, a, d)))
                  }
                case _ => ()
              }
            }
          }
          out.iterator
        }
      }
      .toDF("host", "agent", "delay_seconds")
  }

  /** Effective per-host crawl delay for `agent`: the specific-agent
    * group beats `*` (the [[verdicts]] selection rule), and the MINIMUM
    * within the chosen group wins — wait the shortest the site asked
    * for, never longer (multiple directives in one group are a site
    * authoring quirk; min is deterministic and conservative about
    * throughput, max would be conservative about politeness — callers
    * wanting that can aggregate the raw [[parseDelays]] rows). Hosts
    * with no applicable directive are ABSENT: the budget op's default
    * applies.
    */
  def delayFor(delays: DataFrame, agent: String): DataFrame = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    val applicable = delays
      .filter(col("agent") === a || col("agent") === "*")
      .withColumn("spec", when(col("agent") === a, 1).otherwise(0))
    val best = applicable
      .groupBy(col("host")).agg(max(col("spec")).as("best_spec"))
    applicable.join(best, Seq("host"))
      .filter(col("spec") === col("best_spec"))
      .groupBy(col("host"))
      .agg(min(col("delay_seconds")).as("delay_seconds"))
  }

  /** `Sitemap:` directives — per sitemaps.org (and RFC 9309 §2.3's
    * other-records clause) they are HOST-WIDE, independent of
    * user-agent groups, so extraction is one pure-Column multiline
    * regex pass (no state machine): `(host, sitemap_url)` rows, inline
    * comments stripped, blanks dropped. The URLs feed the fetcher whose
    * responses [[Sitemaps.urls]] then parses into frontier seeds.
    */
  def sitemapRefs(robots: DataFrame, hostCol: String, bodyCol: String): DataFrame =
    robots.select(col(hostCol).cast("string").as("host"),
        explode(regexp_extract_all(col(bodyCol).cast("string"),
          lit("(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*([^#\\r\\n]+)"),
          lit(1))).as("sitemap_url"))
      .select(col("host"), trim(col("sitemap_url")).as("sitemap_url"))
      .where(col("sitemap_url") =!= "")

  /** The robots.txt FETCHES inside a WARC record batch — the
    * self-hosted rules source: a real crawler's robots bodies arrive
    * IN its own drops (fetches of `/robots.txt`, the RFC 9309 §2.3
    * well-known path), not as a side parquet. Returns one `(host,
    * body)` row per fetched host; a host fetched twice in one batch
    * keeps the lexicographically greatest body (deterministic — feed
    * canonically deduped batches and it never fires). Query strings
    * are ignored in the path test (RFC: the resource is the path).
    *
    * Only full `response` captures qualify (`warc_type = 'response'`
    * AND `truncated IS NULL`). This gate is load-bearing: a WARC
    * `revisit` record for robots.txt (the fetcher's byte-identical-
    * capture dedup — header-only payload, so the envelope parses to
    * status 200 with an EMPTY body) is the COMMON case in refresh
    * crawls, and rolling its empty body latest-wins would erase the
    * host's Disallow rules — empty robots = allow-all, the exact
    * RFC 9309 failure the self-hosted roll exists to prevent. A
    * `WARC-Truncated` capture likewise carries a partial (more
    * permissive) rule set. Both are no-ops here: a revisit CONFIRMS
    * the rolled body, it never replaces it. The column names are
    * parameters so fixture frames must carry them — a frame without
    * the columns fails analysis loudly rather than skipping the gate.
    */
  def fetchesIn(records: DataFrame,
      uriCol: String = "target_uri",
      statusCol: String = "http_status",
      bodyCol: String = "body",
      typeCol: String = "warc_type",
      truncatedCol: String = "truncated"): DataFrame = {
    val path = UrlOps.path(col(uriCol))
    records
      .where(col(statusCol) === 200 && path === "/robots.txt" &&
        col(typeCol) === "response" && col(truncatedCol).isNull)
      .select(UrlOps.host(col(uriCol)).as("host"),
        col(bodyCol).cast("string").as("body"))
      .where(col("host").isNotNull)
      .groupBy(col("host")).agg(max(col("body")).as("body"))
  }

  /** Roll a `(host, body)` robots-state frame forward with a drain's
    * fresh fetches: LATEST-FETCH-WINS per host — a site's robots
    * CHANGE takes effect on the next drain (RFC 9309 §2.4 caching; a
    * crawler blind to the change is the kind that gets blocked). Both
    * frames are per-host-tiny; the delete-and-insert is the
    * [[graft.dedup.UrlSeenSet.extend]] upsert shape.
    */
  def rollBodies(prev: DataFrame, fresh: DataFrame): DataFrame =
    prev
      .join(fresh.select(col("host").as("__h")),
        col("host") === col("__h"), "left_anti")
      .unionByName(fresh)

  /** One `(host, status)` row per host whose `/robots.txt` ANSWERED in
    * this record batch, any status — the input to the RFC 9309 §2.3.1.4
    * server-error latch ([[rollErrors]]). Per host the MINIMUM status
    * wins: a drain carrying both a 503 and a retried 200 for one host's
    * robots got a definitive answer (the 200), so the error latch must
    * not set. Unlike [[fetchesIn]] this keeps non-200 answers — a 5xx
    * here is exactly the observation the latch exists for.
    */
  def answersIn(records: DataFrame,
      uriCol: String = "target_uri",
      statusCol: String = "http_status",
      typeCol: String = "warc_type"): DataFrame = {
    val path = UrlOps.path(col(uriCol))
    records
      .where(col(typeCol) === "response" && path === "/robots.txt" &&
        col(statusCol).isNotNull)
      .select(UrlOps.host(col(uriCol)).as("host"),
        col(statusCol).cast("int").as("status"))
      .where(col("host").isNotNull)
      .groupBy(col("host")).agg(min(col("status")).as("status"))
  }

  /** Roll the per-host robots SERVER-ERROR state `(host, err_since)`
    * forward with one drain's [[answersIn]] rows at crawl-clock `t`:
    * a 5xx answer latches `err_since = t` for a host not already
    * latched (the EARLIEST error starts the cached window — RFC 9309
    * §2.3.1.4: a cached copy MAY serve for a reasonable period, after
    * which persistent server error means complete disallow); any
    * sub-500 answer (fresh rules, a 404 = no-robots allow-all, even a
    * redirect) clears the latch. State is scanned, never shuffled —
    * the per-drain answer set is broadcast into the anti joins.
    */
  def rollErrors(prev: DataFrame, answers: DataFrame, t: Double): DataFrame = {
    val errs = answers.where(col("status") >= 500).select(col("host"))
    val clears = answers.where(col("status") < 500)
      .select(col("host").as("__c"))
    val kept = prev.join(broadcast(clears),
      col("host") === col("__c"), "left_anti")
    val newErrs = errs
      .join(broadcast(prev.select(col("host").as("__e"))),
        col("host") === col("__e"), "left_anti")
      .select(col("host"), lit(t).as("err_since"))
    kept.unionByName(newErrs)
  }

  /** The EFFECTIVE rules under the server-error latch: hosts whose
    * robots has been answering 5xx for at least `cachedWindow` drains
    * (as of crawl-clock `asOf`) gate to COMPLETE DISALLOW — their
    * parsed rules are REPLACED by a single `Disallow: /` (replaced,
    * not augmented: a surviving longer `Allow:` rule would win the
    * longest-match tie-break and defeat the RFC's mandate). Inside
    * the window the cached rules apply unchanged. The error state is
    * per-host-tiny — both joins broadcast it.
    */
  def withErrorDisallow(rules: DataFrame, errState: DataFrame,
      asOf: Double, cachedWindow: Double): DataFrame = {
    val due = errState
      .where(lit(asOf) - col("err_since") >= lit(cachedWindow))
      .select(col("host"))
    rules.join(broadcast(due.select(col("host").as("__h"))),
        col("host") === col("__h"), "left_anti")
      .unionByName(due.select(col("host"), lit("*").as("agent"),
        lit("disallow").as("rule"), lit("/").as("prefix")))
  }

  /** A rule pattern compiled to an anchored Java/RE2-neutral regex:
    * specials escaped, `*` → `.*`, a TRAILING `$` → the end anchor.
    * Pure Column ops over the tiny rules frame — the per-row regex
    * compile at match time touches only broadcast-side patterns.
    */
  private[sources] def patternRegex(pattern: Column): Column = {
    // escape every regex special EXCEPT '*' (the wildcard survives)
    val esc = regexp_replace(pattern, "([\\\\.\\[\\]{}()+?^$|\\-])", "\\\\$1")
    val wild = regexp_replace(esc, "\\*", ".*")
    val anchored = when(pattern.endsWith("$"),
      concat(regexp_replace(wild, "\\\\\\$$", ""), lit("$"))).otherwise(wild)
    concat(lit("^"), anchored)
  }

  /** True when the pattern needs the regex path ('*' anywhere, or a
    * trailing '$'); literal prefixes keep startsWith.
    */
  private[sources] def isWildcard(pattern: Column): Column =
    pattern.contains("*") || pattern.endsWith("$")

  /** Per-URL allow/deny verdicts for `agent`: `urls` columns plus
    * `allowed`. Group selection, longest-match (pattern octets),
    * allow-on-tie, `*`/`$` wildcard patterns, and allowed-by-default
    * all per RFC 9309 (object scaladoc). The rules side is broadcast
    * (per-host rules are tiny by construction).
    */
  def verdicts(urls: DataFrame, urlCol: String, rules: DataFrame,
      agent: String): DataFrame = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    // group selection per host: specific agent beats '*'
    val applicable = rules
      .filter(col("agent") === a || col("agent") === "*")
      .withColumn("spec", when(col("agent") === a, 1).otherwise(0))
    val best = applicable
      .groupBy(col("host")).agg(max(col("spec")).as("best_spec"))
    // ONE ROW PER HOST, rules collected into an array (r19, guide §2.4):
    // the verdict then computes IN-ROW on a single host equi-join —
    // the old shape fanned every URL out against its host's rules,
    // aggregated the max back per URL (a URL-batch-sized exchange) and
    // re-joined the verdicts onto the batch (a second join). Both of
    // those are gone at any scale: the only remaining shuffles are on
    // the RULES side (per-host and tiny by construction).
    val group = applicable.join(best, Seq("host"))
      .filter(col("spec") === col("best_spec"))
      .select(col("host").as("r_host"),
        struct(length(col("prefix")).as("l"),
          (col("rule") === "allow").as("a"),
          col("prefix").as("p"),
          isWildcard(col("prefix")).as("w"),
          patternRegex(col("prefix")).as("rx")).as("__r"))
      .groupBy(col("r_host")).agg(collect_list(col("__r")).as("__rules"))

    // RFC 9309 treats a bare-host URL's empty path as "/" — without the
    // normalization, "" startsWith no prefix and even a host-wide
    // `Disallow: /` would be bypassed (r14 ADVICE)
    val rawPath =
      regexp_replace(col(urlCol), "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    val withKey = urls
      .withColumn("__host", UrlOps.host(col(urlCol)))
      .withColumn("__path", when(rawPath === "", lit("/")).otherwise(rawPath))
    // in-row verdict: filter the host's rules to the matching ones
    // (startsWith fast path, regex only for wildcard rules), then the
    // RFC max — (pattern length, allow-wins-tie) lexicographic max as an
    // array_max over (l, a) structs. Empty/absent rules → allowed.
    val path = col("__path")
    val matchedBest = array_max(transform(
      filter(col("__rules"), r =>
        when(r.getField("w"), regexp_like(path, r.getField("rx")))
          .otherwise(path.startsWith(r.getField("p")))),
      r => struct(r.getField("l").as("l"), r.getField("a").as("a"))))
    withKey
      .join(broadcast(group), col("__host") === col("r_host"), "left")
      .withColumn("allowed", coalesce(matchedBest.getField("a"), lit(true)))
      .drop("r_host", "__rules", "__host", "__path")
  }

  /** Drop disallowed URLs — the filter form of [[verdicts]], the shape
    * the crawl loop composes (beside `Domains.filterBlocked`).
    */
  def filterAllowed(urls: DataFrame, urlCol: String, rules: DataFrame,
      agent: String): DataFrame =
    verdicts(urls, urlCol, rules, agent).filter(col("allowed")).drop("allowed")
}
