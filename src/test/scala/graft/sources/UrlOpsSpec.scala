package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class UrlOpsSpec extends SparkSpec {
  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("url").select(UrlOps.canonicalize(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq

  test("case, default port, fragment, trailing slash, tracking params") {
    assert(canon("HTTP://Example.COM:80/Path/X/?utm_source=a&id=1&utm_medium=b#frag")
      == Seq("http://example.com/Path/X?id=1"))
    assert(canon("https://Host.IO:443/a") == Seq("https://host.io/a"))
    // non-default port survives; path case preserved
    assert(canon("http://h:8080/A/B/") == Seq("http://h:8080/A/B"))
  }

  test("query handling: emptied query drops '?', order preserved, root slash kept") {
    assert(canon("http://h/p?fbclid=xyz") == Seq("http://h/p"))
    assert(canon("http://h/p?b=2&a=1") == Seq("http://h/p?b=2&a=1"))
    assert(canon("http://h/") == Seq("http://h/")) // root path: slash is the path
    assert(canon("http://h/p?gclid=1&keep=2&utm_x=3")
      == Seq("http://h/p?keep=2"))
  }

  test("host extraction") {
    val h = Seq("HTTPS://WWW.Example.org:8443/x?q=1")
      .toDF("url").select(UrlOps.host(col("url"))).head().getString(0)
    assert(h == "www.example.org")
  }

  test("path extraction: no query, no fragment, '' without a scheme") {
    val p = Seq("HTTP://h:80/robots.txt?x=1#f", "https://h", "https://h/a/b/", "/rel/x")
      .toDF("url").select(UrlOps.path(col("url"))).collect().map(_.getString(0)).toSeq
    assert(p == Seq("/robots.txt", "", "/a/b/", ""))
  }

  test("idempotence: canonicalizing a canonical url is a no-op") {
    val dirty = Seq(
      "HTTP://A.B:80/x/?utm_source=1&k=2#f",
      "https://C.d:443/y?gclid=z",
      "http://e/p?a=1&b=2")
    val once = canon(dirty: _*)
    assert(canon(once: _*) == once)
  }
}
