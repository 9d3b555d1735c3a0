package graft

import org.apache.spark.sql.functions._

/** Round-13 additions: multi-probe coarse IVF routing, RFC 3986
  * percent-encoding normalization, PSL-aware registrable domains,
  * charset-correct robots meta parsing, and robots.txt path rules. */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------ multi-probe IVF routing

  test("CoarseProbes is multi-probe (the single-probe skew fix)") {
    assert(operators.Vectors.CoarseProbes >= 2)
  }

  // -------------------------------- percent-encoding normalization

  test("pctNormalize: unreserved decode, hex uppercase, malformed/reserved kept") {
    val cases = Seq(
      // unreserved escapes decode (RFC 3986 §6.2.2.2)
      ("http://e.org/d%6fc/1", "http://e.org/doc/1"),
      ("http://e.org/%41%42%7e", "http://e.org/AB~"),
      ("http://e.org/x%2Dy%2e%5Fz", "http://e.org/x-y._z"),
      // reserved escapes stay escaped, hex uppercased (§6.2.2.1)
      ("http://e.org/a%2fb", "http://e.org/a%2Fb"),
      ("http://e.org/a%3db?x=%26", "http://e.org/a%3Db?x=%26"),
      // multibyte UTF-8 escapes stay (non-ASCII is not unreserved)
      ("http://e.org/caf%c3%a9", "http://e.org/caf%C3%A9"),
      // malformed escapes pass through untouched
      ("http://e.org/100%", "http://e.org/100%"),
      ("http://e.org/a%zzb", "http://e.org/a%zzb"),
      ("http://e.org/a%4", "http://e.org/a%4"),
      // no escapes at all: identity
      ("http://e.org/plain?a=1", "http://e.org/plain?a=1"))
    val got = cases.map(_._1).toDF("u")
      .select(RetiredFormulations.pctNormalize(col("u")).as("n"))
      .as[String].collect().toSeq
    assert(got === cases.map(_._2))
  }

  test("canonicalUrl: mixed-encoding variants collapse; kept escapes uppercase") {
    val cases = Seq(
      ("HTTP://example.org:80/d%6fc/9?utm_source=x", "http://example.org/doc/9"),
      ("http://Example.org/doc/9", "http://example.org/doc/9"),
      ("https://example.org/d%6Fc%2fs/9?a=1&b=%32", "https://example.org/doc%2Fs/9?a=1&b=2"),
      ("https://Example.org:443/doc%2Fs/9?b=2&a=1", "https://example.org/doc%2Fs/9?a=1&b=2"))
    val got = cases.map(_._1).toDF("url")
      .select(RetiredFormulations.canonicalUrl(col("url")).as("c"))
      .as[String].collect().toSeq
    assert(got === cases.map(_._2))
  }

  // --------------------------------- PSL-aware registrable domains

  test("registeredDomain: PSL multi-label suffixes, IPs and bare hosts stay whole") {
    val cases = Seq(
      ("www.site4.com", "site4.com"),
      ("news.a.site7.org", "site7.org"),
      // multi-label public suffixes: registrable = suffix + one label
      ("www.example.co.uk", "example.co.uk"),
      ("shop.deep.example.co.uk", "example.co.uk"),
      ("a.b.site.com.au", "site.com.au"),
      ("x.co.jp", "x.co.jp"),
      // a host that IS a public suffix stays whole
      ("co.uk", "co.uk"),
      // IPv4 hosts group as themselves, never as "0.1"
      ("192.168.0.1", "192.168.0.1"),
      ("10.3.0.1", "10.3.0.1"),
      // single-label hosts stay whole, never empty
      ("localhost", "localhost"),
      ("example.org", "example.org"))
    val got = cases.map(_._1).toDF("h")
      .select(functions.Urls.registeredDomain(col("h")).as("d"))
      .as[String].collect().toSeq
    assert(got === cases.map(_._2))
  }

  // ------------------------------- charset-correct robots meta (q268)

  test("decodeBody + metaRobots: cp1252 page with multibyte attribute parses") {
    // the marker ’ (0x92 in cp1252) is INVALID UTF-8 — an unconditional
    // UTF-8 decode mojibakes it to U+FFFD; decodeBody must not
    val html = "<html><head><meta name=\"robots\" data-mark=\"’€\" " +
      "content=\"noindex, nofollow\"></head><body>café</body></html>"
    val body = html.getBytes("windows-1252")
    val (cs, text) = sources.Warc.decodeBody("text/html; charset=windows-1252", body)
    assert(cs === "windows-1252")
    assert(text.contains("’€"))
    assert(operators.HtmlText.metaRobots(text) === "noindex, nofollow")
    // and the UTF-8 misread provably corrupts the marker
    assert(!new String(body, "UTF-8").contains("’€"))
  }

  // ------------------------------------------- robots.txt path rules

  private val robotsBody =
    """# fixture file
      |User-agent: crawlerx
      |User-agent: crawlery
      |Disallow: /
      |
      |User-agent: *
      |Crawl-delay: 5
      |Disallow: /private/
      |Allow: /private/pub/
      |Disallow: /dual/
      |Allow: /dual/
      |Disallow: /tmp
      |Disallow:
      |""".stripMargin

  test("RobotsTxt.rules: UA groups, comments, unknown keys, empty values") {
    val rules = operators.RobotsTxt.rules(
      Seq(("h1", robotsBody)).toDF("host", "body"))
      .as[(String, String, String)].collect().toSet
    assert(rules === Set(
      ("h1", "disallow", "/private/"),
      ("h1", "allow", "/private/pub/"),
      ("h1", "disallow", "/dual/"),
      ("h1", "allow", "/dual/"),
      ("h1", "disallow", "/tmp")))
    // the '*' group is selected, not the crawlerx/crawlery group —
    // asking AS crawlery must yield that group's blanket Disallow: /
    val asCrawlery = operators.RobotsTxt.rules(
      Seq(("h1", robotsBody)).toDF("host", "body"), agent = "crawlery")
      .as[(String, String, String)].collect().toSet
    assert(asCrawlery === Set(("h1", "disallow", "/")))
  }

  test("RobotsTxt.evaluate: longest match wins, Allow wins ties, no-match allows") {
    val rules = operators.RobotsTxt.rules(Seq(("h1", robotsBody)).toDF("host", "body"))
    val pages = Seq(
      (0L, "h1", "/a/0"),            // no rule matches -> allowed
      (1L, "h1", "/private/1"),      // /private/ disallow
      (2L, "h1", "/private/pub/2"),  // longest match is the Allow
      (3L, "h1", "/tmp/3"),          // prefix match without trailing slash
      (4L, "h1", "/dual/4"),         // equal-length Allow vs Disallow -> Allow
      (5L, "h2", "/private/5"))      // host without robots.txt -> allowed
      .toDF("doc_id", "host", "path")
    val got = operators.RobotsTxt.evaluate(pages, rules)
      .select(col("doc_id"), col("rule"), col("allowed"))
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (0L, "", 1),
      (1L, "/private/", 0),
      (2L, "/private/pub/", 1),
      (3L, "/tmp", 0),
      (4L, "/dual/", 1),
      (5L, "", 1)))
  }
}
