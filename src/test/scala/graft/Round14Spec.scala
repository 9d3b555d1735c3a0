package graft

import org.apache.spark.sql.functions._

/** Round-14 additions: the one-pass native `url_parts` expression
  * (byte-parity with the regex formulation it replaces), the FULL
  * Public Suffix List behind `registered_domain`, and RFC 9309
  * §2.2.3 wildcard/anchor robots.txt rules. */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------ url_parts parity

  test("url_parts.canon is byte-identical to the regex canonicalUrl on a URL zoo") {
    val zoo = Seq(
      "http://Example.org/doc/7",
      "HTTP://example.org:80/d%6fc/7?utm_source=x",
      "http://example.org/doc/7#frag",
      "https://Example.org:443/doc%2Fs/7?b=2&a=1",
      "https://example.org/d%6Fc%2fs/7?a=1&b=%32&utm_campaign=y",
      // non-default port survives; default port only for its scheme
      "http://h.io:8080/p?z=1&y=2", "https://h.io:80/p", "http://h.io:443/p",
      // tracking-param edge cases: utm_ needs word chars then '='
      "http://h.io/p?utm_=1&utm-x=2&utm_a-b=3&fbclid=zz&gclid=q&keep=1",
      // empty params, trailing &, duplicate keys, '?' only
      "http://h.io/p?&&a=2&a=1&", "http://h.io/p?", "http://h.io/p",
      // empty path, path with second '?', fragment before query
      "http://h.io", "http://h.io?a=1", "http://h.io/x?a=?b", "http://h.io/x#f?a=1",
      // malformed escapes, multibyte escapes, mixed case hex
      "http://h.io/100%", "http://h.io/a%4", "http://h.io/caf%c3%a9?x=%2f",
      // ASTRAL query-param keys (advisor r14): the emoji is a
      // surrogate PAIR in UTF-16 — code-UNIT sort ranks it below
      // U+FFFD, code-POINT (= UTF-8 binary = array_sort) order above;
      // the native sort must match the regex formulation byte-for-byte
      "http://h.io/p?\uD83D\uDE00=1&\uFFFD=2&keep=0",
      "http://h.io/p?\uD83D\uDE00\uD83D\uDE01=a&\uD83D\uDE00=b&z\uFFFD=c",
      // no scheme at all / garbage
      "not a url", "", "://x", "ftp://h.io/f", "h2+x.y://Host/P")
    val df = zoo.toDF("u")
    val got = df.select(functions.Urls.parts(col("u")).getField("canon").as("c"))
      .as[String].collect().toSeq
    val want = df.select(RetiredFormulations.canonicalUrl(col("u")).as("c"))
      .as[String].collect().toSeq
    assert(got === want)
  }

  test("url_parts host fields match hostOf on the canonical string") {
    val zoo = Seq(
      "http://WWW.Site4.COM:80/p/1", "https://news.a.site7.org:8443/x?q=1",
      "http://example.org/", "nope", "https://H.IO:443")
    val df = zoo.toDF("u")
    val got = df.select(functions.Urls.parts(col("u")).getField("host_noport").as("h"))
      .as[String].collect().toSeq
    val want = df.select(
        functions.Urls.hostOf(RetiredFormulations.canonicalUrl(col("u"))).as("h"))
      .as[String].collect().toSeq
    assert(got === want)
  }

  // --------------------------------------- full-PSL registered_domain

  test("registered_domain resolves rule classes only the full PSL knows") {
    val cases = Seq(
      // normal ccTLD second-level rules BEYOND the old 150-rule subset
      ("a.b.example.com.co", "example.com.co"),
      ("x.example.co.nz", "example.co.nz"),
      // PRIVATE-section registries: each user site is its own domain
      ("foo.blogspot.com", "foo.blogspot.com"),
      ("deep.pages.github.io", "pages.github.io"),
      // wildcard rule *.ck: every <label>.ck is a public suffix
      ("x.y.site.ck", "y.site.ck"),
      ("b.ck", "b.ck"),
      // its exception !www.ck: www.ck IS registrable
      ("www.ck", "www.ck"),
      ("foo.www.ck", "www.ck"),
      // unicode rules in PUNYCODE form (advisor r14): 公司.hk is a
      // PSL rule; real crawl hosts carry its ACE form xn--55qx5d.hk,
      // which must resolve as the public suffix (not fall back to the
      // last-two-label rule), and the verbatim-unicode form still works
      ("blog.example.xn--55qx5d.hk", "example.xn--55qx5d.hk"),
      ("xn--55qx5d.hk", "xn--55qx5d.hk"),
      ("blog.example.公司.hk", "example.公司.hk"),
      // carve-outs unchanged from the subset version
      ("192.168.0.1", "192.168.0.1"),
      ("localhost", "localhost"),
      ("co.uk", "co.uk"),
      ("a..b", "a..b"),
      ("trailing.dot.", "trailing.dot."),
      ("", ""))
    val got = cases.map(_._1).toDF("h")
      .select(functions.Urls.registeredDomain(col("h")).as("d"))
      .as[String].collect().toSeq
    assert(got === cases.map(_._2))
  }

  test("registered_domain agrees with the retired subset on its own cases") {
    // every suffix the old isin-based formulation knew must resolve
    // identically through the full list — EXCEPT sch.uk, where the
    // subset was simply wrong: the real PSL rule is the WILDCARD
    // `*.sch.uk` (every school is its own registry), so
    // www.example.sch.uk is itself registrable, not example.sch.uk
    val suffixes = RetiredFormulations.MultiLabelSuffixes.filterNot(_ == "sch.uk")
    val hosts = suffixes.map(s => s"www.example.$s")
    val got = hosts.toDF("h")
      .select(functions.Urls.registeredDomain(col("h")).as("d"))
      .as[String].collect().toSeq
    assert(got === suffixes.map(s => s"example.$s"))
    val schUk = Seq("www.example.sch.uk").toDF("h")
      .select(functions.Urls.registeredDomain(col("h")).as("d"))
      .as[String].collect().head
    assert(schUk === "www.example.sch.uk")
  }

  // ------------------------------- RFC 9309 §2.2.3 wildcards/anchors

  private val wildBody =
    """User-agent: *
      |Disallow: /private/
      |Allow: /private/*.html$
      |Disallow: /*.pdf$
      |Disallow: /a/*/c
      |Disallow: /lit$eral
      |Disallow: /exact$
      |""".stripMargin

  test("RobotsTxt: '*' spans octets, trailing '$' anchors, mid-'$' is literal") {
    val rules = operators.RobotsTxt.rules(Seq(("h1", wildBody)).toDF("host", "body"))
    val pages = Seq(
      (0L, "h1", "/private/x.html"),   // Allow /private/*.html$ (16) beats /private/ (9)
      (1L, "h1", "/private/x.html5"),  // anchored rule does NOT match -> /private/
      (2L, "h1", "/docs/file.pdf"),    // /*.pdf$ matches anywhere under root
      (3L, "h1", "/docs/file.pdfx"),   // anchor rejects the longer path
      (4L, "h1", "/a/b/c/d"),          // mid-rule '*' spans one segment
      (5L, "h1", "/a/bb/ccc/c"),       // ... or several octets across segments
      (6L, "h1", "/lit$eral-tail"),    // mid-'$' matches only a literal '$'
      (7L, "h1", "/literal-tail"),     // ... and not its absence
      (8L, "h1", "/exact"),            // trailing '$' anchors exactly
      (9L, "h1", "/exactly"))          // ... rejecting any suffix
      .toDF("doc_id", "host", "path")
    val got = operators.RobotsTxt.evaluate(pages, rules)
      .select(col("doc_id"), col("rule"), col("allowed"))
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (0L, "/private/*.html$", 1),
      (1L, "/private/", 0),
      (2L, "/*.pdf$", 0),
      (3L, "", 1),
      (4L, "/a/*/c", 0),
      (5L, "/a/*/c", 0),
      (6L, "/lit$eral", 0),
      (7L, "", 1),
      (8L, "/exact$", 0),
      (9L, "", 1)))
  }

  test("RobotsTxt.evaluate groups per (doc_id, host): shared ids never collapse") {
    val rules = operators.RobotsTxt.rules(Seq(
      ("h1", "User-agent: *\nDisallow: /x\n"),
      ("h2", "User-agent: *\nAllow: /x\nDisallow: /\n")).toDF("host", "body"))
    // SAME doc_id on two hosts: h1 disallows /x, h2 allows it — a
    // doc_id-only group would apply one host's winner to the other
    val pages = Seq((7L, "h1", "/x/1"), (7L, "h2", "/x/1"))
      .toDF("doc_id", "host", "path")
    val got = operators.RobotsTxt.evaluate(pages, rules)
      .select(col("host"), col("rule"), col("allowed"))
      .as[(String, String, Int)].collect().sortBy(_._1).toSeq
    assert(got === Seq(("h1", "/x", 0), ("h2", "/x", 1)))
  }
}
