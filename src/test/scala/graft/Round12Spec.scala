package graft

import java.io.{ByteArrayInputStream, InputStream}

import org.apache.spark.sql.functions._

import graft.operators.HtmlText
import graft.sources.Warc

/** Round 12: streaming WARC reader (constant per-record memory),
  * charset handling on the raw-web path, URL canonicalization,
  * crawl-safe entity decode, and the unique-text scale replica. */
class Round12Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------ streaming WARC reader

  /** Counts bytes handed to the consumer — the bounded-buffer probe. */
  private class CountingStream(in: InputStream) extends InputStream {
    var count = 0L
    override def read(): Int = {
      val b = in.read(); if (b >= 0) count += 1; b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len); if (n > 0) count += n; n
    }
  }

  /** Repeats `chunk` `times` times without ever materializing the
    * whole stream — a multi-hundred-MB shard in O(chunk) memory. */
  private class RepeatingStream(chunk: Array[Byte], times: Long) extends InputStream {
    private var emitted = 0L
    private var pos = 0
    override def read(): Int =
      if (emitted >= times) -1
      else {
        val b = chunk(pos) & 0xff
        pos += 1
        if (pos == chunk.length) { pos = 0; emitted += 1 }
        b
      }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (emitted >= times) return -1
      var n = 0
      while (n < len && emitted < times) {
        val take = math.min(len - n, chunk.length - pos)
        System.arraycopy(chunk, pos, b, off + n, take)
        n += take; pos += take
        if (pos == chunk.length) { pos = 0; emitted += 1 }
      }
      n
    }
  }

  private def oneRecord(id: Long): Array[Byte] =
    Warc.responseRecord(id, s"http://example.org/doc/$id",
      ("<html><body><p>" + ("word " * 200) + "</p></body></html>").getBytes("UTF-8"))

  test("recordIterator is incremental: first record consumes a bounded prefix, not the shard") {
    val rec = oneRecord(0L)
    val whole = Array.fill(4096)(rec).flatten // ~4.5 MB in-memory shard
    val counting = new CountingStream(new ByteArrayInputStream(whole))
    val it = Warc.recordIterator("probe.warc", counting)
    assert(it.hasNext)
    it.next()
    // one record (~1.1 KB) + the 64 KB BufferedInputStream fill —
    // nowhere near the whole stream: the old parser read 100% here
    assert(counting.count <= 128 * 1024,
      s"first record pulled ${counting.count} bytes of a ${whole.length}-byte shard")
    assert(counting.count < whole.length / 10)
  }

  test("a multi-hundred-MB synthetic shard parses in constant space") {
    val rec = oneRecord(7L)
    val times = (300L * 1024 * 1024) / rec.length + 1 // ≥ 300 MB of stream
    val it = Warc.recordIterator("big.warc", new RepeatingStream(rec, times))
    var n = 0L
    while (it.hasNext) { it.next(); n += 1 }
    assert(n === times)
  }

  test("readRecords streams mixed plain/gzip shards by magic bytes, not extension") {
    val docs = Seq((0L, "alpha beta gamma delta"), (150L, "epsilon zeta eta theta"))
    val pages = docs.map { case (id, text) =>
      (id / Warc.PagesPerShard, id, s"http://example.org/doc/$id",
        HtmlText.renderPage(id, text))
    }.toDF("shard", "doc_id", "url", "html")
    val dir = SparkSpec.tempDir("warc12_spec").toString
    Warc.writeShards(spark, pages, dir)
    val resp = Warc.readRecords(spark, dir).collect().filter(_.warc_type == "response")
    assert(resp.length === 2)
    assert(resp.map(_.target_uri).sorted ===
      docs.map { case (id, _) => s"http://example.org/doc/$id" }.sorted)
  }

  // --------------------------------------------------- charset gate

  test("charsetOf: Content-Type param wins; meta tag is the fallback; garbage falls back to UTF-8") {
    val metaPage = "<html><head><meta charset=\"windows-1252\"></head><body>x</body></html>"
      .getBytes("ISO-8859-1")
    assert(Warc.charsetOf("text/html; charset=ISO-8859-1", metaPage).name === "ISO-8859-1")
    assert(Warc.charsetOf("text/html", metaPage).name === "windows-1252")
    assert(Warc.charsetOf("text/html", "<html>plain</html>".getBytes("UTF-8")).name === "UTF-8")
    assert(Warc.charsetOf("text/html; charset=no-such-charset",
      "<html>x</html>".getBytes("UTF-8")).name === "UTF-8")
    // meta variant: http-equiv content=...charset=...
    val equivPage = ("<html><head><meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=ISO-8859-1\"></head></html>").getBytes("ISO-8859-1")
    assert(Warc.charsetOf("text/html", equivPage).name === "ISO-8859-1")
  }

  test("decodeBody recovers non-UTF-8 bytes exactly (a UTF-8-only decode corrupts them)") {
    val latin = "café déjà vu"
    val (cs1, t1) = Warc.decodeBody("text/html; charset=ISO-8859-1",
      latin.getBytes("ISO-8859-1"))
    assert(cs1 === "iso-8859-1" && t1 === latin)
    val cp = "€uro ’quote" // 0x80 / 0x92 — undefined in latin-1, invalid UTF-8 alone
    val (cs2, t2) = Warc.decodeBody("text/html; charset=windows-1252",
      cp.getBytes("windows-1252"))
    assert(cs2 === "windows-1252" && t2 === cp)
    // the failure this gate exists for: UTF-8-decoding latin-1 bytes
    assert(new String(latin.getBytes("ISO-8859-1"), "UTF-8") !== latin)
  }

  // ------------------------------------------- crawl-safe entities

  test("numeric entity decode: supplementary plane, malformed, overflow") {
    assert(HtmlText.decodeEntities("&#128512;") === "😀") // 😀 via toChars
    assert(HtmlText.decodeEntities("&#x1F600;") === "😀")
    assert(HtmlText.decodeEntities("&#97;") === "a")
    // hex digits in the decimal branch (the regex admits them) — no throw
    assert(HtmlText.decodeEntities("&#1f;") === "&#1f;")
    assert(HtmlText.decodeEntities("&#99999999999;") === "&#99999999999;") // overflow
    assert(HtmlText.decodeEntities("&#xDC00;") === "&#xDC00;") // lone surrogate: not a scalar value
    assert(HtmlText.decodeEntities("&#1114112;") === "&#1114112;") // > U+10FFFF
  }

  // ------------------------------------------- URL canonicalization

  test("canonicalUrl: case, default ports, fragment, tracking params, key order") {
    val cases = Seq(
      ("http://Example.org/doc/1", "http://example.org/doc/1"),
      ("HTTP://example.org:80/doc/1?utm_source=x", "http://example.org/doc/1"),
      ("http://example.org/doc/1#frag", "http://example.org/doc/1"),
      ("https://Example.org:443/doc/1?b=2&a=1", "https://example.org/doc/1?a=1&b=2"),
      ("https://example.org/doc/1?a=1&b=2&utm_campaign=y", "https://example.org/doc/1?a=1&b=2"),
      ("https://example.org:8443/x", "https://example.org:8443/x"), // non-default port kept
      ("http://example.org:443/x", "http://example.org:443/x"), // 443 is NOT http's default
      ("https://example.org", "https://example.org/"), // empty path → /
      ("http://example.org/p?fbclid=abc&z=1&gclid=q", "http://example.org/p?z=1"))
    val got = cases.map(_._1).toDF("url")
      .select(RetiredFormulations.canonicalUrl(col("url")).as("c"))
      .as[String].collect().toSeq
    assert(got === cases.map(_._2))
  }

  // --------------------------------------------- unique-text replica

  test("ScaleUp unique mode: texts distinct across copies, within-copy embedding geometry preserved") {
    val docs = Seq((0L, "the quick brown fox"), (1L, "the quick brown fox"),
      (2L, "lazy dogs sleep"))
      .toDF("doc_id", "text")
    val t1 = tools.ScaleUp.uniquify("documents", docs, 1)
      .select("text").as[String].collect()
    val t2 = tools.ScaleUp.uniquify("documents", docs, 2)
      .select("text").as[String].collect()
    assert(t1(0) === "theu1 quicku1 brownu1 foxu1")
    assert(t1.toSet.intersect(t2.toSet).isEmpty) // cross-copy disjoint
    assert(t1(0) === t1(1)) // within-copy duplicate structure preserved

    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f, 4.1f)),
      (2L, Array(-4.0f, 3.0f, -2.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    def cosines(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] = {
      val rows = df.select(col("vec_id"),
        col("embedding").cast("array<double>")).as[(Long, Array[Double])].collect()
      (for {
        (ida, va) <- rows; (idb, vb) <- rows if ida < idb
      } yield {
        def dot(x: Array[Double], y: Array[Double]) =
          x.zip(y).map { case (a, b) => a * b }.sum
        (ida, idb) -> dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
      }).toMap
    }
    val base = cosines(vecs)
    for (i <- Seq(1, 3, 5)) { // rotations (dim 4: i mod 4 = 1, 3, 1) and i≥4 negation
      val c = cosines(tools.ScaleUp.uniquify("embeddings", vecs, i))
      for (k <- base.keys)
        assert(math.abs(c(k) - base(k)) < 1e-9,
          s"copy $i changed within-copy cosine of $k: ${c(k)} vs ${base(k)}")
    }
    // cross-copy: rotation scrambles — copy 1's vec 0 is not a clone of base vec 0
    val rot1 = tools.ScaleUp.uniquify("embeddings", vecs, 1)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].collect()
    val orig = vecs.select(col("embedding").cast("array<double>")).as[Array[Double]].collect()
    assert(!rot1(0).sameElements(orig(0)))
    // i ≥ dim: negated (cosine −1 with its rotation twin)
    val neg5 = tools.ScaleUp.uniquify("embeddings", vecs, 5)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].collect()
    val rot1b = rot1(0)
    assert(neg5(0).zip(rot1b).forall { case (a, b) => math.abs(a + b) < 1e-9 })
  }

  // ------------------------------------------------ robots directives

  test("metaRobots: both attribute orders, quote styles, absent, case") {
    assert(HtmlText.metaRobots(
      "<html><head><meta name=\"robots\" content=\"noindex, nofollow\"></head></html>")
      === "noindex, nofollow")
    assert(HtmlText.metaRobots( // reversed attribute order
      "<meta content=\"index, follow\" name=\"robots\">") === "index, follow")
    assert(HtmlText.metaRobots("<meta name='robots' content='NOINDEX'>") === "noindex")
    assert(HtmlText.metaRobots("<META NAME=robots CONTENT=\"none\">") === "none")
    assert(HtmlText.metaRobots("<html><body>no meta at all</body></html>") === "")
    // a robots meta must not be confused with other named metas
    assert(HtmlText.metaRobots("<meta name=\"description\" content=\"noindex\">") === "")
  }

  test("X-Robots-Tag survives the WARC write→read round-trip; absent header reads as empty") {
    val pages = Seq(
      (0L, 0L, "http://example.org/doc/0", "text/html; charset=utf-8",
        "<html><body>a</body></html>".getBytes("UTF-8"), "X-Robots-Tag: noindex", 200),
      (0L, 1L, "http://example.org/doc/1", "text/html; charset=utf-8",
        "<html><body>b</body></html>".getBytes("UTF-8"), "", 404))
      .toDF("shard", "doc_id", "url", "content_type", "body", "x_headers", "status")
    val dir = SparkSpec.tempDir("warc12_robots").toString
    Warc.writeShardsEncoded(spark, pages, dir)
    val byUri = Warc.readRecords(spark, dir).collect()
      .filter(_.warc_type == "response").map(r => r.target_uri -> r).toMap
    assert(byUri("http://example.org/doc/0").http_x_robots === "noindex")
    assert(byUri("http://example.org/doc/1").http_x_robots === "")
    // the extra header must not disturb body framing
    assert(new String(byUri("http://example.org/doc/0").body, "UTF-8")
      === "<html><body>a</body></html>")
    // planted non-200 status round-trips through the status line
    assert(byUri("http://example.org/doc/0").http_status === 200L)
    assert(byUri("http://example.org/doc/1").http_status === 404L)
  }

  // ---------------------------------------------- host / domain keys

  test("hostOf and registeredDomain: ports, subdomains, bare domains") {
    val cases = Seq(
      ("http://WWW.Site4.COM/p/1", "www.site4.com", "site4.com"),
      ("https://news.a.site7.org:8443/x?q=1", "news.a.site7.org", "site7.org"),
      ("http://example.org/", "example.org", "example.org"))
    val got = cases.map(_._1).toDF("url")
      .select(functions.Urls.hostOf(col("url")).as("h"))
      .withColumn("d", functions.Urls.registeredDomain(col("h")))
      .as[(String, String)].collect().toSeq
    assert(got === cases.map(c => (c._2, c._3)))
  }

  // ------------------------------------------------- line-level dedup

  test("lineDedup: keep-first across docs, within-doc repeats collapse, uniques untouched") {
    val docs = Seq(
      // doc 0 and doc 1 share their first 10-token window; doc 0 wins (min doc_id)
      (0L, "a b c d e f g h i j unique0 tail0 x0 y0 z0 w0 v0 u0 t0 s0"),
      (1L, "a b c d e f g h i j unique1 tail1 x1 y1 z1 w1 v1 u1 t1 s1"),
      // doc 2 repeats one window TWICE within itself — first kept, second dropped
      (2L, "p q r s t u v w x y p q r s t u v w x y"),
      // doc 3 is all-unique — fully preserved
      (3L, "only once here nothing repeats at all in this doc"))
      .toDF("doc_id", "text")
    val out = operators.Dedup.lineDedup(docs)
      .as[(Long, Long, Long, String)].collect().toMap2
    assert(out(0L) === (2L, 2L,
      "a b c d e f g h i j unique0 tail0 x0 y0 z0 w0 v0 u0 t0 s0"))
    assert(out(1L) === (2L, 1L, "unique1 tail1 x1 y1 z1 w1 v1 u1 t1 s1"))
    assert(out(2L) === (2L, 1L, "p q r s t u v w x y"))
    assert(out(3L) === (1L, 1L, "only once here nothing repeats at all in this doc"))
  }

  test("lineDedup: a document whose every line repeats elsewhere cleans to the empty string") {
    val docs = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "a b c d e f g h i j")) // doc 1's only line is doc 0's
      .toDF("doc_id", "text")
    val out = operators.Dedup.lineDedup(docs)
      .as[(Long, Long, Long, String)].collect().toMap2
    assert(out(0L) === (1L, 1L, "a b c d e f g h i j"))
    assert(out(1L) === (1L, 0L, ""))
  }

  private implicit class Tup4Map(rows: Array[(Long, Long, Long, String)]) {
    def toMap2: Map[Long, (Long, Long, String)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }
}
