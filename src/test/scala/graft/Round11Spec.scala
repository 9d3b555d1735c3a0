package graft

import org.apache.spark.sql.functions._

import graft.operators.{HtmlText, TextAnalysis}
import graft.sources.Warc

/** Round 11: the raw-web front door (WARC source + HTML extraction)
  * and the hashed char-n-gram language classifier. */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- WARC

  test("WARC record round-trips through the plain and gzip shard paths") {
    val docs = Seq(
      (0L, "hello world this is doc zero"),
      (1L, "doc one has different words entirely"),
      (150L, "and this one lands in shard one which is gzipped"))
    val pages = docs.map { case (id, text) =>
      (id / Warc.PagesPerShard, id, s"http://example.org/doc/$id",
        HtmlText.renderPage(id, text))
    }.toDF("shard", "doc_id", "url", "html")
    val dir = SparkSpec.tempDir("warc_spec").toString
    Warc.writeShards(spark, pages, dir)
    val files = new java.io.File(dir).list().filterNot(_.startsWith(".")).sorted.toSeq
    assert(files === Seq("shard-00000.warc", "shard-00001.warc.gz"))
    val recs = Warc.readRecords(spark, dir).collect()
    // one warcinfo per shard + one response per page
    assert(recs.count(_.warc_type == "warcinfo") === 2)
    val resp = recs.filter(_.warc_type == "response").sortBy(_.target_uri)
    assert(resp.length === 3)
    assert(resp.forall(_.http_status == 200L))
    assert(resp.forall(_.http_content_type == "text/html; charset=utf-8"))
    val byUri = resp.map(r => r.target_uri -> new String(r.body, "UTF-8")).toMap
    for ((id, text) <- docs)
      assert(byUri(s"http://example.org/doc/$id") === HtmlText.renderPage(id, text))
  }

  test("corrupt WARC framing fails loudly, never resyncs silently") {
    val dir = SparkSpec.tempDir("warc_bad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "shard-00000.warc"),
      "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99999\r\n\r\nshort"
        .getBytes("UTF-8"))
    val e = intercept[Exception] {
      Warc.readRecords(spark, dir).collect()
    }
    assert(e.getMessage != null)
  }

  // ------------------------------------------------- HTML extraction

  test("entity decoding: named, decimal, hex; unknown names pass through") {
    assert(HtmlText.decodeEntities("&amp;&lt;&gt;&quot;&apos;&nbsp;") === "&<>\"' ")
    assert(HtmlText.decodeEntities("&#97;&#x62;&#X43;") === "abC")
    assert(HtmlText.decodeEntities("&bogus; stays") === "&bogus; stays")
  }

  test("extraction drops script/style/comment/nav/footer/short blocks, keeps prose") {
    val html =
      """<html><head><title>t</title><style>p{x:1}</style>
        |<script>var a = "decoy words here not prose";</script></head><body>
        |<nav><a href="/a">home</a> | <a href="/b">about us</a></nav>
        |<div>ok</div>
        |<!-- comment decoy -->
        |<p>this is the real paragraph of content</p>
        |<p>short &amp; sweet second paragraph</p>
        |<footer><a href="/c">terms</a> <a href="/d">privacy</a></footer>
        |</body></html>""".stripMargin
    val e = HtmlText.extract(html)
    assert(e.text === "this is the real paragraph of content short & sweet second paragraph")
    assert(e.n_kept === 2)
    // title "t" (short), nav (link-dense), "ok" (short), footer (link-dense)
    assert(e.n_dropped === 4)
  }

  test("a link-dense block is dropped even when long; a prose block with one link is kept") {
    val dense = "<div>" + (0 until 10).map(i => s"""<a href="/$i">item number $i</a>""")
      .mkString(" ") + "</div>"
    assert(HtmlText.extract(dense).n_kept === 0)
    val prose = "<p>a long paragraph of genuine prose that happens to cite " +
      """<a href="/ref">one reference</a> somewhere in its many words</p>"""
    val e = HtmlText.extract(prose)
    assert(e.n_kept === 1)
    assert(e.text.contains("one reference"))
  }

  test("extraction identity on rendered fixture pages, including the short-tail merge") {
    // word counts chosen to hit: single group, exact multiple, tail
    // >= MinTailWords (kept separate), tail < MinTailWords (merged)
    for (n <- Seq(10, 12, 24, 25, 27, 28, 40)) {
      val text = (0 until n).map(i => s"w$i").mkString(" ")
      for (id <- Seq(0L, 1L, 2L, 3L)) {
        val e = HtmlText.extract(HtmlText.renderPage(id, text))
        assert(e.text === text, s"n=$n id=$id")
        val g0 = (n + HtmlText.ParagraphWords - 1) / HtmlText.ParagraphWords
        val tail = n - (g0 - 1) * HtmlText.ParagraphWords
        val kept = if (g0 > 1 && tail < HtmlText.MinTailWords) g0 - 1 else g0
        assert(e.n_kept === kept, s"n=$n id=$id")
        assert(e.n_dropped === (if (id % 2 == 0) 4 else 3), s"n=$n id=$id")
      }
    }
  }

  test("inline markup and entity-coded chars sit on the extraction hot path") {
    // 12 words so the single paragraph survives the length gate; 'a's
    // are entity-coded by the renderer, spark/table get inline tags
    val text = "spark table sang a sonata and a cantata " + "pad pad pad pad"
    val html = HtmlText.renderPage(2L, text)
    assert(html.contains("<b>sp&#97;rk</b>"), "renderer must entity-code + mark up")
    assert(html.contains("<i>t&#97;ble</i>"))
    assert(HtmlText.extract(html).text === text)
  }

  // --------------------------------------------- n-gram language ID

  test("langIdNgram separates languages with real character-level signal") {
    // three pseudo-languages with disjoint character inventories —
    // the signal a real crawl has and the gated fixture lacks
    val vocab = Map(
      "aa" -> Seq("mare", "sole", "vita", "bella", "notte", "stella"),
      "bb" -> Seq("zug", "wolke", "kraft", "pfeil", "sturm", "wucht"),
      "cc" -> Seq("xylo", "quix", "jynx", "vex", "zyx", "qwop"))
    val docs = (0L until 90L).map { id =>
      val lang = Seq("aa", "bb", "cc")((id % 3).toInt)
      val ws = vocab(lang)
      val text = (0 until 20).map(i => ws(((id * 7 + i * 3) % ws.length).toInt))
        .mkString(" ")
      (id, lang, text)
    }.toDF("doc_id", "lang", "text")
    val confusion = TextAnalysis.langIdNgramOf(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // every row — train AND held-out — must be on the diagonal
    val offDiag = confusion.filter { case (_, actual, det, _) => actual != det }
    assert(offDiag.isEmpty, s"misclassifications: ${offDiag.mkString(", ")}")
    val heldN = confusion.collect { case (1, _, _, n) => n }.sum
    assert(heldN === 18L) // 90 docs, every 5th held out
  }

  test("langIdNgram held-out split never trains: removing a held-out doc's text leaves the model unchanged") {
    val base = (0L until 50L).map { id =>
      (id, if (id % 2 == 0) "aa" else "bb",
        if (id % 2 == 0) "mare sole vita bella notte stella mare sole vita bella"
        else "zug wolke kraft pfeil sturm wucht zug wolke kraft pfeil")
    }
    val perturbed = base.map { case (id, l, t) =>
      // doc 0 is held out (0 % 5 == 0): garbling it must not move any
      // OTHER doc's prediction (it would if held-out docs trained)
      if (id == 0L) (id, l, "qwop xylo jynx vex zyx quix qwop xylo jynx vex") else (id, l, t)
    }
    def predictions(rows: Seq[(Long, String, String)]) =
      TextAnalysis.langIdNgramOf(rows.toDF("doc_id", "lang", "text"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
    val p1 = predictions(base).filter(_._1 == 0) // train rows only
    val p2 = predictions(perturbed).filter(_._1 == 0)
    assert(p1 === p2)
  }

  // ------------------------------------ snapshot maintenance gating

  test("maintainIndex compacts only when the chain is fragmented") {
    import graft.sources.Snapshots
    import graft.streaming.DocStreams
    // UNPARTITIONED table (the streaming signature index's shape):
    // every upsert consolidates into one fresh dir, so the live set is
    // never fragmented and maintenance must NOT rewrite it — the old
    // unconditional compact re-wrote the whole index every cadence for
    // zero benefit (vacuum alone reclaims the superseded dirs)
    val dir = SparkSpec.tempDir("maint_spec").toString
    val t = s"$dir/idx"
    for (i <- 1 to 4)
      Snapshots.commitMerge(spark, t, Seq((i.toLong, "a")).toDF("doc_id", "v"), "doc_id")
    assert(Snapshots.liveDataDirCount(spark, t) === 1)
    val vBefore = Snapshots.currentVersion(spark, t).get
    DocStreams.maintainIndex(spark, t)
    assert(Snapshots.currentVersion(spark, t).get === vBefore,
      "single-dir table must not be rewritten by maintenance")
    // …but vacuum DID run: the superseded manifest chain is bounded
    assert(Snapshots.listVersions(spark, t).size <= 2)
    // PARTITIONED table: partition-scoped merges leave untouched
    // partitions on their old dirs — the chain genuinely fragments,
    // and once past the threshold maintenance compacts it to one dir
    val tp = s"$dir/idx_part"
    Snapshots.commitOverwrite(spark, tp,
      Seq((1L, "p0", "a")).toDF("doc_id", "day", "v"), partCol = "day")
    for (i <- 2 to DocStreams.CompactMinDataDirs + 1)
      Snapshots.commitMerge(spark, tp,
        Seq((i.toLong, s"p${i - 1}", "b")).toDF("doc_id", "day", "v"),
        "doc_id", "day")
    assert(Snapshots.liveDataDirCount(spark, tp) >= DocStreams.CompactMinDataDirs)
    DocStreams.maintainIndex(spark, tp)
    assert(Snapshots.liveDataDirCount(spark, tp) === 1,
      "fragmented chain must be compacted back to one dir")
    val rows = Snapshots.read(spark, tp)
      .select(col("doc_id")).as[Long].collect().sorted
    assert(rows === (1L to (DocStreams.CompactMinDataDirs + 1L)).toArray)
  }
}
