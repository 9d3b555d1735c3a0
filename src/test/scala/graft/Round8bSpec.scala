package graft

import org.apache.spark.sql.functions._

import graft.operators.{LanguageModel, Sampling, SetSimJoin}

/** Round-8 additions: the n-gram LM family (q195–q197), the
  * prefix-filtered exact set-similarity join (q198), and the
  * temperature mixture allocator (q199) — each pinned on planted
  * corpora where the exact answer is arithmetic. */
class Round8bSpec extends SparkSpec {
  import spark.implicits._

  /** Plant a documents.parquet fixture; rows = (doc_id, text, lang). */
  private def docsDir(rows: Seq[(Long, String, String)], source: Long => String = _ => "src0"): String = {
    val dir = SparkSpec.tempDir("graft_r8b").toString
    rows.map { case (id, text, lang) => (id, text, lang, source(id), text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---------------------------------------------------------------
  // q195/q196: bounded bigram LM + whole-bit surprisal scoring
  // ---------------------------------------------------------------

  test("lm: whole-bit surprisal is exactly floor(log2(b/a)) across the integer sweep") {
    // the length(bin(b div a)) - 1 identity the oracle relies on
    val rows = for (b <- 1L to 400L; a <- 1L to b) yield (b, a)
    val out = rows.toDF("b_", "a_")
      .withColumn("bits", (length(bin(expr("b_ div a_"))) - 1).cast("long"))
      .collect()
    out.foreach { r =>
      val (b, a, bits) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val expected = math.floor(math.log(b.toDouble / a) / math.log(2.0)).toLong
      assert(bits === expected, s"b=$b a=$a")
    }
  }

  test("lm train: counts, context totals and vocab are exact on a planted corpus") {
    // en training text: "a b a b a c" → bigrams: (a,b)x2, (b,a)x2, (a,c)x1
    // MinCount=2 prunes (a,c); ctx(a)=3, ctx(b)=2; successor vocab {b,a,c}=3
    val dir = docsDir(Seq(
      (1L, "a b a b a c", "en"),
      (2L, "x y z", "fr"))) // non-en never trains
    val m = LanguageModel.bigramLmTrain(spark, dir).collect()
    assert(m.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ===
      Set(("a", "b", 2L), ("b", "a", 2L)))
    assert(m.forall(_.getAs[Long]("v") === 3L))
    assert(m.filter(_.getString(0) == "a").forall(_.getAs[Long]("ctx_total") === 3L))
    assert(m.filter(_.getString(0) == "b").forall(_.getAs[Long]("ctx_total") === 2L))
  }

  test("lm bits filter: in-model docs score low, out-of-vocab docs score the uniform fallback") {
    // training: heavy "a b" repetition → (a,b) well-modeled.
    // ctx(a)=25 (a always followed by b), c(a,b)=25, v=2:
    // seen bigram bits = floor(log2((25+2)/26)) = 0 bits.
    // OOV doc: ctx unseen → bits = floor(log2(v)) = 1 per bigram.
    val train = (1 to 25).map(_ => "a b").mkString(" ") // "a b a b ..." 50 tokens
    val dir = docsDir(Seq(
      (1L, train, "en"),
      (2L, "a b a b a b", "de"),   // all bigrams in-model or cheap
      (3L, "qq ww qq ww qq", "de"))) // fully OOV
    val out = LanguageModel.bitsPerToken(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val oov = out(3L)
    assert(oov.getAs[Long]("n_bigrams") === 4L)
    assert(oov.getAs[Long]("bits_total") === 4L, "OOV bigram = floor(log2(v)) = 1 bit each")
    assert(out(2L).getAs[Double]("bpt") < oov.getAs[Double]("bpt"))
    assert(out(2L).getAs[Int]("kept") === 1 && oov.getAs[Int]("kept") === 1)
  }

  // ---------------------------------------------------------------
  // q197: DSIR importance weights
  // ---------------------------------------------------------------

  test("dsir: a target-distributed doc outranks an off-distribution doc") {
    // target (en) = "alpha beta" bigrams; doc 10 mirrors the target
    // exactly, doc 11 is pure off-distribution junk
    val target = (1 to 30).map(_ => "alpha beta").mkString(" ")
    val dir = docsDir(Seq(
      (1L, target, "en"),
      (10L, "alpha beta alpha beta alpha beta", "de"),
      (11L, "junk1 junk2 junk3 junk4 junk5 junk6", "de")))
    val out = LanguageModel.dsirWeights(spark, dir).collect()
    val rkOf = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rk")).toMap
    assert(rkOf(10L) < rkOf(11L),
      s"target-like doc must outrank junk: $rkOf")
    val wOf = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("weight_bits")).toMap
    assert(wOf(10L) > wOf(11L))
  }

  // ---------------------------------------------------------------
  // q198: PPJoin prefix filter — lossless vs brute force, and the
  // candidate space actually shrinks
  // ---------------------------------------------------------------

  private def bruteForcePairs(dir: String): Set[(Long, Long)] = {
    val sh = graft.operators.Dedup.shingleRowsOf(
      spark.read.parquet(s"$dir/documents.parquet"))
    val sets = sh.collect().groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[String]("s")).toSet).toMap
    (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = (sets(a) & sets(b)).size
      u = (sets(a) ++ sets(b)).size
      if u > 0 && i * SetSimJoin.TauDen >= u * SetSimJoin.TauNum
    } yield (a, b)).toSet
  }

  test("ppjoin: prefix-filtered result equals brute-force all-pairs on an adversarial corpus") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val dir = docsDir(Seq(
      (1L, base, "en"),
      (2L, base, "en"),                                   // identical → J=1
      (3L, base + " with a small appended suffix here", "en"), // high-J near-dup
      (4L, "completely different words entirely unrelated content body", "en"), // disjoint
      (5L, "the quick brown fox jumps over", "en"),       // containment, low J
      (6L, "zz yy xx ww vv uu tt ss", "en")))             // disjoint
    val got = SetSimJoin.prefixJoin(spark, dir).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(got === bruteForcePairs(dir))
    assert(got.contains((1L, 2L)))
    assert(!got.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("ppjoin: hot boilerplate shingles stay out of prefixes (candidate space bounded)") {
    // 40 docs share one boilerplate head; each has a unique tail.
    // Under a full inverted index the boilerplate shingles alone pair
    // all 40 docs (780 candidates); the rare-first prefix order keeps
    // each doc's UNIQUE tail shingles in the prefix instead, so no
    // true near-dups and (by losslessness) no output pairs.
    val rows = (1L to 40L).map(i =>
      (i, s"shared boilerplate header text common to every document body unique$i tail$i extra$i more$i", "en"))
    val dir = docsDir(rows)
    val out = SetSimJoin.prefixJoin(spark, dir).collect()
    assert(out.isEmpty, "below-threshold boilerplate family must produce no pairs")
    assert(bruteForcePairs(dir).isEmpty)
  }

  // ---------------------------------------------------------------
  // q199: temperature mixture quotas
  // ---------------------------------------------------------------

  test("temperature mixture: quotas are non-negative and sum exactly to the budget") {
    val out = Sampling.temperatureMixture(spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getAs[Long]("quota")).sum === Sampling.MixtureBudget)
    assert(out.forall(_.getAs[Long]("quota") >= 0L))
    // α = 1/2 flattens: every share must sit between the raw token
    // share of the smallest source and that of the largest
    val shares = out.map(_.getAs[Double]("share"))
    assert(shares.forall(s => s > 0.0 && s < 1.0))
  }

  test("temperature mixture: two equal sources split the budget exactly in half") {
    val dir = docsDir(
      Seq((1L, "one two three four", "en"), (2L, "uno dos tres cuatro", "es")),
      source = id => if (id == 1L) "sA" else "sB")
    val out = Sampling.temperatureMixture(spark, dir).collect()
    assert(out.length === 2)
    assert(out.forall(_.getAs[Long]("quota") === Sampling.MixtureBudget / 2))
  }

  // ---------------------------------------------------------------
  // q201: winnowing fingerprints
  // ---------------------------------------------------------------

  test("winnowing: a quoted passage guarantees a shared fingerprint; disjoint docs never pair") {
    import graft.operators.Winnowing
    // doc 2 quotes doc 1's full text and appends a long unique tail;
    // doc 3 is disjoint. Shared substring length >> K + W - 1 = 11,
    // so the SWA guarantee forces >= 1 shared fingerprint — and since
    // doc 1 is entirely quoted, nearly ALL of doc 1's fingerprints
    // recur in doc 2 → containment clears the 1/4 threshold.
    val quoted = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val dir = docsDir(Seq(
      (1L, quoted, "en"),
      (2L, quoted + " kilo lima mike november oscar papa quebec", "en"),
      (3L, "zulu yankee xray whiskey victor uniform tango sierra", "en")))
    val pairs = Winnowing.sharedFingerprintPairs(spark, dir).collect()
    val keys = pairs.map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(keys.contains((1L, 2L)), s"quoted passage must pair: $keys")
    assert(!keys.exists { case (a, b) => a == 3L || b == 3L })
    val r12 = pairs.find(r => r.getAs[Long]("da") == 1L && r.getAs[Long]("db") == 2L).get
    assert(r12.getAs[Double]("containment") >= 0.25)
  }

  test("winnowing: short docs (< W k-grams) still emit exactly one fingerprint") {
    import graft.operators.Winnowing
    // normalized text "abcdefgh j" → 3 k-grams < W=4 windows → the
    // single truncated window at p=1 survives (min over all hashes)
    val dir = docsDir(Seq((1L, "Abcdefgh j", "en")))
    val fps = Winnowing.fingerprints(spark, dir).collect()
    assert(fps.length === 1)
  }

  // ---------------------------------------------------------------
  // q200/q202: fertility + percentile pruning
  // ---------------------------------------------------------------

  test("bpe fertility: every language's fertility is >= 1 and sums are consistent") {
    val out = graft.operators.TextAnalysis.bpeFertility(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("bpe_tokens") >= r.getAs[Long]("ws_tokens"),
        "a BPE piece count can never be below the word count")
      assert(r.getAs[Double]("fertility") >= 1.0)
    }
  }

  test("percentile prune keeps exactly floor(n/2) per language, the top-quality half") {
    val dir = docsDir(Seq(
      (1L, "the of and is to in a the of and is to in", "en"), // stopword-rich: high quality
      (2L, "qqq www eee rrr ttt yyy", "en"),
      (3L, "!!! ### $$$ %%% ^^^ &&&", "en"),                    // punct-heavy: low quality
      (4L, "the a of workaday prose with the usual words", "en"),
      (5L, "lone french doc", "fr")))
    val out = Sampling.percentilePrune(spark, dir).collect()
    val en = out.filter(_.getAs[String]("lang") == "en")
    assert(en.count(_.getAs[Int]("kept") == 1) === 2) // floor(4/2)
    // the kept set is the top-2 by quality
    val keptIds = en.filter(_.getAs[Int]("kept") == 1).map(_.getAs[Long]("doc_id")).toSet
    val top2 = en.sortBy(r => (-r.getAs[Double]("q"), r.getAs[Long]("doc_id")))
      .take(2).map(_.getAs[Long]("doc_id")).toSet
    assert(keptIds === top2)
    assert(out.filter(_.getAs[String]("lang") == "fr")
      .forall(_.getAs[Int]("kept") === 0)) // floor(1/2) = 0
  }

  // ---------------------------------------------------------------
  // q203: per-file membership-bitmap file skipping
  // ---------------------------------------------------------------

  test("bitmap skipping: point lookups open fewer files, results equal the plain filter") {
    import graft.sources.Snapshots
    val dir = SparkSpec.tempDir("graft_bm").toString + "/t"
    // 4000 keys hash-distributed over 8 files: every file's [min,max]
    // spans ~the whole key range, so range stats CANNOT skip — only
    // membership can
    val df = spark.range(4000L).selectExpr("id AS k", "id * 3 AS v")
      .repartition(8, col("k"))
    Snapshots.commitOverwrite(spark, dir, df,
      statsCols = Seq(Snapshots.BitmapStatPrefix + "k"))
    val v = Snapshots.currentVersion(spark, dir).get
    val m = Snapshots.readManifest(spark, dir, v)
    assert(m.stats.count(_.col == "bitmap:k") === 8, "one bitmap line per file")

    val allFiles = m.stats.map(_.relPath).distinct
    // single present key: its owning file MUST be selected; with 500
    // keys per file the bitmap fill is ~11%, so most others skip
    val sel = Snapshots.bitmapSelectedFiles(m, allFiles, "k", Seq("1234"))
    assert(sel.nonEmpty && sel.size < allFiles.size,
      s"expected file skipping, selected ${sel.size}/${allFiles.size}")

    val keys: Seq[Any] = Seq(0L, 1234L, 3999L, 99999L) // last is absent
    val pruned = Snapshots.readVersionKeyPruned(spark, dir, v, "k", keys)
      .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pruned.toSeq === Seq((0L, 0L), (1234L, 3702L), (3999L, 11997L)))
  }

  test("bitmap stat lines carry forward through stats-silent commits and compaction") {
    import graft.sources.Snapshots
    val dir = SparkSpec.tempDir("graft_bmc").toString + "/t"
    val df = spark.range(100L).selectExpr("id AS k", "id AS v").repartition(2, col("k"))
    Snapshots.commitOverwrite(spark, dir, df,
      statsCols = Seq(Snapshots.BitmapStatPrefix + "k"))
    // a follow-up commit that doesn't mention stats keeps the index
    Snapshots.commitOverwrite(spark, dir,
      spark.range(100L, 200L).selectExpr("id AS k", "id AS v").repartition(2, col("k")))
    val v2 = Snapshots.currentVersion(spark, dir).get
    val m2 = Snapshots.readManifest(spark, dir, v2)
    assert(m2.stats.exists(_.col === "bitmap:k"),
      "an overwrite must carry the bitmap column forward")
    // lookups against the carried index stay exact
    val got = Snapshots.readVersionKeyPruned(spark, dir, v2, "k", Seq(150L))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(150L))
    // compaction recomputes (not copies) the bitmap for the new file
    Snapshots.compact(spark, dir)
    val v3 = Snapshots.currentVersion(spark, dir).get
    val m3 = Snapshots.readManifest(spark, dir, v3)
    assert(m3.stats.exists(_.col === "bitmap:k"))
    val afterCompact = Snapshots.readVersionKeyPruned(spark, dir, v3, "k", Seq(150L))
      .collect().map(_.getLong(0)).toSeq
    assert(afterCompact === Seq(150L))
  }

  // ---------------------------------------------------------------
  // q204: first-fail drop funnel
  // ---------------------------------------------------------------

  test("bitmap index is maintained through a partitioned merge commit") {
    import graft.sources.Snapshots
    val dir = SparkSpec.tempDir("graft_bmm").toString + "/t"
    val base = spark.range(200L)
      .selectExpr("id AS k", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS part", "id AS v")
    Snapshots.commitOverwrite(spark, dir, base, partCol = "part",
      statsCols = Seq(Snapshots.BitmapStatPrefix + "k"))
    // merge a delta into one partition; the rewritten partition's
    // files must get FRESH bitmap lines (same rules as min/max carry)
    val delta = spark.range(200L, 210L)
      .selectExpr("id AS k", "'a' AS part", "id * 10 AS v")
    Snapshots.commitMerge(spark, dir, delta, "k", "part")
    val v2 = Snapshots.currentVersion(spark, dir).get
    val m2 = Snapshots.readManifest(spark, dir, v2)
    assert(m2.stats.exists(_.col === "bitmap:k"), "bitmap lines must survive the merge")
    // a merged-in key is findable through the maintained index
    val got = Snapshots.readVersionKeyPruned(spark, dir, v2, "k", Seq(205L))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toSeq
    assert(got === Seq((205L, 2050L)))
    // and an updated partition's bitmap reflects the NEW file set:
    // every pre-merge key still resolves
    val old = Snapshots.readVersionKeyPruned(spark, dir, v2, "k", Seq(42L))
      .collect().map(_.getAs[Long]("k")).toSeq
    assert(old === Seq(42L))
  }

  // ---------------------------------------------------------------
  // Degenerate inputs for the round's operators
  // ---------------------------------------------------------------

  test("degenerate: LM scoring survives an empty training slice (no 'en' docs)") {
    val dir = docsDir(Seq((1L, "salut le monde", "fr"), (2L, "hola el mundo", "es")))
    // v = 0, no contexts: surprisal = floor(log2((0+0)/(0+1))) from
    // bin(0) = "0" → 0 bits; nothing crashes, every doc scores
    val out = LanguageModel.bitsPerToken(spark, dir).collect()
    assert(out.length === 2)
    assert(out.forall(_.getAs[Long]("bits_total") === 0L))
    assert(LanguageModel.bigramLmTrain(spark, dir).collect().isEmpty)
  }

  test("degenerate: single-source mixture takes the whole budget; empty-ish docs tokenize") {
    val dir = docsDir(Seq((1L, "just one source here", "en")))
    val out = Sampling.temperatureMixture(spark, dir).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("quota") === Sampling.MixtureBudget)
  }

  test("degenerate: winnowing ignores docs shorter than one k-gram") {
    import graft.operators.Winnowing
    val dir = docsDir(Seq((1L, "tiny", "en"), (2L, "abcdefghij klmnop", "en")))
    val fps = graft.operators.Winnowing.fingerprints(spark, dir).collect()
    assert(fps.forall(_.getAs[Long]("doc_id") === 2L),
      "sub-K docs must emit no fingerprints")
    assert(Winnowing.sharedFingerprintPairs(spark, dir).collect().isEmpty)
  }

  test("degenerate: ppjoin on single-doc and all-identical corpora") {
    val one = docsDir(Seq((1L, "alpha beta gamma delta epsilon", "en")))
    assert(SetSimJoin.prefixJoin(spark, one).collect().isEmpty)
    val same = "the very same words in every doc here today"
    val all = docsDir((1L to 4L).map(i => (i, same, "en")))
    val pairs = SetSimJoin.prefixJoin(spark, all).collect()
    assert(pairs.length === 6, "4 identical docs → C(4,2) pairs")
    assert(pairs.forall(_.getAs[Double]("jaccard") === 1.0))
  }

  // ---------------------------------------------------------------
  // q205-q208: backoff LM, matryoshka eval, bursts, Luhn PII
  // ---------------------------------------------------------------

  test("stupid backoff: modeled bigram, known-successor backoff, unknown-successor backoff") {
    // train (en): "a b" x25 → unigrams a:25 b:25 (U=50, V=2);
    // bigrams (a,b)x25 (b,a)x24 both survive pruning; ctx(a)=25; v=2
    val train = (1 to 25).map(_ => "a b").mkString(" ")
    val dir = docsDir(Seq(
      (1L, train, "en"),
      (2L, "a b", "de"),    // modeled bigram: floor(log2(27/26)) = 0 bits
      (3L, "b b", "de"),    // unmodeled, successor known: floor(log2(52/26)) + 2 = 3
      (4L, "zz qq", "de"))) // unmodeled, successor unknown: floor(log2(52/1)) + 2 = 7
    val out = LanguageModel.backoffBits(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bits_total")).toMap
    assert(out(2L) === 0L)
    assert(out(3L) === 3L)
    assert(out(4L) === 7L)
  }

  test("matryoshka: full-dim recall is exactly 10000 bp and hits never exceed the budget") {
    val out = graft.operators.Vectors.matryoshkaEval(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getAs[Long]("d") ->
        (r.getAs[Long]("hits"), r.getAs[Long]("recall_bp"))).toMap
    assert(out(64L) === ((50L, 10000L)), "truth vs itself must be perfect")
    assert(out.values.forall { case (h, bp) => h <= 50L && bp <= 10000L })
    assert(out.keySet === graft.operators.Vectors.MatryoshkaDims.map(_.toLong).toSet)
  }

  test("surprisal burst localizes a garbled tail; short docs report one truncated burst") {
    val good = (1 to 20).map(_ => "a b").mkString(" ") // 0-bit bigrams under the model
    val dir = docsDir(Seq(
      (1L, good, "en"), // the model trains on this
      (2L, good + " zz qq ww ee rr tt yy uu ii oo", "en"), // garbled tail
      (3L, "a b a", "en"))) // 2 bigrams < window → single truncated burst at p=1
    val out = LanguageModel.surprisalBursts(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 2's max burst must sit in the garbled region, far past the start
    assert(out(2L).getAs[Long]("max_burst_bits") > out(1L).getAs[Long]("max_burst_bits"))
    assert(out(2L).getAs[Long]("burst_pos") > 30L,
      s"burst must localize to the tail: ${out(2L)}")
    assert(out(3L).getAs[Long]("burst_pos") === 1L)
    assert(out(3L).getAs[Long]("n_bigrams") === 2L)
  }

  test("luhn: the generated checksum validates a known-valid card and splits even/odd docs") {
    import graft.operators.Privacy
    // reference vector: 4532015112830366 is Luhn-valid
    val total = spark.sql(
      s"SELECT ${Privacy.luhnSumSql("'4532015112830366'", 16)} AS t")
      .collect().head.getInt(0)
    assert(total % 10 === 0, s"known-valid card must sum to 0 mod 10, got $total")
    val out = Privacy.luhnCcScrub(spark, "/root/testdata/sf0.001").collect()
    out.foreach { r =>
      val even = r.getAs[Long]("doc_id") % 2 == 0
      assert(r.getAs[Int]("is_valid") === (if (even) 1 else 0),
        s"doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("blocklist: exact word hits, non-overlapping phrase counts, clean docs kept") {
    val dir = docsDir(Seq(
      (1L, "slow slow spill and more words", "en"),   // 3 word hits
      (2L, "sort table then sort table again", "en"), // 2 phrase hits
      (3L, "perfectly clean document body here", "en")))
    val out = graft.operators.TextAnalysis.blocklistFilter(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_blocked_words"), r.getAs[Long]("n_blocked_phrases"),
          r.getAs[Int]("kept"))).toMap
    assert(out(1L) === ((3L, 0L, 0)))
    assert(out(2L) === ((0L, 2L, 0)))
    assert(out(3L) === ((0L, 0L, 1)))
  }

  test("degenerate: data card on an empty corpus is all zeros, not NULLs or errors") {
    val dir = docsDir(Seq.empty)
    val r = graft.operators.Profile.dataCard(spark, dir).collect().head
    assert(r.getAs[Long]("n_docs") === 0L)
    assert(r.getAs[Long]("n_tokens") === 0L)
    assert(r.getAs[Long]("exact_dup_bp") === 0L)
    assert(r.getAs[Long]("quality_ge50_bp") === 0L)
    assert(r.getAs[Long]("avg_doc_tokens_x100") === 0L)
  }

  test("degenerate: metadata min/max fails loudly without stats or with pending DVs") {
    import graft.sources.Snapshots
    val dir = SparkSpec.tempDir("graft_mmx").toString + "/t"
    spark.range(10L).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .write.mode("overwrite").parquet(s"$dir-src")
    Snapshots.commitOverwrite(spark, dir,
      spark.read.parquet(s"$dir-src")) // no statsCols
    val v = Snapshots.currentVersion(spark, dir).get
    val e = intercept[IllegalArgumentException] {
      Snapshots.metadataMinMax(spark, dir, v, "v")
    }
    assert(e.getMessage.contains("tracks no 'v' stats"))
  }

  test("metadata min/max answers with every data file physically deleted") {
    import graft.sources.Snapshots
    val dir = SparkSpec.tempDir("graft_mm").toString + "/t"
    val df = spark.range(1000L).selectExpr("id AS k",
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS part",
      "CAST(id AS DOUBLE) * 1.5 AS v")
    Snapshots.commitOverwrite(spark, dir, df, partCol = "part",
      statsCols = Seq("v"))
    val v = Snapshots.currentVersion(spark, dir).get
    // physically delete every parquet data file — the manifest path
    // must still answer (the whole point of aggregate pushdown)
    val root = new java.io.File(dir)
    def purge(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(purge)
      else if (f.getName.endsWith(".parquet")) { f.delete(); () }
    }
    purge(root)
    val out = Snapshots.metadataMinMax(spark, dir, v, "v").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out("a") === ((0.0, 1497.0)))   // even ids: 0 .. 998*1.5
    assert(out("b") === ((1.5, 1498.5)))   // odd ids: 1*1.5 .. 999*1.5
  }

  // ---------------------------------------------------------------
  // Randomized differential properties (seeded, deterministic)
  // ---------------------------------------------------------------

  private val rnd = new scala.util.Random(20260814L)

  test("ppjoin losslessness holds on random corpora (differential vs brute force)") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    for (round <- 1 to 4) {
      val docs = (1L to 30L).map { i =>
        val n = 5 + rnd.nextInt(20)
        val text =
          if (i > 1L && rnd.nextInt(4) == 0)
            // near-dup of an earlier doc: copy + small mutation
            (1 to n).map(_ => vocab(rnd.nextInt(3))).mkString(" ")
          else (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (i, text, "en")
      }
      val dir = docsDir(docs)
      val got = SetSimJoin.prefixJoin(spark, dir).collect()
        .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
      assert(got === bruteForcePairs(dir), s"round $round diverged")
    }
  }

  test("winnowing guarantee holds on random strings with planted shared substrings") {
    import graft.operators.Winnowing
    // shared run of K + W - 1 = 11 normalized chars between planted
    // pairs; all other content is random and disjoint per doc
    def randWord(len: Int) =
      (1 to len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = "commonsharedrun" // 15 chars > 11 after normalization
    val docs = (1L to 20L).map { i =>
      val noise = (1 to 6).map(_ => randWord(8)).mkString(" ")
      val text = if (i % 2 == 0) s"$noise $shared ${randWord(8)}"
                 else s"${randWord(8)} $noise"
      (i, text, "en")
    }
    val dir = docsDir(docs)
    val fps = Winnowing.fingerprints(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[String]("fp")).toSet).toMap
    val evens = docs.map(_._1).filter(_ % 2 == 0)
    for (a <- evens; b <- evens if a < b)
      assert((fps(a) & fps(b)).nonEmpty,
        s"docs $a/$b share an 11+-char run but no fingerprint")
  }

  test("data card: exact counts, dup rate and language mix on a planted corpus") {
    val dir = docsDir(Seq(
      (1L, "the of and is to in every word a stopword here", "en"),
      (2L, "the of and is to in every word a stopword here", "en"), // exact dup of 1
      (3L, "tres palabras distintas", "es")))
    val r = graft.operators.Profile.dataCard(spark, dir).collect().head
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Long]("n_tokens") === 11L + 11L + 3L)
    assert(r.getAs[Long]("exact_dup_bp") === 3333L) // 1 dup of 3 docs
    assert(r.getAs[Long]("docs_en") === 2L && r.getAs[Long]("docs_es") === 1L)
    assert(r.getAs[Long]("avg_doc_tokens_x100") === 25L * 100 / 3)
  }

  test("drop funnel partitions the corpus exactly; kept row equals clean()'s cardinality") {
    import graft.operators.CorpusPipeline
    val sf = "/root/testdata/sf0.001"
    val funnel = CorpusPipeline.dropFunnel(spark, sf).collect()
      .map(r => r.getAs[String]("reason") -> r.getAs[Long]("n_docs")).toMap
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(funnel.values.sum === total, s"reasons must partition the corpus: $funnel")
    val kept = CorpusPipeline.clean(spark, sf).count()
    assert(funnel.getOrElse("0_kept", 0L) === kept,
      s"kept row must equal clean() output: $funnel vs $kept")
  }
}
