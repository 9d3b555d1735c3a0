package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Conversations, PhraseSearch, QualityClassifier,
  Sampling, Skew}

/** Round-9 second-half additions: the DCLM-style Naive Bayes quality
  * classifier, positional phrase search over a bucket-partitioned
  * postings index, SFT conversation assembly, and the skew advisor.
  * Each is pinned on planted data with hand-computed ground truth,
  * plus plan-shape assertions for the index access path.
  */
class Round9bSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    val dir = SparkSpec.tempDir("graft_r9b").toString
    rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---------------------------------------------------------------- q214

  /** Seed (src0) trains on "alpha", raw pool (src9) on "beta"; the
    * held-out docs (id % 5 == 0) are pure-alpha and pure-beta. */
  private def classifierDir(): String = docsDir(Seq(
    (1L, "alpha alpha alpha alpha", "src0"),
    (2L, "alpha alpha alpha alpha", "src0"),
    (3L, "beta beta beta beta", "src9"),
    (4L, "beta beta beta beta", "src9"),
    (10L, "alpha alpha", "src9"),  // held out, looks like seed
    (15L, "beta beta", "src0")))   // held out, looks like raw pool

  test("nb classifier: held-out docs score toward the class whose words they use") {
    val out = QualityClassifier.nbScore(spark, classifierDir()).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("llr_bits"), r.getAs[Int]("kept"), r.getAs[Int]("heldout")))
      .toMap
    // every doc is scored, train and held-out alike
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 10L, 15L))
    assert(out(10L)._3 === 1 && out(15L)._3 === 1)
    assert(out(1L)._3 === 0)
    // the alpha-document must score strictly above the beta-document,
    // and their keep decisions must split accordingly
    assert(out(10L)._1 > out(15L)._1)
    assert(out(10L)._2 === 1)
    assert(out(15L)._2 === 0)
    // training docs score consistently with their own vocabulary
    assert(out(1L)._1 > out(3L)._1)
  }

  test("nb classifier: hand-computed whole-bit LLR on the planted corpus") {
    // train = ids 1-4 (none divisible by 5): n_pos = 8 alpha tokens,
    // n_neg = 8 beta tokens, v = 2, model = {alpha: (8,0), beta: (0,8)}
    // (both pass the total>=2 prune); priors: d_all=4, d_pos=2 →
    // floor(log2(4/2)) - floor(log2(4/2)) = 0.
    // alpha token: bits_pos = floor(log2((8+2)/(8+1))) = floor(log2(10/9)) = 0
    //              bits_neg = floor(log2((8+2)/(0+1))) = floor(log2(10)) = 3
    // → per-token llr = 3; doc 10 (2 tokens) → llr_bits = 6.
    // beta token mirrors → doc 15 → llr_bits = -6.
    val out = QualityClassifier.nbScore(spark, classifierDir()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("llr_bits")).toMap
    assert(out(10L) === 6L)
    assert(out(15L) === -6L)
  }

  // ---------------------------------------------------------------- q215

  /** Corpus where the top bigram is "a a" (4 occurrences) and doc 3
    * contains an overlapping run "a a a" (2 adjacent hits). */
  private def phraseDir(): String = docsDir(Seq(
    (1L, "a a x y z", "src0"),
    (2L, "a a p q r", "src0"),
    (3L, "a a a m n", "src0"),
    (4L, "b c d e f", "src0")))

  private def builtIndex(dir: String): String = {
    val idxDir = SparkSpec.tempDir("graft_r9b_idx").toString
    PhraseSearch.postings(spark, dir)
      .write.mode("overwrite").partitionBy("tb").parquet(idxDir)
    idxDir
  }

  test("phrase search: overlapping runs count each adjacency, positions 1-based") {
    val dir = phraseDir()
    val out = PhraseSearch.phraseSearch(spark, dir, builtIndex(dir)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("w1"), r.getAs[String]("w2"),
          r.getAs[Long]("n_hits"), r.getAs[Long]("first_pos"))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(3L) === (("a", "a", 2L, 1L))) // "a a a" → hits at pos 1 and 2
    assert(out(1L) === (("a", "a", 1L, 1L)))
    assert(!out.contains(4L))
  }

  test("phrase search: the postings scan is dynamically partition-pruned") {
    val dir = phraseDir()
    val plan = PhraseSearch.phraseSearch(spark, dir, builtIndex(dir))
      .queryExecution.executedPlan.toString
    // the partition filter on tb must be dynamic (bound to the
    // broadcast query-term frame), not a full-index scan
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on tb in:\n$plan")
  }

  // ---------------------------------------------------------------- q216

  /** u1: one valid 3-turn conversation (user → assistant → user …)
    * then a 31-minute gap starts session 2 (single turn, invalid).
    * u2: same transcript as u1's session 1 → deduped (keep-first).
    * u3: two user turns back-to-back → alternation violation. */
  private def convDir(): String = {
    val dir = SparkSpec.tempDir("graft_r9b_conv").toString
    Seq(
      (1L, ts("2024-03-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-03-01 10:05:00"), 1L, "purchase", 1.0, "{}"),
      (3L, ts("2024-03-01 10:10:00"), 1L, "click", 1.0, "{}"),
      (4L, ts("2024-03-01 10:42:00"), 1L, "view", 1.0, "{}"),  // 32 min gap
      (5L, ts("2024-03-02 09:00:00"), 2L, "view", 1.0, "{}"),
      (6L, ts("2024-03-02 09:05:00"), 2L, "purchase", 1.0, "{}"),
      (7L, ts("2024-03-02 09:10:00"), 2L, "click", 1.0, "{}"),
      (8L, ts("2024-03-03 12:00:00"), 3L, "view", 1.0, "{}"),
      (9L, ts("2024-03-03 12:01:00"), 3L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("conversations: gap split, alternation validity, keep-first transcript dedup") {
    val out = Conversations.assemble(spark, convDir()).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sess_n")) ->
        (r.getAs[Long]("n_turns"), r.getAs[Long]("viol"),
          r.getAs[Int]("valid"), r.getAs[Int]("is_canonical"),
          r.getAs[String]("thash"))).toMap
    assert(out.keySet === Set((1L, 1L), (1L, 2L), (2L, 1L), (3L, 1L)))
    // u1 session 1: view/purchase/click = user/assistant/user, valid
    assert(out((1L, 1L))._1 === 3L && out((1L, 1L))._2 === 0L)
    assert(out((1L, 1L))._3 === 1)
    // the 32-minute gap isolates the 4th event as its own session,
    // invalid (below MinTurns)
    assert(out((1L, 2L))._1 === 1L && out((1L, 2L))._3 === 0)
    // u2's session replays u1's transcript → same hash, not canonical
    assert(out((2L, 1L))._5 === out((1L, 1L))._5)
    assert(out((1L, 1L))._4 === 1 && out((2L, 1L))._4 === 0)
    // u3: view then click = user,user → one violation, invalid
    assert(out((3L, 1L))._2 === 1L && out((3L, 1L))._3 === 0)
  }

  // ---------------------------------------------------------------- q217

  test("skew advisor: hand-computed stats and capped salt recommendation") {
    // key 1: 60 rows, keys 2..7: 4 rows each → n_rows=84, n_keys=7,
    // avg = 84 div 7 = 12, max = 60, hot (cnt > 48): {1} → n_hot=1,
    // salt_reco = ceil(60/12) = 5, share_ppm(1) = 60e6 div 84 = 714285
    val df = ((1 to 60).map(_ => 1L) ++ (2 to 7).flatMap(k => Seq.fill(4)(k.toLong)))
      .toDF("k2")
    val out = Skew.advisor(df, col("k2")).collect()
    assert(out.length === 5)
    val top = out.head
    assert(top.getAs[Long]("k") === 1L)
    assert(top.getAs[Long]("cnt") === 60L)
    assert(top.getAs[Long]("avg_cnt") === 12L)
    assert(top.getAs[Long]("max_cnt") === 60L)
    assert(top.getAs[Long]("n_hot") === 1L)
    assert(top.getAs[Long]("salt_reco") === 5L)
    assert(top.getAs[Long]("share_ppm") === 714285L)
    // extreme skew: 660 rows on one key + 100 singletons → avg =
    // 760 div 101 = 7, ceil(660/7) = 95 → capped at SaltCap
    val df2 = ((1 to 660).map(_ => 1L) ++ (2 to 101).map(_.toLong)).toDF("k2")
    val out2 = Skew.advisor(df2, col("k2")).collect()
    assert(out2.head.getAs[Long]("salt_reco") === Skew.SaltCap)
  }

  // ---------------------------------------------------------------- q218

  test("cdc chunks: partition each document exactly (lossless cover)") {
    val dir = phraseDir()
    val byDoc = Cdc.chunks(spark, dir)
      .groupBy("doc_id").agg(sum("clen").as("bytes"), count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bytes")).toMap
    // chunks concatenate back to the full normalized text
    assert(byDoc(1L) === "a a x y z".length.toLong)
    assert(byDoc(4L) === "b c d e f".length.toLong)
  }

  test("cdc chunks: boundaries survive a prefix insertion (the CDC property)") {
    // doc 2 is doc 1 with an inserted prefix — fixed-size chunking
    // would shift every chunk; CDC must resynchronize at the first
    // content boundary after the edit and share every chunk beyond it
    val base = Seq("lorem", "ipsum", "dolor", "sit", "amet", "consectetur",
      "adipiscing", "elit", "sed", "do", "eiusmod", "tempor", "incididunt",
      "ut", "labore", "et", "dolore", "magna", "aliqua", "ut", "enim",
      "ad", "minim", "veniam", "quis", "nostrud", "exercitation").mkString(" ")
    val dir = docsDir(Seq(
      (1L, base, "src0"),
      (2L, "zzz qqq " + base, "src0")))
    val ch = Cdc.chunks(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[String]("chash")).toSet).toMap
    val shared = ch(1L).intersect(ch(2L))
    // resync: the two documents share at least half of doc 1's chunks
    // (everything from the first post-edit boundary on)
    assert(shared.size * 2 >= ch(1L).size,
      s"expected resync; shared ${shared.size} of ${ch(1L).size}")
    // and the report sees those as duplicate occurrences in doc 2
    val sav = Cdc.dedupSavings(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dupe_chunks")).toMap
    assert(sav(1L) === 0L)
    assert(sav(2L) >= shared.size.toLong)
  }

  // ---------------------------------------------------------------- q219

  test("epoch budget: hand-computed waterfill with a capped small source") {
    // tiny: 4 tokens → cap 8; big: 100 tokens → cap 200.
    // tt = 104, budget = 156: tiny caps (8·2 + 0 ≤ 156), big takes
    // the 148-token residue (< its cap). Exactly exhausts the budget.
    val dir = docsDir(Seq(
      (1L, "w w w w", "tiny"),
      (2L, Seq.fill(100)("w").mkString(" "), "big")))
    val out = Sampling.epochBudget(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("cap"),
          r.getAs[Long]("alloc"), r.getAs[Long]("epochs_bp"))).toMap
    assert(out("tiny") === ((4L, 8L, 8L, 20000L)))
    assert(out("big") === ((100L, 200L, 148L, 14800L)))
  }

  test("epoch budget: invariants hold on the fixture corpus") {
    val rows = Sampling.epochBudget(spark, "/root/testdata/sf0.001").collect()
    val (caps, allocs) = (rows.map(_.getAs[Long]("cap")),
      rows.map(_.getAs[Long]("alloc")))
    // nobody over its epoch cap
    rows.foreach(r => assert(r.getAs[Long]("alloc") <= r.getAs[Long]("cap")))
    // the budget (3/2 of corpus tokens) is exactly exhausted unless
    // every source capped out first
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    val budget = 3 * total / 2
    assert(allocs.sum === math.min(budget, caps.sum))
  }

  // ---------------------------------------------------------------- q220

  test("ccnet buckets: per-language tertiles are balanced and ordered by bpt") {
    val rows = graft.operators.LanguageModel
      .ccnetBuckets(spark, "/root/testdata/sf0.001").collect()
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val sizes = rs.groupBy(_.getAs[String]("bucket"))
        .view.mapValues(_.length).toMap
      // ntile balance: bucket sizes differ by at most one
      assert(sizes.values.max - sizes.values.min <= 1)
      // ordering: every head bpt <= every middle bpt <= every tail bpt
      def bpts(b: String) = rs.filter(_.getAs[String]("bucket") == b)
        .map(_.getAs[Double]("bpt"))
      if (bpts("head").nonEmpty && bpts("middle").nonEmpty)
        assert(bpts("head").max <= bpts("middle").min)
      if (bpts("middle").nonEmpty && bpts("tail").nonEmpty)
        assert(bpts("middle").max <= bpts("tail").min)
    }
  }

  // ---------------------------------------------------------------- q221

  test("dedup recall eval: a boilerplate cluster past the band cap is measured as recall loss") {
    // 60 identical docs: 1770 true pairs, but every band bucket holds
    // 60 > BandBucketCap docs → zero capped candidates → recall 0.
    // The eval EXPOSES the cap's deliberate trade instead of hiding it.
    val clones = (1L to 60L).map(id =>
      (id, "the exact same boilerplate sentence repeated verbatim in every document", "src0"))
    val dir = docsDir(clones)
    val r = graft.operators.Dedup.lshRecallEval(spark, dir).collect().head
    assert(r.getAs[Long]("n_truth") === 1770L)
    assert(r.getAs[Long]("n_cand") === 0L)
    assert(r.getAs[Long]("recall_bp") === 0L)
    assert(r.isNullAt(r.fieldIndex("cand_precision_bp"))) // 0-candidate precision: undefined
    // a small duplicate family under the cap is fully recalled
    val small = docsDir((1L to 3L).map(id =>
      (id, "another shared duplicate family text body here today", "src0")))
    val r2 = graft.operators.Dedup.lshRecallEval(spark, small).collect().head
    assert(r2.getAs[Long]("n_truth") === 3L)
    assert(r2.getAs[Long]("recall_bp") === 10000L)
  }

  // ---------------------------------------------------------------- q222

  test("triplet mining: planted anchor gets its best positive and its hardest negative") {
    val dir = SparkSpec.tempDir("graft_r9b_emb").toString
    Seq(
      (0L, Array(1f, 0f), 0),        // anchor
      (1L, Array(0.99f, 0.14f), 0),  // cos ≈ .990 → positive
      (2L, Array(0.3f, 0.954f), 0),  // cos ≈ .300 → HARD negative
      (3L, Array(0f, 1f), 0))        // cos = 0   → easy negative
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // k = 1 puts everything in one cell (4 vectors would otherwise
    // each seed their own centroid and no in-cell pairs exist)
    val out = graft.operators.Vectors.tripletMining(spark, dir, k = 1)
      .collect().map(r => r.getAs[Long]("anchor") -> r).toMap
    val a = out(0L)
    assert(a.getAs[Long]("pos_id") === 1L)
    assert(a.getAs[Long]("neg_id") === 2L) // the near-miss, not the orthogonal one
    assert(a.getAs[Double]("cos_pos") >= 0.45)
    assert(a.getAs[Double]("cos_neg") < 0.45 && a.getAs[Double]("cos_neg") > 0.2)
    assert(a.getAs[Double]("margin") > 0.5)
    // an anchor whose cell holds no positive is dropped entirely:
    // re-plant with the positive removed
    val dir2 = SparkSpec.tempDir("graft_r9b_emb2").toString
    Seq((0L, Array(1f, 0f), 0), (2L, Array(0.3f, 0.954f), 0), (3L, Array(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")
    val out2 = graft.operators.Vectors.tripletMining(spark, dir2, k = 1)
      .collect().map(_.getAs[Long]("anchor")).toSet
    assert(!out2.contains(0L)) // no cos ≥ τ neighbor → no triplet
    assert(out2.contains(2L))  // 2 has pos (3, cos ≈ .954) and neg (0, cos .3)
  }

  // ---------------------------------------------------------------- q223

  test("tar shards: entry round-trip across padding edges, valid ustar checksums") {
    import graft.sources.TarShards
    val cases = Seq(
      "empty.bin" -> Array.empty[Byte],
      "one.bin" -> Array[Byte](42),
      "block.bin" -> Array.tabulate(512)(_.toByte),      // exactly one block
      "block1.bin" -> Array.tabulate(513)(_.toByte),     // one byte over
      "text.txt" -> "hello tar world".getBytes("UTF-8"))
    val tar = cases.flatMap { case (n, b) => TarShards.tarEntry(n, b) }.toArray ++
      new Array[Byte](1024)
    val back = TarShards.parseTar(tar)
    assert(back.map(_._1) === cases.map(_._1))
    cases.zip(back).foreach { case ((_, exp), (_, got)) =>
      assert(java.util.Arrays.equals(exp, got)) }
    // every header passes the ustar checksum rule (sum of header bytes
    // with the checksum field read as spaces)
    var off = 0
    for ((_, data) <- cases) {
      val sum = (0 until 512).map { i =>
        if (i >= 148 && i < 156) ' '.toInt else tar(off + i) & 0xff
      }.sum
      val stored = Integer.parseInt(
        new String(tar, off + 148, 6, "UTF-8"), 8)
      assert(stored === sum)
      off += 512 + (data.length + 511) / 512 * 512
    }
  }

  test("tar shards: GNU tar reads our shards (interop, skipped if tar absent)") {
    import graft.sources.TarShards
    import scala.sys.process._
    val tarBin = Seq("sh", "-c", "command -v tar || true").!!.trim
    assume(tarBin.nonEmpty, "no system tar available")
    val dir = SparkSpec.tempDir("graft_r9b_tar").toString
    val bytes = TarShards.tarEntry("7.txt", "seven".getBytes("UTF-8")) ++
      TarShards.tarEntry("7.cls", "src7".getBytes("UTF-8")) ++
      new Array[Byte](1024)
    Files.write(java.nio.file.Paths.get(dir, "shard-00000.tar"), bytes)
    val listing = Seq("tar", "-tf", s"$dir/shard-00000.tar").!!.trim
      .split("\n").toSeq
    assert(listing === Seq("7.txt", "7.cls"))
  }

  // ---------------------------------------------------------------- q224

  test("image phash: byte-distinct PNGs share their group's aHash; patterns differ across groups") {
    import graft.operators.Multimodal
    def hashOf(id: Long) = Multimodal.aHashOf(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodePatternPng(id))))
    def md5Of(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(Multimodal.encodePatternPng(id)).map("%02x".format(_)).mkString
    // ids 7, 57, 107 share group 7: pixel-perturbed (distinct bytes),
    // perceptually identical (same aHash) — what md5 dedup cannot see
    assert(Set(md5Of(7), md5Of(57), md5Of(107)).size === 3)
    assert(hashOf(7) === hashOf(57) && hashOf(57) === hashOf(107))
    // different groups render different patterns → different hashes
    assert(hashOf(7) !== hashOf(8))
    // the hash is a 16-hex-char string with both 0 and 1 bits
    assert(hashOf(7).matches("[0-9a-f]{16}"))
    assert(hashOf(7).toSet.size > 1)
  }

  // ---------------------------------------------------------------- q229

  test("epoch sampler: materialized copies reconcile with the waterfill plan") {
    val rows = Sampling.epochSampler(spark, "/root/testdata/sf0.001").collect()
    val plan = Sampling.epochBudget(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("alloc")).toMap
    rows.foreach { r =>
      val (alloc, sampled, full, rate16) = (r.getAs[Long]("alloc"),
        r.getAs[Long]("sampled_tokens"), r.getAs[Long]("full_epochs"),
        r.getAs[Long]("rate16"))
      // the sampler executes THIS plan
      assert(alloc === plan(r.getAs[String]("source")))
      // every doc contributes at least its full epochs; the fractional
      // draw can only add
      val nTokens = r.getAs[Long]("n_tokens")
      assert(sampled >= full * nTokens)
      assert(sampled <= (full + 1) * nTokens)
      // the draw realizes SOME fraction iff the plan asked for one
      // (rate16 > 0 can still draw zero docs on a tiny source, but a
      // zero rate must draw nothing)
      if (rate16 == 0L) assert(sampled === full * nTokens)
    }
    // deterministic md5 membership: a rerun materializes the exact
    // same sample (no rand() anywhere)
    val again = Sampling.epochSampler(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  // ---------------------------------------------------------------- q228

  test("nb calibration: separable vocabularies produce a monotone seed-rate profile") {
    // seed docs speak alpha, pool docs speak beta; held-out ids
    // (0 mod 5) of both kinds land in opposite score extremes
    val rows = (1L to 40L).map { i =>
      val seed = i % 2 == 0
      (i, if (seed) "alpha alpha alpha alpha" else "beta beta beta beta",
        if (seed) "src0" else "src9")
    }
    val out = graft.operators.QualityClassifier
      .calibration(spark, docsDir(rows)).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("seed_bp"))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L))
    // total held-out docs = ids in 1..40 with id % 5 == 0 → 8
    assert(out.values.map(_._1).sum === 8L)
    // top buckets are pure seed, bottom pure pool — perfectly
    // separable vocabularies give a monotone (step) profile
    assert(out(1L)._2 === 10000L)
    assert(out(5L)._2 === 0L)
    val profile = (1L to 5L).map(out(_)._2)
    assert(profile === profile.sorted.reverse)
  }

  // ---------------------------------------------------------------- q227

  test("soft dedup: cluster mass sums to one doc's worth; singletons keep full weight") {
    // 3 identical docs (one cluster) + 2 unique docs (singletons)
    val dir = docsDir(Seq(
      (1L, "the exact same duplicated training document body here", "src0"),
      (2L, "the exact same duplicated training document body here", "src0"),
      (3L, "the exact same duplicated training document body here", "src0"),
      (4L, "a completely unrelated document about other things", "src0"),
      (5L, "yet another distinct singleton body entirely", "src0")))
    val out = graft.operators.Dedup.softDedupWeights(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("csize"),
          r.getAs[Long]("weight_bp"))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L))        // nothing dropped
    assert(Seq(1L, 2L, 3L).forall(out(_) == ((1L, 3L, 3333L))))
    assert(out(4L) === ((4L, 1L, 10000L)))
    assert(out(5L) === ((5L, 1L, 10000L)))
  }

  // ---------------------------------------------------------------- q226

  test("phash near-dup: single-block flips pair at Hamming 1, two flips at Hamming 2") {
    import graft.operators.Multimodal
    // group g=7: id 7 base; ids 207 and 457 are its flipped variants
    // ((id/50)%5==4) with DIFFERENT flipped blocks (207%64=15, 457%64=9)
    val dir = docsDir(Seq((7L, "x", "src0"), (57L, "x", "src0"),
      (207L, "x", "src0"), (457L, "x", "src0"), (8L, "x", "src0")))
    val out = Multimodal.pHashNearDup(spark, dir).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) ->
        r.getAs[Long]("hamming")).toMap
    assert(out((7L, 207L)) === 1L)   // base vs flipped variant
    assert(out((57L, 207L)) === 1L)  // every group member pairs with it
    assert(out((7L, 457L)) === 1L)
    assert(out((207L, 457L)) === 2L) // two different flipped blocks
    // exact duplicates (7, 57) are NOT near-dup pairs (Hamming 0 —
    // that's q224's grouping), and unrelated groups don't pair
    assert(!out.contains((7L, 57L)))
    assert(!out.keys.exists { case (a, b) => a == 8L || b == 8L })
  }

  // ---------------------------------------------------------------- q225

  test("audio quality: hand-computed silence/clipping regimes on real WAV decode") {
    val dir = docsDir((1L to 3L).map(i => (i, "x", "src0")) ++
      Seq((7L, "x", "src0"), (22L, "x", "src0")))
    val out = graft.operators.Multimodal.audioQuality(spark, dir).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("n_silent_windows"), r.getAs[Long]("n_clipped"),
          r.getAs[Int]("keep"))).toMap
    // id 7 (≡0 mod 7): every 2nd window silent → 4 of 8 → rejected
    assert(out(7L)._1 === 4L && out(7L)._3 === 0)
    // id 22 (≡0 mod 11): whole window 1 clipped (32) + scattered
    // clips → ≥ 32 clipped of 256 (> 2%) → rejected
    assert(out(22L)._2 >= 32L && out(22L)._3 === 0)
    // id 1: 2 of 8 windows silent, ≤ 3 scattered clips → kept
    assert(out(1L)._1 === 2L && out(1L)._2 <= 3L && out(1L)._3 === 1)
    // silence wins over clipping: every silent window is bit-zero, so
    // clip marks never land inside one (energy of a silent-only
    // window contributes nothing)
    assert(out.values.forall { case (s, c, _) => s <= 4L && c <= 35L })
  }

  // ------------------------------------------------- degenerate inputs

  test("empty corpora: every round-9b operator returns zero rows, no errors") {
    val docs = docsDir(Seq.empty)
    val events = SparkSpec.tempDir("graft_r9b_ev0").toString
    Seq.empty[(Long, Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$events/events.parquet")
    assert(QualityClassifier.nbScore(spark, docs).count() === 0L)
    assert(Cdc.dedupSavings(spark, docs).count() === 0L)
    assert(Sampling.epochBudget(spark, docs).count() === 0L)
    assert(graft.operators.LanguageModel.ccnetBuckets(spark, docs).count() === 0L)
    assert(Conversations.assemble(spark, events).count() === 0L)
    assert(Skew.advisor(spark.emptyDataset[Long].toDF("k2"), col("k2")).count() === 0L)
    // single-word docs: postings exist but NO bigram does → the query
    // frame is empty and the search returns nothing (an empty corpus
    // writes no index files at all — nothing to probe, by contract)
    val oneWord = docsDir(Seq((1L, "solo", "src0"), (2L, "word", "src0")))
    assert(PhraseSearch.phraseSearch(spark, oneWord, builtIndex(oneWord))
      .count() === 0L)
  }

  test("one-class training: the NB prior (and thus the LLR) is NULL — honestly undefined") {
    // everything is seed; no negative class exists, so d_all - d_pos = 0
    // and the prior divides by zero → NULL in Spark (ANSI off) and in
    // DuckDB (// 0 → NULL) alike: the gate still hash-matches, and the
    // NULL is the right answer (an LLR needs both classes)
    val dir = docsDir(Seq((1L, "alpha alpha", "src0"), (2L, "alpha beta", "src1")))
    val out = QualityClassifier.nbScore(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.isNullAt(out.head.fieldIndex("llr_bits"))))
  }

  test("empty-normalizing document: CDC still covers it with one empty chunk") {
    val dir = docsDir(Seq((1L, "???", "src0"), (2L, "real words here", "src0")))
    val sav = Cdc.dedupSavings(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("bytes_total"))).toMap
    assert(sav(1L) === ((1L, 0L)))  // "???" normalizes to "" → one 0-byte chunk
    assert(sav(2L)._2 === "real words here".length.toLong)
  }
}
