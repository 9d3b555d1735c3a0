package graft

import graft.operators.{Sharding, TextAnalysis}

/** Degenerate-input hardening for the text/ordering operators behind
  * q73/q76/q77/q78: empty corpus, all-empty documents, MAD = 0
  * (constant-length corpus), shards ≫ occupied buckets. Expected
  * values are the closed forms the DuckDB oracle computes over the
  * same inputs — the planted cases assert the exact numbers, not just
  * absence of crashes. */
class DegenerateInputSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(docs: Seq[(Long, String, String, String, Long)]): String = {
    val dir = SparkSpec.tempDir("graft_degen").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("empty corpus: length/oov/shard/bucket operators return zero rows, no errors") {
    val dir = corpus(Seq.empty)
    assert(TextAnalysis.lengthOutliers(spark, dir).count() === 0L)
    assert(TextAnalysis.oovScore(spark, dir).count() === 0L)
    assert(Sharding.shardOrder(spark, dir).count() === 0L)
    assert(TextAnalysis.lengthBuckets(spark, dir).count() === 0L)
  }

  test("all-empty documents: zero-token docs are excluded from OOV, constant under outliers") {
    val dir = corpus((0L until 5L).map(i => (i, "", "en", "src0", 0L)))
    // zero-token docs produce no explode rows → no OOV rows (documented)
    assert(TextAnalysis.oovScore(spark, dir).count() === 0L)
    // every doc has the same token count → med = toks, MAD = 0, and
    // |toks − med| = 0 is NOT > 3·0: zero outliers
    val out = TextAnalysis.lengthOutliers(spark, dir).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_docs") === 5L)
    assert(out.head.getAs[Long]("n_outliers") === 0L)
    assert(out.head.getAs[Double]("mad") === 0.0)
    // sharding still assigns every doc a contiguous 1-based position
    assert(Sharding.shardOrder(spark, dir).count() === 5L)
  }

  test("single source with MAD = 0: every doc off the median is flagged (strict > 0 boundary)") {
    // token counts 8,10,10,10,12: med = 10, deviations (2,0,0,0,2) →
    // MAD = median(0,0,0,2,2) = 0, so the 3-MAD rule degenerates to
    // |toks − med| > 0 — both off-median docs flag, the three exactly-
    // median docs do not. The oracle's quantile_cont computes the same
    // R-7 median over the same integers, so the engines agree exactly.
    def toks(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val dir = corpus(Seq(
      (0L, toks(8), "en", "src0", 10L),
      (1L, toks(10), "en", "src0", 10L),
      (2L, toks(10), "en", "src0", 10L),
      (3L, toks(10), "en", "src0", 10L),
      (4L, toks(12), "en", "src0", 10L)))
    val out = TextAnalysis.lengthOutliers(spark, dir).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Double]("med") === 10.0)
    assert(out.head.getAs[Double]("mad") === 0.0)
    assert(out.head.getAs[Long]("n_outliers") === 2L)
  }

  test("shards far beyond occupied buckets: positions stay contiguous 1-based per shard") {
    val dir = corpus((0L until 7L).map(i =>
      (i, s"alpha beta gamma doc$i", "en", "src0", 20L)))
    val rows = Sharding.shardOrder(spark, dir, shards = 64).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pos"), r.getAs[Long]("doc_id")))
    assert(rows.length === 7)
    assert(rows.forall { case (s, _, _) => s >= 0 && s < 64 })
    // within every occupied shard, pos = 1..k with no gaps
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      assert(rs.map(_._2).sorted.toSeq === (1L to rs.length).toSeq,
        s"shard $shard positions not contiguous: ${rs.mkString(",")}")
    }
    // determinism: a rerun yields the identical assignment
    val again = Sharding.shardOrder(spark, dir, shards = 64).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pos"), r.getAs[Long]("doc_id")))
    assert(rows.sortBy(_._3).toSeq === again.sortBy(_._3).toSeq)
  }

  test("BPE training degenerates gracefully: single-char vocab exhausts, empty corpus yields no merges") {
    // every word is one character → no adjacent pairs → zero merges
    val dir = corpus(Seq((0L, "a b c a b", "en", "src0", 9L)))
    assert(TextAnalysis.bpeTrain(spark, dir).count() === 0L)
    // a two-char word yields exactly one merge, then exhausts
    val dir2 = corpus(Seq((0L, "ab ab ab", "en", "src0", 8L)))
    val m = TextAnalysis.bpeTrain(spark, dir2)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(m === Seq((1L, "a", "b", 3L)))
    // tokenization with the single learned merge: 3 words × 1 symbol
    assert(TextAnalysis.bpeApplyCounts(spark, dir2)
      .as[(Long, Long, Long)].collect().toSeq === Seq((0L, 3L, 3L)))
    assert(TextAnalysis.bpeTrain(spark, corpus(Seq.empty)).count() === 0L)
  }

  test("bigram rarity: sub-2-token docs emit no rows; single-doc corpus has no rare bigrams") {
    val dir = corpus(Seq((0L, "one", "en", "src0", 3L), (1L, "", "en", "src0", 0L)))
    assert(TextAnalysis.bigramRarity(spark, dir).count() === 0L)
    // one doc, every bigram count equals its context count share —
    // with a single doc "x y x y": cnt2(x,y)=2, cnt2(y,x)=1, cnt1(x)=2,
    // cnt1(y)=1 → 50·cnt2 ≥ cnt1 everywhere: zero rare
    val dir2 = corpus(Seq((0L, "x y x y", "en", "src0", 7L)))
    val r = TextAnalysis.bigramRarity(spark, dir2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r === Seq((0L, 3L, 0L, 0.0)))
  }

  test("winsorize: single doc per source clips nothing (p25 = p75 = the value)") {
    val dir = corpus(Seq((0L, "t", "en", "solo", 7L)))
    val w = TextAnalysis.winsorize(spark, dir).collect()
    assert(w.length === 1)
    assert(w(0).getAs[Long]("n") === 1L)
    assert(w(0).getAs[Long]("n_low") === 0L && w(0).getAs[Long]("n_high") === 0L)
    assert(w(0).getAs[Double]("win_sum") === 7.0)
  }

  test("semantic dedup and PQ ANN survive a corpus smaller than the codebook") {
    val dir = SparkSpec.tempDir("graft_degen_vec").toString
    // 3 vectors, k = 16 seeds → codebooks of 3; dim 64 for PQ slicing
    val vecs = (0L until 3L).map(v =>
      (v, Array.tabulate(64)(i => ((v * 31 + i * 7) % 13).toFloat / 13f)))
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val sd = graft.operators.Vectors.semanticDedup(spark, dir).collect()
    assert(sd.length === 3)
    val pq = graft.operators.Vectors.annPq(spark, dir).collect()
    // every query (all 3 ids < NumQueries) ranks the other two
    assert(pq.length === 6)
  }

  test("behavioral operators on an empty events table return the identity shapes") {
    val dir = SparkSpec.tempDir("graft_degen_ev").toString
    import java.sql.Timestamp
    Seq.empty[(Long, Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // funnel still emits one row per step — with zero users each
    val f = graft.operators.Behavioral.funnel(spark, dir).collect()
    assert(f.map(_.getAs[Long]("users")).toSeq === Seq(0L, 0L, 0L))
    assert(graft.operators.Behavioral.cohortRetention(spark, dir).count() === 0L)
    assert(graft.operators.Behavioral.concurrencyProfile(spark, dir).count() === 0L)
  }

  test("duplicated spans: doc shorter than the window and zero-duplicate corpus yield no rows") {
    val dir = corpus(Seq(
      (0L, "too short", "en", "src0", 9L),
      (1L, (1 to 12).map(i => s"a$i").mkString(" "), "en", "src0", 50L)))
    assert(graft.operators.Dedup.duplicatedSpans(spark, dir).count() === 0L)
  }

  test("zero-duration sessions are dropped from the concurrency sweep") {
    val dir = SparkSpec.tempDir("graft_degen_ev0").toString
    import java.sql.Timestamp
    Seq((1L, Timestamp.valueOf("2024-03-01 10:00:00"), 1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(graft.operators.Behavioral.concurrencyProfile(spark, dir).count() === 0L)
  }

  test("pagerank: graph with no edges settles every node at the base score") {
    val dir = SparkSpec.tempDir("graft_degen_pr").toString
    // single-supplier orders → no co-supply pairs at all
    Seq((10L, 1L), (20L, 2L)).toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(1L, 2L).toDF("s_suppkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val pr = graft.operators.Affinity.pageRankCoSupply(spark, dir).collect()
    assert(pr.map(_.getAs[Long]("score")).toSeq === Seq(150000L, 150000L))
  }

  test("attribution/ewma/rolling on empty events; k-core and bfs on edgeless graphs") {
    val ev = SparkSpec.tempDir("graft_degen_ev2").toString
    import java.sql.Timestamp
    Seq.empty[(Long, Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$ev/events.parquet")
    assert(graft.operators.Behavioral.attribution(spark, ev).count() === 0L)
    assert(graft.operators.Behavioral.ewmaDaily(spark, ev).count() === 0L)
    assert(graft.operators.Behavioral.rollingDailyStats(spark, ev).count() === 0L)
    val g = SparkSpec.tempDir("graft_degen_g").toString
    // single-member orders: no co-purchase and no co-supply pairs
    Seq((10L, 1L, 1L), (20L, 2L, 2L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$g/lineitem.parquet")
    Seq(1L, 2L, 10L).toDF("s_suppkey")
      .write.mode("overwrite").parquet(s"$g/supplier.parquet")
    // no co-occurrence edges: the k-core is empty; BFS reaches only
    // the seed itself at distance 0
    assert(graft.operators.Affinity.kCore(spark, g).count() === 0L)
    val bfs = graft.operators.Affinity.bfsHops(spark, g).collect()
    assert(bfs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((10L, 0L)))
  }

  test("purchase-only attribution credits 'direct' on both models") {
    val ev = SparkSpec.tempDir("graft_degen_attr").toString
    import java.sql.Timestamp
    Seq((1L, Timestamp.valueOf("2024-03-01 10:00:00"), 1L, "purchase", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$ev/events.parquet")
    val out = graft.operators.Behavioral.attribution(spark, ev).collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "direct")
    assert(out.head.getLong(1) === 250L && out.head.getLong(3) === 250L)
  }

  test("single-observation EWMA and rolling stats equal the observation itself") {
    val ev = SparkSpec.tempDir("graft_degen_ewma1").toString
    import java.sql.Timestamp
    Seq((1L, Timestamp.valueOf("2024-03-01 10:00:00"), 1L, "a", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$ev/events.parquet")
    val e = graft.operators.Behavioral.ewmaDaily(spark, ev).head()
    assert(e.getDouble(3) === 300.0)
    val r = graft.operators.Behavioral.rollingDailyStats(spark, ev).head()
    assert(r.getDouble(4) === 300.0 && r.getLong(5) === 300L && r.getLong(6) === 300L)
  }

  test("fk audit on empty children; readability/sig-jaccard/k-anonymity on empty inputs") {
    val dir = SparkSpec.tempDir("graft_degen_fk").toString
    def w(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    w(Seq.empty[Long].toDF("r_regionkey"), "region")
    w(Seq.empty[(Long, Long)].toDF("n_nationkey", "n_regionkey"), "nation")
    w(Seq.empty[(Long, Long)].toDF("c_custkey", "c_nationkey"), "customer")
    w(Seq.empty[(Long, Long)].toDF("s_suppkey", "s_nationkey"), "supplier")
    w(Seq.empty[Long].toDF("p_partkey"), "part")
    w(Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey"), "orders")
    w(Seq.empty[(Long, Long, Long)].toDF("l_orderkey", "l_partkey", "l_suppkey"),
      "lineitem")
    val fk = graft.operators.Relational.fkAudit(spark, dir).collect()
    assert(fk.length === 7)
    fk.foreach(r => assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((0L, 0L, 0L))))
    val docs = corpus(Seq((0L, "", "en", "s", 0L)))
    assert(TextAnalysis.readability(spark, docs).count() === 0L)
    assert(graft.operators.Dedup.signatureJaccard(spark, docs).count() === 0L)
    assert(graft.operators.Privacy
      .kAnonymityViolations(Seq.empty[(Long, String)].toDF("id", "g"), Seq("g"), 10)
      .count() === 0L)
  }

  test("q158-q164 family: empty inputs return zero rows, no errors") {
    val dir = corpus(Seq.empty)
    assert(TextAnalysis.bigramFluency(spark, dir).count() === 0L)
    assert(TextAnalysis.vocabHeavyHitters(spark, dir).count() === 0L)
    assert(graft.operators.Sampling.leakageSafeSplit(spark, dir).count() === 0L)
    val edir = SparkSpec.tempDir("graft_degen_e").toString
    Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("user_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$edir/events.parquet")
    assert(graft.operators.TimeSeries.interpolateHourly(spark, edir).count() === 0L)
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$edir/embeddings.parquet")
    assert(graft.operators.Vectors.mmrRerank(spark, edir).count() === 0L)
    assert(graft.operators.Dedup.simhash64Signatures(spark, dir).count() === 0L)
  }

  test("one-token docs cast no bigram vote; single-doc corpus scores itself") {
    // doc 0 has one token (no bigram -> excluded); doc 1's two bigrams
    // are each unique: c12=1, c1=1, V=3 over the SURVIVING docs only
    // (doc 0's token is excluded from V because the model trains on
    // bigram-bearing docs) -> p = 2/(1+3) = 0.5 per bigram
    val dir = corpus(Seq(
      (0L, "solo", "en", "src0", 4L),
      (1L, "a b c", "en", "src0", 5L)))
    val out = TextAnalysis.bigramFluency(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out === Map(1L -> 0.5))
  }

  test("misra-gries capacity larger than vocabulary: plain exact counts") {
    // vocab 2 < cap 40: no eviction ever happens, and with n=31 the
    // n/40 threshold is < 1, so EVERY term (even the singleton) is a
    // heavy hitter — the exact contract, not an artifact
    val dir = corpus(Seq((0L, Seq.fill(30)("x").mkString(" ") + " y", "en", "s", 1L)))
    val out = TextAnalysis.vocabHeavyHitters(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("x" -> 30L, "y" -> 1L))
  }

  test("decile lift with fewer rows than deciles: each row its own tile") {
    val dir = SparkSpec.tempDir("graft_degen_o").toString
    Seq((1L, 100.0, "F"), (2L, 50.0, "O"), (3L, 25.0, "F"))
      .toDF("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = graft.operators.Relational.decileLift(spark, dir).collect()
    // ranks 1,2,3 of n=3 -> deciles ((r-1)*10) div 3 + 1 = 1, 4, 7
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 4L, 7L))
    assert(out.map(_.getLong(1)).sum === 3L)
  }
}
