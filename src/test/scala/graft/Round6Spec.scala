package graft

import org.apache.spark.sql.functions._

import graft.operators.{Relational, TextAnalysis}

/** Semantic tests for the round-6 audit/readability operators on
  * planted data with hand-computed ground truth. */
class Round6Spec extends SparkSpec {
  import spark.implicits._

  test("fk audit: orphans, NULL keys and clean edges counted per FK edge") {
    val dir = SparkSpec.tempDir("graft_fk").toString
    def w(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    w(Seq(1L).toDF("r_regionkey"), "region")
    // nation 2 points at a missing region
    w(Seq((1L, 1L), (2L, 9L)).toDF("n_nationkey", "n_regionkey"), "nation")
    w(Seq((1L, 1L)).toDF("c_custkey", "c_nationkey"), "customer")
    w(Seq((1L, 1L)).toDF("s_suppkey", "s_nationkey"), "supplier")
    w(Seq(1L).toDF("p_partkey"), "part")
    // order 2 points at a missing customer
    w(Seq((1L, 1L), (2L, 99L)).toDF("o_orderkey", "o_custkey"), "orders")
    // one orphan per lineitem FK + one NULL l_orderkey
    w(Seq[(Option[Long], Long, Long)](
        (Some(1L), 1L, 1L), (Some(7L), 1L, 1L), (Some(1L), 8L, 1L),
        (Some(1L), 1L, 9L), (None, 1L, 1L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey"), "lineitem")
    val out = Relational.fkAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out === Map(
      "lineitem.l_orderkey>orders" -> ((5L, 1L, 1L)),
      "lineitem.l_partkey>part" -> ((5L, 0L, 1L)),
      "lineitem.l_suppkey>supplier" -> ((5L, 0L, 1L)),
      "orders.o_custkey>customer" -> ((2L, 0L, 1L)),
      "customer.c_nationkey>nation" -> ((1L, 0L, 0L)),
      "supplier.s_nationkey>nation" -> ((1L, 0L, 0L)),
      "nation.n_regionkey>region" -> ((2L, 0L, 1L))))
  }

  test("k-anonymity: under-k groups reported; suppression removes exactly their rows") {
    val df = (1 to 12).map(i => (i.toLong, "NY", "A")) ++
      Seq((20L, "SF", "A"), (21L, "SF", "A")) // group of 2 → violation
    val d = df.toDF("id", "city", "seg")
    val v = graft.operators.Privacy.kAnonymityViolations(d, Seq("city", "seg"), 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(v.toSeq === Seq(("SF", "A", 2L)))
    val kept = graft.operators.Privacy.suppressViolations(d, Seq("city", "seg"), 10)
    assert(kept.count() === 12)
    assert(kept.filter(col("city") === "SF").count() === 0)
  }

  test("longest streak: consecutive months merge across year boundary, gaps split") {
    val dir = SparkSpec.tempDir("graft_streak").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    // cust 1: Nov, Dec, Jan, Feb (4-streak over the year boundary),
    // then Apr (gap → own island); cust 2: two isolated months
    Seq((1L, d("2023-11-05")), (1L, d("2023-12-28")), (1L, d("2024-01-02")),
        (1L, d("2024-02-14")), (1L, d("2024-04-01")),
        (2L, d("2024-01-15")), (2L, d("2024-03-15")))
      .toDF("o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = graft.operators.TimeSeries.longestStreak(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 4L, "2023-11-01", 5L),
      (2L, 1L, "2024-03-01", 2L))) // tie on len → LATEST start wins
  }

  test("join-view maintenance: the signed delta algebra survives deletes, updates, inserts and group moves") {
    import graft.sources.Snapshots
    val root = SparkSpec.tempDir("graft_ivm").toString
    val a0 = Seq((1L, 10L, BigDecimal("5.00")), (2L, 10L, BigDecimal("7.00")),
      (3L, 20L, BigDecimal("9.00")))
      .toDF("ok", "ck", "price")
    Snapshots.commitOverwrite(spark, s"$root/a", a0)
    // A v2: delete ok=2 (via deletion vector), update ok=3 price, insert ok=4
    Snapshots.commitDeleteVector(spark, s"$root/a", Seq(2L).toDF("ok"), "ok")
    Snapshots.commitMerge(spark, s"$root/a",
      Seq((3L, 20L, BigDecimal("11.00")), (4L, 20L, BigDecimal("1.00")))
        .toDF("ok", "ck", "price"), "ok")
    val vA1 = Snapshots.currentVersion(spark, s"$root/a").get
    val b0 = Seq((10L, "N1"), (20L, "N2")).toDF("ck", "nation")
    Snapshots.commitOverwrite(spark, s"$root/b", b0)
    // B v2: customer 10 moves to nation N3
    Snapshots.commitMerge(spark, s"$root/b",
      Seq((10L, "N3")).toDF("ck", "nation"), "ck")
    val baseAgg = Snapshots.readVersion(spark, s"$root/a", "v00000001")
      .join(Snapshots.readVersion(spark, s"$root/b", "v00000001"), Seq("ck"))
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n"), sum(col("price")).as("value_sum"))
    val got = Snapshots.maintainJoinAggregate(spark,
        s"$root/a", "v00000001", vA1, "ok", "ck", "price",
        s"$root/b", "v00000001", "v00000002", "ck", "nation", baseAgg)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue)).toMap
    // final: a = {1→(10,5), 3→(20,11), 4→(20,1)}, b = {10→N3, 20→N2}
    assert(got === Map("N3" -> ((1L, 5.0)), "N2" -> ((2L, 12.0))))
  }

  test("readability: hand-computed Flesch, sentence clamp, empty docs excluded") {
    val dir = SparkSpec.tempDir("graft_read").toString
    Seq(
      (0L, "The cat sat. The dog ran!", "en", "s", 25L),
      (1L, "no punctuation here", "en", "s", 19L),
      (2L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.readability(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L)) // empty doc excluded
    val d0 = rows(0)
    // 6 words, 2 sentences, 6 vowel groups
    assert((d0.getLong(1), d0.getLong(2), d0.getLong(3)) === ((6L, 2L, 6L)))
    assert(d0.getDouble(4) === 206.835 - 1.015 * (6.0 / 2.0) - 84.6 * (6.0 / 6.0))
    assert(d0.getString(5) === "easy")
    val d1 = rows(1)
    // no [.!?] at all → sentence count clamps to 1; 3 words, 6 vowel
    // groups (no→o; punctuation→u,ua,io; here→e,e)
    assert((d1.getLong(1), d1.getLong(2), d1.getLong(3)) === ((3L, 1L, 6L)))
    assert(d1.getString(5) === "hard")
  }

  test("containment: a short doc quoted whole inside a long one is caught; Jaccard would miss it") {
    val dir = SparkSpec.tempDir("graft_cont").toString
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val long = "intro words before the quote " + quote +
      " and a very long tail " + (1 to 30).map(i => s"filler$i").mkString(" ")
    Seq((1L, quote, "en", "s", 10L), (2L, long, "en", "s", 10L),
        (3L, "unrelated content entirely different words", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Dedup.containment(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment")).toMap
    // doc 1's shingles all appear in doc 2 → containment 1.0 directed 1→2
    assert(out((1L, 2L)) === 1.0)
    // the reverse direction is NOT contained (long tail unique to 2)
    assert(!out.contains((2L, 1L)) && !out.keys.exists(_._1 == 3L))
    // symmetric Jaccard on the same corpus misses the pair entirely
    val jac = graft.operators.Dedup.ngramJaccard(spark, dir).collect()
    assert(!jac.exists(r => Set(r.getLong(0), r.getLong(1)) == Set(1L, 2L)))
  }

  test("item similarity: parts always bought together outrank popular-but-uncorrelated pairs") {
    val dir = SparkSpec.tempDir("graft_cf").toString
    // parts 1,2 co-occur in all their 3 orders (cos=1); part 9 is in
    // every order (popular) so its pairs have low cosine
    val rows = Seq(
      (10L, 1L), (10L, 2L), (10L, 9L),
      (11L, 1L), (11L, 2L), (11L, 9L),
      (12L, 1L), (12L, 2L), (12L, 9L),
      (13L, 9L), (14L, 9L), (15L, 9L), (16L, 9L))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Affinity.itemSimilarity(spark, dir).collect()
    val top = out.head
    assert((top.getLong(0), top.getLong(1)) === ((1L, 2L)))
    assert(top.getAs[Long]("score") === 100000000L) // cos = 1 exactly
    val scores = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("score")).toMap
    // (1,9): co=3, deg1=3, deg9=7 → 9e8 div 21 < 1e8
    assert(scores((1L, 9L)) === 9L * 100000000L / 21L)
  }

  test("drift days: a day missing a dominant type drifts more than a balanced day") {
    val dir = SparkSpec.tempDir("graft_drift").toString
    val ts = java.sql.Timestamp.valueOf(_: String)
    // two balanced days (50/50 a,b) and one day of only 'a'
    val ev = (1 to 10).map(i => (i.toLong, 1L, "a", ts("2024-01-01 00:00:00"), 1.0)) ++
      Seq.tabulate(5)(i => ((100 + i).toLong, 1L, "a", ts("2024-01-02 01:00:00"), 1.0)) ++
      Seq.tabulate(5)(i => ((200 + i).toLong, 1L, "b", ts("2024-01-02 02:00:00"), 1.0)) ++
      Seq.tabulate(5)(i => ((300 + i).toLong, 1L, "a", ts("2024-01-03 01:00:00"), 1.0)) ++
      Seq.tabulate(5)(i => ((400 + i).toLong, 1L, "b", ts("2024-01-03 02:00:00"), 1.0))
    ev.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.Behavioral.driftDays(spark, dir).collect()
    assert(out.head.getString(0) === "2024-01-01") // the all-'a' day drifts most
    val drifts = out.map(r => r.getString(0) -> r.getAs[Long]("drift")).toMap
    assert(drifts("2024-01-01") > drifts("2024-01-02"))
    assert(drifts("2024-01-02") === drifts("2024-01-03")) // identical mixes tie
  }

  test("weak labels: plurality wins, ties break lexicographically, all-abstain docs drop") {
    val dir = SparkSpec.tempDir("graft_weak").toString
    Seq(
      (1L, "spark query stream", "en", "s", 10L),  // compute 2, streaming 1
      (2L, "table row words", "en", "s", 10L),     // storage 2
      (3L, "spark table", "en", "s", 10L),         // 1-1 tie -> compute (lex)
      (4L, "nothing matches here", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.weakLabels(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getAs[Long]("label_votes"),
        r.getAs[Long]("n_votes"), r.getAs[Double]("confidence")))).toMap
    assert(out(1L) === (("compute", 2L, 3L, 0.6667)))
    assert(out(2L) === (("storage", 2L, 2L, 1.0)))
    assert(out(3L)._1 === "compute")
    assert(!out.contains(4L))
  }

  test("target encoding shrinks small categories toward the prior; indexer ranks by frequency") {
    val dir = SparkSpec.tempDir("graft_feat").toString
    // category A: 2 orders at 100.00; B: 1 order at 1000.00
    Seq(("A", 100.0), ("A", 100.0), ("B", 1000.0))
      .toDF("o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val enc = graft.operators.Featurize.targetEncode(spark, dir, m = 10).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("mean_cents"), r.getAs[Long]("enc_cents")))).toMap
    // prior = 120000 div 3 = 40000 cents
    assert(enc("A")._1 === 10000L)
    assert(enc("B")._1 === 100000L)
    // both encodings pulled toward the prior, between raw mean and prior
    assert(enc("A")._2 > 10000L && enc("A")._2 < 40000L)
    assert(enc("B")._2 < 100000L && enc("B")._2 > 40000L)
    // m-estimate formula exactly: (s + 10*prior) div (n + 10)
    assert(enc("A")._2 === (20000L + 10L * 40000L) / 12L)

    Seq(("x", "t1"), ("y", "t2"), ("z", "t2"), ("w", "t3"), ("v", "t3"), ("u", "t3"))
      .toDF("p_partkey", "p_type")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val idx = graft.operators.Featurize.stringIndexer(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("idx")).toMap
    assert(idx === Map("t3" -> 0L, "t2" -> 1L, "t1" -> 2L))
  }

  test("link prediction: the open corner of a wedge is predicted; existing edges never are") {
    val dir = SparkSpec.tempDir("graft_lp").toString
    // orders 1,2 buy {1,2}; orders 3,4 buy {1,3} -> edges (1,2),(1,3)
    // (support 2 each); the open pair (2,3) shares neighbor 1
    Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
        (3L, 1L), (3L, 3L), (4L, 1L), (4L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Affinity.linkPrediction(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("cn")).toMap
    assert(out === Map((2L, 3L) -> 1L))
  }

  test("misra-gries: candidates are a superset of freq > n/(cap+1) items, " +
      "for any arrival order") {
    // skewed stream: a×50, b×20, c×10, plus 20 distinct singletons
    val base = List.fill(50)("a") ++ List.fill(20)("b") ++
      List.fill(10)("c") ++ (1 to 20).map(i => s"z$i")
    val n = base.size // 100
    for (seed <- 1 to 5) {
      val stream = new scala.util.Random(seed).shuffle(base)
      val cap = 4 // decrements guaranteed: 23 distinct terms > cap
      val cands = TextAnalysis.misraGries(stream.iterator, cap).toSet
      val exact = base.groupBy(identity).collect {
        case (t, xs) if xs.size > n / (cap + 1) => t
      }.toSet // {a, b} at threshold 20
      assert(exact.subsetOf(cands), s"seed=$seed missing ${exact -- cands}")
      assert(cands.size <= cap)
    }
  }

  test("vocab heavy hitters: exact under a capacity that forces evictions") {
    val dir = SparkSpec.tempDir("graft_hh").toString
    // hot×40, warm×12, and 30 distinct cold terms: n = 82
    val text = (List.fill(40)("hot") ++ List.fill(12)("warm") ++
      (1 to 30).map(i => s"cold$i")).mkString(" ")
    // spread over several docs so multiple partitions see the stream
    val docs = text.split(" ").grouped(7).zipWithIndex
      .map { case (w, i) => (i.toLong, w.mkString(" ")) }.toSeq
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.vocabHeavyHitters(spark, dir, k = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact contract: freq*8 > 82 → hot (40×8=320) and warm (12×8=96)
    assert(out === Map("hot" -> 40L, "warm" -> 12L))
  }

  test("linear interpolation fills interior gaps from both neighbors") {
    import java.sql.Timestamp
    val dir = SparkSpec.tempDir("graft_interp").toString
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    // user 1: hours 0,1,3 observed (hour 1 from two events summing to
    // 20), hour 2 missing -> (2-1)/(3-1)=0.5 between 20 and 40 = 30
    Seq((1L, t(0, 10), 10.0), (1L, t(1, 5), 8.0), (1L, t(1, 40), 12.0),
        (1L, t(3, 59), 40.0))
      .toDF("user_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.TimeSeries.interpolateHourly(spark, dir).collect()
      .map(r => r.getString(1).substring(11, 13).toInt ->
        ((r.getBoolean(2), r.getDouble(3)))).toMap
    assert(out === Map(
      0 -> ((true, 10.0)), 1 -> ((true, 20.0)),
      2 -> ((false, 30.0)), 3 -> ((true, 40.0))))
  }

  test("decile lift: two-level compressed rank equals the direct global rank") {
    val dir = SparkSpec.tempDir("graft_lift").toString
    // 25 orders; a 5-way tie at score 80 straddles a decile boundary,
    // so the per-bin tie ranks must land in DIFFERENT deciles
    val rows = (1L to 25L).map { k =>
      val price = if (k <= 5) 80.5 else (200 - k * 3).toDouble
      (k, price, if (k % 3 == 0) "F" else "O")
    }
    rows.toDF("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Relational.decileLift(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // direct oracle: rank rows by (floor(price) desc, key), decile =
    // ((rank-1)*10) div 25 + 1
    val ranked = rows.map { case (k, p, st) => (k, p.toLong, st == "F") }
      .sortBy { case (k, s, _) => (-s, k) }.zipWithIndex
    val want = ranked.groupBy { case (_, i) => (i * 10) / 25 + 1 }
      .map { case (d, xs) =>
        d.toLong -> ((xs.size.toLong, xs.count(_._1._3).toLong)) }
    assert(got === want)
    // the straddling tie really does straddle: deciles 9 and 10 both
    // contain score-80 rows
    val lows = Relational.decileLift(spark, dir).collect()
      .filter(r => r.getLong(4) == 80L).map(_.getLong(0)).toSet
    assert(lows.size > 1)
  }

  test("mmr re-rank: step 2 prefers the diverse candidate over a " +
      "higher-relevance near-copy of the first pick") {
    val dir = SparkSpec.tempDir("graft_mmr").toString
    Seq(
      (0L, Array(1.0f, 0.0f)),     // query
      (1L, Array(0.99f, 0.14f)),   // most relevant -> step 1
      (2L, Array(1.98f, 0.28f)),   // same direction as 1 (sim = 1.0),
                                   //   rel ties 1 and beats id 3's
      (3L, Array(0.70f, -0.70f)))  // diverse: sim to 1 ~ 0.60
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Vectors.mmrRerank(spark, dir, nCand = 3, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 1L)
    assert(out(2L) === 3L) // plain top-2 would have taken the near-copy 2
  }

  test("simhash64 expression: first 8 hex chars equal the 32-bit " +
      "aggregate signature; the plan is shuffle-free") {
    val dir = "/root/testdata/sf0.001"
    val sig64 = graft.operators.Dedup.simhash64Signatures(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sig32 = graft.operators.Dedup.simhashSignatures(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig64.keySet === sig32.keySet)
    sig32.foreach { case (doc, s32) =>
      val expect = (0 until 8)
        .map(i => "0123456789abcdef"(((s32 >> (4 * i)) & 0xF).toInt)).mkString
      assert(sig64(doc).take(8) === expect, s"doc $doc")
      assert(sig64(doc).length === 16)
    }
    // zero-shuffle contract: signature computation is pre-orderBy
    // map-only (project over the scan — no Exchange in between)
    val plan = graft.sources.Tables.loadSpread(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.call_function("simhash64",
        org.apache.spark.sql.functions.array_distinct(
          org.apache.spark.sql.functions.split(col("text"), " ", -1))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected aggregation shuffle in:\n$plan")
  }

  test("sequence motif: session gap splits a would-be match; greedy " +
      "counts are non-overlapping") {
    import java.sql.Timestamp
    val dir = SparkSpec.tempDir("graft_motif").toString
    def t(min: Int) = Timestamp.valueOf(f"2026-01-01 10:${0}%02d:00").toInstant
      .plusSeconds(min * 60L)
    def ts(min: Int) = Timestamp.from(t(min))
    // user 1 session A: v c p v c c p  -> 2 motifs, 1 session with motif
    // user 1 session B (after >30min): v c | gap inside? no: v then c
    //   then p but the p arrives 31 min after c -> new session "p"
    //   alone: motif broken by the session boundary
    val rows = Seq(
      (1L, ts(0), 1L, "view"), (1L, ts(1), 2L, "click"), (1L, ts(2), 3L, "purchase"),
      (1L, ts(3), 4L, "view"), (1L, ts(4), 5L, "click"), (1L, ts(5), 6L, "click"),
      (1L, ts(6), 7L, "purchase"),
      (1L, ts(60), 8L, "view"), (1L, ts(61), 9L, "click"),
      (1L, ts(95), 10L, "purchase"),
      // user 2: c c c p (no leading v) -> zero motifs
      (2L, ts(0), 11L, "click"), (2L, ts(1), 12L, "click"),
      (2L, ts(2), 13L, "click"), (2L, ts(3), 14L, "purchase"))
    rows.map { case (u, time, id, et) => (u, time, id, et, 1.0) }
      .toDF("user_id", "ts", "event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.Behavioral.sequenceMotif(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // user 1: 3 sessions (vcpvccp, vc, p); motifs only in the first
    assert(out(1L) === ((3L, 1L, 2L)))
    assert(out(2L) === ((1L, 0L, 0L)))
  }
}
