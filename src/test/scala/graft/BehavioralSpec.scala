package graft

import java.sql.Timestamp

import graft.operators.{Affinity, Behavioral, Dedup}

/** Semantic tests for the behavioral-analytics (funnel, cohort,
  * sweep-line concurrency), affinity (market-basket pairs, integer
  * PageRank) and duplicated-span operators on planted data where the
  * ground truth is hand-computed.
  */
class BehavioralSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Events: u1 completes view→click→purchase in order; u2 clicked
    * BEFORE its only view (order violation); u3 clicks 8 days after
    * the view (outside the 7-day window); u4 views only. */
  private lazy val funnelDir: String = {
    val dir = SparkSpec.tempDir("graft_funnel").toString
    Seq(
      (1L, ts("2024-03-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-03-01 11:00:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-03-02 09:00:00"), 1L, "purchase", 1.0, "{}"),
      (4L, ts("2024-03-01 08:00:00"), 2L, "click", 1.0, "{}"),
      (5L, ts("2024-03-01 09:00:00"), 2L, "view", 1.0, "{}"),
      (6L, ts("2024-03-01 10:00:00"), 3L, "view", 1.0, "{}"),
      (7L, ts("2024-03-09 10:00:01"), 3L, "click", 1.0, "{}"),
      (8L, ts("2024-03-01 10:00:00"), 4L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("funnel counts only in-order, in-window stage completions") {
    val out = Behavioral.funnel(spark, funnelDir).collect()
      .map(r => r.getAs[Long]("step") -> r.getAs[Long]("users")).toMap
    assert(out === Map(1L -> 4L, 2L -> 1L, 3L -> 1L))
  }

  test("cohort retention buckets users by first-event week") {
    val dir = SparkSpec.tempDir("graft_cohort").toString
    // weeks: 2024-03-04 (Mon) and 2024-03-11 (Mon)
    Seq(
      (1L, ts("2024-03-04 10:00:00"), 1L, "view", 1.0, "{}"), // u1 cohort w0
      (2L, ts("2024-03-12 10:00:00"), 1L, "view", 1.0, "{}"), // u1 active w0+1
      (3L, ts("2024-03-05 10:00:00"), 2L, "view", 1.0, "{}"), // u2 cohort w0, never returns
      (4L, ts("2024-03-13 10:00:00"), 3L, "view", 1.0, "{}")) // u3 cohort w1
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Behavioral.cohortRetention(spark, dir).collect()
      .map(r => (r.getAs[String]("cohort_week"), r.getAs[Long]("week_offset")) ->
        r.getAs[Long]("users")).toMap
    assert(out === Map(
      ("2024-03-04", 0L) -> 2L, ("2024-03-04", 1L) -> 1L,
      ("2024-03-11", 0L) -> 1L))
  }

  test("concurrency: overlap counts, boundary touch does not, midnight splits") {
    val dir = SparkSpec.tempDir("graft_conc").toString
    // value is minutes. u* sessions on 2024-03-01:
    //   e1 10:00+60m, e2 10:30+60m, e3 10:45+60m → 3 open at 10:45
    //   e4 12:00+30m, e5 12:30+30m → touching, never concurrent
    //   e6 23:30+60m → crosses midnight, touches 03-01 and 03-02
    Seq(
      (1L, ts("2024-03-01 10:00:00"), 1L, "view", 60.0, "{}"),
      (2L, ts("2024-03-01 10:30:00"), 2L, "view", 60.0, "{}"),
      (3L, ts("2024-03-01 10:45:00"), 3L, "view", 60.0, "{}"),
      (4L, ts("2024-03-01 12:00:00"), 4L, "view", 30.0, "{}"),
      (5L, ts("2024-03-01 12:30:00"), 5L, "view", 30.0, "{}"),
      (6L, ts("2024-03-01 23:30:00"), 6L, "view", 60.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Behavioral.concurrencyProfile(spark, dir).collect()
      .map(r => r.getAs[String]("day") ->
        (r.getAs[Long]("sessions"), r.getAs[Long]("max_concurrent"))).toMap
    assert(out === Map(
      "2024-03-01" -> ((6L, 3L)), // e1-e3 stack to 3; e4/e5 only touch
      "2024-03-02" -> ((1L, 1L)))) // e6's post-midnight remainder
  }

  /** Orders o1 {B1,B2}, o2 {B2,B3}, o3 {B1,B2} → pair (B1,B2) in two
    * orders, (B2,B3) in one. */
  test("brand pairs: per-order sorted-set expansion and support count") {
    val dir = SparkSpec.tempDir("graft_pairs").toString
    Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L), (30L, 1L), (30L, 2L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "B1"), (2L, "B2"), (3L, "B3")).toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = Affinity.brandPairs(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_orders"))
    assert(out.toSeq === Seq(("B1", "B2") -> 2L, ("B2", "B3") -> 1L))
  }

  /** Path graph 1–2–3 (via co-supply orders {1,2} and {2,3}) plus the
    * isolated supplier 4; three hand-unrolled integer iterations. */
  test("pagerank: integer-exact scores on a hand-computed path graph") {
    val dir = SparkSpec.tempDir("graft_pr").toString
    Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(1L, 2L, 3L, 4L).toDF("s_suppkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val out = Affinity.pageRankCoSupply(spark, dir).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Long]("score")).toMap
    assert(out === Map(2L -> 1741625L, 1L -> 629187L, 3L -> 629187L, 4L -> 150000L))
  }

  test("event paths: consecutive trigrams within a user stream, never across users") {
    val dir = SparkSpec.tempDir("graft_paths").toString
    Seq(
      (1L, ts("2024-03-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-03-01 10:01:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-03-01 10:02:00"), 1L, "purchase", 1.0, "{}"),
      (4L, ts("2024-03-01 10:03:00"), 1L, "view", 1.0, "{}"),
      (5L, ts("2024-03-01 10:00:30"), 2L, "error", 1.0, "{}"), // u2: 1 event, no trigram
      (6L, ts("2024-03-01 10:04:00"), 3L, "view", 1.0, "{}"),
      (7L, ts("2024-03-01 10:05:00"), 3L, "click", 1.0, "{}"),
      (8L, ts("2024-03-01 10:06:00"), 3L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Behavioral.eventPaths(spark, dir).collect()
      .map(r => r.getAs[String]("path") -> r.getAs[Long]("n")).toMap
    assert(out === Map("view>click>purchase" -> 2L, "click>purchase>view" -> 1L))
  }

  test("funnel timing: whole-second transition delays with exact medians") {
    val dir = SparkSpec.tempDir("graft_ftime").toString
    // u1: view→click 90 s, click→purchase 30 s; u2: view→click 10 s
    Seq(
      (1L, ts("2024-03-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-03-01 10:01:30"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-03-01 10:02:00"), 1L, "purchase", 1.0, "{}"),
      (4L, ts("2024-03-01 11:00:00"), 2L, "view", 1.0, "{}"),
      (5L, ts("2024-03-01 11:00:10"), 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Behavioral.funnelTiming(spark, dir).collect()
      .map(r => r.getAs[String]("transition") ->
        (r.getAs[Long]("n_users"), r.getAs[Double]("median_s"))).toMap
    assert(out === Map(
      "view>click" -> ((2L, 50.0)), // R-7 median of {10, 90}
      "click>purchase" -> ((1L, 30.0))))
  }

  test("rolling WAU: trailing 7-day distinct users, only observed days emitted") {
    val dir = SparkSpec.tempDir("graft_wau").toString
    Seq(
      (1L, ts("2024-03-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-03-01 11:00:00"), 2L, "view", 1.0, "{}"),
      (3L, ts("2024-03-08 10:00:00"), 2L, "view", 1.0, "{}")) // 7 days later: u1 aged out
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Behavioral.rollingWau(spark, dir).collect()
      .map(r => r.getAs[String]("day") -> r.getAs[Long]("wau")).toMap
    assert(out === Map("2024-03-01" -> 2L, "2024-03-08" -> 1L))
  }

  test("anomaly days: integer 2-sigma boundary flags exactly the planted spike") {
    val dir = SparkSpec.tempDir("graft_anom").toString
    // 9 days at 10.00, one at 20.00 → (n−1)(nx−Σx)² = 729e6 > 360e6 = 4n(nΣx²−Σx²)
    val rows = (1 to 10).map { d =>
      val v = if (d == 5) 20.0 else 10.0
      (d.toLong, ts(f"2024-03-$d%02d 10:00:00"), 1L, "a", v, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Behavioral.anomalyDays(spark, dir).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("day") === "2024-03-05")
    assert(out.head.getAs[Long]("cents") === 2000L)
  }

  test("skyline kernel: dominance with ties and duplicates, two-phase = definition") {
    val pts = Seq(
      (1L, 10L, 1L), // dominated by 2 (same v1, higher v2)
      (2L, 10L, 5L), // frontier
      (3L, 5L, 9L),  // dominated by 4 (strictly better v1, equal v2)
      (4L, 9L, 9L),  // frontier
      (5L, 10L, 5L), // exact duplicate of 2 — both survive
      (6L, 3L, 2L),  // dominated
      (7L, 10L, 4L)  // dominated by 2
    ).toDF("id", "v1", "v2")
    val out = graft.operators.Skyline.skyline(pts).collect().map(_.getAs[Long]("id")).sorted
    assert(out.toSeq === Seq(2L, 4L, 5L))
    assert(graft.operators.Skyline.skyline(pts.limit(0)).count() === 0L)
    // identical points: nothing dominates anything — all kept
    val same = Seq((1L, 7L, 7L), (2L, 7L, 7L), (3L, 7L, 7L)).toDF("id", "v1", "v2")
    assert(graft.operators.Skyline.skyline(same).count() === 3L)
  }

  test("triangles: K4 co-purchase clique has 4 triangles; orientation bounds wedges") {
    val dir = SparkSpec.tempDir("graft_tri").toString
    // TWO orders over parts {1,2,3,4} → all 6 K4 edges at support 2;
    // a pendant pair {4,5} twice (edge, no triangle); {1,5} appears
    // only ONCE → below the support threshold, no edge
    val rows = Seq(10L, 20L).flatMap(o => Seq(1L, 2L, 3L, 4L).map(p => (o, p))) ++
      Seq((30L, 4L), (30L, 5L), (40L, 4L), (40L, 5L), (50L, 1L), (50L, 5L))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Affinity.triangleCount(spark, dir).collect().head
    assert(out.getAs[Long]("n_triangles") === 4L)
    // degree-ordered out-degrees: 1:{2,3,4}, 2:{3,4}, 3:{4}, 5:{4} →
    // Σ d(d−1)/2 = 3 + 1 = 4 wedges, every one closed; a naive
    // Σ deg² orientation would have generated 10
    assert(out.getAs[Long]("n_wedges") === 4L)
  }

  test("profile: one-pass per-column nulls, distincts and typed min/max rendering") {
    val df = Seq(
      (Some(1L), Some("a"), Some(2.5)),
      (Some(2L), None, Some(10.0)),
      (None, Some("b"), Some(2.5))).toDF("k", "s", "v")
    val out = graft.operators.Profile.profile(df).collect()
      .map(r => r.getAs[String]("column") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_null"), r.getAs[Long]("n_distinct"),
          r.getAs[String]("min_v"), r.getAs[String]("max_v"))).toMap
    assert(out("k") === ((3L, 1L, 2L, "1", "2")))
    assert(out("s") === ((3L, 1L, 2L, "a", "b")))
    assert(out("v") === ((3L, 0L, 2L, "2.50", "10.00")))
  }

  test("attribution: first/last-touch credit per purchase; untouched purchases go to 'direct'") {
    val dir = SparkSpec.tempDir("graft_attr").toString
    Seq(
      (1L, ts("2024-03-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-03-01 11:00:00"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-03-01 12:00:00"), 1L, "purchase", 2.0, "{}"),
      (4L, ts("2024-03-01 13:00:00"), 1L, "purchase", 1.0, "{}"),
      (5L, ts("2024-03-02 09:00:00"), 2L, "purchase", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Behavioral.attribution(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // u1's both purchases: first touch = view, last touch = click
    // (still the latest NON-purchase before t4); u2 has no touch
    assert(out === Map(
      "view" -> ((300L, 2L, 0L, 0L)),
      "click" -> ((0L, 0L, 300L, 2L)),
      "direct" -> ((500L, 1L, 500L, 1L))))
  }

  test("ewma: dyadic 8-observation window, exact integer num/den, short-history renormalization") {
    val dir = SparkSpec.tempDir("graft_ewma").toString
    Seq(
      (1L, ts("2024-03-01 10:00:00"), 1L, "a", 1.0, "{}"),
      (2L, ts("2024-03-02 10:00:00"), 1L, "a", 2.0, "{}"),
      (3L, ts("2024-03-03 10:00:00"), 1L, "a", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Behavioral.ewmaDaily(spark, dir).collect()
      .map(r => r.getString(1) -> r.getDouble(3)).toMap
    // day1: 100·128/128; day2: (200·128+100·64)/192; day3:
    // (400·128+200·64+100·32)/224 — denominators shrink to the
    // PRESENT observations, so the head of the series is unbiased
    assert(out === Map(
      "2024-03-01" -> 100.0,
      "2024-03-02" -> 32000.0 / 192.0,
      "2024-03-03" -> 67200.0 / 224.0))
  }

  /** K5 clique (all pairs in 2 orders) + a pendant node 6 attached to
    * node 1: the pendant peels in round 1, the clique is the 4-core. */
  test("k-core: pendant peels, clique survives with in-core degrees") {
    val dir = SparkSpec.tempDir("graft_kcore").toString
    val clique = for (o <- Seq(10L, 20L); p <- 1L to 5L) yield (o, p)
    val pendant = Seq((30L, 1L), (30L, 6L), (40L, 1L), (40L, 6L))
    (clique ++ pendant).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Affinity.kCore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === (1L to 5L).map(_ -> 4L).toMap)
  }

  test("bfs hops: min-distance relaxation from the %10 seed, unreached nodes unreported") {
    val dir = SparkSpec.tempDir("graft_bfs").toString
    // co-supply path 10–1–2; supplier 3 is disconnected
    Seq((100L, 10L), (100L, 1L), (200L, 1L), (200L, 2L))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(1L, 2L, 3L, 10L).toDF("s_suppkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val out = Affinity.bfsHops(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(out.toSeq === Seq(1L -> 1L, 2L -> 2L, 10L -> 0L))
  }

  test("group regression: exact line recovered exactly; degenerate groups are NULL") {
    val dir = SparkSpec.tempDir("graft_regr").toString
    // flag A: y = 200x + 500 cents exactly; B: one point; C: zero variance
    val a = (1 to 5).map(x => ("A", x.toDouble, 2.0 * x + 5.0))
    val b = Seq(("B", 3.0, 11.0))
    val c = Seq(("C", 2.0, 9.0), ("C", 2.0, 13.0))
    (a ++ b ++ c).toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = graft.operators.Relational.groupRegression(spark, dir).collect()
    val byFlag = rows.map(r => r.getString(0) -> r).toMap
    assert(byFlag("A").getDouble(2) === 200.0)
    assert(byFlag("A").getDouble(3) === 500.0)
    assert(byFlag("B").isNullAt(2) && byFlag("B").isNullAt(3))
    assert(byFlag("C").isNullAt(2) && byFlag("C").isNullAt(3))
  }

  test("duplicated spans: cross-doc island union, clean docs excluded") {
    val dir = SparkSpec.tempDir("graft_spans").toString
    val w = (1 to 20).map(i => s"w$i") // 20 distinct tokens
    val a = w.mkString(" ")            // doc 0: w1..w20
    val b = (w.slice(4, 16) ++ Seq("zz1", "zz2", "zz3", "zz4", "zz5", "zz6", "zz7", "zz8"))
      .mkString(" ")                   // doc 1: w5..w16 shared, then unique tail
    val c = "completely unrelated tokens here nothing shared at all between docs"
    Seq((0L, a, "en", "src0", a.length.toLong),
        (1L, b, "en", "src0", b.length.toLong),
        (2L, c, "en", "src1", c.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.duplicatedSpans(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("dup_tokens"))).toMap
    // shared run w5..w16 = 12 tokens → 5 overlapping 8-gram windows
    // merging into ONE island of 12 tokens in each doc; doc 2 clean
    assert(out === Map(0L -> ((20L, 12L)), 1L -> ((20L, 12L))))
  }
}
