package graft

import graft.operators.{Linkage, Relational, Sketches, TextAnalysis, TimeSeries}

/** Degenerate-input hardening for the q172–q191 family: empty tables,
  * single-row/single-class inputs, and planted cases whose expected
  * values are closed forms (the same arithmetic the DuckDB oracles
  * state) — exact numbers asserted, not just absence of crashes. */
class Round7DegenerateSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = SparkSpec.tempDir("graft_r7degen").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def eventsDir(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): String = {
    val dir = SparkSpec.tempDir("graft_r7degen_ev").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def ordersDir(rows: Seq[(Long, java.sql.Date, Double, String, String)]): String = {
    val dir = SparkSpec.tempDir("graft_r7degen_ord").toString
    rows.toDF("o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def dt(s: String) = java.sql.Date.valueOf(s)

  test("empty tables: the new operator family returns zero/identity rows, no errors") {
    val docs = docsDir(Seq.empty)
    assert(TextAnalysis.charClassGini(spark, docs).count() === 0L)
    assert(TextAnalysis.vocabGrowth(spark, docs).count() === 0L)
    assert(Relational.calibrationCurve(spark, docs).count() === 0L)
    assert(operators.Multimodal.videoProbe(spark, docs).count() === 0L)
    val ev = eventsDir(Seq.empty)
    assert(Sketches.cmsTopTalkers(spark, ev).count() === 0L)
    assert(Sketches.kmvSignatures(spark, ev).count() === 0L)
    assert(Sketches.bitmapDistinctUsers(spark, ev).count() === 0L)
    assert(Sketches.cmsJoinCardinality(spark, ev).count() === 0L)
    val ord = ordersDir(Seq.empty)
    assert(TimeSeries.dowSeasonality(spark, ord).count() === 0L)
    // Benford over nothing: the 9 expectation rows with zero mass
    val ben = Relational.benfordAudit(spark, ord).collect()
    assert(ben.length === 9)
    assert(ben.forall(r => r.getAs[Long]("observed") === 0L
      && r.getAs[Long]("n") === 0L && r.getAs[Long]("deviation") === 0L))
  }

  test("char-class Gini closed forms: single-class 0, uniform 5-class 8000") {
    val dir = docsDir(Seq(
      (1L, "aaaa", "en", "s", 4L),   // all lowercase → impurity 0
      (2L, "aA1 ?", "en", "s", 5L))) // one of each class → (25−5)/25 → 8000 bp
    val out = TextAnalysis.charClassGini(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("gini_bp")).toMap
    assert(out === Map(1L -> 0L, 2L -> 8000L))
  }

  test("CMS with one distinct user: estimate is EXACT (no colliding mass)") {
    val ev = eventsDir((1L to 7L).map(i =>
      (i, ts("2024-03-01 10:00:00"), 42L, "click", 1.0, "{}")))
    val row = Sketches.cmsTopTalkers(spark, ev).collect()
    assert(row.length === 1)
    assert(row.head.getAs[Long]("true_n") === 7L)
    assert(row.head.getAs[Long]("cms_n") === 7L, "single key cannot collide with itself")
  }

  test("CMS join cardinality: planted two-type overlap is exact on disjoint hash mass") {
    // users 1..3 in type a (once each), users 2..3 in type b (twice each)
    // true |a ⋈ b| = 1·2 + 1·2 = 4; estimate ≥ 4 (collisions only add)
    val rows = (1L to 3L).map(u => (u, ts("2024-03-01 10:00:00"), u, "a", 1.0, "{}")) ++
      Seq(4L, 5L, 6L, 7L).zip(Seq(2L, 2L, 3L, 3L)).map { case (id, u) =>
        (id, ts("2024-03-01 11:00:00"), u, "b", 1.0, "{}") }
    val out = Sketches.cmsJoinCardinality(spark, eventsDir(rows)).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("true_size") === 4L)
    assert(out.head.getAs[Long]("est_size") >= 4L)
    // 3 + 2 distinct users across 256 buckets: collisions are possible
    // but the estimate stays within the total-mass bound 3·4
    assert(out.head.getAs[Long]("est_size") <= 12L)
  }

  test("DOW seasonality: a single active day indexes at exactly 10000 bp") {
    val ord = ordersDir(Seq(
      (1L, dt("2024-03-04"), 100.0, "O", "1-URGENT"),
      (2L, dt("2024-03-04"), 200.0, "O", "1-URGENT")))
    val out = TimeSeries.dowSeasonality(spark, ord).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("dow") === 2L) // 2024-03-04 is a Monday
    assert(out.head.getAs[Long]("n_days") === 1L)
    assert(out.head.getAs[Long]("dow_cents") === 30000L)
    assert(out.head.getAs[Long]("index_bp") === 10000L)
  }

  test("AUC closed forms: perfect separation 10000, inverted 0, one-class NULL") {
    def dirFor(rows: Seq[(Long, String, String)]): String =
      docsDir(rows.map { case (id, text, lang) => (id, text, lang, "s", text.length.toLong) })
    // en docs strictly longer → every pos outranks every neg → AUC 1
    val perfect = Relational.aucEval(spark, dirFor(Seq(
      (1L, "aaaaaaaa", "en"), (2L, "bbbbbbbbbb", "en"),
      (3L, "cc", "de"), (4L, "ddd", "fr")))).collect().head
    assert(perfect.getAs[Long]("auc_bp") === 10000L)
    // en docs strictly shorter → AUC 0
    val inverted = Relational.aucEval(spark, dirFor(Seq(
      (1L, "a", "en"), (2L, "bbbbbbbb", "de")))).collect().head
    assert(inverted.getAs[Long]("auc_bp") === 0L)
    // single class → undefined, NULL not a crash
    val oneClass = Relational.aucEval(spark, dirFor(Seq(
      (1L, "aaa", "en"), (2L, "bbbb", "en")))).collect().head
    assert(oneClass.isNullAt(oneClass.fieldIndex("auc_bp")))
  }

  test("AUC midrank ties: half-credit for a fully tied score") {
    // one pos and one neg share score 3 → U2 = 2·avg-rank-sum − ... →
    // AUC exactly 1/2 → 5000 bp
    val dir = docsDir(Seq(
      (1L, "aaa", "en", "s", 3L), (2L, "bbb", "de", "s", 3L)))
    val out = Relational.aucEval(spark, dir).collect().head
    assert(out.getAs[Long]("auc_bp") === 5000L)
  }

  test("entity match: empty master yields no rows; exact-duplicate feed matches itself") {
    val dir = SparkSpec.tempDir("graft_r7degen_cust").toString
    Seq.empty[(Long, String, Int)].toDF("c_custkey", "c_name", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    assert(Linkage.entityMatch(spark, dir).count() === 0L)
    val dir2 = SparkSpec.tempDir("graft_r7degen_cust2").toString
    // keys NOT divisible by 2 or 3 → feed is byte-identical to master
    Seq((1L, "Customer#000000001", 5), (7L, "Customer#000000007", 5))
      .toDF("c_custkey", "c_name", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir2/customer.parquet")
    val out = Linkage.entityMatch(spark, dir2).collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getAs[Long]("matched_key") === r.getAs[Long]("true_key"))
      assert(r.getAs[Long]("name_dist") === 0L)
      assert(r.getAs[Long]("phone_dist") === 0L)
      assert(r.getAs[Long]("correct") === 1L)
    }
  }

  test("vocab growth: planted corpus, exact Heaps points") {
    // 10 docs: doc i introduces token "t_i" and repeats shared token "x"
    val dir = docsDir((1L to 10L).map(i => (i, s"x t$i", "en", "s", 4L)))
    val out = TextAnalysis.vocabGrowth(spark, dir).collect()
    assert(out.length === 10)
    out.foreach { r =>
      val k = r.getAs[Long]("k")
      assert(r.getAs[Long]("n_docs") === k)
      assert(r.getAs[Long]("total_tokens") === 2 * k)
      // vocab at checkpoint k = shared "x" + k fresh tokens
      assert(r.getAs[Long]("distinct_tokens") === k + 1)
    }
  }

  test("benford: planted all-leading-1 prices concentrate the whole mass on digit 1") {
    val ord = ordersDir((1L to 5L).map(i =>
      (i, dt("2024-03-04"), 100.0 + i, "O", "1-URGENT")))
    val out = Relational.benfordAudit(spark, ord).collect()
      .map(r => r.getAs[Long]("digit") -> r.getAs[Long]("observed")).toMap
    assert(out(1L) === 5L)
    assert((2L to 9L).forall(out(_) === 0L))
  }

  test("calibration: planted two-bin split with exact rates") {
    // scores 1,1 (neg) and 10,10 (pos): bins 0 and 9, rates 0 and 10000
    val dir = docsDir(Seq(
      (1L, "a", "de", "s", 1L), (2L, "b", "fr", "s", 1L),
      (3L, "cccccccccc", "en", "s", 10L), (4L, "dddddddddd", "en", "s", 10L)))
    val out = Relational.calibrationCurve(spark, dir).collect()
      .map(r => r.getAs[Long]("bin") -> ((r.getAs[Long]("n"), r.getAs[Long]("pos_rate_bp")))).toMap
    assert(out === Map(0L -> ((2L, 0L)), 9L -> ((2L, 10000L))))
  }
}
