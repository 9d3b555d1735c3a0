package graft

import org.apache.spark.sql.functions._

import graft.operators.{SetSimJoin, Winnowing}

/** Round-9 additions: index-vs-delta PPJoin and winnowing (the
  * incremental forms of q198/q201), and the KMV theta estimator that
  * re-gated q32. Each incremental operator is proven against its own
  * batch self-join restricted to delta-involving pairs — the same
  * losslessness discipline the DuckDB oracles apply. */
class Round9Spec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    val dir = SparkSpec.tempDir("graft_r9").toString
    rows.map { case (id, text, lang) => (id, text, lang, "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** An adversarial mixed corpus: near-dup families straddling the
    * delta boundary (ids ≡ 3 mod 10 are the delta), index-only dup
    * pairs that the incremental form must NOT emit, and disjoint
    * noise. */
  private def mixedCorpus(): String = {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docsDir(Seq(
      (1L, base, "en"),                                  // index
      (3L, base, "en"),                                  // DELTA — dup of 1 and 13
      (13L, base + " with a small appended suffix here", "en"), // DELTA near-dup
      (2L, base + " with a small appended suffix here", "en"),  // index near-dup of 13
      (4L, "completely different words entirely unrelated content body", "en"),
      (10L, "another index only duplicate family shared text body here", "en"), // index
      (20L, "another index only duplicate family shared text body here", "en"), // index
      (23L, "zz yy xx ww vv uu tt ss", "en")))           // DELTA, disjoint
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet

  test("ppjoin delta: equals the batch self-join restricted to delta-involving pairs") {
    val dir = mixedCorpus()
    val full = pairSet(SetSimJoin.prefixJoin(spark, dir))
    val expected = full.filter { case (a, b) => a % 10 == 3 || b % 10 == 3 }
    val got = pairSet(SetSimJoin.prefixJoinDelta(spark, dir))
    assert(got === expected)
    // the index-only duplicate family (10, 20) exists in the batch
    // result but must NOT be re-derived by the incremental form
    assert(full.contains((10L, 20L)))
    assert(!got.contains((10L, 20L)))
    // delta-vs-index and delta-vs-delta pairs ARE found
    assert(got.contains((1L, 3L)))
    assert(got.contains((3L, 13L)) || got.contains((2L, 13L)))
  }

  test("ppjoin delta: full row content (sizes, overlap, jaccard) matches the batch join") {
    val dir = mixedCorpus()
    val key = Seq("da", "db", "na", "nb", "i", "jaccard")
    val full = SetSimJoin.prefixJoin(spark, dir)
      .filter(col("da") % 10 === 3 || col("db") % 10 === 3)
      .select(key.map(col): _*).collect().toSet
    val got = SetSimJoin.prefixJoinDelta(spark, dir)
      .select(key.map(col): _*).collect().toSet
    assert(got === full)
  }

  test("winnowing delta: equals the batch self-join restricted to delta-involving pairs") {
    val dir = mixedCorpus()
    val full = pairSet(Winnowing.sharedFingerprintPairs(spark, dir))
    val expected = full.filter { case (a, b) => a % 10 == 3 || b % 10 == 3 }
    val got = pairSet(Winnowing.sharedFingerprintPairsDelta(spark, dir))
    assert(got === expected)
    assert(!got.contains((10L, 20L)))
  }

  test("delta operators: empty delta slice produces zero pairs") {
    // no doc_id ≡ 3 (mod 10) → nothing to probe with
    val dir = docsDir(Seq(
      (1L, "some repeated text body some repeated text body", "en"),
      (2L, "some repeated text body some repeated text body", "en")))
    assert(SetSimJoin.prefixJoinDelta(spark, dir).count() === 0L)
    assert(Winnowing.sharedFingerprintPairsDelta(spark, dir).count() === 0L)
  }

  test("q32 KMV estimator: below sketch capacity the estimate IS the exact count") {
    // 40 distinct parts / 50 distinct orders per flag — both under
    // K=64, so the sketch holds every distinct hash and the operator
    // must report est == true with zero error
    val dir = SparkSpec.tempDir("graft_r9_li").toString
    val rows = for {
      f <- Seq("A", "N", "R"); i <- 0 until 200
    } yield (f, (i % 40).toLong, (i % 50).toLong)
    rows.toDF("l_returnflag", "l_partkey", "l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Relational.approxSketches(spark, dir).collect()
    assert(out.length === 3)
    out.foreach { r =>
      assert(r.getAs[Long]("est_parts") === r.getAs[Long]("true_parts"))
      assert(r.getAs[Long]("est_orders") === r.getAs[Long]("true_orders"))
      assert(r.getAs[Long]("err_parts_bp") === 0L)
      assert(r.getAs[Long]("err_orders_bp") === 0L)
    }
  }

  test("q32 KMV estimator: above capacity the relative error stays inside the theta bound") {
    // 64-value bottom-k sketch: relative standard error ≈ 1/√(K−2) ≈
    // 12.7%; assert a generous 5σ envelope so the test pins the
    // estimator's sanity without flaking on hash luck
    val sf = "/root/testdata/sf0.001"
    val out = graft.operators.Relational.approxSketches(spark, sf).collect()
    out.foreach { r =>
      val t = r.getAs[Long]("true_parts")
      if (t > 64) assert(r.getAs[Long]("err_parts_bp") < 6350L,
        s"flag ${r.getString(0)}: err ${r.getAs[Long]("err_parts_bp")} bp")
    }
  }
}
