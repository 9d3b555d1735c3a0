package graft

import org.apache.spark.sql.functions._

import graft.plans.KmvRegisters

/** Round-8 hardening proofs: KMV estimator below capacity, q178
  * self-idempotency under re-execution, the BasketCap bound on pair
  * expansion, and the salted duplicated-span join under a planted
  * corpus-wide hot n-gram. */
class Round8Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------
  // KMV estimator edges (VERDICT r07 item #7): below K distincts the
  // signature IS the distinct set, so the estimate must be the exact
  // count — including the empty set (parseLong on a missing k-th
  // element must never be reached).
  // ---------------------------------------------------------------

  test("kmv estimate is the exact count below capacity, including empty") {
    assert(KmvRegisters.estimate(Seq.empty) === 0.0)
    val small = (1 to 7).map(i => f"$i%032x")
    assert(KmvRegisters.estimate(small) === 7.0)
    val justUnder = (1 until KmvRegisters.K).map(i => f"$i%032x")
    assert(KmvRegisters.estimate(justUnder) === (KmvRegisters.K - 1).toDouble)
  }

  test("kmv aggregate below capacity carries the full distinct set; duplicates collapse") {
    val df = Seq("a", "b", "c", "a", "b", "a").toDF("u")
      .groupBy().agg(call_function("kmv_registers", col("u")).as("sig"))
    val sig = df.collect().head.getSeq[String](0)
    assert(sig.length === 3) // 3 distincts, duplicates absorbed
    assert(sig === sig.sorted) // emitted in hash order
    assert(KmvRegisters.estimate(sig) === 3.0)
    // zero rows → empty signature, estimate 0
    val empty = Seq.empty[String].toDF("u")
      .groupBy().agg(call_function("kmv_registers", col("u")).as("sig"))
      .collect().head.getSeq[String](0)
    assert(empty.isEmpty)
    assert(KmvRegisters.estimate(empty) === 0.0)
  }

  test("kmv set algebra: disjoint types estimate Jaccard 0, identical types 10000 bp") {
    val dir = SparkSpec.tempDir("graft_kmv_alg").toString
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-03-01 10:00:00")
    // 'a' and 'b' share every user (identical sets); 'c' is disjoint
    val rows =
      (1L to 40L).flatMap(u => Seq(("a", u), ("b", u))) ++
      (1001L to 1040L).map(u => ("c", u))
    rows.zipWithIndex.map { case ((et, u), i) => (i.toLong, t0, u, et, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.Sketches.kmvSetAlgebra(spark, dir).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        (r.getAs[Long]("k_union"), r.getAs[Long]("n_inter"), r.getAs[Long]("jaccard_bp"))).toMap
    // below capacity the signatures ARE the sets: algebra is exact
    assert(out(("a", "b")) === ((40L, 40L, 10000L)))
    assert(out(("a", "c")) === ((64L, 0L, 0L)))
    assert(out(("b", "c")) === ((64L, 0L, 0L)))
  }

  test("log-linear quantile readout always over-estimates within the 2^-4 relative bound") {
    val out = graft.operators.Sketches.logQuantiles(spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 9) // 3 statuses x q in {50, 90, 99}
    out.foreach { r =>
      val (tru, est, err) = (r.getAs[Long]("true_v"), r.getAs[Long]("est_v"),
        r.getAs[Long]("err_bp"))
      assert(est >= tru, s"readout must over-estimate: $r")
      assert(err >= 0L && err <= 625L, s"relative error beyond 2^-4 bound: $r")
    }
  }

  // ---------------------------------------------------------------
  // q178 self-idempotency (ADVICE r07): the fixture is cached
  // per-JVM but the DMLs run on every invocation (bench warmup +
  // reps). The delete re-matches nothing and the update predicate
  // excludes already-suffixed rows, so a re-run must publish no new
  // version and return the identical maintained sketch.
  // ---------------------------------------------------------------

  test("q178 cms ivm returns identical registers when re-executed in the same JVM") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q178_cms_ivm")
    val first = q(spark, dir).collect().map(_.toSeq).toSeq
    val second = q(spark, dir).collect().map(_.toSeq).toSeq
    assert(first.nonEmpty)
    assert(second === first)
  }

  // ---------------------------------------------------------------
  // BasketCap (VERDICT r07 item #3): a degenerate giant basket must
  // expand only its 64 sorted-smallest members — bounded map-side
  // work — and both engines cap identically (oracle rank filter).
  // ---------------------------------------------------------------

  private def giantBasketDir(): String = {
    val dir = SparkSpec.tempDir("graft_giant_basket").toString
    // two IDENTICAL 70-part orders (so pair support reaches
    // itemSimilarity's minSupport = 2), parts 1..70
    val rows = for (ok <- Seq(10L, 20L); pk <- 1L to 70L) yield (ok, pk)
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (1L to 70L).map(pk => (pk, f"B$pk%03d"))
      .toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  test("itemSimilarity caps a giant basket at BasketCap sorted-smallest members") {
    val dir = giantBasketDir()
    val out = graft.operators.Affinity.itemSimilarity(spark, dir, k = 5000).collect()
    // C(64, 2) pairs — NOT C(70, 2) = 2415
    assert(out.length === 64 * 63 / 2)
    assert(out.forall(r => r.getAs[Long]("pa") <= 64L && r.getAs[Long]("pb") <= 64L))
    // degrees stay uncapped and exact: every part appears in 2 orders
    assert(out.forall(r => r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 2L))
    assert(out.forall(r => r.getAs[Long]("co") === 2L))
  }

  test("brandPairs caps a giant basket at BasketCap sorted-smallest brands") {
    val dir = giantBasketDir()
    val out = graft.operators.Affinity.brandPairs(spark, dir, k = 5000).collect()
    assert(out.length === 64 * 63 / 2)
    // brands sort lexicographically B001..B070; the cap keeps B001..B064
    assert(out.forall(r => r.getAs[String]("b2") <= "B064"))
  }

  // ---------------------------------------------------------------
  // Salted duplicated-span join (VERDICT r07 item #5): a boilerplate
  // 8-gram shared by every document is the classic hot key. The
  // planted corpus pins exact interval-union coverage AND that the
  // plan routes the semi-join through the salted key.
  // ---------------------------------------------------------------

  test("duplicatedSpans: a 10^5-repeat boilerplate 8-gram is salted across sub-keys, coverage exact") {
    val dir = SparkSpec.tempDir("graft_boiler").toString
    // 100k documents all sharing ONE boilerplate 8-gram — without the
    // salt every one of these rows would hash to a single reduce task
    // in the semi-join back; with SpanJoinSalts sub-keys no task sees
    // more than ~1/16 of them
    val nDocs = 100000
    spark.range(nDocs.toLong).selectExpr(
        "id AS doc_id",
        // 8 shared boilerplate tokens + 2 unique: windows at pos 1
        // and 2 cross into the unique tail (unduplicated), so exactly
        // tokens 0..7 are covered → dup_tokens = 8 of n_toks = 10
        "concat('lorem ipsum dolor sit amet consectetur adipiscing elit ', " +
          "'unique', id, ' tail', id) AS text",
        "'en' AS lang", "'src' AS source", "CAST(60 AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = graft.operators.Dedup.duplicatedSpans(spark, dir)
    // the salted semi-join is in the plan (doc/pos-hashed sub-key)
    assert(df.queryExecution.optimizedPlan.toString.contains("xxhash64"),
      "expected the salted (h, salt) semi-join in the plan")
    // aggregate-side assertions: every doc reports exactly the
    // boilerplate coverage (one distinct shape across all 100k rows)
    val shape = df.groupBy(col("n_toks"), col("dup_tokens"), col("dup_frac"))
      .agg(count(lit(1)).as("n")).collect()
    assert(shape.length === 1)
    assert(shape.head.getAs[Long]("n_toks") === 10L)
    assert(shape.head.getAs[Long]("dup_tokens") === 8L)
    assert(shape.head.getAs[Double]("dup_frac") === 0.8)
    assert(shape.head.getAs[Long]("n") === nDocs.toLong)
  }
}
