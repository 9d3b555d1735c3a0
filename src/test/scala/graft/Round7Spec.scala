package graft

import org.apache.spark.sql.functions._

import graft.operators.{TextAnalysis, TimeSeries}

/** Semantic tests for the round-7 corpus-diagnostics operators on
  * planted data with hand-computed ground truth. */
class Round7Spec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    val dir = SparkSpec.tempDir("graft_r7docs").toString
    rows.map { case (id, src, text) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("boilerplate chunks: shared chunk flagged, unique tail kept, partial chunk counted") {
    // six docs share the leading chunk "a b c" (>= threshold 5);
    // each tail chunk is unique to its doc
    val rows = (1 to 6).map(i => (i.toLong, "s0", s"a b c u$i v$i w$i")) :+
      (7L, "s0", "x y z q") // 4 tokens → chunks "x y z" + partial "q"
    val out = TextAnalysis.boilerplateChunks(spark, docsDir(rows))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    (1 to 6).foreach { i =>
      assert(out(i.toLong) === ((2L, 1L, 6L, 3L)),
        s"doc $i: shared head chunk is boilerplate, unique tail kept")
    }
    assert(out(7L) === ((2L, 0L, 4L, 4L)), "partial trailing chunk keeps its 1 token")
  }

  test("pmi collocations: exclusive pair outranks the diluted one, counts exact") {
    // "a b" always adjacent and exclusive; "c" pads unigram mass so
    // (c,c) has high support but low PMI
    val rows = Seq(
      (1L, "s0", Seq.fill(5)("a b").mkString(" ")),
      (2L, "s0", Seq.fill(20)("c").mkString(" ")))
    val out = TextAnalysis.pmiCollocations(spark, docsDir(rows), minCount = 5, topK = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // doc1 tokens: a b a b a b a b a b → c(a)=5, c(b)=5, c12(a,b)=5
    assert(out.head === ((1L, "a", "b", 5L, 5L, 5L)), "exclusive pair ranks first")
    val pairs = out.map(t => (t._2, t._3))
    assert(pairs.contains(("c", "c")), "high-support diluted pair still listed")
    assert(pairs.indexOf(("c", "c")) > 0, "but ranked below the exclusive pair")
  }

  test("source overlap: exact intersection and jaccard; hot cap empties the matrix") {
    val rows = Seq(
      (1L, "sA", "p q r s"), // shingles {p q r, q r s}
      (2L, "sB", "p q r x"), // shingles {p q r, q r x}
      (3L, "sC", "m n o t")) // disjoint
    val dir = docsDir(rows)
    val out = TextAnalysis.sourceOverlap(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out.keySet === Set(("sA", "sB")), "only overlapping pairs appear")
    assert(out(("sA", "sB")) === ((1L, 2L, 2L, 0.333333)))
    // cap = 1: any shingle present in 2 sources is dropped pre-join
    assert(TextAnalysis.sourceOverlap(spark, dir, maxSources = 1).count() === 0L)
  }

  test("hll registers: partitioning-invariant, duplicate-insensitive, 5% accurate") {
    import org.apache.spark.sql.DataFrame
    val keys = (1 to 5000).map(i => s"user_$i")
    def regs(df: DataFrame): Seq[Int] = {
      val arr = df.agg(call_function("hll_registers", col("k"))).collect()
        .head.getSeq[Int](0)
      assert(arr.length === 256)
      arr
    }
    val one = regs(keys.toDF("k").repartition(1))
    val many = regs(keys.toDF("k").repartition(16))
    assert(one === many, "merge path (16 partials) must equal the single-partition pass")
    val dups = regs((keys ++ keys ++ keys.take(100)).toDF("k").repartition(8))
    assert(one === dups, "registers are max-idempotent under duplicates")
    val est = graft.plans.HllRegisters.estimate(one)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.05,
      s"estimate $est outside 5% of 5000")
    // sketches of disjoint halves max-merge to the one-shot registers
    // (the day × shard rollup contract: aggregate slices, merge later)
    val halves = keys.zipWithIndex.map { case (k, i) => (i % 2, k) }
      .toDF("half", "k")
      .groupBy(col("half")).agg(call_function("hll_registers", col("k")).as("r"))
      .collect().map(_.getSeq[Int](1))
    assert(halves.length === 2)
    val merged = halves(0).zip(halves(1)).map { case (a, b) => math.max(a, b) }
    assert(merged === one, "disjoint-slice sketches merge to the full sketch")
    val nulls = regs(((null: String) +: keys).toDF("k"))
    assert(nulls === one, "NULL keys cast no vote")
  }

  test("cms registers: partitioning-invariant, additive, estimates bound truth") {
    import org.apache.spark.sql.DataFrame
    // zipf-ish frequencies: item i appears (5001 - i) / 50 times
    val items = (1 to 500).flatMap(i => Seq.fill(1 + (500 - i) / 50)(s"item_$i"))
    def regs(df: DataFrame): Seq[Long] = {
      val arr = df.agg(call_function("cms_registers", col("k"))).collect()
        .head.getSeq[Long](0)
      assert(arr.length === 1024)
      arr
    }
    val one = regs(items.toDF("k").repartition(1))
    val many = regs(items.toDF("k").repartition(16))
    assert(one === many, "merge path (16 partials) must equal the single-partition pass")
    // disjoint-slice sketches ADD to the full sketch (day × shard rollup)
    val halves = items.zipWithIndex.map { case (k, i) => (i % 2, k) }
      .toDF("half", "k")
      .groupBy(col("half")).agg(call_function("cms_registers", col("k")).as("r"))
      .collect().map(_.getSeq[Long](1))
    val merged = halves(0).zip(halves(1)).map { case (a, b) => a + b }
    assert(merged === one, "disjoint-slice sketches sum to the full sketch")
    // every row's total mass equals the input count; point estimates
    // are upper bounds on the true frequency
    (0 until 4).foreach { j =>
      assert(one.slice(j * 256, (j + 1) * 256).sum === items.length.toLong)
    }
    val truth = items.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    truth.foreach { case (item, n) =>
      val h = md.digest(item.getBytes("UTF-8"))
      val est = (0 until 4).map(j => one(j * 256 + (h(j) & 0xff))).min
      assert(est >= n, s"$item: estimate $est under-counts truth $n")
    }
    val nulls = regs(((null: String) +: items).toDF("k"))
    assert(nulls === one, "NULL items cast no vote")
  }

  test("bitmap registers: partitioning-invariant, OR-mergeable, linear-counting accurate") {
    import org.apache.spark.sql.DataFrame
    val keys = (1 to 800).map(i => s"user_$i")
    def bits(df: DataFrame): Seq[Int] = {
      val arr = df.agg(call_function("bitmap_registers", col("k"))).collect()
        .head.getSeq[Int](0)
      assert(arr == arr.sorted && arr.forall(b => b >= 0 && b < 4096))
      arr
    }
    val one = bits(keys.toDF("k").repartition(1))
    val many = bits(keys.toDF("k").repartition(16))
    assert(one === many, "merge path (16 partials) must equal the single-partition pass")
    val dups = bits((keys ++ keys).toDF("k").repartition(8))
    assert(one === dups, "bitmap is OR-idempotent under duplicates")
    // disjoint halves OR-merge (set union) to the full bitmap
    val halves = keys.zipWithIndex.map { case (k, i) => (i % 2, k) }
      .toDF("half", "k")
      .groupBy(col("half")).agg(call_function("bitmap_registers", col("k")).as("r"))
      .collect().map(_.getSeq[Int](1))
    assert((halves(0).toSet ++ halves(1).toSet).toSeq.sorted === one)
    val est = graft.plans.BitmapRegisters.estimate(one.length)
    assert(math.abs(est - 800.0) / 800.0 < 0.05, s"estimate $est outside 5% of 800")
    val nulls = bits(((null: String) +: keys).toDF("k"))
    assert(nulls === one, "NULL keys cast no vote")
  }

  test("kmv registers: partitioning-invariant, set-algebra estimates within tolerance") {
    import org.apache.spark.sql.DataFrame
    val keysA = (1 to 3000).map(i => s"a_$i")
    val keysB = (1 to 3000).map(i => if (i <= 1500) s"a_$i" else s"b_$i") // 1500 shared
    def sig(df: DataFrame): Seq[String] = {
      val arr = df.agg(call_function("kmv_registers", col("k"))).collect()
        .head.getSeq[String](0)
      assert(arr == arr.sorted && arr.length <= 64)
      arr
    }
    val a1 = sig(keysA.toDF("k").repartition(1))
    val a16 = sig(keysA.toDF("k").repartition(16))
    assert(a1 === a16, "merge path (16 partials) must equal the single-partition pass")
    assert(sig((keysA ++ keysA).toDF("k")) === a1, "duplicate-insensitive (distinct hashes)")
    val b = sig(keysB.toDF("k"))
    val estA = graft.plans.KmvRegisters.estimate(a1)
    assert(math.abs(estA - 3000.0) / 3000.0 < 0.30,
      s"KMV k=64 estimate $estA outside 30% of 3000")
    // Jaccard(A, B): |A∩B| = 1500, |A∪B| = 4500 → 1/3
    val j = graft.plans.KmvRegisters.jaccard(a1, b)
    assert(math.abs(j - 1.0 / 3.0) < 0.15, s"KMV Jaccard $j far from 1/3")
    // fewer than K distincts: the signature IS the exact distinct set
    val tiny = (1 to 10).map(i => s"t_$i")
    val ts = sig(tiny.toDF("k").repartition(4))
    assert(ts.length === 10)
    assert(graft.plans.KmvRegisters.estimate(ts) === 10.0)
  }

  test("best-split changepoint: level shift found at the exact boundary") {
    val dir = SparkSpec.tempDir("graft_r7orders").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    // 3 days at 100.00 then 3 days at 200.00 — split belongs after day 3
    val days = Seq("2024-01-01" -> 100.0, "2024-01-02" -> 100.0,
      "2024-01-03" -> 100.0, "2024-01-04" -> 200.0,
      "2024-01-05" -> 200.0, "2024-01-06" -> 200.0)
    days.zipWithIndex.map { case ((dt, v), i) => (i.toLong, d(dt), v) }
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val top = TimeSeries.bestSplitDays(spark, dir, k = 1).collect().head
    assert(top.getString(1) === "2024-01-03")
    assert((top.getLong(2), top.getLong(3)) === ((3L, 3L)))
    assert((top.getLong(4), top.getLong(5)) === ((30000L, 60000L)))
    // |30000*3 − 60000*3| cents
    assert(top.getLong(6) === 90000L)
  }
}
