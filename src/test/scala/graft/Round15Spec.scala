package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{QualityClassifier, TextAnalysis, Vectors}

/** Round-15 optimization proofs: every rewrite in this round must
  * produce BIT-IDENTICAL results to the formulation it replaces —
  * these tests keep the old formulation inline and diff against it.
  *
  *  - count-adaptive LSH banding (q24/q87): resolves to the historical
  *    20×3 layout at fixture scale, and the threshold arithmetic
  *    matches the oracle's length(bin(m−1)) idiom;
  *  - q228 calibration: compressed-bin + tie-rank NTILE decomposition
  *    ≡ the global ntile(5) window;
  *  - q181 vocab growth: two-level order-statistic checkpoint lookup
  *    ≡ the corpus-wide row_number window;
  *  - q168 collocations: TakeOrdered top-k ≡ the global rank filter.
  */
class Round15Spec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("adaptiveBandBits: fixture scales stay on 3 bits / 20 bands; growth is ceil-log") {
    // ≤ 2048 vectors (every gated SF) → r = 3, bands = 60 div 3 = 20
    for (n <- Seq(0L, 1L, 255L, 500L, 2000L, 2048L))
      assert(Vectors.adaptiveBandBits(n) === 3, s"n=$n")
    // first growth step is exactly past 8·256
    assert(Vectors.adaptiveBandBits(2049L) === 4)
    assert(Vectors.adaptiveBandBits(16384L) === 6)
    assert(Vectors.adaptiveBandBits(16385L) === 7)
    assert(Vectors.adaptiveBandBits(200000L) === 10)
    // per-band buckets 2^r always cover n/256: 2^r · 256 ≥ n
    for (n <- Seq(1L, 300L, 5000L, 123456L, 10000000L)) {
      val r = Vectors.adaptiveBandBits(n)
      assert((1L << r) * Vectors.BandTargetPop >= n, s"n=$n r=$r")
    }
  }

  test("q24/q87 adaptive banding ≡ the fixed 20-band layout at fixture scale") {
    val adaptive = Vectors.lshNearDupPairs(spark, sf,
      Vectors.NearDupPlanes, Vectors.AdaptiveBands, Vectors.NearDupThreshold)
      .collect().toSeq
    val fixed = Vectors.lshNearDupPairs(spark, sf,
      Vectors.NearDupPlanes, Vectors.NearDupBands, Vectors.NearDupThreshold)
      .collect().toSeq
    assert(adaptive === fixed)
    spark.catalog.clearCache()
    val adaptiveX = Vectors.lshCrossNearDup(spark, sf,
      Vectors.NearDupPlanes, Vectors.AdaptiveBands, Vectors.NearDupThreshold)
      .collect().toSeq
    val fixedX = Vectors.lshCrossNearDup(spark, sf,
      Vectors.NearDupPlanes, Vectors.NearDupBands, Vectors.NearDupThreshold)
      .collect().toSeq
    assert(adaptiveX === fixedX)
    spark.catalog.clearCache()
  }

  test("q228 calibration: bin-decomposed NTILE ≡ the global ntile(5) window") {
    val got = QualityClassifier.calibration(spark, sf).collect().toSeq
    // the retired formulation, inline
    val held = QualityClassifier.nbScore(spark, sf).filter(col("heldout") === 1)
    val byScore = Window.orderBy(col("llr_bits").desc, col("doc_id"))
    val isSeed = col("source").isin(QualityClassifier.SeedSources: _*)
    val want = held
      .withColumn("bucket", ntile(5).over(byScore))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(isSeed, 1L).otherwise(0L)).as("n_seed"),
        min(col("llr_bits")).as("min_llr"),
        max(col("llr_bits")).as("max_llr"))
      .select(col("bucket").cast("long").as("bucket"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_seed").cast("long").as("n_seed"),
        expr("n_seed * 10000 div n_docs").cast("long").as("seed_bp"),
        col("min_llr"), col("max_llr"))
      .orderBy(col("bucket"))
      .collect().toSeq
    assert(got === want)
  }

  test("q181 vocab growth: two-level checkpoint lookup ≡ the corpus-wide row_number") {
    val got = TextAnalysis.vocabGrowth(spark, sf).collect().toSeq
    // the retired formulation's checkpoints, inline, feeding the same tail
    import graft.functions.TextFunctions
    val buckets = 10
    val d = sources.Tables.loadSpread(spark, sf, "documents")
    val tk = d.select(col("doc_id"), explode(
        TextFunctions.words(TextFunctions.normalizeText(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
    val perDoc = tk.groupBy(col("doc_id")).agg(count(lit(1)).as("n_toks"))
    val firsts = tk.groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val ranked = d.select(col("doc_id"))
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
    val total = d.agg(count(lit(1)).as("n"))
    val cps = ranked.crossJoin(broadcast(total))
      .select(col("doc_id").as("cp_doc"), col("rn"),
        explode(sequence(lit(1), lit(buckets))).as("k"))
      .filter(col("rn") === expr(s"n * k div $buckets"))
      .select(col("k").cast("long").as("k"), col("cp_doc"),
        col("rn").cast("long").as("n_docs"))
    val newTok = firsts.crossJoin(broadcast(cps))
      .filter(col("cp_doc") >= col("first_doc"))
      .groupBy(col("tok")).agg(min(col("k")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("new_types"))
    val mass = perDoc.crossJoin(broadcast(cps))
      .filter(col("cp_doc") >= col("doc_id"))
      .groupBy(col("doc_id"), col("n_toks")).agg(min(col("k")).as("k"))
      .groupBy(col("k")).agg(sum(col("n_toks")).as("new_mass"))
    val w = Window.orderBy(col("k"))
    val want = cps.join(newTok, Seq("k"), "left").join(mass, Seq("k"), "left")
      .withColumn("total_tokens", sum(coalesce(col("new_mass"), lit(0L))).over(w))
      .withColumn("distinct_tokens", sum(coalesce(col("new_types"), lit(0L))).over(w))
      .select(col("k"), col("cp_doc"), col("n_docs"),
        col("total_tokens"), col("distinct_tokens"))
      .orderBy(col("k"))
      .collect().toSeq
    assert(got === want)
  }

  test("q181 big path (two-level order statistics) ≡ small path (global rank)") {
    // force the scale decomposition by setting the small-input gate
    // to zero — checkpoint rows must be identical to the default
    // (small) path at any cut-point, since both are exact order
    // statistics of doc_id
    val big = TextAnalysis.vocabGrowth(spark, sf, smallInputBytes = 0L)
      .collect().toSeq
    spark.catalog.clearCache()
    val small = TextAnalysis.vocabGrowth(spark, sf).collect().toSeq
    assert(big === small)
    spark.catalog.clearCache()
  }

  test("wide-band LSH layout (r=10, 6 bands) is sound: a 10-bit collision implies 3-bit collisions") {
    // the banding layout the adaptive rule selects at ×100 scale,
    // exercised end-to-end via the explicit band count: every pair
    // the 6×10-bit layout emits agrees on bits [b·10, b·10+10) for
    // some b, hence on the 3-bit sub-bands inside — so its output is
    // a SUBSET of the 20×3-bit output with identical cosines
    val wide = Vectors.lshNearDupPairs(spark, sf, 60, 6, Vectors.NearDupThreshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    val narrow = Vectors.lshNearDupPairs(spark, sf, 60, 20, Vectors.NearDupThreshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(wide.subsetOf(narrow),
      s"wide-band pairs must be a subset: extra=${wide -- narrow}")
    spark.catalog.clearCache()
  }

  test("q168 collocations: TakeOrdered top-k ≡ the global rank filter") {
    val got = TextAnalysis.pmiCollocations(spark, sf).collect().toSeq
    assert(got.size <= 20)
    // ranks are 1..k dense and follow (ratio desc, w1, w2)
    assert(got.map(_.getLong(0)) === (1L to got.size.toLong))
    val ratios = got.map(_.getDouble(6))
    assert(ratios === ratios.sorted.reverse)
  }
}
