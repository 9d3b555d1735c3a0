package graft

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, TextAnalysis, Winnowing}

/** Round-16 optimization proofs: every rewrite in this round must
  * produce BIT-IDENTICAL results to the formulation it replaces —
  * the retired formulation stays in test scope
  * ([[RetiredFormulations]]) and these tests diff against it.
  *
  *  - q169 source overlap: single-pass per-shingle source-set melt
  *    ≡ the 4-pass distinct + self-join;
  *  - q264 lang-ID: one-scan gram arrays + gcounts-derived model
  *    ≡ the three-scan union with count-based model;
  *  - q201/q213 winnowing: array-expression window-min fingerprints
  *    ≡ the posexplode + doc-partitioned window form, including the
  *    short-document (fewer than w k-grams) single-min guarantee.
  */
class Round16Spec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q169 source overlap: source-set melt ≡ the retired self-join") {
    val got = TextAnalysis.sourceOverlap(spark, sf).collect().toSeq
    spark.catalog.clearCache()
    val want = RetiredFormulations.sourceOverlapSelfJoin(spark, sf).collect().toSeq
    assert(got === want)
    assert(got.nonEmpty) // the diff must not pass vacuously
    spark.catalog.clearCache()
  }

  test("q169 source overlap: the maxSources cap binds identically in both forms") {
    // a cap of 1 forces the hot filter to drop every cross-source
    // shingle — the cap arithmetic (size ≤ cap vs n_src > cap) must
    // agree on the boundary in both formulations
    for (cap <- Seq(1, 2)) {
      val got = TextAnalysis.sourceOverlap(spark, sf, maxSources = cap)
        .collect().toSeq
      spark.catalog.clearCache()
      val want = RetiredFormulations.sourceOverlapSelfJoin(spark, sf, maxSources = cap)
        .collect().toSeq
      assert(got === want, s"cap=$cap")
      spark.catalog.clearCache()
    }
  }

  test("q264 lang-ID: one-scan gcounts model ≡ the retired three-scan form") {
    val docs = sources.Tables.loadSpread(spark, sf, "documents")
    val got = TextAnalysis.langIdNgramOf(docs).collect().toSeq
    spark.catalog.clearCache()
    val want = RetiredFormulations.langIdNgramThreePass(docs).collect().toSeq
    assert(got === want)
    assert(got.nonEmpty)
    spark.catalog.clearCache()
  }

  test("q201/q213 winnowing fingerprints: array window-min ≡ the windowed form") {
    val docs = sources.Tables.loadSpread(spark, sf, "documents")
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getString(1))
    val got = Winnowing.fingerprintsOf(docs).collect().map(key).sortBy(identity).toSeq
    spark.catalog.clearCache()
    val want = RetiredFormulations.fingerprintsWindowed(docs).collect().map(key).sortBy(identity).toSeq
    assert(got === want)
    assert(got.nonEmpty)
    spark.catalog.clearCache()
  }

  test("winnowing fingerprints: short docs (n < w k-grams) emit the single all-hash min") {
    // norm lengths straddling every boundary: < K (no fingerprint),
    // K ≤ len < K+W−1 (1..3 k-grams — truncated-window regime), and
    // ≥ K+W−1 (full windows); plus a repeated-gram doc (distinct collapses)
    val docs = Seq(
      (1L, "abcdefg"),             // 7 chars < K=8 → dropped
      (2L, "abcdefgh"),            // exactly K → 1 k-gram
      (3L, "abcdefghi"),           // 2 k-grams < W=4
      (4L, "abcdefghij"),          // 3 k-grams < W
      (5L, "abcdefghijk"),         // 4 k-grams = W → first full window
      (6L, "abcdefghijklmnop"),    // 9 k-grams — several windows
      (7L, "aaaaaaaaaaaa")         // identical k-grams → one distinct fp
    ).toDF("doc_id", "text")
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getString(1))
    val got = Winnowing.fingerprintsOf(docs).collect().map(key).sortBy(identity).toSeq
    val want = RetiredFormulations.fingerprintsWindowed(docs).collect().map(key).sortBy(identity).toSeq
    assert(got === want)
    assert(!got.exists(_._1 == 1L))
    assert(got.count(_._1 == 2L) === 1) // single truncated-window min
    assert(got.count(_._1 == 7L) === 1) // repeated grams collapse
  }

  test("q226 phash near-dup: value-level band join ≡ the retired id-level self-join") {
    val got = Multimodal.pHashNearDup(spark, sf).collect().toSeq
    spark.catalog.clearCache()
    val want = RetiredFormulations.pHashNearDupIdJoin(spark, sf).collect().toSeq
    assert(got === want)
    assert(got.nonEmpty)
    spark.catalog.clearCache()
  }

  test("q201 winnowing pairs: unchanged end-to-end over the rewritten fingerprints") {
    // the pair logic is untouched; this pins the whole declared query
    // against the windowed-fingerprint reconstruction
    val got = Winnowing.sharedFingerprintPairs(spark, sf).collect().toSeq
    spark.catalog.clearCache()
    val docs = sources.Tables.loadSpread(spark, sf, "documents")
    val fp = RetiredFormulations.fingerprintsWindowed(docs).cache()
    val counts = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    val rare = fp.groupBy(col("fp")).agg(count(lit(1)).as("docs"))
      .filter(col("docs") <= Winnowing.FpHotCap)
    val keyed = fp.join(rare.select(col("fp")), Seq("fp"))
    val want = keyed.select(col("fp"), col("doc_id").as("da"))
      .join(keyed.select(col("fp"), col("doc_id").as("db")), Seq("fp"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("shared"))
      .join(counts.select(col("doc_id").as("da"), col("nfp").as("fpa")), Seq("da"))
      .join(counts.select(col("doc_id").as("db"), col("nfp").as("fpb")), Seq("db"))
      .filter(col("shared") * Winnowing.ContainDen >= least(col("fpa"), col("fpb")))
      .select(col("da"), col("db"), col("fpa"), col("fpb"), col("shared"),
        round(col("shared").cast("double") / least(col("fpa"), col("fpb")), 4)
          .as("containment"))
      .orderBy(col("da"), col("db"))
      .collect().toSeq
    assert(got === want)
    spark.catalog.clearCache()
  }
}
