package graft

import graft.operators.Vectors

/** Random-hyperplane LSH near-dup on planted vectors: identical and
  * slightly-perturbed pairs are found; unrelated vectors are not. */
class LshSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = SparkSpec.tempDir("graft_emb").toString
    val dim = 16
    def base(seed: Int): Array[Float] =
      Array.tabulate(dim)(i => math.sin(seed * 31 + i * 7).toFloat)
    val rows = (0 until 20).map(i => (i.toLong, base(i), 0)) ++ Seq(
      (100L, base(200), 1),
      (101L, base(100), 1),
      (102L, base(100), 1),                                 // 101 ≡ 102 identical
      (103L, base(101).map(x => x + 0.001f), 1),
      (104L, base(101).map(x => x + 0.002f), 1))            // 103 ≈ 104 near-identical
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("LSH finds planted identical and perturbed pairs above 0.9 cosine") {
    val pairs = Vectors.lshNearDupPairs(spark, dir)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(pairs.contains((101L, 102L)), pairs)
    assert(pairs.contains((103L, 104L)), pairs)
  }

  test("LSH agrees with brute force at the same threshold on planted data") {
    val lsh = Vectors.lshNearDupPairs(spark, dir, threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    val brute = RetiredFormulations.nearDupPairs(spark, dir)
      .filter($"cos" >= 0.95)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    // LSH ⊆ brute force always; with 8 bands of 2 over cos≥0.95 recall ≈ 1
    assert(lsh.subsetOf(brute))
    assert(lsh === brute, s"lsh=$lsh brute=$brute")
  }
}
