package graft

import java.sql.Timestamp

import graft.operators.{Sampling, TextAnalysis, Vectors}

/** Round-9 seventh batch: kNN graph, IVF health stats, corpus
  * fingerprint, temporal embargo split. */
class Round9gSpec extends SparkSpec {
  import spark.implicits._

  private def clusteredEmb(): String = {
    val dir = SparkSpec.tempDir("graft_r9g").toString
    (0L until 480L).map { vid =>
      val c = (vid % 4).toInt
      val emb = Array.tabulate(16) { i =>
        val base = if (i / 4 == c) 1.0f else 0.0f
        base + (((vid * 2654435761L + i * 97L) % 1000L) - 500L) / 10000.0f
      }
      (vid, emb)
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  // ---------------------------------------------------------- q253

  test("knn graph: every vector's nearest neighbor shares its planted cluster; ranks dense, scores ordered") {
    val out = Vectors.knnGraph(spark, clusteredEmb()).collect()
    val bySrc = out.groupBy(_.getAs[Long]("src"))
    assert(bySrc.size === 480)
    bySrc.foreach { case (src, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq ===
        (1L to sorted.length.toLong), s"src=$src ranks")
      val cos = sorted.map(_.getAs[Double]("cos"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, s"src=$src order")
      // top neighbor is a planted-cluster mate
      assert(sorted.head.getAs[Long]("dst") % 4 === src % 4, s"src=$src top")
    }
  }

  // ---------------------------------------------------------- q254

  test("ivf cell stats: loads sum to the corpus, ppm/mean/hot are the exact integer formulas") {
    val out = Vectors.ivfCellStats(spark, clusteredEmb()).collect()
    val nTotal = out.map(_.getAs[Long]("n_vecs")).sum
    assert(nTotal === 480L)
    val nCells = out.length.toLong
    out.foreach { r =>
      val n = r.getAs[Long]("n_vecs")
      assert(r.getAs[Long]("load_ppm") === 1000000L * n / nTotal)
      assert(r.getAs[Long]("mean_load") === nTotal / nCells)
      assert(r.getAs[Int]("hot") === (if (n * nCells > 2 * nTotal) 1 else 0))
    }
  }

  // ---------------------------------------------------------- q255

  test("corpus fingerprint: invariant to row order and partitioning; moved by any content change") {
    def write(dir: String, rows: Seq[(Long, String)], parts: Int): Unit =
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = (0L until 50L).map(i => (i, s"text body $i"))
    val a = SparkSpec.tempDir("graft_fp_a").toString
    val b = SparkSpec.tempDir("graft_fp_b").toString
    val c = SparkSpec.tempDir("graft_fp_c").toString
    write(a, rows, 1)
    write(b, scala.util.Random.shuffle(rows), 7) // order + layout differ
    write(c, rows.updated(13, (13L, "text body 13!")), 1) // one char changed
    def fp(dir: String) = TextAnalysis.corpusFingerprint(spark, dir)
      .collect().head.toSeq
    assert(fp(a) === fp(b))
    val (fa, fc) = (fp(a), fp(c))
    assert(fa(0) === fc(0))   // same row count
    assert(fa(1) !== fc(1))   // digest moved
  }

  // ---------------------------------------------------------- q257

  test("rfm features: recency/frequency/monetary and segments match the planted purchases") {
    val dir = SparkSpec.tempDir("graft_rfm").toString
    val rows = Seq(
      (1L, 9L, "2024-01-28 10:00:00", 10.50, "purchase"),
      (2L, 9L, "2024-01-29 10:00:00", 20.25, "purchase"),
      (3L, 9L, "2024-01-30 10:00:00", 0.25, "purchase"),
      (4L, 5L, "2024-01-05 09:00:00", 99.99, "purchase"),
      (5L, 5L, "2024-01-06 09:00:00", 1.00, "view")) // non-purchase ignored
    rows.map { case (eid, uid, ts, v, et) =>
      (eid, Timestamp.valueOf(ts), uid, et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val lastOf = (uid: Long) => rows.filter(r => r._2 == uid && r._5 == "purchase")
      .map(r => Timestamp.valueOf(r._3).getTime * 1000L).max
    val out = graft.operators.Behavioral.rfmFeatures(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("recency_days"), r.getAs[Long]("frequency"),
          r.getAs[Long]("monetary_cents"), r.getAs[String]("segment"))).toMap
    val rec9 = (graft.operators.Behavioral.RfmAsOfUs - lastOf(9L)) / 86400000000L
    val rec5 = (graft.operators.Behavioral.RfmAsOfUs - lastOf(5L)) / 86400000000L
    assert(out(9L) === ((rec9, 3L, 3100L, "champion")))
    assert(out(5L) === ((rec5, 1L, 9999L, "at_risk")))
    assert(out.size === 2) // the view-only activity creates no row
  }

  // ---------------------------------------------------------- q258

  test("dim variance prune: constant and near-constant dims pruned, a real signal kept — exact scaled variances") {
    val dir = SparkSpec.tempDir("graft_var").toString
    (0L until 8L).map { vid =>
      val sign = if (vid % 2 == 0) 1f else -1f
      (vid, Array(0.5f, 0.1f * sign, 0.01f * sign))
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Vectors.dimVariancePrune(spark, dir).collect()
      .map(r => r.getAs[Long]("dim") ->
        (r.getAs[String]("scaled_var"), r.getAs[Int]("pruned"))).toMap
    // independent recompute with the operator's exact quantization
    // (floor of the widened float — note floor(−0.1f·10⁶) = −100001)
    def scaled(vals: Seq[Float]): BigInt = {
      val q = vals.map(v => BigInt(math.floor(v.toDouble * 1000000.0).toLong))
      BigInt(q.size) * q.map(x => x * x).sum - q.sum * q.sum
    }
    val signs = (0 until 8).map(i => if (i % 2 == 0) 1f else -1f)
    // dim 0: constant → exactly zero variance, pruned
    assert(out(0L) === (("0", 1)))
    // dim 1: ±0.1 carries real signal → kept; exact value matches
    val s1 = scaled(signs.map(_ * 0.1f))
    assert(out(1L) === ((s1.toString, 0)))
    assert(s1 >= BigInt(8) * 8 * 2500000000L)
    // dim 2: ±0.01 is sub-threshold noise → pruned
    val s2v = scaled(signs.map(_ * 0.01f))
    assert(out(2L) === ((s2v.toString, 1)))
    assert(s2v < BigInt(8) * 8 * 2500000000L)
  }

  // ---------------------------------------------------------- q259

  test("dataset diff: planted add/remove/change census, and identical snapshots read all-same") {
    val dir = SparkSpec.tempDir("graft_diff").toString
    def docs(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = docs(Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val next = docs(Seq((2L, "b CHANGED"), (3L, "c"), (9L, "new")))
    val out = TextAnalysis.datasetDiff(base, next).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n")).toMap
    assert(out === Map("removed" -> 1L, "changed" -> 1L, "same" -> 1L, "added" -> 1L))
    val same = TextAnalysis.datasetDiff(base, base).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n")).toMap
    assert(same === Map("same" -> 3L))
    assert(dir.nonEmpty)
  }

  // ---------------------------------------------------------- q256

  test("temporal embargo split: planted user splits exactly; gap is the audited train-to-test distance") {
    val dir = SparkSpec.tempDir("graft_emb").toString
    val rows = Seq(
      (1L, 1L, "2024-01-20 10:00:00"), // train
      (2L, 1L, "2024-01-23 10:00:00"), // embargo zone
      (3L, 1L, "2024-01-25 10:00:00"), // test
      (4L, 2L, "2024-01-10 09:00:00")) // train-only user
    rows.map { case (eid, uid, ts) =>
      (eid, Timestamp.valueOf(ts), uid, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // expected parts derived from the same epoch arithmetic the
    // operator uses (robust to the JVM timezone of the fixture write)
    val tus = rows.map { case (eid, _, ts) =>
      eid -> Timestamp.valueOf(ts).getTime * 1000L }.toMap
    def partOf(t: Long): String =
      if (t >= Sampling.EmbargoCutoffUs) "test"
      else if (t >= Sampling.EmbargoCutoffUs - Sampling.EmbargoUs) "embargo"
      else "train"
    assert(partOf(tus(1L)) === "train" && partOf(tus(2L)) === "embargo" &&
      partOf(tus(3L)) === "test")
    val out = Sampling.temporalEmbargoSplit(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_train"), r.getAs[Long]("n_embargo"),
          r.getAs[Long]("n_test"),
          if (r.isNullAt(r.fieldIndex("gap_us"))) None
          else Some(r.getAs[Long]("gap_us")))).toMap
    assert(out(1L) === ((1L, 1L, 1L, Some(tus(3L) - tus(1L)))))
    assert(out(2L) === ((1L, 0L, 0L, None)))
    // the gap can never be below the embargo width when both sides exist
    assert(out(1L)._4.get >= Sampling.EmbargoUs)
  }
}
