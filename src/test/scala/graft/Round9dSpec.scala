package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Conversations, Dedup, Multimodal, Relational, TextAnalysis}

/** Round-9 fourth-batch additions: n-gram novelty scoring, b-bit
  * minhash compression, conversation context-window trimming, and
  * dataset channel statistics. Planted fixtures with hand-computed
  * ground truth throughout.
  */
class Round9dSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = SparkSpec.tempDir("graft_r9d").toString
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---------------------------------------------------------- q236

  test("novelty: exact copy scores 0, original 10000, half-overlap the exact bp") {
    val dir = docsDir(Seq(
      (1L, "aa bb cc dd"),       // shingles {aa bb cc, bb cc dd} — owns both
      (2L, "aa bb cc dd"),       // identical — owns nothing
      (3L, "bb cc dd ee ff")))   // {bb cc dd, cc dd ee, dd ee ff} — owns 2 of 3
    val out = TextAnalysis.noveltyScore(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_bp"))).toMap
    assert(out(1L) === ((2L, 2L, 10000L)))
    assert(out(2L) === ((2L, 0L, 0L)))
    assert(out(3L) === ((3L, 2L, 6666L)))
  }

  // ---------------------------------------------------------- q237

  test("b-bit minhash: identical docs collide on all nibbles; estimator formula holds pairwise") {
    val base = "one two three four five six seven eight nine ten"
    val dir = docsDir(Seq((1L, base), (2L, base), (3L, base + " extra tail words here")))
    val out = Dedup.bbitMinhash(spark, dir).collect()
    val byPair = out.map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) ->
      (r.getAs[Long]("r_coll"), r.getAs[Long]("est_bp"), r.getAs[Long]("true_bp"))).toMap
    // the identical pair: every register nibble collides, both sides read 1.0
    val (r12, est12, true12) = byPair((1L, 2L))
    assert(r12 === 12L && est12 === 10000L && true12 === 10000L)
    // the estimator is exactly the clamped integer formula on every pair
    out.foreach { r =>
      val rc = r.getAs[Long]("r_coll")
      assert(r.getAs[Long]("est_bp") === math.max(0L, 16 * rc - 12) * 10000 / 180)
    }
    // nibble collisions dominate full-register equality (b-bit match is
    // implied by an exact register match) — checked against q133's eq count
    val eq = Dedup.signatureJaccard(spark, dir).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) -> r.getAs[Long]("n_equal"))
      .toMap
    eq.foreach { case (pair, nEqual) =>
      assert(byPair(pair)._1 >= nEqual, s"pair $pair: nibble collisions < full matches")
    }
  }

  // ---------------------------------------------------------- q238

  private def eventsDir(rows: Seq[(Long, Long, String, Int)]): String = {
    // (event_id, user_id, ts, k)
    val dir = SparkSpec.tempDir("graft_trim").toString
    rows.map { case (eid, uid, ts, k) =>
      (eid, Timestamp.valueOf(ts), uid, "view", 1.0, s"""{"k": $k}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("context trim: keeps the exact budget-fitting suffix; over-budget single turn keeps nothing") {
    val dir = eventsDir(Seq(
      // user 7, one session (1-min gaps): costs 100, 50, 51, 11 —
      // suffix sums 11, 62, 112, 212 → the oldest turn falls off
      (1L, 7L, "2024-01-01 10:00:00", 99),
      (2L, 7L, "2024-01-01 10:01:00", 49),
      (3L, 7L, "2024-01-01 10:02:00", 50),
      (4L, 7L, "2024-01-01 10:03:00", 10),
      // user 7, second session (> 30 min later): one turn of cost 200
      // — over budget on its own, nothing fits
      (5L, 7L, "2024-01-01 11:00:00", 199)))
    val out = Conversations.contextTrim(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sess_n")) ->
        (r.getAs[Long]("n_turns"), r.getAs[Long]("total_cost"),
          r.getAs[Long]("kept_turns"), r.getAs[Long]("dropped_turns"),
          r.getAs[Long]("kept_cost"))).toMap
    assert(out((7L, 1L)) === ((4L, 212L, 3L, 1L, 112L)))
    assert(out((7L, 2L)) === ((1L, 200L, 0L, 1L, 0L)))
  }

  // ---------------------------------------------------------- q239

  /** Same independent gray-formula recompute as Round9cSpec. */
  private def gray(id: Long, x: Int, y: Int): Int = {
    val g = (id % Multimodal.PHashGroups).toInt
    val flipped = (id / Multimodal.PHashGroups) % 5 == 4
    val k = (y / 4) * 8 + (x / 4)
    val bright = ((k + g * 11) % 64 < 32) ^ (flipped && k == (id % 64).toInt)
    (if (bright) 200 else 4) + ((x * y + g) % 3) +
      (if (x == (id % 32).toInt && y == ((id / 32) % 32).toInt) (id % 3).toInt else 0)
  }

  // ---------------------------------------------------------- q240

  test("group maxsim: a query's top document is its own cluster's label") {
    val dir = SparkSpec.tempDir("graft_maxsim").toString
    (0L until 480L).map { vid =>
      val c = (vid % 4).toInt
      val emb = Array.tabulate(16) { i =>
        val base = if (i / 4 == c) 1.0f else 0.0f
        base + (((vid * 2654435761L + i * 97L) % 1000L) - 500L) / 10000.0f
      }
      (vid, emb, c)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Vectors.groupMaxSim(spark, dir).collect()
    val top = out.filter(_.getAs[Long]("rk") == 1L)
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("label")).toMap
    top.foreach { case (qid, label) =>
      assert(label === qid % 4, s"query $qid retrieved doc $label")
    }
    // ranks dense and scores non-increasing within a query
    out.groupBy(_.getAs[Long]("qid")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq === (1L to sorted.length).toSeq)
      val scores = sorted.map(_.getAs[Double]("maxcos"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  // ---------------------------------------------------------- q241

  test("random projection: hash-sign recompute matches; JL ratio is in a sane band") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").toArray).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Long = {
      val d = md.digest(s"$j|$i".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xF) < 8) 1L else -1L
    }
    def project(v: Array[Float]): Array[Long] =
      Array.tabulate(4)(j => v.indices.map(i =>
        sign(j, i) * math.floor(v(i) * 1000000.0).toLong).sum)
    val out = graft.operators.Vectors.randomProjection(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        Array(r.getAs[Long]("p0"), r.getAs[Long]("p1"),
          r.getAs[Long]("p2"), r.getAs[Long]("p3"))).toMap
    vecs.take(25).foreach { case (vid, v) =>
      assert(out(vid).toSeq === project(v).toSeq, s"projection mismatch vec $vid")
    }
    // JL: E[|Δp|²] = 4·|Δq|² — the mean pairwise ratio over a sample
    // of pairs should sit near 1 (loose band: hash signs, 16 dims)
    val sample = vecs.keys.toSeq.sorted.take(20)
    val ratios = for (a <- sample; b <- sample if a < b) yield {
      val (qa, qb) = (vecs(a).map(x => math.floor(x * 1000000.0).toLong),
        vecs(b).map(x => math.floor(x * 1000000.0).toLong))
      val dq = qa.zip(qb).map { case (x, y) => val d = x - y; d * d }.sum
      val dp = out(a).zip(out(b)).map { case (x, y) => val d = x - y; d * d }.sum
      dp.toDouble / (4.0 * dq)
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.4 && mean < 2.5, s"JL mean ratio $mean out of band")
  }

  // ---------------------------------------------------------- q242

  private def ordersDir(prices: Seq[Double]): String = {
    val dir = SparkSpec.tempDir("graft_range").toString
    prices.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("range boundaries: uniform values split exactly; total ties collapse to one loaded bin") {
    val out = Relational.rangeBoundaries(spark, ordersDir((1 to 16).map(_.toDouble)))
      .collect()
      .map(r => r.getAs[Long]("bin") ->
        (r.getAs[Long]("upper_price"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("load_bp"))).toMap
    (1 to 8).foreach { m =>
      assert(out(m.toLong) === ((m * 2L, 2L, 1250L)), s"bin $m")
    }
    val tied = Relational.rangeBoundaries(spark, ordersDir(Seq.fill(16)(5.0)))
      .collect()
    assert(tied.length === 1)
    assert(tied.head.getAs[Long]("bin") === 1L)
    assert(tied.head.getAs[Long]("n_rows") === 16L)
    assert(tied.head.getAs[Long]("load_bp") === 10000L)
  }

  // ---------------------------------------------------------- q243

  test("join-order advisor: estimates upper-bound truth; the chosen edge has the minimum estimate") {
    val out = graft.operators.Sketches.joinOrderAdvisor(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[String]("join_edge"), r.getAs[Long]("est_size"),
        r.getAs[Long]("true_size"), r.getAs[Int]("chosen")))
    assert(out.length === 2)
    out.foreach { case (edge, est, tru, _) =>
      assert(est >= tru, s"$edge: CMS estimate $est below truth $tru")
    }
    val minEst = out.map(_._2).min
    out.foreach { case (_, est, _, chosen) =>
      assert((chosen == 1) === (est == minEst))
    }
    assert(out.exists(_._4 == 1))
  }

  // ------------------------------------------------ degenerate inputs

  test("empty/tiny tables: the q231-q243 family returns zero/identity rows, no errors") {
    val docs = docsDir(Seq.empty)
    assert(Multimodal.imageResize(spark, docs).count() === 0L)
    assert(Multimodal.channelStats(spark, docs).count() === 0L)
    assert(TextAnalysis.sourceReputation(spark, docs).count() === 0L)
    assert(TextAnalysis.noveltyScore(spark, docs).count() === 0L)
    assert(Dedup.bbitMinhash(spark, docs).count() === 0L)
    val ev = eventsDir(Seq.empty)
    assert(Conversations.contextTrim(spark, ev).count() === 0L)
    val ord = ordersDir(Seq.empty)
    assert(Relational.rangeBoundaries(spark, ord).count() === 0L)
    // corpus smaller than the codebook: the trained-kmeans consumers
    // still answer (3 vectors, 16 seeds)
    val vdir = SparkSpec.tempDir("graft_r9d_vec").toString
    (0L until 3L).map(v =>
      (v, Array.tabulate(16)(i => ((v * 31 + i * 7) % 13).toFloat / 13f), (v % 2).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$vdir/embeddings.parquet")
    assert(graft.operators.Vectors.randomProjection(spark, vdir).count() === 3L)
    val cb = graft.operators.Vectors.clusterBalancedSample(spark, vdir).collect()
    assert(cb.length === 3 && cb.forall(_.getAs[Long]("rk") <= 8L))
    // every query still retrieves the other vectors' labels
    assert(graft.operators.Vectors.groupMaxSim(spark, vdir).count() > 0L)
  }

  test("channel stats: sums and milli-mean match the formula recompute per group") {
    val dir = "/root/testdata/sf0.001"
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long].collect()
    val expect = ids.groupBy(_ % Multimodal.PHashGroups).map { case (g, members) =>
      val sums = members.map { id =>
        val px = for (y <- 0 until 32; x <- 0 until 32) yield gray(id, x, y).toLong
        (px.sum, px.map(v => v * v).sum)
      }
      g -> (members.length.toLong, sums.map(_._1).sum, sums.map(_._2).sum)
    }
    val out = Multimodal.channelStats(spark, dir).collect()
    assert(out.length === expect.size)
    out.foreach { r =>
      val g = r.getAs[Long]("grp")
      val (n, s, s2) = expect(g)
      assert(r.getAs[Long]("n_images") === n)
      assert(r.getAs[Long]("sum_gray") === s)
      assert(r.getAs[Long]("sum_sq") === s2)
      assert(r.getAs[Long]("mean_milli") === 1000 * s / (n * 1024))
    }
  }
}
