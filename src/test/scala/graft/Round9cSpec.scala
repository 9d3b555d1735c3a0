package graft

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Sketches, TextAnalysis, Vectors}

/** Round-9 third-batch additions: image resize over real decode,
  * source-reputation gating, cluster-balanced diversity sampling, the
  * native NFC normalization expression, and sketch-driven runtime
  * join pruning. Each pinned on planted data or an independent
  * arithmetic recompute of the expected output.
  */
class Round9cSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------- q231

  /** The pattern-PNG gray formula, recomputed independently of both
    * the encoder and ImageIO — the spec's ground truth. */
  private def gray(id: Long, x: Int, y: Int): Int = {
    val g = (id % Multimodal.PHashGroups).toInt
    val flipped = (id / Multimodal.PHashGroups) % 5 == 4
    val k = (y / 4) * 8 + (x / 4)
    val bright = ((k + g * 11) % 64 < 32) ^ (flipped && k == (id % 64).toInt)
    (if (bright) 200 else 4) + ((x * y + g) % 3) +
      (if (x == (id % 32).toInt && y == ((id / 32) % 32).toInt) (id % 3).toInt else 0)
  }

  test("image resize: box and nearest hex match the formula recompute for every sf0.001 image") {
    val out = Multimodal.imageResize(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val box = new StringBuilder; val nn = new StringBuilder
      for (by <- 0 until 8; bx <- 0 until 8) {
        val s = (for (dy <- 0 until 4; dx <- 0 until 4)
          yield gray(id, bx * 4 + dx, by * 4 + dy)).sum
        box.append(f"${s / 16}%02x")
        nn.append(f"${gray(id, bx * 4, by * 4)}%02x")
      }
      assert(r.getAs[String]("box_hex") === box.toString, s"box mismatch id=$id")
      assert(r.getAs[String]("nn_hex") === nn.toString, s"nn mismatch id=$id")
      assert(r.getAs[Long]("width") === 8L && r.getAs[Long]("height") === 8L)
    }
    // the two kernels genuinely differ somewhere (texture is averaged
    // by box but point-sampled by nearest)
    assert(out.exists(r => r.getAs[String]("box_hex") != r.getAs[String]("nn_hex")))
  }

  // ---------------------------------------------------------- q232

  private def reputationDir(): String = {
    val dir = SparkSpec.tempDir("graft_rep").toString
    val long = "x " * 60 // 120 chars, above the short threshold
    val rows = Seq(
      // srcA: clean — all en, all long → keep
      (1L, long, "en", "srcA"), (2L, long, "en", "srcA"),
      (3L, long, "en", "srcA"), (4L, long, "en", "srcA"),
      // srcB: 2 of 3 non-en → non_en_bp 6666 > 6000 → drop
      (5L, long, "de", "srcB"), (6L, long, "fr", "srcB"), (7L, long, "en", "srcB"),
      // srcC: 1 of 4 short → short_bp 2500 > 1200 → drop
      (8L, "tiny", "en", "srcC"), (9L, long, "en", "srcC"),
      (10L, long, "en", "srcC"), (11L, long, "en", "srcC"))
    rows.map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("source reputation: exact bp profiles and the keep split on planted sources") {
    val out = TextAnalysis.sourceReputation(spark, reputationDir()).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("non_en_bp"),
          r.getAs[Long]("short_bp"), r.getAs[Int]("keep"))).toMap
    assert(out("srcA") === ((4L, 0L, 0L, 1)))
    assert(out("srcB") === ((3L, 6666L, 0L, 0)))
    assert(out("srcC") === ((4L, 0L, 2500L, 0)))
  }

  // ---------------------------------------------------------- q233

  private def clusteredEmbDir(): String = {
    val dir = SparkSpec.tempDir("graft_cbal").toString
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

  test("cluster-balanced sample: quota respected, ranks dense, csize true, deterministic") {
    val dir = clusteredEmbDir()
    val a = Vectors.clusterBalancedSample(spark, dir).collect()
    val b = Vectors.clusterBalancedSample(spark, dir).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    val byCid = a.groupBy(_.getAs[Long]("cid"))
    byCid.foreach { case (cid, rows) =>
      assert(rows.length <= Vectors.ClusterQuota, s"cid=$cid over quota")
      // ranks are exactly 1..n with no gaps
      assert(rows.map(_.getAs[Long]("rk")).sorted.toSeq ===
        (1L to rows.length.toLong).toSeq)
      // quota fills whenever the cluster is big enough
      val csize = rows.head.getAs[Long]("csize")
      assert(rows.forall(_.getAs[Long]("csize") == csize))
      assert(rows.length.toLong === math.min(csize, Vectors.ClusterQuota.toLong))
    }
    // every sampled vec_id distinct; cluster sizes cover the corpus
    assert(a.map(_.getAs[Long]("vec_id")).distinct.length === a.length)
    assert(byCid.values.map(_.head.getAs[Long]("csize")).sum === 480L)
  }

  // ---------------------------------------------------------- q234

  test("nfc_normalize: composes decomposed sequences, preserves normalized text, NULL-safe") {
    val decomposed = "e\u0301"  // e + COMBINING ACUTE ACCENT
    val composed = "\u00e9"     // LATIN SMALL LETTER E WITH ACUTE
    val r = spark.sql(
      s"SELECT nfc_normalize('$decomposed') AS c, nfc_normalize('abc') AS plain, " +
        "nfc_normalize(CAST(NULL AS STRING)) AS n, " +
        s"length(nfc_normalize('pre $decomposed post')) AS l").collect().head
    assert(r.getAs[String]("c") === composed)
    assert(r.getAs[String]("plain") === "abc")
    assert(r.isNullAt(r.fieldIndex("n")))
    // 'pre ' (4) + composed char (1) + ' post' (5)
    assert(r.getAs[Int]("l") === 10)
    // idempotent, and agrees between codegen'd column use and SQL
    val df = Seq(decomposed * 2, "ascii only", composed).toDF("t")
      .select(call_function("nfc_normalize", col("t")).as("one"))
      .select(col("one"), call_function("nfc_normalize", col("one")).as("two"))
    assert(df.collect().forall(r2 => r2.getString(0) == r2.getString(1)))
  }

  // ---------------------------------------------------------- q235

  test("sketch-pruned join: equals the plain join; the bitmap prunes most probe rows") {
    val dir = "/root/testdata/sf0.001"
    val got = Sketches.sketchPrunedJoin(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val ord = graft.sources.Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F" && pmod(col("o_orderkey"), lit(97L)) === 0L)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val want = graft.sources.Tables.load(spark, dir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("o_orderpriority")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === want.toSeq)
    assert(got.nonEmpty, "fixture must exercise the join")

    // the prune is real: the survivor count is far below the fact table
    val li = graft.sources.Tables.load(spark, dir, "lineitem")
    val buckets = ord.agg(call_function("bitmap_registers",
        col("o_orderkey").cast("string")).as("bm"))
      .select(explode(col("bm")).as("bucket"))
    val survivors = li
      .withColumn("bucket",
        conv(substring(md5(col("l_orderkey").cast("string")), 1, 3), 16, 10).cast("int"))
      .join(broadcast(buckets), Seq("bucket"), "left_semi").count()
    val total = li.count()
    assert(survivors * 2 < total,
      s"expected the bitmap to prune most rows ($survivors of $total survive)")
  }

  test("bitmap bucket column expression matches the native aggregate's bucket") {
    val keys = Seq("42", "4711", "hello", "0")
    val agg = keys.toDF("k")
      .agg(call_function("bitmap_registers", col("k")).as("bm"))
      .select(explode(col("bm")).as("bucket"))
      .collect().map(_.getInt(0)).toSet
    val exprBuckets = keys.toDF("k")
      .select(conv(substring(md5(col("k")), 1, 3), 16, 10).cast("int").as("b"))
      .collect().map(_.getInt(0)).toSet
    assert(agg === exprBuckets)
  }
}
