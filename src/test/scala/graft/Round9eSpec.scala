package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.Snapshots

/** Round-9 fifth batch: zero-copy shallow clone, seasonal-naive
  * forecast backtesting, and embedding distribution drift. */
class Round9eSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------- q244

  test("shallow clone: zero-copy read equality, pinned against source advance, CoW divergence") {
    val root = SparkSpec.tempDir("graft_clone").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    val base = (1L to 100L).map(k => (k, s"row$k", (k % 7).toDouble))
      .toDF("k", "name", "x")
    Snapshots.commitOverwrite(spark, src, base, statsCols = Seq("k"))
    val v1 = Snapshots.shallowClone(spark, src, dst)
    assert(v1 === "v00000001")
    // zero-copy: the clone dir holds ONLY the commit log, no data dirs
    val dstFiles = new java.io.File(dst).listFiles().map(_.getName).toSet
    assert(dstFiles === Set("_commits"), s"clone wrote data: $dstFiles")
    // read equality at clone time
    val srcRows = Snapshots.readVersion(spark, src, "v00000001")
      .orderBy("k").collect().map(_.toSeq)
    val cloneRows = Snapshots.readVersion(spark, dst, v1)
      .orderBy("k").collect().map(_.toSeq)
    assert(cloneRows.toSeq === srcRows.toSeq)
    // stats travel: a pruned read through the clone's rewritten
    // relPaths answers correctly
    val pruned = Snapshots.readVersionPruned(spark, dst, v1, "k",
      BigDecimal(10), BigDecimal(20)).collect()
    assert(pruned.map(_.getAs[Long]("k")).sorted.toSeq === (10L to 20L).toSeq)
    // source advances → the clone is pinned to what it cloned
    Snapshots.commitOverwrite(spark, src,
      base.filter(col("k") <= 50L), statsCols = Seq("k"))
    assert(Snapshots.readVersion(spark, dst, v1).count() === 100L)
    // clone diverges copy-on-write; the source's live stays at 50
    Snapshots.commitDelete(spark, dst, col("k") > 90L)
    val dstLive = Snapshots.currentVersion(spark, dst).get
    assert(Snapshots.readVersion(spark, dst, dstLive).count() === 90L)
    assert(Snapshots.readVersion(spark, src,
      Snapshots.currentVersion(spark, src).get).count() === 50L)
  }

  // ---------------------------------------------------------- q245

  test("forecast backtest: hand-computed seasonal-naive errors; calendar gaps don't slip the season") {
    val dir = SparkSpec.tempDir("graft_fc").toString
    import java.sql.Date
    // Mondays 1/1, 1/8, 1/15 revenue 10, 12, 9 → errors +2, −3 on
    // the two scored days; a gap day (1/9 Tue) has no d−7 → unscored
    Seq(
      (1L, Date.valueOf("2024-01-01"), 10.0),
      (2L, Date.valueOf("2024-01-08"), 12.0),
      (3L, Date.valueOf("2024-01-15"), 9.0),
      (4L, Date.valueOf("2024-01-09"), 5.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = graft.operators.TimeSeries.forecastBacktest(spark, dir).collect()
    assert(out.length === 1) // only Mondays scored
    val r = out.head
    assert(r.getAs[Long]("dow") === 2L) // Spark dayofweek: Monday = 2
    assert(r.getAs[Long]("n_days") === 2L)
    assert(r.getAs[Long]("sum_abs_err_cents") === 500L) // |+200| + |−300|
    assert(r.getAs[Long]("sum_err_cents") === -100L)    // +200 − 300
    assert(r.getAs[Long]("mae_cents") === 250L)
  }

  // ---------------------------------------------------------- q246

  test("embedding drift: identical halves read zero; a planted shift reads the exact cross term") {
    val dir = SparkSpec.tempDir("graft_drift").toString
    // even ids: all components 0.5; odd ids: dim 0 shifted to 0.75
    (0L until 8L).map { vid =>
      val emb = Array.tabulate(4)(i =>
        if (vid % 2 == 1 && i == 0) 0.75f else 0.5f)
      (vid, emb)
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Vectors.embeddingDrift(spark, dir).collect()
      .map(r => r.getAs[Long]("dim") ->
        (r.getAs[Long]("n0"), r.getAs[Long]("n1"), r.getAs[Long]("abs_cross"))).toMap
    // dims 1..3: means equal → cross term exactly 0
    (1L to 3L).foreach(d => assert(out(d) === ((4L, 4L, 0L)), s"dim $d"))
    // dim 0: |4·500000·4 − 4·750000·4| = 4_000_000
    assert(out(0L) === ((4L, 4L, 4000000L)))
  }

  // ---------------------------------------------------------- q247

  test("audio resample: operator equals an independent floorDiv recompute for every sf0.001 clip") {
    def formula(id: Long): (Long, Long, Long, Long, Long) = {
      val silent = if (id % 7 == 0) 2 else 4
      val vals = Array.tabulate(256) { i =>
        val w = i / 32
        if ((w + id) % silent == 0) 0L
        else if (id % 11 == 0 && w == 1) 32767L
        else if ((id + i) % 97 == 0) 32767L
        else ((id * 7 + i * 13) % 2000) - 1000
      }
      val subs = (0 until 128).map(k => vals(2 * k))
      // plain floorDiv — proves the operator's shifted form IS floor
      val boxes = (0 until 128).map(k => Math.floorDiv(vals(2 * k) + vals(2 * k + 1), 2L))
      (128L, subs.sum, boxes.sum, subs.map(v => v * v).sum, boxes.map(b => b * b).sum)
    }
    val out = Multimodal.audioResample(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val (n, ss, sb, es, eb) = formula(id)
      assert((r.getAs[Long]("n_out"), r.getAs[Long]("sum_sub"),
        r.getAs[Long]("sum_box"), r.getAs[Long]("energy_sub"),
        r.getAs[Long]("energy_box")) === ((n, ss, sb, es, eb)), s"clip $id")
    }
  }

  // ---------------------------------------------------------- q248

  test("modularity: two planted triangles read the textbook Q = 1/2 in scaled form") {
    val dir = SparkSpec.tempDir("graft_mod").toString
    // two orders per triangle so co-purchase support >= 2
    val rows = for {
      (orders, parts) <- Seq((Seq(1L, 2L), Seq(1L, 2L, 3L)),
        (Seq(3L, 4L), Seq(11L, 12L, 13L)))
      o <- orders; p <- parts
    } yield (o, p)
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Affinity.modularity(spark, dir).collect()
      .map(r => r.getAs[Long]("community") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("e_in"),
          r.getAs[Long]("deg_sum"), r.getAs[Long]("contrib_scaled"))).toMap
    // each triangle collapses to its min-id label; m = 6 edges total
    assert(out === Map(
      1L -> ((3L, 3L, 6L, 4 * 6 * 3 - 36L)),
      11L -> ((3L, 3L, 6L, 4 * 6 * 3 - 36L))))
    // Σ contrib = 4m²·Q → Q = 72 / 144 = 1/2, the textbook value
    assert(out.values.map(_._4).sum === 72L)
  }

  // ---------------------------------------------------------- q249

  test("reshard plan: ustar footprints and the budget boundary land exactly where a tar writer would") {
    val dir = SparkSpec.tempDir("graft_reshard").toString
    // every doc: 2×512 headers + 512 text block + 512 cls block = 2048 B
    (0L until 33L).map(i => (i, "x" * 100, "en", "s", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Packing.reshardPlan(spark, dir).collect()
      .map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("first_doc"),
          r.getAs[Long]("last_doc"), r.getAs[Long]("shard_bytes"))).toMap
    // doc k starts at 2048k; doc 32 starts exactly at the 65536
    // boundary → shard 0 holds docs 0..31 full, doc 32 opens shard 1
    assert(out === Map(
      0L -> ((32L, 0L, 31L, 32L * 2048L)),
      1L -> ((1L, 32L, 32L, 2048L))))
  }

  // ---------------------------------------------------------- q250

  test("batch padding audit: mixed arrival batches pay exact waste; bucketing eliminates it") {
    val dir = SparkSpec.tempDir("graft_pad").toString
    // 16 docs, lengths alternating 10 and 100 tokens by parity — every
    // arrival batch mixes both lengths, every length bucket is pure
    (0L until 16L).map { i =>
      val len = if (i % 2 == 0) 10 else 100
      (i, Seq.fill(len)("w").mkString(" "), "en", "s", len.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Packing.batchPaddingAudit(spark, dir).collect()
      .map(r => r.getAs[String]("strategy") ->
        (r.getAs[Long]("n_batches"), r.getAs[Long]("real_tokens"),
          r.getAs[Long]("padded_tokens"), r.getAs[Long]("waste_bp"))).toMap
    // arrival: 2 batches of (4×10 + 4×100), each padded to 8×100
    assert(out("arrival") === ((2L, 880L, 1600L, 4500L)))
    // bucketed: the 10s batch pads to 10, the 100s batch to 100 — zero waste
    assert(out("bucketed") === ((2L, 880L, 880L, 0L)))
  }

  test("shallow clone of a PARTITIONED table keeps pruning-by-construction reads working") {
    val root = SparkSpec.tempDir("graft_clone_part").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    val df = (1L to 60L).map(k => (k, if (k % 3 == 0) "A" else "B"))
      .toDF("k", "part")
    Snapshots.commitOverwrite(spark, src, df, partCol = "part")
    Snapshots.shallowClone(spark, src, dst)
    val all = Snapshots.readVersion(spark, dst, "v00000001")
    assert(all.count() === 60L)
    assert(all.filter(col("part") === "A").count() === 20L)
    // still zero data under the clone root
    assert(new java.io.File(dst).listFiles().map(_.getName).toSet === Set("_commits"))
  }

  test("clone of a clone resolves through chained relative references") {
    val root = SparkSpec.tempDir("graft_clone2").toString
    Snapshots.commitOverwrite(spark, s"$root/src",
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "name"))
    Snapshots.shallowClone(spark, s"$root/src", s"$root/c1")
    // c1's borrowed references are already absolute, so c2 carries
    // them through unchanged and reads the original files
    Snapshots.shallowClone(spark, s"$root/c1", s"$root/c2")
    assert(Snapshots.readVersion(spark, s"$root/c2", "v00000001").count() === 10L)
    assert(new java.io.File(s"$root/c2").listFiles().map(_.getName).toSet ===
      Set("_commits"))
  }

  test("shallow clone carries deletion vectors") {
    val root = SparkSpec.tempDir("graft_clone_dv").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    Snapshots.commitOverwrite(spark, src,
      (1L to 20L).map(k => (k, s"n$k")).toDF("k", "name"))
    Snapshots.commitDeleteVector(spark, src,
      Seq(3L, 4L, 5L).toDF("k"), "k")
    Snapshots.shallowClone(spark, src, dst)
    val ks = Snapshots.readVersion(spark, dst, "v00000001")
      .select("k").as[Long].collect().sorted.toSeq
    assert(ks === ((1L to 20L).filterNot(Set(3L, 4L, 5L))).toSeq)
  }
}
