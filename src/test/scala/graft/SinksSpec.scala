package graft

import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** Write-layout utilities: sorted row groups actually narrow parquet
  * min/max stats, and compaction reduces file counts losslessly. */
class SinksSpec extends SparkSpec {

  test("writeSorted range-clusters files: per-file spans are a fraction of global") {
    val dir = SparkSpec.tempDir("graft_sorted").toString
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .repartition(8) // scatter dates across partitions first
    Sinks.writeSorted(li, s"$dir/sorted", Seq("l_shipdate"))
    val perFile = spark.read.parquet(s"$dir/sorted")
      .select(input_file_name().as("f"), unix_micros(col("l_shipdate").cast("timestamp")).as("us"))
      .groupBy(col("f"))
      .agg(min("us").as("lo"), max("us").as("hi"), count(lit(1)).as("n"))
      .collect()
    assert(perFile.length > 1)
    assert(perFile.map(_.getAs[Long]("n")).sum === li.count())
    val globalLo = perFile.map(_.getAs[Long]("lo")).min
    val globalHi = perFile.map(_.getAs[Long]("hi")).max
    val spans = perFile.map(r => r.getAs[Long]("hi") - r.getAs[Long]("lo"))
    // range clustering: average per-file span well under the global span
    assert(spans.sum / spans.length < (globalHi - globalLo) / 2,
      s"avg span ${spans.sum / spans.length} vs global ${globalHi - globalLo}")
  }

  test("writeSortedCompressed: zstd shrinks sorted text tables vs default codec, losslessly") {
    val dir = SparkSpec.tempDir("graft_zstd").toString
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def dirBytes(p: String): Long = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(hp).getLength
    }
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // text-heavy schema → the profile picks the high level
    assert(Sinks.chooseZstdLevel(docs) === 9)
    // numeric-heavy schema → fast default
    assert(Sinks.chooseZstdLevel(
      spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")) === 3)
    val (_, tSnappy) = timed(Sinks.writeSorted(docs, s"$dir/snappy", Seq("source", "doc_id")))
    val (_, tZstd) = timed(Sinks.writeSortedCompressed(docs, s"$dir/zstd", Seq("source", "doc_id")))
    val (bSnappy, bZstd) = (dirBytes(s"$dir/snappy"), dirBytes(s"$dir/zstd"))
    info(f"documents sf0.01: snappy ${bSnappy / 1024}%d KiB in $tSnappy%.2f s, " +
      f"zstd-9 ${bZstd / 1024}%d KiB in $tZstd%.2f s (${100.0 * bZstd / bSnappy}%.1f%% of snappy)")
    // the size win is the point: zstd-9 on range-clustered text must be
    // materially smaller than the session default codec
    assert(bZstd < bSnappy * 0.8, s"zstd $bZstd vs snappy $bSnappy")
    // lossless round trip
    assert(spark.read.parquet(s"$dir/zstd").count() === docs.count())
    assert(spark.read.parquet(s"$dir/zstd").agg(sum(length(col("text")))).head.getLong(0)
      === docs.agg(sum(length(col("text")))).head.getLong(0))
  }

  test("compact merges many small files into few, losslessly") {
    val dir = SparkSpec.tempDir("graft_compact").toString
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    li.repartition(64).write.parquet(s"$dir/t") // 64 tiny files
    val before = new java.io.File(s"$dir/t").listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 32)
    val rowsBefore = spark.read.parquet(s"$dir/t").count()
    val parts = Sinks.compact(spark, s"$dir/t")
    val after = new java.io.File(s"$dir/t").listFiles().count(_.getName.endsWith(".parquet"))
    assert(after.toLong === parts && after < before)
    assert(spark.read.parquet(s"$dir/t").count() === rowsBefore)
  }

  test("compactedFileCount: one file up to 128 MB, a second one past it") {
    val target = 128L << 20
    assert(Sinks.compactedFileCount(0L) === 1)
    assert(Sinks.compactedFileCount(target) === 1)
    assert(Sinks.compactedFileCount(target + 1) === 2)
  }

  test("writePartitionedCounted: the in-flight observe count equals the read-back truth") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_obs").toString
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p")
    val counted = Sinks.writePartitionedCounted(df, s"$dir/t", "p")
    assert(counted === 3L)
    assert(spark.read.parquet(s"$dir/t").count() === 3L)
    // dynamic overwrite of one partition: count reflects the new write only
    val counted2 = Sinks.writePartitionedCounted(
      Seq((9L, "a")).toDF("id", "p"), s"$dir/t", "p")
    assert(counted2 === 1L)
    assert(spark.read.parquet(s"$dir/t").count() === 2L) // a replaced, b kept
    // atomicOverwrite counts the same way: a first write, a swap over
    // that table from its own rows, and an empty replacement
    assert(Sinks.atomicOverwrite(spark, df, s"$dir/u") === 3L)
    val self = spark.read.parquet(s"$dir/u").filter($"p" === "a")
    assert(Sinks.atomicOverwrite(spark, self, s"$dir/u") === 2L)
    assert(spark.read.parquet(s"$dir/u").count() === 2L)
    assert(Sinks.atomicOverwrite(spark, df.filter($"id" < 0), s"$dir/u") === 0L)
    assert(spark.read.parquet(s"$dir/u").count() === 0L)
  }

  test("atomicOverwrite: a failing staging write leaves the target readable and unchanged") {
    val dir = SparkSpec.tempDir("graft_atomic").toString
    spark.range(100).toDF("id").write.parquet(s"$dir/t")
    val boom = udf((_: Long) => { throw new RuntimeException("boom"); true })
    val bad = spark.range(10).toDF("id").filter(boom(col("id")))
    intercept[Exception] { Sinks.atomicOverwrite(spark, bad, s"$dir/t") }
    assert(spark.read.parquet(s"$dir/t").count() === 100L)
  }

  test("compact: recovers from a crash between the rename-aside and rename-into-place") {
    val dir = SparkSpec.tempDir("graft_recover").toString
    spark.range(1000).toDF("id").repartition(16).write.parquet(s"$dir/t")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // simulate the crash window: live dir moved aside, nothing in place,
    // plus a stale staging dir from the interrupted writer
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/t"),
      new org.apache.hadoop.fs.Path(s"$dir/t._old")))
    spark.range(5).toDF("id").write.parquet(s"$dir/t._staging")
    val parts = Sinks.compact(spark, s"$dir/t")
    assert(parts >= 1)
    assert(spark.read.parquet(s"$dir/t").count() === 1000L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/t._old")))
  }

  test("z-order write narrows per-file spans on BOTH key dimensions") {
    import graft.sources.ZOrder
    val dir = SparkSpec.tempDir("graft_zorder").toString
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    def avgSpans(path: String): (Double, Double) = {
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("l_partkey").as("plo"), max("l_partkey").as("phi"),
          min("l_suppkey").as("slo"), max("l_suppkey").as("shi"))
        .collect()
      assert(perFile.length > 4, s"need multiple files, got ${perFile.length}")
      (perFile.map(r => r.getAs[Long]("phi") - r.getAs[Long]("plo")).sum.toDouble / perFile.length,
        perFile.map(r => r.getAs[Long]("shi") - r.getAs[Long]("slo")).sum.toDouble / perFile.length)
    }
    li.repartition(16).write.parquet(s"$dir/plain")
    ZOrder.writeZOrdered(li.repartition(16), s"$dir/z", "l_partkey", "l_suppkey", numFiles = 16)
    val (plainP, plainS) = avgSpans(s"$dir/plain")
    val (zP, zS) = avgSpans(s"$dir/z")
    // plain scattered files span ~the full range on both dims; z-order
    // files cover a rectangle — materially narrower on BOTH
    assert(zP < plainP * 0.75, s"partkey span $zP vs plain $plainP")
    assert(zS < plainS * 0.75, s"suppkey span $zS vs plain $plainS")
  }

  test("atomicOverwrite clears a stale ._old left by a crash AFTER a completed swap") {
    val dir = SparkSpec.tempDir("graft_staleold").toString
    spark.range(100).toDF("id").write.parquet(s"$dir/t") // live generation
    spark.range(7).toDF("id").write.parquet(s"$dir/t._old") // stale leftover
    Sinks.atomicOverwrite(spark, spark.range(500).toDF("id"), s"$dir/t")
    assert(spark.read.parquet(s"$dir/t").count() === 500L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/t._old")))
    // and a second overwrite still works (no nested-dir corruption)
    Sinks.atomicOverwrite(spark, spark.range(3).toDF("id"), s"$dir/t")
    assert(spark.read.parquet(s"$dir/t").count() === 3L)
  }

  test("Dims.run recovers a mid-swap crash before merging (no silent truncate-load)") {
    import graft.etl.Dims
    val dwh = SparkSpec.tempDir("graft_dims_recover").toString
    // first load populates the dims
    Dims.run(spark, SparkSpec.ReferenceDataDir, dwh)
    val before = spark.read.parquet(s"$dwh/routes").count()
    assert(before > 0)
    // simulate a crash between atomicOverwrite's two renames: the live
    // dir is gone, the previous generation sits in ._old
    val fs = new org.apache.hadoop.fs.Path(dwh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dwh/routes"),
      new org.apache.hadoop.fs.Path(s"$dwh/routes._old")))
    // rerun: must restore ._old BEFORE the existence check, then merge
    val counts = Dims.run(spark, SparkSpec.ReferenceDataDir, dwh)
    assert(counts("routes") === before) // nothing lost to truncate-load
  }

  test("upsert: duplicate keys in the incoming batch merge deterministically") {
    import graft.etl.Dims
    val incoming = spark.createDataFrame(Seq(
      ("k1", "b"), ("k1", "a"), ("k2", "z"))).toDF("key", "v")
    // shuffled input order must not change the survivor
    val shuffled = spark.createDataFrame(Seq(
      ("k2", "z"), ("k1", "a"), ("k1", "b"))).toDF("key", "v").repartition(7)
    val existing = spark.createDataFrame(Seq(("k1", "old"), ("k3", "keep"))).toDF("key", "v")
    def result(inc: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      Dims.upsert(Some(existing), inc, "key")
        .orderBy("key").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val expected = Seq(("k1", "a"), ("k2", "z"), ("k3", "keep"))
    assert(result(incoming) === expected)
    assert(result(shuffled) === expected)
    // no-existing branch is deterministic too
    assert(Dims.upsert(None, shuffled, "key").orderBy("key").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("k1", "a"), ("k2", "z")))
  }
}
