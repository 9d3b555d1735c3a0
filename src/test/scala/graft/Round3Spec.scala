package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.etl.Dims
import graft.operators.{Dedup, Sampling, TextAnalysis, Vectors}

/** Semantic tests for the round-3 operators: partition-scoped merge,
  * weighted sampling, chunking, PII scrub, repetition stats, int8
  * quantization, bloom decontamination, hot-band-capped LSH — all on
  * planted data where ground truth is known by construction.
  */
class Round3Spec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def writeDocs(docs: Seq[(Long, String)]): String = {
    val dir = SparkSpec.tempDir("graft_r3docs").toString
    docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---------------------------------------------------------------- merge

  test("partitionScopedMerge rewrites ONLY touched partitions, merges correctly") {
    val dir = SparkSpec.tempDir("graft_pmerge").toString
    val table = s"$dir/t"
    Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "B", 40.0))
      .toDF("id", "part", "v")
      .write.partitionBy("part").parquet(table)
    val bDir = new File(s"$table/part=B")
    val bBefore = bDir.listFiles.map(f => (f.getName, f.lastModified)).toSet

    val delta = Seq((1L, "A", 11.0), (5L, "A", 50.0)).toDF("id", "part", "v")
    val touched = Dims.partitionScopedMerge(spark, table, delta, "id", "part")
    assert(touched === Seq("A"))

    val out = spark.read.parquet(table)
      .select(col("id"), col("part"), col("v"))
      .as[(Long, String, Double)].collect().toSet
    assert(out === Set(
      (1L, "A", 11.0), (2L, "A", 20.0), (5L, "A", 50.0), // A merged (update + insert)
      (3L, "B", 30.0), (4L, "B", 40.0)))                 // B untouched
    val bAfter = bDir.listFiles.map(f => (f.getName, f.lastModified)).toSet
    assert(bAfter === bBefore, "untouched partition's files must not be rewritten")
  }

  test("partitionScopedMerge on a missing path bootstraps a deduplicated table") {
    val table = SparkSpec.tempDir("graft_pmerge_boot").toString + "/t"
    val touched = Dims.partitionScopedMerge(spark, table,
      Seq((1L, "A", 2.0), (1L, "A", 1.0), (2L, "B", 3.0)).toDF("id", "part", "v"), "id", "part")
    assert(touched === Seq("A", "B"))
    // one row per key, picked by the default tie-break (lowest v)
    assert(spark.read.parquet(table).select(col("id"), col("part"), col("v"))
      .as[(Long, String, Double)].collect().toSet === Set((1L, "A", 1.0), (2L, "B", 3.0)))
  }

  test("partitionScopedMerge aligns widened delta types to the base schema") {
    import org.apache.spark.sql.types.DecimalType
    val dir = SparkSpec.tempDir("graft_pmerge2").toString
    val table = s"$dir/t"
    Seq((1L, "F", "10.00"), (2L, "P", "20.00"))
      .toDF("id", "part", "p")
      .select(col("id"), col("part"), col("p").cast(DecimalType(18, 2)).as("price"))
      .write.partitionBy("part").parquet(table)
    // arithmetic widens: decimal(18,2) + 50 → decimal(19,2); the merge
    // must cast back, or partition P's files fork the table schema
    val delta = Seq((2L, "P", "20.00")).toDF("id", "part", "p")
      .select(col("id"), col("part"),
        (col("p").cast(DecimalType(18, 2)) + lit(50).cast(DecimalType(18, 2))).as("price"))
    assert(delta.schema("price").dataType === DecimalType(19, 2)) // precondition
    Dims.partitionScopedMerge(spark, table, delta, "id", "part")
    val back = spark.read.parquet(table)
    assert(back.schema("price").dataType === DecimalType(18, 2))
    val got = back.select(col("id"), col("price").cast("string"))
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "10.00"), (2L, "70.00")))
  }

  test("partitionScopedMerge deletes the stale row on a cross-partition key move") {
    val dir = SparkSpec.tempDir("graft_pmerge_move").toString
    val table = s"$dir/t"
    Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0))
      .toDF("id", "part", "v")
      .write.partitionBy("part").parquet(table)
    // key 2 moves A→B: partition A is not in the batch's partition
    // set, yet its stale row must be deleted (delete-and-reinsert)
    val touched = Dims.partitionScopedMerge(spark, table,
      Seq((2L, "B", 99.0)).toDF("id", "part", "v"), "id", "part")
    assert(touched.toSet === Set("A", "B"))
    val out = spark.read.parquet(table)
      .select(col("id"), col("part"), col("v"))
      .as[(Long, String, Double)].collect().toSet
    assert(out === Set((1L, "A", 10.0), (2L, "B", 99.0), (3L, "B", 30.0)))
    assert(spark.read.parquet(table).groupBy("id").count()
      .filter(col("count") > 1).count() === 0)
  }

  test("partitionScopedMerge removes a partition dir emptied by a key move") {
    val dir = SparkSpec.tempDir("graft_pmerge_empty").toString
    val table = s"$dir/t"
    Seq((1L, "A", 10.0), (5L, "P", 50.0)).toDF("id", "part", "v")
      .write.partitionBy("part").parquet(table)
    // P's only row moves to A: dynamic overwrite alone would leave the
    // stale P dir (no P rows in the written frame) — it must be dropped
    Dims.partitionScopedMerge(spark, table,
      Seq((5L, "A", 55.0)).toDF("id", "part", "v"), "id", "part")
    assert(!new File(s"$table/part=P").exists(),
      "emptied partition dir must be removed")
    val out = spark.read.parquet(table)
      .select(col("id"), col("part"), col("v"))
      .as[(Long, String, Double)].collect().toSet
    assert(out === Set((1L, "A", 10.0), (5L, "A", 55.0)))
  }

  test("partitionScopedMerge refuses extra incoming columns instead of silently dropping them") {
    val dir = SparkSpec.tempDir("graft_pmerge_extra").toString
    val table = s"$dir/t"
    Seq((1L, "A", 1.0)).toDF("id", "part", "v").write.partitionBy("part").parquet(table)
    val delta = Seq((2L, "A", 2.0, "note")).toDF("id", "part", "v", "extra")
    val e = intercept[IllegalArgumentException] {
      Dims.partitionScopedMerge(spark, table, delta, "id", "part")
    }
    assert(e.getMessage.contains("extra"))
  }

  test("partitionScopedMerge refuses NULL partition values loudly") {
    val dir = SparkSpec.tempDir("graft_pmerge3").toString
    val table = s"$dir/t"
    Seq((1L, "A", 1.0)).toDF("id", "part", "v").write.partitionBy("part").parquet(table)
    val delta = Seq((2L, null.asInstanceOf[String], 2.0)).toDF("id", "part", "v")
    val e = intercept[IllegalArgumentException] {
      Dims.partitionScopedMerge(spark, table, delta, "id", "part")
    }
    assert(e.getMessage.contains("NULL"))
  }

  // -------------------------------------------------------------- sampling

  test("weightedKey is NULL for weight < 1 (no descending-sequence draws)") {
    val ks = Seq((7L, 0), (8L, -1)).toDF("id", "w")
      .select(Sampling.weightedKey(col("id"), col("w")).as("k"))
      .collect().map(r => Option(r.getString(0)))
    assert(ks.forall(_.isEmpty))
  }

  test("weightedKey is exactly max of w md5 draws") {
    val k = Seq((7L, 3)).toDF("id", "w")
      .select(Sampling.weightedKey(col("id"), col("w")).as("k"))
      .head.getString(0)
    assert(k === (1 to 3).map(j => md5hex(s"$j|7")).max)
  }

  test("weighted sampling selects high-weight rows ~proportionally more") {
    val df = spark.range(1000).toDF("id")
      .withColumn("w", when(col("id") < 500, 4).otherwise(1))
      .withColumn("k", Sampling.weightedKey(col("id"), col("w")))
    val top = df.orderBy(col("k").desc).limit(200)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // E-S with weights 4:1 → expected ~4:1 selection ratio; assert a
    // loose margin so the test is hash-deterministic, not statistical
    assert(top(4) > 2 * top.getOrElse(1, 0L))
  }

  // -------------------------------------------------------------- chunking

  test("chunkDocuments covers every token, with stride overlap and exact hashes") {
    val toks = (1 to 70).map(i => s"t$i")
    val dir = writeDocs(Seq((0L, toks.mkString(" "))))
    val rows = TextAnalysis.chunkDocuments(spark, dir)
      .select(col("chunk_no"), col("start"), col("chunk_len"), col("chunk_hash"))
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((0L, 1L, 32L), (1L, 25L, 32L), (2L, 49L, 22L)))
    // full coverage: the last chunk reaches token 70
    assert(rows.map(r => r._2 + r._3 - 1).max === 70L)
    // content check: chunk 1 is tokens 25..56
    assert(rows(1)._4 === md5hex(toks.slice(24, 56).mkString(" ")))
  }

  // -------------------------------------------------------------- pii scrub

  test("piiScrub counts injected + pre-existing PII and changes the text") {
    val dir = writeDocs(Seq(
      (1L, "plain words only here"),
      (2L, "contact bob@corp.io or 192.168.0.1 today")))
    val out = TextAnalysis.piiScrub(spark, dir)
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // every doc gets one injected email/ip/phone; doc 2 carries its own
    assert(out(0) === ((1L, 1L, 1L, 1L)))
    assert(out(1) === ((2L, 2L, 2L, 1L)))
  }

  // ------------------------------------------------------------ repetition

  test("repetitionStats flags degenerate repetition, passes diverse text") {
    val dir = writeDocs(Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "one two three four five six")))
    val out = TextAnalysis.repetitionStats(spark, dir)
      .select(col("doc_id"), col("uniq_tokens"), col("rep_bigrams"), col("flagged"))
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(out(0)._2 === 1L)
    assert(out(0)._3 === 0.8) // 1 distinct of 5 bigrams
    assert(out(0)._4 === 1L)
    assert(out(1)._3 === 0.0)
    assert(out(1)._4 === 0L)
  }

  // ---------------------------------------------------------- quantization

  test("quantizeInt8 codes are exact on a known vector") {
    val dir = SparkSpec.tempDir("graft_r3emb").toString
    Seq((0L, Seq(0.0f, 1.0f, 0.5f, 0.25f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = Vectors.quantizeInt8(spark, dir).head
    assert(r.getAs[Long]("q0") === 0L)    // floor(0*255 + .5)
    assert(r.getAs[Long]("q1") === 255L)  // floor(1*255 + .5)
    assert(r.getAs[Long]("q_sum") === 0L + 255L + 128L + 64L)
    assert(r.getAs[Long]("q_max") === 255L)
  }

  // -------------------------------------------------------------- bloom

  test("bloomContamination has no false negatives vs the exact check") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val dir = writeDocs(Seq(
      (0L, base),                               // eval doc (0 % 50 == 0)
      (1L, base + " with a tail"),              // shares shingles with eval
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, base.toUpperCase)))                  // shares after normalize
    val exact = Dedup.contaminationCheck(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    val bloom = Dedup.bloomContamination(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(exact.nonEmpty)
    assert(exact.subsetOf(bloom),
      s"bloom candidates $bloom must cover all exact hits $exact")
  }

  // ---------------------------------------------------------- capped LSH

  test("minhashLshCapped drops hot-bucket pairs, keeps normal near-dups") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val clones = (100L until 160L).map(i => (i, "identical boilerplate text repeated across the whole corpus shard"))
    val dir = writeDocs(Seq(
      (0L, base),
      (1L, base + "!!"),  // exact dup after normalization → jaccard 1.0
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")) ++ clones)
    val capped = Dedup.minhashLshCapped(spark, dir)
      .select(col("da"), col("db")).as[(Long, Long)].collect().toSet
    // the 60-clone cluster's band buckets exceed the cap → no pair explosion
    assert(!capped.exists(_._1 >= 100L), s"hot cluster must be capped, got $capped")
    // the small near-dup pair survives
    assert(capped.contains((0L, 1L)))
    // the uncapped path would generate the full 60-choose-2 clone pairs
    val uncapped = Dedup.minhashLsh(spark, dir).count()
    assert(uncapped >= 1770L)
  }

  // ---------------------------------------------------- incremental ingest

  test("incrementalIngest drops historical + within-batch duplicates, keeps novel") {
    // historical side = doc_id % 10 < 8 → ids 0..7; batch = ids 8, 9, 18, 19
    val dir = writeDocs(Seq(
      (0L, "already ingested content one"),
      (1L, "already ingested content two"),
      (8L, "already ingested content one"),   // dup of historical 0 → dropped
      (9L, "genuinely new content"),          // novel → kept
      (18L, "genuinely new content"),         // within-batch dup of 9 → dropped
      (19L, "another new document entirely"))) // novel → kept
    val out = Dedup.incrementalIngest(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(out === Set(9L, 19L))
    // the bloom pre-filter is an exact rewrite: identical output to a
    // plain left_anti against the historical fingerprints, then the
    // within-batch min
    val f = sources.Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), md5(functions.TextFunctions.normalizeText(col("text"))).as("fp"))
    val hist = f.filter(col("doc_id") % 10 < 8).select(col("fp")).distinct()
    val plain = f.filter(col("doc_id") % 10 >= 8)
      .join(hist, Seq("fp"), "left_anti")
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(plain === out)
  }

  test("packChunks packs overlapping chunks into sequences in global order") {
    val dir = writeDocs(Seq(
      (0L, (1 to 70).map(i => s"a$i").mkString(" ")),   // chunks 32, 32, 22
      (1L, (1 to 30).map(i => s"b$i").mkString(" "))))  // chunks 30, 6
    val rows = operators.Packing.packChunks(spark, dir, budget = 64L)
      .select(col("doc_id"), col("chunk_no"), col("chunk_len"),
        col("seq_id"), col("offset_in_seq"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // running offsets 0,32,64,86,116 over budget 64
    assert(rows.toSeq === Seq(
      (0L, 0L, 32L, 0L, 0L),
      (0L, 1L, 32L, 0L, 32L),
      (0L, 2L, 22L, 1L, 0L),
      (1L, 0L, 30L, 1L, 22L),
      (1L, 1L, 6L, 1L, 52L)))
  }

  // -------------------------------------------------------- length buckets

  test("lengthBuckets bins 80 distinct lengths into 8 contiguous buckets of 10") {
    val dir = writeDocs((1L to 80L).map(i =>
      (i, (1L to i).map(t => s"w$t").mkString(" "))))
    val rows = TextAnalysis.lengthBuckets(spark, dir)
      .select(col("bucket"), col("n_docs"), col("min_toks"), col("max_toks"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length === 8)
    assert(rows.forall(_._2 === 10L))
    // contiguous, non-overlapping ranges covering 1..80
    assert(rows.head._3 === 1L && rows.last._4 === 80L)
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._3 === lo._4 + 1, s"bucket ${hi._1} must start after ${lo._1}")
    }
  }

  // -------------------------------------------------------------- mixture

  test("mixturePlan equalizes token budgets with exact kept counts") {
    // source a: ~10x the tokens of source b → a is rate-limited, b kept whole
    val docs = (0L until 100L).map(i => (i, Seq.fill(40)("tok").mkString(" "), "a")) ++
      (100L until 110L).map(i => (i, Seq.fill(40)("tok").mkString(" "), "b"))
    val dir = SparkSpec.tempDir("graft_mix").toString
    docs.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.Sampling.mixturePlan(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("rate16"), r.getAs[Long]("kept_docs"))).toMap
    assert(out("b") === ((400L, 16L, 10L)))       // smallest source kept whole
    assert(out("a")._1 === 4000L)
    assert(out("a")._2 === 1L)                    // (400*16) div 4000 = 1 sixteenth
    // exact membership: docs whose first md5 hex digit of doc_id is 0
    val expectKeptA = (0L until 100L).count(i => Integer.parseInt(
      md5hex(i.toString).substring(0, 1), 16) < 1)
    assert(out("a")._3 === expectKeptA.toLong)
  }

  // ------------------------------------------------------------- AQE skew

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      // fact: 400k rows, 300k on key 0 — one hot shuffle partition; the
      // md5 payload keeps the hot blocks incompressible so the skew
      // detector sees real bytes, not a run-length-compressed zero column
      val fact = spark.range(400000L)
        .select(when(col("id") < 300000L, 0L).otherwise(col("id")).as("k"),
          md5(col("id").cast("string")).as("v"))
      val dim = spark.range(0L, 400000L, 1000L).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = fact.join(dim, Seq("k"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("s"), max(col("v")).as("mv"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should mark the hot partition's SMJ as skew-handled:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
