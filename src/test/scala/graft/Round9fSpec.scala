package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.TfRecords

/** Round-9 sixth batch: TFRecord shard source and deterministic image
  * augmentation. */
class Round9fSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------- q251

  test("tfrecord: record/parse round trip; both CRCs detect corruption") {
    val datas = Seq("hello".getBytes("UTF-8"), Array[Byte](),
      Array.tabulate[Byte](1000)(_.toByte))
    val stream = datas.flatMap(TfRecords.record).toArray
    val back = TfRecords.parse(stream)
    assert(back.map(_.toSeq) === datas.map(_.toSeq))
    // flip a DATA byte → data CRC catches it
    val corrupt1 = stream.clone()
    corrupt1(12) = (corrupt1(12) ^ 0x40).toByte
    assertThrows[IllegalArgumentException](TfRecords.parse(corrupt1))
    // flip a LENGTH byte → length CRC catches it (before a bogus read)
    val corrupt2 = stream.clone()
    corrupt2(1) = (corrupt2(1) ^ 0x01).toByte
    assertThrows[IllegalArgumentException](TfRecords.parse(corrupt2))
  }

  test("tfrecord shards: end-to-end write/read equals the planted corpus") {
    val dir = SparkSpec.tempDir("graft_tfrec").toString
    val docs = (0L until 250L).map(i => (i, s"doc number $i body", "en", "s", 10L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = s"$dir/shards"
    val recs = spark.read.parquet(s"$dir/documents.parquet")
      .select(expr(s"doc_id div ${TfRecords.RecordsPerShard}").as("shard"),
        col("doc_id").as("order"),
        encode(concat(col("doc_id").cast("string"), lit("\n"), col("text")),
          "UTF-8").as("data"))
    TfRecords.writeShards(spark, recs, out)
    // 250 docs at 100/shard → 3 shard files
    assert(new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".tfrecord")) === 3)
    val back = TfRecords.roundTripTable(spark, out).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rec_len"), r.getAs[String]("txt_md5"))).toMap
    assert(back.size === 250)
    docs.foreach { case (id, text, _, _, _) =>
      val payload = s"$id\n$text".getBytes("UTF-8")
      assert(back(id)._1 === payload.length.toLong)
      val md = java.security.MessageDigest.getInstance("MD5")
      val md5hex = md.digest(text.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      assert(back(id)._2 === md5hex)
    }
  }

  // ---------------------------------------------------------- q252

  /** Independent gray-formula + aHash recompute under a coordinate
    * substitution — the same ground truth the DuckDB oracle states. */
  private def gray(id: Long, x: Int, y: Int): Int = {
    val g = (id % Multimodal.PHashGroups).toInt
    val flipped = (id / Multimodal.PHashGroups) % 5 == 4
    val k = (y / 4) * 8 + (x / 4)
    val bright = ((k + g * 11) % 64 < 32) ^ (flipped && k == (id % 64).toInt)
    (if (bright) 200 else 4) + ((x * y + g) % 3) +
      (if (x == (id % 32).toInt && y == ((id / 32) % 32).toInt) (id % 3).toInt else 0)
  }

  private def aHashOfGray(px: (Int, Int) => Int): String = {
    val s = new Array[Long](64)
    for (y <- 0 until 32; x <- 0 until 32)
      s((y / 4) * 8 + (x / 4)) += px(x, y)
    val tot = s.sum
    (0 until 16).map { nk =>
      val nib = (0 until 4).map(b =>
        if (s(nk * 4 + b) * 64 > tot) 8 >> b else 0).sum
      "0123456789abcdef".charAt(nib)
    }.mkString
  }

  test("image augment: identity, rot90 and flip hashes all match the substituted-formula recompute") {
    val out = Multimodal.imageAugment(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[String]("ahash") ===
        aHashOfGray((x, y) => gray(id, x, y)), s"identity $id")
      assert(r.getAs[String]("ahash_rot90") ===
        aHashOfGray((x, y) => gray(id, y, 31 - x)), s"rot90 $id")
      assert(r.getAs[String]("ahash_flip") ===
        aHashOfGray((x, y) => gray(id, 31 - x, y)), s"flip $id")
    }
    // the block pattern is orientation-sensitive: augmentation must
    // actually change some hash somewhere
    assert(out.exists(r =>
      r.getAs[String]("ahash") != r.getAs[String]("ahash_rot90")))
  }
}
