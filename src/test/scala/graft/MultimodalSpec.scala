package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** The magic-byte-dispatched decode stage: every branch is a REAL
  * JDK parser (imageio for PNG/JPEG, javax.sound for WAV, the RIFF /
  * ISO-BMFF walkers for AVI/MP4); unrecognized payloads are rejected,
  * never fabricated. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("decode dispatches each payload kind by magic to its real parser") {
    val media = Seq(
      (5L, "image", Multimodal.encodePng(5L)),  // 21x17
      (7L, "audio", Multimodal.encodeWav(7L)),  // 20 kHz, 39 frames
      (4L, "video", Multimodal.encodeAvi(4L)),
      (9L, "video", Multimodal.encodeMp4(9L))
    ).toDF("media_id", "kind", "payload")
    val out = Multimodal.decode(spark, media).collect()
      .map(r => r.media_id -> r).toMap
    assert((out(5L).container, out(5L).dim_a, out(5L).dim_b, out(5L).n_units) ===
      (("png", 21L, 17L, 1L)))
    assert(out(5L).first8_hex === "89504e470d0a1a0a")
    assert((out(7L).container, out(7L).dim_a, out(7L).dim_b, out(7L).n_units) ===
      (("wav", 20000L, 1L, 39L)))
    assert((out(4L).container, out(4L).dim_a, out(4L).dim_b, out(4L).n_units) ===
      (("avi", 192L, 152L, 2L)))
    assert((out(9L).container, out(9L).dim_a, out(9L).dim_b, out(9L).n_units) ===
      (("mp4", 356L, 276L, 1L)))
  }

  test("decode rejects unrecognized payloads loudly instead of fabricating metadata") {
    val media = Seq((7L, "audio", "not any known container".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decode(spark, media).collect()
    }
    assert(e.getMessage.contains("unrecognized payload magic") ||
      Option(e.getCause).exists(_.getMessage.contains("unrecognized payload magic")))
  }

  test("mediaFeatures computes features from decoded content (pixel means, last PCM sample, container probe)") {
    val dir = SparkSpec.tempDir("graft_featdocs").toString
    // one id per kind branch: 6->image, 7->audio, 8->avi, 11->mp4
    Seq(6L, 7L, 8L, 11L).map(id => (id, s"doc $id", "en", "src", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Multimodal.mediaFeatures(spark, dir).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("f0"), r.getAs[Long]("f1"), r.getAs[Long]("f2"), r.getAs[Long]("f3"))).toMap
    // image 6: solid fill rgb(6, 42, 78); 22x18 px
    assert(out(6L) === ((6L, 42L, 78L, 22L * 18L)))
    // audio 7: 20 kHz, 39 frames, ramp first (7%127), last (7+38)%127
    assert(out(7L) === ((20000L, 39L, 7L, 45L)))
    // avi 8: 160+0, 120+64? no: 8%16=8 -> 224; 8%9=8 -> 184; tracks 3; dur
    assert(out(8L) === ((224L, 184L, 3L, (20000L + 8 * 1000) * (100 + 8) / 1000)))
    // mp4 11: 320+(11%32)*4=364; 240+(11%18)*4=284; tracks 3; dur 5011
    assert(out(11L) === ((364L, 284L, 3L, 5011L)))
  }

  test("audioDecode round trip matches the arithmetic contract (real javax.sound WAV decode)") {
    val dir = SparkSpec.tempDir("graft_wavdocs").toString
    val ids = Seq(0L, 1L, 3L, 63L, 64L, 127L, 500L)
    ids.map(id => (id, s"doc $id", "en", "src", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Multimodal.audioDecode(spark, dir)
      .select(col("media_id"), col("sample_rate"), col("channels"),
        col("n_frames"), col("first_sample"))
      .as[(Long, Long, Long, Long, Long)].collect()
    rows.foreach { case (id, rate, ch, frames, first) =>
      assert(rate === 8000 + (id % 4) * 4000)
      assert(ch === 1L)
      assert(frames === 32 + id % 64)
      assert(first === id % 127)
    }
  }

  test("imageDecode round trip matches the arithmetic contract for every id shape") {
    val dir = SparkSpec.tempDir("graft_imgdocs").toString
    val ids = Seq(0L, 1L, 31L, 32L, 255L, 256L, 1000L)
    ids.map(id => (id, s"doc $id", "en", "src", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Multimodal.imageDecode(spark, dir)
      .select(col("media_id"), col("width"), col("height"),
        col("r"), col("g"), col("b"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    rows.foreach { case (id, w, h, r, g, b) =>
      assert(w === 16 + id % 32)
      assert(h === 12 + id % 23)
      assert((r, g, b) === (id % 256, (id * 7) % 256, (id * 13) % 256))
    }
  }

  test("AVI container round trip: parse walks the RIFF tree, counts strl tracks") {
    Seq(0L, 2L, 4L, 30L, 88L, 1000L).foreach { id =>
      val out = Multimodal.parseAvi(id, Multimodal.encodeAvi(id))
      assert(out.container === "avi")
      assert(out.n_tracks === 1 + id % 3)
      assert(out.width === 160 + (id % 16) * 8)
      assert(out.height === 120 + (id % 9) * 8)
      assert(out.duration_ms === (20000 + (id % 30) * 1000) * (100 + id % 400) / 1000)
    }
  }

  test("MP4 container round trip: parse walks the box tree, recovers 16.16 dims") {
    Seq(1L, 3L, 5L, 17L, 999L, 10001L).foreach { id =>
      val out = Multimodal.parseMp4(id, Multimodal.encodeMp4(id))
      assert(out.container === "mp4")
      assert(out.n_tracks === 1 + id % 3)
      assert(out.width === 320 + (id % 32) * 4)
      assert(out.height === 240 + (id % 18) * 4)
      assert(out.duration_ms === 5000 + id % 9999)
    }
  }

  test("container parsers reject non-container bytes instead of fabricating metadata") {
    intercept[IllegalArgumentException] {
      Multimodal.parseAvi(1L, "not a riff container at all".getBytes)
    }
    intercept[IllegalArgumentException] {
      Multimodal.parseMp4(2L, Array.fill[Byte](64)(0x41))
    }
  }

  test("videoProbe query: even ids AVI, odd ids MP4, metadata from the structure") {
    val dir = SparkSpec.tempDir("graft_videodocs").toString
    val ids = Seq(0L, 1L, 2L, 3L, 100L, 101L)
    ids.map(id => (id, s"doc $id", "en", "src", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Multimodal.videoProbe(spark, dir)
      .select(col("media_id"), col("container"), col("n_tracks"),
        col("width"), col("height"), col("duration_ms"))
      .as[(Long, String, Long, Long, Long, Long)].collect()
    assert(rows.length === ids.length)
    rows.foreach { case (id, container, n, w, h, d) =>
      assert(container === (if (id % 2 == 0) "avi" else "mp4"))
      assert(n === 1 + id % 3)
      if (id % 2 == 0) {
        assert((w, h) === (160 + (id % 16) * 8, 120 + (id % 9) * 8))
        assert(d === (20000 + (id % 30) * 1000) * (100 + id % 400) / 1000)
      } else {
        assert((w, h) === (320 + (id % 32) * 4, 240 + (id % 18) * 4))
        assert(d === 5000 + id % 9999)
      }
    }
  }
}
