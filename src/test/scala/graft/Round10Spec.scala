package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Round-10 additions: MJPEG-in-AVI real frame decode. */
class Round10Spec extends SparkSpec {

  test("MJPEG AVI is a valid RIFF container: the probe walker recovers its header") {
    for (id <- 0L to 12L) {
      val bytes = Multimodal.encodeMjpegAvi(id)
      val v = Multimodal.parseAvi(id, bytes)
      assert(v.container === "avi")
      assert(v.n_tracks === 1L)
      assert(v.width === Multimodal.mjpegW(id, 0).toLong)
      assert(v.height === Multimodal.mjpegH(id, 0).toLong)
    }
  }

  test("the lossy codec is bit-exact on the uniform rasters: EVERY decoded pixel equals g") {
    // the load-bearing claim behind q260's arithmetic gate: a uniform
    // gray raster's DCT is DC-only, the level-shifted DC is an exact
    // multiple of the DC quantization step, and neutral chroma
    // round-trips R=G=B — so the JPEG writer+reader is exact here
    for (id <- 0L to 20L) {
      val frames = Multimodal.aviVideoChunks(id, Multimodal.encodeMjpegAvi(id))
      assert(frames.length === Multimodal.mjpegFrameCount(id))
      frames.zipWithIndex.foreach { case (jb, f) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jb))
        assert(img.getWidth === Multimodal.mjpegW(id, f))
        assert(img.getHeight === Multimodal.mjpegH(id, f))
        val g = Multimodal.mjpegGray(id, f)
        val px = img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)
        px.foreach { p =>
          assert(((p >> 16) & 0xff) === g, s"id=$id f=$f R")
          assert(((p >> 8) & 0xff) === g, s"id=$id f=$f G")
          assert((p & 0xff) === g, s"id=$id f=$f B")
        }
      }
    }
  }

  test("odd-length JPEG chunks are word-padded and the walker skips the pad byte") {
    // at least one id in a small range must produce an odd JPEG (JPEG
    // lengths are effectively arbitrary); all ids must walk cleanly
    // regardless — a walker that forgets the pad byte desynchronizes
    // on the first odd chunk and misses every later frame
    var sawOdd = false
    for (id <- 0L to 40L) {
      val frames = Multimodal.aviVideoChunks(id, Multimodal.encodeMjpegAvi(id))
      assert(frames.length === Multimodal.mjpegFrameCount(id))
      if (frames.exists(_.length % 2 == 1)) sawOdd = true
    }
    assert(sawOdd, "fixture never produced an odd-length JPEG — pad path untested")
  }

  test("aviVideoChunks rejects non-AVI bytes loudly") {
    intercept[IllegalArgumentException] {
      Multimodal.aviVideoChunks(7L, Array[Byte](1, 2, 3, 4))
    }
    intercept[IllegalArgumentException] {
      // a RIFF that is not an AVI (WAVE) must not be walked as one
      Multimodal.aviVideoChunks(7L, Multimodal.encodeWav(7L))
    }
  }

  test("signature-index maintenance: compaction collapses the commit chain, shrinks bytes, and changes no dedup decision") {
    import graft.streaming.DocStreams
    import graft.sources.Snapshots
    import spark.implicits._
    val root = SparkSpec.tempDir("graft_lshmaint").toString
    val indexDir = root + "/idx"
    def dirSize(p: String): Long = {
      val base = java.nio.file.Paths.get(p)
      val s = java.nio.file.Files.walk(base)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    def dataDirs(): Int = new java.io.File(indexDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("d-"))
    // 6 micro-batches of novel docs -> 6 commits, 6 data dirs.
    // Vocabularies are fully disjoint per batch (every token suffixed
    // by the batch number) so no batch is a near-dup of an earlier one
    val texts = (0 until 6).map { b =>
      (100L + b, (0 until 12).map(w => s"w${w}b$b").mkString(" "))
    }
    texts.foreach { case (id, t) =>
      DocStreams.ingestBatch(Seq((id, t)).toDF("doc_id", "text"), indexDir)
    }
    assert(dataDirs() === 6, "each upsert commit leaves one data dir")
    val rowsBefore = Snapshots.read(spark, indexDir).collect()
      .map(_.toSeq).toSet
    val bytesBefore = dirSize(indexDir)
    // a near-dup of an indexed doc is dropped BEFORE maintenance…
    val probe = Seq((900L, texts.head._2 + " tail")).toDF("doc_id", "text")
    assert(DocStreams.ingestBatch(probe, indexDir).isEmpty)
    // each upsert consolidates the live set into one fresh dir, so the
    // LIVE manifest is never fragmented — the round-11 gate therefore
    // skips the compact rewrite (it would be pure write amplification)
    // and vacuum alone reclaims the 5 superseded manifests + data dirs
    val vBefore = Snapshots.currentVersion(spark, indexDir).get
    val removed = DocStreams.maintainIndex(spark, indexDir, keep = 1)
    assert(Snapshots.currentVersion(spark, indexDir).get === vBefore,
      "an unfragmented live set must not be rewritten by maintenance")
    assert(removed >= 5, s"expected the chain reclaimed, removed=$removed")
    assert(dataDirs() === 1, "maintenance consolidates to one live data dir")
    assert(dirSize(indexDir) < bytesBefore,
      "the consolidated index must be physically smaller than the chain")
    // …the maintained index is the identical row set…
    assert(Snapshots.read(spark, indexDir).collect().map(_.toSeq).toSet
      === rowsBefore)
    // …and the SAME probe is still dropped: maintenance changed no decision
    assert(DocStreams.ingestBatch(probe, indexDir).isEmpty)
    // erasure through the index-lifecycle surface shrinks the row set,
    // physically removes the signature bytes, and leaves unrelated
    // decisions untouched
    val sig101 = Snapshots.read(spark, indexDir)
      .filter(col("doc_id") === 101L).select("h0")
      .collect().head.getString(0)
    DocStreams.eraseFromIndex(spark, indexDir, Seq(101L).toDF("doc_id"))
    assert(Snapshots.read(spark, indexDir).count() === rowsBefore.size - 1L)
    // byte-level: no file under the index root retains the signature
    // (raw-size compare is meaningless at 6-row parquet scale —
    // footer/dictionary overhead dominates; content absence is the
    // property erasure promises)
    val walker = java.nio.file.Files.walk(java.nio.file.Paths.get(indexDir))
    val lingering = try {
      import scala.jdk.CollectionConverters._
      walker.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .exists { p =>
          new String(java.nio.file.Files.readAllBytes(p), "ISO-8859-1")
            .contains(sig101)
        }
    } finally walker.close()
    assert(!lingering, "erased signature bytes must not linger in any file")
    assert(DocStreams.ingestBatch(probe, indexDir).isEmpty,
      "erasing doc 101 must not change the decision about doc 100's near-dup")
  }

  test("the ingest sink's compaction cadence maintains the index from inside the stream") {
    import graft.streaming.DocStreams
    import graft.sources.Snapshots
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = SparkSpec.tempDir("graft_lshcadence").toString
    val indexDir = root + "/idx"
    val cp = root + "/cp"
    val source = MemoryStream[(Long, String)]
    val docs = source.toDF().toDF("doc_id", "text")
    val q = DocStreams.lshDedupIngest(docs, indexDir, compactEvery = 2)
      .option("checkpointLocation", cp).start()
    try {
      // 4 batches of disjoint-vocabulary novel docs; maintenance fires
      // after batches 1 and 3 (keep=2 retains the pre-compaction
      // version for pinned readers, so the bound is 2 dirs, not 1 —
      // without the cadence this would be 4+ dirs)
      (1L to 4L).foreach { b =>
        source.addData((b, (0 until 12).map(w => s"s${w}x$b").mkString(" ")))
        q.processAllAvailable()
      }
      val dataDirs = new java.io.File(indexDir).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("d-"))
      assert(dataDirs <= 2, s"cadence must bound the chain, saw $dataDirs dirs")
      assert(Snapshots.read(spark, indexDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("mjpegFrames emits one row per (id, frame) with exact sums at sf0.001") {
    val out = Multimodal.mjpegFrames(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    val expected = rows.forall { r =>
      val id = r.getAs[Long]("media_id")
      val f = r.getAs[Long]("frame_idx").toInt
      val (w, h, g) = (Multimodal.mjpegW(id, f), Multimodal.mjpegH(id, f),
        Multimodal.mjpegGray(id, f))
      r.getAs[Long]("width") == w && r.getAs[Long]("height") == h &&
        r.getAs[Long]("gray00") == g &&
        r.getAs[Long]("gray_sum") == g.toLong * w * h &&
        r.getAs[Long]("n_frames") == Multimodal.mjpegFrameCount(id).toLong
    }
    assert(expected)
    val perId = rows.groupBy(_.getAs[Long]("media_id"))
    assert(perId.forall { case (id, rs) =>
      rs.length == Multimodal.mjpegFrameCount(id) })
  }
}
