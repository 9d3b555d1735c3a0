package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{DocStreams, EventStreams}
import graft.streaming.EventStreams.Evt

/** Drives the streaming operators through real micro-batches with
  * MemoryStream sources and in-memory sinks. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("watermarked hourly window aggregation over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String, Double)]
    val events = source.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.hourlyCounts(events).writeStream
      .format("memory").queryName("hourly").outputMode("complete").start()
    try {
      source.addData((ts(0), "click", 1.0), (ts(10), "click", 2.5), (ts(70), "view", 4.0))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select(date_format(col("window_start"), "HH:mm").as("h"), col("event_type"), col("n"),
          col("value_sum").cast("string"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
      // base ts 1700000000000 = 2023-11-14 22:13:20 UTC
      assert(rows === Set(("22:00", "click", 2L, "3.50"), ("23:00", "view", 1L, "4.00")))
    } finally q.stop()
  }

  test("windowed HLL sketch in a stream equals the batch registers over the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String, Long)]
    val events = source.toDF().toDF("ts", "event_type", "user_id")
    val q = EventStreams.hourlyDistinctSketch(events).writeStream
      .format("memory").queryName("hll_stream").outputMode("complete").start()
    try {
      // two micro-batches; duplicate users within and ACROSS batches
      // must collapse in the register merge, not in any per-user state
      source.addData((ts(0), "click", 1L), (ts(5), "click", 2L), (ts(10), "click", 1L),
        (ts(70), "view", 9L))
      q.processAllAvailable()
      source.addData((ts(20), "click", 2L), (ts(25), "click", 3L), (ts(75), "view", 9L))
      q.processAllAvailable()
      val streamed = spark.table("hll_stream")
        .select(date_format(col("window_start"), "HH:mm").as("h"),
          col("event_type"), col("regs"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getSeq[Int](2)).toMap
      // batch recompute over the identical rows
      val batch = Seq(
        ("22:00", "click", Seq(1L, 2L, 1L, 2L, 3L)),
        ("23:00", "view", Seq(9L, 9L)))
      batch.foreach { case (h, et, users) =>
        val regs = users.toDF("u")
          .agg(call_function("hll_registers", col("u").cast("string")))
          .collect().head.getSeq[Int](0)
        assert(streamed((h, et)) === regs,
          s"stream/batch register mismatch for ($h, $et)")
      }
      // distinct estimates come out of the streamed registers directly
      val est = graft.plans.HllRegisters.estimate(streamed(("22:00", "click")))
      assert(math.abs(est - 3.0) < 1.5, s"estimate off for 3 distincts: $est")
    } finally q.stop()
  }

  test("gap sessionization with keyed state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Evt]
    val sessions = EventStreams.sessionize(spark, source.toDS(), gapMs = 5 * 60000L)
    val q = sessions.writeStream
      .format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 1: two events 2min apart (one session), then a 30min gap
      // then one more (second session opens; first closes on gap)
      source.addData(Evt(1L, ts(0), "click", 1.0), Evt(1L, ts(2), "view", 2.0))
      q.processAllAvailable()
      source.addData(Evt(1L, ts(32), "click", 7.0))
      q.processAllAvailable()
      val closed = spark.table("sessions").as[EventStreams.Session].collect()
      assert(closed.length === 1)
      assert(closed.head.user_id === 1L)
      assert(closed.head.n_events === 2)
      assert(closed.head.value_sum === 3.0)
      assert(closed.head.session_start === ts(0) && closed.head.session_end === ts(2))
    } finally q.stop()
  }

  test("flushTrailing emits each user's final open session on bounded input") {
    val evts = Seq(
      Evt(1L, ts(0), "click", 1.0), Evt(1L, ts(2), "view", 2.0),
      Evt(1L, ts(30), "click", 5.0), // second session after 28min gap
      Evt(2L, ts(1), "view", 9.0)).toDS()
    val sessions = EventStreams.sessionize(spark, evts, gapMs = 5 * 60000L, flushTrailing = true)
      .collect().map(s => (s.user_id, s.n_events, s.value_sum)).toSet
    assert(sessions === Set((1L, 2, 3.0), (1L, 1, 5.0), (2L, 1, 9.0)))
  }

  test("file-sink round trip: stop + restart from checkpoint is exactly-once") {
    import org.apache.spark.sql.types._
    val root = SparkSpec.tempDir("graft_stream").toString
    val (in, out, cp) = (s"$root/in", s"$root/out", s"$root/cp")
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def addBatch(rows: (Timestamp, String, Double)*): Unit =
      rows.toSeq.toDF("ts", "event_type", "value")
        .write.mode("append").parquet(in)
    def startQuery() = EventStreams.hourlyCounts(
        spark.readStream.schema(schema).parquet(in))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append").start()

    addBatch((ts(0), "click", 1.0), (ts(10), "click", 2.5), (ts(70), "view", 4.0))
    val q1 = startQuery()
    // second file pushes the watermark past the first two windows
    addBatch((ts(300), "click", 1.0))
    q1.processAllAvailable()
    q1.stop() // simulate shutdown mid-stream

    // restart from the same checkpoint; new file finalizes ts(300)'s window
    addBatch((ts(600), "view", 2.0))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val result = spark.read.parquet(out)
      .select(date_format(col("window_start"), "HH:mm").as("h"), col("event_type"),
        col("n"), col("value_sum").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    // exactly-once: no (window, type) key appears twice across the restart
    assert(result.length === result.map(r => (r._1, r._2)).distinct.length,
      s"duplicate windows after restart: ${result.mkString(", ")}")
    val byKey = result.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(byKey(("22:00", "click")) === (2L, "3.50"))
    assert(byKey(("23:00", "view")) === (1L, "4.00"))
    assert(byKey(("03:00", "click")) === (1L, "1.00")) // finalized after restart
    assert(!byKey.contains(("08:00", "view"))) // still behind the watermark
  }

  test("late cross-batch event extends the open session backwards, no false split") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Evt]
    val sessions = EventStreams.sessionize(spark, source.toDS(), gapMs = 5 * 60000L)
    val q = sessions.writeStream
      .format("memory").queryName("late_sessions").outputMode("append").start()
    try {
      source.addData(Evt(9L, ts(10), "click", 1.0))
      q.processAllAvailable()
      // late event 2min earlier, then an in-order event 4min after the
      // first — all within one continuous session; a naive last-update
      // would regress to ts(8) and falsely split at ts(14)
      source.addData(Evt(9L, ts(8), "view", 1.0), Evt(9L, ts(14), "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("late_sessions").count() === 0) // nothing closed
    } finally q.stop()
  }

  test("native session_window merges in-gap events and closes sessions at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, Long, Double)]
    val events = source.toDF().toDF("ts", "user_id", "value")
    val q = EventStreams.sessionWindowCounts(events, gap = "5 minutes",
        watermark = "10 minutes").writeStream
      .format("memory").queryName("swin").outputMode("append").start()
    try {
      // user 1: events at 0 and 2 min (one session), then 30 min later
      // another (second session); advance the watermark far enough to
      // close both
      source.addData((ts(0), 1L, 1.0), (ts(2), 1L, 2.0), (ts(32), 1L, 7.0))
      q.processAllAvailable()
      source.addData((ts(120), 2L, 9.0))
      q.processAllAvailable()
      val rows = spark.table("swin")
        .select(col("user_id"), col("n_events"), col("value_sum").cast("double"),
          col("session_start"), col("session_end"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getTimestamp(3), r.getTimestamp(4))).toSet
      // session end = last event + gap (native session_window semantics)
      assert(rows === Set(
        (1L, 2L, 3.0, ts(0), new Timestamp(ts(2).getTime + 5 * 60000L)),
        (1L, 1L, 7.0, ts(32), new Timestamp(ts(32).getTime + 5 * 60000L))))
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with in-window views across batches") {
    implicit val sqlCtx = spark.sqlContext
    val clickSrc = MemoryStream[(Long, Timestamp, Long)]
    val viewSrc = MemoryStream[(Long, Timestamp, Long)]
    val clicks = clickSrc.toDF().toDF("event_id", "ts", "user_id")
    val views = viewSrc.toDF().toDF("event_id", "ts", "user_id")
    val q = EventStreams.clickViewJoin(clicks, views).writeStream
      .format("memory").queryName("ssjoin").outputMode("append").start()
    try {
      // views arrive first (buffered in join state), clicks in a LATER
      // micro-batch — the join must pair across batches
      viewSrc.addData((100L, ts(0), 1L), (101L, ts(20), 1L), (102L, ts(5), 2L))
      q.processAllAvailable()
      clickSrc.addData((200L, ts(25), 1L), (201L, ts(40), 2L))
      q.processAllAvailable()
      val rows = spark.table("ssjoin")
        .select(col("user_id"), col("click_id"), col("view_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // user 1's click@25 pairs with its views @0 and @20 (both within
      // the 30-min lookback); user 2's click@40 vs view@5 is a 35-min
      // gap — outside the window, no pair
      assert(rows === Set((1L, 200L, 100L), (1L, 200L, 101L)))
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched clicks after watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    val clickSrc = MemoryStream[(Long, Timestamp, Long)]
    val viewSrc = MemoryStream[(Long, Timestamp, Long)]
    val clicks = clickSrc.toDF().toDF("event_id", "ts", "user_id")
    val views = viewSrc.toDF().toDF("event_id", "ts", "user_id")
    val q = EventStreams.clickViewJoin(clicks, views,
        joinType = "left_outer").writeStream
      .format("memory").queryName("ssleft").outputMode("append").start()
    try {
      // user 1's click has a matching view; user 3's click has none
      viewSrc.addData((100L, ts(10), 1L))
      clickSrc.addData((200L, ts(20), 1L), (201L, ts(20), 3L))
      q.processAllAvailable()
      // push both watermarks far past the click's match window so the
      // unmatched click's state expires and the NULL row emits
      viewSrc.addData((101L, ts(600), 9L))
      clickSrc.addData((202L, ts(600), 9L))
      q.processAllAvailable()
      val rows = spark.table("ssleft")
        .select(col("user_id"), col("click_id"), col("view_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(rows.contains((1L, 200L, 100L)))
      assert(rows.contains((3L, 201L, -1L)), s"unmatched click missing: $rows")
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the broadcast dim") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String, Double)]
    val events = source.toDF().toDF("ts", "event_type", "value")
    val dim = Seq(("click", "engagement"), ("view", "impression"))
      .toDF("event_type", "category")
    val q = EventStreams.enrichWithDim(events, dim, "event_type").writeStream
      .format("memory").queryName("enriched").outputMode("append").start()
    try {
      source.addData((ts(0), "click", 1.0), (ts(1), "view", 2.0), (ts(2), "purchase", 9.0))
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .select(col("event_type"), col("category"))
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(rows === Set(
        ("click", Some("engagement")),
        ("view", Some("impression")),
        ("purchase", None))) // left join: unmatched stream rows survive
    } finally q.stop()
  }

  test("stream dedup suppresses within-watermark duplicate event_ids across batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp, String)]
    val events = source.toDF().toDF("event_id", "ts", "event_type")
    val q = EventStreams.dedupStream(events).writeStream
      .format("memory").queryName("deduped").outputMode("append").start()
    try {
      source.addData((1L, ts(0), "click"), (1L, ts(0), "click"), (2L, ts(1), "view"))
      q.processAllAvailable()
      // same id replayed in a LATER micro-batch, still within watermark
      source.addData((1L, ts(2), "click"), (3L, ts(3), "click"))
      q.processAllAvailable()
      val ids = spark.table("deduped").select(col("event_id"))
        .collect().map(_.getLong(0)).sorted
      assert(ids === Array(1L, 2L, 3L)) // each id exactly once
    } finally q.stop()
  }

  test("sliding windows count each event into length/slide overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String, Double)]
    val events = source.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.slidingCounts(events).writeStream
      .format("memory").queryName("sliding").outputMode("complete").start()
    try {
      source.addData((ts(5), "click", 1.0)) // one event → two 1h/30m windows
      q.processAllAvailable()
      val rows = spark.table("sliding")
        .select(date_format(col("window_start"), "HH:mm"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      // base ts 22:13:20 UTC + 5min = 22:18 → windows [21:30,22:30) and [22:00,23:00)
      assert(rows === Set(("21:30", 1L), ("22:00", 1L)))
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds per-batch rows under a file burst; totals unchanged") {
    import org.apache.spark.sql.types._
    val root = SparkSpec.tempDir("graft_bp").toString
    val in = s"$root/in"
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    // burst: 6 files land at once, one row each
    (0 until 6).foreach { i =>
      Seq((ts(i), "click", i.toDouble)).toDF("ts", "event_type", "value")
        .repartition(1).write.mode("append").parquet(in)
    }
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = EventStreams.fileSource(spark, in, schema, maxFilesPerTrigger = 2)
      .writeStream
      .option("checkpointLocation", s"$root/cp")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.add(batch.count()); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val sizes = batchSizes.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    // the burst drained in ≥3 bounded slices, never more than 2 files'
    // rows per micro-batch, and nothing was dropped
    assert(sizes.sum === 6L, s"rows lost or duplicated: $sizes")
    assert(sizes.forall(_ <= 2L), s"a batch exceeded the rate limit: $sizes")
    assert(sizes.count(_ > 0) >= 3, s"burst not sliced: $sizes")
  }

  test("AvailableNow backfill drains a rate-limited backlog to completion, then terminates") {
    import org.apache.spark.sql.types._
    val root = SparkSpec.tempDir("graft_an").toString
    val in = s"$root/in"
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    (0 until 5).foreach { i =>
      Seq((ts(i), "click", i.toDouble)).toDF("ts", "event_type", "value")
        .repartition(1).write.mode("append").parquet(in)
    }
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    EventStreams.runAvailableNow(
      EventStreams.fileSource(spark, in, schema, maxFilesPerTrigger = 2)
        .writeStream
        .option("checkpointLocation", s"$root/cp")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batchSizes.add(batch.count()); ()
        })
    val sizes = batchSizes.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    // terminated on its own with the whole backlog drained, still in
    // rate-limited slices — and a SECOND run from the same checkpoint
    // reprocesses nothing (shared exactly-once history)
    assert(sizes.sum === 5L, s"backlog not fully drained: $sizes")
    assert(sizes.forall(_ <= 2L), s"rate limit exceeded: $sizes")
    batchSizes.clear()
    EventStreams.runAvailableNow(
      EventStreams.fileSource(spark, in, schema, maxFilesPerTrigger = 2)
        .writeStream
        .option("checkpointLocation", s"$root/cp")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batchSizes.add(batch.count()); ()
        })
    val second = batchSizes.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    assert(second.sum === 0L, s"checkpoint replayed data: $second")
  }

  test("snapshot merge sink: every micro-batch is a reader-atomic version; external commits survive; replay converges") {
    import graft.sources.Snapshots
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.tempDir("graft_snapsink").toString
    val table = s"$dir/t"
    val source = MemoryStream[(Long, String, Double)]
    val events = source.toDF().toDF("id", "part", "v")
    val q = EventStreams.snapshotMergeSink(events, table, "id", "part")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      source.addData((1L, "A", 1.0), (2L, "B", 2.0))
      q.processAllAvailable()
      // batch 1 committed one complete version
      assert(Snapshots.currentVersion(spark, table) === Some("v00000001"))
      val pinned = Snapshots.currentVersion(spark, table).get
      // an EXTERNAL batch writer lands between micro-batches — the
      // stream's next merge must build on it, not lose it
      Snapshots.commitMerge(spark, table,
        Seq((9L, "C", 9.0)).toDF("id", "part", "v"), "id", "part")
      source.addData((1L, "A", 10.0), (3L, "A", 3.0))
      q.processAllAvailable()
      val live = Snapshots.read(spark, table)
        .select(col("id"), col("part"), col("v"))
        .as[(Long, String, Double)].collect().toSet
      assert(live === Set(
        (1L, "A", 10.0), (2L, "B", 2.0), (3L, "A", 3.0), (9L, "C", 9.0)))
      // the reader pinned before the external commit still reads its
      // complete version — never a partial state
      assert(Snapshots.readVersion(spark, table, pinned)
        .select(col("id"), col("part"), col("v"))
        .as[(Long, String, Double)].collect().toSet
        === Set((1L, "A", 1.0), (2L, "B", 2.0)))
    } finally q.stop()
    // replaying a batch into a fresh checkpoint converges (idempotent
    // delta-wins merge), adding a version but not duplicate keys
    val source2 = MemoryStream[(Long, String, Double)]
    val events2 = source2.toDF().toDF("id", "part", "v")
    val q2 = EventStreams.snapshotMergeSink(events2, table, "id", "part")
      .option("checkpointLocation", s"$dir/ckpt2").start()
    try {
      source2.addData((1L, "A", 10.0), (3L, "A", 3.0))
      q2.processAllAvailable()
      val got = Snapshots.read(spark, table)
        .select(col("id"), col("part"), col("v"))
        .as[(Long, String, Double)].collect().toSet
      assert(got === Set(
        (1L, "A", 10.0), (2L, "B", 2.0), (3L, "A", 3.0), (9L, "C", 9.0)))
      assert(Snapshots.read(spark, table).groupBy("id").count()
        .filter(col("count") > 1).count() === 0)
    } finally q2.stop()
  }

  test("two snapshot merge sinks on one table: CAS serializes them, no batch is lost") {
    import graft.sources.Snapshots
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.tempDir("graft_snapsink2").toString
    val table = s"$dir/t"
    val srcA = MemoryStream[(Long, String, Double)]
    val srcB = MemoryStream[(Long, String, Double)]
    val qA = EventStreams.snapshotMergeSink(srcA.toDF().toDF("id", "part", "v"),
      table, "id", "part").option("checkpointLocation", s"$dir/ckptA").start()
    val qB = EventStreams.snapshotMergeSink(srcB.toDF().toDF("id", "part", "v"),
      table, "id", "part").option("checkpointLocation", s"$dir/ckptB").start()
    try {
      // interleaved batches from both writers, overlapping partitions;
      // bootstrap and follow-up commits race on the CAS claim — a
      // loser retries against the winner's snapshot, so every batch's
      // rows must survive into the live table
      srcA.addData((1L, "A", 1.0)); srcB.addData((2L, "A", 2.0))
      qA.processAllAvailable(); qB.processAllAvailable()
      srcA.addData((3L, "B", 3.0)); srcB.addData((4L, "B", 4.0))
      qA.processAllAvailable(); qB.processAllAvailable()
      val live = Snapshots.read(spark, table)
        .select(col("id"), col("part"), col("v"))
        .as[(Long, String, Double)].collect().toSet
      assert(live === Set((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 3.0), (4L, "B", 4.0)))
      // versions are linear: one per successful commit, no gaps
      val versions = Snapshots.listVersions(spark, table)
      assert(versions === versions.indices.map(i => f"v${i + 1}%08d"))
    } finally { qA.stop(); qB.stop() }
  }

  test("foreachBatch merge sink upserts micro-batches partition-scoped, replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.tempDir("graft_msink").toString
    val table = s"$dir/t"
    val source = MemoryStream[(Long, String, Double)]
    val events = source.toDF().toDF("id", "part", "v")
    def start() = EventStreams.mergeSink(events, table, "id", "part")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q = start()
    try {
      source.addData((1L, "A", 1.0), (2L, "B", 2.0))
      q.processAllAvailable()
      source.addData((1L, "A", 10.0), (3L, "A", 3.0)) // update id 1, insert id 3
      q.processAllAvailable()
      val got = spark.read.parquet(table)
        .select(col("id"), col("part"), col("v"))
        .as[(Long, String, Double)].collect().toSet
      assert(got === Set((1L, "A", 10.0), (2L, "B", 2.0), (3L, "A", 3.0)))
    } finally q.stop()
    // replaying the same data into a fresh checkpoint converges to the
    // same table (merge idempotence — the exactly-once-per-key story)
    val source2 = MemoryStream[(Long, String, Double)]
    val events2 = source2.toDF().toDF("id", "part", "v")
    val q2 = EventStreams.mergeSink(events2, table, "id", "part")
      .option("checkpointLocation", s"$dir/ckpt2").start()
    try {
      source2.addData((1L, "A", 10.0), (3L, "A", 3.0))
      q2.processAllAvailable()
      val got = spark.read.parquet(table)
        .select(col("id"), col("part"), col("v"))
        .as[(Long, String, Double)].collect().toSet
      assert(got === Set((1L, "A", 10.0), (2L, "B", 2.0), (3L, "A", 3.0)))
    } finally q2.stop()
  }

  test("merge sink: a first batch with a NULL partition value fails the query loudly") {
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.tempDir("graft_msink_null").toString
    val table = s"$dir/t"
    val source = MemoryStream[(Long, Option[String], Double)]
    val events = source.toDF().toDF("id", "part", "v")
    val q = EventStreams.mergeSink(events, table, "id", "part")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      source.addData((1L, Some("A"), 1.0), (2L, None, 2.0))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("NULL or empty part")), e)
      assert(!new java.io.File(table).exists(), "the failed batch wrote a table")
    } finally q.stop()
  }

  test("trending top-k sink emits finalized windows once, overwrite-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.tempDir("graft_trend").toString
    val source = MemoryStream[(Timestamp, String, Double)]
    val events = source.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.trendingTopKSink(events, s"$dir/out", k = 2)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      // window [22:00, 23:00): click ×3, view ×2, error ×1 → top2 click, view
      source.addData(
        (ts(0), "click", 1.0), (ts(1), "click", 1.0), (ts(2), "click", 1.0),
        (ts(3), "view", 1.0), (ts(4), "view", 1.0), (ts(5), "error", 1.0))
      q.processAllAvailable()
      // nothing finalized yet — the watermark has not passed the window
      assert(!new java.io.File(s"$dir/out").exists() ||
        spark.read.parquet(s"$dir/out").count() === 0)
      // an event far past the window advances the watermark → finalize
      source.addData((ts(200), "click", 1.0))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/out")
        .select(col("event_type"), col("n")).as[(String, Long)].collect().toSet
      assert(got === Set(("click", 3L), ("view", 2L)))
    } finally q.stop()
    // a fresh checkpoint replaying the same batches overwrites the same
    // window partition — no duplicate rows accumulate
    val source2 = MemoryStream[(Timestamp, String, Double)]
    val events2 = source2.toDF().toDF("ts", "event_type", "value")
    val q2 = EventStreams.trendingTopKSink(events2.toDF(), s"$dir/out", k = 2)
      .option("checkpointLocation", s"$dir/ckpt2").start()
    try {
      source2.addData(
        (ts(0), "click", 1.0), (ts(1), "click", 1.0), (ts(2), "click", 1.0),
        (ts(3), "view", 1.0), (ts(4), "view", 1.0), (ts(5), "error", 1.0))
      q2.processAllAvailable()
      source2.addData((ts(200), "click", 1.0))
      q2.processAllAvailable()
      val got = spark.read.parquet(s"$dir/out")
        .select(col("event_type"), col("n")).as[(String, Long)].collect().toSet
      assert(got === Set(("click", 3L), ("view", 2L)))
    } finally q2.stop()
  }

  test("snapshot enrichment re-resolves the dimension per batch; each row records its version") {
    val root = SparkSpec.tempDir("graft_senrich").toString
    val dimDir = s"$root/dim"
    graft.sources.Snapshots.commitOverwrite(spark, dimDir,
      Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment"))
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, Double)]
    val events = source.toDF().toDF("event_id", "user_id", "value")
    val q = EventStreams.snapshotEnrichSink(events, dimDir, "user_id", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      source.addData((1L, 1L, 5.0), (2L, 2L, 6.0))
      q.processAllAvailable()
      // dimension advances between batches: user 1 moves to platinum
      graft.sources.Snapshots.commitMerge(spark, dimDir,
        Seq((1L, "platinum")).toDF("user_id", "segment"), "user_id")
      source.addData((3L, 1L, 7.0), (4L, 9L, 8.0)) // 9 = unknown key
      q.processAllAvailable()
      val out = spark.read.parquet(s"$root/out")
        .select(col("event_id"), col("segment"), col("_dim_version"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
      assert(out === Set(
        (1L, Some("gold"), "v00000001"),
        (2L, Some("basic"), "v00000001"),
        (3L, Some("platinum"), "v00000002"), // same key, new version
        (4L, None, "v00000002")))            // left join keeps unknown keys
    } finally q.stop()
  }

  test("streaming EWMA closes a day on its successor and matches the batch operator bit-for-bit") {
    val dir = SparkSpec.tempDir("graft_sewma").toString
    def ev(id: Long, dayMin: Int, ty: String, v: Double) =
      (id, new Timestamp(1700000000000L + dayMin * 1440L * 60000L), 1L, ty, v, "{}")
    // type a: 3 days; type b: 2 days; values exercise cent rounding
    Seq(ev(1, 0, "a", 1.0), ev(2, 0, "a", 0.005), ev(3, 1, "a", 2.0),
        ev(4, 2, "a", 4.0), ev(5, 0, "b", 9.0), ev(6, 2, "b", 3.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Behavioral.ewmaDaily(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // streamed out-of-order ACROSS keys and within a batch; day
    // boundaries split across two micro-batches
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = source.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.ewmaStream(spark, events).writeStream
      .format("memory").queryName("sewma").outputMode("append").start()
    try {
      val rows = spark.read.parquet(s"$dir/events.parquet")
        .as[(Long, Timestamp, Long, String, Double, String)].collect()
      val (b1, b2) = rows.sortBy(_._1).splitAt(3)
      source.addData(b1.reverse: _*); q.processAllAvailable()
      source.addData(b2.reverse: _*); q.processAllAvailable()
      val streamed = spark.table("sewma").as[EventStreams.EwmaDay].collect()
        .map(e => (e.event_type, e.day) -> (e.cents, e.ewma_cents)).toMap
      // every closed day (all but each key's final day) equals the
      // batch row exactly — same cents, same double
      val lastDays = batch.keys.groupBy(_._1).map { case (t, ks) => t -> ks.map(_._2).max }
      val closed = batch.filter { case ((t, d), _) => d != lastDays(t) }
      assert(streamed === closed, s"streamed=$streamed closed=$closed")
      // bounded single-pass with flushTrailing: FULL parity
      val all = EventStreams.ewmaStream(spark,
          spark.read.parquet(s"$dir/events.parquet"), flushTrailing = true)
        .collect().map(e => (e.event_type, e.day) -> (e.cents, e.ewma_cents)).toMap
      assert(all === batch)
    } finally q.stop()
  }

  test("streaming LSH dedup ingest: near-dups of earlier batches are dropped, index converges") {
    import graft.streaming.DocStreams
    implicit val sqlCtx = spark.sqlContext
    val indexDir = SparkSpec.tempDir("graft_lshstream").toString + "/idx"
    val cp = SparkSpec.tempDir("graft_lshstream_cp").toString
    val a = "the quick brown fox jumps over the lazy dog near the river today"
    val b = "completely different second document with its own distinct words entirely"
    val c = "a third body of text unrelated to either of the previous ones"
    val source = MemoryStream[(Long, String)]
    val docs = source.toDF().toDF("doc_id", "text")
    val q = DocStreams.lshDedupIngest(docs, indexDir)
      .option("checkpointLocation", cp).start()
    try {
      source.addData((1L, a), (2L, b))
      q.processAllAvailable()
      val ids1 = graft.sources.Snapshots.read(spark, indexDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids1 === Set(1L, 2L))
      // batch 2: 11 = near-dup of indexed 1 (dropped: earlier ingest
      // wins); 12 = novel; 13 = exact dup of 12 WITHIN the batch
      // (keep-min drops 13)
      source.addData((11L, a + " tail"), (12L, c), (13L, c))
      q.processAllAvailable()
      val ids2 = graft.sources.Snapshots.read(spark, indexDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids2 === Set(1L, 2L, 12L), s"got $ids2")
    } finally q.stop()
    // replaying a batch (crash-recovery path) must not change the
    // index: dedup is deterministic and the commit is a keyed upsert
    import spark.implicits._
    val replay = Seq((11L, a + " tail"), (12L, c), (13L, c)).toDF("doc_id", "text")
    val survivors = DocStreams.ingestBatch(replay, indexDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(12L), "replay: only the already-indexed novel doc survives")
    val ids3 = graft.sources.Snapshots.read(spark, indexDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids3 === Set(1L, 2L, 12L))
  }

  test("forgetting a doc from the dedup index stops it suppressing future near-dups") {
    import graft.streaming.DocStreams
    import graft.sources.Snapshots
    import spark.implicits._
    val indexDir = SparkSpec.tempDir("graft_lshforget").toString + "/idx"
    val a = "some original content that was later subject to an erasure request entirely"
    DocStreams.ingestBatch(Seq((1L, a)).toDF("doc_id", "text"), indexDir)
    // near-dup of the indexed doc is suppressed…
    val before = DocStreams.ingestBatch(Seq((21L, a + " x")).toDF("doc_id", "text"), indexDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(before.isEmpty, "near-dup must be dropped while the original is indexed")
    // …then the original is forgotten (signature physically erased)…
    Snapshots.forget(spark, indexDir, Seq(1L).toDF("doc_id"), "doc_id")
    assert(Snapshots.read(spark, indexDir).count() === 0L)
    // …and the SAME near-dup now ingests: the forgotten doc's
    // influence is gone, not just its row (GDPR semantics end-to-end)
    val after = DocStreams.ingestBatch(Seq((21L, a + " x")).toDF("doc_id", "text"), indexDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after === Set(21L))
    assert(Snapshots.read(spark, indexDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(21L))
  }

  test("streaming corpus fingerprint equals the batch digest after shuffled multi-batch arrival") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 60L).map(i => (i, s"streamed body $i"))
    val source = MemoryStream[(Long, String)]
    val q = DocStreams.fingerprintStream(source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("fpstream")
      .outputMode("complete").start()
    try {
      // arrive shuffled, in three uneven micro-batches
      val shuffled = new scala.util.Random(7).shuffle(docs)
      source.addData(shuffled.take(9): _*)
      q.processAllAvailable()
      source.addData(shuffled.slice(9, 40): _*)
      source.addData(shuffled.drop(40): _*)
      q.processAllAvailable()
      val got = spark.table("fpstream").collect().head
      // batch ground truth: the q255 operator over the same docs
      val dir = SparkSpec.tempDir("graft_fps").toString
      docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val want = graft.operators.TextAnalysis.corpusFingerprint(spark, dir)
        .collect().head
      for (c <- Seq("n_docs", "fp_sum", "min_h", "max_h"))
        assert(got.getAs[Any](c) === want.getAs[Any](c), c)
    } finally q.stop()
  }
}
