package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming surface over the events schema
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is strictly daily batch (schedule "0 7 * * *",
  * dag_datapelangan.py:25) — this module is the streaming extension
  * SURVEY.md §7 plans: the same aggregation shapes as readStream →
  * transform → writeStream with watermarked event-time windows, plus
  * custom session state via flatMapGroupsWithState.
  *
  * Every transform here takes an unbounded DataFrame and also works on
  * a bounded one (batch/streaming unification) — the batch analog is
  * Relational.eventsWindow.
  */
object EventStreams {
  private val D182 = DecimalType(18, 2)

  /** Watermarked tumbling event-time window aggregation: late events
    * beyond 2 hours are dropped; state is bounded by the watermark —
    * the scale-safe default for an unbounded 100 TB/day firehose. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D182)).cast(D182).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_sum"))

  /** Watermarked windowed DISTINCT-USER sketching: the native
    * [[graft.plans.HllRegisters]] aggregate running INSIDE a
    * Structured Streaming window aggregation. A streaming
    * COUNT(DISTINCT) is either unsupported or needs per-user dedup
    * state proportional to cardinality; the HLL registers are a
    * 256-byte max-mergeable buffer per (window × event_type), so the
    * streaming state is bounded by the number of LIVE WINDOWS, never
    * by user cardinality — and because the merge is the same
    * associative register-max the batch path uses, a window's final
    * registers are bit-identical to a batch recompute over the same
    * rows (pinned by StreamingSpec). The emitted registers feed
    * [[graft.plans.HllRegisters.estimate]] or union with other
    * slices' sketches downstream. */
  def hourlyDistinctSketch(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(call_function("hll_registers", col("user_id").cast("string")).as("regs"))
      .select(col("window.start").as("window_start"), col("event_type"), col("regs"))

  /** Watermarked SLIDING event-time windows (length > slide → each
    * event lands in length/slide windows): the trend-detection shape.
    * Same bounded-state story as [[hourlyCounts]] — the watermark
    * expires old windows. */
  def slidingCounts(events: DataFrame,
                    length: String = "1 hour", slide: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), length, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Streaming merge-upsert sink: each micro-batch is merged into a
    * directory-partitioned parquet table via
    * [[graft.etl.Dims.partitionScopedMerge]] — the foreachBatch
    * composition that gives a plain-parquet analog of a Delta/Iceberg
    * streaming MERGE. Exactly-once per key comes from the merge being
    * idempotent (keep-newest by key): replaying a micro-batch after a
    * crash converges to the same table. Only partitions the batch
    * touches are rewritten — the stream's write amplification scales
    * with batch size, not table size. The first batch bootstraps the
    * table through the same merge, so a NULL partition value fails the
    * query on every batch alike. */
  def mergeSink(events: DataFrame, basePath: String, key: String, partCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.etl.Dims.partitionScopedMerge(batch.sparkSession, basePath, batch, key, partCol)
        ()
      }

  /** Streaming merge sink over the SNAPSHOT commit log: each
    * micro-batch lands as one partition-scoped
    * [[graft.sources.Snapshots.commitMerge]] commit — so unlike [[mergeSink]]'s plain-parquet
    * table, a concurrent reader always resolves a complete committed
    * version (reader atomicity) and CONCURRENT WRITERS are safe: a
    * batch-time writer racing the stream makes the commit CAS-fail
    * with [[graft.sources.ConcurrentSnapshotCommitException]], and the
    * sink re-runs the merge against the winner's snapshot (bounded
    * retries — the merge is delta-wins-idempotent, so re-running is
    * harmless). Replaying a micro-batch after a crash converges to the
    * same table for the same reason. Write amplification per batch
    * scales with the touched partitions, not the table. */
  def snapshotMergeSink(events: DataFrame, tableDir: String, key: String,
                        partCol: String, maxRetries: Int = 5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          var attempt = 0
          var done = false
          while (!done) {
            try {
              graft.sources.Snapshots.commitMerge(
                batch.sparkSession, tableDir, batch, key, partCol)
              done = true
            } catch {
              case _: graft.sources.ConcurrentSnapshotCommitException
                  if attempt < maxRetries =>
                attempt += 1 // re-resolve the live snapshot, re-merge
            }
          }
        }
      }

  /** Per-micro-batch temporal enrichment against a SNAPSHOT table: at
    * every batch the sink resolves the dimension's live version ONCE
    * and joins the batch against that pinned `readVersion` — so a
    * concurrent dimension commit mid-batch can never produce a torn
    * join (half the batch on v_n, half on v_n+1), and each output row
    * records which version enriched it (`_dim_version`) for exact
    * replay/audit. The dimension is broadcast per batch: the streaming
    * side never shuffles. This is the streaming face of the
    * slowly-changing-dimension lookup — the SCD2 point-in-time join
    * (q107) answers "as of the EVENT time"; this answers "as of the
    * PROCESSING batch", which is what online enrichment wants. */
  def snapshotEnrichSink(events: DataFrame, tableDir: String, key: String,
                         outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val v = graft.sources.Snapshots.currentVersion(spark, tableDir)
            .getOrElse(throw new java.io.IOException(
              s"snapshotEnrichSink: no committed version at $tableDir"))
          val dim = graft.sources.Snapshots.readVersion(spark, tableDir, v)
          batch.join(broadcast(dim), Seq(key), "left")
            .withColumn("_dim_version", lit(v))
            .withColumn("_batch_id", lit(batchId))
            .write.mode("append").parquet(outDir)
        }
      }

  /** Rate-limited file-stream source — the backpressure surface.
    *
    * `maxFilesPerTrigger` caps how many NEW files each micro-batch
    * admits, so a burst (a backfill dropping thousands of files, a
    * stalled consumer catching up) is drained in bounded slices
    * instead of one giant batch that overwhelms executor memory and
    * blows the shuffle past state-store limits. The un-admitted
    * backlog stays in the source — nothing is dropped; the stream is
    * simply never asked to hold more than
    * maxFilesPerTrigger × maxPartitionBytes at once. This is the file
    * analog of Kafka's maxOffsetsPerTrigger; the same option composes
    * with every transform in this module (they take DataFrames).
    *
    * Contract: per-batch input size ≤ maxFilesPerTrigger files,
    * end-to-end totals unchanged (asserted under a burst in
    * StreamingSpec). */
  def fileSource(spark: SparkSession, dir: String,
                 schema: org.apache.spark.sql.types.StructType,
                 maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Trending top-k sink: tumbling-window event-type counts finalized
    * by the watermark (append mode → each window leaves the aggregate
    * EXACTLY once), reduced inside `foreachBatch` to the `k` most
    * frequent types per window by the native bounded-heap TopK
    * operator, and published with DYNAMIC PARTITION OVERWRITE keyed
    * on the window — so a replayed micro-batch rewrites the same
    * window partitions instead of appending duplicates (idempotent
    * sink, the exactly-once complement of the watermark's exactly-once
    * emission). Heap ties at the k-boundary are operator-arbitrary —
    * callers needing a total order should disambiguate the count
    * (window row_number) at read time. */
  def trendingTopKSink(events: DataFrame, outDir: String, k: Int = 3,
                       window_ : String = "1 hour", watermark: String = "10 minutes")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("event_type"), col("n"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val top = graft.plans.TopK
            .perGroup(batch, Seq("window_start"), "n", k, ascending = false)
            .orderBy(col("window_start"), col("n").desc, col("event_type"))
          top.sparkSession.conf
            .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          top.write.mode("overwrite").partitionBy("window_start").parquet(outDir)
        }
        ()
      }

  /** Backfill/catch-up runner: drain everything currently available
    * through a streaming query, then stop — streaming semantics
    * (incremental state, checkpointed exactly-once sink, and the
    * per-micro-batch rate limits of [[fileSource]] all still apply)
    * with a batch job's lifecycle. The composition matters at scale: a
    * month-sized backlog drains in maxFilesPerTrigger-bounded slices
    * under the SAME checkpoint the live stream will then resume from,
    * so backfill and steady-state share one exactly-once history. */
  def runAvailableNow(writer: org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row]): Unit = {
    val q = writer
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** Stream-static enrichment: join the unbounded event stream against
    * a bounded dimension (broadcast — the static side is re-read per
    * micro-batch and ships to every executor once; no stream-side
    * shuffle, no state). The standard shape for decorating a firehose
    * with reference data at any scale. */
  /** Gap sessionization via Spark's NATIVE `session_window` — the
    * declarative complement to [[sessionize]]'s
    * flatMapGroupsWithState: windows sharing a user merge while
    * events arrive within `gap` of the session's end; the watermark
    * closes (and emits) sessions and bounds state. Prefer this form
    * when per-session logic is pure aggregation — Catalyst plans the
    * merge-sort-aggregate natively; drop to the keyed-state form only
    * for custom state machines (e.g. [[sessionize]]'s running
    * event-type tallies). */
  def sessionWindowCounts(events: DataFrame, gap: String = "5 minutes",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D182)).cast(D182).as("value_sum"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("value_sum"))

  /** Watermarked stream-stream interval join: each click pairs with
    * the same user's views from the preceding `lookback`. Both sides
    * are unbounded, so Spark buffers each in join state; the
    * watermarks PLUS the time-range condition are what make that
    * state bounded — an old buffered view can be evicted once the
    * click watermark passes `view_ts + lookback`, and a buffered
    * click once its match window closes (without the range bound the
    * state would grow forever; Spark refuses unbounded stream-stream
    * inner joins on event time for exactly this reason). At 100
    * TB/day the state is shuffled on user_id like any keyed state —
    * per-executor state stores hold only the lookback window.
    *
    * `joinType` "left_outer" additionally emits a click with NULL
    * view columns once the watermark proves no in-window view can
    * still arrive — attribution's "click without preceding view";
    * the emission is necessarily deferred until state expiry (an
    * unmatched row is only knowable then), which is why outer
    * stream-stream joins REQUIRE the watermark + range bound. */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
                    lookback: String = "30 minutes",
                    watermark: String = "1 hour",
                    joinType: String = "inner"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    c.join(v, col("user_id") === col("v_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $lookback"), joinType)
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("view_id"), col("view_ts"))
  }

  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Exactly-once-style stream deduplication on event_id with BOUNDED
    * state: dropDuplicatesWithinWatermark only keeps an id in the
    * state store until the watermark passes it, so state is
    * O(ids per watermark window), not O(all ids ever) — the difference
    * between a dedup that survives a month of firehose and one that
    * OOMs the state store. Duplicates arriving within the watermark
    * window are suppressed; later replays are the watermark's
    * documented trade-off. */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  case class Evt(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                     n_events: Int, value_sum: Double)

  /** Gap-based sessionization with explicit keyed state: a session
    * closes when a later event reveals a gap (and, with
    * `flushIdleByTimeout`, when processing-time timeout fires for idle
    * keys — continuous-job mode; off by default so bounded test runs
    * terminate). For bounded/batch input pass `flushTrailing = true`:
    * each key is visited once and no timeout fires, so the final open
    * session per user must be emitted eagerly. State per user is O(1)
    * — one open session — so the operator holds at any key
    * cardinality. */
  def sessionize(spark: SparkSession, events: Dataset[Evt], gapMs: Long,
                 flushIdleByTimeout: Boolean = false,
                 flushTrailing: Boolean = false): Dataset[Session] = {
    import spark.implicits._
    val timeoutConf =
      if (flushIdleByTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, timeoutConf) {
        (userId: Long, evts: Iterator[Evt], state: GroupState[SessionState]) =>
          if (evts.isEmpty && state.hasTimedOut) {
            val out = state.getOption.map(s =>
              Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.sum))
            state.remove()
            out.iterator
          } else {
            val sorted = evts.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // merge window is [start-gap, last+gap] so a late
                // (cross-batch out-of-order) event extends the session
                // backwards instead of regressing `last` and causing a
                // false split on the next in-order event
                case Some(s) if t >= s.start - gapMs && t <= s.last + gapMs =>
                  cur = Some(s.copy(start = math.min(s.start, t),
                    last = math.max(s.last, t), n = s.n + 1, sum = s.sum + e.value))
                case Some(s) if t < s.start - gapMs =>
                  // stale straggler older than the whole open session:
                  // emit it as its own session and KEEP the active one
                  // (closing the active session here would falsely
                  // split it from its own upcoming in-order events)
                  closed ::= Session(userId, new Timestamp(t), new Timestamp(t), 1, e.value)
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            if (flushTrailing) {
              // bounded/batch input: each key is visited exactly once and
              // no timeout will ever fire — emit the open session now
              cur.foreach(s => closed ::= Session(userId,
                new Timestamp(s.start), new Timestamp(s.last), s.n, s.sum))
              state.remove()
            } else {
              cur.foreach { s =>
                state.update(s)
                if (flushIdleByTimeout) state.setTimeoutDuration(gapMs)
              }
            }
            closed.reverseIterator
          }
      }
  }

  case class EwmaDay(event_type: String, day: String, cents: Long,
                     ewma_cents: Double)
  case class EwmaDayState(openDay: String, openCents: Long,
                          hist: List[(String, Long)])

  /** Streaming counterpart of [[graft.operators.Behavioral.ewmaDaily]]:
    * per event_type, a day's cent total and its dyadic 8-observation
    * EWMA are emitted when a LATER day's first event proves the day
    * complete (bounded input: `flushTrailing` also closes each key's
    * final open day). State per key is O(1) — the open day's
    * accumulator plus the last 7 closed observations — so the operator
    * holds at any key cardinality and any stream length.
    *
    * Exactness contract: day extraction and per-event cent conversion
    * happen as the SAME Catalyst expressions the batch operator uses
    * (before the stateful step, which then does only Long adds and one
    * double division), so a closed day's row is bit-identical to the
    * batch row — proved in StreamingSpec by direct comparison. Days
    * arriving AFTER their successor closed them (cross-batch
    * stragglers) are dropped: append-mode output cannot revise an
    * emitted row. Within a batch, arrival order is irrelevant. */
  def ewmaStream(spark: SparkSession, events: DataFrame,
                 flushTrailing: Boolean = false): Dataset[EwmaDay] = {
    import spark.implicits._
    val prepared = events.select(
        col("event_type"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        (col("value").cast(D182) * 100).cast("long").as("cents"))
      .as[(String, String, Long)]
    def close(key: String, day: String, cents: Long,
              hist: List[(String, Long)]): EwmaDay = {
      // weights 128, 64, … — identical to the batch lag expansion
      val obs = (day, cents) :: hist
      val num = obs.zipWithIndex.map { case ((_, c), k) => c * (1L << (7 - k)) }.sum
      val den = obs.zipWithIndex.map { case (_, k) => 1L << (7 - k) }.sum
      EwmaDay(key, day, cents, num.toDouble / den.toDouble)
    }
    prepared.groupByKey(_._1)
      .flatMapGroupsWithState[EwmaDayState, EwmaDay](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String, Long)],
         state: GroupState[EwmaDayState]) =>
          val byDay = rows.toSeq.groupBy(_._2).toSeq
            .map { case (d, rs) => (d, rs.map(_._3).sum) }.sortBy(_._1)
          var st = state.getOption.orNull
          var out = List.empty[EwmaDay]
          byDay.foreach { case (d, c) =>
            st match {
              case null => st = EwmaDayState(d, c, Nil)
              case s if d == s.openDay => st = s.copy(openCents = s.openCents + c)
              case s if d > s.openDay =>
                out ::= close(key, s.openDay, s.openCents, s.hist)
                st = EwmaDayState(d, c,
                  ((s.openDay, s.openCents) :: s.hist).take(7))
              case _ => () // straggler for an already-closed day: dropped
            }
          }
          if (flushTrailing) {
            if (st != null) out ::= close(key, st.openDay, st.openCents, st.hist)
            state.remove()
          } else if (st != null) state.update(st)
          out.reverseIterator
      }
  }
}
