package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Components, Dedup}
import graft.sources.Snapshots

/** Streaming document-ingest surface: the near-dup-dedup gate a
  * continuously-fed pretraining corpus runs at the door, as a
  * Structured Streaming sink over the batch operators it composes —
  * [[Dedup.incrementalLshFrom]] (index-vs-delta candidate pairs
  * without re-shingling the indexed corpus), [[Components.dropIds]]
  * (within-batch keep-min-per-cluster), and [[Snapshots.commitMerge]]
  * (the signature index as a reader-atomic CAS table).
  *
  * Exactly-once across restarts for free: foreachBatch may replay a
  * micro-batch, but the dedup decision is deterministic and the index
  * commit is an UPSERT keyed on doc_id — replaying batch N rewrites
  * the identical signature rows, so the index converges rather than
  * duplicating (the same idempotent-sink discipline as
  * [[EventStreams.mergeSink]]).
  *
  * Scale shape per micro-batch: shingling/signing touches ONLY the
  * batch; the index contributes one narrow scan of its 12-column
  * signature table (no text is ever stored or re-read); the band
  * join fans out only from batch band rows with the hot-bucket cap
  * bounding the worst key. Index growth = novel docs only.
  */
object DocStreams {

  /** Ingest one micro-batch of documents (doc_id, text, …): drop
    * near-dups of the index or of a smaller-id batch doc, upsert the
    * survivors' signatures, and return the survivors. Factored out of
    * the sink so batch callers (backfills) and specs share the exact
    * code path the stream runs. */
  private[graft] def ingestBatch(batch: DataFrame, indexTableDir: String): DataFrame = {
    val spark = batch.sparkSession
    val sigSchema = "doc_id BIGINT, " +
      (0 until Dedup.NumHashes).map(i => s"h$i STRING").mkString(", ")
    val live = Snapshots.currentVersion(spark, indexTableDir)
    val index = live match {
      case Some(_) => Snapshots.read(spark, indexTableDir)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType.fromDDL(sigSchema))
    }
    val indexIds = index.select(col("doc_id").as("iid"))
    val pairs = Dedup.incrementalLshFrom(index, batch)
      .select(col("da"), col("db")).cache()
    try {
    // dropped: any batch doc paired with an ALREADY-INDEXED doc
    // (earlier ingest wins regardless of id order)…
    val vsIndexA = pairs.join(indexIds, pairs("da") === col("iid"))
      .select(col("db").as("doc_id"))
    val vsIndexB = pairs.join(indexIds, pairs("db") === col("iid"))
      .select(col("da").as("doc_id"))
    // …plus within-batch clusters resolved keep-min (transitive,
    // exactly the batch pipeline's rule)
    val batchPairs = pairs
      .join(indexIds, pairs("da") === col("iid"), "left_anti")
      .join(indexIds, pairs("db") === col("iid"), "left_anti")
    val withinBatch = Components.dropIds(batchPairs)
      .select(col("id").as("doc_id"))
    val dropIds = vsIndexA.unionByName(vsIndexB).unionByName(withinBatch).distinct()
    val novel = batch.join(dropIds, Seq("doc_id"), "left_anti")
    val novelSigs = Dedup.minhashRawFrom(Dedup.shingleRowsOf(novel))
    // an empty merge publishes nothing; only the bootstrap must skip it
    if (live.isDefined || !novelSigs.isEmpty)
      Snapshots.commitMerge(spark, indexTableDir, novelSigs, "doc_id")
    novel
    } finally {
      // the cache serves only this batch's three pair consumers — a
      // long-running stream must not accumulate one storage entry per
      // micro-batch
      pairs.unpersist()
    }
  }

  /** The streaming sink: wire a docs stream through [[ingestBatch]].
    * Start with `.option("checkpointLocation", …)` like any sink.
    *
    * `compactEvery` > 0 runs [[maintainIndex]] after every Nth
    * micro-batch: each batch's upsert commit leaves one manifest and
    * one data dir behind, so on a long-running stream the commit
    * chain grows without bound even though the LIVE row set is
    * bounded by novel docs — the cadence bounds on-disk state at
    * ~compactEvery commit dirs between maintenances. Maintenance runs
    * INSIDE foreachBatch (serialized with ingest), so the CAS commit
    * never races the stream's own upserts. */
  def lshDedupIngest(docs: DataFrame, indexTableDir: String,
                     compactEvery: Int = 0): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, indexTableDir)
        if (compactEvery > 0 && batchId % compactEvery == (compactEvery - 1).toLong)
          maintainIndex(batch.sparkSession, indexTableDir)
        ()
      }

  /** Signature-index lifecycle maintenance: consolidate the live rows
    * into one data dir ([[Snapshots.compact]]) and reclaim every
    * unreferenced data dir / aged manifest ([[Snapshots.vacuum]]).
    * The maintained index is bit-identical as a row set, so dedup
    * decisions are unchanged by construction (and proved unchanged in
    * StreamingSpec); what shrinks is the COMMIT CHAIN — after a
    * thousand micro-batches the table root holds a thousand
    * single-batch data dirs whose live bytes are a fraction of their
    * footprint, and readers pay a thousand-file manifest walk.
    * `keep` retains that many newest manifests for pinned readers;
    * `orphanGraceMs` protects a concurrent committer's in-flight dir
    * (0 is safe from inside the stream's own foreachBatch, which
    * serializes all writers). Returns the number of manifests
    * reclaimed. */
  /** Compact only when the live manifest references at least this many
    * data dirs. Compaction is a full rewrite of the LIVE ROW SET, so
    * running it on an unconditional cadence makes cumulative write
    * amplification grow with index size × stream length (quadratic on
    * a long-running stream) — and buys nothing when the chain is
    * already one dir. Gating on fragmentation makes maintenance cost
    * track CHAIN GROWTH (bounded by the cadence) instead. */
  val CompactMinDataDirs = 4

  def maintainIndex(spark: org.apache.spark.sql.SparkSession,
                    indexTableDir: String, keep: Int = 2,
                    orphanGraceMs: Long = 0L,
                    minDataDirs: Int = CompactMinDataDirs): Int =
    Snapshots.liveDataDirCount(spark, indexTableDir) match {
      case 0 => 0 // nothing committed yet — nothing to maintain
      case n =>
        // vacuum alone reclaims aged manifests and any dirs a prior
        // compact already unreferenced; the rewrite runs only when the
        // chain is long enough to be worth collapsing
        if (n >= minDataDirs) Snapshots.compact(spark, indexTableDir)
        Snapshots.vacuum(spark, indexTableDir, keep, orphanGraceMs)
    }

  /** Compliance erasure for the signature index: physically erase the
    * given doc ids' signatures ([[Snapshots.forget]] — deletion
    * vector, then compact + vacuum to one live version so no file
    * under the index root retains the bytes). The forgotten docs'
    * INFLUENCE goes with their rows: future near-dups of an erased
    * doc are admitted again (proved in StreamingSpec), while
    * decisions about unrelated docs are untouched. */
  def eraseFromIndex(spark: org.apache.spark.sql.SparkSession,
                     indexTableDir: String, docIds: DataFrame): Unit = {
    Snapshots.forget(spark, indexTableDir, docIds.select(col("doc_id")), "doc_id")
    ()
  }

  /** STREAMING corpus fingerprint — the q255 commutative digest as a
    * running aggregate over an unbounded document stream. The digest
    * was designed commutative/associative (a DECIMAL(38,0) sum of
    * keyed 48-bit md5 prefixes), and that is precisely what makes it
    * streamable with ONE ROW of state: count, sum, min and max all
    * merge per micro-batch, so after any prefix of the stream the
    * sink holds exactly the batch fingerprint of the documents seen
    * so far — ingest can stamp/verify a snapshot digest continuously
    * without ever re-scanning the corpus (StreamingSpec proves
    * stream ≡ batch after multi-batch, shuffled arrival). */
  def fingerprintStream(docs: DataFrame): DataFrame =
    docs
      .select(md5(concat(col("doc_id").cast("string"), lit("|"),
        col("text"))).as("h"))
      .agg(count(lit(1)).as("n_docs"),
        sum(conv(substring(col("h"), 1, 12), 16, 10).cast("decimal(38,0)"))
          .cast("string").as("fp_sum"),
        min(col("h")).as("min_h"), max(col("h")).as("max_h"))
}
