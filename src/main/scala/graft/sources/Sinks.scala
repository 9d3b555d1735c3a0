package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Write-side utilities for healthy table layout at scale.
  *
  * Two chronic 100 TB problems live on the write path: small-file
  * explosion (every shuffle partition becomes a file; a daily job with
  * 2000 reducers × 365 days = 730k files whose footers dominate
  * planning time) and unsorted row groups (parquet min/max stats span
  * the whole value range, so predicate pushdown prunes nothing).
  *
  * Rewrites that replace a whole table go through [[atomicOverwrite]]:
  * write-new-then-swap with rename-aside, so readers of the original
  * path survive a crash at any step (the durable production answer is
  * a table format — Delta/Iceberg — whose commit protocol this
  * mirrors at directory granularity).
  */
object Sinks {

  /** Write date-partitioned parquet, replacing exactly the partitions
    * present in `df` (dynamic overwrite — rerun-idempotent; see
    * etl.Daily). The overwrite mode is set on the writer itself so the
    * partial-overwrite guarantee holds from ANY session, not only one
    * built with GraftSession's dynamic-mode default. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)

  /** Delete the `partitionCol=value` directory under `path` of each of
    * `values`. Dynamic partition overwrite ([[writePartitioned]])
    * replaces only the partitions present in the written frame, so a
    * partition that must end up EMPTY keeps its old files unless its
    * directory is dropped explicitly. A missing directory is a no-op,
    * and no Spark job runs. Not atomic with the write before it:
    * single writer, as that write is. */
  def dropPartitions(spark: SparkSession, path: String, partitionCol: String,
                     values: Seq[String]): Unit = {
    val base = new Path(path)
    val fs = fsOf(spark, base)
    values.foreach { v =>
      fs.delete(new Path(base, org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(partitionCol, v)), true)
    }
  }

  private val obsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** [[writePartitioned]] + the rows-written audit count collected
    * IN-FLIGHT via `Dataset.observe` — the metric piggybacks on the
    * write job's own pass over the data instead of re-reading the
    * table afterwards. At 100 TB that removes one full partition scan
    * per audited sink (the reference logs exactly this count after
    * every insert; see etl.Daily). */
  def writePartitionedCounted(df: DataFrame, path: String, partitionCol: String): Long =
    countedWrite(df)(writePartitioned(_, path, partitionCol))

  /** Run `write` over `df` and return the rows it wrote, counted by
    * `Dataset.observe` during the write job itself. */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = new org.apache.spark.sql.Observation(s"write_audit_${obsId.incrementAndGet()}")
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** Write range-clustered parquet: one range exchange on `sortCols`
    * plus a local sort, so each output file covers a narrow,
    * near-disjoint value range — scans with a predicate on those
    * columns then skip whole files/row groups via parquet min/max
    * stats. (repartitionByRange + sortWithinPartitions, NOT a global
    * orderBy — same single exchange, no final merge.) */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String]): Unit =
    df.repartitionByRange(sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Schema-profiled zstd level for [[writeSortedCompressed]]:
    * text-dominated tables (string/binary columns are most of the
    * bytes) get a higher level — range-clustered text is exactly where
    * zstd's bigger search window keeps finding matches, so the extra
    * CPU buys real size; numeric-dominated tables stay at the fast
    * default, where higher levels cost CPU for near-zero gain on
    * packed fixed-width values. Schema-only: no data scan. */
  def chooseZstdLevel(df: DataFrame): Int = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val fields = df.schema.fields
    val stringy = fields.count(f =>
      f.dataType == StringType || f.dataType == BinaryType)
    if (stringy * 2 >= fields.length) 9 else 3
  }

  /** [[writeSorted]] with per-write compression tuning. The range
    * clustering is what makes the codec earn its keep: similar rows
    * land in the same row group, so zstd (dictionary + long-window
    * matching) compresses far better than on randomly-ordered data.
    * The level defaults to [[chooseZstdLevel]]'s schema profile;
    * override it for cold archival tables (higher) or write-hot
    * staging (lower). Both options travel on the WRITER (merged into
    * the per-job hadoop conf), never the session — concurrent writes
    * with different levels don't race. Measured at sf0.01 in
    * SinksSpec; numbers recorded in docs/SCALE.md. */
  def writeSortedCompressed(df: DataFrame, path: String, sortCols: Seq[String],
                            zstdLevel: Option[Int] = None): Unit =
    df.repartitionByRange(sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("parquet.compression.codec.zstd.level",
        zstdLevel.getOrElse(chooseZstdLevel(df)).toString)
      .parquet(path)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace `path` with `df`'s rows without ever losing the previous
    * contents: write to `<path>._staging`, rename the live dir aside
    * to `<path>._old`, rename staging into place, drop the old dir.
    * Crash safety, step by step:
    *   - during the staging write → live dir untouched;
    *   - between the two renames → previous data intact under `._old`;
    *     the next call (or [[recoverSwap]]) restores it;
    *   - rename failures are checked and THROWN, after restoring the
    *     old dir — never silently half-applied.
    * `df` may read from `path` itself (compaction, merge-upsert): the
    * staging write materializes it before the swap touches the source.
    *
    * Concurrency contract: SINGLE WRITER, and crash-safe — not
    * reader-atomic. Between the two renames the live path briefly does
    * not exist, so a concurrent reader can fail transiently, and two
    * concurrent writers can interleave the rename sequence. A table
    * format with a transaction log (Delta/Iceberg, below) is the
    * answer when concurrent readers/writers are in play.
    *
    * Returns the rows written, counted in flight like
    * [[writePartitionedCounted]]. */
  def atomicOverwrite(spark: SparkSession, df: DataFrame, path: String): Long = {
    val target = new Path(path)
    val fs = fsOf(spark, target)
    val staging = new Path(target.getParent, target.getName + "._staging")
    val old = new Path(target.getParent, target.getName + "._old")
    recoverSwap(fs, target)
    fs.delete(staging, true)
    val rows = countedWrite(df)(_.write.mode(SaveMode.Overwrite).parquet(staging.toString))
    // a crash after a previous swap-in can leave a stale `._old` while
    // the target exists; renaming onto an existing dir would move the
    // live dir INSIDE it (Hadoop rename semantics) — clear it first
    fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new IOException(s"atomicOverwrite: failed to move $target aside to $old")
    if (!fs.rename(staging, target)) {
      // put the previous data back before failing — the target path
      // must stay readable no matter what
      if (fs.exists(old)) fs.rename(old, target)
      throw new IOException(s"atomicOverwrite: failed to move $staging into place at $target")
    }
    fs.delete(old, true) // best-effort; a leftover is cleaned next call
    rows
  }

  /** Recovery for a crash between atomicOverwrite's two renames: the
    * live dir is missing but the previous contents sit in `._old` —
    * restore them. Called automatically at the start of every
    * [[atomicOverwrite]]; call it explicitly before READING a table
    * that a crashed writer may have left mid-swap (see Dims.run). */
  def recover(spark: SparkSession, path: String): Unit = {
    val target = new Path(path)
    recoverSwap(fsOf(spark, target), target)
  }

  private[graft] def recoverSwap(fs: FileSystem, target: Path): Unit = {
    val old = new Path(target.getParent, target.getName + "._old")
    if (!fs.exists(target) && fs.exists(old) && !fs.rename(old, target))
      throw new IOException(s"recoverSwap: failed to restore $old to $target")
  }

  /** Target size of one compacted file: 128 MB. */
  private[graft] val CompactedFileBytes: Long = 128L << 20

  /** The number of files a compaction writes `bytes` of data into:
    * ceil(bytes / [[CompactedFileBytes]]), at least one. The one
    * sizing rule of [[compact]] and [[Snapshots.compact]]. */
  private[graft] def compactedFileCount(bytes: Long): Int =
    math.max(1L, (bytes + CompactedFileBytes - 1) / CompactedFileBytes).toInt

  /** Compact a parquet directory to ~128 MB files: read, coalesce to
    * [[compactedFileCount]] partitions (coalesce, not repartition — no
    * shuffle), swap in atomically via [[atomicOverwrite]]. */
  def compact(spark: SparkSession, path: String): Long = {
    val hadoopPath = new Path(path)
    val fs = fsOf(spark, hadoopPath)
    recoverSwap(fs, hadoopPath)
    val parts = compactedFileCount(fs.getContentSummary(hadoopPath).getLength)
    atomicOverwrite(spark, Tables.parquet(spark, Seq(path)).coalesce(parts), path)
    parts.toLong
  }
}
