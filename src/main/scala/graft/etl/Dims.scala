package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.functions.Normalize

/** Dimension pipeline — the Spark-first re-expression of DAG
  * `stage_csv_dims_to_pg_dwh` (stage_csv_dims_to_pg.py:122-163):
  * all-string CSV staging → trim/cast/filter transforms → upsert or
  * truncate-reload into parquet dimension tables.
  */
object Dims {

  /** `dw.routes` transform: trim keys, drop NULL PKs
    * (stage_csv_dims_to_pg.py:125-130). */
  def routes(staged: DataFrame): DataFrame =
    staged.select(
        trim(col("route_code")).as("route_code"),
        trim(col("route_name")).as("route_name"))
      .filter(col("route_code").isNotNull)

  /** `dw.shelter_corridor`: trim PK, NULLIF-guarded int cast
    * (stage_csv_dims_to_pg.py:132-140). */
  def shelterCorridor(staged: DataFrame): DataFrame =
    staged.select(
        trim(col("shelter_name_var")).as("shelter_name_var"),
        Normalize.nullifEmptyInt(col("corridor_code")).as("corridor_code"),
        col("corridor_name"))
      .filter(col("shelter_name_var").isNotNull)

  /** `dw.realisasi_bus` full reload: strict two-format date dispatch
    * (every shipped row's M/D/YYYY date → NULL — preserved, see
    * FIXTURES.md A5) + norm_body key (stage_csv_dims_to_pg.py:142-154). */
  def realisasiBus(staged: DataFrame): DataFrame =
    staged.select(
      Normalize.normDate(col("tanggal_realisasi")).as("tanggal_realisasi"),
      col("bus_body_no"),
      col("rute_realisasi"),
      Normalize.normBody(col("bus_body_no")).as("bus_body_no_norm"))

  /** Merge-upsert (INSERT … ON CONFLICT DO UPDATE,
    * stage_csv_dims_to_pg.py:125-140) on plain parquet: existing ∪
    * incoming, keep the incoming row per key. One shuffle on the key;
    * at scale this is the standard copy-on-write merge (Delta/Iceberg
    * MERGE being the transactional variant).
    *
    * `tieBreak` orders rows WITHIN the same (key, is_new) rank so an
    * incoming batch that itself contains duplicate keys merges
    * deterministically (without it, row_number picks an arbitrary
    * survivor per shuffle — at odds with OrderedDedup's discipline).
    * Defaults to ordering by every non-key column. */
  def upsert(existing: Option[DataFrame], incoming: DataFrame, key: String,
             tieBreak: Seq[Column] = Nil): DataFrame = {
    def tb(df: DataFrame): Seq[Column] = {
      if (tieBreak.nonEmpty) tieBreak
      else {
        val rest = df.columns.filterNot(_ == key).sorted.map(c => col(c).asc_nulls_last).toSeq
        // key-only schema: rows within a key are identical, any order
        // is deterministic — but the window still needs an ORDER BY
        if (rest.nonEmpty) rest else Seq(col(key))
      }
    }
    existing match {
      case None =>
        incoming
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col(key)).orderBy(tb(incoming): _*)))
          .filter(col("_rn") === 1).drop("_rn")
      case Some(ex) =>
        val unioned = ex.withColumn("_is_new", lit(0))
          .unionByName(incoming.withColumn("_is_new", lit(1)))
        unioned
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col(key)).orderBy(col("_is_new").desc +: tb(ex): _*)))
          .filter(col("_rn") === 1)
          .drop("_is_new", "_rn")
    }
  }

  /** The distinct `partCol` values a merge batch touches, as strings —
    * a driver-sized list by definition (the same cardinality class as
    * the catalog's partition listing). A NULL or empty value is
    * refused loudly: it would miss the base's
    * `__HIVE_DEFAULT_PARTITION__` rows in an `isin` prune while the
    * write still replaced that partition, dropping existing rows.
    * `who` names the caller and its batch in the refusal. */
  private[graft] def touchedPartitions(batch: DataFrame, partCol: String,
                                       who: String): Seq[String] = {
    val values = batch.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    require(!values.contains(null) && !values.contains(""),
      s"$who has NULL or empty $partCol values; " +
        "null partitions are not supported — filter or default them first")
    values
  }

  /** The partition values of `untouched` rows whose key the `batch`
    * also carries: the partitions a cross-partition key move pulls
    * into a merge. A narrow (key, partCol) scan — column-pruned,
    * map-only — semi-joined against the broadcast batch key set. */
  private[graft] def movedPartitions(untouched: DataFrame, batch: DataFrame,
                                     key: String, partCol: String): Seq[String] =
    untouched.select(col(key), col(partCol).cast("string").as("_p"))
      .join(broadcast(batch.select(col(key)).distinct()), Seq(key), "left_semi")
      .select(col("_p")).distinct()
      .collect().map(_.getString(0)).toSeq

  /** Full DAG-1 run: stage the three CSVs, transform, upsert/reload
    * into `dwhDir` parquet tables. Returns per-table row counts (the
    * reference's logged audit counts).
    *
    * Crash recovery runs first, for all three tables; then the three
    * loads — they share nothing — run at the same time through
    * [[Pipeline.concurrently]]. A failing load does not stop the other
    * two, and its own exception is rethrown once all three ended. */
  def run(spark: SparkSession, csvDir: String, dwhDir: String): Map[String, Long] = {
    val tables = Seq("routes", "shelter_corridor", "realisasi_bus")
    // a previous run may have crashed mid-swap, leaving the table
    // only under `<name>._old` — restore BEFORE the existence check,
    // or the upsert below silently degrades to truncate-load and
    // discards every previously merged row
    tables.foreach(n => graft.sources.Sinks.recover(spark, s"$dwhDir/$n"))
    // only a missing table means "first load" — any other read error
    // must propagate, or the upsert silently degrades to truncate-load
    // and discards previously merged rows
    def existing(name: String): Option[DataFrame] =
      try Some(Tables.parquet(spark, Seq(s"$dwhDir/$name")))
      catch {
        case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => None
      }
    def staged(file: String, columns: Seq[String]): DataFrame =
      Tables.csvAllString(spark, s"$csvDir/$file", columns)
    // upsert reads the existing table and replaces it — atomicOverwrite
    // materializes the merge into a staging dir BEFORE the swap touches
    // the source, which both breaks the read-overwrite cycle (no
    // localCheckpoint) and survives a crash at any step
    def upserted(name: String, incoming: DataFrame, key: String): Long =
      write(upsert(existing(name), incoming, key), name)
    def write(df: DataFrame, name: String): Long =
      graft.sources.Sinks.atomicOverwrite(spark, df, s"$dwhDir/$name")

    val counts = Pipeline.concurrently(spark, Seq(
      () => upserted("routes",
        routes(staged("dummy_routes.csv", Schemas.routesColumns)), "route_code"),
      () => upserted("shelter_corridor",
        shelterCorridor(staged("dummy_shelter_corridor.csv", Schemas.shelterCorridorColumns)),
        "shelter_name_var"),
      () => write( // truncate-reload, no upsert
        realisasiBus(staged("dummy_realisasi_bus.csv", Schemas.realisasiColumns)), "realisasi_bus")))
    tables.zip(counts).toMap
  }

  /** Partition-scoped merge-upsert over a directory-partitioned
    * parquet table: only the partitions the incoming batch TOUCHES are
    * merged and rewritten. Untouched partitions contribute only a
    * narrow (key, partCol) column scan that detects cross-partition
    * key moves — a batch row whose key already lives elsewhere pulls
    * that partition into the rewrite and the stale row is deleted
    * (full MERGE semantics; a key is never duplicated across
    * partitions). At 100 TB this is the difference between rewriting
    * a day's partition and rewriting the table: cost scales with the
    * delta, not the base.
    *
    * Mechanics: the incoming batch's distinct partition values (a
    * driver-sized metadata list by definition — same cardinality class
    * as the catalog's partition listing) prune the base read via
    * partition pruning; [[upsert]] merges within those partitions; the
    * write uses dynamic partition overwrite, which replaces exactly
    * the partitions present in the merged frame. Single-writer,
    * crash-safe per partition (Spark stages each partition dir); a
    * transaction-log format ([[graft.sources.Snapshots.commitMerge]],
    * Delta/Iceberg MERGE) is the concurrent-writer answer. A missing
    * `basePath` is bootstrapped from the deduplicated batch.
    *
    * Returns the touched partition values. */
  def partitionScopedMerge(spark: SparkSession, basePath: String,
                           incoming: DataFrame, key: String, partCol: String,
                           tieBreak: Seq[Column] = Nil): Seq[String] = {
    val touchedRaw = touchedPartitions(incoming, partCol, "partitionScopedMerge: incoming batch")
    // empty batch: a no-op — skip the scan/merge/overwrite machinery
    if (touchedRaw.isEmpty) return Nil
    // no table yet: the deduplicated batch bootstraps it, past the
    // same NULL/empty partition refusal as every later batch
    val baseDir = new org.apache.hadoop.fs.Path(basePath)
    val fs = baseDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(baseDir)) {
      graft.sources.Sinks.writePartitioned(upsert(None, incoming, key, tieBreak), basePath, partCol)
      return touchedRaw.sorted
    }
    // one read of the base serves the key-type check, the moved-key
    // scan and the merge
    val table = Tables.parquet(spark, Seq(basePath))
    // Cross-partition key moves (an incoming row whose key already
    // lives in a partition the batch does NOT touch): the stale row
    // must be deleted or the table holds the key twice. Detect by
    // scanning only (key, partCol) of the untouched partitions
    // (column-pruned, map-only) semi-joined against the broadcast
    // incoming key set; moved-from partitions join the touched set and
    // the delta-wins upsert below drops their stale rows — the
    // Delta/Iceberg MERGE delete-and-reinsert semantics.
    // a moved key IS an incoming key, so bounding the scan to the
    // incoming key range is conservative-safe; pushed to parquet it
    // engages row-group pruning on key-clustered bases (numeric keys
    // only — a non-numeric min/max would compare lexically)
    val keyIsNumeric = table.schema.fields
      .exists(f => f.name == key &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val keyBounds: Column = if (!keyIsNumeric) lit(true) else {
      val b = incoming.agg(min(col(key)), max(col(key))).head
      if (b.isNullAt(0)) lit(false)
      else col(key) >= lit(b.get(0)) && col(key) <= lit(b.get(1))
    }
    val movedParts = movedPartitions(table
      .filter(!col(partCol).isin(touchedRaw: _*) && keyBounds), incoming, key, partCol)
    val touched = (touchedRaw ++ movedParts).distinct.sorted
    val base = table.filter(col(partCol).isin(touched: _*))
    // align the incoming batch to the base's EXACT column types: a
    // delta produced by arithmetic (e.g. price + 50) carries widened
    // types (decimal(19,2) vs decimal(18,2)); writing those into some
    // partitions would fork the table into per-partition schemas and
    // break non-mergeSchema reads. EXTRA incoming columns are refused
    // loudly — silently dropping them would look like data loss; the
    // snapshot commit log (Snapshots.commitMerge) is the add-column
    // evolution path
    val extras = incoming.columns.filterNot(c => base.columns.contains(c))
    require(extras.isEmpty,
      s"partitionScopedMerge: incoming batch has columns ${extras.mkString(", ")} " +
        "absent from the base table; plain-parquet merges do not evolve schemas — " +
        "use Snapshots.commitMerge for add-column evolution")
    val aligned = incoming.select(
      base.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    val merged = upsert(Some(base), aligned, key, tieBreak)
    // the merge reads basePath and the dynamic overwrite writes it —
    // materialize through a staging dir first (the same
    // staging-then-swap discipline as Sinks.atomicOverwrite; only the
    // touched partitions' rows pass through it)
    val staging = s"$basePath._merge_staging"
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    try {
      merged.write.mode("overwrite").parquet(staging)
      val stagedBack = Tables.parquet(spark, Seq(staging))
      graft.sources.Sinks.writePartitioned(stagedBack, basePath, partCol)
      // a moved-from partition can be EMPTIED (every row moved out);
      // dynamic overwrite only replaces partitions PRESENT in the
      // written frame, so the stale dir must be dropped explicitly.
      // (Not atomic with the overwrite — this operator is documented
      // single-writer; Snapshots.commitMerge is the manifest-atomic
      // answer.)
      val present = stagedBack.select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      graft.sources.Sinks.dropPartitions(spark, basePath, partCol, touched.filterNot(present))
    } finally fs.delete(stagingPath, true) // never leak staging data on failure
    touched
  }
}
