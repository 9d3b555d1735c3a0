package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

/** Table registry over the harness parquet layout (`TESTDATA.md`):
  * one parquet file per table under a scale-factor directory.
  *
  * Mirrors the reference's "connection registry" idea
  * (`/root/reference/dags/stage_csv_dims_to_pg.py:13-16`) as a config
  * object mapping logical table names → storage paths, instead of
  * Airflow connections. Every parquet read in `src/main` goes through
  * [[parquet]]: a plain `spark.read.parquet` given the schema Spark
  * would infer, read from one footer on the driver, so Catalyst column
  * pruning + predicate pushdown reach the scan and no schema-inference
  * job runs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, Seq(path(dir, name)))

  /** The one parquet read path: `spark.read.options(options)
    * .parquet(paths: _*)`, except that the schema is read on the
    * driver and passed to the reader. Without a schema every read
    * starts a Spark job that reads one footer (`ParquetUtils.inferSchema`
    * → `SchemaMergeUtils.mergeSchemasInParallel`), even for a one-file
    * table with `mergeSchema` off: a fixed cost of every table read.
    *
    * The footer is the one Spark's non-merging inference reads: the
    * paths are listed by Spark's own `InMemoryFileIndex` (its hidden-
    * file filter, `basePath` handling and parallel-listing threshold),
    * then `_common_metadata`, else `_metadata`, else the first data
    * file by path string is read with `SKIP_ROW_GROUPS` and converted
    * with the same session flags the inference job uses. A listing
    * above Spark's parallel-listing threshold runs a job, as Spark's
    * own listing of the same paths does.
    *
    * The read is handed to plain `spark.read.parquet` (Spark infers as
    * before) when `mergeSchema` is on in the session or `options`, a
    * path is a glob or does not exist, no data file is found, a footer
    * column is also a partition column (a user schema would move it),
    * or anything throws. So every error a read can raise —
    * `PATH_NOT_FOUND`, a corrupt footer, `UNABLE_TO_INFER_SCHEMA` — is
    * Spark's own, unchanged. */
  def parquet(spark: SparkSession, paths: Seq[String],
              options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.options(options)
    footerSchema(spark.asInstanceOf[classic.SparkSession], paths, options)
      .fold(reader.parquet(paths: _*))(s => reader.schema(s).parquet(paths: _*))
  }

  private def footerSchema(spark: classic.SparkSession, paths: Seq[String],
                           options: Map[String, String]): Option[StructType] =
    try {
      val conf = spark.sessionState.conf
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
      val roots = paths.map { p =>
        val path = new Path(p)
        path.getFileSystem(hadoopConf).makeQualified(path)
      }
      // SparkHadoopUtil.isGlobPath's test
      def isGlob(p: String) = p.exists("{}[]*?\\".contains(_))
      if (paths.exists(isGlob) || new ParquetOptions(options, conf).mergeSchema ||
          !roots.forall(r => r.getFileSystem(hadoopConf).exists(r))) None
      else {
        val index = new InMemoryFileIndex(spark, roots, options, None)
        // ParquetUtils.inferSchema's choice with mergeSchema off
        val (common, meta) =
          (ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
        val (summaries, data) = index.allFiles().sortBy(_.getPath.toString)
          .partition(f => f.getPath.getName == common || f.getPath.getName == meta)
        def summary(n: String) = summaries.find(_.getPath.getName == n)
        val chosen = summary(common).orElse(summary(meta)).orElse(data.headOption)
        chosen.map { f =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
          // ParquetFileFormat.mergeSchemasInParallel's converter flags
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
        }.filterNot { s =>
          val norm = (n: String) => if (conf.caseSensitiveAnalysis) n else n.toLowerCase
          val partCols = index.partitionSchema.fieldNames.map(norm).toSet
          s.fieldNames.exists(n => partCols(norm(n)))
        }
      }
    } catch { case NonFatal(_) => None }

  /** Load + spread across all cores. Small single-file tables arrive
    * as ONE input split (one parquet row group), serializing any
    * compute-heavy per-row stage (regex, md5, shingling) onto a single
    * thread; an up-front round-robin repartition costs one tiny
    * shuffle and unlocks full parallelism. Use for compute-bound
    * pipelines over small-file tables — at real scale, scans have
    * natural splits and this becomes unnecessary (but stays cheap
    * relative to the downstream work it parallelizes). */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)

  /** Normalize `events.ts` to a proper `TimestampType` regardless of
    * the fixture's physical layout. The harness has shipped three over
    * time, and every event-time consumer (`unix_micros`, windowing,
    * range joins) requires `TimestampType`:
    *
    *   - TIMESTAMP(NANOS): with `spark.sql.legacy.parquet.nanosAsLong`
    *     the column arrives as long nanos → `timestamp_micros(ns/1000)`.
    *   - timestamp[us] without the UTC flag: Spark reads TIMESTAMP_NTZ
    *     → cast to TimestampType. The session TZ is pinned to UTC
    *     (GraftSession), so the wall-clock reinterpretation is exact.
    *   - timestamp[us] UTC: already TimestampType → pass through.
    *
    * Absorbing source-format drift at the scan (one choke point) rather
    * than in every consumer mirrors the reference's stage-then-cast
    * typing discipline (`stage_csv_dims_to_pg.py:79-98`). */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = load(spark, dir, "events")
    e.schema("ts").dataType match {
      case LongType         => e.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => e.withColumn("ts", col("ts").cast(TimestampType))
      case _                => e
    }
  }

  /** Register every table as a temp view so `spark.sql` queries match
    * the DuckDB oracle's table names 1:1. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") loadEvents(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }

  /** Federated JDBC scan — the real analog of the reference's dblink
    * hop (`dag_datapelangan.py:172-186`): where the reference hand-
    * inlines `status='S' AND tanggal=ds` into the quoted remote query
    * text, here Catalyst pushes filters and column pruning into the
    * generated remote SQL automatically (`PushedFilters` on the scan).
    *
    * `table` may be a table name or a pushdown subquery
    * (`"(SELECT ... ) t"`). For parallel reads at scale pass the
    * standard partitioning options (partitionColumn/lowerBound/
    * upperBound/numPartitions) — each executor then issues its own
    * range-predicated remote query instead of one serial cursor. */
  def jdbc(spark: SparkSession, url: String, table: String,
           options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(options)
      .load()

  /** All-string CSV reader reproducing the reference's text-typed
    * staging discipline (`stage_csv_dims_to_pg.py:79-98`): no schema
    * inference, types imposed later by explicit guarded casts
    * (SURVEY.md §1.3). */
  def csvAllString(spark: SparkSession, path: String, columns: Seq[String]): DataFrame = {
    val schema = StructType(columns.map(c => StructField(c, StringType, nullable = true)))
    spark.read.schema(schema).option("header", "true").csv(path)
  }
}
