package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory. One place to own the scale-relevant
  * knobs so Verify / Bench / tests all run the same engine config.
  *
  * Tuned for local[N] testing but chosen to hold on a real cluster:
  *   - AQE on (runtime coalesce, skew-join split, dynamic broadcast)
  *   - shuffle.partitions sized to cores locally; on a cluster AQE
  *     coalesces from an intentionally-high initial number
  *   - ANSI off: the engine mirrors PostgreSQL's guarded-cast semantics
  *     (SURVEY.md §2.6 #33) — casts are pre-guarded by regex/NULLIF so
  *     silent-NULL matches the reference's behavior.
  *
  * The shuffle/spill/broadcast codec (`spark.io.compression.codec`)
  * is left at Spark's own default, lz4, so local bench rows stay
  * comparable round over round. Choose zstd the standard way —
  * `spark-submit --conf spark.io.compression.codec=zstd`, or
  * `-Dspark.io.compression.codec=zstd` in `SPARK_EXTRA_JAVA_OPTS` for
  * the sbt-forked mains — wherever the core budget is real or shuffle
  * crosses the network: the ×100-unique A/B
  * (bench_x100u_codec_ab.json) measured zstd at ×0.53-0.57 the
  * shuffle bytes of lz4 on four shuffle-heavy queries; wall-clock
  * flips with the core budget — at local[4] the compression CPU
  * competes with the query (−24%..+26%), at 32 cores the halved bytes
  * win outright (q87 ×0.66).
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Shuffle partition count — defaults to the core count locally,
    * overridable per run (SPARK_GRAFT_SHUFFLE_PARTITIONS) because the
    * right value scales with INPUT SIZE, not cores: AQE can coalesce
    * an over-partitioned shuffle at runtime but can NEVER split an
    * under-partitioned one, so a 100× replica pushed through the
    * sf0.1 partition count spills and GC-thrashes per oversized
    * partition (the r12 ×100-unique instrument measured the shingle
    * family superlinear exactly this way). Production guidance: set
    * this so per-partition shuffle bytes land near 64-128 MB — i.e.
    * proportional to input scale — and let AQE trim the excess. */
  def shufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)

  /** Per-JVM scratch root in `java.io.tmpdir` for what the engine
    * writes besides its outputs: the warehouse below and the
    * registry's fixtures (`SparkEntry.fixture`). It is deleted with
    * its contents when the JVM exits, so runs leave no dirs behind. */
  private[graft] lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_jvm_")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** Per-JVM warehouse for managed (e.g. bucketed) tables — keeps
    * runs isolated and the repo clean. */
  private lazy val warehouseDir: String = scratchRoot.resolve("warehouse").toString

  def builder(master: String = s"local[$cpus]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      // events.parquet carries TIMESTAMP(NANOS) which the Spark reader
      // rejects natively; read as long nanos and convert explicitly
      // (Tables.loadEvents / functions.tsFromNanos)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native codegen'd functions (cosine_sim)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", warehouseDir)

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
