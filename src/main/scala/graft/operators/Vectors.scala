package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.CosineSimilarity
import graft.sources.Tables

/** Similarity search over the `embeddings` table (Array[Float]
  * column): brute-force cosine top-k as the exact baseline, an
  * IVF-style probed variant as the scale path, and threshold near-dup
  * pairs.
  *
  * Numeric portability: every dot product is computed in double
  * (floats cast up before multiply) and cosines are rounded to 4
  * decimals with a post-rounding id tie-break, so rankings are
  * deterministic and identical to the DuckDB oracle's
  * `list_dot_product(CAST(... AS DOUBLE[]), ...)`.
  *
  * Scale posture: query/centroid sides are tiny and broadcast — the
  * corpus side never shuffles for top-k. IVF bounds the scanned
  * fraction to nprobe/K of the corpus; at 100 TB the assignment map
  * is a bucketed table and each probe is a partition-pruned scan.
  */
object Vectors {
  val NumQueries = 10
  val TopK = 5

  /** Floor / cap for the ADAPTIVE IVF cell count. A fixed cell count
    * is the classic IVF scale-killer: in-cell candidate pairs grow as
    * N²/k, so holding k constant while N grows ×10 makes every
    * cell-local join (semantic dedup, kNN graph, triplet mining) ×100
    * more expensive. Every IVF-derived operator here therefore derives
    * k from the corpus count at train time (see [[adaptiveIvfK]]);
    * the floor keeps tiny corpora/test fixtures on the historical
    * 16-cell layout, the cap bounds the broadcast centroid table
    * (2¹⁶ × dim doubles ≈ 33 MB at dim 64 — comfortably broadcast). */
  val IvfMinCentroids = 16
  val IvfMaxCentroids = 1 << 16

  /** Sentinel default for `k` parameters: derive the cell count from
    * the corpus via [[adaptiveIvfK]] at train time. */
  val AdaptiveK = 0

  /** k ≈ ⌈√N⌉ clamped to [[[IvfMinCentroids]], [[IvfMaxCentroids]]] —
    * the count-derived IVF cell count. √N keeps the in-cell pair term
    * N²/k shrinking per cell as the corpus grows instead of going
    * quadratic under a fixed k; the OTHER cost term of flat IVF — the
    * N·k·d assignment, which at k = √N is N^1.5·d and was the measured
    * ×100 scale-killer (q43 ×164) — is killed separately by the
    * two-level coarse-quantized assignment ([[twoLevelAssign]]:
    * ~2·N·⌈√k⌉·d per pass). ⌈√N⌉ is engine-portable: IEEE-754 sqrt is
    * correctly rounded on every platform, so the DuckDB oracles derive
    * the identical k with `ceil(sqrt(count(*)))` and the identical
    * m = ⌈√k⌉ coarse cell count. */
  def adaptiveIvfK(n: Long): Int =
    math.min(IvfMaxCentroids.toLong,
      math.max(IvfMinCentroids.toLong,
        math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  val IvfProbes = 4
  val NearDupThreshold = 0.45
  /** LSH banding for the gated near-dup query: 60 planes, bands
    * derived from the corpus count (see [[adaptiveBandBits]]). At
    * fixture scale (≤ 2048·8 vectors) the derivation lands on the
    * historical 20 bands of 3; at the aggressive 0.45 threshold
    * (θ≈63°, bit-agreement p≈0.65) that catches true pairs with
    * P = 1−(1−p³)²⁰ ≈ 99.8%. The knobs are per-call. */
  val NearDupPlanes = 60
  val NearDupBands = 20

  /** Sentinel for `bands` parameters: derive the banding from the
    * corpus count via [[adaptiveBandBits]] (the [[AdaptiveK]]
    * discipline applied to LSH banding). */
  val AdaptiveBands = 0

  /** Expected per-band bucket population the adaptive banding aims
    * for; 256 keeps fixture corpora (≤ 2048·8 vectors) on the
    * historical 3-bit/20-band layout. */
  val BandTargetPop = 256

  /** Bits-per-band derived from the corpus count:
    * r = max(3, ⌈log₂⌈n/256⌉⌉), bands = 60 div r.
    *
    * A FIXED 3-bit band is the LSH analog of the fixed IVF cell count
    * (the r10/r11 scale-killer): 8 buckets per band means per-band
    * candidate pairs grow N²/8 — measured on the ×100-unique replica
    * as 5.0×10¹⁰ collision rows and a >2400 s timeout (slope >×790),
    * with the per-band histogram UNIFORM (max bucket ≈ 1.2× mean), so
    * no hot-bucket cap can prune it: the whole bucket space is dense.
    * Deriving r from N keeps expected bucket population ≈ [[BandTargetPop]]
    * and per-band pairs ≈ N·[[BandTargetPop]]/2 — linear (measured:
    * 1.6×10⁸ collision rows at ×100, a ×312 reduction). The banding
    * curve then tracks scale: fewer, wider bands trade borderline-
    * threshold recall for linear candidate volume while true
    * near-dups (cos ≥ 0.95, p ≥ 0.9) still collide with P ≥ 0.9.
    *
    * Integer-exact and engine-portable: ⌈log₂ m⌉ = length(bin(m−1))
    * for m ≥ 2 (the q196 floor-log idiom), so the DuckDB oracles
    * derive the identical r and band count from count(*). */
  def adaptiveBandBits(n: Long): Int = {
    val m = (n + BandTargetPop - 1L) / BandTargetPop
    val ceilLog =
      if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    math.max(3, ceilLog)
  }
  val IvfTrainIters = 3

  /** double-precision dot product of two vectors (sequential left
    * fold — same order as the oracle's list_dot_product). Reference
    * composed-expression form; the hot path uses the native fused
    * `cosine_sim` expression below. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Native codegen'd single-pass cosine (graft.plans.CosineSimilarity,
    * registered via GraftExtensions). Same arithmetic as the composed
    * form and the DuckDB oracle. */
  def cosine(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  private[graft] def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

  /** Brute-force cosine top-k for the first NumQueries vectors as
    * queries (broadcast) against the full corpus. */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val queries = broadcast(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")))
    val scored = e.crossJoin(queries)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qv"), col("embedding")), 4).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .orderBy(col("qid"), col("rk"))
  }

  /** First-k pseudo-centroids (deterministic, untrained — the q23
    * baseline; [[trainCentroids]] is the quality path). k is the
    * count-derived [[adaptiveIvfK]]. */
  private def firstKCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val k = adaptiveIvfK(e.count())
    e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
      // semantically a no-op (vec_ids are unique, so the filter
      // already bounds the frame at k rows) but it makes the bound
      // PROVABLE in the plan (maxRows), so PlanLint can certify the
      // ×K centroid cross-joins downstream as bounded fan-out instead
      // of taking it on faith
      .limit(k)
  }

  /** Two-level (coarse-quantized) assignment preparation, driver-side
    * over the MODEL (k centroids — the same bounded-model contract as
    * the Lloyd sum collect): coarse seeds are the centroids with
    * cid < m, m = ⌈√k⌉; every centroid maps to its nearest seed
    * (rounded cosine, ties to the smallest gid — the engine's argmax
    * convention everywhere); seeds whose group ended up empty are
    * dropped so no vector can be routed to a memberless group. k×m
    * ≤ 2¹⁶·2⁸ driver dot products — model-sized, never corpus-sized.
    * Returns (non-empty seeds, cid → gid). */
  private def twoLevelParts(cents: Array[(Int, Array[Double])])
      : (Seq[(Int, Array[Double])], Seq[(Int, Int)]) = {
    val m = math.ceil(math.sqrt(cents.length.toDouble)).toInt
    val seeds = cents.filter(_._1 < m)
    def cosOf(a: Array[Double], b: Array[Double]): Double = {
      val c = CosineSimilarity.cosine(a, b)
      if (c == null) Double.NegativeInfinity else round4(c)
    }
    val cidToGid = cents.toSeq.map { case (cid, cv) =>
      val (_, gid) = seeds.map { case (g, gv) => (cosOf(gv, cv), g) }
        .minBy { case (c, g) => (-c, g) }
      (cid, gid)
    }
    val nonEmpty = cidToGid.map(_._2).toSet
    (seeds.toSeq.filter(s => nonEmpty.contains(s._1)), cidToGid)
  }

  /** Coarse groups probed per vector in [[twoLevelAssign]]. Single-
    * probe routing (the round-12 form) assigns each vector to ONE
    * coarse group before the fine argmax, which SKEWS fine-cell sizes:
    * a vector whose true nearest centroid lives in its second-nearest
    * group gets folded into the wrong (often hot) cell, and every
    * in-cell pair consumer (kNN graph, triplet mining, SemDeDup) pays
    * Σ size² on the skew — measured ×547/×258 at ×100 (q222/q253).
    * Probing the top 3 groups restores near-flat assignment balance
    * for 3× of the (now cheap) fine term. */
  val CoarseProbes = 3

  /** Corpus → centroid assignment, TWO-LEVEL with MULTI-PROBE coarse
    * routing: each vector ranks the ⌈√k⌉ coarse seeds (broadcast as a
    * plan literal — computed entirely inside the scan projection, NO
    * shuffle and no join-back), keeps its [[CoarseProbes]] nearest
    * groups, then argmaxes over only those groups' member centroids
    * (expected 3·k/√k of the k). The flat N·k assignment with the
    * count-derived k = ⌈√N⌉ is N^1.5·d — the measured ×100
    * scale-killer (q43 ×164 before two-level); multi-probe keeps that
    * fix while restoring the cell balance single-probe destroyed.
    * Argmax via max_by over tiny (vec_id, id, score) triples —
    * embeddings never fan out ×k across a shuffle (the ×probes·members
    * fan-out lives inside a broadcast-join projection; only partial-agg
    * rows shuffle). All orderings are (rounded cosine DESC, id ASC) —
    * the engine's tie convention, mirrored in the DuckDB oracle. */
  private def twoLevelAssign(spark: SparkSession, e: DataFrame,
                             cents: Array[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    val (seeds, cidToGid) = twoLevelParts(cents)
    val gidOf = cidToGid.toMap
    // model-sized literal (≤ ⌈√k⌉ ≤ 256 seeds): ascending (−cos, gid)
    // sort = (cos DESC, gid ASC), the argmax convention
    val seedsLit = typedLit(seeds.map { case (g, gv) => (g, gv.toSeq) })
    val topGids = slice(
      array_sort(transform(seedsLit, s => struct(
        (-round(cosine(s.getField("_2"), col("embedding")), 4)).as("negcos"),
        s.getField("_1").as("gid")))),
      1, CoarseProbes)
    val centsG = broadcast(cents.toSeq.map { case (cid, cv) => (cid, gidOf(cid), cv) }
      .toDF("cid", "gid", "cv"))
    e.select(col("vec_id"), col("embedding"),
        explode(transform(topGids, t => t.getField("gid"))).as("gid"))
      .join(centsG, Seq("gid"))
      .select(col("vec_id"), col("cid"),
        round(cosine(col("cv"), col("embedding")), 4).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))
  }

  /** Assignment over a centroid FRAME: the k-row model is collected
    * (free for trained centroids — already a local relation; one
    * pushed-filter job for the first-k seed frame) and routed through
    * [[twoLevelAssign]]. The embedding is joined back by vec_id (one
    * corpus-sized shuffle, never ×k copies). */
  private def ivfAssignmentWith(e: DataFrame, centsDf: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val cents: Array[(Int, Array[Double])] = centsDf
      .select(col("cid").cast("int"), col("cv"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val assignment = twoLevelAssign(spark, e, cents)
    e.join(assignment, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** IVF-probed ANN: each query searches only the IvfProbes centroid
    * lists nearest to it — the bounded-scan approximation of
    * annBruteForce. */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfWith(spark, dir, firstKCentroids(spark, dir))

  /** IVF-probed ANN over TRAINED (Lloyd) centroids — the quality
    * path; same bounded-probe search. */
  def annIvfTrained(spark: SparkSession, dir: String): DataFrame =
    annIvfWith(spark, dir, trainCentroids(spark, dir))

  /** Per-dimension robust-scaler statistics (median, quartiles, IQR)
    * over the embedding corpus — the fit step of robust feature
    * normalization. Components are quantized to integer micro-units
    * (floor(x·10⁶): one deterministic double op each) and the R-7
    * quantiles computed from the CUMULATIVE DISTRIBUTION, not an
    * in-memory per-group array: (dim, value) counts → running rank
    * window per dim → two rank lookups + dyadic interpolation. Every
    * step is a bounded shuffle or a streaming window, so the operator
    * survives a corpus whose per-dimension value list outgrows any
    * single executor (the naive `percentile` aggregate materializes
    * the whole group). Interpolation is exact: h = (n−1)·p has a
    * 2-bit dyadic fraction and the values are integers, so every
    * engine computes bit-identical doubles. */
  def dimRobustStats(spark: SparkSession, dir: String): DataFrame = {
    val comps = emb(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        expr("CAST(floor(x * 1000000) AS BIGINT)").as("q"))
    val counts = comps.groupBy(col("dim"), col("q")).agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(col("dim")).orderBy(col("q"))
    val cum = counts
      .withColumn("hi_rank", sum(col("c")).over(wcum))
      .withColumn("lo_rank", col("hi_rank") - col("c") + 1)
      .cache()
    val n = cum.groupBy(col("dim")).agg(sum(col("c")).as("n"))
    // rank targets per (dim, percentile): h 0-based -> 1-based bounds
    val ps = Seq(0.25 -> "q1", 0.5 -> "med", 0.75 -> "q3")
    val targets = n.select(col("dim") +: col("n") +: ps.flatMap { case (p, nm) =>
      val h = (col("n") - 1) * lit(p)
      Seq(floor(h).cast("long").as(s"lo_$nm"), ceil(h).cast("long").as(s"hi_$nm"),
        (h - floor(h)).as(s"f_$nm"))
    }: _*)
    def valueAt(rank1: Column, nm: String): DataFrame =
      targets.select(col("dim"), rank1.as("r"))
        .join(cum, Seq("dim"))
        .filter(col("lo_rank") <= col("r") && col("r") <= col("hi_rank"))
        .select(col("dim"), col("q").as(nm))
    val joined = ps.foldLeft(targets) { case (acc, (_, nm)) =>
      acc.join(valueAt(col(s"lo_$nm") + 1, s"v_lo_$nm"), Seq("dim"))
        .join(valueAt(col(s"hi_$nm") + 1, s"v_hi_$nm"), Seq("dim"))
    }
    val out = ps.foldLeft(joined) { case (acc, (_, nm)) =>
      acc.withColumn(nm, round(col(s"v_lo_$nm") +
        col(s"f_$nm") * (col(s"v_hi_$nm") - col(s"v_lo_$nm")), 4))
    }
    out.select(col("dim"), col("n"), col("q1"), col("med"), col("q3"),
        round(col("q3") - col("q1"), 4).as("iqr"))
      .orderBy(col("dim"))
  }

  /** ANN quality evaluation IN the engine: recall@k of the IVF probe
    * search against the brute-force ground truth, per query — the
    * continuous check an embedding-dedup/retrieval pipeline runs
    * when it swaps an index parameter (nlist/nprobe) and needs to
    * know what it traded. hits is an integer intersection count;
    * recall its single division.
    *
    * Scale posture: both searches are the proven bounded plans
    * (queries broadcast, probe lists bounded); the comparison itself
    * joins two k×queries-sized frames — negligible. At a real 100 TB
    * corpus the brute-force side runs over a SAMPLED query set (the
    * standard recall-estimation protocol); the operator is agnostic
    * to how the query frame was drawn. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val bf = annBruteForce(spark, dir).select(col("qid"), col("vec_id"))
    val ivf = annIvf(spark, dir).select(col("qid"), col("vec_id"))
    val hits = bf.join(ivf, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    bf.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / TopK, 4).as("recall"))
      .orderBy(col("qid"))
  }

  private[graft] def annIvfWith(spark: SparkSession, dir: String, centsDf: DataFrame): DataFrame = {
    val e = emb(spark, dir)
    val assigned = ivfAssignmentWith(e, centsDf)
    val cents = broadcast(centsDf)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val probeW = Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("cid"))
    val probes = queries.crossJoin(cents)
      .select(col("qid"), col("qv"), col("cid"),
        round(cosine(col("cv"), col("qv")), 4).as("pcos"))
      .withColumn("prk", row_number().over(probeW))
      .filter(col("prk") <= IvfProbes)
      .select(col("qid"), col("qv"), col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    broadcast(probes).join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qv"), col("embedding")), 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .orderBy(col("qid"), col("rk"))
  }

  /** Per-vector shape statistics — the array-function surface over
    * the embedding column: dimension, L2 norm (sequential-fold dot,
    * the proven-portable primitive), and exact component extrema.
    * Map-only, payload column pruned to `embedding`. */
  def vectorStats(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    e.select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        l2norm(col("embedding")).as("norm"),
        array_max(col("embedding")).as("vmax"),
        array_min(col("embedding")).as("vmin"))
      .orderBy(col("vec_id"))
  }

  /** Per-vector int8 (0..255) min/max quantization — the storage /
    * bandwidth knob of an embedding pipeline (4× smaller than f32,
    * 8× than f64). q_i = floor((x-min)·255/(max-min) + 0.5): floor of
    * an identical IEEE tree rather than round() because round's
    * half-breaking rule differs across engines while floor never does.
    * Map-only; outputs are integer codes + exact double min/max, so
    * the gate is exact. Constant vectors (max == min) quantize to
    * NULL codes identically on both engines. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val mn = array_min(col("embedding"))
    val mx = array_max(col("embedding"))
    val codes = transform(col("embedding"),
      x => floor((x - col("vmin")) * lit(255.0) / (col("vmax") - col("vmin")) + lit(0.5)).cast("long"))
    e.select(col("vec_id"), col("embedding"), mn.as("vmin"), mx.as("vmax"))
      .select(col("vec_id"), col("vmin"), col("vmax"),
        when(col("vmax") > col("vmin"), codes).as("q"))
      .select(col("vec_id"), col("vmin"), col("vmax"),
        element_at(col("q"), 1).as("q0"),
        element_at(col("q"), 2).as("q1"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_max(col("q")).as("q_max"))
      .orderBy(col("vec_id"))
  }

  /** Spherical k-means (Lloyd) training over the corpus: assign every
    * vector to its nearest centroid by rounded cosine, then rebuild
    * each centroid as the element-wise SUM of its members.
    *
    * Two deliberate choices make this exactly portable to the DuckDB
    * oracle (and any engine):
    *  - centroids are SUM vectors, never divided by the member count —
    *    cosine is scale-invariant, and skipping the division avoids
    *    engine-specific decimal/double division rounding;
    *  - summed components are integer-quantized (round(x·10⁶) as
    *    long): integer addition is exact and order-independent, so the
    *    result is identical regardless of aggregation order — a
    *    floating-point mean would differ per shuffle, let alone per
    *    engine. round() can never see a .5 tie here because
    *    (k+0.5)·10⁻⁶ is not representable as a float.
    *
    * Where the loop runs depends on the corpus size ([[fitsDriver]]):
    * while the corpus, at [[LocalBytesPerComponent]] a component,
    * fits the driver's [[driverBudget]] (a quarter of its heap, and
    * at most `spark.driver.maxResultSize`), it is collected once and
    * the iterations run on the driver ([[lloydLocal]]); above it,
    * each iteration is DataFrame work and the driver receives only the
    * MODEL, k×dim sum rows per iteration ([[lloydDistributed]], k ≤
    * [[IvfMaxCentroids]] by the adaptive clamp). Both give bit-equal
    * centroids. Seeded deterministically with the first k vectors; k
    * defaults to the count-derived [[adaptiveIvfK]] so the cell count
    * grows with the corpus instead of letting in-cell work go
    * quadratic. Empty clusters keep their previous centroid. */
  def trainCentroids(spark: SparkSession, dir: String,
                     k: Int = AdaptiveK, iters: Int = IvfTrainIters): DataFrame =
    trainCentroidsOn(spark, emb(spark, dir), k, iters, driverBudget(spark))

  /** As [[trainCentroids]] but over any (vec_id, embedding) frame whose
    * vec_id is a key. One aggregate job reads the row count n (which
    * resolves [[AdaptiveK]]) and the longest embedding; [[fitsDriver]]
    * against `budget` bytes then picks the kernel. */
  private[graft] def trainCentroidsOn(spark: SparkSession, e: DataFrame,
                                      k: Int, iters: Int, budget: Long): DataFrame = {
    import spark.implicits._
    // one job, no shuffle: a DataFrame agg would add an exchange stage
    val (n, dim) = e.select(size(col("embedding"))).as[Int].rdd
      .aggregate((0L, 0))((a, d) => (a._1 + 1, math.max(a._2, d)),
        (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
    val kk = if (k == AdaptiveK) adaptiveIvfK(n) else k
    val local = fitsDriver(n, dim, budget)
    val cents = if (local) lloydLocal(e, kk, iters) else lloydDistributed(spark, e, kk, iters)
    cents.toSeq.toDF("cid", "cv")
  }

  /** Driver heap [[lloydLocal]] takes per corpus component: the
    * collected double and its quantized long (16 B) plus each row's
    * array headers and tuple came to 17.0 B retained at dim 64 (×10
    * and ×100 replicas of sf0.1, heap after GC); the rest is headroom
    * for the collect's transient result blocks. */
  private[graft] val LocalBytesPerComponent = 24

  /** The Lloyd size gate: n vectors of dim components, at
    * [[LocalBytesPerComponent]] each, fit within `budget` bytes. A
    * negative budget keeps every corpus distributed. The gate is about
    * memory only: at local[4] the local kernel trained 3.2–3.8× faster
    * than the distributed one on sf0.1 and on its ×10 and ×100
    * replicas (0.64 / 1.14 / 10.1 s against 2.40 / 4.85 / 32.0 s), so
    * the distributed loop is for corpora the driver cannot hold. */
  private[graft] def fitsDriver(n: Long, dim: Int, budget: Long): Boolean =
    BigInt(n) * dim * LocalBytesPerComponent <= budget

  /** What [[lloydLocal]] may hold on the driver: a quarter of its
    * heap (Spark's unified memory takes 60% of it; in local mode the
    * executors share this heap), and no more than
    * `spark.driver.maxResultSize` (0 = no cap), above which the one
    * collect would fail. */
  private[graft] def driverBudget(spark: SparkSession): Long = {
    val heap = Runtime.getRuntime.maxMemory / 4
    val cap = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (cap > 0) math.min(heap, cap) else heap
  }

  /** Spark's ordering of a nullable double inside a struct: NULL
    * lowest, then `SQLOrderingUtil.compareDoubles` (0.0 == −0.0, NaN
    * highest). */
  private def compareNullable(a: java.lang.Double, b: java.lang.Double): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else SQLOrderingUtil.compareDoubles(a, b)

  /** The driver-side Lloyd kernel: one job collects (vec_id, embedding,
    * qv), qv computed by Spark with the same projection as
    * [[lloydDistributed]], then every iteration runs here with that
    * plan's scalar rules — [[twoLevelParts]], coarse routing to the
    * [[CoarseProbes]] smallest (−round(cos, 4), gid), the fine argmax
    * `max_by(cid, (ccos, −cid))` over those groups' members, cosine
    * through [[CosineSimilarity.cosine]] (NULL for a NULL or
    * NULL-holding embedding, as the expression gives), rounding
    * through [[round4]], and exact per-(cid, pos) long sums. */
  private[graft] def lloydLocal(e: DataFrame, k: Int, iters: Int): Array[(Int, Array[Double])] = {
    // converted to primitive arrays on the executors, so the driver
    // never holds the boxed rows (see LocalBytesPerComponent)
    val rows = e.select((col("vec_id") < k).as("seed"), col("vec_id").cast("int").as("cid"),
        col("embedding"),
        transform(col("embedding"), x => round(x * lit(1000000.0), 0).cast("long")).as("qv"))
      .rdd.map { r =>
        def nullable(i: Int): Seq[Any] = if (r.isNullAt(i)) null else r.getSeq[Any](i)
        val (v, q) = (nullable(2), nullable(3))
        val seed = !r.isNullAt(0) && r.getBoolean(0)
        (if (seed) Some(r.getInt(1)) else None,
          if (v == null || v.contains(null)) null else v.map(_.asInstanceOf[Double]).toArray,
          // a NULL component adds nothing to its sum; a NULL or empty
          // array adds no sum row (posexplode yields none)
          if (q == null) null else q.map(x => if (x == null) 0L else x.asInstanceOf[Long]).toArray)
      }
      .collect()
    val embs = rows.map(_._2)
    val qvs = rows.map(_._3)
    def cos(a: Array[Double], b: Array[Double]): java.lang.Double =
      if (a == null || b == null) null else CosineSimilarity.cosine(a, b)
    def rounded(c: java.lang.Double): java.lang.Double = if (c == null) null else round4(c)
    def negated(c: java.lang.Double): java.lang.Double = if (c == null) null else -c
    var cents: Array[(Int, Array[Double])] = rows
      .collect { case (Some(cid), _, qv) => (cid, qv.map(_.toDouble)) }.sortBy(_._1)
    for (_ <- 0 until iters) {
      val (seeds, cidToGid) = twoLevelParts(cents)
      val slot = cents.map(_._1).zipWithIndex.toMap
      val groupOf = cidToGid.groupMap(_._2)(c => slot(c._1))
      val (gids, seedVs) = (seeds.map(_._1).toArray, seeds.map(_._2).toArray)
      val members = gids.map(g => groupOf(g).toArray)
      val sums = new Array[Array[Long]](cents.length)
      val coarse = new Array[java.lang.Double](gids.length)
      val probed = new Array[Boolean](gids.length)
      embs.indices.foreach { i =>
        val v = embs(i)
        gids.indices.foreach(g => coarse(g) = negated(rounded(cos(seedVs(g), v))))
        java.util.Arrays.fill(probed, false)
        var best = -1
        var bestCos: java.lang.Double = null
        (0 until math.min(CoarseProbes, gids.length)).foreach { _ =>
          // the next smallest (−round(cos, 4), gid) group
          var g = -1
          gids.indices.foreach { h =>
            if (!probed(h) && (g < 0 || {
              val o = compareNullable(coarse(h), coarse(g))
              o < 0 || (o == 0 && gids(h) < gids(g))
            })) g = h
          }
          probed(g) = true
          members(g).foreach { m =>
            val c = rounded(cos(cents(m)._2, v))
            // max by (ccos, −cid)
            if (best < 0 || {
              val o = compareNullable(c, bestCos)
              o > 0 || (o == 0 && cents(m)._1 < cents(best)._1)
            }) { best = m; bestCos = c }
          }
        }
        val qv = qvs(i)
        if (best >= 0 && qv != null && qv.nonEmpty) {
          if (sums(best) == null) sums(best) = new Array[Long](cents(best)._2.length)
          val acc = sums(best)
          var p = 0
          while (p < qv.length) { acc(p) += qv(p); p += 1 }
        }
      }
      cents = cents.indices.map { m =>
        if (sums(m) == null) cents(m) else (cents(m)._1, sums(m).map(_.toDouble))
      }.toArray
    }
    cents
  }

  /** The distributed Lloyd kernel, pure DataFrame ops per iteration:
    * [[twoLevelAssign]] (broadcast centroids, one aggregate), then one
    * per-(cid, pos) sum aggregate whose k×dim rows are collected. */
  private[graft] def lloydDistributed(spark: SparkSession, e0: DataFrame,
                                      k: Int, iters: Int): Array[(Int, Array[Double])] = {
    import spark.implicits._
    val e = e0.cache()
    val q = e.select(col("vec_id"),
      transform(col("embedding"), x => round(x * lit(1000000.0), 0).cast("long")).as("qv"))
      .cache()
    var cents: Array[(Int, Array[Double])] = q.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int"), col("qv"))
      .as[(Int, Array[Long])].collect().sortBy(_._1)
      .map { case (cid, qv) => (cid, qv.map(_.toDouble)) }
    for (_ <- 0 until iters) {
      // two-level assignment: the flat N·k argmax per iteration is the
      // N^1.5 term at the adaptive k = ⌈√N⌉ — see [[twoLevelAssign]]
      val asg = twoLevelAssign(spark, e, cents)
      val sums = asg.join(q, Seq("vec_id"))
        .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("x")).as("s"))
        .collect() // k×dim rows — bounded model state
      val byCid = sums.groupBy(_.getAs[Int]("cid"))
      cents = cents.map { case (cid, old) =>
        byCid.get(cid) match {
          case Some(rows) =>
            val arr = new Array[Double](old.length)
            rows.foreach(r => arr(r.getAs[Int]("pos")) = r.getAs[Long]("s").toDouble)
            (cid, arr)
          case None => (cid, old)
        }
      }
    }
    e.unpersist(); q.unpersist()
    cents
  }

  val PqSubspaces = 4
  val PqK = 16
  val PqIters = 2

  /** Product-quantization ANN (Jégou et al. 2011): split each vector
    * into [[PqSubspaces]] subvectors, train a tiny codebook per
    * subspace (the exact integer-quantized [[trainCentroidsOn]]
    * kernel), ENCODE every vector as one centroid id per subspace
    * (64 doubles → 4 bytes here — the memory compression that lets a
    * 100 TB corpus's index fit in RAM), and score queries
    * asymmetrically: per subspace a (queries × k) cosine lookup
    * table broadcasts, each encoded vector's approximate similarity
    * is the FIXED op tree ((v0+v1)+v2)+v3 over its code's table
    * entries — deterministic and oracle-portable, never a
    * re-association-prone aggregate. The corpus-side work is one
    * argmax encode per subspace plus a broadcast-join scan; recall
    * is bounded by the codebook like any PQ (measured in LshSpec vs
    * brute force). */
  /** Train one codebook per subspace JOINTLY: the subspaces melt into
    * (sp, vec_id, subvec) rows and every Lloyd iteration runs ONE
    * assignment join + ONE sum aggregate covering all subspaces —
    * identical per-subspace math to [[trainCentroidsOn]] (the
    * groupings carry `sp`, so subspaces never mix), at 1/S of the job
    * count (measured ~2× on q101; at 1000 executors the win is S
    * fewer shuffle barriers per iteration). */
  private[graft] def trainSubspaceCodebooks(spark: SparkSession,
                                            subs: Seq[DataFrame],
                                            k: Int, iters: Int): Seq[DataFrame] = {
    import spark.implicits._
    val e = subs.zipWithIndex.map { case (df, sp) =>
      df.select(lit(sp).as("sp"), col("vec_id"), col("embedding"))
    }.reduce(_ unionByName _).cache()
    val q = e.select(col("sp"), col("vec_id"),
      transform(col("embedding"), x => round(x * lit(1000000.0), 0).cast("long")).as("qv"))
      .cache()
    var cents: Map[(Int, Int), Array[Double]] = q.filter(col("vec_id") < k)
      .select(col("sp"), col("vec_id").cast("int"), col("qv"))
      .as[(Int, Int, Array[Long])].collect()
      .map { case (sp, cid, qv) => (sp, cid) -> qv.map(_.toDouble) }.toMap
    for (_ <- 0 until iters) {
      val centsDf = broadcast(cents.toSeq.map { case ((sp, cid), cv) => (sp, cid, cv) }
        .toDF("sp", "cid", "cv"))
      val asg = e.join(centsDf, Seq("sp"))
        .select(col("sp"), col("vec_id"), col("cid"),
          round(cosine(col("cv"), col("embedding")), 4).as("ccos"))
        .groupBy(col("sp"), col("vec_id"))
        .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))
      val sums = asg.join(q, Seq("sp", "vec_id"))
        .select(col("sp"), col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy(col("sp"), col("cid"), col("pos"))
        .agg(sum(col("x")).as("s"))
        .collect() // S×k×subLen rows — bounded model state
      val grouped = sums.groupBy(r => (r.getAs[Int]("sp"), r.getAs[Int]("cid")))
      cents = cents.map { case (key, old) =>
        key -> (grouped.get(key) match {
          case Some(rows) =>
            val arr = new Array[Double](old.length)
            rows.foreach(r => arr(r.getAs[Int]("pos")) = r.getAs[Long]("s").toDouble)
            arr
          case None => old
        })
      }
    }
    e.unpersist(); q.unpersist()
    (0 until subs.length).map { sp =>
      cents.collect { case ((s, cid), cv) if s == sp => (cid, cv) }
        .toSeq.sortBy(_._1).toDF("cid", "cv")
    }
  }

  def annPq(spark: SparkSession, dir: String, topK: Int = TopK,
            shortlistK: Int = 50): DataFrame = {
    val e = emb(spark, dir)
    // flat PQ: every (query, corpus) pair is an ADC candidate
    val qids = broadcast(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid")))
    val pairs = e.select(col("vec_id")).crossJoin(qids)
      .filter(col("vec_id") =!= col("qid"))
    pqSearch(spark, e, pairs, topK, shortlistK)
  }

  /** IVF-PQ two-level ANN — the composition of the coarse quantizer
    * (q43's trained Lloyd centroids: each query probes only its
    * IvfProbes nearest inverted lists) with the fine quantizer (q101's
    * product codes: ADC scoring by table lookup) and the exact
    * re-rank. The standard billion-scale index layout (IVFADC, Jégou
    * et al.): at 100 TB the ADC pass touches only the probed lists'
    * codes (corpus/nlist × nprobe rows per query, 4 bytes each), the
    * exact pass only the shortlist — the corpus is never scanned.
    * Candidate restriction happens BEFORE scoring: the probe-list join
    * produces (qid, vec_id) pairs and only those are ADC-scored. */
  def annIvfPq(spark: SparkSession, dir: String, topK: Int = TopK,
               shortlistK: Int = 50): DataFrame = {
    val e = emb(spark, dir)
    val cents = trainCentroids(spark, dir)
    val assigned = ivfAssignmentWith(e, cents)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val probeW = Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("cid"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"),
        round(cosine(col("cv"), col("qv")), 4).as("pcos"))
      .withColumn("prk", row_number().over(probeW))
      .filter(col("prk") <= IvfProbes)
      .select(col("qid"), col("cid"))
    val pairs = broadcast(probes).join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
    pqSearch(spark, e, pairs, topK, shortlistK)
  }

  /** Mean-reciprocal-rank evaluation of the IVF-PQ system against the
    * brute-force ground truth: for each query, where does the TRUE
    * nearest neighbor land in the system's top-k (0 = missed)?
    * Reciprocal ranks in exact basis points (10000 div rank). The
    * retrieval-quality counterpart to recall@k (q146): recall counts
    * set overlap, MRR penalizes the system for burying the right
    * answer at rank 5. Both searches are the proven bounded plans;
    * the comparison joins two k×queries frames. */
  def mrrEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = annBruteForce(spark, dir).filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("true_top"))
    val sys = annIvfPq(spark, dir)
      .select(col("qid").as("sqid"), col("vec_id").as("svec"), col("rk").as("srk"))
    truth.join(sys,
        col("qid") === col("sqid") && col("true_top") === col("svec"), "left")
      .select(col("qid"), col("true_top"),
        coalesce(col("srk"), lit(0L)).as("found_rank"),
        when(col("srk").isNull, lit(0L))
          .otherwise(expr("10000 div srk")).as("rr_bp"))
      .orderBy(col("qid"))
  }

  /** PQ ADC search over an explicit candidate-pair frame
    * (qid, vec_id): train subspace codebooks, encode the corpus,
    * build per-query lookup tables, score ONLY the given pairs,
    * shortlist, exact re-rank. */
  private def pqSearch(spark: SparkSession, e: DataFrame, pairsIn: DataFrame,
                       topK: Int, shortlistK: Int): DataFrame = {
    val dim = e.select(size(col("embedding"))).limit(1).collect()(0).getInt(0)
    require(dim % PqSubspaces == 0, s"dim $dim not divisible by $PqSubspaces")
    val subLen = dim / PqSubspaces
    def sub(s: Int): DataFrame = e.select(col("vec_id"),
      slice(col("embedding"), s * subLen + 1, subLen).as("embedding"))
    // one codebook per subspace (k×subLen driver rows — the model),
    // trained jointly in shared Lloyd passes
    // broadcast at the USE sites, not here: a hint wrapped under the
    // meltedBooks union below would not attach to any join (Spark's
    // hint resolution drops it with a HintErrorLogger warning)
    val books = trainSubspaceCodebooks(spark,
      (0 until PqSubspaces).map(sub), PqK, PqIters)
    // encodings fused the same way: melt subspaces, ONE broadcast join
    // + argmax + pivot back to (vec_id, c0..c3) — instead of a
    // join+aggregate pass per subspace and a 4-way re-join
    val meltedSubs = (0 until PqSubspaces).map(s =>
      sub(s).select(lit(s).as("sp"), col("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    val meltedBooks = broadcast((0 until PqSubspaces).map(s =>
      books(s).select(lit(s).as("sp"), col("cid"), col("cv")))
      .reduce(_ unionByName _))
    val asgAll = meltedSubs.join(meltedBooks, Seq("sp"))
      .select(col("sp"), col("vec_id"), col("cid"),
        round(cosine(col("cv"), col("embedding")), 4).as("ccos"))
      .groupBy(col("sp"), col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))
    val encoded = asgAll.groupBy(col("vec_id"))
      .agg((0 until PqSubspaces).map(s =>
          max(when(col("sp") === s, col("cid"))).as(s"c$s")).head,
        (1 until PqSubspaces).map(s =>
          max(when(col("sp") === s, col("cid"))).as(s"c$s")): _*)
    // per-subspace (query × centroid) lookup tables — nq·k rows each.
    // Entry = round4(cos(q_s, c_s)) · ||q_s||: equivalent (up to the
    // per-query constant ||q||·√S) to the cosine of q against the
    // unit-centroid reconstruction concat(c_s/||c_s||) — the standard
    // PQ asymmetric scorer; an UNWEIGHTED cosine sum would overweight
    // low-energy subspaces and misrank
    val tables = (0 until PqSubspaces).map { s =>
      broadcast(sub(s).filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .crossJoin(broadcast(books(s)))
        .select(col("qid"), col("cid").as(s"tc$s"),
          (round(cosine(col("cv"), col("qv")), 4) * l2norm(col("qv"))).as(s"v$s")))
    }
    // attach codes to the candidate pairs, then stitch the
    // per-subspace table values in; the table qids are RENAMED before
    // joining — joining a frame against a projection of itself would
    // silently resolve both qid sides to one attribute (a trivially
    // true predicate) and mispair values across queries
    val joined = (0 until PqSubspaces).foldLeft(pairsIn.join(encoded, Seq("vec_id"))) {
      (acc, s) =>
        val t = tables(s).withColumnRenamed("qid", s"tq$s")
        acc.join(t, col("qid") === col(s"tq$s") && col(s"c$s") === col(s"tc$s"))
          .drop(s"tq$s", s"tc$s")
    }
    val score = ((col("v0") + col("v1")) + col("v2")) + col("v3")
    // two-stage retrieval (the standard ADC + refine pipeline): the
    // compressed codes produce a shortlist, then ONLY the shortlist's
    // full vectors are fetched for exact re-ranking — at 100 TB the
    // exact pass touches shortlist·nq rows, never the corpus
    val aw = Window.partitionBy(col("qid")).orderBy(col("approx").desc, col("vec_id"))
    val shortlist = joined.filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), score.as("approx"))
      .withColumn("ark", row_number().over(aw))
      .filter(col("ark") <= shortlistK)
      .select(col("qid"), col("vec_id"))
    val queries = broadcast(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    shortlist.join(e, Seq("vec_id")).join(queries, Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qv"), col("embedding")), 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .orderBy(col("qid"), col("rk"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embeddings (the exact,
    * engine-portable [[trainCentroids]]), then compare pairs ONLY
    * within each cluster — the pairwise work drops from O(N²) to
    * O(Σ|cluster|²) ≈ N²/k, and each cluster's pair join is an
    * equi-join on the cluster id, so nothing quadratic ever crosses
    * the shuffle. A vector is a duplicate when a LOWER-id member of
    * its cluster is within `threshold` cosine (greedy keep-lowest-id
    * — deterministic, one pass; full transitive-closure resolution is
    * the q41 operator). k scales with the corpus BY DEFAULT (the
    * count-derived [[adaptiveIvfK]]) so clusters stay bounded;
    * pathological mega-clusters get the same cap treatment as
    * [[graft.operators.Dedup.minhashLshCapped]].
    * Returns (vec_id, cid, is_dup) for every corpus vector. */
  def semanticDedup(spark: SparkSession, dir: String,
                    k: Int = AdaptiveK, iters: Int = IvfTrainIters,
                    threshold: Double = NearDupThreshold): DataFrame = {
    val e = emb(spark, dir)
    val assigned = ivfAssignmentWith(e, trainCentroids(spark, dir, k, iters)).cache()
    val l = assigned.select(col("cid"), col("vec_id").as("da"), col("embedding").as("va"))
    val r = assigned.select(col("cid"), col("vec_id").as("db"), col("embedding").as("vb"))
    val dups = l.join(r, Seq("cid"))
      .filter(col("da") < col("db"))
      .filter(round(cosine(col("va"), col("vb")), 4) >= threshold)
      .select(col("db").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cid"))
      .join(dups.withColumn("is_dup", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast("long").as("cid"),
        coalesce(col("is_dup"), lit(0L)).as("is_dup"))
      .orderBy(col("vec_id"))
  }

  /** Documents returned per query by [[groupMaxSim]]. */
  val MaxSimTopDocs = 3

  /** Doc-granularity retrieval over a CHUNK-level index — the
    * late-interaction serving shape (ColBERT-family): the index
    * stores one vector per chunk, results are parent documents (label
    * groups stand in for parents here), and a document's score is the
    * MAX over its chunks' cosines (single-query-vector MaxSim).
    * Candidates come from the query's [[IvfProbes]] nearest trained
    * cells — the identical bounded-probe machinery as
    * [[annIvfTrained]], which is what keeps this from being a corpus
    * scan at 100 TB; the group-max then collapses candidates to ≤
    * |docs touched| rows before the tiny top-k rank. */
  def groupMaxSim(spark: SparkSession, dir: String,
                  topDocs: Int = MaxSimTopDocs): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(spark, dir)
    val cents = trainCentroids(spark, dir)
    val assigned = ivfAssignmentWith(e, cents)
      .join(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label")),
        Seq("vec_id"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val probeW = Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("cid"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("qid"), col("qv"), col("cid"),
        round(cosine(col("cv"), col("qv")), 4).as("pcos"))
      .withColumn("prk", row_number().over(probeW))
      .filter(col("prk") <= IvfProbes)
      .select(col("qid"), col("qv"), col("cid"))
    val byDoc = broadcast(probes).join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("label"))
      .agg(max(round(cosine(col("qv"), col("embedding")), 4)).as("maxcos"),
        count(lit(1)).as("n_chunks"))
    val w = Window.partitionBy(col("qid")).orderBy(col("maxcos").desc, col("label"))
    byDoc.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topDocs)
      .orderBy(col("qid"), col("rk"))
  }

  /** Output dimensionality of [[randomProjection]]. */
  val ProjDims = 4

  /** Johnson–Lindenstrauss sign projection — the cheap, data-oblivious
    * dimensionality reduction (Achlioptas 2003: ±1 entries preserve
    * pairwise distances in expectation): component i's sign for output
    * dimension j is bit "first md5 nibble < 8" of `j|i` — the engine's
    * portable hash convention, so the matrix needs no storage and no
    * broadcast, and every engine regenerates it bit-identically.
    * Components are the integer micro-units (floor(x·10⁶)) every
    * exact vector op here uses, so projections are BIGINT sums —
    * hash-gateable, overflow-safe, and mergeable. One posexplode +
    * one vec_id-keyed aggregation; map-shuffle-reduce, no joins. */
  def randomProjection(spark: SparkSession, dir: String): DataFrame = {
    val comps = emb(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        expr("CAST(floor(x * 1000000) AS BIGINT)").as("qi"))
    val projs = (0 until ProjDims).map { j =>
      val sg = when(conv(substring(md5(concat(lit(j.toString), lit("|"),
        col("dim").cast("string"))), 1, 1), 16, 10).cast("int") < 8,
        col("qi")).otherwise(-col("qi"))
      sum(sg).as(s"p$j")
    }
    comps.groupBy(col("vec_id"))
      .agg(projs.head, projs.tail: _*)
      .orderBy(col("vec_id"))
  }

  /** Embedding distribution DRIFT between two corpus halves — the
    * monitor a production embedding pipeline runs between crawl
    * snapshots / model versions: per dimension, compare the mean
    * component of half A (even vec_ids) against half B (odd). To
    * stay hash-exact the comparison is the CROSS-MULTIPLIED mean
    * difference |sum_A·n_B − sum_B·n_A| over integer micro-components
    * — algebraically sign(mean_A − mean_B)·n_A·n_B·|Δmean|, so zero
    * iff the means agree, monotone in the drift, and never a signed
    * floor-division (the cross-engine trap). One explode + one
    * (half, dim)-keyed aggregation; the readout is dims rows. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val comps = emb(spark, dir)
      .select(pmod(col("vec_id"), lit(2L)).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("half"), col("dim").cast("long").as("dim"),
        expr("CAST(floor(x * 1000000) AS BIGINT)").as("qi"))
    val agg = comps.groupBy(col("half"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qi")).as("s"))
    val h0 = agg.filter(col("half") === 0)
      .select(col("dim"), col("n").as("n0"), col("s").as("sum0_micro"))
    val h1 = agg.filter(col("half") === 1)
      .select(col("dim"), col("n").as("n1"), col("s").as("sum1_micro"))
    h0.join(h1, Seq("dim"))
      .withColumn("abs_cross",
        abs(col("sum0_micro") * col("n1") - col("sum1_micro") * col("n0")))
      .orderBy(col("dim"))
  }

  /** Near-zero-variance dimension PRUNING — the feature-selection
    * pass that drops embedding dimensions carrying (almost) no
    * signal before indexing/training: per dimension, the exact
    * scaled variance n²·Var = n·Σq² − (Σq)² over integer
    * micro-components (one shuffle, DECIMAL(38,0) products so no
    * corpus overflows), pruned when it falls below a threshold
    * expressed the same scaled way (n²·τ). Division-free,
    * sign-safe, hash-exact; emits one row per dimension with the
    * verdict. */
  def dimVariancePrune(spark: SparkSession, dir: String): DataFrame = {
    val comps = emb(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        expr("CAST(floor(x * 1000000) AS BIGINT)").as("qi"))
    comps.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qi")).as("s"),
        sum(expr("CAST(qi AS DECIMAL(38,0)) * qi")).as("s2"))
      // n²·Var in micro² units; threshold τ = 0.0025 (σ = 0.05) scaled
      // the same way: n²·τ·10¹² = n² · 2.5e9
      .select(col("dim"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * s2 - CAST(s AS DECIMAL(38,0)) * s")
          .cast("string").as("scaled_var"),
        expr("""CAST(CASE WHEN CAST(n AS DECIMAL(38,0)) * s2
                  - CAST(s AS DECIMAL(38,0)) * s
                < CAST(n AS DECIMAL(38,0)) * n * 2500000000 THEN 1 ELSE 0 END AS INT)""")
          .as("pruned"))
      .orderBy(col("dim"))
  }

  /** Neighbors per vector in [[knnGraph]]. */
  val KnnK = 3

  /** Corpus-wide kNN GRAPH construction — the primitive under
    * graph-based curation (SemDeDup successors, diversity maximizers,
    * graph-connectivity dedup): EVERY vector gets its k nearest
    * in-cell neighbors, not just a handful of query vectors. The
    * trained-IVF cell bounds each vector's candidate set to its own
    * cell (the N²/k SemDeDup join shape — in-cell neighbors are by
    * construction the high-cosine ones, which is what a kNN graph
    * wants), one window ranks per vector, and the output is exactly
    * N·k edges. At 100 TB: the k-means cell count scales with N by
    * default ([[adaptiveIvfK]]) so cells stay bounded; the pair join
    * never crosses cells. */
  def knnGraph(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfAssignmentWith(emb(spark, dir),
      trainCentroids(spark, dir)).cache()
    val l = assigned.select(col("cid"), col("vec_id").as("src"),
      col("embedding").as("va"))
    val r = assigned.select(col("cid"), col("vec_id").as("dst"),
      col("embedding").as("vb"))
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    l.join(r, Seq("cid"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(cosine(col("va"), col("vb")), 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy(col("src"), col("rk"))
  }

  /** IVF index HEALTH audit — the check a serving system runs after
    * (re)training before routing queries: per-cell member counts and
    * the imbalance profile. A mega-cell means probe latency spikes
    * and the q222-style in-cell joins go quadratic; empty cells mean
    * wasted probes. Everything integer: per-cell counts, the
    * mean-cell load (floor), and each cell's load as ppm of the
    * corpus. One assignment pass + a k-row readout. */
  def ivfCellStats(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssignmentWith(emb(spark, dir), trainCentroids(spark, dir))
    val cells = assigned.groupBy(col("cid").cast("long").as("cid"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = cells.agg(sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vecs"),
        expr("1000000 * n_vecs div n_total").as("load_ppm"),
        expr("n_total div n_cells").as("mean_load"),
        expr("CAST(CASE WHEN n_vecs * n_cells > 2 * n_total THEN 1 ELSE 0 END AS INT)")
          .as("hot"))
      .orderBy(col("cid"))
  }

  /** Per-cluster quota for [[clusterBalancedSample]]. */
  val ClusterQuota = 8

  /** Cluster-balanced diversity sampling — the "cover the embedding
    * space, don't mirror its density" selection step (the k-means
    * cousin of DiverseEvol/k-center selection): k-means-cluster the
    * corpus ([[trainCentroids]], exact and engine-portable), then take
    * at most [[ClusterQuota]] vectors PER CLUSTER instead of uniformly
    * — dense modes stop dominating the sample and sparse regions keep
    * representation. Within a cluster the draw is the engine's
    * standard deterministic lottery: rank by (md5(vec_id), vec_id), so
    * reruns and engines agree without any RNG state.
    *
    * Scale shape: assignment is the broadcast-centroid argmax (one
    * corpus pass), the per-cluster rank is a window over cid — k
    * partitions, each bounded by cluster size, and AQE splits a
    * mega-cluster's sort; the output is ≤ k·quota rows. */
  def clusterBalancedSample(spark: SparkSession, dir: String,
                            k: Int = AdaptiveK, iters: Int = IvfTrainIters,
                            quota: Int = ClusterQuota): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfAssignmentWith(emb(spark, dir),
      trainCentroids(spark, dir, k, iters))
    val sizes = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("csize"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    assigned.select(col("vec_id"), col("cid"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= quota)
      .join(broadcast(sizes), Seq("cid"))
      .select(col("vec_id"), col("cid").cast("long").as("cid"),
        col("csize"), col("rk"))
      .orderBy(col("vec_id"))
  }

  /** Contrastive triplet mining for embedding training — the data-prep
    * step behind every contrastive fine-tune (SimCSE / GTR / E5
    * recipes): for each anchor vector, a *positive* (its most-similar
    * in-cell neighbor at cosine ≥ [[NearDupThreshold]]) and a *hard
    * negative* (the most-similar neighbor BELOW the threshold — the
    * near-miss that teaches the margin; random negatives are too easy
    * to carry gradient). Anchors lacking either side are dropped: a
    * triplet needs all three corners.
    *
    * Candidates come from the same trained-IVF cell as the anchor —
    * the SemDeDup trick that bounds the pair join to N²/k per cell
    * instead of all-pairs (hard negatives are by definition
    * high-similarity, so in-cell mining loses only easy ones). One
    * equi-join on cid, two per-anchor window ranks, one join to pair
    * the sides — nothing quadratic crosses the shuffle. */
  def tripletMining(spark: SparkSession, dir: String,
                    k: Int = AdaptiveK, iters: Int = IvfTrainIters,
                    threshold: Double = NearDupThreshold): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(spark, dir)
    val assigned = ivfAssignmentWith(e, trainCentroids(spark, dir, k, iters)).cache()
    val l = assigned.select(col("cid"), col("vec_id").as("anchor"),
      col("embedding").as("va"))
    val r = assigned.select(col("cid"), col("vec_id").as("cand"),
      col("embedding").as("vb"))
    val sided = l.join(r, Seq("cid"))
      .filter(col("anchor") =!= col("cand"))
      .withColumn("cos", round(cosine(col("va"), col("vb")), 4))
      .withColumn("side", when(col("cos") >= threshold, "pos").otherwise("neg"))
    val best = Window.partitionBy(col("anchor"), col("side"))
      .orderBy(col("cos").desc, col("cand"))
    val top = sided
      .withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
    val pos = top.filter(col("side") === "pos")
      .select(col("anchor"), col("cand").as("pos_id"), col("cos").as("cos_pos"))
    val neg = top.filter(col("side") === "neg")
      .select(col("anchor"), col("cand").as("neg_id"), col("cos").as("cos_neg"))
    pos.join(neg, Seq("anchor"))
      .select(col("anchor"), col("pos_id"), col("cos_pos"),
        col("neg_id"), col("cos_neg"),
        round(col("cos_pos") - col("cos_neg"), 4).as("margin"))
      .orderBy(col("anchor"))
  }

  /** Random-hyperplane LSH for cosine similarity — the bucketed scale
    * path for embedding near-dup at corpus sizes where all-pairs is
    * impossible. Hyperplane p's component i is ±1 derived from
    * md5("p|i") parity (deterministic, engine-portable, no stored
    * model); signature = `planes` sign bits; banding with `bands`
    * bands → candidate pairs share ≥1 band; exact cosine verifies.
    *
    * Recall/precision follow the standard banding curve
    * P(candidate) = 1 − (1 − p^r)^b with p = 1 − θ/π; defaults
    * (16 planes, 8 bands of 2) catch cos ≥ 0.9 pairs with ≥ 99.9%
    * probability while pruning near-orthogonal pairs.
    *
    * This is the gated q24 path (NearDupPlanes/NearDupBands at the
    * 0.45 threshold): fully distributed — candidate generation is a
    * shuffle on the band key, verification a pair of id-joins; nothing
    * corpus-sized ever reaches the driver (the one `limit(1).collect`
    * below probes the embedding DIMENSION, a single row). The DuckDB
    * oracle reproduces the identical md5-parity hyperplanes, signature
    * bits, and banding, so the gate checks the LSH output exactly.
    */
  def lshNearDupPairs(spark: SparkSession, dir: String,
                      planes: Int = 16, bands: Int = 8,
                      threshold: Double = 0.9): DataFrame =
    lshBanded(spark, dir, planes, bands) match {
      case None => emptyPairs(spark, "da", "db")
      case Some((sigs, banded)) =>
        val l = banded.select(col("vec_id").as("da"), col("band"), col("bits"))
        val rt = banded.select(col("vec_id").as("db"), col("band"), col("bits"))
        // dedup collision pairs BEFORE scoring: a near-identical pair
        // can collide in every band — score each candidate once
        val cand = l.join(rt, Seq("band", "bits"))
          .filter(col("da") < col("db"))
          .select(col("da"), col("db")).distinct()
        scorePairs(sigs, cand, "da", "db", threshold)
          .orderBy(col("da"), col("db"))
    }

  /** Cross-corpus near-dup: the incoming BATCH (vec_id % 5 = 0, the
    * deterministic demo split) probed against the existing CORPUS
    * (the rest) through the SAME md5-parity hyperplane banding —
    * "dedupe the new crawl against the lake" at embedding level.
    * Signatures are computed once over both sides; the band join
    * pairs batch rows only with corpus rows (the sides are disjoint
    * by construction), so cost is O(batch collisions), never
    * corpus × corpus. Gated (q87) with the banding mirrored in the
    * oracle exactly. */
  def lshCrossNearDup(spark: SparkSession, dir: String,
                      planes: Int = 16, bands: Int = 8,
                      threshold: Double = 0.9): DataFrame =
    lshBanded(spark, dir, planes, bands) match {
      case None => emptyPairs(spark, "batch_id", "corpus_id")
      case Some((sigs, banded)) =>
        val l = banded.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("batch_id"), col("band"), col("bits"))
        val rt = banded.filter(col("vec_id") % 5 =!= 0)
          .select(col("vec_id").as("corpus_id"), col("band"), col("bits"))
        val cand = l.join(rt, Seq("band", "bits"))
          .select(col("batch_id"), col("corpus_id")).distinct()
        scorePairs(sigs, cand, "batch_id", "corpus_id", threshold)
          .orderBy(col("batch_id"), col("corpus_id"))
    }

  private def emptyPairs(spark: SparkSession, a: String, b: String): DataFrame =
    spark.emptyDataFrame
      .select(lit(0L).as(a), lit(0L).as(b), lit(0.0).as("cos")).limit(0)

  /** Shared LSH core: (cached signature frame, banded key frame) —
    * None on an empty embedding table. `bands` = [[AdaptiveBands]]
    * derives the banding from the corpus count ([[adaptiveBandBits]]);
    * an explicit band count must divide `planes`. */
  private def lshBanded(spark: SparkSession, dir: String, planes: Int,
                        bands: Int): Option[(DataFrame, DataFrame)] = {
    import spark.implicits._
    require(planes <= 62, "signature is a long: at most 62 planes")
    val r =
      if (bands == AdaptiveBands) adaptiveBandBits(emb(spark, dir).count())
      else {
        require(planes % bands == 0, "bands must divide planes")
        planes / bands
      }
    val nBands = planes / r
    // deterministic ±1 hyperplane components from md5 parity
    def sign(p: Int, i: Int): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p|$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1 else -1
    }
    val vecs = emb(spark, dir).as[(Long, Array[Double])]
    val first = vecs.limit(1).collect()
    if (first.isEmpty) return None
    val dim = first.head._2.length
    val planeMat = Array.tabulate(planes, dim)((p, i) => sign(p, i).toDouble)
    val bcPlanes = spark.sparkContext.broadcast(planeMat)
    // cached: the signature map (a typed .map, opaque to Catalyst
    // subplan reuse) feeds FOUR subplans — both sides of the band
    // join and both verification id-joins; without the cache the
    // scan + planes×dim signature computation runs 4× per query
    // (harness clears the Spark cache between queries)
    val sigs = vecs.map { case (id, v) =>
      val pm = bcPlanes.value
      var sig = 0L
      var p = 0
      while (p < pm.length) {
        if (dotArr(pm(p), v) >= 0) sig |= (1L << p)
        p += 1
      }
      (id, v, sig)
    }.toDF("vec_id", "v", "sig").cache()
    // band keys: candidates collide on ≥1 band of r bits
    val banded = sigs.select(col("vec_id"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * r).bitwiseAND(lit((1L << r) - 1)).as("bits"))): _*)).as("bk"))
      .select(col("vec_id"), col("bk.band"), col("bk.bits"))
    Some((sigs, banded))
  }

  /** Exact-cosine verification of candidate id pairs against the
    * cached signature frame's vectors. */
  private def scorePairs(sigs: DataFrame, cand: DataFrame, a: String, b: String,
                         threshold: Double): DataFrame = {
    val vecsById = sigs.select(col("vec_id"), col("v"))
    cand
      .join(vecsById.select(col("vec_id").as(a), col("v").as("va")), Seq(a))
      .join(vecsById.select(col("vec_id").as(b), col("v").as("vb")), Seq(b))
      .select(col(a), col(b), round(cosine(col("va"), col("vb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Sequential primitive dot product — same fold order as the
    * expression path and the oracle's list_dot_product. */
  private[graft] def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Spark `round(x, 4)` for doubles: NaN and ±Inf pass through, any
    * other value is rounded HALF_UP from its shortest decimal string
    * (`BigDecimal.valueOf`), as Spark's `Round` does.
    *
    * The BigDecimal route costs ~0.5 µs, so |x·10⁴| < 10⁵ away from a
    * half-way point takes a fast path: there the double product is
    * within 10⁻¹⁰ of the decimal's, so it picks the same integer k,
    * and k / 10⁴ is what `BigDecimal.doubleValue` returns for k at
    * scale 4. A long k keeps −0.0 out, as BigDecimal has no −0. */
  private[graft] def round4(x: Double): Double = {
    val y = math.abs(x * 1e4)
    if (x.isNaN || x.isInfinite) x
    else if (y < 1e5 && math.abs(y - math.floor(y) - 0.5) > 1e-9) {
      val k = math.floor(y + 0.5).toLong
      (if (x < 0) -k else k) / 1e4
    }
    else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Pearson correlation matrix over the first `dims` embedding
    * dimensions, as exact-integer sufficient statistics: components
    * are quantized to BIGINT (floor(x·10⁶)), every (i<j) pair's
    * products are expanded MAP-ONLY inside the row by nested
    * higher-order `transform`s (no per-dimension self-join — the
    * classic formulation shuffles the exploded components on vec_id
    * and re-joins them, corpus-sized twice), then a single aggregation
    * onto the dims²/2 cell grid accumulates Σx Σy Σxy Σx² Σy² n as
    * DECIMAL(38,0) — exact at any corpus size where a BIGINT n·Σxy
    * would overflow past ~10⁹ rows. The only float math is the final
    * (n·Σxy−ΣxΣy)/√(n·Σx²−(Σx)²)/√(n·Σy²−(Σy)²), computed from
    * exactly-representable decimals — identical IEEE doubles on any
    * engine, rounded at 6dp. */
  def corrMatrix(spark: SparkSession, dir: String, dims: Int = 8): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    val pairs = emb(spark, dir)
      .select(expr(s"transform(slice(embedding, 1, $dims), " +
        "x -> CAST(floor(x * 1000000) AS BIGINT))").as("v"))
      .select(explode(expr(
        s"""flatten(transform(sequence(0, ${dims - 2}), i ->
           |  transform(sequence(i + 1, ${dims - 1}), j ->
           |    struct(i AS i, j AS j, v[i] AS x, v[j] AS y))))""".stripMargin))
        .as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"),
        col("p.x").cast(d38).as("x"), col("p.y").cast(d38).as("y"))
    pairs
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x")).cast(d38).as("sx"), sum(col("y")).cast(d38).as("sy"),
        sum(col("x") * col("y")).cast(d38).as("sxy"),
        sum(col("x") * col("x")).cast(d38).as("sxx"),
        sum(col("y") * col("y")).cast(d38).as("syy"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n").cast("long").as("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("corr"))
      .orderBy(col("i"), col("j"))
  }

  /** Deterministic negative sampling for contrastive training: every
    * anchor (the NumQueries query vectors) gets k negatives drawn from
    * a fixed md5-minimal candidate pool, excluding the anchor itself
    * and its true top-k neighbors (the [[annBruteForce]] positives) —
    * the standard "random negatives, but never accidental positives"
    * construction, made rerun- and engine-stable by ranking on
    * md5(anchor | candidate) instead of rand().
    *
    * Scale posture: the pool is one TakeOrdered over the corpus
    * (poolSize rows, broadcast); anchors × pool is a bounded cross
    * join; the positive exclusion is a left-anti against the top-k
    * pairs; the final rank windows over ≤ poolSize rows per anchor. */
  def negativeSample(spark: SparkSession, dir: String,
      poolSize: Int = 64, k: Int = 5): DataFrame = {
    val e = emb(spark, dir)
    val pool = e.select(col("vec_id"),
        md5(col("vec_id").cast("string")).as("pk"))
      .orderBy(col("pk"), col("vec_id")).limit(poolSize)
      .select(col("vec_id"))
    val positives = annBruteForce(spark, dir).select(col("qid"), col("vec_id"))
    val anchors = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"))
    val cand = anchors.crossJoin(broadcast(pool))
      .filter(col("vec_id") =!= col("qid"))
      .join(positives, Seq("qid", "vec_id"), "left_anti")
      .select(col("qid"), col("vec_id"),
        md5(concat(col("qid").cast("string"), lit("|"),
          col("vec_id").cast("string"))).as("key"))
    val w = Window.partitionBy(col("qid")).orderBy(col("key"), col("vec_id"))
    cand.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("vec_id"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Maximal-marginal-relevance re-rank — the diversity-aware top-k a
    * curation/retrieval pipeline uses when plain cosine top-k returns
    * k near-copies of the same document: greedily select k of the
    * nCand most relevant candidates, each step taking the argmax of
    * 0.5·rel(c) − 0.5·max_{s∈selected} sim(c, s) (classic MMR, λ=½;
    * Carbonell & Goldstein 1998). Ties break on vec_id; rel and all
    * pairwise sims are the 4-dp-rounded portable cosine, and the MMR
    * combination is two IEEE ops in a fixed order, so scores (and
    * therefore every greedy choice) are bit-identical to the oracle's
    * recursive-CTE replay.
    *
    * Scale posture: the corpus-sized work is one broadcast-query
    * relevance scan + TakeOrdered top-nCand (no global sort); the
    * greedy runs on nCand rel rows + nCand² pairwise sims — bounded
    * model-state on the driver, the same contract as the IVF centroid
    * table, never corpus-sized. */
  def mmrRerank(spark: SparkSession, dir: String, nCand: Int = 20, k: Int = 5)
      : DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val q = broadcast(e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
    val rel = e.filter(col("vec_id") > 0).crossJoin(q)
      .select(col("vec_id"), col("embedding"),
        round(cosine(col("qv"), col("embedding")), 4).as("rel"))
    val cand = rel.orderBy(col("rel").desc, col("vec_id")).limit(nCand)
      .select(col("vec_id"), col("rel"), col("embedding"))
    val a = cand.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = cand.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val sims = a.crossJoin(broadcast(b)).filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"), round(cosine(col("va"), col("vb")), 4).as("sim"))
    val relM = cand.select(col("vec_id"), col("rel")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val simM = sims.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    var picked = Vector.empty[Long]
    val out = Seq.newBuilder[(Long, Long, Double, Double)]
    for (step <- 1 to math.min(k, relM.size)) {
      val scored = relM.keysIterator.filterNot(picked.contains).map { c =>
        val s = if (picked.isEmpty) relM(c)
          else 0.5 * relM(c) - 0.5 * picked.iterator.map(p => simM((c, p))).max
        (c, s)
      }
      val (cBest, sBest) = scored.minBy { case (c, s) => (-s, c) }
      picked :+= cBest
      out += ((step.toLong, cBest, relM(cBest), sBest))
    }
    out.result().toDF("step", "vec_id", "rel", "mmr").orderBy(col("step"))
  }

  /** Matryoshka truncation dims evaluated against the full-dim truth. */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** Matryoshka-representation evaluation (Kusupati et al. 2022):
    * recall@[[TopK]] of brute-force retrieval over PREFIX slices of
    * the embedding vs the full-dimension truth — the measurement that
    * tells you how many dims you can drop (4-8× less ANN memory and
    * bandwidth) before retrieval quality falls off. One scored
    * cross-join per dim over the broadcast query set; recall in exact
    * basis points (integer hit counts, one `div`). */
  def matryoshkaEval(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).cache()
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    def topkAt(d: Int): DataFrame = {
      val queries = broadcast(
        e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), slice(col("embedding"), 1, d).as("qv")))
      e.select(col("vec_id"), slice(col("embedding"), 1, d).as("v"))
        .crossJoin(queries)
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(cosine(col("qv"), col("v")), 4).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TopK)
        .select(col("qid"), col("vec_id"))
    }
    val truth = topkAt(MatryoshkaDims.max).cache()
    MatryoshkaDims.map { d =>
      topkAt(d).join(truth, Seq("qid", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(d.toLong).as("d"),
          lit(NumQueries.toLong).as("n_queries"),
          col("hits"),
          expr(s"hits * 10000 div ${NumQueries * TopK}").as("recall_bp"))
    }.reduce(_.unionByName(_)).orderBy(col("d"))
  }
}
