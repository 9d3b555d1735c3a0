package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.PlanLint

/** The plan linter must catch each anti-pattern it names and stay
  * silent on the engine's own (policed) query shapes. */
class PlanLintSpec extends SparkSpec {
  private def rules(df: org.apache.spark.sql.DataFrame): Set[String] =
    PlanLint.lint(df).map(_.rule).toSet

  test("condition-less join of two multi-row frames is flagged; scalar cross is not") {
    val a = spark.range(100).toDF("x")
    val b = spark.range(100).toDF("y")
    assert(rules(a.crossJoin(b)).contains("cartesian-join"))
    // the engine's own idiom: cross with a one-row global aggregate
    val tot = b.agg(sum(col("y")).as("t"))
    assert(!rules(a.crossJoin(tot)).contains("cartesian-join"))
  }

  test("unpartitioned window is flagged; per-key window is not") {
    val df = spark.range(100).toDF("x").withColumn("k", col("x") % 10)
    val global = df.withColumn("rk", row_number().over(Window.orderBy(col("x"))))
    assert(rules(global).contains("unpartitioned-window"))
    val keyed = df.withColumn("rk",
      row_number().over(Window.partitionBy(col("k")).orderBy(col("x"))))
    assert(!rules(keyed).contains("unpartitioned-window"))
  }

  test("a Scala UDF in the plan is flagged") {
    val f = udf((x: Long) => x * 2)
    val df = spark.range(10).toDF("x").select(f(col("x")).as("y"))
    assert(rules(df).contains("scala-udf"))
  }

  test("root-level orderBy is allowed; orderBy feeding limit is allowed") {
    val df = spark.range(100).toDF("x")
    assert(!rules(df.orderBy(col("x"))).contains("non-root-global-sort"))
    assert(!rules(df.orderBy(col("x")).limit(5)).contains("non-root-global-sort"))
  }

  test("skew rule: a planted hot key on a shuffle join is flagged with the advisor's salt reco; salted and broadcast joins are not") {
    // force shuffle joins so the skew rule has something to protect
    val bcBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // fact: 20k rows, 10% of them on key 0 (a 2000x-mean hot key)
      val fact = spark.range(20000).select(
        when(col("id") % 10 === 0, 0L).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val dim = spark.range(5000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val hot = fact.join(dim, "k")
      val findings = PlanLint.lintSkew(hot)
      assert(findings.exists(_.rule === "skewed-shuffle-join"),
        s"planted hot key must be flagged, got $findings")
      val f = findings.find(_.rule === "skewed-shuffle-join").get
      assert(f.detail.contains("saltedJoin"), f.detail)
      // the advisor's reco for max=2001, mean=1 is the 32 cap
      assert(f.detail.contains("buckets=32"), f.detail)
      // the treated join is NOT flagged: the _salt equi-key marks it
      val salted = graft.operators.Skew.saltedJoin(fact, dim, "k", col("v"), 8)
      assert(PlanLint.lintSkew(salted).isEmpty,
        "a salted join must pass the skew rule")
      // a uniform key is not flagged either
      val uniform = spark.range(20000).toDF("k").join(dim, "k")
      assert(PlanLint.lintSkew(uniform).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcBefore)
    // with the default broadcast threshold the dim side broadcasts —
    // no shuffle, so the hot key is harmless and the rule stays silent
    val fact2 = spark.range(20000).select(
      when(col("id") % 10 === 0, 0L).otherwise(col("id")).as("k"))
    val dim2 = spark.range(5000).toDF("k")
    assert(PlanLint.lintSkew(fact2.join(dim2, "k")).isEmpty,
      "a broadcast-eligible join must not be measured or flagged")
  }

  test("skew rule: an EqualTo under OR is not a join equi-key") {
    val bcBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // same planted 2000x hot key as above, but the equality sits in
      // a DISJUNCTION — the join cannot hash-partition on it, so the
      // rule must not measure it (pre-fix, cond.collect over the whole
      // tree extracted it and flagged a non-key histogram)
      val fact = spark.range(20000).select(
        when(col("id") % 10 === 0, 0L).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val dim = spark.range(5000).select(col("id").as("k2"), (col("id") * 2).as("w"))
      val orJoin = fact.join(dim,
        fact("k") === dim("k2") || fact("v") === dim("w"))
      assert(PlanLint.lintSkew(orJoin).isEmpty,
        "an OR-nested equality is not an equi-key and must not be measured")
      // conjunct + disjunct mix: the top-level conjunct IS measured
      val mixed = fact.join(dim,
        fact("k") === dim("k2") && (fact("v") === dim("w") || fact("v") > dim("w")))
      assert(PlanLint.lintSkew(mixed).exists(_.rule == "skewed-shuffle-join"),
        "the top-level equi-conjunct still carries the hot key")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcBefore)
  }

  /** Queries whose measured key histogram legitimately trips the skew
    * rule at the gate SF — each with the reason the shape is safe at
    * scale. Everything else must pass the data-aware rule, so a future
    * round introducing a genuinely hot shuffle key fails HERE. */
  private val skewWhitelist: Map[String, String] = Map.empty

  /** Bounded fan-out crosses (k-means centroid tables, ≤64-row
    * constant frames) are the engine's documented idiom — the bound
    * is the largest such table any operator builds. */
  private val SmallSide = 64L

  /** One sweep of the registry at sf0.001 shared by the three
    * registry-wide tests: each query is built once, its plan linted
    * once (only the cartesian-join rule reads `SmallSide`) and its
    * join keys measured once by the data-aware skew rule. */
  private lazy val registryFindings: Seq[(String, Seq[PlanLint.Finding])] = {
    val sf = "/root/testdata/sf0.001"
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) yield {
      try {
        val df = fn(spark, sf)
        name -> (PlanLint.lint(df, SmallSide) ++ PlanLint.lintSkew(df))
      } finally spark.catalog.clearCache()
    }
  }

  test("EVERY registered query passes the data-aware skew rule at sf0.001") {
    val failures = Seq.newBuilder[String]
    for ((name, all) <- registryFindings) {
      val found = all.filter(_.rule == "skewed-shuffle-join")
      if (found.nonEmpty && !skewWhitelist.contains(name))
        failures += s"$name: ${found.mkString("; ")}"
    }
    val out = failures.result()
    assert(out.isEmpty, s"\n${out.mkString("\n")}")
  }

  /** Queries whose condition-less joins are the DOCUMENTED by-design
    * exception, not a regression — each with the reason the shape is
    * legitimate. Everything else in the registry must lint clean, so
    * a future round adding a stray cross-join or ScalaUDF fails HERE. */
  private val cartesianWhitelist: Map[String, String] = Map(
    "q144_drift_days" ->
      ("day-grid × type-mix zero-materializing cross: both sides are dimension-sized " +
        "(days, event types) by design — the grid IS the operator (Behavioral.driftDays)"),
    "q264_langid_ngram" ->
      ("gram-rows × class-totals broadcast cross: the fastText scoring shape — every " +
        "class is scored per gram, and the class table is bounded by the label set " +
        "(a dimension, like the centroid tables); partial aggregation collapses the " +
        "fan-out map-side before the only shuffle (TextAnalysis.langIdNgramOf)"))

  test("EVERY registered query lints clean of unbounded cross-joins and Scala UDFs") {
    val failures = Seq.newBuilder[String]
    for ((name, all) <- registryFindings) {
      val found = all.filter(f => f.rule == "cartesian-join" || f.rule == "scala-udf")
      if (found.nonEmpty && !cartesianWhitelist.contains(name))
        failures += s"$name: ${found.mkString("; ")}"
    }
    val out = failures.result()
    assert(out.isEmpty, s"\n${out.mkString("\n")}")
  }

  /** Queries whose unpartitioned windows run over PROVABLY-BOUNDED
    * inputs — post-aggregate frames whose row count is a function of
    * a dimension (deciles, score bins, day grid, source list), never
    * of the corpus. Each entry documents the bound. Everything else
    * must carry no empty-PARTITION-BY window at all, so a future
    * round introducing a corpus-sized single-task window (the q181 /
    * q228 shapes fixed in round 15) fails HERE. */
  private val windowWhitelist: Map[String, String] = Map(
    "q122_skyline" ->
      "strict-max re-check runs over the per-partition frontier UNION (skyline candidates), not the corpus",
    "q147_string_indexer" ->
      "frequency rank over the distinct-category table (label dimension)",
    "q149_composition" ->
      "cumulative share over the source x lang grid (dimension-sized)",
    "q162_decile_lift" ->
      "cumulative counts over COMPRESSED score bins (rows = distinct compressed scores, the bin-decomposition discipline itself)",
    "q168_pmi_collocations" ->
      "rank re-derived over exactly topK=20 rows AFTER TakeOrderedAndProject (round-15 rewrite)",
    "q170_changepoint" ->
      "day-grain cumulative sums + objective rank over distinct days (time dimension)",
    "q181_vocab_growth" ->
      ("size-gated checkpoint rank (round 15): below the 256 MB input gate ONE bounded global window " +
        "(its input is capped by the gate itself); above it the <=4097 value-width id-bin two-level " +
        "decomposition; plus the 10-row checkpoint curve window"),
    "q183_auc_eval" ->
      "cumulative counts over distinct score values (score bins)",
    "q192_hazard_table" ->
      "at-risk cumulative over the inter-order gap grid (bounded by the max gap in days)",
    "q195_lm_train" ->
      "rank over exactly TrainTopK=50 rows AFTER TakeOrderedAndProject",
    "q197_dsir_weights" ->
      "rank over exactly DsirTopK=100 rows AFTER TakeOrderedAndProject",
    "q199_temp_mixture" ->
      "largest-remainder rounding over the source dimension",
    "q219_epoch_budget" ->
      "waterfill rank over the source dimension",
    "q228_nb_calibration" ->
      "cumulative counts over distinct whole-bit LLR scores (round-15 bin decomposition; rows = score range, not corpus)",
    "q229_epoch_sampler" ->
      "waterfill rank over the source dimension",
    "q242_range_boundaries" ->
      "lag over compressed price bins",
    "q249_reshard_plan" ->
      "superbucket-level prefix sum: corpus/bucketSize^2 rows (Packing two-level hierarchy)",
    "q44_sequence_pack" ->
      "superbucket-level prefix sum: corpus/bucketSize^2 rows (Packing two-level hierarchy)",
    "q74_chunk_pack" ->
      "superbucket-level prefix sum: corpus/bucketSize^2 rows (Packing two-level hierarchy)")

  test("EVERY registered query's unpartitioned windows are bounded (whitelisted) or absent") {
    val failures = Seq.newBuilder[String]
    for ((name, all) <- registryFindings) {
      val found = all.filter(_.rule == "unpartitioned-window")
      if (found.nonEmpty && !windowWhitelist.contains(name))
        failures += s"$name: ${found.map(_.node).distinct.mkString("; ")}"
    }
    val out = failures.result()
    assert(out.isEmpty, s"\n${out.mkString("\n")}")
  }

  test("the window whitelist names only queries that actually need it") {
    val sf = "/root/testdata/sf0.001"
    for ((name, why) <- windowWhitelist) {
      val found = PlanLint.lint(SparkEntry.queries(name)(spark, sf))
        .filter(_.rule == "unpartitioned-window")
      spark.catalog.clearCache()
      assert(found.nonEmpty, s"$name is whitelisted ('$why') but lints clean — remove it")
    }
  }

  test("the whitelist names only queries that actually need it") {
    val sf = "/root/testdata/sf0.001"
    for ((name, why) <- cartesianWhitelist) {
      val found = PlanLint.lint(SparkEntry.queries(name)(spark, sf), 64L)
        .filter(_.rule == "cartesian-join")
      spark.catalog.clearCache()
      assert(found.nonEmpty, s"$name is whitelisted ('$why') but lints clean — remove it")
    }
  }
}
