package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Affinity

/** Lineage-truncation contract for the iterative graph operators
  * (VERDICT r06 item #4): plan depth must stay BOUNDED as the round
  * count grows, or optimizer time / task-binary size / recompute-on-
  * failure cost all grow linearly with iterations at cluster scale.
  * Eager checkpointing every CheckpointEvery rounds replaces the
  * logical plan with a scan of the checkpointed RDD — reliable
  * `checkpoint()` when the session has a checkpoint dir (cluster
  * posture: survives executor loss), `localCheckpoint()` otherwise.
  * These tests pin that the node count of the final plan no longer
  * grows with the iteration count, that checkpointing leaves results
  * unchanged, and that reliable mode really writes durable files that
  * answer after every persisted block is dropped.
  */
class AffinitySpec extends SparkSpec {
  import spark.implicits._

  private def planNodes(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p => p }.size

  /** Path graph 1–2–3 plus isolated 4 — same fixture as
    * BehavioralSpec's hand-unrolled PageRank test. */
  private lazy val prDir: String = {
    val dir = SparkSpec.tempDir("graft_pr_depth").toString
    Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(1L, 2L, 3L, 4L).toDF("s_suppkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    dir
  }

  test("pagerank plan depth is bounded: 9 iterations no deeper than 3") {
    val shallow = planNodes(Affinity.pageRankCoSupply(spark, prDir, iters = 3))
    val deep = planNodes(Affinity.pageRankCoSupply(spark, prDir, iters = 9))
    // without truncation each extra iteration adds a fixed >5-node
    // subtree, so 6 extra iterations would add >30 nodes; with
    // truncation the tail past the last checkpoint is what remains
    assert(deep <= shallow + 2,
      s"lineage grew with iterations: iters=3 -> $shallow nodes, iters=9 -> $deep")
  }

  test("pagerank scores are unchanged by checkpoint cadence") {
    // iters=3 crosses one checkpoint (round 2); the hand-computed
    // expectation from BehavioralSpec must still hold exactly
    val out = Affinity.pageRankCoSupply(spark, prDir, iters = 3).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Long]("score")).toMap
    assert(out === Map(2L -> 1741625L, 1L -> 629187L, 3L -> 629187L, 4L -> 150000L))
  }

  test("label propagation plan depth is bounded across rounds") {
    val dir = SparkSpec.tempDir("graft_lpa_depth").toString
    // two disjoint co-purchase pairs, each order twice (minSupport=2)
    Seq((1L, 101L), (1L, 102L), (2L, 101L), (2L, 102L),
        (3L, 201L), (3L, 202L), (4L, 201L), (4L, 202L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val shallow = planNodes(Affinity.labelPropagation(spark, dir, rounds = 2))
    val deep = planNodes(Affinity.labelPropagation(spark, dir, rounds = 8))
    assert(deep <= shallow + 2,
      s"lineage grew with rounds: rounds=2 -> $shallow nodes, rounds=8 -> $deep")
    // synchronous LPA oscillates on a 2-node pair (neighbors swap
    // labels each round), so an EVEN round count returns every node
    // to its own label — the point here is that checkpointing does
    // not alter the per-round semantics
    val comms = Affinity.labelPropagation(spark, dir, rounds = 8).collect()
      .map(r => r.getAs[Long]("community") -> r.getAs[Long]("n_members")).toMap
    assert(comms === Map(101L -> 1L, 102L -> 1L, 201L -> 1L, 202L -> 1L))
  }

  test("reliable checkpoint mode: with a checkpoint dir set, iterative results survive total cache loss") {
    val sc = spark.sparkContext
    val ckDir = SparkSpec.tempDir("graft_reliable_ck").toString
    try {
      sc.setCheckpointDir(ckDir)
      // run across ≥2 checkpoint rounds in reliable mode
      val pr = Affinity.pageRankCoSupply(spark, prDir, iters = 5)
      val expected = pr.collect()
        .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Long]("score")).toMap
      // the truncation really went through checkpoint(): files landed
      // in the durable dir (localCheckpoint writes nothing there)
      val ckFiles = new java.io.File(ckDir).listFiles()
      assert(ckFiles != null && ckFiles.nonEmpty,
        "no reliable checkpoint data written under the checkpoint dir")
      // simulate losing every executor's storage: blow away ALL
      // persisted RDD blocks, then re-evaluate the SAME frame. With
      // localCheckpoint the truncated lineage would be unrecomputable
      // (blocks died with the "executors"); reliable mode re-reads
      // the checkpoint files and must reproduce identical scores
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val again = pr.collect()
        .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Long]("score")).toMap
      assert(again === expected)
      // and mode selection changes nothing semantically: the default
      // local mode computes the same scores
      sc.setCheckpointDir(null)
      val localMode = Affinity.pageRankCoSupply(spark, prDir, iters = 5).collect()
        .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Long]("score")).toMap
      assert(localMode === expected)
    } finally sc.setCheckpointDir(null)
  }

  test("bfs plan depth is bounded across hops, distances exact") {
    val dir = SparkSpec.tempDir("graft_bfs_depth").toString
    // chain 10-1-2-3-4-5 via consecutive co-supply orders; seed = 10
    Seq((1L, 10L), (1L, 1L), (2L, 1L), (2L, 2L), (3L, 2L), (3L, 3L),
        (4L, 3L), (4L, 4L), (5L, 4L), (5L, 5L))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(10L, 1L, 2L, 3L, 4L, 5L).toDF("s_suppkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val shallow = planNodes(Affinity.bfsHops(spark, dir, maxHops = 2))
    val deep = planNodes(Affinity.bfsHops(spark, dir, maxHops = 6))
    assert(deep <= shallow + 2,
      s"lineage grew with hops: maxHops=2 -> $shallow nodes, maxHops=6 -> $deep")
    val dist = Affinity.bfsHops(spark, dir, maxHops = 6).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Long]("dist")).toMap
    assert(dist === Map(10L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }
}
