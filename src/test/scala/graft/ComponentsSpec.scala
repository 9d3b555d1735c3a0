package graft

import graft.operators.Components

/** Union-find cluster resolution: min-label propagation with pointer
  * jumping reaches the exact connected components on planted graphs,
  * including the transitive-chain topology where the old greedy
  * drop-every-db rule mislabels. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Components.minLabel(pairs.toDF("da", "db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("A~B, B~C chain resolves to one cluster with min-id survivor") {
    assert(labelsOf(Seq((1L, 2L), (2L, 3L))) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("pairs (2,3),(1,3): whole component collapses to 1 (greedy would keep 2)") {
    assert(labelsOf(Seq((2L, 3L), (1L, 3L))) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(Components.dropIds(Seq((2L, 3L), (1L, 3L)).toDF("da", "db"))
      .collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("separate components keep separate labels") {
    assert(labelsOf(Seq((1L, 2L), (10L, 11L), (11L, 12L))) ===
      Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("long path graph converges (pointer jumping, log rounds)") {
    val path = (0L until 63L).map(i => (i, i + 1))
    val labels = labelsOf(path)
    assert(labels.size === 64)
    assert(labels.values.forall(_ === 0L))
  }

  test("empty pair set yields empty labeling") {
    val empty = Seq.empty[(Long, Long)].toDF("da", "db")
    assert(Components.minLabel(empty).count() === 0L)
  }

  test("matches brute-force components on a random-ish planted graph") {
    // deterministic pseudo-random edges over 40 nodes
    val edges = (0 until 60).map { k =>
      val a = (k * 7919) % 40; val b = (k * 104729 + 13) % 40
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter { case (a, b) => a != b }
    // brute force union-find on the driver
    val parent = scala.collection.mutable.Map((0L until 40L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val inGraph = edges.flatMap(e => Seq(e._1, e._2)).toSet
    val expected = inGraph.map(i => i -> find(i)).toMap
    assert(labelsOf(edges) === expected)
  }

  test("driver fast path and distributed loop produce identical labelings") {
    val rnd = new scala.util.Random(20260813L)
    val pairs = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val df = pairs.toDF("da", "db")
    val fast = Components.minLabel(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driverThreshold = -1 forces the distributed min-label loop
    val dist = Components.minLabel(df, driverThreshold = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === dist)
  }
}
