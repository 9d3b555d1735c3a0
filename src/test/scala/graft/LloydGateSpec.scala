package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.Vectors

/** The Lloyd size gate ([[Vectors.fitsDriver]]) tested on both sides:
  * the driver-local kernel and the distributed one give bit-equal
  * centroids on a corpus that plants every tie and edge the kernels
  * must agree on, the predicate flips exactly at the bound, and the
  * trained-IVF query returns the same rows either way.
  *
  * The corpus (500 × 64 floats, seeded): random vectors in dims 0..55
  * and hand-placed ones in dims 56..63 (block coordinates b0..b7), so
  * every planted cosine against a random vector is exactly 0. k is
  * ⌈√500⌉ = 23 (seeds vec 0..22), and the coarse seeds are cid 0..4.
  *  - vec 3 duplicates vec 2 and vec 9 is 2 × vec 0 (a norm outlier):
  *    both tie their twin on every vector and lose on the cid
  *    tie-break, so clusters 3 and 9 are empty after iteration 1.
  *  - vec 8 is the zero vector: every cosine with it is NULL, so
  *    cluster 8 is empty too.
  *  - vec 100 has cosine exactly 0.03125 with cid 0 and 0.0313… with
  *    cid 7: HALF_UP rounding ties them (cid 0 wins), HALF_EVEN would
  *    not (cid 7 wins).
  *  - vec 101 rounds to 0.7072 against cid 6 (coarse group 0, probed
  *    first) and cid 5 (group 1): only the −cid tie-break picks cid 5.
  *  - some later vectors duplicate earlier ones, and one carries
  *    −0.0 components. */
class LloydGateSpec extends SparkSpec {
  import spark.implicits._

  private val n = 500
  private val dim = 64
  private val k = Vectors.adaptiveIvfK(n)

  private def planted(cells: (Int, Float)*): Array[Float] = {
    val v = new Array[Float](dim)
    cells.foreach { case (b, x) => v(56 + b) = x }
    v
  }

  private lazy val corpus: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(8)
    def random(): Array[Float] = {
      val v = new Array[Float](dim)
      (0 until 56).foreach(i => v(i) = rnd.nextGaussian().toFloat)
      v
    }
    val vs = Array.fill(n)(random())
    vs(0) = planted(0 -> 1f)
    vs(1) = planted(1 -> 1f)
    vs(3) = vs(2).clone()
    vs(5) = planted(1 -> 1f, 2 -> 1f)
    vs(6) = planted(0 -> 1f, 2 -> 1f)
    vs(7) = planted(3 -> 1f, 7 -> 30.9f)
    vs(8) = new Array[Float](dim)
    vs(9) = planted(0 -> 2f)
    vs(100) = planted(0 -> 1f, 3 -> 31f, 4 -> 7f, 5 -> 3f, 6 -> 2f) // |v| = 32
    vs(101) = planted(0 -> 2f, 1 -> 1f, 2 -> 10000f)
    vs(102) = vs(102).map(x => if (x < 0.1f && x > -0.1f) -0.0f else x)
    Seq(150 -> 40, 250 -> 11, 251 -> 11, 400 -> 399, 450 -> 6).foreach { case (to, from) =>
      vs(to) = vs(from).clone()
    }
    vs.indices.map(i => (i.toLong, vs(i)))
  }

  private lazy val dir: String = {
    val d = SparkSpec.tempDir("lloyd_gate").toString
    corpus.toDF("vec_id", "embedding").repartition(3)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def frame() = spark.read.parquet(s"$dir/embeddings.parquet")
    .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))

  private def bitsOf(cents: Array[(Int, Array[Double])]): Seq[(Int, Seq[Long])] =
    cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq.map(java.lang.Double.doubleToLongBits)) }

  /** Number of Spark jobs `f` starts; a marker job orders the
    * listener bus, so every job start of `f` has arrived before it. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.lloyd"
    val (jobs, marked) = (new AtomicInteger(0), new AtomicBoolean(false))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty(key))).contains("marker"))
          marked.set(true)
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setLocalProperty(key, "marker")
      try spark.range(1).count() finally sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!marked.get && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked.get)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("lloydLocal and lloydDistributed give bit-equal centroids (iters 1 and 3)") {
    Seq(1, 3).foreach { iters =>
      val local = Vectors.lloydLocal(frame(), k, iters)
      val distributed = Vectors.lloydDistributed(spark, frame(), k, iters)
      assert(local.map(_._1).toSeq === (0 until k), s"iters $iters")
      assert(bitsOf(local) === bitsOf(distributed), s"iters $iters")
    }
  }

  test("the corpus plants the empty clusters and both rounding ties") {
    val seeds = bitsOf(Vectors.lloydLocal(frame(), k, 0)).toMap
    val one = bitsOf(Vectors.lloydLocal(frame(), k, 1)).toMap
    // empty after iteration 1: the previous centroid is kept
    Seq(3, 8, 9).foreach(cid => assert(one(cid) === seeds(cid), s"cid $cid"))
    // cluster 7 is vec 7 alone (vec 100 went to cid 0 on the HALF_UP
    // tie); cluster 5 holds vec 101 (won on the −cid tie-break)
    val q = (x: Float) => math.round(x.toDouble * 1e6).toDouble
    assert(one(7) === corpus(7)._2.toSeq.map(x => java.lang.Double.doubleToLongBits(q(x))))
    val five = corpus(5)._2.zip(corpus(101)._2).map { case (a, b) => q(a) + q(b) }
    assert(one(5) === five.toSeq.map(java.lang.Double.doubleToLongBits))
    val cos = graft.plans.CosineSimilarity.cosine(
      Array(1e6) ++ Array.fill(4)(0.0), Array(1.0, 31.0, 7.0, 3.0, 2.0))
    assert(cos.doubleValue === 0.03125)
  }

  test("gate predicate: at, just under and just over the budget; off when negative") {
    val per = Vectors.LocalBytesPerComponent.toLong
    val budget = 512L * 1024 * 1024
    assert(Vectors.fitsDriver(budget / (64 * per), 64, budget))        // exactly at
    assert(Vectors.fitsDriver(budget / (64 * per) - 1, 64, budget))    // 1 row under
    assert(!Vectors.fitsDriver(budget / (64 * per) + 1, 64, budget))   // 1 row over
    assert(Vectors.fitsDriver(1, 1, per) && !Vectors.fitsDriver(1, 1, per - 1))
    assert(!Vectors.fitsDriver(0, 64, -1) && !Vectors.fitsDriver(1, 64, -1))
    assert(!Vectors.fitsDriver(Long.MaxValue, 64, Long.MaxValue))      // no overflow
    // the budget: a quarter of the heap, capped by maxResultSize (1g by default)
    val b = Vectors.driverBudget(spark)
    assert(b > 0 && b <= Runtime.getRuntime.maxMemory / 4 && b <= 1L * 1024 * 1024 * 1024)
  }

  test("annIvfTrained returns the same rows on both sides of the gate") {
    // the frame is read (one parquet schema job) before counting
    def train(budget: Long) = {
      val e = frame()
      jobsOf(Vectors.trainCentroidsOn(spark, e, Vectors.AdaptiveK, 3, budget))
    }
    val ((local, localJobs), (distributed, distributedJobs)) =
      (train(Vectors.driverBudget(spark)), train(-1))
    assert(localJobs === 2, "one shape job and one collect")
    assert(distributedJobs > 2 + 3, "a job per iteration at least")
    assert(bitsOf(local.as[(Int, Array[Double])].collect()) ===
      bitsOf(distributed.as[(Int, Array[Double])].collect()))
    val viaLocal = Vectors.annIvfTrained(spark, dir).collect().toSeq.map(_.toSeq)
    val viaDistributed = Vectors.annIvfWith(spark, dir, Vectors.trainCentroidsOn(spark,
      Vectors.emb(spark, dir), Vectors.AdaptiveK, Vectors.IvfTrainIters, -1))
      .collect().toSeq.map(_.toSeq)
    assert(viaLocal.nonEmpty)
    assert(viaLocal === viaDistributed)
  }
}
