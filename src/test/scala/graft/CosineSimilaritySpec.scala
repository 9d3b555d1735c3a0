package graft

import org.apache.spark.sql.functions._

/** Native cosine_sim expression: correctness vs the composed
  * higher-order form, null/zero handling, SQL availability via
  * GraftExtensions, and codegen participation. */
class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (Array(1.0, 0.0, 2.0), Array(2.0, 1.0, 4.0)),
    (Array(1.0, 1.0), Array(-1.0, 1.0)),
    (Array(0.0, 0.0), Array(1.0, 1.0))) // zero norm → NULL
    .toDF("a", "b")

  test("matches the composed aggregate/zip_with form") {
    val rows = df.limit(2).select(
      call_function("cosine_sim", col("a"), col("b")).as("native"),
      (graft.operators.Vectors.dot(col("a"), col("b")) /
        (graft.operators.Vectors.l2norm(col("a")) * graft.operators.Vectors.l2norm(col("b")))).as("composed"))
      .collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("zero-norm input yields NULL; orthogonal yields 0") {
    val out = df.select(call_function("cosine_sim", col("a"), col("b"))).collect()
    assert(math.abs(out(0).getDouble(0) - 10.0 / math.sqrt(5.0 * 21.0)) < 1e-12)
    assert(out(1).getDouble(0) === 0.0)
    assert(out(2).isNullAt(0))
  }

  test("available in SQL through the session extension") {
    df.createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT cosine_sim(a, b) FROM vecs WHERE size(a) = 2").collect()
    assert(r.length === 2)
  }

  test("participates in whole-stage codegen (no fallback)") {
    // repartition so the projection runs distributed (a LocalTableScan
    // would be evaluated without codegen); collect first so AQE
    // finalizes the physical plan
    val q = df.repartition(2).select(call_function("cosine_sim", col("a"), col("b")))
    q.collect()
    // the "*(n)" prefix marks a WholeStageCodegen stage in plan strings
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[cosine_sim""".r.findFirstIn(plan).isDefined, plan)
  }

  /** `f` with the given session confs set, restored afterwards. */
  private def withConfs[T](confs: (String, String)*)(f: => T): T = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def bits(d: java.lang.Double): Option[Long] =
    Option(d).map(x => java.lang.Double.doubleToLongBits(x))

  test("scalar, interpreted and codegen cosines are bit-equal; round4 is Spark's round(·, 4)") {
    val rnd = new scala.util.Random(20261019)
    def vec(n: Int): Array[Double] =
      Array.fill(n)(if (rnd.nextInt(50) == 0) -0.0 else rnd.nextGaussian())
    val random = (0 until 500).map { _ => val n = 1 + rnd.nextInt(64); (vec(n), vec(n)) }
    val pairs = random ++ Seq(
      (Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0)), // zero norm → NULL
      (Array(-0.0, 1.0), Array(1.0, -0.0)),          // −0.0 components, cosine 0
      (Array(1.0, 2.0), Array(1.0, 2.0, 3.0)))       // length mismatch → NULL
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("id", "a", "b")
    val cos = call_function("cosine_sim", col("a"), col("b"))
    def run(): (Map[Int, (Option[Long], Option[Long])], String) = {
      val q = df.repartition(2).select(cos.as("c"), round(cos, 4).as("r"), col("id"))
      val out = q.collect().map { r =>
        def at(i: Int) = if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
        r.getInt(2) -> (at(0), at(1))
      }.toMap
      (out, q.queryExecution.executedPlan.toString)
    }
    val (codegen, codegenPlan) = run()
    assert("""\*\(\d+\) Project \[cosine_sim""".r.findFirstIn(codegenPlan).isDefined, codegenPlan)
    val (interpreted, interpretedPlan) = withConfs(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert("""\*\(\d+\)""".r.findFirstIn(interpretedPlan).isEmpty, interpretedPlan)
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      val scalar = graft.plans.CosineSimilarity.cosine(a, b)
      val rounded = Option(scalar).map(c => java.lang.Double.valueOf(graft.operators.Vectors.round4(c)))
      assert(codegen(i) === ((bits(scalar), rounded.flatMap(bits(_)))), s"pair $i")
      assert(interpreted(i) === codegen(i), s"pair $i")
    }
    val n = pairs.length
    assert(codegen(n - 3)._1.isEmpty && codegen(n - 1)._1.isEmpty)
    assert(codegen(n - 2)._1 === bits(0.0))
  }

  test("round4 matches Spark's round(·, 4) on half-way ties, signed zeros, NaN and infinities") {
    val xs = Seq(0.03125, -0.03125, 0.28125, 0.00005, -0.00005, 0.12345, 0.99995, -0.0, 0.0,
      1e-300, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val spark4 = xs.toDF("x").repartition(2).select(col("x"), round(col("x"), 4).as("r"))
      .collect().map(r => java.lang.Double.doubleToLongBits(r.getDouble(0)) -> r.getDouble(1)).toMap
    xs.foreach { x =>
      val want = spark4(java.lang.Double.doubleToLongBits(x))
      assert(java.lang.Double.doubleToLongBits(graft.operators.Vectors.round4(x)) ===
        java.lang.Double.doubleToLongBits(want), s"round4($x)")
    }
    assert(graft.operators.Vectors.round4(0.03125) === 0.0313) // HALF_UP, not HALF_EVEN
  }

  test("round4 matches Spark's round(·, 4) on both sides of its fast path") {
    val rnd = new scala.util.Random(4)
    val xs = (0 until 30000).map { i =>
      i % 6 match {
        case 0 => rnd.nextDouble() * 2 - 1                                  // cosines
        case 1 => (rnd.nextInt(20001) - 10000) / 1e4 + 5e-5                 // half-way ties
        case 2 => (rnd.nextInt(20001) - 10000) / 1e4 + 5e-5 +
          (rnd.nextInt(9) - 4) * math.ulp(1.0)                              // a few ulps off a tie
        case 3 => math.scalb(rnd.nextDouble() * 2 - 1, rnd.nextInt(34) - 30) // tiny up to 8
        case 4 => (rnd.nextInt(200001) - 100000) / 1e5                     // 5 decimals
        case _ => java.lang.Float.intBitsToFloat(rnd.nextInt()).toDouble      // any float
      }
    }
    val bitsOf = (x: Double) => java.lang.Double.doubleToLongBits(x)
    val spark4 = xs.toDF("x").repartition(2).select(col("x"), round(col("x"), 4).as("r"))
      .collect().map(r => bitsOf(r.getDouble(0)) -> bitsOf(r.getDouble(1))).toMap
    xs.foreach(x => assert(bitsOf(graft.operators.Vectors.round4(x)) === spark4(bitsOf(x)), s"round4($x)"))
  }
}
