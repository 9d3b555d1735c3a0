package graft

import org.apache.spark.sql.functions._

/** SimplifyRedundantCase: injected rule folds idempotent string
  * normalization stacks and preserves semantics. */
class OptimizerRuleSpec extends SparkSpec {
  test("upper(upper(x)) folds to a single upper in the optimized plan") {
    // read from parquet so ConvertToLocalRelation can't pre-evaluate
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val df = src.select(upper(upper(col("r_name"))).as("u"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("upper(upper("), optimized)
    assert(optimized.contains("upper("), optimized)
    assert(df.collect().map(_.getString(0)).forall(s => s == s.toUpperCase))
  }

  test("trim(trim(x)) and lower(lower(x)) fold") {
    // (upper∘lower absorption is Spark's own optimizer's call in 4.x;
    // our rule deliberately only folds the true idempotent pairs)
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val df = src.select(lower(lower(col("r_name"))).as("u"), trim(trim(col("r_name"))).as("t"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("lower(lower("), optimized)
    assert(!optimized.contains("trim(trim("), optimized)
    assert(df.collect().nonEmpty)
  }
}
