package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Build a ×N scaled replica of a testdata directory for SCALE-SLOPE
  * measurement (never for correctness gating — the oracle runs on the
  * driver-generated tables only).
  *
  * Method: each fact/entity table is the union of N copies with every
  * key-like column shifted by `copy · (max_key + 1)` — so key
  * cardinalities, join fan-outs, and group counts all scale ×N while
  * per-key densities stay exactly sf0.1-shaped (N disjoint key shards
  * sharing the fixed `nation`/`region` dims, which is also what a
  * genuinely larger generated SF looks like). Shifting preserves FK
  * integrity within each shard; dates/values/text are left verbatim.
  *
  * UNIQUE mode (4th arg `unique`): the clone replica gives every
  * document N−1 verbatim twins, so every PAIRWISE near-dup query's
  * output explodes C(N,2) per group — at ×100 those queries measure
  * output materialization, not operator scaling. Unique mode makes
  * cross-copy content DISTINCT while preserving the within-copy
  * near-dup structure exactly (so the near-dup RATE stays sf0.1-
  * shaped):
  *   - `documents.text`: every token of copy i>0 gets the suffix
  *     `u<i>` — all shingles/minhashes/simhashes change per copy
  *     (no cross-copy collisions), within-copy token equalities are
  *     preserved token-for-token;
  *   - `embeddings.embedding`: copy i is cyclically ROTATED by
  *     i mod dim components and globally NEGATED for i ≥ dim — a
  *     signed coordinate permutation, so within-copy pairwise dot
  *     products (hence cosines, cells, dup structure) are EXACTLY
  *     preserved while cross-copy cosines scramble (and the negated
  *     half sits at cosine −1 from its rotation twin, never a
  *     near-dup at any positive threshold).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <copies> [unique]
  */
object ScaleUp {

  /** Key columns to shift per table; tables absent from the map are
    * copied once, unshifted (fixed dims). */
  private val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val allTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Copy-i content transform for unique mode; copy 0 stays verbatim
    * so the replica's first shard IS the source corpus. */
  private[graft] def uniquify(t: String, df: DataFrame, i: Int): DataFrame =
    if (i == 0) df
    else t match {
      case "documents" =>
        df.withColumn("text",
          regexp_replace(col("text"), "([A-Za-z0-9]+)", "$1u" + i))
      case "embeddings" =>
        val dimCol = size(col("embedding"))
        val r = pmod(lit(i), dimCol)
        val rotated = when(r === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), r + 1, dimCol - r),
            slice(col("embedding"), lit(1), r)))
        val signed = when(lit(i) >= dimCol,
          transform(rotated, x => -x)).otherwise(rotated)
        df.withColumn("embedding", signed.cast(df.schema("embedding").dataType))
      case _ => df
    }

  def main(args: Array[String]): Unit = {
    val Array(src, dst, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val unique = args.length > 3 && args(3) == "unique"
    val spark = GraftSession.get()
    for (t <- allTables) {
      val base = graft.sources.Tables.parquet(spark, Seq(s"$src/$t.parquet"))
      val scaled: DataFrame = keyCols.get(t) match {
        case None => base
        case Some(keys) =>
          // one shift unit per key column: max + 1 over the source
          val units = keys.map { k =>
            k -> (base.agg(max(col(k))).head().getLong(0) + 1L)
          }.toMap
          (0 until copies).map { i =>
            val shifted = keys.foldLeft(base) { (df, k) =>
              df.withColumn(k, col(k) + lit(i * units(k)))
            }
            if (unique) uniquify(t, shifted, i) else shifted
          }.reduce(_ unionByName _)
      }
      scaled.write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${if (keyCols.contains(t)) s"x$copies" else "dim, x1"}" +
        (if (unique && (t == "documents" || t == "embeddings")) " unique" else ""))
    }
    spark.stop()
  }
}
