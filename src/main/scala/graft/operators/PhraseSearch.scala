package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.functions.TextFunctions.{normalizeText, words}

/** Positional inverted-index phrase search — the lexical retrieval
  * primitive BM25 (q86) doesn't cover: "find documents containing
  * this exact phrase", answered from a *postings table* instead of a
  * corpus scan. Postings are (term, doc_id, pos) rows laid out
  * hash-partitioned by term bucket; a phrase query touches only its
  * query terms' buckets (dynamic partition pruning from the broadcast
  * query-term frame), then intersects the two posting lists with
  * position arithmetic (p2.pos = p1.pos + 1).
  *
  * Scale shape: at 100 TB the postings table is the big artifact
  * (≈ one row per token), but a query never scans it — DPP restricts
  * the scan to [[TermBuckets]]⁻¹ of the partitions per query term,
  * and the adjacency join runs on the two filtered posting lists
  * keyed by doc_id (both sides already tiny relative to the corpus;
  * skew bounded by the hottest single term). Building the index is
  * one map-only pass (explode with positions) plus the partitioned
  * write. The query phrase here is derived from the corpus itself
  * (its most frequent bigram) so the whole pipeline — index build,
  * query selection, pruned probe, intersection — is deterministic
  * and oracle-checkable end to end.
  */
object PhraseSearch {

  /** Number of term hash buckets the postings table is partitioned
    * by. Each query term prunes the scan to 1/64 of the index. */
  val TermBuckets = 64

  /** Top-N matched documents returned (ties broken by doc_id). */
  val TopDocs = 20

  private def termBucket(w: Column): Column =
    pmod(xxhash64(w), lit(TermBuckets.toLong)).cast("int")

  /** (tb, w, doc_id, pos) positional postings, 1-based positions over
    * normalized whitespace tokens, empty tokens dropped. */
  def postings(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), posexplode(words(normalizeText(col("text")))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("tb", termBucket(col("w")))

  /** The corpus's most frequent word bigram (count desc, then lexical
    * w1, w2) as a two-row (role, w, tb) query frame — role 1 = first
    * phrase word, role 2 = second. Map-side bigram construction (the
    * LanguageModel hoist: words materialized before the lambda). */
  def topBigramQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
      .select(words(normalizeText(col("text"))).as("w"))
    val grams = transform(
      sequence(lit(1), size(col("w")) - 1),
      i => struct(element_at(col("w"), i).as("w1"),
        element_at(col("w"), i + 1).as("w2")))
    val top = docs
      .select(explode(when(size(col("w")) >= 2, grams)
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w1"), col("w2"))
      .limit(1)
    top.select(explode(array(
        struct(lit(1).as("role"), col("w1").as("w")),
        struct(lit(2).as("role"), col("w2").as("w")))).as("q"))
      .select(col("q.role"), col("q.w"), termBucket(col("q.w")).as("tb"))
  }

  /** Run the top-bigram phrase query against a postings table at
    * `postingsPath` (written partitioned by tb): per matching doc,
    * the phrase terms, hit count, and first hit position. */
  def phraseSearch(spark: SparkSession, dir: String,
                   postingsPath: String): DataFrame = {
    val q = topBigramQuery(spark, dir)
    val idx = Tables.parquet(spark, Seq(postingsPath))
    // broadcast query join on (tb, w): tb is the partition column, so
    // the scan is dynamically pruned to the query terms' buckets
    val probed = idx.join(broadcast(q),
      idx("tb") === q("tb") && idx("w") === q("w"))
      .select(col("role"), idx("w").as("w"), col("doc_id"), col("pos"))
    val p1 = probed.filter(col("role") === 1)
      .select(col("w").as("w1"), col("doc_id"), col("pos"))
    val p2 = probed.filter(col("role") === 2)
      .select(col("w").as("w2"), col("doc_id").as("doc_id2"), col("pos").as("pos2"))
    p1.join(p2, p1("doc_id") === p2("doc_id2") && p2("pos2") === p1("pos") + 1)
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
      .select(col("doc_id"), col("w1"), col("w2"),
        col("n_hits").cast("long").as("n_hits"),
        col("first_pos").cast("long").as("first_pos"))
      .orderBy(col("n_hits").desc, col("doc_id"))
      .limit(TopDocs)
  }
}
