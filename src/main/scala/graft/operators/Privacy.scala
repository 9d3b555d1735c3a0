package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Privacy / governance audits over shared datasets: k-anonymity
  * (every quasi-identifier combination must describe at least k
  * individuals) — the check a dataset must pass before leaving a
  * trust boundary, and the anonymity analog of [[Relational.fkAudit]]
  * on the integrity side. Complements the PII scrubber
  * ([[TextAnalysis.piiScrub]]) which redacts content; this audits
  * structure.
  *
  * Scale posture: one group-by on the quasi-identifier tuple
  * (map-side combinable count), and the violation set is by
  * definition small (< k rows per group), so the suppression
  * anti-join broadcasts it. */
object Privacy {

  /** Quasi-identifier groups with fewer than `k` members — the rows a
    * release would have to suppress or generalize. */
  def kAnonymityViolations(df: DataFrame, quasi: Seq[String], k: Int): DataFrame =
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
      .orderBy(quasi.map(col): _*)

  /** Gated instance: customers quasi-identified by (nation, market
    * segment), k = 10. */
  def customerKAnonymity(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    kAnonymityViolations(
      Tables.load(spark, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"), k)

  /** The release-safe projection: rows of under-k groups suppressed
    * (broadcast anti-join against the violation set). */
  def suppressViolations(df: DataFrame, quasi: Seq[String], k: Int): DataFrame =
    df.join(broadcast(kAnonymityViolations(df, quasi, k).select(quasi.map(col): _*)),
      quasi, "left_anti")

  /** Unrolled Luhn digit sum over `len` digits of the string
    * expression `cc` — for a number WITH its check digit as the last
    * (rightmost) digit, the standard mod-10 test is `sum % 10 == 0`.
    * Plain ANSI arithmetic (substring + CAST + CASE), generated once
    * and evaluated verbatim by Spark's `expr` AND the DuckDB oracle,
    * so both engines compute the identical integer. Digit j (1-based
    * from the LEFT of a `len`-digit number) doubles when its
    * position from the right (len − j + 1) is even. */
  def luhnSumSql(cc: String, len: Int): String =
    (1 to len).map { j =>
      val x = s"CAST(substring($cc, $j, 1) AS INT)"
      if ((len - j + 1) % 2 == 0)
        s"(CASE WHEN 2 * $x > 9 THEN 2 * $x - 9 ELSE 2 * $x END)"
      else x
    }.mkString("(", " + ", ")")

  /** The 15-digit payload's Luhn sum under its FINAL (16-digit)
    * positions — what the appended check digit must complete to a
    * multiple of 10. */
  def luhnPayloadSumSql(cc: String): String =
    (1 to 15).map { j =>
      val x = s"CAST(substring($cc, $j, 1) AS INT)"
      if ((17 - j) % 2 == 0)
        s"(CASE WHEN 2 * $x > 9 THEN 2 * $x - 9 ELSE 2 * $x END)"
      else x
    }.mkString("(", " + ", ")")

  /** Luhn-validated credit-card detection + scrub — the PII class a
    * bare `[0-9]{16}` regex gets wrong in both directions (order ids
    * and timestamps false-positive; the checksum is the
    * discriminator). Each document is deterministically augmented
    * with one synthetic 16-digit number whose Luhn check digit is
    * made VALID for even doc_ids and corrupted (+5 mod 10) for odd
    * ones; the detector recomputes the checksum and scrubs only
    * validated numbers. Map-only per document — the ideal 100 TB
    * shape — and integer-exact end to end. */
  def luhnCcScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    d.select(col("doc_id"), col("text"),
        lpad((col("doc_id") * 7919 % 1000000000000000L).cast("string"), 15, "0")
          .as("cc15"))
      // check digit: payload digit j keeps its 16-digit from-the-right
      // parity once the check digit is appended, so the 15-digit sum
      // uses position (17 − j) — see luhnPayloadSumSql
      .withColumn("s15", expr(luhnPayloadSumSql("cc15")))
      .withColumn("check_", (lit(10) - col("s15") % 10) % 10)
      .withColumn("digit",
        when(col("doc_id") % 2 === 0, col("check_"))
          .otherwise((col("check_") + 5) % 10))
      .withColumn("cc16", concat(col("cc15"), col("digit").cast("string")))
      .withColumn("aug", concat(col("text"), lit(" card "), col("cc16")))
      .withColumn("luhn_total", expr(luhnSumSql("cc16", 16)))
      .withColumn("is_valid", (col("luhn_total") % 10 === 0).cast("int"))
      .withColumn("scrubbed",
        when(col("is_valid") === 1, expr("replace(aug, cc16, '<CC>')"))
          .otherwise(col("aug")))
      .select(col("doc_id"), col("cc16"),
        col("luhn_total").cast("long").as("luhn_total"), col("is_valid"),
        md5(col("scrubbed")).as("scrub_hash"))
      .orderBy(col("doc_id"))
  }
}
