package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cleansing / normalization column expressions.
  *
  * Re-expresses the reference's two SQL UDFs and its guarded casts as
  * pure Catalyst column expressions — no JVM UDFs, so everything stays
  * inside whole-stage codegen and remains optimizable (pushdown through
  * projections, constant folding).
  *
  * Reference semantics documented at:
  *  - norm_body:     /root/reference/dags/stage_csv_dims_to_pg.py:41-51
  *                   /root/reference/dags/dag_datapelangan.py:46-56
  *  - to_bool_safe:  /root/reference/dags/dag_datapelangan.py:58-66
  *  - date dispatch: /root/reference/dags/stage_csv_dims_to_pg.py:145-151
  */
object Normalize {

  /** PG `substring(s from '(regex)')` returns NULL on no-match while
    * Spark's `regexp_extract` returns "" — wrap for parity
    * (SURVEY.md §2.6 #25/#26). */
  def regexpExtractNull(c: Column, pattern: String, group: Int): Column =
    nullif(regexp_extract(c, pattern, group), lit(""))

  /** `norm_body(s)`: strip non-alphanumerics; NULL/empty → NULL; else
    * `UPPER(first 3 letters) || '-' || lpad(first 1-3 digits, 3, '0')`.
    * NULL-propagates when either part is missing (`concat`, not
    * `concat_ws`): "KLG4590"→"KLG-459", "BRT322-B"→"BRT-322",
    * "ab1"→NULL (needs exactly 3 consecutive letters). */
  def normBody(c: Column): Column = {
    val cleaned = regexp_replace(c, "[^A-Za-z0-9]", "")
    val letters = regexpExtractNull(upper(cleaned), "([A-Z]{3})", 1)
    val digits  = regexpExtractNull(cleaned, "([0-9]{1,3})", 1)
    when(c.isNull || trim(c) === "", lit(null).cast("string"))
      .otherwise(concat(letters, lit("-"), lpad(digits, 3, "0")))
  }

  /** `to_bool_safe(x)`: upper-cased text in {TRUE,T,1,Y,YES}→true,
    * {FALSE,F,0,N,NO}→false, ''→NULL, else try boolean cast → NULL on
    * failure. The final branch mirrors PG's lenient boolean cast
    * (accepts on/off/yes/no etc.) via Spark's non-ANSI cast-to-boolean
    * which nulls unparseable input. */
  def toBoolSafe(c: Column): Column = {
    val t = upper(trim(coalesce(c.cast("string"), lit(""))))
    when(t.isin("TRUE", "T", "1", "Y", "YES", "ON"), lit(true))
      .when(t.isin("FALSE", "F", "0", "N", "NO", "OFF"), lit(false))
      .when(t === "", lit(null).cast("boolean"))
      // fallback for anything else; NB PG's cast additionally accepts
      // unambiguous prefixes ("tru", "of") which land here as NULL —
      // documented divergence, unreachable in the reference data
      .otherwise(t.cast("boolean"))
  }

  /** Two-format date dispatch: parse only when the regex pre-validates,
    * else NULL. `^\d{2}/\d{2}/\d{4}$` deliberately rejects single-digit
    * months (the reference's shipped realisasi data all fails it —
    * FIXTURES.md A5 — and we preserve that, not fix it). */
  def normDate(c: Column): Column = {
    val t = trim(c)
    when(t.rlike("^\\d{4}-\\d{2}-\\d{2}$"), to_date(t, "yyyy-MM-dd"))
      .when(t.rlike("^\\d{2}/\\d{2}/\\d{4}$"), to_date(t, "dd/MM/yyyy"))
      .otherwise(lit(null).cast("date"))
  }

  /** `NULLIF(trim(x),'')::integer` (stage_csv_dims_to_pg.py:134). */
  def nullifEmptyInt(c: Column): Column =
    nullif(trim(c), lit("")).cast("int")
}
