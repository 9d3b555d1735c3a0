package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the LLM-data-pipeline operators (dedup,
  * language-ID, quality scoring, token counting, fingerprinting).
  *
  * Everything is a pure column expression (codegen-friendly, no UDFs),
  * and every hashing primitive is chosen to be *portable*: md5 over
  * UTF-8 and lexicographic min over hex strings compute identically in
  * Spark and in the DuckDB oracle, so MinHash/SimHash signatures
  * hash-match across engines.
  */
object TextFunctions {

  /** Whitespace tokens. Single-space split — matches DuckDB
    * `string_split(text, ' ')` exactly (keeps empty tokens). */
  def words(c: Column): Column = split(c, " ", -1)

  /** Distinct word n-gram shingles (the unit of MinHash / Jaccard).
    * Guarded: fewer than n words → empty set (sequence() would
    * otherwise run descending). */
  def shingles(w: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(w, i + lit(k))): _*))
    array_distinct(when(size(w) >= n, grams).otherwise(array()))
  }

  /** MinHash value #i of a shingle column: min over shingles of
    * md5(i || '|' || shingle). Uniform enough for LSH, and identical
    * in any engine with md5. Use as an aggregate over exploded
    * shingle rows. */
  def minhashAgg(shingle: Column, i: Int): Column =
    min(md5(concat(lit(s"$i|"), shingle)))

  /** Canonical text normalization for exact-dedup / fingerprinting:
    * lowercase, strip non-alphanumerics (keep spaces), collapse runs
    * of whitespace, trim. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Stopword sets for the n-gram/stopword language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "y", "es", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Count of tokens belonging to a stopword set. */
  def stopwordCount(w: Column, lang: String): Column =
    size(filter(w, t => t.isin(stopwords(lang): _*)))

  val langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")

  /** Per-language stopword-hit scores. Materialize these as columns
    * before calling [[detectLangFromScores]] — the argmax when-chain
    * references every score ~5×, and inlined scores would re-run the
    * split+filter per reference. */
  def langScores(w: Column): Seq[Column] =
    langs.map(l => stopwordCount(w, l).as(s"_s_$l"))

  /** Deterministic argmax over materialized score columns with fixed
    * priority order on ties (en > de > es > fr > zh). */
  def detectLangFromScores: Column = {
    val s = langs.map(l => l -> col(s"_s_$l"))
    def rest(excl: String) = s.collect { case (l, c) if l != excl => c }
    s.init.foldRight(lit(s.last._1)) { case ((l, c), els) =>
      when(c >= greatest(rest(l): _*), lit(l)).otherwise(els)
    }
  }

  /** Mean word length (separator-adjusted). Shared by quality scoring
    * and the corpus pipeline so the formula lives in exactly one
    * place (its DuckDB mirror lives in the q19/q31 oracles). */
  def avgWordLen(text: Column): Column = {
    val w = words(text)
    (length(text) - (size(w) - lit(1))).cast("double") / size(w).cast("double")
  }

  /** Blended structural quality score in [0,1] — raw double, never
    * rounded (fixed-scale rounding diverges across engines at half
    * boundaries; the identical IEEE expression tree does not). */
  def qualityExpr(text: Column): Column = {
    val w = words(text)
    val nChars = length(text)
    val punct = nChars - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))
    val stops = stopwordCount(w, "en")
    least(avgWordLen(text) / lit(8.0), lit(1.0)) * lit(0.4) +
      (lit(1.0) - punct.cast("double") / nChars.cast("double")) * lit(0.3) +
      least(stops.cast("double") / size(w).cast("double") * lit(4.0), lit(1.0)) * lit(0.3)
  }

  /** BPE-ish token count: alpha runs, digit runs, single punctuation. */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(bpeTokenPattern), lit(0)))
}
