package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: ONE pass over a URL string producing
  * every field the crawl front door needs, as a struct
  * `(canon, scheme, host, host_noport, path, query)`.
  *
  * Why: the column-expression formulation
  * (the retired regex `canonicalUrl` ∘ `hostOf` ∘
  * `registeredDomain`) re-reads the SAME string many times — a
  * split+transform array pass for percent-normalization plus four
  * `regexp_extract` passes for scheme/host/path/query, then another
  * regexp for the host — ~6 µs/URL of pure re-parsing constant. At
  * 10¹¹ crawl URLs that constant is real cluster money, so the parse
  * happens ONCE here (hand-rolled scanner, no regex engine at all)
  * and downstream operators pick struct fields. Row-local, map-only,
  * NULL-preserving, inside whole-stage codegen via a single static
  * call (the [[NfcNormalize]] pattern).
  *
  * Semantics are IDENTICAL to the column formulation (the q266 gate
  * compares the canonical string byte-for-byte against a DuckDB
  * oracle that restates the original regexes):
  *   - RFC 3986 §6.2.2 percent-normalization: unreserved `%XX`
  *     decoded, other valid escapes' hex uppercased, malformed
  *     escapes kept byte-for-byte;
  *   - fragment stripped (everything from the first `#` after
  *     pct-normalization — `%23` stays escaped and is NOT a
  *     fragment start);
  *   - scheme `^[A-Za-z][A-Za-z0-9+.-]*://` and host lowercased,
  *     explicit default port stripped (`:80` http / `:443` https);
  *   - query = everything after the FIRST `?`; tracking params
  *     (`utm_*`, `fbclid`, `gclid`) dropped, the rest sorted by
  *     codepoint and re-joined;
  *   - empty path → `/`; `canon` = scheme`://`host·path(·`?`query).
  *
  * One documented divergence from the regex formulation: a literal
  * newline inside a URL (never legal, never produced by a fetcher)
  * made `#.*$` skip the fragment strip; the scanner strips from the
  * first `#` unconditionally.
  */
case class UrlParts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"url_parts expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = UrlParts.schema
  override def prettyName: String = "url_parts"

  override def nullSafeEval(input: Any): Any =
    UrlParts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.UrlParts.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UrlParts {
  val info = new ExpressionInfo(classOf[UrlParts].getName, "url_parts")

  val schema: StructType = StructType(Seq(
    StructField("canon", StringType, nullable = false),
    StructField("scheme", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("host_noport", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("query", StringType, nullable = false)))

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  private def hexVal(c: Char): Int =
    if (c <= '9') c - '0' else (c & 0x5f) - 'A' + 10

  /** RFC 3986 unreserved byte: ALPHA / DIGIT / `-` `.` `_` `~`. */
  private def unreserved(v: Int): Boolean =
    (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
      (v >= '0' && v <= '9') || v == '-' || v == '.' || v == '_' || v == '~'

  private def isSchemeChar(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'

  /** `^(utm_[A-Za-z0-9_]*|fbclid|gclid)=` — the first non-word char
    * after `utm_` must be `=`. */
  private def isTracking(p: String): Boolean = {
    if (p.startsWith("fbclid=") || p.startsWith("gclid=")) return true
    if (!p.startsWith("utm_")) return false
    var j = 4
    while (j < p.length &&
      ((p.charAt(j) >= 'A' && p.charAt(j) <= 'Z') ||
        (p.charAt(j) >= 'a' && p.charAt(j) <= 'z') ||
        (p.charAt(j) >= '0' && p.charAt(j) <= '9') || p.charAt(j) == '_')) j += 1
    j < p.length && p.charAt(j) == '='
  }

  /** CODE-POINT order comparison — the order `array_sort` (UTF-8
    * binary) and the DuckDB oracle use. `String.compareTo` is UTF-16
    * code-UNIT order, which ranks a surrogate pair (code point ≥
    * U+10000, units 0xD800–0xDFFF) BELOW BMP chars in 0xE000–0xFFFF —
    * the advisor's measured divergence: '?😀=1&�=2' vs the
    * oracle's '?�=2&😀=1'. Divergence can only start at the first
    * differing unit; comparing full code points there (surrogate-
    * aware) restores UTF-8 byte order with zero allocation. Inputs
    * arrive from valid UTF-8 (UTF8String), so unpaired surrogates
    * cannot occur. */
  private def cmpCodePoints(a: String, b: String): Int = {
    val la = a.length; val lb = b.length
    val lim = math.min(la, lb)
    var i = 0
    while (i < lim) {
      if (a.charAt(i) != b.charAt(i))
        return Integer.compare(a.codePointAt(i), b.codePointAt(i))
      i += 1
    }
    Integer.compare(la, lb)
  }

  private val codePointOrder: java.util.Comparator[String] =
    new java.util.Comparator[String] {
      override def compare(a: String, b: String): Int = cmpCodePoints(a, b)
    }

  /** Called from interpreted eval AND generated code. */
  def compute(input: UTF8String): InternalRow = {
    val raw = input.toString
    // 1. percent-normalize (single scan)
    val n = raw.length
    val b = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = raw.charAt(i)
      if (c == '%' && i + 2 < n && isHex(raw.charAt(i + 1)) && isHex(raw.charAt(i + 2))) {
        val v = (hexVal(raw.charAt(i + 1)) << 4) | hexVal(raw.charAt(i + 2))
        if (unreserved(v)) b.append(v.toChar)
        else b.append('%')
          .append(Character.toUpperCase(raw.charAt(i + 1)))
          .append(Character.toUpperCase(raw.charAt(i + 2)))
        i += 3
      } else { b.append(c); i += 1 }
    }
    // 2. fragment strip
    val hash = b.indexOf("#")
    val s = if (hash >= 0) b.substring(0, hash) else b.toString
    val len = s.length
    // 3. scheme: maximal run of scheme chars from an ALPHA start,
    //    immediately followed by "://"
    var scheme = ""
    var hostStart = -1
    if (len > 0 && Character.isLetter(s.charAt(0))) {
      var j = 0
      while (j < len && isSchemeChar(s.charAt(j))) j += 1
      if (j + 2 < len && s.charAt(j) == ':' && s.charAt(j + 1) == '/' && s.charAt(j + 2) == '/') {
        scheme = s.substring(0, j).toLowerCase(java.util.Locale.ROOT)
        hostStart = j + 3
      }
    }
    // 4. host (up to '/' or '?'), default-port strip, no-port form
    var host = ""
    var hostNoPort = ""
    var pathStart = len
    if (hostStart >= 0) {
      var j = hostStart
      while (j < len && s.charAt(j) != '/' && s.charAt(j) != '?') j += 1
      var hp = s.substring(hostStart, j).toLowerCase(java.util.Locale.ROOT)
      if (scheme == "http" && hp.endsWith(":80")) hp = hp.substring(0, hp.length - 3)
      else if (scheme == "https" && hp.endsWith(":443")) hp = hp.substring(0, hp.length - 4)
      host = hp
      val colon = hp.indexOf(':')
      hostNoPort = if (colon >= 0) hp.substring(0, colon) else hp
      pathStart = j
    }
    // 5. path = [pathStart, first '?' from there); query = after the
    //    FIRST '?' in the whole string (matches `\?(.*)$` extraction)
    val qIdx = s.indexOf('?')
    val path =
      if (hostStart < 0) ""
      else if (qIdx >= pathStart) s.substring(pathStart, qIdx)
      else s.substring(pathStart)
    val query = if (qIdx >= 0) s.substring(qIdx + 1) else ""
    // 6. kept query params: drop empties + trackers, codepoint sort
    var kept = ""
    if (query.nonEmpty) {
      val parts = query.split("&", -1).filter(p => p.nonEmpty && !isTracking(p))
      java.util.Arrays.sort(parts, codePointOrder)
      kept = parts.mkString("&")
    }
    val pathC = if (path.isEmpty) "/" else path
    val canon = new java.lang.StringBuilder(scheme.length + host.length + pathC.length + kept.length + 4)
      .append(scheme).append("://").append(host).append(pathC)
    if (kept.nonEmpty) canon.append('?').append(kept)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromString(canon.toString), UTF8String.fromString(scheme),
      UTF8String.fromString(host), UTF8String.fromString(hostNoPort),
      UTF8String.fromString(pathC), UTF8String.fromString(kept)))
  }
}
