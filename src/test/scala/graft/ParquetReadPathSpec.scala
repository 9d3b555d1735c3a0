package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan that keeps `graft.sources.Tables.parquet` the only
  * parquet read in `src/main`: every `.parquet(` call (and every
  * `format("parquet")…load(`) must be a write, a `readStream` with an
  * explicit schema, a call of `Tables.parquet` itself, or sit inside
  * its body. A read that bypasses the helper brings back the
  * schema-inference job the helper removes.
  */
class ParquetReadPathSpec extends AnyFunSuite {
  import ParquetReadPathSpec._

  test("the scanner flags every parquet read shape and exempts writes and schema'd streams") {
    val reads = Seq(
      "val a = spark.read.parquet(p)",
      "val a = spark.read.option(\"basePath\", b)\n  .parquet(p, q)",
      "val r = spark.read\nval a = r.parquet(p)",
      "val a = s.readStream.parquet(dir)",
      "val a = spark.read.format(\"parquet\").load(p)",
      "def f = x => spark.read.parquet(\"a(b\")")
    reads.foreach(src => assert(violations("X.scala", src).size === 1, src))
    val exempt = Seq(
      "df.write.mode(\"overwrite\").parquet(p)",
      "df.repartitionByRange(c)\n  .write.mode(SaveMode.Overwrite)\n  .option(\"k\",\n    v.toString)\n  .parquet(p)",
      "val w = df.write.mode(SaveMode.ErrorIfExists)\n(if (c) w else w.partitionBy(c)).parquet(p)",
      "countedWrite(df)(_.write.parquet(p))",
      "spark.readStream\n  .schema(schema)\n  .option(\"k\", 1)\n  .parquet(dir)",
      "val a = Tables.parquet(spark, Seq(p))",
      "val a = graft.sources.Tables.parquet(s, Seq(p))",
      "// spark.read.parquet(p) in a comment\n/** and `spark.read.parquet(p)` in a doc */",
      "val s = \"spark.read.parquet(p)\"",
      "df.write.format(\"parquet\").saveAsTable(t)")
    exempt.foreach(src => assert(violations("X.scala", src).isEmpty, src))
    val helper = "object Tables {\n  def parquet(spark: S, paths: Seq[String]): DataFrame = {\n" +
      "    val reader = spark.read\n    reader.parquet(paths: _*)\n  }\n" +
      "  def other(spark: S) = spark.read.parquet(p)\n}"
    assert(violations("Tables.scala", helper).map(_._1) === Seq(6))
  }

  test("src/main reads parquet only through Tables.parquet") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50)
    val found = files.flatMap { f =>
      violations(f.getFileName.toString, Files.readString(f)).map { case (line, text) =>
        s"$f:$line: $text"
      }
    }
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}

object ParquetReadPathSpec {
  /** `src` with comments and string-literal contents blanked to
    * spaces (newlines kept), so offsets and line numbers still match. */
  def blank(src: String): String = {
    val out = src.toCharArray
    var i = 0
    def clear(from: Int, until: Int): Unit =
      (from until math.min(until, out.length)).foreach(j => if (out(j) != '\n') out(j) = ' ')
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val end = src.indexOf('\n', i)
        val e = if (end < 0) src.length else end
        clear(i, e); i = e
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2)
        val e = if (end < 0) src.length else end + 2
        clear(i, e); i = e
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val e = if (end < 0) src.length else end + 3
        clear(i + 3, e - 3); i = e
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        clear(i + 1, j); i = j + 1
      } else if (src(i) == '\'' && i + 3 < src.length && src(i + 1) == '\\' && src(i + 3) == '\'') {
        clear(i + 1, i + 3); i += 4
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        clear(i + 1, i + 2); i += 3
      } else i += 1
    }
    new String(out)
  }

  /** Where the call chain that `code(0 until end)` ends with starts:
    * walked back over identifiers, dots and balanced brackets;
    * whitespace continues it only next to a dot (a chain broken across
    * lines). */
  def receiverStart(code: String, end: Int): Int = {
    var i = end - 1
    var depth = 0
    var nextChar = '.' // the last non-space character consumed, reading forwards
    var done = false
    while (i >= 0 && !done) {
      val c = code(i)
      if (depth > 0) {
        if (c == ')' || c == ']') depth += 1
        else if (c == '(' || c == '[') { depth -= 1; nextChar = c }
        i -= 1
      } else if (c == ')' || c == ']') { depth = 1; nextChar = c; i -= 1 }
      else if (c.isLetterOrDigit || c == '_' || c == '.') { nextChar = c; i -= 1 }
      else if (c.isWhitespace) {
        var j = i
        while (j >= 0 && code(j).isWhitespace) j -= 1
        if (nextChar == '.' || (j >= 0 && code(j) == '.')) i = j else done = true
      } else done = true
    }
    i + 1
  }

  private val Word = "[A-Za-z_][A-Za-z0-9_]*".r

  /** (line, text) of each parquet read in one source file that does
    * not go through `Tables.parquet`. */
  def violations(fileName: String, src: String): Seq[(Int, String)] = {
    val code = blank(src)
    // vals bound to a writer: `val w = df.write…` is a write by name
    val writers = "val\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*([^\\n]*)".r.findAllMatchIn(code)
      .filter(m => Word.findAllIn(m.group(2)).contains("write")).map(_.group(1)).toSet
    // the body of `def parquet` in Tables.scala is the read path itself
    val helperBody: Range = {
      val d = if (fileName == "Tables.scala") code.indexOf("def parquet(") else -1
      if (d < 0) 0 until 0 else {
        val open = code.indexOf('{', d)
        var depth = 0
        var j = open
        do {
          if (code(j) == '{') depth += 1 else if (code(j) == '}') depth -= 1
          j += 1
        } while (depth > 0 && j < code.length)
        d until j
      }
    }
    def isRead(at: Int, from: Int, call: String): Boolean = {
      val recv = code.substring(from, at).trim
      val words = Word.findAllIn(recv).toSeq
      val isWrite = words.exists(w => w == "write" || w == "writeStream" || writers(w))
      val schemaStream = words.contains("readStream") && words.contains("schema")
      val viaHelper = recv.split('.').lastOption.contains("Tables")
      val parquetFormat = call == "parquet" || src.substring(from, at).contains("format(\"parquet\")")
      parquetFormat && !isWrite && !schemaStream && !viaHelper && !helperBody.contains(at)
    }
    "\\.(parquet|load)\\s*\\(".r.findAllMatchIn(code).flatMap { m =>
      if (!isRead(m.start, receiverStart(code, m.start), m.group(1))) None
      else {
        val line = code.substring(0, m.start).count(_ == '\n') + 1
        Some(line -> src.linesIterator.drop(line - 1).next().trim)
      }
    }.toSeq
  }
}
