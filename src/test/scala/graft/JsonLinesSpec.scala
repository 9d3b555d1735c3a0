package graft

import org.apache.spark.sql.types._

import graft.sources.JsonLines

/** JSONL ingest: explicit schema, PERMISSIVE quarantine — malformed
  * lines are counted and routable, never dropped, never fatal. */
class JsonLinesSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("clean and corrupt rows split losslessly; raw bad lines survive for the dead letter") {
    val dir = SparkSpec.tempDir("graft_jsonl").toString
    val f = new java.io.File(s"$dir/data.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("""{"id": 1, "v": "a"}""")
    w.println("""{"id": 2, "v": "b"}""")
    w.println("""{"id": broken""")
    w.println("""not json at all""")
    w.close()
    val raw = JsonLines.readWithQuarantine(spark, dir, schema)
    val (clean, corrupt) = JsonLines.split(raw)
    assert(clean.orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (2L, "b")))
    // quarantine holds the RAW lines (routable to a dead-letter sink)
    val bad = corrupt.as[String].collect().toSet
    assert(bad === Set("""{"id": broken""", "not json at all"))
    // accounting is lossless: clean + corrupt = input lines
    assert(clean.count() + bad.size === 4)
  }

  test("a type-mismatched field quarantines the line rather than silently nulling it") {
    val dir = SparkSpec.tempDir("graft_jsonl2").toString
    val w = new java.io.PrintWriter(s"$dir/data.json", "UTF-8")
    w.println("""{"id": "not-a-number", "v": "x"}""")
    w.println("""{"id": 3, "v": "y"}""")
    w.close()
    val raw = JsonLines.readWithQuarantine(spark, dir, schema)
    val (clean, corrupt) = JsonLines.split(raw)
    assert(clean.as[(Long, String)].collect().toSeq === Seq((3L, "y")))
    assert(corrupt.count() === 1)
  }
}
