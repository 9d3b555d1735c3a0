package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Fixture-layout contract for `Tables.loadEvents`.
  *
  * The harness has shipped `events.parquet` in three physical layouts
  * across rounds — TIMESTAMP(NANOS) (arriving as long nanos under
  * `nanosAsLong`), `timestamp[us]` without the UTC flag (arriving as
  * TIMESTAMP_NTZ), and proper UTC micros (TimestampType). Round 6's
  * silent drift to NTZ crashed every consumer calling `unix_micros(ts)`
  * at analysis time. This spec pins the contract: whatever the physical
  * layout, `loadEvents` yields identical `TimestampType` rows, so drift
  * can never again reach the operators.
  */
class FixtureLayoutSpec extends SparkSpec {

  /** Epoch-micros fixture values (UTC), chosen off exact-second
    * boundaries so sub-second precision is exercised. */
  private val micros = Seq(
    1704067200000000L,           // 2024-01-01T00:00:00Z
    1704067201500000L,           // +1.5s
    1735689599999999L)           // 2024-12-31T23:59:59.999999Z

  private def writeLayout(layout: String): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir(s"graft_fixture_$layout").toString
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us, i.toLong % 2, s"ev$i", i.toDouble, "{}") }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val df: DataFrame = layout match {
      case "long_nanos" =>
        // TIMESTAMP(NANOS) arrives as LongType under nanosAsLong; a
        // plain long column hits the identical loader branch.
        base.withColumn("ts", col("us") * lit(1000L))
      case "ntz_micros" =>
        base.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      case "utc_micros" =>
        base.withColumn("ts", timestamp_micros(col("us")))
    }
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def loadedRows(dir: String): (DataType, Seq[(Long, Long)]) = {
    val e = Tables.loadEvents(spark, dir)
    val tsType = e.schema("ts").dataType
    val rows = e.select(col("event_id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    (tsType, rows)
  }

  test("loadEvents normalizes all three physical layouts to identical TimestampType rows") {
    val expected = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    Seq("long_nanos", "ntz_micros", "utc_micros").foreach { layout =>
      val (tsType, rows) = loadedRows(writeLayout(layout))
      assert(tsType == TimestampType, s"layout=$layout must normalize to TimestampType, got $tsType")
      assert(rows == expected, s"layout=$layout rows drifted: $rows")
    }
  }

  test("unix_micros works on loadEvents output for every layout (the round-6 failure mode)") {
    Seq("long_nanos", "ntz_micros", "utc_micros").foreach { layout =>
      val e = Tables.loadEvents(spark, writeLayout(layout))
      // This is precisely what q34/q50/q116/q127/q165 do; NTZ made it
      // throw DATATYPE_MISMATCH at analysis time.
      val n = e.select(unix_micros(col("ts"))).count()
      assert(n == micros.size.toLong, s"layout=$layout")
    }
  }
}
