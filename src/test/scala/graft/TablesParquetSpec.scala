package graft

import java.io.File
import java.nio.file.Files
import java.time.LocalDate
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

import graft.etl.{Daily, Dims}
import graft.sources.{Snapshots, Tables}

/** Differential spec of `Tables.parquet`, the one parquet read path:
  * against `spark.read.parquet` over the same paths and options it
  * gives the same schema (nullability and field metadata included) and
  * the same rows, and it starts no Spark job where it reads the footer
  * on the driver. Every hand-over to Spark's own inference (missing
  * path, corrupt footer, empty dir, glob, `mergeSchema`, a partition
  * column stored in the files) is checked on both sides: Spark's
  * result or Spark's error, and Spark's inference job.
  */
class TablesParquetSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = new File("perfbench/data/sf0.001").getAbsolutePath

  // ---- job counting: a local property tags the jobs of one region;
  // a marker job orders the listener bus behind them

  private val tagKey = "graft.test.tablesParquet"
  private val seen = new ConcurrentLinkedQueue[String]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tagKey))).foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(listener)

  private def tagged[A](tag: String)(body: => A): A = {
    spark.sparkContext.setLocalProperty(tagKey, tag)
    try body finally spark.sparkContext.setLocalProperty(tagKey, null)
  }

  /** `body`'s value and the number of Spark jobs it started. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    listener
    val tag = UUID.randomUUID().toString
    val a = tagged(tag)(body)
    // the listener bus delivers in order: once the marker job's start
    // arrived, every job start of `body` arrived before it
    tagged(s"$tag-marker")(spark.range(1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!seen.contains(s"$tag-marker") && System.nanoTime() < deadline) Thread.sleep(10)
    assert(seen.contains(s"$tag-marker"))
    (a, seen.asScala.count(_ == tag))
  }

  // ---- comparison

  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canon(k)}->${canon(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("<", ",", ">")
    case x => x.toString
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(canon).toSeq.sorted

  /** `Tables.parquet` over `paths` matches `spark.read.parquet`: equal
    * schema and rows. `driverSide` says which side of the hand-over is
    * expected: no job (the footer was read on the driver) or Spark's
    * inference job. Returns Spark's schema. */
  private def assertSameAsSpark(paths: Seq[String], options: Map[String, String] = Map.empty,
                                driverSide: Boolean = true): StructType = {
    val (viaHelper, jobs) = jobsDuring(Tables.parquet(spark, paths, options))
    val direct = spark.read.options(options).parquet(paths: _*)
    if (driverSide) assert(jobs === 0, s"$paths: the helper started $jobs jobs")
    else assert(jobs >= 1, s"$paths: expected Spark's own inference job")
    assert(viaHelper.schema === direct.schema, paths)
    assert(viaHelper.schema.json === direct.schema.json, paths)
    assert(sortedRows(viaHelper) === sortedRows(direct), paths)
    direct.schema
  }

  /** Both reads throw, with the same class and error condition. */
  private def assertSameError(paths: Seq[String],
                              options: Map[String, String] = Map.empty): Throwable = {
    val direct = intercept[Throwable](spark.read.options(options).parquet(paths: _*))
    val viaHelper = intercept[Throwable](Tables.parquet(spark, paths, options))
    assert(viaHelper.getClass === direct.getClass, viaHelper)
    def condition(t: Throwable) = t match {
      case s: SparkThrowable => Option(s.getCondition)
      case _ => None
    }
    assert(condition(viaHelper) === condition(direct), viaHelper)
    direct
  }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Two partition dirs under one root whose footers differ: the
    * wide one carries a `note` column with field metadata. */
  private def twoDirLayout(wideFirst: Boolean): (String, Seq[String]) = {
    val root = SparkSpec.tempDir("graft_tables_twodir").toString
    val (wide, narrow) = if (wideFirst) ("p=A", "p=B") else ("p=B", "p=A")
    val meta = new MetadataBuilder().putString("comment", "added in v2").build()
    Seq((1L, 10.0, "n1")).toDF("k", "amount", "note")
      .select(col("k"), col("amount"), col("note").as("note", meta))
      .write.parquet(s"$root/$wide")
    Seq((2L, 20.0)).toDF("k", "amount").write.parquet(s"$root/$narrow")
    (root, Seq(s"$root/$wide", s"$root/$narrow"))
  }

  /** A parquet file without Spark's schema in its footer, so the
    * footer's own types go through the schema converter. */
  private def writeRaw(file: String, tsType: String, values: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message m { required int64 id; optional int64 ts ($tsType); }")
    val out = HadoopOutputFile.fromPath(new Path(file), spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try values.zipWithIndex.foreach { case (v, i) =>
      w.write(groups.newGroup().append("id", i.toLong).append("ts", v))
    } finally w.close()
  }

  // ---- same result as Spark, no job

  test("every committed sf0.001 benchmark table: Spark's schema and rows, no job") {
    Tables.all.foreach(t => assertSameAsSpark(Seq(Tables.path(sfDir, t))))
  }

  test("a load starts no job, where Spark's own read starts its inference job") {
    val (_, helperJobs) = jobsDuring(Tables.load(spark, sfDir, "lineitem"))
    val (_, sparkJobs) = jobsDuring(spark.read.parquet(Tables.path(sfDir, "lineitem")))
    assert(helperJobs === 0)
    assert(sparkJobs >= 1)
  }

  test("the tanggal-partitioned DWH tables of the ETL fixture: Spark's schema and rows, no job") {
    val csvDir = new File(getClass.getResource("/etl").toURI).getPath
    val dwh = SparkSpec.tempDir("graft_tables_dwh").toString
    Dims.run(spark, csvDir, dwh)
    Seq(15, 16).foreach(d => Daily.run(spark, csvDir, dwh, LocalDate.of(2025, 7, d)))
    Seq("agg_by_card", "agg_by_route", "agg_by_tariff").foreach { t =>
      val s = assertSameAsSpark(Seq(s"$dwh/$t"))
      assert(s.fieldNames.last === "tanggal", t)
      assertSameAsSpark(Seq(s"$dwh/$t/tanggal=2025-07-16"), Map("basePath" -> s"$dwh/$t"))
    }
    Seq("routes", "shelter_corridor", "realisasi_bus").foreach(t => assertSameAsSpark(Seq(s"$dwh/$t")))
  }

  test("Snapshots reads after an add-column commit, and basePath reads over dirs whose footers differ") {
    val dir = SparkSpec.tempDir("graft_tables_snap").toString
    Snapshots.commitOverwrite(spark, dir,
      Seq((1L, "F", 10.0), (3L, "O", 30.0), (5L, "P", 50.0)).toDF("k", "status", "amount"), partCol = "status")
    val v2 = Snapshots.commitMerge(spark, dir,
      Seq((1L, "F", 11.0, "updated")).toDF("k", "status", "amount", "note"), "k", "status")
    val m = Snapshots.readManifest(spark, dir, v2)
    val owners = m.partitions.groupBy(_._2)
    assert(owners.size === 2) // F rewritten with `note`; O and P keep the v1 files
    def partPath(v: String, owner: String) = s"$dir/$owner/status=$v"
    // the per-owner reads Snapshots makes
    owners.foreach { case (owner, parts) =>
      assertSameAsSpark(parts.map { case (v, o) => partPath(v, o) }, Map("basePath" -> s"$dir/$owner"))
    }
    // the owners' footers differ: the version reads as their aligned union
    val widths = owners.keys.map(o => spark.read.parquet(s"$dir/$o").schema.size).toSet
    assert(widths === Set(3, 4))
    assert(Snapshots.read(spark, dir).select("k", "amount", "note", "status").orderBy("k")
      .as[(Long, Double, Option[String], String)]
      .collect().toSeq === Seq((1L, 11.0, Some("updated"), "F"), (3L, 30.0, None, "O"),
        (5L, 50.0, None, "P")))
    // one basePath read over a wide and a narrow dir, in both path
    // orders: the chosen file decides the schema (field metadata too)
    Seq(true, false).foreach { wideFirst =>
      val (root, paths) = twoDirLayout(wideFirst)
      val s = assertSameAsSpark(paths, Map("basePath" -> root))
      assert(s.fieldNames.contains("note") === wideFirst)
      if (wideFirst) assert(s("note").metadata.getString("comment") === "added in v2")
    }
  }

  test("TIMESTAMP(NANOS) and timestamp[us] without UTC: Spark's result under every nanosAsLong/inferTimestampNTZ setting") {
    val dir = SparkSpec.tempDir("graft_tables_ts").toString
    val nanos = s"$dir/nanos.parquet"
    val ntz = s"$dir/ntz.parquet"
    writeRaw(nanos, "TIMESTAMP(NANOS,true)", Seq(1704067201500000123L, 1735689599999999999L))
    writeRaw(ntz, "TIMESTAMP(MICROS,false)", Seq(1704067201500000L, 1735689599999999L))
    val outcomes = for {
      file <- Seq(nanos, ntz)
      nanosAsLong <- Seq("true", "false")
      inferNtz <- Seq("true", "false")
    } yield withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanosAsLong,
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> inferNtz) {
      val sparkReads = scala.util.Try(spark.read.parquet(file).schema).isSuccess
      if (sparkReads) assertSameAsSpark(Seq(file)) else assertSameError(Seq(file))
      (file, nanosAsLong, inferNtz, sparkReads)
    }
    // the settings really change what Spark infers
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assert(Tables.parquet(spark, Seq(nanos)).schema("ts").dataType.typeName === "long")
    }
    Seq("true" -> "timestamp_ntz", "false" -> "timestamp").foreach { case (on, t) =>
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> on) {
        assert(Tables.parquet(spark, Seq(ntz)).schema("ts").dataType.typeName === t)
      }
    }
    assert(outcomes.count(_._4) >= 6, outcomes)
  }

  // ---- both sides of every hand-over

  test("hand-over: a missing path raises Spark's PATH_NOT_FOUND") {
    val missing = s"${SparkSpec.tempDir("graft_tables_missing")}/nope"
    assert(assertSameError(Seq(missing)).asInstanceOf[SparkThrowable].getCondition === "PATH_NOT_FOUND")
    assertSameError(Seq(Tables.path(sfDir, "region"), missing))
  }

  test("hand-over: a corrupt footer raises Spark's exception") {
    val dir = SparkSpec.tempDir("graft_tables_corrupt").toString
    Files.write(new File(s"$dir/part-00000.parquet").toPath, "not parquet".getBytes)
    val e = assertSameError(Seq(dir))
    assert(e.getMessage.contains(s"$dir/part-00000.parquet"), e)
  }

  test("hand-over: an empty dir raises Spark's error condition") {
    val dir = SparkSpec.tempDir("graft_tables_empty").toString
    val e = assertSameError(Seq(dir))
    assert(e.asInstanceOf[SparkThrowable].getCondition === "UNABLE_TO_INFER_SCHEMA")
  }

  test("hand-over: mergeSchema, in the options or the session, gives Spark's merged schema") {
    val (root, paths) = twoDirLayout(wideFirst = false)
    val plain = assertSameAsSpark(paths, Map("basePath" -> root))
    val merged = assertSameAsSpark(paths, Map("basePath" -> root, "mergeSchema" -> "true"),
      driverSide = false)
    assert(!plain.fieldNames.contains("note"))
    assert(merged.fieldNames.contains("note"))
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(assertSameAsSpark(paths, Map("basePath" -> root), driverSide = false) === merged)
    }
  }

  test("hand-over: a glob, and a partition column stored in the files too, read as Spark reads them") {
    assertSameAsSpark(Seq(s"$sfDir/re*.parquet"), driverSide = false)
    val dir = SparkSpec.tempDir("graft_tables_overlap").toString
    // Spark keeps `p` where the footer has it; a passed schema would move it last
    Seq((7, 1L)).toDF("p", "k").write.parquet(s"$dir/p=7")
    val s = assertSameAsSpark(Seq(dir), driverSide = false)
    assert(s.fieldNames.toSeq === Seq("p", "k"))
  }
}
