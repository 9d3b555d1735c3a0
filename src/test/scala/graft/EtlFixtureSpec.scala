package graft

import java.io.File
import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}

import graft.etl.{Daily, Dims, Pipeline}

/** Both pipelines end to end over a hand-authored five-CSV fixture
  * (`src/test/resources/etl`, the `etl.Schemas` headers) that plants
  * the FIXTURES.md edge cases: `norm_body` suffixes that collide
  * (KLG4590 / KLG459 / KLG-459-B → KLG-459, BRT322 / BRT-322-A →
  * BRT-322), every `normDate` branch (ISO, dd/MM, M/D rejected,
  * regex-valid month 13, single-digit ISO rejected, padded ISO),
  * True/False/garbage gates, S/s/F/f statuses, a shelter with no
  * corridor row, a corridor with no route, a blank corridor code, a
  * realisasi route absent from routes, a duplicate and a blank route
  * key, a realisasi fan-out (KLG-459 → B21 and K22), a bus body with
  * no realisasi row, and an empty day (2025-07-17: F rows only).
  *
  * The goldens are derived by hand from the reference semantics and
  * matched an independent DuckDB replication of both DAGs' SQL; they
  * are not read back from the engine.
  */
class EtlFixtureSpec extends SparkSpec {
  private val csvDir = new File(getClass.getResource("/etl").toURI).getPath
  private def freshDwh(): String = SparkSpec.tempDir("graft_etl_fixture").toString
  private def day(d: Int): LocalDate = LocalDate.of(2025, 7, d)

  /** Every row of `df`'s `cols`, nulls as None, values as strings. */
  private def rows(df: DataFrame, cols: String*): Set[Seq[Option[String]]] =
    df.select(cols.head, cols.tail: _*).collect()
      .map(r => r.toSeq.map(v => Option(v).map(_.toString))).toSet

  private def row(vs: String*): Seq[Option[String]] = vs.map(Option(_))

  private val dimCounts = Map("routes" -> 5L, "shelter_corridor" -> 5L, "realisasi_bus" -> 6L)

  private val routesRows = Set(
    row("1", "Blok M - Kota"),
    row("2", "Pulo Gadung - Harmoni"), // duplicate key: the ordered tie-break keeps the smaller name
    row("3", "Kalideres - Pasar Baru"), // " 3 " trimmed; the blank key row is dropped
    row("B21", "Bekasi - Cawang"),
    row("K22", "Kampung Rambutan - Tanjung Priok"))

  private val shelterRows = Set(
    row("Halte Bundaran HI", "1", "Koridor 1"),
    row("Halte Harmoni", "2", "Koridor 2"),
    row("Halte Kalideres", "3", "Koridor 3"),
    row("Halte Monas", null, "Tanpa Koridor"), // " " → NULLIF → NULL
    row("Halte Senen", "9", "Koridor 9"))

  private val realisasiRows = Set(
    row("2025-07-15", "KLG4590", "B21", "KLG-459"),
    row("2025-07-15", "KLG-459-B", "K22", "KLG-459"), // dd/MM/yyyy
    row(null, "BRT322-B", "1", "BRT-322"), // M/D/yyyy rejected
    row(null, "brt0322", "2", "BRT-032"), // 30/13/2025: regex passes, month invalid
    row(null, "MYS12", "C99", "MYS-012"), // 2025-7-16 rejected
    row("2025-07-16", "AB1", "B21", null)) // padded ISO ok; two letters → NULL body

  private val byCard = Set(
    row("2025-07-15", "BRIZZI", "true", "2", "3500.00"),
    row("2025-07-15", "BRIZZI", "false", "1", "3500.00"),
    row("2025-07-15", "BRIZZI", null, "1", "2000.00"),
    row("2025-07-15", "FLAZZ", "true", "2", "5500.00"),
    row("2025-07-15", "JAKCARD", "false", "1", "3500.00"),
    row("2025-07-15", "JAKCARD", null, "1", "0.00"),
    row("2025-07-15", "E-MONEY", "true", "1", "20000.00"),
    row("2025-07-15", "E-MONEY", "false", "1", "20000.00"),
    row("2025-07-16", "FLAZZ", "false", "1", "2000.00"),
    row("2025-07-16", "FLAZZ", "true", "1", "3500.00"),
    row("2025-07-16", "E-MONEY", "true", "1", "35000.00"))

  private val byRoute = Set(
    // KLG4590 and KLG459 each fan out to both KLG-459 assignments
    row("2025-07-15", "B21", "Bekasi - Cawang", "true", "1", "3500.00"),
    row("2025-07-15", "B21", "Bekasi - Cawang", "false", "1", "3500.00"),
    row("2025-07-15", "K22", "Kampung Rambutan - Tanjung Priok", "true", "1", "3500.00"),
    row("2025-07-15", "K22", "Kampung Rambutan - Tanjung Priok", "false", "1", "3500.00"),
    row("2025-07-15", "1", "Blok M - Kota", "true", "2", "5500.00"),
    row("2025-07-15", "2", "Pulo Gadung - Harmoni", "false", "1", "3500.00"),
    // MYS-012 → C99 (no route) and Halte Monas (no corridor)
    row("2025-07-15", null, null, "true", "2", "20000.00"),
    // Halte Ghost: no shelter_corridor row
    row("2025-07-15", null, null, "false", "1", "20000.00"),
    // Halte Senen: corridor 9 has no route; garbage gate
    row("2025-07-15", null, null, null, "1", "2000.00"),
    row("2025-07-16", "1", "Blok M - Kota", "false", "1", "2000.00"),
    row("2025-07-16", "1", "Blok M - Kota", "true", "1", "3500.00"),
    row("2025-07-16", "3", "Kalideres - Pasar Baru", "true", "1", "35000.00"))

  private val byTariff = Set(
    row("2025-07-15", "0.00", "true", "1"),
    row("2025-07-15", "0.00", null, "1"),
    row("2025-07-15", "2000.00", "true", "1"),
    row("2025-07-15", "2000.00", null, "1"),
    row("2025-07-15", "3500.00", "true", "2"),
    row("2025-07-15", "3500.00", "false", "2"),
    row("2025-07-15", "20000.00", "true", "1"),
    row("2025-07-15", "20000.00", "false", "1"),
    row("2025-07-16", "2000.00", "false", "1"),
    row("2025-07-16", "3500.00", "true", "1"),
    row("2025-07-16", "35000.00", "true", "1"))

  private lazy val dwh = freshDwh()
  private lazy val reports =
    Pipeline.backfill(spark, Pipeline.Config(csvDir, dwh), day(15), day(17))

  private def table(dir: String, name: String): DataFrame = spark.read.parquet(s"$dir/$name")

  test("Pipeline.run over the fixture: the full Report of each day, the empty day included") {
    assert(reports === Seq(
      Pipeline.Report(dimCounts, Daily.RunReport("2025-07-15", 5, 5, 8, 9, 8)),
      Pipeline.Report(dimCounts, Daily.RunReport("2025-07-16", 1, 2, 3, 3, 3)),
      Pipeline.Report(dimCounts, Daily.RunReport("2025-07-17", 0, 0, 0, 0, 0))))
  }

  test("Pipeline.run over the fixture: every row of the three dimensions") {
    reports
    assert(rows(table(dwh, "routes"), "route_code", "route_name") === routesRows)
    assert(rows(table(dwh, "shelter_corridor"), "shelter_name_var", "corridor_code",
      "corridor_name") === shelterRows)
    assert(rows(table(dwh, "realisasi_bus"), "tanggal_realisasi", "bus_body_no",
      "rute_realisasi", "bus_body_no_norm") === realisasiRows)
  }

  test("Pipeline.run over the fixture: every row of the three aggregates") {
    reports
    assert(rows(table(dwh, "agg_by_card"), "tanggal", "card_type", "gate_in_boo",
      "pelanggan_count", "amount_sum") === byCard)
    assert(rows(table(dwh, "agg_by_route"), "tanggal", "route_code", "route_name",
      "gate_in_boo", "pelanggan_count", "amount_sum") === byRoute)
    assert(rows(table(dwh, "agg_by_tariff"), "tanggal", "tarif", "gate_in_boo",
      "pelanggan_count") === byTariff)
  }

  /** A copy of the fixture CSVs in which every tap of `ds` has status F. */
  private def csvsWithDayFailed(ds: LocalDate): String = {
    val out = SparkSpec.tempDir("graft_etl_failed_day").toFile
    new File(csvDir).listFiles().foreach { f =>
      val lines = Files.readAllLines(f.toPath).asScala.toSeq
      val rewritten =
        if (!f.getName.startsWith("dummy_transaksi_")) lines
        else {
          val header = lines.head.split(",", -1)
          val (at, status) = (header.indexOf("waktu_transaksi"), header.indexOf("status_var"))
          lines.head +: lines.tail.map { l =>
            val v = l.split(",", -1)
            if (v(at).startsWith(ds.toString)) v.updated(status, "F").mkString(",") else l
          }
        }
      Files.write(new File(out, f.getName).toPath, rewritten.asJava)
    }
    out.getPath
  }

  test("Daily.run: a rerun of a day whose taps all turned F leaves no row of that day in any aggregate") {
    val dir = freshDwh()
    Pipeline.backfill(spark, Pipeline.Config(csvDir, dir), day(15), day(16))
    assert(Daily.run(spark, csvsWithDayFailed(day(15)), dir, day(15)) ===
      Daily.RunReport("2025-07-15", 0, 0, 0, 0, 0))
    // the 2025-07-15 slice is gone from all three; 2025-07-16 is untouched
    def only16(golden: Set[Seq[Option[String]]]) = golden.filter(_.head.contains("2025-07-16"))
    assert(rows(table(dir, "agg_by_card"), "tanggal", "card_type", "gate_in_boo",
      "pelanggan_count", "amount_sum") === only16(byCard))
    assert(rows(table(dir, "agg_by_route"), "tanggal", "route_code", "route_name",
      "gate_in_boo", "pelanggan_count", "amount_sum") === only16(byRoute))
    assert(rows(table(dir, "agg_by_tariff"), "tanggal", "tarif", "gate_in_boo",
      "pelanggan_count") === only16(byTariff))
  }

  test("Pipeline.concurrently: results in task order; the first failure rethrown as itself after every task ended") {
    assert(Pipeline.concurrently(spark, Seq(() => 1, () => 2, () => 3)) === Seq(1, 2, 3))
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Pipeline.concurrently[Int](spark, Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); slowDone.set(true); 2 },
        () => throw new IllegalArgumentException("second")))
    }
    assert(e.getMessage === "first")
    assert(e.getSuppressed.toSeq.map(_.getMessage) === Seq("second"))
    assert(slowDone.get)
  }

  private def leftovers(dir: String): Seq[String] =
    new File(dir).list().toSeq.filter(n => n.endsWith("._staging") || n.endsWith("._old"))

  private def helperThreads(): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("graft-concurrently-"))

  test("Dims.run: a failing load rethrows its own exception, the other two tables complete") {
    val dir = freshDwh()
    // a corrupt existing routes table fails the routes load at read time
    new File(s"$dir/routes").mkdirs()
    Files.write(new File(s"$dir/routes/part-00000.parquet").toPath, "not parquet".getBytes)
    val direct = intercept[Exception](spark.read.parquet(s"$dir/routes"))
    val e = intercept[Exception](Dims.run(spark, csvDir, dir))
    assert(e.getClass === direct.getClass, e)
    assert(e.getMessage.contains(s"$dir/routes/part-00000.parquet"), e)
    assert(rows(table(dir, "shelter_corridor"), "shelter_name_var", "corridor_code",
      "corridor_name") === shelterRows)
    assert(rows(table(dir, "realisasi_bus"), "tanggal_realisasi", "bus_body_no",
      "rute_realisasi", "bus_body_no_norm") === realisasiRows)
    assert(leftovers(dir).isEmpty, leftovers(dir))
    // an idle pool thread never exits on its own: a bounded join fails on a leak
    helperThreads().foreach(_.join(10000))
    assert(helperThreads().filter(_.isAlive).isEmpty)
  }

  test("Dims.run and Daily.run: the caller's job group and local properties reach every job") {
    val sc = spark.sparkContext
    val (groupKey, propKey) = ("spark.jobGroup.id", "graft.test.caller")
    val seen = new ConcurrentLinkedQueue[(Option[String], Option[String])]()
    val marked = new AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val caller = p.flatMap(x => Option(x.getProperty(propKey)))
        if (caller.contains("marker")) marked.set(true)
        else seen.add((p.flatMap(x => Option(x.getProperty(groupKey))), caller))
      }
    }
    val dir = freshDwh()
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("etl-fixture-group", "local-property propagation")
      sc.setLocalProperty(propKey, "etl-fixture")
      try {
        Dims.run(spark, csvDir, dir)
        Daily.run(spark, csvDir, dir, day(15))
      } finally { sc.clearJobGroup(); sc.setLocalProperty(propKey, null) }
      // the listener bus delivers in order: once the marker job's start
      // arrives, every job start of the two runs has arrived before it
      sc.setLocalProperty(propKey, "marker")
      try spark.range(1).count() finally sc.setLocalProperty(propKey, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!marked.get && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked.get)
    } finally sc.removeSparkListener(listener)
    val jobs = seen.asScala.toSeq
    assert(jobs.nonEmpty)
    assert(jobs.forall(_ == ((Some("etl-fixture-group"), Some("etl-fixture")))), jobs)
  }

  test("Daily.run: a failing sink leaves no cached day slice behind; the other sinks complete") {
    val dir = freshDwh() // no dimensions: the agg_by_route task fails reading them
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[AnalysisException](Daily.run(spark, csvDir, dir, day(15)))
    assert(e.getCondition === "PATH_NOT_FOUND")
    assert(sc.getPersistentRDDs.keySet === before)
    assert(rows(table(dir, "agg_by_card"), "tanggal", "card_type", "gate_in_boo",
      "pelanggan_count", "amount_sum") === byCard.filter(_.head.contains("2025-07-15")))
    assert(rows(table(dir, "agg_by_tariff"), "tanggal", "tarif", "gate_in_boo",
      "pelanggan_count") === byTariff.filter(_.head.contains("2025-07-15")))
  }

  test("Dims.run restores a mid-swap routes._old and merges into it (no silent truncate-load)") {
    import spark.implicits._
    val dir = freshDwh()
    Dims.run(spark, csvDir, dir)
    // the previous generation holds a route the CSV no longer carries
    // and an outdated name: a merge keeps the first, updates the second
    val previous = Seq(("1", "Blok M - Kota (lama)"), ("Z99", "Rute Lama")).toDF("route_code", "route_name")
      .unionByName(table(dir, "routes").filter($"route_code" =!= "1"))
    graft.sources.Sinks.atomicOverwrite(spark, previous, s"$dir/routes")
    // a crash between atomicOverwrite's two renames: only routes._old is left
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/routes"),
      new org.apache.hadoop.fs.Path(s"$dir/routes._old")))
    val counts = Dims.run(spark, csvDir, dir)
    assert(counts === dimCounts.updated("routes", 6L))
    assert(rows(table(dir, "routes"), "route_code", "route_name") ===
      routesRows + row("Z99", "Rute Lama"))
    assert(leftovers(dir).isEmpty, leftovers(dir))
  }
}
