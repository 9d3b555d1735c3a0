package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.functions.Normalize

/** Daily incremental pipeline — the Spark-first re-expression of DAG
  * `dag_datapelangan` (dag_datapelangan.py:161-248): cleanse the two
  * transaction sources, filter to `status='S' AND tanggal=ds` (pushed
  * into the scan by Catalyst, replacing the reference's hand-inlined
  * dblink predicate, D:174-185), union, and materialize three daily
  * aggregates into date-partitioned parquet.
  *
  * Divergence (deliberate, SURVEY.md §7): the reference plain-appends
  * into pre-created range partitions and double-counts on rerun; we
  * replace exactly the `ds` slice — rerun-idempotent, including a
  * rerun of a day whose source no longer has any `S` row (see [[run]]).
  */
object Daily {
  private val D182 = DecimalType(18, 2)

  /** `src.vw_trx_bus_raw` (dag_datapelangan.py:68-76). */
  def cleanseBus(raw: DataFrame): DataFrame =
    raw.select(
      col("waktu_transaksi").cast("timestamp").cast("date").as("tanggal"),
      col("waktu_transaksi").cast("timestamp").as("waktu_transaksi"),
      upper(col("card_type_var")).as("card_type"),
      col("fare_int").cast(D182).as("amount"),
      Normalize.normBody(col("no_body_var")).as("no_body_norm"),
      Normalize.toBoolSafe(col("gate_in_boo")).as("gate_in_boo"),
      upper(col("status_var")).as("status_var"))

  /** `src.vw_trx_halte_raw` (dag_datapelangan.py:78-86). */
  def cleanseHalte(raw: DataFrame): DataFrame =
    raw.select(
      col("waktu_transaksi").cast("timestamp").cast("date").as("tanggal"),
      col("waktu_transaksi").cast("timestamp").as("waktu_transaksi"),
      upper(col("card_type_var")).as("card_type"),
      col("fare_int").cast(D182).as("amount"),
      col("shelter_name_var"),
      Normalize.toBoolSafe(col("gate_in_boo")).as("gate_in_boo"),
      upper(col("status_var")).as("status_var"))

  private def daySlice(df: DataFrame, ds: LocalDate): DataFrame =
    df.filter(col("status_var") === "S" && col("tanggal") === lit(java.sql.Date.valueOf(ds)))

  /** `agg_by_card` (dag_datapelangan.py:188-198). */
  def aggByCard(bus: DataFrame, halte: DataFrame): DataFrame = {
    val cols = Seq("tanggal", "card_type", "gate_in_boo", "amount").map(col)
    bus.select(cols: _*).unionByName(halte.select(cols: _*))
      .groupBy(col("tanggal"), col("card_type"), col("gate_in_boo"))
      .agg(count(lit(1)).as("pelanggan_count"), sum(col("amount")).cast(D182).as("amount_sum"))
  }

  /** `agg_by_route` (dag_datapelangan.py:200-225): bus branch = inner
    * fan-out join on the normalized body (one tap counted once per
    * matching realisasi row, unmatched taps dropped — semantics
    * preserved) then left route lookup; halte branch = left
    * shelter→corridor→route chain. Dims are small → broadcast hash
    * joins, no fact shuffle before the aggregate. */
  def aggByRoute(bus: DataFrame, halte: DataFrame,
                 realisasi: DataFrame, shelterCorridor: DataFrame, routes: DataFrame): DataFrame = {
    val busBranch = bus
      .join(broadcast(realisasi), col("no_body_norm") === col("bus_body_no_norm"), "inner")
      .join(broadcast(routes), col("route_code") === col("rute_realisasi").cast("string"), "left")
      .select(col("tanggal"), col("route_code"), col("route_name"), col("gate_in_boo"), col("amount"))
    val halteBranch = halte
      .join(broadcast(shelterCorridor), Seq("shelter_name_var"), "left")
      .join(broadcast(routes), col("route_code") === col("corridor_code").cast("string"), "left")
      .select(col("tanggal"), col("route_code"), col("route_name"), col("gate_in_boo"), col("amount"))
    busBranch.unionByName(halteBranch)
      .groupBy(col("tanggal"), col("route_code"), col("route_name"), col("gate_in_boo"))
      .agg(count(lit(1)).as("pelanggan_count"), sum(col("amount")).cast(D182).as("amount_sum"))
  }

  /** `agg_by_tariff` (dag_datapelangan.py:227-234): the fare is the key. */
  def aggByTariff(bus: DataFrame, halte: DataFrame): DataFrame = {
    val cols = Seq("tanggal", "amount", "gate_in_boo").map(col)
    bus.select(cols: _*).unionByName(halte.select(cols: _*))
      .groupBy(col("tanggal"), col("amount").as("tarif"), col("gate_in_boo"))
      .agg(count(lit(1)).as("pelanggan_count"))
  }

  case class RunReport(ds: String, busRows: Long, halteRows: Long,
                       aggByCard: Long, aggByRoute: Long, aggByTariff: Long)

  /** Full DAG-2 run for one logical date: one shared cleansed read
    * (cached — reproduces the reference's shared CTE scan, D:172-234,
    * without re-reading per sink), three aggregate sinks written with
    * dynamic partition overwrite of the `tanggal=ds` slice, audit
    * counts returned (D:236-248). A sink that writes no row drops its
    * `tanggal=ds` dir ([[graft.sources.Sinks.dropPartitions]]): the
    * dynamic overwrite replaces only partitions present in the frame,
    * so a rerun of a day that became empty would otherwise keep the
    * old slice. That costs no Spark job; the count rides the write.
    *
    * The two slice counts (which fill the caches) run at the same
    * time, then the three sinks do, through [[Pipeline.concurrently]];
    * the dimension reads sit inside the `agg_by_route` task, so a
    * missing dimension fails that sink alone. They start no Spark job:
    * [[Tables.parquet]] reads each schema from a footer on the driver.
    * The caches are dropped whether or not a sink failed. */
  def run(spark: SparkSession, csvDir: String, dwhDir: String, ds: LocalDate): RunReport = {
    val bus = daySlice(cleanseBus(
      Tables.csvAllString(spark, s"$csvDir/dummy_transaksi_bus.csv", Schemas.busColumns)), ds).cache()
    val halte = daySlice(cleanseHalte(
      Tables.csvAllString(spark, s"$csvDir/dummy_transaksi_halte.csv", Schemas.halteColumns)), ds).cache()
    def dim(name: String): DataFrame = Tables.parquet(spark, Seq(s"$dwhDir/$name"))

    // audit counts ride the write job itself (Dataset.observe) — the
    // df holds exactly the ds slice, so rows-written IS the
    // reference's per-insert audit count, with no read-back scan
    def writePartitioned(df: DataFrame, name: String): Long = {
      val rows = graft.sources.Sinks.writePartitionedCounted(df, s"$dwhDir/$name", "tanggal")
      if (rows == 0)
        graft.sources.Sinks.dropPartitions(spark, s"$dwhDir/$name", "tanggal", Seq(ds.toString))
      rows
    }

    try {
      val rows = Pipeline.concurrently(spark, Seq(() => bus.count(), () => halte.count()))
      val aggs = Pipeline.concurrently(spark, Seq(
        () => writePartitioned(aggByCard(bus, halte), "agg_by_card"),
        () => writePartitioned(aggByRoute(bus, halte,
          dim("realisasi_bus"), dim("shelter_corridor"), dim("routes")), "agg_by_route"),
        () => writePartitioned(aggByTariff(bus, halte), "agg_by_tariff")))
      RunReport(ds.toString, busRows = rows(0), halteRows = rows(1),
        aggByCard = aggs(0), aggByRoute = aggs(1), aggByTariff = aggs(2))
    } finally { bus.unpersist(); halte.unpersist() }
  }
}
