package graft

import java.sql.{Date, DriverManager}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Postgres-dialect type parity for the federated JDBC source.
  *
  * The reference's one remote source is a Postgres dblink whose row
  * type is declared column-for-column as `tanggal date, card_type
  * text, amount numeric, status_var text, no_body_norm text,
  * gate_in_boo boolean` with the daily slice `status_var='S' AND
  * tanggal = DATE '{ds}'` inlined into the remote query text
  * (dag_datapelangan.py:172-186). This spec proves the identical
  * shape through `Tables.jdbc` against a real JDBC database
  * (in-process Derby — the same SQL types PG would hand back):
  * NUMERIC(18,2)/DATE/BOOLEAN arrive as the exact Catalyst types,
  * values round-trip exactly (cents, NULLs, both boolean values),
  * and the reference's daily slice is PUSHED into the remote scan
  * rather than filtered post-transfer.
  */
class JdbcPgParitySpec extends SparkSpec {

  private lazy val url: String = {
    val dbDir = SparkSpec.tempDir("graft_derby_pg").resolve("db")
    val u = s"jdbc:derby:$dbDir;create=true"
    val conn = DriverManager.getConnection(u)
    val st = conn.createStatement()
    // the reference's dblink row type, in portable SQL types
    st.execute("""CREATE TABLE vw_trx_bus_raw (
      tanggal DATE NOT NULL,
      card_type VARCHAR(16) NOT NULL,
      amount NUMERIC(18,2),
      status_var VARCHAR(1) NOT NULL,
      no_body_norm VARCHAR(16),
      gate_in_boo BOOLEAN)""")
    val rows = Seq(
      ("2025-07-01", "emoney", "3500.25", "S", "TJ-001", "true"),
      ("2025-07-01", "emoney", "3500.75", "S", "TJ-002", "false"),
      ("2025-07-01", "brizzi", "2000.00", "S", "TJ-003", "true"),
      ("2025-07-01", "brizzi", "1999.99", "F", "TJ-004", "true"),  // wrong status
      ("2025-07-02", "emoney", "3500.25", "S", "TJ-005", "true"),  // wrong day
      ("2025-07-01", "flazz",  null,      "S", null,     null))    // PG NULLs
    rows.foreach { case (d, ct, amt, sv, body, gate) =>
      st.execute(s"""INSERT INTO vw_trx_bus_raw VALUES (
        DATE('$d'), '$ct', ${Option(amt).getOrElse("NULL")}, '$sv',
        ${Option(body).map("'" + _ + "'").getOrElse("NULL")},
        ${Option(gate).getOrElse("NULL")})""")
    }
    st.close(); conn.close()
    u
  }

  private val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  test("NUMERIC(18,2)/DATE/BOOLEAN arrive as exact Catalyst types") {
    val df = Tables.jdbc(spark, url, "vw_trx_bus_raw", opts)
    val byName = df.schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    assert(byName("tanggal") === DateType)
    assert(byName("amount") === DecimalType(18, 2))
    assert(byName("gate_in_boo") === BooleanType)
    assert(byName("card_type") === StringType)
    assert(byName("status_var") === StringType)
    assert(byName("no_body_norm") === StringType)
  }

  test("values round-trip exactly: cents, dates, booleans, NULLs") {
    val df = Tables.jdbc(spark, url, "vw_trx_bus_raw", opts)
    val rows = df.select(
        col("TANGGAL").cast("string").as("d"), col("CARD_TYPE"),
        col("AMOUNT").cast("string").as("amt"), col("STATUS_VAR"),
        col("NO_BODY_NORM"), col("GATE_IN_BOO"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4),
        if (r.isNullAt(5)) null else java.lang.Boolean.valueOf(r.getBoolean(5))))
      .toSet
    assert(rows === Set(
      ("2025-07-01", "emoney", "3500.25", "S", "TJ-001", java.lang.Boolean.TRUE),
      ("2025-07-01", "emoney", "3500.75", "S", "TJ-002", java.lang.Boolean.FALSE),
      ("2025-07-01", "brizzi", "2000.00", "S", "TJ-003", java.lang.Boolean.TRUE),
      ("2025-07-01", "brizzi", "1999.99", "F", "TJ-004", java.lang.Boolean.TRUE),
      ("2025-07-02", "emoney", "3500.25", "S", "TJ-005", java.lang.Boolean.TRUE),
      ("2025-07-01", "flazz", null, "S", null, null)))
  }

  test("the reference's daily slice (status='S' AND tanggal=ds) is pushed into the remote scan") {
    val ds = Date.valueOf("2025-07-01")
    val df = Tables.jdbc(spark, url, "vw_trx_bus_raw", opts)
      .filter(col("STATUS_VAR") === "S" && col("TANGGAL") === lit(ds))
      .select(col("CARD_TYPE"), col("AMOUNT"), col("GATE_IN_BOO"))
    val plan = df.queryExecution.executedPlan.toString
    // both predicates reach the remote query: transferred rows are the
    // daily slice, not the table
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("STATUS_VAR") && plan.contains("TANGGAL"), plan)
    assert(df.count() === 4L)
  }

  test("agg_by_card over the slice: DECIMAL sums are exact (no double drift)") {
    val ds = Date.valueOf("2025-07-01")
    val agg = Tables.jdbc(spark, url, "vw_trx_bus_raw", opts)
      .filter(col("STATUS_VAR") === "S" && col("TANGGAL") === lit(ds))
      .groupBy(col("CARD_TYPE"))
      .agg(count(lit(1)).as("pelanggan_count"),
        sum(col("AMOUNT")).as("amount_sum"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), Option(r.getDecimal(2)).map(_.toPlainString).orNull))
      .toMap
    // 3500.25 + 3500.75 = exactly 7001.00 — a double would carry
    // representation error; DECIMAL(18,2) addition cannot
    assert(agg("emoney") === ((2L, "7001.00")))
    assert(agg("brizzi") === ((1L, "2000.00")))
    assert(agg("flazz") === ((1L, null)))
  }
}
