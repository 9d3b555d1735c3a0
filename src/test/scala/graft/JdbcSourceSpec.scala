package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Federated JDBC source against an in-process Apache Derby database
  * (the Derby jars ship with the Spark distribution): row parity,
  * predicate pushdown into the remote SQL, and subquery pushdown —
  * the dblink semantics of the reference (dag_datapelangan.py:172-186)
  * over a real remote-database protocol instead of a parquet registry.
  */
class JdbcSourceSpec extends SparkSpec {

  private lazy val url: String = {
    val dbDir = SparkSpec.tempDir("graft_derby").resolve("db")
    val u = s"jdbc:derby:$dbDir;create=true"
    val conn = DriverManager.getConnection(u)
    val st = conn.createStatement()
    st.execute("CREATE TABLE trx (id INT PRIMARY KEY, status VARCHAR(1), amount DOUBLE)")
    (1 to 100).foreach { i =>
      st.execute(s"INSERT INTO trx VALUES ($i, '${if (i % 3 == 0) "S" else "F"}', ${i * 10.0})")
    }
    st.close(); conn.close()
    u
  }

  private val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  test("jdbc scan reads the remote table with correct rows and types") {
    val df = Tables.jdbc(spark, url, "trx", opts)
    assert(df.count() === 100L)
    assert(df.schema("ID").dataType.typeName === "integer")
    assert(df.filter(col("STATUS") === "S").count() === 33L)
  }

  test("filters are pushed down into the remote JDBC query") {
    val df = Tables.jdbc(spark, url, "trx", opts)
      .filter(col("STATUS") === "S" && col("AMOUNT") > 500.0)
      .select(col("ID"), col("AMOUNT"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("STATUS") && plan.contains("AMOUNT"), plan)
    // column pruning reaches the remote query too: only ID/AMOUNT read
    assert(df.collect().length === df.filter(col("AMOUNT") > 500.0).count().toInt)
  }

  test("pushdown subquery: the remote database evaluates the inner query") {
    val df = Tables.jdbc(spark, url,
      "(SELECT status, count(*) AS n, sum(amount) AS total FROM trx GROUP BY status) t", opts)
    val rows = df.collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).longValue()).toMap
    assert(rows === Map("S" -> 33L, "F" -> 67L))
  }
}
