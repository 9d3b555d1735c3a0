package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Correctness dump: each SparkEntry.registry result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py).
  * Exits 1 and names the failed queries on stderr when any query fails. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to the named queries (local
    // iteration; the driver's 2-arg call dumps everything)
    val spark = GraftSession.get()
    val failed = try run(spark, sfDir, outDir, args.drop(2).toSet) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.sorted.mkString(" ")}")
      sys.exit(1)
    }
  }

  /** Writes each selected query's result (all when `only` is empty) and
    * their oracles; returns the names that failed, including any name
    * in `only` that is not registered. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Set[String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.registry.filter { case (name, _) => only.isEmpty || only(name) }
    val unknown = (only -- selected.keySet).toSeq
    unknown.foreach(name => System.err.println(s"[verify] $name is not a registered query"))
    val failed = selected.toSeq.flatMap { case (name, query) =>
      val error =
        try {
          query.build(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      // queries are independent; drop their internal caches so one
      // query's pinned blocks can't evict another's working set
      spark.catalog.clearCache()
      error
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected
      .map { case (k, query) => s"${q(k)}: ${q(query.oracle)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    unknown ++ failed
  }
}
