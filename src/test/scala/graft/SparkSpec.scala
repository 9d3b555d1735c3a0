package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session; stopped by JVM exit
}

object SparkSpec {
  lazy val session: SparkSession =
    GraftSession.builder(master = "local[4]").getOrCreate()

  /** A fresh directory under the per-JVM [[GraftSession.scratchRoot]],
    * which is deleted when the JVM exits — so a spec run leaves no
    * temp dir behind. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(GraftSession.scratchRoot, prefix)

  /** The reference's own five CSVs (read-only), read by the
    * reference-count goldens in EtlGoldenSpec and SinksSpec. */
  val ReferenceDataDir = "/root/reference/data"
}
