package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils

/** `SparkEntry.fixture`, the once-per-(kind, source dir, source mtime)
  * memo behind the registry's snapshot and shard setups: every build
  * starts from an empty target, a failed build is not memoised, a
  * built fixture is served without rebuilding, and a newer source
  * table rebuilds it. */
class FixtureMemoSpec extends SparkSpec {
  /** A source dir holding an `orders` table path; the memo reads only
    * that path's modification time. */
  private def sourceDir(): (String, File) = {
    val dir = SparkSpec.tempDir("graft_memo_src").toFile
    val table = new File(dir, "orders.parquet")
    assert(table.mkdir())
    (dir.getPath, table)
  }

  /** A kind no other test or query uses, so each test starts unmemoised. */
  private def freshKind(): String = s"memotest${System.nanoTime()}"

  private def cleanUp(paths: String*): Unit =
    paths.foreach(p => FileUtils.deleteQuietly(new File(p)))

  /** What a retry saw after a builder that wrote a marker and threw. */
  private case class Retry(crashedPath: String, path: String, builds: Int, markerSeen: Boolean)

  private def crashThenRetry(): Retry = {
    val (src, _) = sourceDir()
    val kind = freshKind()
    var crashedPath = ""
    val e = intercept[IllegalStateException] {
      SparkEntry.fixture(kind, spark, src, "orders") { path =>
        crashedPath = path
        Files.createDirectories(new File(path).toPath)
        Files.write(new File(path, "marker").toPath, "partial".getBytes("UTF-8"))
        throw new IllegalStateException("builder crashed")
      }
    }
    assert(e.getMessage === "builder crashed")
    assert(new File(crashedPath, "marker").exists)
    var builds = 0
    var markerSeen = true
    val path = SparkEntry.fixture(kind, spark, src, "orders") { p =>
      builds += 1
      markerSeen = new File(p, "marker").exists
    }
    cleanUp(path, src)
    Retry(crashedPath, path, builds, markerSeen)
  }

  test("a builder that throws is not memoised: the next call builds again") {
    assert(crashThenRetry().builds === 1)
  }

  test("the retry after a failed build gets the same path, without the partial output") {
    val r = crashThenRetry()
    assert(r.path === r.crashedPath)
    assert(!r.markerSeen, "the retry inherited the crashed build's output")
  }

  test("a call after a successful build returns the memoised path without rebuilding") {
    val (src, _) = sourceDir()
    val kind = freshKind()
    var builds = 0
    val first = SparkEntry.fixture(kind, spark, src, "orders") { p =>
      builds += 1
      Files.createDirectories(new File(p).toPath)
      Files.write(new File(p, "built").toPath, "1".getBytes("UTF-8"))
    }
    val second = SparkEntry.fixture(kind, spark, src, "orders")(_ => builds += 1)
    try {
      assert(second === first)
      assert(builds === 1)
      assert(new File(first, "built").exists, "a memoised call must not clear the fixture")
    } finally cleanUp(first, src)
  }

  test("fixtures and the warehouse live under the per-JVM scratch root") {
    val (src, _) = sourceDir()
    val root = GraftSession.scratchRoot
    val path = SparkEntry.fixture(freshKind(), spark, src, "orders")(_ => ())
    try {
      assert(new File(path).toPath.startsWith(root), path)
      assert(spark.conf.get("spark.sql.warehouse.dir").contains(root.resolve("warehouse").toString))
      assert(root.getFileName.toString.startsWith("graft_jvm_"))
      assert(root.getParent === new File(sys.props("java.io.tmpdir")).toPath.toAbsolutePath)
    } finally cleanUp(path, src)
  }

  test("touching the source table's mtime rebuilds the fixture") {
    val (src, table) = sourceDir()
    val kind = freshKind()
    var builds = 0
    val before = SparkEntry.fixture(kind, spark, src, "orders")(_ => builds += 1)
    assert(table.setLastModified(table.lastModified() - 60000L))
    val after = SparkEntry.fixture(kind, spark, src, "orders")(_ => builds += 1)
    try {
      assert(builds === 2)
      assert(after !== before)
    } finally cleanUp(before, after, src)
  }
}
