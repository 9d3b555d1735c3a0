package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.sources.{SnapshotGroups, Snapshots}

/** Claims race across two JVMs on one local table. The in-process
  * claim lock cannot serialize them, so only the claim itself keeps a
  * version to one winner: each round, both JVMs stage a data dir, meet
  * at a file barrier, then publish it (a `claimNext` commit) and pin a
  * group, so both claim the same next number at the same moment. */
class SnapshotClaimProcessSpec extends SparkSpec {

  test("two JVMs racing claimNext commits and group pins: one claimant per version") {
    val root = SparkSpec.tempDir("graft_claimrace")
    val rounds = 24
    val log = root.resolve("racer.log")
    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
    // the forked test JVM's module flags, with a small heap of its own
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filterNot(_.startsWith("-Xmx")) :+ "-Xmx512m"
    val child = new ProcessBuilder(((javaBin +: jvmArgs) ++ Seq(
        "-cp", sys.props("java.class.path"), SnapshotClaimRacer.getClass.getName.stripSuffix("$"),
        root.toString, "b", "a", rounds.toString)).asJava)
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    val mine = try SnapshotClaimRacer.race(spark, root, "a", "b", rounds)
    finally if (!child.waitFor(300, TimeUnit.SECONDS)) child.destroyForcibly()
    assert(child.exitValue() === 0,
      s"second JVM failed:\n${new String(Files.readAllBytes(log), UTF_8).takeRight(4000)}")
    val theirs = SnapshotClaimRacer.claims(root, "b")

    for ((kind, dir) <- Seq("t" -> SnapshotClaimRacer.table(root),
                             "g" -> SnapshotClaimRacer.group(root))) {
      val (a, b) = (mine.filter(_._1 == kind), theirs.filter(_._1 == kind))
      assert(a.size === rounds && b.size === rounds)
      val versions = (a ++ b).map(_._2)
      assert(versions.distinct.size === versions.size,
        s"$kind: a version has two claimants: ${versions.diff(versions.distinct)}")
      assert(Snapshots.listVersions(spark, dir) === versions.sorted)
      // every claim reads back without error, carrying its claimant's body
      (a ++ b).foreach { case (_, v, mark) =>
        val p = new Path(new Path(dir, "_commits"), v)
        val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
        val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
        assert(text.contains(mark), s"$kind $v does not name its claimant $mark")
      }
    }
  }
}

/** One side of the race, run in this JVM or (through `main`) in a
  * second one. */
object SnapshotClaimRacer {

  def table(root: JPath): String = root.resolve("t").toString
  def group(root: JPath): String = root.resolve("g").toString

  /** Run `rounds` rounds as `me` against `other`; returns and records
    * one `(kind, version, mark)` per claim, where `mark` is a string
    * only this claim's body holds. */
  def race(spark: SparkSession, root: JPath, me: String, other: String,
           rounds: Int): Seq[(String, String, String)] = {
    import spark.implicits._
    val out = (0 until rounds).flatMap { r =>
      val staged = Snapshots.stageOverwrite(spark, table(root), Seq((me, r)).toDF("who", "round"))
      barrier(root, me, other, r)
      val v = Snapshots.publishStaged(spark, table(root), staged)
      val p = SnapshotGroups.pin(spark, group(root), Map(s"$me$r" -> table(root)))
      Seq(("t", v, staged), ("g", p, s"$me$r|"))
    }
    Files.write(root.resolve(s"claims-$me.tmp"),
      out.map { case (k, v, m) => s"$k $v $m" }.asJava, UTF_8)
    Files.move(root.resolve(s"claims-$me.tmp"), root.resolve(s"claims-$me"))
    out
  }

  def claims(root: JPath, who: String): Seq[(String, String, String)] =
    Files.readAllLines(root.resolve(s"claims-$who"), UTF_8).asScala.toSeq.map { l =>
      val Array(k, v, m) = l.split(" ", 3)
      (k, v, m)
    }

  /** Both sides reach round `r` before either claims. */
  private def barrier(root: JPath, me: String, other: String, r: Int): Unit = {
    Files.createFile(root.resolve(s"ready-$me-$r"))
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
    while (!Files.exists(root.resolve(s"ready-$other-$r"))) {
      require(System.nanoTime() < deadline, s"$other never reached round $r")
      Thread.onSpinWait()
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(root, me, other, rounds) = args
    val spark = GraftSession.builder(master = "local[1]").getOrCreate()
    val code =
      try { race(spark, java.nio.file.Paths.get(root), me, other, rounds.toInt); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    spark.stop()
    sys.exit(code)
  }
}
