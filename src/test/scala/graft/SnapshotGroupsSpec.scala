package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import graft.sources.{SnapshotGroups, Snapshots}

/** Cross-table consistent reads through group pins. */
class SnapshotGroupsSpec extends SparkSpec {

  import spark.implicits._

  test("group pin freezes a mutually consistent set across later member commits") {
    val root = SparkSpec.tempDir("graft_grp").toString
    val (ta, tb, g) = (s"$root/a", s"$root/b", s"$root/g")
    Snapshots.commitOverwrite(spark, ta, Seq((1L, "a1")).toDF("k", "v"))
    Snapshots.commitOverwrite(spark, tb, Seq((1L, "b1")).toDF("k", "v"))
    val p1 = SnapshotGroups.pin(spark, g, Map("a" -> ta, "b" -> tb))
    assert(p1 === "v00000001")
    // a coordinated writer updates BOTH tables, then pins
    Snapshots.commitOverwrite(spark, ta, Seq((1L, "a2")).toDF("k", "v"))
    // ... reader through the OLD pin between the two member commits
    // still sees the consistent (a1, b1) pair — never (a2, b1)
    assert(SnapshotGroups.read(spark, g, "a").as[(Long, String)].collect()
      .toSeq === Seq((1L, "a1")))
    assert(SnapshotGroups.read(spark, g, "b").as[(Long, String)].collect()
      .toSeq === Seq((1L, "b1")))
    Snapshots.commitOverwrite(spark, tb, Seq((1L, "b2")).toDF("k", "v"))
    val p2 = SnapshotGroups.pin(spark, g, Map("a" -> ta, "b" -> tb))
    // new readers resolve the new pair; pinned readers keep the old one
    assert(SnapshotGroups.read(spark, g, "a").as[(Long, String)].collect()
      .toSeq === Seq((1L, "a2")))
    assert(SnapshotGroups.read(spark, g, "a", Some(p1)).as[(Long, String)]
      .collect().toSeq === Seq((1L, "a1")))
    assert(SnapshotGroups.members(spark, g, Some(p2)).keySet === Set("a", "b"))
  }

  test("reading an unknown member or an empty group fails loudly") {
    val root = SparkSpec.tempDir("graft_grp2").toString
    val (ta, g) = (s"$root/a", s"$root/g")
    intercept[java.io.IOException] { SnapshotGroups.read(spark, g, "a") }
    Snapshots.commitOverwrite(spark, ta, Seq((1L, "x")).toDF("k", "v"))
    SnapshotGroups.pin(spark, g, Map("a" -> ta))
    val e = intercept[java.io.IOException] { SnapshotGroups.read(spark, g, "zzz") }
    assert(e.getMessage.contains("zzz"))
  }

  test("a vacuumed member version fails the group read loudly, never reads newer data") {
    val root = SparkSpec.tempDir("graft_grp3").toString
    val (ta, g) = (s"$root/a", s"$root/g")
    Snapshots.commitOverwrite(spark, ta, Seq((1L, "old")).toDF("k", "v"))
    val pin = SnapshotGroups.pin(spark, g, Map("a" -> ta))
    (1 to 3).foreach(i =>
      Snapshots.commitOverwrite(spark, ta, Seq((1L, s"new$i")).toDF("k", "v")))
    Snapshots.vacuum(spark, ta, keep = 2, orphanGraceMs = 0L)
    val e = intercept[java.io.IOException] {
      SnapshotGroups.read(spark, g, "a", Some(pin)).collect()
    }
    assert(e.getMessage.contains("retained"))
  }

  test("concurrent pins each claim a distinct version that reads back their own map") {
    val root = SparkSpec.tempDir("graft_grp4").toString
    val (ta, g) = (s"$root/a", s"$root/g")
    val tv = Snapshots.commitOverwrite(spark, ta, Seq((1L, "x")).toDF("k", "v"))
    val n = 16
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    try {
      val pins = (0 until n).map { i =>
        pool.submit(new Callable[String] {
          def call(): String = {
            start.await()
            SnapshotGroups.pin(spark, g, Map(s"m$i" -> ta))
          }
        })
      }
      start.countDown()
      val versions = pins.map(_.get(120, TimeUnit.SECONDS))
      assert(versions.distinct.size === n)
      versions.zipWithIndex.foreach { case (v, i) =>
        assert(SnapshotGroups.members(spark, g, Some(v)) === Map(s"m$i" -> ((ta, tv))))
      }
    } finally pool.shutdownNow()
  }
}
