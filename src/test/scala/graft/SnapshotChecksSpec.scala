package graft

import graft.sources.{CheckConstraintViolationException, Snapshots}

/** CHECK constraints on snapshot tables: install-time validation of
  * existing data, commit-time refusal of violating rows on every
  * commit family, NULL-as-violation, restore exemption for carried
  * dirs, and drop semantics. */
class SnapshotChecksSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(): String =
    SparkSpec.tempDir("graft_check").toString + "/t"

  test("violating upsert is refused loudly and publishes nothing") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    Snapshots.setCheck(spark, dir, "v_positive", "v > 0")
    val before = Snapshots.currentVersion(spark, dir)
    val e = intercept[CheckConstraintViolationException] {
      Snapshots.commitMerge(spark, dir, Seq((3L, -5L)).toDF("k", "v"), "k")
    }
    assert(e.getMessage.contains("v_positive"))
    assert(Snapshots.currentVersion(spark, dir) === before)
    assert(Snapshots.read(spark, dir).count() === 2)
    // a conforming delta still lands
    Snapshots.commitMerge(spark, dir, Seq((3L, 5L)).toDF("k", "v"), "k")
    assert(Snapshots.read(spark, dir).count() === 3)
  }

  test("setCheck refuses when EXISTING data violates; constraint not installed") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, -1L)).toDF("k", "v"))
    intercept[CheckConstraintViolationException] {
      Snapshots.setCheck(spark, dir, "v_positive", "v > 0")
    }
    assert(Snapshots.checks(spark, dir).isEmpty)
  }

  test("NULL check results count as violations (CHECK must be true)") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, Some(1L))).toDF("k", "v"))
    Snapshots.setCheck(spark, dir, "v_positive", "v > 0")
    intercept[CheckConstraintViolationException] {
      Snapshots.commitMerge(spark, dir,
        Seq((2L, None: Option[Long])).toDF("k", "v"), "k")
    }
  }

  test("partitioned merge enforces checks on the partitions it rewrites") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir,
      Seq((1L, "p1", 10L), (2L, "p2", 20L)).toDF("k", "p", "v"), partCol = "p")
    Snapshots.setCheck(spark, dir, "v_cap", "v <= 100")
    intercept[CheckConstraintViolationException] {
      Snapshots.commitMerge(spark, dir,
        Seq((3L, "p1", 999L)).toDF("k", "p", "v"), "k", "p")
    }
    assert(Snapshots.read(spark, dir).count() === 2)
    Snapshots.commitMerge(spark, dir,
      Seq((3L, "p1", 99L)).toDF("k", "p", "v"), "k", "p")
    assert(Snapshots.read(spark, dir).count() === 3)
  }

  test("restore to a pre-constraint version is exempt (carried dirs never re-validate)") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, -7L)).toDF("k", "v"))
    val v1 = Snapshots.currentVersion(spark, dir).get
    Snapshots.commitOverwrite(spark, dir, Seq((1L, 7L)).toDF("k", "v"))
    // current data (v2) satisfies the check; v1's does not
    Snapshots.setCheck(spark, dir, "v_positive", "v > 0")
    // restore re-references v1's dir without rewriting it — allowed:
    // constraints gate NEW data, not time travel
    Snapshots.restore(spark, dir, v1)
    assert(Snapshots.read(spark, dir).as[(Long, Long)].collect().toSeq
      === Seq((1L, -7L)))
  }

  test("dropCheck lifts enforcement") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, 1L)).toDF("k", "v"))
    Snapshots.setCheck(spark, dir, "v_positive", "v > 0")
    intercept[CheckConstraintViolationException] {
      Snapshots.commitMerge(spark, dir, Seq((2L, -1L)).toDF("k", "v"), "k")
    }
    Snapshots.dropCheck(spark, dir, "v_positive")
    Snapshots.commitMerge(spark, dir, Seq((2L, -1L)).toDF("k", "v"), "k")
    assert(Snapshots.read(spark, dir).count() === 2)
  }

  test("multiple checks all enforce; replacing a check by name keeps one entry") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, 10L)).toDF("k", "v"))
    Snapshots.setCheck(spark, dir, "v_positive", "v > 0")
    Snapshots.setCheck(spark, dir, "k_positive", "k > 0")
    Snapshots.setCheck(spark, dir, "v_positive", "v >= 1") // replace
    assert(Snapshots.checks(spark, dir).map(_._1).sorted === Seq("k_positive", "v_positive"))
    intercept[CheckConstraintViolationException] {
      Snapshots.commitMerge(spark, dir, Seq((-2L, 5L)).toDF("k", "v"), "k")
    }
  }
}
