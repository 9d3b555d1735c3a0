package graft

import org.apache.spark.sql.functions._

import graft.sources.{ConcurrentSnapshotCommitException, Snapshots}

/** Commit-log versioned table: reader atomicity, upsert semantics,
  * crash behavior, CAS multi-writer claims, partition-scoped commits,
  * vacuum retention. */
class SnapshotsSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(): String =
    SparkSpec.tempDir("graft_snap").toString + "/t"

  /** (relative path, length, mtime) of every data file under a table —
    * the byte-identity fingerprint for untouched-partition proofs. */
  private def fileStates(dir: String, prefix: String): Map[String, (Long, Long)] = {
    val local = new org.apache.hadoop.fs.Path(dir)
    val fs = local.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualified like the listed paths (file:/…), so the prefix strips
    val root = fs.makeQualified(local)
    val it = fs.listFiles(root, true)
    val b = Map.newBuilder[String, (Long, Long)]
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(root.toString + "/")
      if (rel.startsWith(prefix) && st.getPath.getName.endsWith(".parquet"))
        b += rel -> ((st.getLen, st.getModificationTime))
    }
    b.result()
  }

  test("commitOverwrite publishes; read returns exactly the committed rows") {
    val dir = freshDir()
    val v1 = Snapshots.commitOverwrite(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    assert(v1 === "v00000001")
    assert(Snapshots.currentVersion(spark, dir) === Some("v00000001"))
    assert(Snapshots.read(spark, dir).orderBy("k").as[(Long, String)].collect()
      .toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("second commit advances the log; the old version stays readable (pinned reader)") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    // a long-running reader resolves the log BEFORE the next commit
    val pinned = Snapshots.currentVersion(spark, dir).get
    val v2 = Snapshots.commitOverwrite(spark, dir, Seq((1L, "A"), (3L, "c")).toDF("k", "v"))
    assert(v2 === "v00000002")
    // live readers see v2...
    assert(Snapshots.read(spark, dir).count() === 2)
    // ...while the pinned reader still reads its complete v1 snapshot
    assert(Snapshots.readVersion(spark, dir, pinned).as[(Long, String)].collect()
      .toSeq === Seq((1L, "a")))
  }

  test("a crashed commit (data written, manifest not claimed) is invisible; vacuum's orphan sweep reclaims it") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    // simulate a writer that died after the data write, before the
    // claim: an unreferenced data dir exists, the commit log does not
    // mention it
    Seq((9L, "junk")).toDF("k", "v").write.parquet(s"$dir/d-deadbeef0000")
    assert(Snapshots.currentVersion(spark, dir) === Some("v00000001"))
    assert(Snapshots.read(spark, dir).as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // the next commit is unaffected by the orphan
    val v2 = Snapshots.commitOverwrite(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    assert(v2 === "v00000002")
    assert(Snapshots.read(spark, dir).as[(Long, String)].collect().toSeq === Seq((2L, "b")))
    // within the grace window the orphan survives (it could be a
    // concurrent committer's in-flight write)...
    Snapshots.vacuum(spark, dir, keep = 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/d-deadbeef0000")))
    // ...past it, the sweep reclaims it and reads are untouched
    Snapshots.vacuum(spark, dir, keep = 2, orphanGraceMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/d-deadbeef0000")))
    assert(Snapshots.read(spark, dir).count() === 1)
  }

  test("commitUpsert: delta wins on collision, inserts new keys, first commit bootstraps") {
    // one merge rule on both layouts, and every merge keeps its layout
    for (partCol <- Seq("", "p")) {
      val dir = freshDir()
      def merge(rows: (Long, String)*): String = Snapshots.commitMerge(spark, dir,
        rows.toDF("k", "v").withColumn("p", (col("k") % 2).cast("string")), "k", partCol)
      def live: Seq[(Long, String)] = Snapshots.read(spark, dir).orderBy("k")
        .select("k", "v").as[(Long, String)].collect().toSeq
      merge((1L, "a"), (2L, "b"))
      merge((2L, "B"), (3L, "c"))
      assert(live === Seq((1L, "a"), (2L, "B"), (3L, "c")))
      // a delta repeating a key leaves one row per key, picked as the
      // bootstrap picks it
      merge((3L, "d"), (3L, "C"), (4L, "e"), (4L, "e"))
      assert(live === Seq((1L, "a"), (2L, "B"), (3L, "C"), (4L, "e")))
      val v = Snapshots.currentVersion(spark, dir).get
      assert(Snapshots.readManifest(spark, dir, v).partCol === partCol)
      // a merge naming the other layout is refused and publishes nothing
      val e = intercept[IllegalArgumentException] {
        Snapshots.commitMerge(spark, dir, Seq((5L, "f", "1")).toDF("k", "v", "p"), "k",
          if (partCol.isEmpty) "p" else "")
      }
      assert(e.getMessage.contains("is not partitioned by"))
      assert(Snapshots.currentVersion(spark, dir) === Some(v))
      // a later merge in the table's own layout lands
      merge((5L, "f"))
      assert(live.last === ((5L, "f")))
      assert(Snapshots.readManifest(spark, dir,
        Snapshots.currentVersion(spark, dir).get).partCol === partCol)
    }
  }

  test("commitMerge keeps a duplicated base key the delta does not carry, on both layouts") {
    for (partCol <- Seq("", "status")) {
      val dir = freshDir()
      Snapshots.commitOverwrite(spark, dir, Seq((1L, "F", 1.0), (1L, "F", 2.0), (2L, "F", 3.0))
        .toDF("k", "status", "amount"), partCol = partCol)
      Snapshots.commitMerge(spark, dir,
        Seq((2L, "F", 30.0), (3L, "F", 4.0)).toDF("k", "status", "amount"), "k", partCol)
      // a base row survives iff the delta lacks its key (SQL MERGE)
      assert(Snapshots.read(spark, dir).orderBy("k", "amount")
        .select(col("k"), col("status"), col("amount"))
        .as[(Long, String, Double)].collect().toSeq ===
        Seq((1L, "F", 1.0), (1L, "F", 2.0), (2L, "F", 30.0), (3L, "F", 4.0)), partCol)
    }
  }

  test("tryClaim is a CAS: exactly one claimant of a version number wins") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    val m = Snapshots.readManifest(spark, dir, "v00000001")
    assert(Snapshots.tryClaim(spark, dir, 2, m) === true)
    assert(Snapshots.tryClaim(spark, dir, 2, m) === false) // number taken
    assert(Snapshots.currentVersion(spark, dir) === Some("v00000002"))
  }

  test("interleaved committers: overwrite retries past the winner; read-modify-write loses loudly") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    // writer A resolves the snapshot it will merge against...
    val aBase = Snapshots.currentVersion(spark, dir).get
    // ...writer B commits first (wins v2)
    assert(Snapshots.commitOverwrite(spark, dir,
      Seq((1L, "B")).toDF("k", "v")) === "v00000002")
    // A's upsert against its stale base must FAIL, not silently drop
    // B's rows under the next number
    intercept[ConcurrentSnapshotCommitException] {
      Snapshots.commitMerge(spark, dir, Seq((2L, "x")).toDF("k", "v"), "k",
        expectedVersion = Some(aBase))
    }
    // A re-runs against the new live snapshot and lands v3 with B's
    // rows intact
    assert(Snapshots.commitMerge(spark, dir,
      Seq((2L, "x")).toDF("k", "v"), "k") === "v00000003")
    assert(Snapshots.read(spark, dir).orderBy("k").as[(Long, String)].collect()
      .toSeq === Seq((1L, "B"), (2L, "x")))
    // a plain overwrite is base-independent → collisions just advance
    assert(Snapshots.commitOverwrite(spark, dir,
      Seq((9L, "z")).toDF("k", "v")) === "v00000004")
  }

  test("concurrent overwrite committers all land distinct versions; final state is one of theirs") {
    val dir = freshDir()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence((1 to 4).toList.map(i => Future {
        Snapshots.commitOverwrite(spark, dir, Seq((i.toLong, s"w$i")).toDF("k", "v"))
      })), 120.seconds)
    assert(results.toSet.size === 4) // no two writers share a version
    assert(Snapshots.currentVersion(spark, dir) === Some(results.max))
    val live = Snapshots.read(spark, dir).as[(Long, String)].collect().toSeq
    assert(live.size === 1 && live.head._2.startsWith("w"))
  }

  test("partition-scoped merge commit rewrites only touched partitions; untouched files are byte-identical") {
    val dir = freshDir()
    val base = Seq(
      (1L, "F", 10.0), (2L, "F", 20.0),
      (3L, "O", 30.0), (4L, "O", 40.0),
      (5L, "P", 50.0)).toDF("k", "status", "amount")
    val v1 = Snapshots.commitOverwrite(spark, dir, base, partCol = "status")
    assert(v1 === "v00000001")
    assert(Snapshots.read(spark, dir).count() === 5)
    val before = fileStates(dir, "d-")
    // pinned reader on v1
    val pinned = Snapshots.currentVersion(spark, dir).get
    // delta touches ONLY partition F: one update, one insert
    val delta = Seq((2L, "F", 99.0), (6L, "F", 60.0)).toDF("k", "status", "amount")
    val v2 = Snapshots.commitMerge(spark, dir, delta, "k", "status")
    assert(v2 === "v00000002")
    val after = fileStates(dir, "d-")
    // every pre-commit file still exists, with identical length+mtime
    // (nothing was rewritten in place — O and P are REFERENCED, not
    // copied; only a new data dir with partition F was added)
    before.foreach { case (rel, st) => assert(after.get(rel) === Some(st), rel) }
    val m2 = Snapshots.readManifest(spark, dir, v2).partitions.toMap
    val m1 = Snapshots.readManifest(spark, dir, v1).partitions.toMap
    assert(m2.view.filterKeys(Set("O", "P")).toMap
      === m1.view.filterKeys(Set("O", "P")).toMap)
    assert(m2.get("F") !== m1.get("F"))
    // merged content: delta wins on k=2, k=6 inserted, O/P untouched
    assert(Snapshots.read(spark, dir).orderBy("k")
      .select(col("k"), col("status"), col("amount"))
      .as[(Long, String, Double)].collect().toSeq === Seq(
        (1L, "F", 10.0), (2L, "F", 99.0), (3L, "O", 30.0),
        (4L, "O", 40.0), (5L, "P", 50.0), (6L, "F", 60.0)))
    // the pinned reader still sees the complete v1 snapshot
    assert(Snapshots.readVersion(spark, dir, pinned).count() === 5)
    // a new partition value arriving in a later delta is an insert
    val v3 = Snapshots.commitMerge(spark, dir,
      Seq((7L, "X", 70.0)).toDF("k", "status", "amount"), "k", "status")
    assert(Snapshots.readVersion(spark, dir, v3).filter(col("status") === "X").count() === 1)
    assert(Snapshots.read(spark, dir).count() === 7)
  }

  test("partitioned read-modify-write also loses loudly to an interleaved commit") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir,
      Seq((1L, "F", 1.0)).toDF("k", "status", "amount"), partCol = "status")
    val stale = Snapshots.currentVersion(spark, dir).get
    Snapshots.commitMerge(spark, dir,
      Seq((2L, "F", 2.0)).toDF("k", "status", "amount"), "k", "status")
    intercept[ConcurrentSnapshotCommitException] {
      Snapshots.commitMerge(spark, dir,
        Seq((3L, "F", 3.0)).toDF("k", "status", "amount"), "k", "status",
        expectedVersion = Some(stale))
    }
  }

  test("version diff labels added/removed/changed; manifest-pruned diff equals the naive one") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq(
      (1L, "F", 10.0), (2L, "F", 20.0), (3L, "O", 30.0),
      (5L, "P", 50.0)).toDF("k", "status", "amount"), partCol = "status")
    // v2: update k=2, insert k=6 (F), insert a brand-new partition X;
    // O and P untouched → their manifest entries (and files) unchanged
    Snapshots.commitMerge(spark, dir, Seq(
      (2L, "F", 99.0), (6L, "F", 60.0), (7L, "X", 70.0))
      .toDF("k", "status", "amount"), "k", "status")
    def collectDiff(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("change") =!= "unchanged")
      .select(col("k"), col("change"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val naive = collectDiff(
      Snapshots.diffVersions(spark, dir, "v00000001", "v00000002", "k"))
    val pruned = collectDiff(
      Snapshots.diffVersionsPartitioned(spark, dir, "v00000001", "v00000002", "k"))
    assert(naive === Set((2L, "changed"), (6L, "added"), (7L, "added")))
    assert(pruned === naive)
    // the pruned plan's scans list only files from the F/X partitions —
    // never O/P (manifest pruning, not row filtering)
    val files = Snapshots.diffVersionsPartitioned(
        spark, dir, "v00000001", "v00000002", "k")
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.toSeq
      }.flatten
    assert(files.nonEmpty)
    assert(!files.exists(f => f.contains("status=O") || f.contains("status=P")),
      s"pruned diff read an untouched partition: ${files.mkString(",")}")
  }

  test("vacuum drops old manifests and unreferenced data dirs, never the live chain") {
    val dir = freshDir()
    (1 to 4).foreach(i =>
      Snapshots.commitOverwrite(spark, dir, Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(Snapshots.listVersions(spark, dir).size === 4)
    val removed = Snapshots.vacuum(spark, dir, keep = 2, orphanGraceMs = 0L)
    assert(removed === 2)
    assert(Snapshots.listVersions(spark, dir) === Seq("v00000003", "v00000004"))
    assert(Snapshots.read(spark, dir).as[(Long, String)].collect().toSeq === Seq((4L, "v4")))
    // v1/v2's data dirs are gone; v3/v4's remain (v3 = retained reader horizon)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("d-"))
    assert(dataDirs.size === 2)
    // vacuum(keep=1) keeps only the live version
    assert(Snapshots.vacuum(spark, dir, keep = 1, orphanGraceMs = 0L) === 1)
    assert(Snapshots.read(spark, dir).count() === 1)
  }

  test("compact consolidates a merge chain into one data dir so vacuum can reclaim it") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq(
      (1L, "F", 1.0), (2L, "O", 2.0), (3L, "P", 3.0)).toDF("k", "status", "amount"), partCol = "status")
    (1 to 3).foreach(i => Snapshots.commitMerge(spark, dir,
      Seq((1L, "F", i * 10.0), (10L + i, "O", i.toDouble))
        .toDF("k", "status", "amount"), "k", "status"))
    def owners(v: String) =
      Snapshots.readManifest(spark, dir, v).partitions.map(_._2).distinct
    val live = Snapshots.currentVersion(spark, dir).get
    assert(owners(live).size >= 2, "merge chain should span multiple data dirs")
    val before = Snapshots.read(spark, dir).orderBy("k")
      .select(col("k"), col("status"), col("amount"))
      .as[(Long, String, Double)].collect().toSeq
    val cv = Snapshots.compact(spark, dir)
    assert(owners(cv).size === 1)
    // identical content through the rewrite
    assert(Snapshots.read(spark, dir).orderBy("k")
      .select(col("k"), col("status"), col("amount"))
      .as[(Long, String, Double)].collect().toSeq === before)
    // the chain is now unreferenced → vacuum reclaims every old dir
    Snapshots.vacuum(spark, dir, keep = 1, orphanGraceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("d-"))
    assert(dataDirs.size === 1)
    assert(Snapshots.read(spark, dir).orderBy("k")
      .select(col("k"), col("status"), col("amount"))
      .as[(Long, String, Double)].collect().toSeq === before)
  }

  test("compact bin-packs a merge chain's small files into one file per partition") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq(
      (1L, "F", 1.0), (2L, "O", 2.0)).toDF("k", "status", "amount"), partCol = "status")
    // each merge writes F's surviving rows and its delta row as
    // separate files
    (1 to 3).foreach(i => Snapshots.commitMerge(spark, dir,
      Seq((10L + i, "F", i.toDouble)).toDF("k", "status", "amount"), "k", "status"))
    def filesPerPartition(v: String): Map[String, Int] =
      Snapshots.readManifest(spark, dir, v).partitions.map { case (p, dd) =>
        p -> fileStates(dir, s"$dd/status=$p/").size }.toMap
    def rows() = Snapshots.read(spark, dir).orderBy("k")
      .select(col("k"), col("status"), col("amount"))
      .as[(Long, String, Double)].collect().toSeq
    assert(filesPerPartition(Snapshots.currentVersion(spark, dir).get)("F") > 1)
    val before = rows()
    val cv = Snapshots.compact(spark, dir)
    assert(filesPerPartition(cv) === Map("F" -> 1, "O" -> 1))
    assert(rows() === before)
  }

  test("cross-partition key move: stale row is deleted, key never duplicated") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq(
      (1L, "F", 10.0), (2L, "F", 20.0), (3L, "O", 30.0)).toDF("k", "status", "amount"),
      partCol = "status")
    // key 2 MOVES F→O (the dimension-attribute move): partition F is
    // not in the delta's partition set, yet its stale row must go
    Snapshots.commitMerge(spark, dir,
      Seq((2L, "O", 99.0)).toDF("k", "status", "amount"), "k", "status")
    val rows = Snapshots.read(spark, dir).orderBy("k")
      .select(col("k"), col("status"), col("amount"))
      .as[(Long, String, Double)].collect().toSeq
    assert(rows === Seq((1L, "F", 10.0), (2L, "O", 99.0), (3L, "O", 30.0)))
    // the invariant the round-5 verdict flagged: one row per key
    assert(Snapshots.read(spark, dir).groupBy("k").count()
      .filter(col("count") > 1).count() === 0)
  }

  test("key move that empties a partition drops it from the manifest") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq(
      (1L, "F", 10.0), (5L, "P", 50.0)).toDF("k", "status", "amount"), partCol = "status")
    // P's only row moves to F → P must vanish from manifest and reads
    val v2 = Snapshots.commitMerge(spark, dir,
      Seq((5L, "F", 55.0)).toDF("k", "status", "amount"), "k", "status")
    val m2 = Snapshots.readManifest(spark, dir, v2)
    assert(!m2.partitions.map(_._1).contains("P"))
    assert(Snapshots.read(spark, dir).orderBy("k")
      .select(col("k"), col("status"), col("amount"))
      .as[(Long, String, Double)].collect().toSeq
      === Seq((1L, "F", 10.0), (5L, "F", 55.0)))
  }

  test("no key moves → untouched partitions still never rewritten (byte-identity preserved)") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq(
      (1L, "F", 10.0), (3L, "O", 30.0)).toDF("k", "status", "amount"), partCol = "status")
    val before = fileStates(dir, "d-")
    Snapshots.commitMerge(spark, dir,
      Seq((1L, "F", 11.0)).toDF("k", "status", "amount"), "k", "status")
    val after = fileStates(dir, "d-")
    before.foreach { case (rel, st) => assert(after.get(rel) === Some(st), rel) }
  }

  test("bootstrap commits are CAS-protected: no silent lost update among concurrent first writers") {
    val dir = freshDir()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = Await.result(
      Future.sequence((1 to 4).toList.map(i => Future {
        try Right(Snapshots.commitMerge(spark, dir,
          Seq((i.toLong, s"w$i")).toDF("k", "v"), "k"))
        catch { case e: ConcurrentSnapshotCommitException => Left(e) }
      })), 120.seconds)
    val winners = attempts.zipWithIndex.collect { case (Right(_), i) => (i + 1).toLong }
    assert(winners.nonEmpty)
    // the contract: every writer either threw loudly or its rows are
    // visible in the live snapshot — nobody's commit is silently hidden
    val liveKeys = Snapshots.read(spark, dir).select("k")
      .as[Long].collect().toSet
    winners.foreach(w => assert(liveKeys.contains(w),
      s"writer $w reported success but its rows are not in the live snapshot"))
  }

  test("maybeCompact triggers only past the dir-count threshold and is then a no-op") {
    val dir = freshDir()
    Snapshots.commitMerge(spark, dir,
      Seq((1L, "A", 1.0)).toDF("k", "p", "amount"), "k", "p")
    (2 to 4).foreach { i =>
      Snapshots.commitMerge(spark, dir,
        Seq((i.toLong, s"P$i", i.toDouble)).toDF("k", "p", "amount"), "k", "p")
    }
    // live manifest references 4 dirs — below a threshold of 4 nothing runs
    assert(Snapshots.maybeCompact(spark, dir, maxDirs = 4) === None)
    val v = Snapshots.maybeCompact(spark, dir, maxDirs = 3)
    assert(v.isDefined)
    assert(Snapshots.read(spark, dir).count() === 4)
    // compacted: one dir → immediate no-op at the same threshold
    assert(Snapshots.maybeCompact(spark, dir, maxDirs = 3) === None)
  }

  test("shallow clone: zero-copy read equality, independent divergence, partition-scoped borrow") {
    val src = freshDir()
    Snapshots.commitMerge(spark, src,
      Seq((1L, "A", 1.0), (2L, "B", 2.0), (3L, "B", 3.0)).toDF("k", "p", "amount"),
      "k", "p")
    val tgt = freshDir()
    val v1 = Snapshots.shallowClone(spark, src, tgt)
    assert(v1 === "v00000001")
    // zero bytes copied: no data dirs exist under the clone root
    assert(fileStates(tgt, "d-").isEmpty)
    // clone reads the source version exactly
    assert(Snapshots.read(spark, tgt).orderBy("k").collect().toSeq ===
      Snapshots.read(spark, src).orderBy("k").collect().toSeq)
    // a partition-scoped merge on the CLONE rewrites only partition B
    // locally; partition A keeps reading the SOURCE's bytes
    val srcBytes = fileStates(src, "d-")
    Snapshots.commitMerge(spark, tgt,
      Seq((3L, "B", 33.0)).toDF("k", "p", "amount"), "k", "p")
    assert(fileStates(src, "d-") === srcBytes, "source files untouched by clone write")
    val cloneRows = Snapshots.read(spark, tgt).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(cloneRows === Seq((1L, 1.0), (2L, 2.0), (3L, 33.0)))
    // the source never sees the clone's divergence
    assert(Snapshots.read(spark, src).filter(col("k") === 3L)
      .head().getDouble(2) === 3.0)
    // vacuum on the clone is safe: it deletes nothing under the source
    Snapshots.vacuum(spark, tgt, keep = 1, orphanGraceMs = 0L)
    assert(fileStates(src, "d-") === srcBytes, "clone vacuum never touches source files")
    assert(Snapshots.read(spark, tgt).count() === 3)
    // cloning onto an existing table is refused — even one whose early
    // versions were vacuumed (re-claiming a retired number would
    // splice foreign history under the live versions)
    intercept[IllegalArgumentException] {
      Snapshots.shallowClone(spark, src, tgt)
    }
  }

  test("shallow clone carries file stats: skipping still prunes source files from the clone") {
    val src = freshDir()
    Snapshots.commitOverwrite(spark, src,
      spark.range(1, 101).selectExpr("id AS k", "CASE WHEN id <= 50 THEN 'L' ELSE 'H' END AS p",
        "CAST(id AS DOUBLE) AS amount"),
      partCol = "p", statsCols = Seq("k"))
    val tgt = freshDir()
    Snapshots.shallowClone(spark, src, tgt)
    val pruned = Snapshots.readVersionPruned(spark, tgt, "v00000001",
      "k", BigDecimal(7), BigDecimal(7))
    assert(pruned.count() === 1)
    def scannedFiles(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.toSeq
      }.flatten.distinct
    val all = scannedFiles(Snapshots.readVersion(spark, tgt, "v00000001"))
    val hit = scannedFiles(pruned)
    assert(hit.size < all.size,
      s"clone stats skipping must prune: scanned ${hit.size} of ${all.size}")
  }

  test("shallow clone refuses a source whose borrowed dir path carries a manifest delimiter") {
    // the partition manifest line splits dir from value on the last
    // '=', so an absolute borrowed dir under `p=1/` would not round-trip
    val src = s"${freshDir()}/p=1/src"
    Snapshots.commitOverwrite(spark, src, Seq((1L, "a")).toDF("k", "name"))
    val tgt = freshDir()
    val e = intercept[IllegalArgumentException] {
      Snapshots.shallowClone(spark, src, tgt)
    }
    assert(e.getMessage.contains("manifest delimiter"))
    assert(Snapshots.currentVersion(spark, tgt) === None, "nothing was claimed")
  }

  test("OCC auto-rebase: a merge that lost the CAS race to a DISJOINT-partition commit retries and lands") {
    val dir = freshDir()
    val base = Snapshots.commitMerge(spark, dir,
      Seq((1L, "A", 1.0), (2L, "B", 2.0)).toDF("k", "p", "amount"), "k", "p")
    // winner commits into partition A while our writer still holds `base`
    val winner = Snapshots.commitMerge(spark, dir,
      Seq((3L, "A", 3.0)).toDF("k", "p", "amount"), "k", "p")
    assert(winner === "v00000002")
    // plain CAS path: stale expectedVersion throws
    intercept[ConcurrentSnapshotCommitException] {
      Snapshots.commitMerge(spark, dir,
        Seq((4L, "C", 4.0)).toDF("k", "p", "amount"), "k", "p",
        expectedVersion = Some(base))
    }
    // deterministic rebase: the delta was derived from the pre-winner
    // base but targets a partition the winner never touched — the OCC
    // path MUST land it without caller involvement
    val rebased = Snapshots.commitMergeOcc(spark, dir,
      Seq((5L, "X", 5.0)).toDF("k", "p", "amount"), "k", "p",
      expectedVersion = Some(base))
    assert(rebased === "v00000003")
    assert(Snapshots.read(spark, dir).filter(col("p") === "A").count() === 2,
      "the winner's partition-A row survived the rebased commit")
    // and racing OCC writers on DISJOINT partitions all land
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence(List("C", "D", "E").zipWithIndex.map {
      case (p, i) => Future {
        Snapshots.commitMergeOcc(spark, dir,
          Seq((10L + i, p, 10.0 + i)).toDF("k", "p", "amount"), "k", "p")
      }
    }), 300.seconds)
    assert(results.distinct.size === 3, s"each writer got its own version: $results")
    val live = Snapshots.read(spark, dir)
    assert(live.count() === 7) // 1,2,3 + rebased 5 + the three racing writers
    assert(live.filter(col("p").isin("C", "D", "E")).count() === 3)
  }

  test("OCC auto-rebase: overlapping write sets conflict loudly instead of silently serializing") {
    val dir = freshDir()
    Snapshots.commitMerge(spark, dir,
      Seq((1L, "A", 1.0), (2L, "B", 2.0)).toDF("k", "p", "amount"), "k", "p")
    val stale = Snapshots.currentVersion(spark, dir)
    // winner rewrites partition A
    Snapshots.commitMerge(spark, dir,
      Seq((1L, "A", 99.0)).toDF("k", "p", "amount"), "k", "p")
    // loser also writes partition A from the stale base: the OCC path
    // must refuse (the loser's delta may be derived from pre-winner A)
    val e = intercept[graft.sources.SnapshotWriteConflictException] {
      // the delta was derived from the stale base: the claim against it
      // fails, and the rebase finds A in both the winner's changed set
      // and our write set
      Snapshots.commitMergeOcc(spark, dir,
        Seq((7L, "A", 7.0)).toDF("k", "p", "amount"), "k", "p",
        expectedVersion = stale)
    }
    assert(e.getMessage.contains("A"))
    // key-level conflict: winner wrote key 2 into a NEW partition; a
    // stale merge carrying key 2 (targeting fresh partition Z) must
    // also conflict — the winner's row would be resurrected otherwise
    val stale2 = Snapshots.currentVersion(spark, dir)
    Snapshots.commitMerge(spark, dir,
      Seq((2L, "M", 22.0)).toDF("k", "p", "amount"), "k", "p")
    val e2 = intercept[graft.sources.SnapshotWriteConflictException] {
      Snapshots.commitMergeOcc(spark, dir,
        Seq((2L, "Z", 0.0)).toDF("k", "p", "amount"), "k", "p",
        expectedVersion = stale2)
    }
    assert(e2.getMessage.contains("keys"))
  }

  test("manifest round-trips hostile partition values ('=', newline); empty is refused") {
    val dir = freshDir()
    val hostile = Seq((1L, "a=b", 1.0), (2L, "x\ny", 2.0), (3L, "c:d%e", 3.0))
      .toDF("k", "status", "amount")
    val v1 = Snapshots.commitOverwrite(spark, dir, hostile, partCol = "status")
    assert(Snapshots.readVersion(spark, dir, v1).orderBy("k")
      .select(col("k"), col("status"))
      .as[(Long, String)].collect().toSeq
      === Seq((1L, "a=b"), (2L, "x\ny"), (3L, "c:d%e")))
    // a merge against a hostile-valued table resolves partitions correctly
    Snapshots.commitMerge(spark, dir,
      Seq((1L, "a=b", 9.0)).toDF("k", "status", "amount"), "k", "status")
    assert(Snapshots.read(spark, dir).filter(col("k") === 1)
      .select(col("amount")).as[Double].collect().toSeq === Seq(9.0))
    // vacuum's referenced-set resolves escaped values → live dirs survive
    Snapshots.vacuum(spark, dir, keep = 1, orphanGraceMs = 0L)
    assert(Snapshots.read(spark, dir).count() === 3)
    intercept[IllegalArgumentException] {
      Snapshots.commitOverwrite(spark, freshDir(),
        Seq((1L, "", 1.0)).toDF("k", "status", "amount"), partCol = "status")
    }
  }

  test("failed claims leave no .tmp-* strays; vacuum sweeps aged ones") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    val m = Snapshots.readManifest(spark, dir, "v00000001")
    assert(Snapshots.tryClaim(spark, dir, 1, m) === false) // number taken
    val commits = new org.apache.hadoop.fs.Path(s"$dir/_commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def strays() = fs.listStatus(commits).toSeq
      .filter(_.getPath.getName.startsWith(".tmp-"))
    assert(strays().isEmpty, "failed claim leaked its tmp manifest")
    // a claimant that died between create and rename leaves a stray …
    val dead = new org.apache.hadoop.fs.Path(commits, ".tmp-deadbeef")
    val out = fs.create(dead, true)
    try out.write("dir=d-000000000000\n".getBytes("UTF-8")) finally out.close()
    fs.setTimes(dead, 0L, 0L) // aged far past any grace window
    assert(strays().size === 1)
    Snapshots.vacuum(spark, dir, keep = 2)
    assert(strays().isEmpty, "vacuum did not sweep the aged stray")
    assert(Snapshots.read(spark, dir).count() === 1) // table unharmed
  }

  test("pinned reader vs vacuum: within retention reads; past it fails loudly, never partially") {
    val dir = freshDir()
    (1 to 3).foreach(i =>
      Snapshots.commitOverwrite(spark, dir, Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val pinned = "v00000001"
    // within retention (keep=3) the pinned snapshot reads completely
    Snapshots.vacuum(spark, dir, keep = 3, orphanGraceMs = 0L)
    assert(Snapshots.readVersion(spark, dir, pinned).as[(Long, String)]
      .collect().toSeq === Seq((1L, "v1")))
    // past retention the manifest is gone: the read FAILS with a clear
    // error naming the retained versions — the documented failure mode
    // (choose `keep` longer than the longest reader); it can never
    // return partial data because manifests go before data dirs
    Snapshots.vacuum(spark, dir, keep = 2, orphanGraceMs = 0L)
    val e = intercept[java.io.IOException] {
      Snapshots.readVersion(spark, dir, pinned).collect()
    }
    assert(e.getMessage.contains("not retained"))
    assert(e.getMessage.contains("v00000002"))
  }

  test("add-column evolution: partitioned merge carries a new column; untouched partitions read typed NULLs") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq(
      (1L, "F", 10.0), (3L, "O", 30.0)).toDF("k", "status", "amount"), partCol = "status")
    // delta adds a `note` column, touching only F — O's files predate
    // the column and are NOT rewritten
    val before = fileStates(dir, "d-")
    val v2 = Snapshots.commitMerge(spark, dir,
      Seq((1L, "F", 11.0, "updated"), (2L, "F", 20.0, "new"))
        .toDF("k", "status", "amount", "note"), "k", "status")
    val after = fileStates(dir, "d-")
    before.foreach { case (rel, st) => assert(after.get(rel) === Some(st), rel) }
    val rows = Snapshots.read(spark, dir).orderBy("k")
      .select(col("k"), col("status"), col("amount"), col("note"))
      .as[(Long, String, Double, Option[String])].collect().toSeq
    assert(rows === Seq(
      (1L, "F", 11.0, Some("updated")),
      (2L, "F", 20.0, Some("new")),
      (3L, "O", 30.0, None))) // pre-evolution partition → typed NULL
    // a later merge WITHOUT the new column is refused (dropping ≠ evolving)
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitMerge(spark, dir,
        Seq((4L, "F", 40.0)).toDF("k", "status", "amount"), "k", "status")
    }
    assert(e.getMessage.contains("missing base columns"))
    // diff across the evolution works; key 3's untouched partition is
    // manifest-pruned (same owner dir both sides → never read at all)
    val d = Snapshots.diffVersionsPartitioned(spark, dir, "v00000001", v2, "k")
      .select(col("k"), col("change"))
      .as[(Long, String)].collect().toMap
    assert(d === Map(1L -> "changed", 2L -> "added"))
    // the naive (unpruned) diff reads both full versions: the new
    // column is NULL on both sides of key 3 → 'unchanged', not a
    // spurious 'changed' from the evolution itself
    val naive = Snapshots.diffVersions(spark, dir, "v00000001", v2, "k")
      .select(col("k"), col("change")).as[(Long, String)].collect().toMap
    assert(naive === Map(1L -> "changed", 2L -> "added", 3L -> "unchanged"))
    // both diffs carry their payload structs in the same field order,
    // though the partition column `status` is declared mid-schema
    def payload(d: org.apache.spark.sql.DataFrame) =
      Seq("_old", "_new").map(s => d.select(col(s"$s.*")).columns.toSeq)
    assert(payload(Snapshots.diffVersionsPartitioned(spark, dir, "v00000001", v2, "k"))
      === payload(Snapshots.diffVersions(spark, dir, "v00000001", v2, "k")))
  }

  test("add-column evolution on whole-table upsert commits") {
    val dir = freshDir()
    Snapshots.commitMerge(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    Snapshots.commitMerge(spark, dir,
      Seq((2L, "B", 7L), (3L, "c", 9L)).toDF("k", "v", "score"), "k")
    assert(Snapshots.read(spark, dir).orderBy("k")
      .select(col("k"), col("v"), col("score"))
      .as[(Long, String, Option[Long])].collect().toSeq
      === Seq((1L, "a", None), (2L, "B", Some(7L)), (3L, "c", Some(9L))))
    // the declared schema survives compaction
    Snapshots.compact(spark, dir)
    assert(Snapshots.read(spark, dir).columns.toSeq === Seq("k", "v", "score"))
  }

  test("file stats prune a range read to intersecting files; results equal the unpruned filter") {
    val dir = freshDir()
    // key-clustered layout: 4 range partitions → 4 files with tight,
    // disjoint key ranges — the layout a 100 TB table would maintain
    // via Z-order/range-partitioned writes
    val df = (1L to 400L).map(k => (k, s"v$k", (k % 7).toDouble))
      .toDF("k", "v", "w")
      .repartitionByRange(4, col("k"))
    Snapshots.commitOverwrite(spark, dir, df, statsCols = Seq("k"))
    val pruned = Snapshots.readVersionPruned(spark, dir, "v00000001",
      "k", BigDecimal(150), BigDecimal(160))
    // correctness: exactly the rows of the unpruned filter
    assert(pruned.orderBy("k").select(col("k"), col("v"))
      .as[(Long, String)].collect().toSeq
      === (150L to 160L).map(k => (k, s"v$k")))
    // skipping: the plan scans STRICTLY fewer files than the version has
    def scannedFiles(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.toSeq
      }.flatten.distinct
    val all = scannedFiles(Snapshots.readVersion(spark, dir, "v00000001"))
    val hit = scannedFiles(pruned)
    assert(all.size === 4)
    assert(hit.size < all.size,
      s"pruned read scanned ${hit.size} of ${all.size} files — no skipping")
    // an empty-range read scans nothing and returns no rows
    assert(Snapshots.readVersionPruned(spark, dir, "v00000001",
      "k", BigDecimal(1000), BigDecimal(2000)).count() === 0)
  }

  test("partitioned merge carries file stats forward and prunes across data dirs") {
    val dir = freshDir()
    val base = (1L to 300L).map(k => (k, if (k <= 200) "F" else "O", k.toDouble))
      .toDF("k", "status", "amount")
      .repartitionByRange(3, col("k"))
    Snapshots.commitOverwrite(spark, dir, base, partCol = "status",
      statsCols = Seq("k"))
    // merge touches O only; F's stats must carry forward verbatim
    val v2 = Snapshots.commitMerge(spark, dir,
      Seq((250L, "O", 999.0)).toDF("k", "status", "amount"), "k", "status")
    val pruned = Snapshots.readVersionPruned(spark, dir, v2,
      "k", BigDecimal(250), BigDecimal(250))
    assert(pruned.select(col("amount")).as[Double].collect().toSeq === Seq(999.0))
    // a low-range read over carried stats never opens the new data dir
    val lowFiles = Snapshots.readVersionPruned(spark, dir, v2,
        "k", BigDecimal(1), BigDecimal(10))
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.toSeq
      }.flatten
    val m2 = Snapshots.readManifest(spark, dir, v2)
    val newDd = m2.partitions.toMap.apply("O")
    assert(lowFiles.nonEmpty && !lowFiles.exists(_.contains(newDd)),
      "low-range read should be served entirely by carried stats on old dirs")
    // results still exact
    assert(Snapshots.readVersionPruned(spark, dir, v2, "k",
      BigDecimal(1), BigDecimal(10)).count() === 10)
  }

  test("stats-pruned key-move detection still catches moves (pruning is provably safe)") {
    val dir = freshDir()
    // stats on the merge key: the detection scan can prune untouched
    // files by key range. A stale row shares its key with a delta row,
    // so its file's range always intersects the delta's — pruning can
    // speed detection up but never miss a move.
    val base = (1L to 300L).map(k => (k, if (k % 3 == 0) "O" else "F", k.toDouble))
      .toDF("k", "status", "amount").repartitionByRange(3, col("k"))
    Snapshots.commitOverwrite(spark, dir, base, partCol = "status",
      statsCols = Seq("k"))
    // key 150 (F) moves to O; delta touches only O
    val v2 = Snapshots.commitMerge(spark, dir,
      Seq((150L, "O", 999.0)).toDF("k", "status", "amount"), "k", "status")
    val rows = Snapshots.read(spark, dir).filter(col("k") === 150L)
      .select(col("status"), col("amount")).as[(String, Double)].collect().toSeq
    assert(rows === Seq(("O", 999.0)))
    assert(Snapshots.read(spark, dir).groupBy("k").count()
      .filter(col("count") > 1).count() === 0)
    // stats survive the move-merge: pruned reads stay exact
    assert(Snapshots.readVersionPruned(spark, dir, v2, "k",
      BigDecimal(150), BigDecimal(150)).select(col("amount"))
      .as[Double].collect().toSeq === Seq(999.0))
    assert(Snapshots.readVersionPruned(spark, dir, v2, "k",
      BigDecimal(1), BigDecimal(50)).count() === 50)
  }

  test("z-order + stats: a 2D box read prunes files on the interleaved key") {
    import graft.sources.ZOrder
    val dir = freshDir()
    // 64×64 grid, z-ordered into 16 files — each file covers a small
    // rectangle, so an 8×8 box intersects few z-ranges
    val grid = (for { x <- 0L to 63L; y <- 0L to 63L } yield (x, y, x * 64 + y))
      .toDF("x", "y", "payload")
    val keyed = grid.withColumn("z",
      ZOrder.zkey2(ZOrder.scaled(col("x"), 0, 63, 16),
        ZOrder.scaled(col("y"), 0, 63, 16), 16))
    Snapshots.commitOverwrite(spark, dir,
      keyed.repartitionByRange(16, col("z")).sortWithinPartitions(col("z")),
      statsCols = Seq("z"))
    val zlo = ZOrder.zvalue2(ZOrder.scaledValue(8, 0, 63), ZOrder.scaledValue(8, 0, 63))
    val zhi = ZOrder.zvalue2(ZOrder.scaledValue(15, 0, 63), ZOrder.scaledValue(15, 0, 63))
    val boxed = Snapshots.readVersionPruned(spark, dir, "v00000001",
        "z", BigDecimal(zlo), BigDecimal(zhi))
      .filter(col("x").between(8, 15) && col("y").between(15 - 7, 15))
    assert(boxed.count() === 64) // exact box content
    val scanned = boxed.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.toSeq
    }.flatten.distinct
    assert(scanned.size < 16,
      s"2D box read scanned all ${scanned.size} files — z-skipping inert")
  }

  test("empty delta merge is a no-op (no new version published)") {
    for (partCol <- Seq("status", "")) {
      val dir = freshDir()
      Snapshots.commitOverwrite(spark, dir,
        Seq((1L, "F", 1.0)).toDF("k", "status", "amount"), partCol = partCol)
      val v = Snapshots.commitMerge(spark, dir,
        Seq.empty[(Long, String, Double)].toDF("k", "status", "amount"),
        "k", partCol)
      assert(v === "v00000001")
      assert(Snapshots.listVersions(spark, dir) === Seq("v00000001"))
      assert(Snapshots.read(spark, dir).count() === 1)
    }
  }

  test("key move into a brand-new partition deletes the stale row too") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq(
      (1L, "F", 10.0), (2L, "F", 20.0)).toDF("k", "status", "amount"), partCol = "status")
    // key 2 moves to partition X which does not exist yet
    Snapshots.commitMerge(spark, dir,
      Seq((2L, "X", 99.0)).toDF("k", "status", "amount"), "k", "status")
    assert(Snapshots.read(spark, dir).orderBy("k")
      .select(col("k"), col("status"), col("amount"))
      .as[(Long, String, Double)].collect().toSeq
      === Seq((1L, "F", 10.0), (2L, "X", 99.0)))
  }

  test("pruned reads keep predicate pushdown (row-group pruning engages inside survivors)") {
    val dir = freshDir()
    val df = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    Snapshots.commitOverwrite(spark, dir, df, statsCols = Seq("k"))
    val plan = Snapshots.readVersionPruned(spark, dir, "v00000001",
      "k", BigDecimal(10), BigDecimal(20)).queryExecution.sparkPlan
    val pushed = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata("PushedFilters")
    }.mkString
    assert(pushed.contains("GreaterThanOrEqual(k,10)") && pushed.contains("LessThanOrEqual(k,20)"),
      s"range predicate not pushed to parquet: $pushed")
  }

  test("compactZOrdered: 2D box reads prune on BOTH raw columns, results exact") {
    // committed in x-major order: without re-clustering, every file
    // spans the full y domain and a y-filter prunes nothing
    val grid = (for { x <- 0L to 63L; y <- 0L to 63L } yield (x, y, x * 64 + y))
      .toDF("x", "y", "payload").repartitionByRange(16, col("x"))
      .withColumn("band", when(col("x") < 32, "lo").otherwise("hi"))
    def box(q: org.apache.spark.sql.DataFrame) = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.toSeq
    }.flatten.distinct.size
    // whole-table, and partitioned by band: the Z-order keeps the layout
    for (partCol <- Seq("", "band")) {
      val dir = freshDir()
      Snapshots.commitOverwrite(spark, dir, grid, partCol = partCol)
      val cv = Snapshots.compactZOrdered(spark, dir, "x", "y", numFiles = 16)
      assert(Snapshots.readManifest(spark, dir, cv).partCol === partCol)
      // the z-clustered rewrite preserves content exactly
      assert(Snapshots.readVersion(spark, dir, cv).count() === 64 * 64)
      val read = Snapshots.readVersionPrunedMulti(spark, dir, cv, Seq(
        ("x", BigDecimal(8), BigDecimal(15)), ("y", BigDecimal(40), BigDecimal(47))))
      assert(read.count() === 64)
      assert(read.agg(sum(col("payload"))).head.getLong(0)
        === (for { x <- 8L to 15L; y <- 40L to 47L } yield x * 64 + y).sum)
      val files = box(Snapshots.readVersion(spark, dir, cv))
      assert(files >= 16 && box(read) < 16, s"2D box read opened ${box(read)} of $files files")
      if (partCol.nonEmpty) {
        // the table is still partitioned by band, so a merge lands
        Snapshots.commitMerge(spark, dir,
          Seq((1L, 1L, -1L, "lo")).toDF("x", "y", "payload", "band"), "payload", "band")
        assert(Snapshots.read(spark, dir).count() === 64 * 64 + 1)
      }
    }
  }

  test("partition-scoped vacuum never deletes a data dir the live manifest still references") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq(
      (1L, "F", 1.0), (2L, "O", 2.0)).toDF("k", "status", "amount"), partCol = "status")
    // 3 partition-F-only merge commits — the ORIGINAL dir still owns O
    (1 to 3).foreach(i => Snapshots.commitMerge(spark, dir,
      Seq((1L, "F", i.toDouble)).toDF("k", "status", "amount"), "k", "status"))
    Snapshots.vacuum(spark, dir, keep = 1, orphanGraceMs = 0L)
    // the live version reads completely: partition O's files (owned by
    // the v1 data dir, referenced by the live manifest) survived
    assert(Snapshots.read(spark, dir).orderBy("k")
      .select(col("k"), col("status"), col("amount"))
      .as[(Long, String, Double)].collect().toSeq
      === Seq((1L, "F", 3.0), (2L, "O", 2.0)))
  }

  // ------------------------------------------------------ delete / update

  private def partedBase(dir: String): String = {
    val base = Seq(
      (1L, "F", 10.0), (2L, "F", 20.0),
      (3L, "O", 30.0), (4L, "O", 40.0),
      (5L, "P", 50.0)).toDF("k", "status", "amount")
    Snapshots.commitOverwrite(spark, dir, base, partCol = "status")
  }

  test("commitDelete rewrites only partitions with matches; untouched files byte-identical") {
    val dir = freshDir()
    partedBase(dir)
    val before = fileStates(dir, "d-")
    val v2 = Snapshots.commitDelete(spark, dir, col("status") === "F" && col("k") === 2L)
    assert(v2 === "v00000002")
    val after = fileStates(dir, "d-")
    before.foreach { case (rel, st) => assert(after.get(rel) === Some(st), rel) }
    val m1 = Snapshots.readManifest(spark, dir, "v00000001").partitions.toMap
    val m2 = Snapshots.readManifest(spark, dir, v2).partitions.toMap
    assert(m2.view.filterKeys(Set("O", "P")).toMap === m1.view.filterKeys(Set("O", "P")).toMap)
    assert(m2.get("F") !== m1.get("F"))
    assert(Snapshots.read(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq === Seq(
        (1L, "F", 10.0), (3L, "O", 30.0), (4L, "O", 40.0), (5L, "P", 50.0)))
  }

  test("commitDelete: a fully-deleted partition drops from the manifest; no-match is a no-op") {
    val dir = freshDir()
    partedBase(dir)
    val v2 = Snapshots.commitDelete(spark, dir, col("status") === "P")
    val m2 = Snapshots.readManifest(spark, dir, v2)
    assert(!m2.partitions.toMap.contains("P"))
    assert(Snapshots.read(spark, dir).count() === 4)
    // NULL-predicate rows are kept (SQL three-valued DELETE), and a
    // predicate matching nothing publishes no new version
    val v3 = Snapshots.commitDelete(spark, dir, col("k") > lit(100L))
    assert(v3 === v2)
    val v4 = Snapshots.commitDelete(spark, dir,
      when(col("k") === 1L, lit(null).cast("boolean")).otherwise(col("k") > 100L))
    assert(v4 === v2)
    // a version with no partition left cannot be published, whether a
    // delete or an empty overwrite empties the table
    intercept[IllegalArgumentException] { Snapshots.commitDelete(spark, dir, lit(true)) }
    intercept[IllegalArgumentException] {
      Snapshots.commitOverwrite(spark, dir, Snapshots.read(spark, dir).limit(0), partCol = "status")
    }
    assert(Snapshots.currentVersion(spark, dir) === Some(v2))
    assert(Snapshots.read(spark, dir).count() === 4)
  }

  test("commitDelete on a non-partitioned table; stats-bounded detection never under-deletes in range") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir,
      spark.range(100).select(col("id").as("k"), (col("id") % 10).as("m"))
        .repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    // the caller's contract: the predicate only holds inside k ∈ [10, 19]
    val v2 = Snapshots.commitDelete(spark, dir,
      col("m") === 3 && col("k") >= 10 && col("k") < 20,
      prunePreds = Seq(("k", BigDecimal(10), BigDecimal(19))))
    assert(v2 === "v00000002")
    assert(Snapshots.read(spark, dir).count() === 99) // only k=13 gone
    assert(Snapshots.read(spark, dir).filter(col("k") === 13L).count() === 0)
  }

  test("commitUpdate: RHS evaluated against the OLD row (SET a=b, b=a swaps); types preserved") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir,
      Seq((1L, 10.0, 100.0), (2L, 20.0, 200.0)).toDF("k", "a", "b"))
    Snapshots.commitUpdate(spark, dir, col("k") === 1L,
      Seq("a" -> col("b"), "b" -> col("a")))
    assert(Snapshots.read(spark, dir).orderBy("k")
      .as[(Long, Double, Double)].collect().toSeq
      === Seq((1L, 100.0, 10.0), (2L, 20.0, 200.0)))
    // unknown SET column is refused — UPDATE cannot add columns
    intercept[IllegalArgumentException] {
      Snapshots.commitUpdate(spark, dir, col("k") === 1L, Seq("zzz" -> lit(1)))
    }
  }

  test("commitUpdate partition-scoped: untouched partitions keep their files") {
    val dir = freshDir()
    partedBase(dir)
    val before = fileStates(dir, "d-")
    val v2 = Snapshots.commitUpdate(spark, dir,
      col("status") === "O" && col("k") === 3L,
      Seq("amount" -> (col("amount") + lit(5.0))))
    val after = fileStates(dir, "d-")
    before.foreach { case (rel, st) => assert(after.get(rel) === Some(st), rel) }
    val m1 = Snapshots.readManifest(spark, dir, "v00000001").partitions.toMap
    val m2 = Snapshots.readManifest(spark, dir, v2).partitions.toMap
    assert(m2.view.filterKeys(Set("F", "P")).toMap === m1.view.filterKeys(Set("F", "P")).toMap)
    assert(Snapshots.read(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq === Seq(
        (1L, "F", 10.0), (2L, "F", 20.0), (3L, "O", 35.0),
        (4L, "O", 40.0), (5L, "P", 50.0)))
  }

  test("commitUpdate moving rows across partitions merges them into the target partition") {
    val dir = freshDir()
    partedBase(dir)
    // k=5 moves P → F; F's existing rows must survive in the same dir
    val v2 = Snapshots.commitUpdate(spark, dir, col("status") === "P",
      Seq("status" -> lit("F")))
    val m2 = Snapshots.readManifest(spark, dir, v2)
    assert(!m2.partitions.toMap.contains("P")) // emptied source partition drops
    assert(Snapshots.read(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq === Seq(
        (1L, "F", 10.0), (2L, "F", 20.0), (3L, "O", 30.0),
        (4L, "O", 40.0), (5L, "F", 50.0)))
    // a key is never duplicated across partitions by the move
    assert(Snapshots.read(spark, dir).groupBy("k").count()
      .filter(col("count") > 1).count() === 0)
    // SET partCol to NULL is refused loudly
    intercept[IllegalArgumentException] {
      Snapshots.commitUpdate(spark, dir, col("k") === 1L,
        Seq("status" -> lit(null).cast("string")))
    }
  }

  // -------------------------------------------------------------- restore

  test("restore republishes an old version's manifest without copying data") {
    val dir = freshDir()
    val v1 = partedBase(dir)
    Snapshots.commitDelete(spark, dir, col("status") === "F")
    assert(Snapshots.read(spark, dir).count() === 3)
    val before = fileStates(dir, "d-")
    val v3 = Snapshots.restore(spark, dir, v1)
    assert(v3 === "v00000003")
    // zero data movement: the file population is unchanged
    assert(fileStates(dir, "d-") === before)
    // live content equals v1 exactly (manifest content carried verbatim)
    assert(Snapshots.read(spark, dir).orderBy("k").collect().toSeq
      === Snapshots.readVersion(spark, dir, v1).orderBy("k").collect().toSeq)
    // restoring the live version is a no-op
    assert(Snapshots.restore(spark, dir, v3) === v3)
    // history preserved: the rolled-back v2 is still readable
    assert(Snapshots.readVersion(spark, dir, "v00000002").count() === 3)
  }

  test("restore re-pins old dirs against vacuum; restoring a vacuumed version fails loudly") {
    val dir = freshDir()
    val v1 = Snapshots.commitOverwrite(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    Snapshots.commitOverwrite(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    val v3 = Snapshots.restore(spark, dir, v1)
    // v1's dir is referenced by the live manifest → survives vacuum
    Snapshots.vacuum(spark, dir, keep = 1, orphanGraceMs = 0L)
    assert(Snapshots.read(spark, dir).as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // v1's manifest itself is gone now → restoring it fails loudly
    val err = intercept[java.io.IOException] { Snapshots.restore(spark, dir, v1) }
    assert(err.getMessage.contains("not retained"))
    assert(Snapshots.currentVersion(spark, dir) === Some(v3))
  }

  test("readAsOf time-travels by commit timestamp; before-first-commit fails loudly") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    val commits = new org.apache.hadoop.fs.Path(dir, "_commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t1 = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(commits, "v00000001")).getModificationTime
    Thread.sleep(50) // ensure v2's mtime lands strictly after t1
    Snapshots.commitOverwrite(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    assert(Snapshots.versionAt(spark, dir, t1) === Some("v00000001"))
    assert(Snapshots.readAsOf(spark, dir, t1).as[(Long, String)].collect()
      .toSeq === Seq((1L, "a")))
    assert(Snapshots.readAsOf(spark, dir, System.currentTimeMillis())
      .as[(Long, String)].collect().toSeq === Seq((2L, "b")))
    val err = intercept[java.io.IOException] { Snapshots.readAsOf(spark, dir, t1 - 3600000L) }
    assert(err.getMessage.contains("no version"))
  }

  // ------------------------------------------------------ deletion vectors

  test("commitDeleteVector deletes without touching any data file; compact materializes and clears") {
    val dir = freshDir()
    partedBase(dir)
    val before = fileStates(dir, "d-")
    val v2 = Snapshots.commitDeleteVector(spark, dir,
      Seq(Tuple1(2L), Tuple1(5L)).toDF("k"), "k")
    assert(v2 === "v00000002")
    // EVERY pre-existing data file is byte-identical — the delete
    // wrote only the delete-sized key parquet
    val after = fileStates(dir, "d-")
    before.foreach { case (rel, st) => assert(after.get(rel) === Some(st), rel) }
    assert(Snapshots.read(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq === Seq(
        (1L, "F", 10.0), (3L, "O", 30.0), (4L, "O", 40.0)))
    // the pre-delete version still reads complete (time travel)
    assert(Snapshots.readVersion(spark, dir, "v00000001").count() === 5)
    // a second DV with a different key column is refused
    intercept[IllegalArgumentException] {
      Snapshots.commitDeleteVector(spark, dir, Seq(Tuple1("F")).toDF("status"), "status")
    }
    // compact materializes live rows and clears the vectors
    val v3 = Snapshots.compact(spark, dir)
    assert(Snapshots.readManifest(spark, dir, v3).dvs.isEmpty)
    assert(Snapshots.read(spark, dir).count() === 3)
    // after retention passes, vacuum reclaims the dv dir with the rest
    Snapshots.vacuum(spark, dir, keep = 1, orphanGraceMs = 0L)
    assert(Snapshots.read(spark, dir).count() === 3)
  }

  test("re-inserting a DV-deleted key via merge resurfaces it; DVs ride along on untouched dirs") {
    val dir = freshDir()
    partedBase(dir)
    Snapshots.commitDeleteVector(spark, dir, Seq(Tuple1(2L)).toDF("k"), "k")
    assert(Snapshots.read(spark, dir).filter(col("k") === 2L).count() === 0)
    // the re-insert lands in a NEW dir — the dir-scoped DV cannot mask it
    Snapshots.commitMerge(spark, dir,
      Seq((2L, "F", 99.0)).toDF("k", "status", "amount"), "k", "status")
    assert(Snapshots.read(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq === Seq(
        (1L, "F", 10.0), (2L, "F", 99.0), (3L, "O", 30.0),
        (4L, "O", 40.0), (5L, "P", 50.0)))
    // the untouched partitions (O, P) still read through the original
    // dir with its DV applied — the manifest carried the entries
    val live = Snapshots.currentVersion(spark, dir).get
    assert(Snapshots.readManifest(spark, dir, live).dvs.nonEmpty)
  }

  test("pruned reads, diff and changeFeed all apply deletion vectors") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir,
      spark.range(100).select(col("id").as("k"), (col("id") % 7).as("m"))
        .repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    Snapshots.commitDeleteVector(spark, dir,
      spark.range(10, 15).select(col("id").as("k")), "k")
    // stats-pruned range read: k ∈ [5, 20] minus the deleted [10, 14]
    assert(Snapshots.readVersionPruned(spark, dir, "v00000002", "k",
        BigDecimal(5), BigDecimal(20))
      .select(col("k")).as[Long].collect().sorted.toSeq
      === ((5L to 9L) ++ (15L to 20L)))
    // diff v1→v2: exactly the 5 DV-deleted keys are 'removed'
    val d = Snapshots.diffVersions(spark, dir, "v00000001", "v00000002", "k")
    assert(d.filter(col("change") === "removed").select(col("k"))
      .as[Long].collect().sorted.toSeq === (10L to 14L))
    assert(d.filter(col("change") =!= "unchanged").count() === 5)
    // changeFeed emits them as delete rows
    val cdf = Snapshots.changeFeed(spark, dir, "v00000001", "v00000002", "k")
    assert(cdf.select(col("_change_type")).distinct().as[String].collect()
      .toSeq === Seq("delete"))
    assert(cdf.count() === 5)
  }

  test("partitioned diff prunes by (dir, DV) pairs: a DV delete on an unchanged dir is not skipped") {
    val dir = freshDir()
    partedBase(dir)
    Snapshots.commitDeleteVector(spark, dir, Seq(Tuple1(3L)).toDF("k"), "k")
    val d = Snapshots.diffVersionsPartitioned(spark, dir,
      "v00000001", "v00000002", "k")
    assert(d.filter(col("change") === "removed").count() === 1)
    // no false changes: everything else is unchanged
    assert(d.filter(col("change") =!= "unchanged").count() === 1)
  }

  test("history lists retained versions with layout, dir/DV counts and schema width") {
    val dir = freshDir()
    partedBase(dir)
    Snapshots.commitDeleteVector(spark, dir, Seq(Tuple1(2L)).toDF("k"), "k")
    val h = Snapshots.history(spark, dir)
      .select("version", "layout", "n_partitions", "n_dvs", "n_columns")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(h === Seq(
      ("v00000001", "partitioned:status", 3L, 0L, 3L),
      ("v00000002", "partitioned:status", 3L, 1L, 3L)))
    // commit instants are monotone non-decreasing across versions
    val times = Snapshots.history(spark, dir).select("committed_at")
      .as[java.sql.Timestamp].collect().map(_.getTime).toSeq
    assert(times === times.sorted)
  }

  test("pollChanges drains the CDF incrementally; no new commits → None") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val (v1, none) = Snapshots.pollChanges(spark, dir, "v00000001", "k")
    assert(v1 === "v00000001" && none.isEmpty)
    Snapshots.commitMerge(spark, dir, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), "k")
    Snapshots.commitDelete(spark, dir, col("k") === 1L)
    val (v3, Some(cdf)) = Snapshots.pollChanges(spark, dir, "v00000001", "k")
    assert(v3 === "v00000003")
    assert(cdf.orderBy("k", "_change_type").as[(Long, String, String)].collect()
      .toSeq === Seq(
        (1L, "a", "delete"), (2L, "B", "update_postimage"),
        (2L, "b", "update_preimage"), (3L, "c", "insert")))
    // the checkpointed version resumes cleanly: nothing new after v3
    assert(Snapshots.pollChanges(spark, dir, v3, "k")._2.isEmpty)
  }

  test("deletion vectors compose with add-column evolution; concurrent DV claims CAS-serialize") {
    val dir = freshDir()
    partedBase(dir)
    Snapshots.commitDeleteVector(spark, dir, Seq(Tuple1(5L)).toDF("k"), "k")
    // add-column merge on the DV'd table: delta adds `note`; the DV'd
    // dir is untouched and its vector still applies; old rows read the
    // new column as typed NULLs
    Snapshots.commitMerge(spark, dir,
      Seq((6L, "F", 60.0, "new")).toDF("k", "status", "amount", "note"),
      "k", "status")
    val live = Snapshots.read(spark, dir)
    assert(live.count() === 5) // 5 base - 1 DV-deleted + 1 inserted
    assert(live.filter(col("k") === 5L).count() === 0)
    assert(live.filter(col("k") === 6L).select("note").as[String].head() === "new")
    // pre-evolution rows read the added column as NULL
    assert(live.filter(col("k") === 1L).select("note").as[String].head() === null)
    // a writer whose base the DV commit raced past loses loudly
    val stale = Snapshots.currentVersion(spark, dir).get
    Snapshots.commitDeleteVector(spark, dir, Seq(Tuple1(1L)).toDF("k"), "k")
    intercept[ConcurrentSnapshotCommitException] {
      Snapshots.commitMerge(spark, dir,
        Seq((9L, "F", 9.0, "x")).toDF("k", "status", "amount", "note"), "k", "status",
        expectedVersion = Some(stale))
    }
  }

  test("forget: after DV delete + compact + vacuum the forgotten bytes are physically gone") {
    val dir = freshDir()
    val sentinel = "FORGET_ME_7f3a9c"
    Snapshots.commitOverwrite(spark, dir, Seq(
      (1L, "F", "keep-a"), (2L, "F", sentinel),
      (3L, "O", "keep-b")).toDF("k", "status", "payload"), partCol = "status")
    // a merge creates a second version still carrying the sentinel
    Snapshots.commitMerge(spark, dir,
      Seq((4L, "O", "keep-c")).toDF("k", "status", "payload"), "k", "status")
    def bytesContain(needle: String): Boolean = {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      var found = false
      while (it.hasNext && !found) {
        val st = it.next()
        if (st.isFile) {
          val in = fs.open(st.getPath)
          val buf = new Array[Byte](st.getLen.toInt)
          try in.readFully(0, buf) finally in.close()
          if (new String(buf, "ISO-8859-1").contains(needle)) found = true
        }
      }
      found
    }
    assert(bytesContain(sentinel)) // parquet stores the string in plain data pages
    Snapshots.forget(spark, dir, Seq(Tuple1(2L)).toDF("k"), "k")
    // logical: the key is gone; physical: NO remaining file holds the bytes
    assert(Snapshots.read(spark, dir).orderBy("k")
      .as[(Long, String, String)].collect().toSeq === Seq(
        (1L, "F", "keep-a"), (3L, "O", "keep-b"), (4L, "O", "keep-c")))
    assert(!bytesContain(sentinel), "forgotten payload still on disk")
    // history collapsed to the single live version
    assert(Snapshots.history(spark, dir).count() === 1)
  }

  test("DV anti-join broadcasts the delete-sized key set (no corpus shuffle)") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir,
      spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v")))
    Snapshots.commitDeleteVector(spark, dir, Seq(Tuple1(7L)).toDF("k"), "k")
    val plan = Snapshots.read(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join in:\n$plan")
  }

  test("maintainAggregate applies signed CDF deltas; zero-count groups drop like a recompute") {
    val dir = freshDir()
    partedBase(dir)
    val baseAgg = Snapshots.readVersion(spark, dir, "v00000001")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).as("value_sum"))
    // v2: update k=2 (F), insert k=6 (O), delete ALL of P
    Snapshots.commitMerge(spark, dir,
      Seq((2L, "F", 99.0), (6L, "O", 60.0)).toDF("k", "status", "amount"), "k", "status")
    Snapshots.commitDelete(spark, dir, col("status") === "P")
    val live = Snapshots.currentVersion(spark, dir).get
    val inc = Snapshots.maintainAggregate(spark, dir, "v00000001", live,
        "k", "status", "amount", baseAgg)
      .orderBy("status")
      .select(col("status"), col("n"), col("value_sum").cast("double"))
      .as[(String, Long, Double)].collect().toSeq
    val full = Snapshots.read(spark, dir)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).cast("double").as("value_sum"))
      .orderBy("status")
      .as[(String, Long, Double)].collect().toSeq
    assert(inc === full)
    assert(!inc.exists(_._1 == "P")) // emptied group absent, as recomputed
  }

  // ------------------------------------------------------ change data feed

  test("changeFeed emits insert/delete/update pre+post rows; equals the diff it derives from") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq(
      (1L, "F", 10.0), (2L, "F", 20.0), (3L, "O", 30.0),
      (5L, "P", 50.0)).toDF("k", "status", "amount"), partCol = "status")
    // k=2 changed, k=6 inserted (F); k=5 deleted (P emptied)
    Snapshots.commitMerge(spark, dir,
      Seq((2L, "F", 99.0), (6L, "F", 60.0)).toDF("k", "status", "amount"), "k", "status")
    Snapshots.commitDelete(spark, dir, col("k") === 5L)
    val cdf = Snapshots.changeFeed(spark, dir, "v00000001", "v00000003", "k")
    assert(cdf.columns.toSeq === Seq("k", "status", "amount", "_change_type"))
    assert(cdf.orderBy("k", "_change_type")
      .as[(Long, String, Double, String)].collect().toSeq === Seq(
        (2L, "F", 99.0, "update_postimage"), (2L, "F", 20.0, "update_preimage"),
        (5L, "P", 50.0, "delete"), (6L, "F", 60.0, "insert")))
    // unchanged keys emit nothing
    assert(cdf.filter(col("k").isin(1L, 3L)).count() === 0)
  }

  test("metadataRowCounts answers per-partition COUNT(*) from the manifest, surviving DML") {
    val dir = freshDir()
    val base = Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 3.0),
      (4L, "B", 4.0), (5L, "B", 5.0), (6L, "C", 6.0)).toDF("k", "p", "v")
    Snapshots.commitOverwrite(spark, dir, base, partCol = "p",
      statsCols = Seq(Snapshots.RowCountCol, "v"))
    val v1 = Snapshots.currentVersion(spark, dir).get
    assert(counts(dir, v1) === Map("A" -> 2L, "B" -> 3L, "C" -> 1L))
    // DELETE rewrites B with fresh counts; A and C carry stat lines
    Snapshots.commitDelete(spark, dir, col("p") === "B" && col("k") === 4L)
    val v2 = Snapshots.currentVersion(spark, dir).get
    assert(counts(dir, v2) === Map("A" -> 2L, "B" -> 2L, "C" -> 1L))
    // the old version's counts remain pinned (time travel)
    assert(counts(dir, v1) === Map("A" -> 2L, "B" -> 3L, "C" -> 1L))
  }

  test("metadataRowCounts opens ZERO data files: still answers after they are physically gone") {
    val dir = freshDir()
    val base = Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 3.0)).toDF("k", "p", "v")
    Snapshots.commitOverwrite(spark, dir, base, partCol = "p",
      statsCols = Seq(Snapshots.RowCountCol))
    val v1 = Snapshots.currentVersion(spark, dir).get
    // vaporize every parquet data file; only the commit log remains
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    var removed = 0
    val toDelete = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) toDelete += st.getPath
    }
    toDelete.foreach { p => fs.delete(p, false); removed += 1 }
    assert(removed > 0, "fixture should have had data files")
    assert(counts(dir, v1) === Map("A" -> 2L, "B" -> 1L),
      "counts must come from the manifest, not the (now gone) data")
  }

  test("metadataRowCounts refuses tables without _rows stats or with pending DVs") {
    val noStats = freshDir()
    Snapshots.commitOverwrite(spark, noStats,
      Seq((1L, "A", 1.0)).toDF("k", "p", "v"), partCol = "p")
    val v = Snapshots.currentVersion(spark, noStats).get
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.metadataRowCounts(spark, noStats, v)
    }
    assert(e1.getMessage.contains(Snapshots.RowCountCol))
    val dv = freshDir()
    Snapshots.commitOverwrite(spark, dv,
      Seq((1L, "A", 1.0), (2L, "A", 2.0)).toDF("k", "p", "v"), partCol = "p",
      statsCols = Seq(Snapshots.RowCountCol))
    Snapshots.commitDeleteVector(spark, dv, Seq(1L).toDF("k"), "k")
    val vdv = Snapshots.currentVersion(spark, dv).get
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.metadataRowCounts(spark, dv, vdv)
    }
    assert(e2.getMessage.contains("deletion vectors"))
  }

  private def counts(dir: String, v: String): Map[String, Long] =
    Snapshots.metadataRowCounts(spark, dir, v).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("partition evolution: each version owns its layout; pinned readers keep the old one") {
    val dir = freshDir()
    val rows = Seq((1L, "A", "x"), (2L, "A", "y"), (3L, "B", "x")).toDF("k", "p1", "p2")
    Snapshots.commitOverwrite(spark, dir, rows, partCol = "p1",
      statsCols = Seq(Snapshots.RowCountCol, "k"))
    // the stats columns v1 tracks carry into the new layout
    Snapshots.commitOverwrite(spark, dir, rows, partCol = "p2")
    // both layouts read the same logical rows
    assert(Snapshots.readVersion(spark, dir, "v00000001")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    assert(Snapshots.read(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    // manifest-only counts follow each version's own partition column
    assert(counts(dir, "v00000001") === Map("A" -> 2L, "B" -> 1L))
    assert(counts(dir, "v00000002") === Map("x" -> 2L, "y" -> 1L))
    // cross-layout drift is refused loudly, not silently mis-joined
    intercept[IllegalArgumentException] {
      Snapshots.metadataPartitionDrift(spark, dir, "v00000001", "v00000002")
    }
    def tracked(v: String) = Snapshots.readManifest(spark, dir, v).stats.map(_.col).distinct.sorted
    assert(tracked("v00000002") === Seq(Snapshots.RowCountCol, "k"))
    // a carried column that becomes the partition column drops out
    Snapshots.commitOverwrite(spark, dir, rows, partCol = "k")
    assert(tracked("v00000003") === Seq(Snapshots.RowCountCol))
    assert(counts(dir, "v00000003") === Map("1" -> 1L, "2" -> 1L, "3" -> 1L))
  }

  test("WAP: staged data is invisible to every reader until published") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    val v1 = Snapshots.currentVersion(spark, dir).get
    val staged = Snapshots.stageOverwrite(spark, dir,
      Seq((2L, "b"), (3L, "c")).toDF("k", "s"))
    // live read, version list, and the staged read itself
    assert(Snapshots.read(spark, dir).collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(Snapshots.currentVersion(spark, dir).get === v1)
    assert(Snapshots.readStaged(spark, dir, staged).count() === 2L)
    val v2 = Snapshots.publishStaged(spark, dir, staged)
    assert(v2 !== v1)
    assert(Snapshots.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    // pinned reader still sees v1 (the audited publish copied nothing)
    assert(Snapshots.readVersion(spark, dir, v1).collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("WAP: abandon removes the staged dir; abandoning a published dir is refused") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    val bad = Snapshots.stageOverwrite(spark, dir, Seq((9L, "z")).toDF("k", "s"))
    Snapshots.abandonStaged(spark, dir, bad)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, bad)))
    intercept[IllegalArgumentException] {
      Snapshots.publishStaged(spark, dir, bad) // gone → loud
    }
    val good = Snapshots.stageOverwrite(spark, dir, Seq((2L, "b")).toDF("k", "s"))
    Snapshots.publishStaged(spark, dir, good)
    intercept[IllegalArgumentException] {
      Snapshots.abandonStaged(spark, dir, good) // published → refused
    }
  }

  test("WAP: publish rides the CAS — a concurrent commit between stage and publish is safe") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    val staged = Snapshots.stageOverwrite(spark, dir, Seq((2L, "b")).toDF("k", "s"))
    // another writer lands while our audit runs
    Snapshots.commitOverwrite(spark, dir, Seq((7L, "x")).toDF("k", "s"))
    val v = Snapshots.publishStaged(spark, dir, staged)
    assert(Snapshots.currentVersion(spark, dir).get === v)
    assert(Snapshots.read(spark, dir).collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("WAP: installed CHECK constraints still gate a staged publish") {
    val dir = freshDir()
    Snapshots.commitOverwrite(spark, dir, Seq((1L, 10.0)).toDF("k", "v"))
    Snapshots.setCheck(spark, dir, "v_positive", "v > 0")
    val staged = Snapshots.stageOverwrite(spark, dir, Seq((2L, -5.0)).toDF("k", "v"))
    intercept[Exception] { // CheckViolation at the claim
      Snapshots.publishStaged(spark, dir, staged)
    }
    // the failed publish did not advance the table
    assert(Snapshots.read(spark, dir).collect().map(_.getLong(0)).toSeq === Seq(1L))
  }
}
