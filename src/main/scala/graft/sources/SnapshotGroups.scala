package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-TABLE snapshot consistency: a group manifest pins one
  * version of each member table, claimed with the same
  * create-exclusive CAS rename as [[Snapshots]] version manifests
  * (one claim, [[Snapshots.claimFile]], serves both).
  * Single-table logs (Delta, and [[Snapshots]]) give per-table
  * atomicity only — a reader joining two tables mid-pipeline can see
  * table A after a coordinated write but table B before it. A writer
  * that commits its member tables and THEN pins publishes the pair
  * atomically: readers resolving through the group always get a
  * mutually consistent set, and a writer crash between member commits
  * and the pin leaves the previous pin intact (the new member
  * versions are simply not yet visible through the group).
  *
  * Retention contract: group pins reference member versions by name,
  * so `Snapshots.vacuum` on a member must retain at least as many
  * versions as the oldest live pin needs — a vacuumed member version
  * fails the group read loudly (never silently reads newer data).
  *
  * Format: `groupDir/_commits/vN`, one `name|tableDir|version` line
  * per member (name and version are identifier-shaped; tableDir, which
  * may contain anything printable but newline/'|', sits between fixed
  * fields of a 3-way split).
  */
object SnapshotGroups {

  def currentVersion(spark: SparkSession, groupDir: String): Option[String] =
    Snapshots.currentVersion(spark, groupDir)

  /** Pin the given member (name → tableDir) set at each table's
    * CURRENT version. Call after all member commits land. Returns the
    * claimed group version. */
  def pin(spark: SparkSession, groupDir: String,
          members: Map[String, String]): String = {
    require(members.nonEmpty, "SnapshotGroups.pin: no member tables")
    val resolved = members.toSeq.sortBy(_._1).map { case (name, tableDir) =>
      require(!name.contains("|") && !name.contains("\n"),
        s"SnapshotGroups: member name '$name' must be '|'- and newline-free")
      require(!tableDir.contains("|") && !tableDir.contains("\n"),
        s"SnapshotGroups: tableDir '$tableDir' must be '|'- and newline-free")
      val v = Snapshots.currentVersion(spark, tableDir).getOrElse(throw new IOException(
        s"SnapshotGroups.pin: member '$name' at $tableDir has no committed version"))
      s"$name|$tableDir|$v"
    }
    val body = resolved.mkString("", "\n", "\n")
    Snapshots.claimNext(spark, groupDir)(Snapshots.claimFile(spark, groupDir, _, body))
  }

  /** The (tableDir, tableVersion) each member was pinned at. */
  def members(spark: SparkSession, groupDir: String,
              version: Option[String] = None): Map[String, (String, String)] = {
    val v = version.orElse(currentVersion(spark, groupDir)).getOrElse(
      throw new IOException(s"SnapshotGroups: no pin committed at $groupDir"))
    val p = new Path(new Path(groupDir, Snapshots.CommitDir), v)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw new IOException(
      s"SnapshotGroups: pin $v of $groupDir does not exist; " +
        s"retained: ${Snapshots.listVersions(spark, groupDir).mkString(", ")}")
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList finally in.close()
    lines.map { l =>
      val ps = l.split("\\|", 3)
      require(ps.length == 3, s"SnapshotGroups: malformed pin line '$l' in $v")
      ps(0) -> ((ps(1), ps(2)))
    }.toMap
  }

  /** Read member `name` AS OF the group pin — the cross-table
    * consistent read. */
  def read(spark: SparkSession, groupDir: String, name: String,
           version: Option[String] = None): DataFrame = {
    val ms = members(spark, groupDir, version)
    val (tableDir, tv) = ms.getOrElse(name, throw new IOException(
      s"SnapshotGroups: no member '$name' in pin " +
        s"${version.orElse(currentVersion(spark, groupDir)).get}; " +
        s"members: ${ms.keys.toSeq.sorted.mkString(", ")}"))
    Snapshots.readVersion(spark, tableDir, tv)
  }
}
