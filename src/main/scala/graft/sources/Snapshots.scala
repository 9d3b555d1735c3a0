package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A concurrent commit attempt won a version number this writer's
  * read-modify-write commit was based on. The merge must be re-run
  * against the new live snapshot — retrying with the next number would
  * silently drop the other writer's rows (a lost update). */
class ConcurrentSnapshotCommitException(msg: String) extends IOException(msg)

/** A CHECK constraint rejected rows a commit tried to publish; nothing
  * was published (the written data dir is an orphan vacuum reclaims). */
class CheckConstraintViolationException(msg: String) extends IOException(msg)

/** An OCC auto-rebase found a REAL data conflict: the concurrent winner
  * changed partitions (or rows of this merge's keys) that this commit
  * also reads or writes, so replaying the delta against the new base
  * would not be serializable. The caller must re-derive its delta from
  * the live snapshot. Distinct from its parent, which only signals a
  * version-number race that [[Snapshots.commitMergeOcc]]
  * resolves automatically when the write sets are disjoint. */
class SnapshotWriteConflictException(msg: String)
  extends ConcurrentSnapshotCommitException(msg)

/** Manifest-committed versioned table ("Delta-lite") — the
  * reader-atomic, multi-writer-safe complement to
  * [[Sinks.atomicOverwrite]].
  *
  * Layout:
  * {{{
  * table/
  *   d-1a2b3c4d5e6f/          immutable data dirs (parquet; partition-
  *   d-0f9e8d7c6b5a/part=F/   scoped commits hold only touched parts)
  *   _commits/
  *     v00000001              one manifest FILE per version (see below)
  *     v00000002
  * }}}
  *
  * A manifest names the data dir(s) a version reads, plus metadata:
  *   - `schema=<StructType json>` — the version's declared read
  *     contract (column order/types; missing-in-file columns read as
  *     typed NULLs → add-column evolution without rewrites)
  *   - whole-table version:  `dir=d-1a2b3c4d5e6f`
  *   - partitioned version:  `partcol=o_orderstatus` then one
  *     `part:F=d-...` line per live partition value (value stored
  *     Hive-escaped, split on the LAST '='), each naming the data dir
  *     that OWNS that partition's files. A partition-scoped commit
  *     writes ONLY the touched partitions into a new data dir and
  *     re-points just those lines — untouched partitions keep
  *     referencing their existing files, so commit cost scales with
  *     the delta, not the table (the daily single-partition pattern:
  *     reference dags/dag_datapelangan.py:188-234).
  *   - `stat:<col>|<min>|<max>|<relPath>` — per-file numeric ranges
  *     (the data-skipping index, [[readVersionPrunedMulti]]); merge
  *     commits carry entries for still-referenced files forward
  *     verbatim and stat-scan only the new dir.
  *   - `dvkey=<col>` + `dv:<dvDir>|<targetDir>` — deletion vectors
  *     ([[commitDeleteVector]]): keys in `dvDir`'s parquet are
  *     anti-joined out of rows read from `targetDir`. Dir-scoped so a
  *     re-inserted key (which lands in a new dir) is never masked;
  *     rewrites carry entries forward while their target dir is still
  *     referenced; [[compact]] materializes and clears them.
  *
  * Commit protocol (the Delta/Iceberg optimistic-concurrency scheme at
  * file granularity): (1) write the new data dir under a fresh unique
  * name — readers are completely unaffected while the (possibly
  * hours-long, at 100 TB) write runs, because nothing references it;
  * (2) CLAIM the next version number by renaming a tmp manifest to
  * `_commits/vN` WITHOUT overwrite — a create-exclusive atomic
  * metadata operation on HDFS-like filesystems, so exactly one of two
  * concurrent committers can win any given number. The manifest rename
  * is the single commit point: a writer crash at ANY earlier step
  * leaves only an unreferenced data dir (reclaimed by [[vacuum]]'s
  * orphan sweep), never a partial version.
  *
  * Write paths: [[commitOverwrite]] publishes either layout over
  * either layout. [[commitMerge]] merges into either layout by one
  * rule and keeps it. [[commitDelete]], [[commitUpdate]], [[compact]] and
  * [[compactZOrdered]] differ only in the partitions they touch and
  * the transform they apply; one rewrite path republishes those in
  * the manifest's own layout, schema and tracked stats columns.
  *
  * Read path: every read of a committed version's rows — plain and
  * time-travel reads, min/max- and bitmap-pruned reads, rewrite and
  * merge slices, the moved-key and OCC key scans, pruned diffs — goes
  * through one reader, [[readRows]]: it takes table-root-relative
  * paths (a data dir, partition dirs or single files, as listed by
  * [[liveFiles]]), reads each owning dir's group with that dir as
  * `basePath`, applies the owner's deletion vectors, unions the
  * groups and conforms the result to the declared schema.
  *
  * Concurrency contract:
  *   - readers: unlimited; a reader resolves the max `_commits` entry
  *     once and then reads immutable dirs — it can never observe a
  *     partial version, and [[vacuum]] retention keeps a long-running
  *     reader's pinned snapshot alive ([[readVersion]] = time travel).
  *   - [[commitOverwrite]]: multi-writer safe — the payload does not
  *     depend on the base, so a claim collision just retries with the
  *     next number; concurrent overwriters serialize, last number wins.
  *   - merges and in-place rewrites (read-modify-write):
  *     optimistic CAS — the claim targets exactly base+1; if
  *     another writer got there first the commit FAILS with
  *     [[ConcurrentSnapshotCommitException]] and the caller re-runs
  *     against the new live snapshot. Retrying the stale merge under
  *     the next number would be a lost update, so it is never silent.
  *     (The reference serialized writers with pg advisory locks —
  *     stage_csv_dims_to_pg.py:30; CAS gives the same safety without a
  *     lock service.)
  */
object Snapshots {

  private[sources] val CommitDir = "_commits"
  private val VersionRe = "^v(\\d{8})$".r
  private val DirLine = "dir="
  private val PartColLine = "partcol="
  private val PartLine = "part:"
  private val SchemaLine = "schema="
  private val StatLine = "stat:"
  private val DvKeyLine = "dvkey="
  private val DvLine = "dv:"
  private val StatColRe = "^[A-Za-z_][A-Za-z0-9_]*$".r
  private val ChecksFile = "_checks"

  /** Virtual stats-column name: when included in a commit's
    * `statsCols`, every data file's ROW COUNT is recorded as a stat
    * line (min = max = count) — Delta-style add-file counts. Carried
    * forward and recomputed by exactly the same rules as the min/max
    * skipping index, and read back by [[metadataRowCounts]] without
    * touching any data file. */
  val RowCountCol = "_rows"

  /** Virtual stats-column PREFIX: `bitmap:<col>` in a commit's
    * `statsCols` records a per-file 4096-bit MEMBERSHIP BITMAP of
    * `<col>` (the native [[graft.plans.BitmapRegisters]] aggregate,
    * bucket = first 12 md5 bits of the value's string form) as a stat
    * line — the Delta-bloom-filter-index analogue. min/max skipping
    * needs the key CLUSTERED per file; the bitmap skips point lookups
    * under ANY layout (hash-distributed included): a file whose
    * bitmap bit for the probed key's bucket is 0 provably lacks the
    * key (no false negatives), so [[readVersionKeyPruned]] opens only
    * bit-hit files. ~1 KB of manifest per file per indexed column;
    * false-positive rate = bitmap fill ratio (n_keys/file vs 4096) —
    * size files accordingly, exactly like sizing a real bloom. */
  val BitmapStatPrefix = "bitmap:"

  /** The aggregate's bucket for a key: first 12 bits of md5 over the
    * UTF-8 string form — MUST mirror BitmapRegisters.update. */
  private[graft] def bitmapBucketOf(key: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xff) << 4) | ((d(1) & 0xff) >>> 4)
  }

  /** 4096-bit bitmap → 1024 hex chars; nibble b>>2 holds bit b&3. */
  private def bitmapHexOf(buckets: Seq[Int]): String = {
    val nibbles = new Array[Int](1024)
    buckets.foreach(b => nibbles(b >> 2) |= 1 << (b & 3))
    nibbles.map("0123456789abcdef".charAt).mkString
  }

  private def bitmapHas(hex: String, bucket: Int): Boolean = {
    val nib = bucket >> 2
    nib < hex.length &&
      (Character.digit(hex.charAt(nib), 16) & (1 << (bucket & 3))) != 0
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def newDataDirName(): String =
    "d-" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  // ---------------------------------------------------------------- read

  /** Name of the live version (e.g. `v00000002`) = the highest claimed
    * commit, if the table has at least one published commit. */
  def currentVersion(spark: SparkSession, tableDir: String): Option[String] =
    listVersions(spark, tableDir).lastOption

  /** Number of DISTINCT data dirs the LIVE manifest references — the
    * fragmentation probe that tells maintenance whether [[compact]]
    * (a full live-set rewrite) would buy anything: 0 = no commit yet,
    * 1 = already consolidated (compacting again is pure write
    * amplification), N = a chain of N per-commit dirs that one
    * compact collapses. O(one manifest read); touches no data file. */
  def liveDataDirCount(spark: SparkSession, tableDir: String): Int =
    currentVersion(spark, tableDir) match {
      case None => 0
      case Some(v) => referencedDirs(readManifest(spark, tableDir, v)).size
    }

  /** All published version names, ascending (bounded by [[vacuum]]
    * retention). */
  private[graft] def listVersions(spark: SparkSession, tableDir: String): Seq[String] =
    versionsWithMtime(spark, tableDir).map(_._1)

  /** Every published version with its commit instant, ascending: one
    * listing of `_commits`. A version's commit instant is its manifest
    * file's modification time: the create-exclusive publish is the
    * single atomic commit point, so the file's mtime IS the publish
    * time (set by the filesystem, not the writer — consistent even
    * across writers with skewed clocks). */
  private def versionsWithMtime(spark: SparkSession, tableDir: String): Seq[(String, Long)] = {
    val dir = new Path(tableDir, CommitDir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .collect { case st if st.isFile && VersionRe.matches(st.getPath.getName) =>
        st.getPath.getName -> st.getModificationTime }
      .sortBy(_._1)
  }

  /** Read the live snapshot. Fails with a clear message when the table
    * has no published commit yet. */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    readVersion(spark, tableDir, liveVersion(spark, tableDir, "read"))
  }

  /** Read a specific retained version (time travel / long-running
    * readers pinned to the snapshot they resolved). */
  def readVersion(spark: SparkSession, tableDir: String, version: String): DataFrame = {
    val m = readManifest(spark, tableDir, version)
    readSlice(spark, tableDir, m, m.partitions.map(_._1)).get
  }

  /** The rows of manifest `m` in partitions `values` — every row of a
    * whole-table manifest, which ignores `values` — read by
    * [[readRows]]. None when no listed partition is live. */
  private def readSlice(spark: SparkSession, tableDir: String, m: Manifest,
                        values: Seq[String]): Option[DataFrame] =
    readRows(spark, tableDir, m, sliceDirs(m, values))

  /** A zero-row frame with the rows' schema of manifest `m`. */
  private def noRows(spark: SparkSession, tableDir: String, m: Manifest): DataFrame =
    readSlice(spark, tableDir, m, m.partitions.map(_._1)).get.filter(lit(false))

  /** The dirs, relative to the table root, that hold partitions
    * `values` of `m` — the data dir of a whole-table manifest, which
    * ignores `values`. Partitions that are not live are skipped. */
  private def sliceDirs(m: Manifest, values: Seq[String]): Seq[String] =
    m.dataDir match {
      case Some(dd) => Seq(dd)
      case None =>
        val owned = m.partitions.toMap
        values.filter(owned.contains).map(v => s"${owned(v)}/${partDirName(m.partCol, v)}")
    }

  /** The one file lister: the data files of partitions `values` of `m`
    * (of the whole version for a whole-table manifest, as
    * [[sliceDirs]]), relative to the table root, with their lengths.
    * Driver-side listing only — no Spark job. */
  private def liveFiles(spark: SparkSession, tableDir: String, m: Manifest,
                        values: Seq[String]): Seq[(String, Long)] = {
    val root = new Path(tableDir)
    val fs = fsOf(spark, root)
    val qualifiedRoot = fs.makeQualified(root).toString
    sliceDirs(m, values).map(new Path(root, _)).filter(fs.exists).flatMap { dir =>
      val it = fs.listFiles(dir, true)
      val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          b += fs.makeQualified(st.getPath).toString
            .stripPrefix(qualifiedRoot).stripPrefix("/") -> st.getLen
      }
      b.result()
    }
  }

  /** The one reader of committed rows: `paths` of manifest `m`,
    * relative to the table root (a data dir, partition dirs or single
    * files), grouped by owning data dir. Each group is read with its
    * owner as `basePath`, so partition-column inference matches an
    * unpruned read, and gets that owner's deletion vectors; the groups
    * are unioned and conformed to the declared schema (stable column
    * order, typed NULLs for columns that postdate a dir's files).
    * Owners resolve against the manifest's dir set, so clone-borrowed
    * absolute dirs resolve too. None when `paths` is empty. */
  private def readRows(spark: SparkSession, tableDir: String, m: Manifest,
                       paths: Seq[String]): Option[DataFrame] =
    if (paths.isEmpty) None
    else {
      val root = new Path(tableDir)
      val dirs = referencedDirs(m)
      def ownerOf(p: String): String =
        dirs.find(d => p == d || p.startsWith(d + "/")).getOrElse(p.takeWhile(_ != '/'))
      // allowMissingColumns: after an add-column evolution, dirs that
      // predate the new column union with NULLs for it
      val raw = paths.groupBy(ownerOf).map { case (owner, ps) =>
        applyDv(spark, root, m, owner, Tables.parquet(spark,
          ps.map(new Path(root, _).toString), Map("basePath" -> new Path(root, owner).toString)))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      Some(manifestSchema(m).map(alignTo(raw, _)).getOrElse(raw))
    }

  /** Anti-join away the deletion-vector keys targeting rows that were
    * read from `owner`'s files. DVs are scoped to the data dir that
    * existed when the delete committed, so a later re-insert of the
    * same key — which lands in a NEW dir — is never masked (the
    * reason Delta/Iceberg DVs are file-scoped). The key frames are
    * delete-sized; Catalyst broadcasts them against the corpus side. */
  private def applyDv(spark: SparkSession, root: Path, m: Manifest,
                      owner: String, df: DataFrame): DataFrame = {
    val hits = m.dvs.filter(_._2 == owner).map(_._1).distinct
    if (hits.isEmpty) df
    else {
      val keys = hits.map(dv => Tables.parquet(spark, Seq(new Path(root, dv).toString)))
        .reduce(_.unionByName(_)).select(col(m.dvKey)).distinct()
      df.join(keys, Seq(m.dvKey), "left_anti")
    }
  }

  /** The files among `files` whose recorded range of every `(col, lo,
    * hi)` in `ranges` intersects it — the min/max data-skipping
    * selection. A file with no stat entry for a column survives that
    * range (conservative), and so does one whose manifest range fails
    * to parse (a hand-edited manifest must fail OPEN, never fail the
    * read). */
  private def filterByStats(m: Manifest, files: Seq[String],
                            ranges: Seq[(String, BigDecimal, BigDecimal)]): Seq[String] =
    ranges.foldLeft(files) { case (fs, (c, lower, upper)) =>
      val stats = m.stats.filter(_.col == c).map(s => s.relPath -> s).toMap
      fs.filter(rel => stats.get(rel).forall(s =>
        scala.util.Try(BigDecimal(s.min) <= upper && BigDecimal(s.max) >= lower)
          .getOrElse(true)))
    }

  /** The latest version committed at or before `tsMillis` — the
    * `TIMESTAMP AS OF` analog (commit instant = manifest mtime, see
    * [[versionsWithMtime]]). */
  def versionAt(spark: SparkSession, tableDir: String, tsMillis: Long): Option[String] =
    versionsWithMtime(spark, tableDir).filter(_._2 <= tsMillis).lastOption.map(_._1)

  /** Time travel by timestamp: read the snapshot as of `tsMillis`.
    * Fails loudly when no version existed yet (or the ones that did
    * were vacuumed — retention bounds how far back this reaches). */
  def readAsOf(spark: SparkSession, tableDir: String, tsMillis: Long): DataFrame =
    readVersion(spark, tableDir, versionAt(spark, tableDir, tsMillis).getOrElse(
      throw new IOException(
        s"Snapshots.readAsOf: no version of $tableDir committed at or before " +
          s"$tsMillis (earliest retained: ${listVersions(spark, tableDir).headOption
            .getOrElse("none")})")))

  /** DESCRIBE HISTORY analog: one row per retained version with its
    * commit instant (manifest mtime — the atomic claim), layout kind,
    * partition / data-dir / deletion-vector counts and the declared
    * schema's column count. Pure manifest metadata — no data files
    * are opened. */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    versionsWithMtime(spark, tableDir).map { case (v, mtime) =>
      val m = readManifest(spark, tableDir, v)
      (v, new java.sql.Timestamp(mtime),
        if (m.dataDir.isDefined) "whole-table" else s"partitioned:${m.partCol}",
        m.partitions.size.toLong,
        referencedDirs(m).size.toLong,
        m.dvs.size.toLong,
        manifestSchema(m).map(_.fields.length.toLong).getOrElse(0L))
    }.toDF("version", "committed_at", "layout", "n_partitions",
      "n_data_dirs", "n_dvs", "n_columns")
  }

  /** Incremental change consumption: the CDF of everything committed
    * after `sinceVersion` up to the live version — `(liveVersion,
    * changes)`; the caller checkpoints the returned version and
    * passes it back next poll (the foreachBatch-style incremental
    * reader over the commit log). No new commits → `(sinceVersion,
    * None)`. Retention bounds how far back a lagging consumer can
    * resume — a vacuumed `sinceVersion` fails loudly in
    * [[readManifest]] rather than silently skipping changes. */
  def pollChanges(spark: SparkSession, tableDir: String, sinceVersion: String,
                  key: String): (String, Option[DataFrame]) = {
    val live = liveVersion(spark, tableDir, "pollChanges")
    if (versionNumber(live) <= versionNumber(sinceVersion)) (sinceVersion, None)
    else (live, Some(changeFeed(spark, tableDir, sinceVersion, live, key)))
  }

  /** The live version, or a loud failure naming `op` when the table
    * has no published commit yet. */
  private def liveVersion(spark: SparkSession, tableDir: String, op: String): String =
    currentVersion(spark, tableDir).getOrElse(
      throw new IOException(s"Snapshots.$op: no committed version at $tableDir"))

  // ------------------------------------------------------------ manifest

  /** Parsed manifest: either a whole-table data dir, or a partition
    * map (value → owning data dir) with its partition column; plus the
    * version's declared schema (JSON `StructType`). The schema is the
    * read contract: after an add-column evolution, untouched
    * partitions' files still lack the new column physically, and
    * readers reconcile by name against the manifest schema (missing →
    * typed NULL). Manifests from before schema tracking parse with
    * `schemaJson = None` and read exactly as they always did. */
  private[graft] case class Manifest(dataDir: Option[String], partCol: String,
                                     partitions: Seq[(String, String)],
                                     schemaJson: Option[String] = None,
                                     stats: Seq[FileStat] = Nil,
                                     dvKey: String = "",
                                     dvs: Seq[(String, String)] = Nil)

  /** Per-file column range, the Iceberg-style data-skipping index:
    * `relPath` is the data file's path relative to the table root
    * (`d-…/…parquet`); `min`/`max` are decimal strings (numeric
    * columns only — exact at any magnitude, unlike doubles). A file
    * with no stat entry for a column is always read (conservative). */
  private[graft] case class FileStat(col: String, min: String, max: String,
                                     relPath: String)

  /** The data dirs a manifest reads (deletion-vector dirs excluded). */
  private def referencedDirs(m: Manifest): Seq[String] =
    (m.dataDir.toSeq ++ m.partitions.map(_._2)).distinct

  /** Every dir the given versions of the table reference: the data
    * dirs they read and their deletion-vector dirs. */
  private def dirsOf(spark: SparkSession, tableDir: String,
                     versions: Seq[String]): Set[String] =
    versions.flatMap { v =>
      val m = readManifest(spark, tableDir, v)
      referencedDirs(m) ++ m.dvs.map(_._1)
    }.toSet

  private def manifestSchema(m: Manifest): Option[org.apache.spark.sql.types.StructType] =
    m.schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Conform `df` to the declared schema: columns selected in schema
    * order, cast to schema types, columns physically absent from the
    * files (pre-evolution dirs) materialized as typed NULLs. */
  private def alignTo(df: DataFrame,
                      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.map(f =>
      (if (have.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)).toSeq: _*)
  }

  private[graft] def readManifest(spark: SparkSession, tableDir: String,
                                  version: String): Manifest = {
    val p = new Path(new Path(tableDir, CommitDir), version)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) throw new IOException(
      s"Snapshots: version $version of $tableDir is not retained " +
        s"(vacuumed or never committed); retained: " +
        listVersions(spark, tableDir).mkString(", "))
    val in = fs.open(p)
    val lines = try
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().map(_.trim)
        .filter(_.nonEmpty).toList
    finally in.close()
    val dir = lines.collectFirst { case l if l.startsWith(DirLine) => l.stripPrefix(DirLine) }
    val partCol = lines.collectFirst {
      case l if l.startsWith(PartColLine) => l.stripPrefix(PartColLine) }.getOrElse("")
    // values are stored Hive-escaped; the split is on the LAST '=' as
    // defense in depth (data dir names are d-<12 hex>, never '=')
    val parts = lines.collect { case l if l.startsWith(PartLine) =>
      val body = l.stripPrefix(PartLine)
      val eq = body.lastIndexOf('=')
      require(eq > 0, s"Snapshots: malformed manifest line '$l' in $version")
      (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(body.substring(0, eq)), body.substring(eq + 1))
    }
    val schema = lines.collectFirst {
      case l if l.startsWith(SchemaLine) => l.stripPrefix(SchemaLine) }
    val stats = lines.collect { case l if l.startsWith(StatLine) =>
      val body = l.stripPrefix(StatLine)
      val ps = body.split("\\|", 4)
      require(ps.length == 4, s"Snapshots: malformed stat line '$l' in $version")
      FileStat(ps(0), ps(1), ps(2), ps(3))
    }
    val dvKey = lines.collectFirst {
      case l if l.startsWith(DvKeyLine) => l.stripPrefix(DvKeyLine) }.getOrElse("")
    val dvs = lines.collect { case l if l.startsWith(DvLine) =>
      val body = l.stripPrefix(DvLine)
      val ps = body.split("\\|", 2)
      require(ps.length == 2, s"Snapshots: malformed dv line '$l' in $version")
      (ps(0), ps(1))
    }
    require(dir.isDefined || parts.nonEmpty,
      s"Snapshots: empty manifest $version at $tableDir")
    Manifest(dir, partCol, parts, schema, stats, dvKey, dvs)
  }

  private def manifestBody(m: Manifest): String = {
    // StructType.json is a single line; the schema line (when present)
    // leads so humans diffing manifests see the contract first
    val schemaLines = m.schemaJson.map(SchemaLine + _).toSeq
    // stat cols are validated identifiers and min/max plain decimals,
    // so '|' is a safe separator; relPath (which may contain anything
    // printable except newline) goes LAST and absorbs the remainder
    val statLines = m.stats.sortBy(s => (s.relPath, s.col)).map { s =>
      // plain identifier, or a virtual bitmap:<identifier> stat
      val ident =
        if (s.col.startsWith(BitmapStatPrefix)) s.col.stripPrefix(BitmapStatPrefix)
        else s.col
      require(StatColRe.findFirstIn(ident).isDefined,
        s"Snapshots: stats column name '${s.col}' is not a plain identifier")
      s"$StatLine${s.col}|${s.min}|${s.max}|${s.relPath}"
    }
    // deletion-vector lines: dir names are d-<12 hex> ('|'-free), so
    // the 2-field split is unambiguous
    val dvLines = (if (m.dvKey.nonEmpty) Seq(DvKeyLine + m.dvKey) else Nil) ++
      m.dvs.sorted.map { case (dvDir, target) => s"$DvLine$dvDir|$target" }
    require(m.dvs.isEmpty || m.dvKey.nonEmpty,
      "Snapshots: dv entries require a dvkey line")
    val body = m.dataDir match {
      case Some(dd) => schemaLines ++ ((DirLine + dd) +: statLines) ++ dvLines
      case None =>
        // partition values are stored Hive-escaped so '=', newlines and
        // other line-format-hostile characters round-trip; empty values
        // are refused here (one choke point every commit passes through)
        // because partitionBy writes them as the null-sentinel dir and
        // they could not round-trip anyway
        m.partitions.foreach { case (v, _) =>
          require(v != null && v.nonEmpty,
            "Snapshots: empty-string partition values are not supported " +
              "(partitionBy conflates them with NULL) — filter or default them first")
        }
        schemaLines ++ ((PartColLine + m.partCol) +: m.partitions.sorted.map {
          case (v, d) =>
            s"$PartLine${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .escapePathName(v)}=$d" }) ++ statLines ++ dvLines
    }
    body.mkString("", "\n", "\n")
  }

  /** Partition dir name with Spark/Hive escaping, so values containing
    * path-special characters round-trip exactly like a native
    * `partitionBy` write. */
  private def partDirName(partCol: String, value: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(partCol, value)

  // --------------------------------------------------------------- claim

  private def versionNumber(v: String): Int = v match {
    case VersionRe(n) => n.toInt
    case other => throw new IllegalArgumentException(s"not a version name: $other")
  }
  private def versionName(n: Int): String = f"v$n%08d"

  /** Serializes same-JVM claimants (CHECK validation plus claim). */
  private val claimLock = new Object

  /** Atomically claim version number `n` of the commit log under
    * `dir`: write a tmp file, publish it as `_commits/vN` only if that
    * name is free, then read it back and verify it carries OUR body
    * (data dir names are attempt-unique, so bodies distinguish
    * claimants). HDFS and object stores publish by a rename WITHOUT
    * overwrite. The local filesystem's rename replaces its target and
    * moves a file and its `.crc` separately, so there the tmp file is
    * written raw (no `.crc`) and published by a hard link, which fails
    * atomically if the target exists. Exactly one claimant of a number
    * wins, across JVMs too; false when it was already taken. The one
    * claim of both table versions and [[SnapshotGroups]] pins. */
  private[sources] def claimFile(spark: SparkSession, dir: String, n: Int,
                                 body: String): Boolean = claimLock.synchronized {
    val commits = new Path(dir, CommitDir)
    val fs = fsOf(spark, commits)
    fs.mkdirs(commits)
    val target = new Path(commits, versionName(n))
    if (fs.exists(target)) return false // cheap pre-check; the publish is the gate
    val raw = fs match {
      case l: LocalFileSystem => Some(l.getRaw.asInstanceOf[RawLocalFileSystem])
      case _ => None
    }
    val tmpFs = raw.getOrElse(fs)
    val tmp = new Path(commits, s".tmp-${java.util.UUID.randomUUID()}")
    val out = tmpFs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val published =
      try {
        raw match {
          case Some(r) =>
            java.nio.file.Files.createLink(r.pathToFile(target).toPath, r.pathToFile(tmp).toPath)
          case None => FileContext.getFileContext(commits.toUri,
            spark.sparkContext.hadoopConfiguration).rename(tmp, target)
        }
        true
      } catch {
        case _: FileAlreadyExistsException | _: org.apache.hadoop.fs.PathExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          false
        case _: IOException if fs.exists(target) => // HDFS rename-to-existing variants
          false
      } finally {
        // any failure path (including transient IOExceptions that
        // propagate) must not leak the tmp manifest forever; vacuum
        // additionally sweeps aged .tmp-* strays as a backstop
        if (tmpFs.exists(tmp)) tmpFs.delete(tmp, false)
      }
    published && {
      val in = fs.open(target)
      try new String(in.readAllBytes(), "UTF-8") == body finally in.close()
    }
  }

  /** Claim the lowest free version number of the log under `dir` —
    * the retry loop of base-independent commits (overwrite, publish,
    * group pins): a collision just moves on to the next number. */
  private[sources] def claimNext(spark: SparkSession, dir: String)(
      claim: Int => Boolean): String = {
    var n = listVersions(spark, dir).lastOption.map(versionNumber).getOrElse(0) + 1
    while (!claim(n)) n += 1
    versionName(n)
  }

  // ------------------------------------------------- CHECK constraints

  /** Table-level CHECK constraints (name → boolean SQL expression),
    * stored in `tableDir/_checks` (one `name|expr` line each; the name
    * is a validated identifier, the expr absorbs the line remainder —
    * same framing as manifest stat lines). */
  def checks(spark: SparkSession, tableDir: String): Seq[(String, String)] = {
    val p = new Path(tableDir, ChecksFile)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList finally in.close()
    lines.map { l =>
      val bar = l.indexOf('|')
      require(bar > 0, s"Snapshots: malformed check line '$l' in $tableDir/$ChecksFile")
      (l.substring(0, bar), l.substring(bar + 1))
    }
  }

  private def writeChecks(spark: SparkSession, tableDir: String,
                          cs: Seq[(String, String)]): Unit = {
    val p = new Path(tableDir, ChecksFile)
    val fs = fsOf(spark, p)
    val tmp = new Path(tableDir, s".tmp-checks-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(cs.map { case (n, e) => s"$n|$e" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"Snapshots: could not publish $ChecksFile")
  }

  /** Add (or replace) a CHECK constraint. Like Delta's ADD CONSTRAINT,
    * the CURRENT snapshot must already satisfy it — otherwise this
    * throws and the constraint is not installed. From then on every
    * commit validates the data dirs it newly references and refuses
    * loudly on violation; a NULL check result counts as a violation
    * (CHECK must evaluate to true). */
  def setCheck(spark: SparkSession, tableDir: String, name: String,
               checkExpr: String): Unit = {
    require(StatColRe.findFirstIn(name).isDefined,
      s"Snapshots: check name '$name' is not a plain identifier")
    require(!checkExpr.contains("\n") && !checkExpr.contains("\r"),
      "Snapshots: check expressions must be single-line")
    currentVersion(spark, tableDir).foreach { v =>
      val bad = readVersion(spark, tableDir, v)
        .filter(!coalesce(expr(checkExpr), lit(false))).limit(1).collect()
      if (bad.nonEmpty) throw new CheckConstraintViolationException(
        s"Snapshots: existing data of $tableDir violates CHECK $name " +
          s"($checkExpr); offending row: ${bad.head}")
    }
    writeChecks(spark, tableDir,
      checks(spark, tableDir).filterNot(_._1 == name) :+ (name -> checkExpr))
  }

  def dropCheck(spark: SparkSession, tableDir: String, name: String): Unit =
    writeChecks(spark, tableDir, checks(spark, tableDir).filterNot(_._1 == name))

  /** Commit-time enforcement, run before any claim: rows in data dirs
    * the PREVIOUS version does not already reference must satisfy
    * every installed check. Dirs carried forward (partition refs,
    * restore targets, DV key dirs) are exempt — constraints gate data
    * entering the table from now on, they never retroactively poison
    * time travel or restore. A violation throws before the manifest is
    * written, so nothing is published and the new dir is a plain
    * vacuum-reclaimable orphan (the crash contract). */
  private def validateChecks(spark: SparkSession, tableDir: String,
                             manifest: Manifest): Unit = {
    val cs = checks(spark, tableDir)
    if (cs.isEmpty) return
    // exempt dirs referenced by ANY retained version: they are table
    // history, not new data (this is what keeps restore legal); note
    // compaction writes a NEW dir, so compacting restored
    // pre-constraint data re-validates — drop the check first if that
    // is intended
    val prevDirs = dirsOf(spark, tableDir, listVersions(spark, tableDir))
    val newDirs = referencedDirs(manifest).filterNot(prevDirs.contains)
    newDirs.foreach { dd =>
      val df = Tables.parquet(spark, Seq(new Path(tableDir, dd).toString))
      cs.foreach { case (name, ce) =>
        val bad = df.filter(!coalesce(expr(ce), lit(false))).limit(1).collect()
        if (bad.nonEmpty) throw new CheckConstraintViolationException(
          s"Snapshots: commit to $tableDir rejected by CHECK $name ($ce); " +
            s"offending row: ${bad.head}")
      }
    }
  }

  /** Claim version number `n` of the table with `manifest` (see
    * [[claimFile]]), after the commit-time CHECK validation; both run
    * under [[claimLock]]. Returns false when the number was already
    * taken. */
  private[graft] def tryClaim(spark: SparkSession, tableDir: String, n: Int,
                              manifest: Manifest): Boolean = claimLock.synchronized {
    validateChecks(spark, tableDir, manifest)
    claimFile(spark, tableDir, n, manifestBody(manifest))
  }

  // ------------------------------------------------------------- commits

  /** Write `df` into a fresh, attempt-unique data dir of the table —
    * `partitionBy(partCol)` unless `partCol` is empty — and return the
    * dir's name. Readers are unaffected: nothing references the dir
    * until a manifest naming it is claimed. */
  private def writeDataDir(spark: SparkSession, tableDir: String, df: DataFrame,
                           partCol: String = ""): String = {
    val dir = new Path(tableDir)
    fsOf(spark, dir).mkdirs(dir)
    val dd = newDataDirName()
    val w = df.write.mode(SaveMode.ErrorIfExists)
    (if (partCol.isEmpty) w else w.partitionBy(partCol)).parquet(new Path(dir, dd).toString)
    dd
  }

  /** The manifest that publishes data dir `dd` on top of `base` (the
    * version this commit read, if any). Whole-table (`partCol` empty):
    * `dd` alone. Partitioned: every partition `dd` holds re-points to
    * it, the `touched` partitions it does not hold drop out, and all
    * other partitions of `base` keep their owning dirs, together with
    * their stat lines and deletion vectors. `dd` is stat-scanned for
    * the caller's `statsCols`, else for whatever `base` tracked that
    * is still a data column of the new layout. */
  private def manifestFor(spark: SparkSession, tableDir: String, dd: String,
                          base: Option[Manifest], schemaJson: Option[String],
                          statsCols: Seq[String], partCol: String = "",
                          touched: Seq[String] = Nil): Manifest = {
    val root = new Path(tableDir)
    lazy val stats = computeFileStats(spark, root, dd, partCol, statsCols,
      carried = base.toSeq.flatMap(_.stats.map(_.col)).distinct)
    if (partCol.isEmpty) return Manifest(Some(dd), "", Nil, schemaJson, stats)
    // a partition left with no row writes no subdir in `dd` and drops
    // out of the manifest entirely, never pointing at a missing path
    val present = listPartitionValues(fsOf(spark, root), new Path(root, dd), partCol)
    val parts = (base.map(_.partitions.toMap).getOrElse(Map.empty[String, String]) --
      touched ++ present.map(_ -> dd)).toSeq
    require(parts.nonEmpty, "Snapshots: empty dataframe — no partition to publish")
    val dvs = base.map(carriedDvs(_, parts.map(_._2).toSet)).getOrElse(Nil)
    Manifest(None, partCol, parts, schemaJson,
      base.map(carriedStats(_, parts.toMap)).getOrElse(Nil) ++ stats,
      if (dvs.nonEmpty) base.get.dvKey else "", dvs)
  }

  /** The one data-dir write path of every rewriting commit:
    * [[writeDataDir]], then [[manifestFor]] the new dir. */
  private def writeVersion(spark: SparkSession, tableDir: String, df: DataFrame,
                           base: Option[Manifest], schemaJson: Option[String],
                           statsCols: Seq[String], partCol: String,
                           touched: Seq[String] = Nil): Manifest =
    manifestFor(spark, tableDir, writeDataDir(spark, tableDir, df, partCol), base,
      schemaJson, statsCols, partCol, touched)

  /** Publish `df` as the next version, whole-table or (with
    * `partCol`) written `partitionBy(partCol)` with every partition
    * mapped to the new dir; an empty partitioned `df` and NULL or
    * empty partition values are refused. Every partition of the live
    * version is replaced, and the stats columns it tracks stay tracked
    * unless `statsCols` names others. Safe under concurrent writers:
    * the rows are base-independent, so a claim collision retries with
    * the next number until it wins. Returns the claimed version. */
  def commitOverwrite(spark: SparkSession, tableDir: String, df: DataFrame,
                      statsCols: Seq[String] = Nil, partCol: String = ""): String = {
    val base = currentVersion(spark, tableDir).map(readManifest(spark, tableDir, _))
    val m = writeVersion(spark, tableDir, df, base, Some(df.schema.json), statsCols, partCol,
      base.toSeq.flatMap(_.partitions.map(_._1)))
    claimNext(spark, tableDir)(tryClaim(spark, tableDir, _, m))
  }

  /** Conform `delta` to a declared base schema for a merge commit:
    * every base column must be present (cast to its declared type);
    * EXTRA delta columns are the add-column schema evolution — they
    * ride along and base rows read as typed NULLs for them. Dropping
    * or renaming columns is refused loudly. */
  private def evolveDeltaTo(sch: org.apache.spark.sql.types.StructType,
                            delta: DataFrame): DataFrame = {
    val missing = sch.fields.map(_.name).filterNot(delta.columns.contains)
    require(missing.isEmpty,
      s"Snapshots: delta is missing base columns ${missing.mkString(", ")}; " +
        "schema evolution supports only ADDING columns — dropping/renaming " +
        "requires an explicit commitOverwrite")
    val declared = sch.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
    val added = delta.schema.fields.filterNot(f => sch.fieldNames.contains(f.name))
      .map(f => col(f.name))
    delta.select((declared ++ added).toSeq: _*)
  }

  /** MERGE `delta` into the live snapshot by `key` (INSERT … ON
    * CONFLICT DO UPDATE) and publish the result as a new version, in
    * the table's own layout: `partCol` must name the live version's
    * partition column ("" for a whole-table version), so a merge never
    * changes the layout. One rule on both layouts: the delta is
    * deduplicated to one row per key (`tieBreak`, as [[graft.etl.Dims.upsert]]
    * picks), a base row survives if and only if the delta lacks its
    * key, and every delta row is written. An empty delta publishes
    * nothing and returns the live version. On an empty table the
    * deduplicated delta becomes v1, claimed exactly (of two concurrent
    * first writers one fails loudly).
    *
    * Only the slice the delta touches is rewritten, into a new data
    * dir: the whole table of a whole-table version; of a partitioned
    * one, the delta's partitions plus every partition holding a key
    * the delta moves to another partition (delete-and-reinsert, so a
    * key is never duplicated across partitions). Untouched partitions
    * keep referencing their existing files byte-identically, so at
    * 100 TB a daily one-partition delta rewrites one partition, not
    * the table. The moved-key scan reads only (key, partCol) of the
    * untouched partitions, pruned by the key's file stats when the
    * manifest tracks them. The anti-join broadcasts a small delta's
    * key set, so the slice scan is map-only.
    *
    * Read-modify-write: the claim targets exactly base+1 (or
    * `expectedVersion`+1 when the caller pins the snapshot it read) —
    * if another writer commits in between, this throws
    * [[ConcurrentSnapshotCommitException]] and the caller re-runs. */
  def commitMerge(spark: SparkSession, tableDir: String, delta: DataFrame, key: String,
                  partCol: String = "", tieBreak: Seq[Column] = Nil,
                  expectedVersion: Option[String] = None,
                  statsCols: Seq[String] = Nil): String =
    expectedVersion.orElse(currentVersion(spark, tableDir)) match {
      case None =>
        val deduped = graft.etl.Dims.upsert(None, delta, key, tieBreak)
        claimExactly(spark, tableDir, 1, writeVersion(spark, tableDir, deduped, None,
          Some(deduped.schema.json), statsCols, partCol))
      case Some(v) =>
        val m = readManifest(spark, tableDir, v)
        require(m.partCol == partCol, s"commitMerge: version $v of $tableDir is not " +
          s"partitioned by '$partCol' (its partition column: '${m.partCol}')")
        val touchedRaw =
          if (partCol.isEmpty) partitionsOf(m, delta)
          else graft.etl.Dims.touchedPartitions(delta, partCol, "commitMerge: delta")
        if (touchedRaw.isEmpty) return v
        // Cross-partition key moves (a delta row carrying an existing
        // key whose partition value CHANGED): the stale row lives in a
        // partition the delta does not touch, which then joins the
        // touched set so the anti-join below drops it. A whole-table
        // version has no untouched partition.
        val untouchedVals = m.partitions.map(_._1).filterNot(touchedRaw.contains)
        // When the manifest tracks file stats on the merge key, prune
        // the detection scan to files whose key range intersects the
        // delta's key range. This is SAFE: a stale row shares its key
        // with some delta row, so its file's [min,max] necessarily
        // contains a value inside [delta min, delta max] — a pruned
        // file cannot hold a moved key.
        val keyRanges: Option[Seq[(String, BigDecimal, BigDecimal)]] =
          if (untouchedVals.isEmpty) None
          else if (!m.stats.exists(_.col == key)) Some(Nil)
          else {
            val b = delta.agg(min(col(key)).cast("string"), max(col(key)).cast("string")).head
            // no non-null delta keys → nothing can move
            if (b.isNullAt(0)) None
            else Some(Seq((key, BigDecimal(b.getString(0)), BigDecimal(b.getString(1)))))
          }
        val untouchedScan = keyRanges.flatMap(r => readRows(spark, tableDir, m,
          filterByStats(m, liveFiles(spark, tableDir, m, untouchedVals).map(_._1), r)))
        val movedParts = untouchedScan.fold(Seq.empty[String])(
          graft.etl.Dims.movedPartitions(_, delta, key, partCol))
        val touched = (touchedRaw ++ movedParts).distinct.sorted
        val slice = readSlice(spark, tableDir, m, touched)
        // the delta is cast to the declared schema's exact column types
        // (arithmetic widens decimals; a forked schema would break later
        // reads); EXTRA delta columns are add-column evolution. The
        // declared schema is the manifest's, else the slice's
        val declared = manifestSchema(m).orElse(slice.map(_.schema))
        val aligned = graft.etl.Dims.upsert(None,
          declared.fold(delta)(evolveDeltaTo(_, delta)), key, tieBreak)
        // allowMissingColumns: an ADDED delta column reads as NULL on
        // the surviving base rows
        val merged = slice.fold(aligned)(
          _.join(aligned.select(col(key)), Seq(key), "left_anti")
            .unionByName(aligned, allowMissingColumns = true))
        // a moved-from partition can end up EMPTY (every row moved out)
        // and drops out of the manifest; stats of files the new
        // manifest still references carry forward verbatim
        claimExactlyAfter(spark, tableDir, v, writeVersion(spark, tableDir, merged, Some(m),
          Some(merged.schema.json), statsCols, partCol, touched))
    }

  /** Partitions whose content differs between two versions, or None
    * when the range cannot be reasoned about partition-wise (an
    * unpartitioned commit in the range, treated as "everything
    * changed"). A partition differs when it appears/disappears, its
    * owning data dir is re-pointed, or the deletion vectors applied to
    * its owner change. Manifest-only — no data files are read. */
  private def changedPartitionsBetween(m0Opt: Option[Manifest],
                                       mN: Manifest): Option[Seq[String]] = {
    if (mN.dataDir.isDefined) return None
    def dvByOwner(m: Manifest): Map[String, Set[String]] =
      m.dvs.groupBy(_._2).map { case (o, s) => o -> s.map(_._1).toSet }
    m0Opt match {
      case None => Some(mN.partitions.map(_._1))
      case Some(m0) =>
        if (m0.dataDir.isDefined) return None
        val (d0, dN) = (dvByOwner(m0), dvByOwner(mN))
        val (p0, pN) = (m0.partitions.toMap, mN.partitions.toMap)
        Some((p0.keySet ++ pN.keySet).toSeq.filter { v =>
          (p0.get(v), pN.get(v)) match {
            case (Some(a), Some(b)) =>
              a != b || d0.getOrElse(a, Set.empty) != dN.getOrElse(b, Set.empty)
            case _ => true
          }
        })
    }
  }

  /** [[commitMerge]] with Delta-style optimistic concurrency:
    * on losing the CAS race, diff the winning commits' changed
    * partitions (manifest-only) against this merge's read+write set —
    * the delta's partitions plus any changed partition now holding one
    * of the delta's keys. Disjoint → the two commits serialize in either
    * order, so rebase onto the new version and replay (no caller
    * involvement); overlapping → [[SnapshotWriteConflictException]],
    * because the delta may have been derived from a snapshot the winner
    * invalidated. At 100 TB this is the difference between "concurrent
    * per-region writers each retry their whole merge job" and "they
    * never see each other": the conflict check costs two manifest reads
    * plus, only when partitions changed at all, a key semi-join bounded
    * by the changed partitions' size. */
  def commitMergeOcc(spark: SparkSession, tableDir: String,
                     delta: DataFrame, key: String, partCol: String,
                     tieBreak: Seq[Column] = Nil,
                     statsCols: Seq[String] = Nil,
                     maxAttempts: Int = 5,
                     expectedVersion: Option[String] = None): String = {
    // `expectedVersion` pins the snapshot the delta was DERIVED from —
    // the conflict check then covers every commit that landed since,
    // not just ones racing the claim itself
    var base = expectedVersion.orElse(currentVersion(spark, tableDir))
    var attempt = 0
    while (true) {
      try return commitMerge(spark, tableDir, delta, key, partCol,
        tieBreak, base, statsCols)
      catch {
        case e: SnapshotWriteConflictException => throw e
        case e: ConcurrentSnapshotCommitException =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
          val newBase = currentVersion(spark, tableDir)
          if (newBase == base) throw e // claim raced something non-commit-like
          val mN = readManifest(spark, tableDir, newBase.get)
          val m0 = base.map(readManifest(spark, tableDir, _))
          val changed = changedPartitionsBetween(m0, mN)
            .getOrElse(throw new SnapshotWriteConflictException(
              s"Snapshots: concurrent UNPARTITIONED commit on $tableDir " +
                s"(${base.getOrElse("<empty>")} -> ${newBase.get}) conflicts with " +
                "a partition-scoped merge; re-derive the delta from the live snapshot"))
          val ours = graft.etl.Dims.touchedPartitions(delta, partCol,
            "commitMergeOcc: delta")
          val overlap = changed.intersect(ours)
          if (overlap.nonEmpty) throw new SnapshotWriteConflictException(
            s"Snapshots: concurrent commit ${newBase.get} on $tableDir changed " +
              s"partition(s) ${overlap.sorted.mkString(", ")} this merge also " +
              "writes; re-derive the delta from the live snapshot")
          // key-level read-set check: a delta key now living in a
          // partition the winner changed means the winner wrote rows
          // this merge would delete-and-reinsert — order matters
          val keyHits = readSlice(spark, tableDir, mN, changed) match {
            case None => 0L
            case Some(ch) => ch.select(col(key))
              .join(broadcast(delta.select(col(key)).distinct()), Seq(key), "left_semi")
              .limit(1).count()
          }
          if (keyHits > 0) throw new SnapshotWriteConflictException(
            s"Snapshots: concurrent commit ${newBase.get} on $tableDir wrote rows " +
              s"carrying this merge's keys (in partitions ${changed.sorted.mkString(", ")}); " +
              "re-derive the delta from the live snapshot")
          base = newBase
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---------------------------------------------------- delete / update

  /** Rows a SQL DELETE/UPDATE leaves untouched: predicate FALSE or
    * NULL (three-valued logic — only TRUE selects a row). */
  private def keepCond(predicate: Column): Column =
    !coalesce(predicate, lit(false))

  /** The partitions holding `rows` (rows of a version with manifest
    * `m`): the slice a rewrite of those rows must cover. A whole-table
    * version is one slice, named "", touched iff `rows` is non-empty. */
  private def partitionsOf(m: Manifest, rows: DataFrame): Seq[String] =
    if (m.dataDir.isDefined) { if (rows.isEmpty) Nil else Seq("") }
    else rows.select(col(m.partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq

  /** The one rewrite path of delete, update and both compactions: read
    * the `touched` slice of live version `v` ([[readSlice]]), apply
    * `f`, write it in the manifest's own layout, schema and tracked
    * stats columns (or `statsCols`), and claim exactly `v`+1. Untouched
    * partitions keep their files, stats and deletion vectors; a touched
    * partition left empty drops out. No live touched partition → `v`. */
  private def rewrite(spark: SparkSession, tableDir: String, v: String, m: Manifest,
                      touched: Seq[String], statsCols: Seq[String] = Nil)(
      f: DataFrame => DataFrame): String =
    readSlice(spark, tableDir, m, touched).fold(v) { slice =>
      claimExactlyAfter(spark, tableDir, v, writeVersion(spark, tableDir, f(slice), Some(m),
        m.schemaJson, statsCols, m.partCol, touched))
    }

  /** DELETE WHERE on the live snapshot, partition-scoped: only
    * partitions that actually CONTAIN matching rows are rewritten
    * (minus the deleted rows) into a new data dir; every other
    * partition keeps referencing its existing files byte-identically.
    * A partition whose every row matches drops out of the manifest. A
    * predicate matching nothing is a no-op — no identical version is
    * published. On a non-partitioned table the whole dir is rewritten
    * (one dir per version is the manifest granularity there).
    *
    * `prunePreds` (optional) bounds the detection scan with the
    * file-stats index: the caller asserts `predicate` can only hold
    * inside the conjunction of the (col, lo, hi) ranges, and the scan
    * that finds touched partitions then opens only files whose
    * recorded range intersects — at 100 TB a key-range delete finds
    * its partitions from a handful of file opens. Rows outside the
    * ranges are NEVER deleted, so an over-narrow bound silently
    * under-deletes: it is the caller's contract, not a hint.
    *
    * Read-modify-write CAS semantics as [[commitMerge]]: concurrent
    * commit → [[ConcurrentSnapshotCommitException]], re-run. */
  def commitDelete(spark: SparkSession, tableDir: String, predicate: Column,
                   prunePreds: Seq[(String, BigDecimal, BigDecimal)] = Nil): String = {
    val v = liveVersion(spark, tableDir, "commitDelete")
    val m = readManifest(spark, tableDir, v)
    val detect =
      if (prunePreds.isEmpty) readVersion(spark, tableDir, v).filter(predicate)
      else readVersionPrunedMulti(spark, tableDir, v, prunePreds).filter(predicate)
    val touched = partitionsOf(m, detect).sorted
    if (touched.isEmpty) v // no match → no-op, don't publish a copy
    else rewrite(spark, tableDir, v, m, touched)(_.filter(keepCond(predicate)))
  }

  /** UPDATE ... SET ... WHERE on the live snapshot, partition-scoped.
    * `sets` maps existing columns to expressions; every right-hand
    * side is evaluated against the OLD row (SQL UPDATE semantics —
    * `SET a = b, b = a` swaps), and each result is cast to the
    * column's declared type so the schema never forks. Partitions
    * rewritten: those CONTAINING matching rows, plus — when `sets`
    * reassigns the partition column — the partitions updated rows
    * MOVE INTO (their existing rows are rewritten alongside, because
    * a manifest maps each partition to exactly one owning dir).
    * Everything else keeps its files byte-identically; a moved-out-of
    * partition left empty drops from the manifest; a no-match update
    * is a no-op. NULL/empty partition-column results are refused
    * (same contract as every partitioned commit).
    *
    * Read-modify-write CAS semantics as [[commitMerge]]. */
  def commitUpdate(spark: SparkSession, tableDir: String, predicate: Column,
                   sets: Seq[(String, Column)]): String = {
    require(sets.nonEmpty, "Snapshots.commitUpdate: no SET assignments")
    val v = liveVersion(spark, tableDir, "commitUpdate")
    val m = readManifest(spark, tableDir, v)
    val setMap = sets.toMap
    require(setMap.size == sets.size,
      s"Snapshots.commitUpdate: duplicate SET column")
    // one select, every RHS against the old row, cast to declared types
    def applySets(df: DataFrame): DataFrame = {
      val bad = setMap.keySet.diff(df.columns.toSet)
      require(bad.isEmpty,
        s"Snapshots.commitUpdate: SET of unknown column(s) ${bad.mkString(", ")} — " +
          "UPDATE cannot add columns; use a merge commit for schema evolution")
      val hit = coalesce(predicate, lit(false))
      df.select(df.schema.fields.map { f =>
        setMap.get(f.name) match {
          case Some(e) => when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }.toSeq: _*)
    }
    val matched = readVersion(spark, tableDir, v).filter(predicate)
    val srcParts = partitionsOf(m, matched)
    if (srcParts.isEmpty) return v
    // rows moving INTO a partition force its rewrite too — the
    // target's existing rows must land in the same owning dir
    val tgtParts =
      if (setMap.contains(m.partCol)) partitionsOf(m, applySets(matched)) else Nil
    require(!tgtParts.contains(null) && !tgtParts.contains(""),
      s"Snapshots.commitUpdate: SET would assign NULL or empty ${m.partCol}; " +
        "null partitions are not supported")
    rewrite(spark, tableDir, v, m, (srcParts ++ tgtParts).distinct.sorted)(applySets)
  }

  /** DV entries of a previous manifest still valid under a new set of
    * referenced dirs: a deletion vector targets one data dir's rows
    * and survives iff that dir is still referenced. (A rewritten
    * partition's rows move to a new dir with the deletions already
    * applied — its old dir's DV rides along only while OTHER
    * partitions still read that dir.) */
  private def carriedDvs(m: Manifest, newDirs: Set[String]): Seq[(String, String)] =
    m.dvs.filter { case (_, target) => newDirs.contains(target) }

  /** O(delta) DELETE: record the (distinct) keys of `keys` as a
    * DELETION VECTOR — one delete-sized parquet write and a manifest
    * claim; NO data file is touched, unlike [[commitDelete]]'s
    * partition rewrite. Readers anti-join the vector against rows
    * from the dirs it targets (the dirs referenced when the delete
    * committed), so a later upsert RE-INSERTING a deleted key — which
    * lands in a new dir — is never masked. DVs accumulate across
    * deletes and merges; [[compact]] materializes the live rows and
    * clears them (the REWRITE step of the Delta DV lifecycle). All
    * DVs of a table must share one key column. Read-modify-write CAS
    * semantics as [[commitMerge]]. */
  def commitDeleteVector(spark: SparkSession, tableDir: String, keys: DataFrame,
                         key: String): String = {
    val v = liveVersion(spark, tableDir, "commitDeleteVector")
    val m = readManifest(spark, tableDir, v)
    require(m.dvKey.isEmpty || m.dvKey == key,
      s"Snapshots.commitDeleteVector: existing deletion vectors use key '${m.dvKey}'")
    val k = keys.select(col(key)).distinct()
    if (k.isEmpty) return v
    val dd = writeDataDir(spark, tableDir, k)
    // target every dir the live version references — with per-file key
    // stats a future refinement could skip dirs whose ranges exclude
    // the keys, but an extra target is only a no-op anti-join
    val targets = referencedDirs(m)
    claimExactlyAfter(spark, tableDir, v,
      m.copy(dvKey = key, dvs = m.dvs ++ targets.map(dd -> _)))
  }

  /** Right-to-be-forgotten composition: logically delete `keys` NOW
    * (one [[commitDeleteVector]] — instant at any table size), then
    * physically erase them by materializing the live rows
    * ([[compact]]) and reclaiming every pre-compaction data dir and
    * manifest ([[vacuum]] with `keep = 1`, zero grace). After this
    * returns, no file under the table root contains the forgotten
    * rows' bytes (proved byte-level in SnapshotsSpec) — the erasure a
    * compliance delete needs, which a deletion vector alone
    * deliberately does NOT provide (old versions stay readable).
    * Collapses history to the single live version and assumes no
    * concurrent writers/pinned readers during the erasure window —
    * the caller serializes compliance jobs. */
  def forget(spark: SparkSession, tableDir: String, keys: DataFrame,
             key: String): String = {
    commitDeleteVector(spark, tableDir, keys, key)
    // even with no matching keys, compact+vacuum still runs: the
    // caller asked for physical erasure of whatever may linger in
    // old, still-readable versions
    val v = compact(spark, tableDir)
    vacuum(spark, tableDir, keep = 1, orphanGraceMs = 0L)
    v
  }

  /** Stat entries of a previous manifest still valid under a new
    * partition→dir map: files are immutable, so an entry survives iff
    * the new manifest still references its (dir, partition). */
  private def carriedStats(m: Manifest,
                           newParts: Map[String, String]): Seq[FileStat] =
    m.stats.filter(st =>
      newParts.exists { case (value, dd) => statInPartition(st, value, dd) })

  // ------------------------------------------------------------- restore

  /** RESTORE the table to a retained `version`: publish that
    * version's manifest content as the NEW live version. Zero data is
    * copied or moved — the new manifest re-references the old
    * version's immutable dirs (which also re-pins them against
    * [[vacuum]], since retention keeps everything the live manifest
    * names). History is preserved: the rolled-back versions remain
    * readable until vacuumed, exactly like Delta's RESTORE. Restoring
    * a vacuumed version fails loudly in [[readManifest]]; restoring
    * the live version is a no-op. Read-modify-write CAS semantics as
    * [[commitMerge]] — a concurrent commit between resolving the
    * live version and the claim throws, re-run. */
  def restore(spark: SparkSession, tableDir: String, version: String): String = {
    val live = liveVersion(spark, tableDir, "restore")
    if (version == live) return live
    val m = readManifest(spark, tableDir, version)
    val root = new Path(tableDir)
    val fs = fsOf(spark, root)
    val gone = (referencedDirs(m) ++ m.dvs.map(_._1)).distinct
      .filterNot(dd => fs.exists(new Path(root, dd)))
    require(gone.isEmpty,
      s"Snapshots.restore: $version references vacuumed data dir(s) " +
        s"${gone.mkString(", ")} — restore a retained version instead")
    claimExactlyAfter(spark, tableDir, live, m)
  }

  // --------------------------------------------------- change data feed

  /** Change-data-feed rows between two retained versions: one row per
    * CHANGE, with the full payload inline plus `_change_type` ∈
    * {insert, delete, update_preimage, update_postimage} — a changed
    * key emits its pre- and post-image as two rows (the Delta CDF
    * row shape), an unchanged key emits nothing. When both versions
    * are partitioned commits on the same column, partitions whose
    * manifest entries name the SAME immutable dir are skipped without
    * reading a row (the [[diffVersionsPartitioned]] pruning) — the
    * CDF of a daily one-partition merge on a 100 TB table reads two
    * copies of one partition. One full-outer shuffle on the key over
    * what survives pruning. */
  def changeFeed(spark: SparkSession, tableDir: String, vOld: String,
                 vNew: String, key: String): DataFrame = {
    val mo = readManifest(spark, tableDir, vOld)
    val mn = readManifest(spark, tableDir, vNew)
    val d =
      if (mo.dataDir.isEmpty && mn.dataDir.isEmpty && mo.partCol == mn.partCol)
        diffVersionsPartitioned(spark, tableDir, vOld, vNew, key)
      else diffVersions(spark, tableDir, vOld, vNew, key)
    val changed = d.filter(col("change") =!= "unchanged")
    def tagged(payload: Column, tag: String): Column =
      struct(payload.as("p"), lit(tag).as("t"))
    val events = changed.select(col(key), explode(
      when(col("change") === "added", array(tagged(col("_new"), "insert")))
        .when(col("change") === "removed", array(tagged(col("_old"), "delete")))
        .otherwise(array(tagged(col("_old"), "update_preimage"),
          tagged(col("_new"), "update_postimage")))).as("_e"))
    // payload columns in the new version's declared order (a
    // partitioned physical read surfaces the partition column last)
    val payload = events.select(col("_e.p.*")).columns.toSeq
    val ordered = manifestSchema(mn)
      .map(sch => sch.fieldNames.toSeq.filter(payload.contains) ++
        payload.filterNot(sch.fieldNames.contains))
      .getOrElse(payload)
    events.select(col(key) +: ordered.map(c => col(s"_e.p.$c").as(c))
      :+ col("_e.t").as("_change_type"): _*)
  }

  /** Consolidate the live version into ONE fresh data dir and publish
    * it as a new version — the table-rewrite/OPTIMIZE analog. A long
    * chain of partition-scoped merges leaves the live manifest
    * referencing one data dir per historical commit; every one of them
    * is pinned against [[vacuum]] for as long as any live partition
    * entry points at it. Compaction re-points every partition at a
    * single new dir, after which vacuum can reclaim the whole chain.
    * The files are bin-packed too: the live rows are coalesced (no
    * shuffle) to [[Sinks.compactedFileCount]] of the live files'
    * bytes, so small files a merge chain left behind become one file
    * per partition per 128 MB. Readers are untouched until the
    * one-claim publish (same protocol as every commit);
    * read-modify-write CAS semantics as [[commitMerge]] — a racing
    * committer makes this throw, re-run. Returns the new version name. */
  def compact(spark: SparkSession, tableDir: String): String = {
    val v = liveVersion(spark, tableDir, "compact")
    val m = readManifest(spark, tableDir, v)
    // every partition is touched, so each one re-points at the new dir
    val all = m.partitions.map(_._1)
    val files = Sinks.compactedFileCount(liveFiles(spark, tableDir, m, all).map(_._2).sum)
    rewrite(spark, tableDir, v, m, all)(_.coalesce(files))
  }

  /** OPTIMIZE ZORDER analog: consolidate the live version into one
    * data dir CLUSTERED on the Morton key of (xCol, yCol) — domains
    * learned from one tiny agg, both columns scaled to the full code
    * range, one range exchange + local sort — with per-file stats
    * recorded on BOTH RAW columns. Each output file then covers a
    * small (x, y) rectangle, so [[readVersionPrunedMulti]] prunes 2D
    * box reads on both dimensions directly; no curve key is
    * materialized into the schema. On a partitioned table the
    * `numFiles` ranges run on (partition column, Morton key), so the
    * layout is kept. Same CAS/read-modify-write semantics as
    * [[compact]]; existing stats columns stay tracked. */
  def compactZOrdered(spark: SparkSession, tableDir: String, xCol: String,
                      yCol: String, numFiles: Int): String = {
    val v = liveVersion(spark, tableDir, "compactZOrdered")
    val m = readManifest(spark, tableDir, v)
    val statsCols = (m.stats.map(_.col) ++ Seq(xCol, yCol)).distinct
    rewrite(spark, tableDir, v, m, m.partitions.map(_._1), statsCols) { df =>
      val bits = 16
      val r = df.agg(min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
        min(col(yCol)).cast("long"), max(col(yCol)).cast("long")).head()
      val keys = (if (m.partCol.isEmpty) Nil else Seq(col(m.partCol))) :+ col("_zkey")
      if (r.isNullAt(0)) df
      else df.withColumn("_zkey", ZOrder.zkey2(
          ZOrder.scaled(col(xCol), r.getLong(0), r.getLong(1), bits),
          ZOrder.scaled(col(yCol), r.getLong(2), r.getLong(3), bits), bits))
        .repartitionByRange(numFiles, keys: _*)
        .sortWithinPartitions(keys: _*)
        .drop("_zkey")
    }
  }

  /** Auto-OPTIMIZE policy: compact only when the live manifest
    * references more than `maxDirs` distinct data dirs — the point
    * where a long partition-scoped merge chain starts costing real
    * read fan-out (one basePath listing per dir) and pinning the whole
    * chain against [[vacuum]]. Cheap to call after every commit: the
    * check is one manifest read; below threshold nothing runs.
    * Returns the new version when a compaction was triggered. */
  def maybeCompact(spark: SparkSession, tableDir: String,
                   maxDirs: Int = 16): Option[String] =
    currentVersion(spark, tableDir).flatMap { v =>
      val nDirs = referencedDirs(readManifest(spark, tableDir, v)).size
      if (nDirs > maxDirs) Some(compact(spark, tableDir)) else None
    }

  /** Zero-copy SHALLOW CLONE — the `CREATE TABLE dst SHALLOW CLONE
    * src` analog (Delta/Iceberg snapshot-reference clones): publish,
    * as `targetDir`'s v1, the source's LIVE manifest with every
    * data-dir / deletion-vector / stat-file reference rewritten to the
    * source's fully-qualified ABSOLUTE path (`file:/…/src/d-…`). No
    * bytes are copied — the clone commits in manifest-write time
    * however large the source. Every reader resolves dirs through the
    * same `new Path(tableDir, dir)` seam, so plain reads, time travel,
    * min/max- and bitmap-pruned reads and DV application all work on
    * the clone unchanged, and a clone of a clone keeps pointing at the
    * original files. Subsequent commits on the clone write their data
    * dirs locally and diverge freely: a partition-scoped merge
    * rewrites only the touched partitions into the clone's own dirs
    * while untouched partitions keep reading the source's files; the
    * source never observes any of it.
    *
    * Two guards refuse a clone that would publish a broken manifest:
    *   - the target must have NO commit history — not even a vacuumed
    *     one, whose later versions survive and would sit on top of a
    *     re-claimed v1 as spliced foreign history;
    *   - no borrowed dir path may contain a manifest delimiter (`=` or
    *     a newline), which the partition-line parser would split on.
    *
    * Lifetime contract (same as Delta/Iceberg shallow clones): the
    * clone borrows the source's files, so a `vacuum` on the SOURCE
    * that drops the cloned version's dirs breaks the clone — pin the
    * source's retention for as long as the clone (or any of its
    * descendant versions) lives. `vacuum` on the CLONE is always safe:
    * it only ever deletes dirs under the clone's own root. */
  def shallowClone(spark: SparkSession, sourceDir: String, targetDir: String): String = {
    val v = liveVersion(spark, sourceDir, "shallowClone")
    val m = readManifest(spark, sourceDir, v)
    // fully-QUALIFIED source root (file:/… / hdfs://…): file listings
    // compare qualified paths, so borrowed-dir names must be stored in
    // the same form or stats/DV lookups would silently miss
    val srcRoot = fsOf(spark, new Path(sourceDir))
      .makeQualified(new Path(sourceDir)).toString
    def abs(d: String): String =
      if (d.startsWith("/") || d.contains(":/")) d else s"$srcRoot/$d"
    // the partition manifest line splits dir from value on the LAST
    // '=', so a borrowed DIR name must not contain one (file paths
    // inside stat lines are '|'-delimited and may — Hive partition
    // subdirs always do)
    def absDir(d: String): String = {
      val a = abs(d)
      require(!a.contains("=") && !a.contains("\n"),
        s"Snapshots.shallowClone: source dir '$a' contains a manifest delimiter")
      a
    }
    val cloned = m.copy(
      dataDir = m.dataDir.map(absDir),
      partitions = m.partitions.map { case (value, dd) => (value, absDir(dd)) },
      stats = m.stats.map(s => s.copy(relPath = abs(s.relPath))),
      dvs = m.dvs.map { case (dv, owner) => (abs(dv), absDir(owner)) })
    val tgt = new Path(targetDir)
    // refuse a target with ANY commit history — a vacuumed table keeps
    // its later versions, and claiming a retired low number would
    // splice foreign history under them
    require(listVersions(spark, targetDir).isEmpty,
      s"Snapshots.shallowClone: target $targetDir is already a snapshot table")
    fsOf(spark, tgt).mkdirs(tgt)
    claimExactly(spark, targetDir, 1, cloned)
  }

  /** Claim exactly base+1 or fail loudly (the read-modify-write CAS). */
  private def claimExactlyAfter(spark: SparkSession, tableDir: String,
                                baseVersion: String, m: Manifest): String =
    claimExactly(spark, tableDir, versionNumber(baseVersion) + 1, m)

  private def claimExactly(spark: SparkSession, tableDir: String, n: Int,
                           m: Manifest): String = {
    if (!tryClaim(spark, tableDir, n, m))
      throw new ConcurrentSnapshotCommitException(
        s"Snapshots: version ${versionName(n)} of $tableDir was claimed by a " +
          s"concurrent writer; re-run the merge against the new live snapshot")
    versionName(n)
  }

  private def listPartitionValues(fs: FileSystem, dataDir: Path,
                                  partCol: String): Seq[String] = {
    val prefix = partCol + "="
    val values = fs.listStatus(dataDir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(n.stripPrefix(prefix)) }
      .sorted
    // NULL and empty-string partition values both land in the Hive
    // default-partition dir and cannot round-trip as distinct values —
    // refuse before the claim (the written data dir stays an
    // unclaimed orphan; vacuum reclaims it)
    require(!values.contains(
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME),
      s"Snapshots: NULL or empty $partCol values are not supported — " +
        "filter or default them first")
    values
  }

  // ---------------------------------------------------------- file stats

  /** Compute per-file min/max for `statsCols` over a freshly written
    * data dir — one delta-sized scan of files that are still hot from
    * the write. Numeric data columns only (partition columns live in
    * dir names, not files). A file where a column is all-NULL gets no
    * entry and is conservatively always read. Without `explicit`
    * columns, those `carried` from the base that are still data
    * columns here (not, e.g., a new partition column) are scanned. */
  private def computeFileStats(spark: SparkSession, tableDir: Path, dd: String,
                               partCol: String, explicit: Seq[String],
                               carried: Seq[String]): Seq[FileStat] = {
    if (explicit.isEmpty && carried.isEmpty) return Nil
    val df = Tables.parquet(spark, Seq(new Path(tableDir, dd).toString))
    val data = df.schema.fields.filterNot(_.name == partCol)
    val statsCols = if (explicit.nonEmpty) explicit else carried.filter { c =>
      val name = c.stripPrefix(BitmapStatPrefix)
      c == RowCountCol || data.exists(f => f.name == name && (name != c ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
    }
    if (statsCols.isEmpty) return Nil
    // RowCountCol and bitmap:<col> are VIRTUAL: per-file row counts
    // and membership bitmaps riding the same stat-line machinery
    // (and the same carry-forward rules) as the min/max skipping index
    val (virtual, rest) = statsCols.partition(_ == RowCountCol)
    val (bitmapTagged, real) = rest.partition(_.startsWith(BitmapStatPrefix))
    val bitmapCols = bitmapTagged.map(_.stripPrefix(BitmapStatPrefix))
    real.foreach { c =>
      require(StatColRe.findFirstIn(c).isDefined,
        s"Snapshots: stats column '$c' is not a plain identifier")
      require(df.schema.fields.exists(f => f.name == c &&
          f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]),
        s"Snapshots: stats column '$c' must be a numeric data column")
    }
    bitmapCols.foreach { c =>
      require(StatColRe.findFirstIn(c).isDefined,
        s"Snapshots: bitmap column '$c' is not a plain identifier")
      require(df.schema.fields.exists(_.name == c),
        s"Snapshots: bitmap column '$c' must be a data column")
    }
    val aggs = real.flatMap(c =>
      Seq(min(col(c)).as(s"_min_$c"), max(col(c)).as(s"_max_$c"))) ++
      bitmapCols.map(c =>
        call_function("bitmap_registers", col(c).cast("string")).as(s"_bm_$c")) ++
      (if (virtual.nonEmpty) Seq(count(lit(1)).as("_n_rows")) else Nil)
    df.groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.flatMap { r =>
        val file = r.getString(0)
        // the data dir name is attempt-unique, so locating it in the
        // URI is unambiguous regardless of scheme/authority spelling
        val at = file.indexOf("/" + dd + "/")
        require(at >= 0, s"Snapshots: file $file not under data dir $dd")
        val rel = file.substring(at + 1)
        real.zipWithIndex.flatMap { case (c, i) =>
          val lo = r.get(1 + 2 * i)
          val hi = r.get(2 + 2 * i)
          // NaN/Infinity (float columns) are not orderable decimals —
          // such a file simply gets no entry and is always read
          if (lo == null || hi == null) None
          else (scala.util.Try(BigDecimal(lo.toString)).toOption,
                scala.util.Try(BigDecimal(hi.toString)).toOption) match {
            case (Some(_), Some(_)) => Some(FileStat(c, lo.toString, hi.toString, rel))
            case _ => None
          }
        } ++ bitmapCols.zipWithIndex.map { case (c, j) =>
          val buckets = r.getSeq[Int](1 + 2 * real.length + j)
          // min = the hex bitmap, max = set-bucket count (diagnostic;
          // the BigDecimal range parse on `min` fails OPEN in
          // filterByStats, so a bitmap line can never break range
          // pruning on a like-named data column)
          FileStat(BitmapStatPrefix + c, bitmapHexOf(buckets),
            buckets.length.toString, rel)
        } ++ (if (virtual.nonEmpty) {
          val n = r.getLong(1 + 2 * real.length + bitmapCols.length).toString
          Seq(FileStat(RowCountCol, n, n, rel))
        } else Nil)
      }
  }

  /** Range read with manifest-level data skipping: return the rows of
    * `version` where `statCol` ∈ [lower, upper], reading ONLY the
    * files whose recorded [min,max] intersects the range (plus any
    * file with no stat entry — conservative). With per-file stats on
    * a clustered column, a point/range read of a 100 TB snapshot
    * opens a handful of files instead of every file of every
    * referenced partition; the row-level filter still applies inside
    * the survivors, so results equal `readVersion(...).filter(...)`
    * exactly (proved in SnapshotsSpec with a scan-file assert). */
  def readVersionPruned(spark: SparkSession, tableDir: String, version: String,
                        statCol: String, lower: BigDecimal, upper: BigDecimal): DataFrame =
    readVersionPrunedMulti(spark, tableDir, version, Seq((statCol, lower, upper)))

  /** Conjunctive multi-column range read: rows of `version` where
    * EVERY (col, lo, hi) holds. [[filterByStats]] keeps the live files
    * whose recorded range intersects every predicate's range (a file
    * lacking a stat for some column survives that predicate; a version
    * that tracks no stats reads every file), and [[readRows]] reads
    * them with deletion vectors applied, conformed to the declared
    * schema. The row filter applies inside the survivors, so results
    * equal `readVersion(...).filter(...)` exactly. With a Z-ordered
    * layout ([[compactZOrdered]]) each file covers a small rectangle
    * in the clustered columns (within one partition, on a partitioned
    * table), so a 2D box prunes on BOTH dimensions without
    * materializing a curve key. */
  def readVersionPrunedMulti(spark: SparkSession, tableDir: String, version: String,
                             preds: Seq[(String, BigDecimal, BigDecimal)]): DataFrame = {
    require(preds.nonEmpty, "readVersionPrunedMulti: no predicates")
    val m = readManifest(spark, tableDir, version)
    val predicate = preds.map { case (c, lo, hi) =>
      col(c) >= lit(lo.underlying) && col(c) <= lit(hi.underlying)
    }.reduce(_ && _)
    if (m.stats.isEmpty) return readVersion(spark, tableDir, version).filter(predicate)
    readSelected(spark, tableDir, m, filterByStats(m,
      liveFiles(spark, tableDir, m, m.partitions.map(_._1)).map(_._1), preds), predicate)
  }

  /** The tail of every file-pruned read: the `selected` files of `m`
    * (relative to the table root) read by [[readRows]] and filtered by
    * the row-level `predicate`. No file selected → an empty frame with
    * the version's schema. */
  private def readSelected(spark: SparkSession, tableDir: String, m: Manifest,
                           selected: Seq[String], predicate: Column): DataFrame =
    readRows(spark, tableDir, m, selected).getOrElse(noRows(spark, tableDir, m))
      .filter(predicate)

  /** The files of `m` a key-set lookup must open: those whose
    * membership bitmap for `keyCol` has ANY probed key's bucket bit
    * set, plus files with no bitmap line (conservative — always
    * read). Package-private so specs can assert the skip count. */
  private[graft] def bitmapSelectedFiles(m: Manifest, files: Seq[String],
                                         keyCol: String,
                                         keys: Seq[String]): Seq[String] = {
    val bm = m.stats.filter(_.col == BitmapStatPrefix + keyCol)
      .map(s => s.relPath -> s.min).toMap
    val buckets = keys.map(bitmapBucketOf).distinct
    files.filter { rel =>
      bm.get(rel) match {
        case Some(hex) =>
          // a hand-mangled bitmap line fails OPEN (read the file)
          scala.util.Try(buckets.exists(b => bitmapHas(hex, b))).getOrElse(true)
        case None => true
      }
    }
  }

  /** Point/key-set lookup with bitmap file skipping: rows of
    * `version` where `keyCol` ∈ `keys`, opening ONLY the live files
    * whose per-file membership bitmap ([[BitmapStatPrefix]] stat) hits
    * a probed bucket, plus files with no bitmap line; [[readRows]]
    * reads them with deletion vectors applied, conformed to the
    * declared schema. Unlike [[readVersionPruned]]'s min/max ranges,
    * this skips under ANY physical layout — hash-distributed keys
    * included — because membership, not ordering, is what's indexed.
    * The row filter still applies inside survivors, so the result
    * equals `readVersion(...).filter(keyCol.isin(keys))` exactly;
    * bitmap false positives only cost IO, never correctness. */
  def readVersionKeyPruned(spark: SparkSession, tableDir: String, version: String,
                           keyCol: String, keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, "readVersionKeyPruned: no keys")
    val m = readManifest(spark, tableDir, version)
    val predicate = col(keyCol).isin(keys: _*)
    // The per-file bitmaps were built from cast(col, 'string') —
    // SPARK's rendering. JVM String.valueOf differs for some types
    // (java.sql.Timestamp appends '.0', Float/Decimal edge forms), and
    // a probe hashed from the wrong string silently skips a file that
    // holds the key. Evaluate the probe strings through the same cast
    // (one local one-row projection, no job) so both sides of the
    // index agree for every key type.
    val probeStrings = {
      val cols = keys.zipWithIndex.map { case (k, i) =>
        lit(k).cast("string").as(s"_k$i")
      }
      val r = spark.range(1).select(cols: _*).head()
      // a key whose cast renders NULL can match no stored row (the
      // index stores only non-null renderings) — drop it from probes
      keys.indices.filterNot(r.isNullAt).map(r.getString)
    }
    val selected =
      if (probeStrings.isEmpty) Nil
      else bitmapSelectedFiles(m,
        liveFiles(spark, tableDir, m, m.partitions.map(_._1)).map(_._1), keyCol, probeStrings)
    readSelected(spark, tableDir, m, selected, predicate)
  }

  // ------------------------------------------------ write-audit-publish

  /** Stage `df` as an UNPUBLISHED data dir: bytes land on storage but
    * no manifest references them, so every reader — live, time-travel,
    * CDF — is oblivious. The write-audit-publish branch primitive:
    * audit the staged bytes with [[readStaged]] (expectations, row
    * counts, referential checks — the exact files that will serve
    * reads, not a copy), then either [[publishStaged]] (atomic CAS,
    * zero data movement) or [[abandonStaged]]. A stage that crashes
    * mid-audit is the already-handled orphan-dir case: invisible
    * forever, swept by [[vacuum]] after the grace window — so finish
    * (or abandon) an audit within `orphanGraceMs`, or raise it. */
  def stageOverwrite(spark: SparkSession, tableDir: String, df: DataFrame): String =
    writeDataDir(spark, tableDir, df)

  /** Read a staged (unpublished) data dir for auditing. */
  def readStaged(spark: SparkSession, tableDir: String, staged: String): DataFrame = {
    require(staged.startsWith("d-"),
      s"Snapshots.readStaged: '$staged' is not a staged data dir name")
    Tables.parquet(spark, Seq(new Path(new Path(tableDir), staged).toString))
  }

  /** Publish a staged dir as the next table version — the commit half
    * of write-audit-publish. Metadata-only: the manifest re-references
    * the audited files byte-identically (what was audited IS what
    * readers get). Installed CHECK constraints still gate the claim
    * ([[tryClaim]] → validateChecks), so a stale audit can't sneak a
    * violating batch in. Overwrite semantics are base-independent, so
    * a concurrent commit landing between stage and publish just bumps
    * the claimed number. */
  def publishStaged(spark: SparkSession, tableDir: String, staged: String,
                    statsCols: Seq[String] = Nil): String = {
    val dir = new Path(tableDir)
    require(fsOf(spark, dir).exists(new Path(dir, staged)),
      s"Snapshots.publishStaged: staged dir $staged is gone (abandoned or vacuumed)")
    val df = readStaged(spark, tableDir, staged)
    val base = currentVersion(spark, tableDir).map(readManifest(spark, tableDir, _))
    val m = manifestFor(spark, tableDir, staged, base, Some(df.schema.json), statsCols)
    claimNext(spark, tableDir)(tryClaim(spark, tableDir, _, m))
  }

  /** Drop a staged dir that failed its audit. Refuses to touch a dir
    * any retained manifest references (i.e. one that was published —
    * that is [[vacuum]]'s job, governed by retention). */
  def abandonStaged(spark: SparkSession, tableDir: String, staged: String): Unit = {
    require(staged.startsWith("d-"),
      s"Snapshots.abandonStaged: '$staged' is not a staged data dir name")
    require(!dirsOf(spark, tableDir, listVersions(spark, tableDir)).contains(staged),
      s"Snapshots.abandonStaged: $staged is referenced by a published version")
    fsOf(spark, new Path(tableDir)).delete(new Path(new Path(tableDir), staged), true)
  }

  /** The stat lines of column `c` in `version` (manifest `m`), per
    * live partition — a whole-table version is the one partition "" —
    * after the guard every manifest-only aggregate shares: `c` must be
    * tracked, and no deletion vector may be pending (its rows are still
    * physically in the files the stats describe; compact first). */
  private def statsByPartition(op: String, version: String, m: Manifest,
                               c: String): Seq[(String, Seq[FileStat])] = {
    require(m.dvs.isEmpty, s"Snapshots.$op: pending deletion vectors make the " +
      s"file stats of $version stale; compact (or read the data path) first")
    val sts = m.stats.filter(_.col == c)
    require(sts.nonEmpty, s"Snapshots.$op: version $version tracks no '$c' " +
      "stats — commit with statsCols including it")
    m.dataDir match {
      case Some(_) => Seq("" -> sts)
      case None => m.partitions.map { case (value, dd) =>
        value -> sts.filter(statInPartition(_, value, dd)) }
    }
  }

  /** Per-partition row counts of `version` from its [[RowCountCol]]
    * stats (see [[statsByPartition]]). */
  private def rowCounts(op: String, version: String, m: Manifest): Seq[(String, Long)] =
    statsByPartition(op, version, m, RowCountCol)
      .map { case (p, sts) => p -> sts.map(_.min.toLong).sum }

  /** COUNT(*) per partition from the MANIFEST alone — zero data files
    * opened. Requires the table to track [[RowCountCol]] stats and to
    * have no pending deletion vectors (DV rows are physically present
    * in the counted files; counting them would overcount — compact
    * first). Whole-table layouts report one row with partition "".
    *
    * Why this matters at 100 TB: a COUNT(*) / per-partition row-count
    * audit over a petabyte table becomes an O(manifest) driver read —
    * the same query as a scan costs a full pass over every file's
    * pages. This is the audit-count query (SURVEY §2 #8) at lakehouse
    * scale: the nightly "did every partition land" check runs in
    * milliseconds however large the table grows. */
  def metadataRowCounts(spark: SparkSession, tableDir: String,
                        version: String): DataFrame = {
    import spark.implicits._
    rowCounts("metadataRowCounts", version, readManifest(spark, tableDir, version))
      .toDF("partition", "n_rows").orderBy(col("partition"))
  }

  /** Does stat line `st` belong to partition `value` owned by data
    * dir `dd`? Matching is by dir PREFIX + the partition subdir
    * segment, not positional path segments, so clone-borrowed absolute
    * dirs match too. */
  private def statInPartition(st: FileStat, value: String, dd: String): Boolean =
    st.relPath.startsWith(dd + "/") && {
      val rest = st.relPath.substring(dd.length + 1).split("/")
      rest.length == 2 && {
        val eq = rest(0).lastIndexOf('=')
        eq > 0 && org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(rest(0).substring(eq + 1)) == value
      }
    }

  /** Manifest-only MIN/MAX per partition for a tracked stats column:
    * min of the per-file mins / max of the per-file maxes — the
    * Iceberg-style aggregate pushdown that answers a MIN/MAX query
    * by reading O(manifest) bytes and ZERO data files. Same safety
    * rails as [[metadataRowCounts]]: pending deletion vectors could
    * have removed the extreme row, so they must be compacted first;
    * a version that doesn't track the column fails loudly. Decimal
    * strings parse back to the exact doubles the writer recorded, so
    * the answer is bit-identical to the data-path aggregate. */
  def metadataMinMax(spark: SparkSession, tableDir: String,
                     version: String, statCol: String): DataFrame = {
    import spark.implicits._
    statsByPartition("metadataMinMax", version, readManifest(spark, tableDir, version),
      statCol).collect { case (p, sts) if sts.nonEmpty =>
        (p, sts.map(s => BigDecimal(s.min)).min.toDouble,
          sts.map(s => BigDecimal(s.max)).max.toDouble)
      }.toDF("partition", "min_v", "max_v").orderBy(col("partition"))
  }

  /** Partition-level drift between two retained versions, computed
    * from the two MANIFESTS alone (requires [[RowCountCol]] tracking
    * and no pending DVs on either side): per partition, the row counts
    * on each side, the delta, and the status — `added` / `removed` /
    * `rewritten` (owning dir changed) / `unchanged` (same immutable
    * dir, byte-identical files).
    *
    * The O(manifest) answer to "what did that commit touch, and how
    * big was it" — the pre-flight audit an incremental consumer (IVM
    * refresh, CDC poller, downstream retrain trigger) runs to decide
    * whether reading the actual delta is worth it. On a 100 TB table
    * this reads two manifest files; the data-path equivalent
    * ([[diffVersions]]) reads both versions end to end. */
  def metadataPartitionDrift(spark: SparkSession, tableDir: String,
                             vOld: String, vNew: String): DataFrame = {
    import spark.implicits._
    val mo = readManifest(spark, tableDir, vOld)
    val mn = readManifest(spark, tableDir, vNew)
    require(mo.dataDir.isEmpty && mn.dataDir.isEmpty && mo.partCol == mn.partCol,
      "Snapshots.metadataPartitionDrift: both versions must be partitioned " +
        "layouts over the same partition column")
    val co = rowCounts("metadataPartitionDrift", vOld, mo).toMap
    val cn = rowCounts("metadataPartitionDrift", vNew, mn).toMap
    val dirO = mo.partitions.toMap
    val dirN = mn.partitions.toMap
    (co.keySet ++ cn.keySet).toSeq.sorted.map { p =>
      val status = (dirO.get(p), dirN.get(p)) match {
        case (None, Some(_))                  => "added"
        case (Some(_), None)                  => "removed"
        case (Some(a), Some(b)) if a == b     => "unchanged"
        case _                                => "rewritten"
      }
      (p, co.getOrElse(p, 0L), cn.getOrElse(p, 0L),
        cn.getOrElse(p, 0L) - co.getOrElse(p, 0L), status)
    }.toDF("partition", "old_rows", "new_rows", "delta", "status")
      .orderBy(col("partition"))
  }

  /** Schema drift between two retained versions from the MANIFESTS
    * alone: per column, `added` / `removed` / `type_changed` /
    * `unchanged` with both declared types. The companion audit to
    * [[metadataPartitionDrift]] — a downstream consumer checks its
    * read contract against the new version in O(manifest) before
    * touching data (manifests have carried the declared schema since
    * the add-column evolution work; versions predating schema
    * tracking are refused loudly). */
  def metadataSchemaDrift(spark: SparkSession, tableDir: String,
                          vOld: String, vNew: String): DataFrame = {
    import spark.implicits._
    def schemaOf(v: String): org.apache.spark.sql.types.StructType =
      manifestSchema(readManifest(spark, tableDir, v)).getOrElse(
        throw new IOException(
          s"Snapshots.metadataSchemaDrift: version $v carries no schema"))
    val so = schemaOf(vOld)
    val sn = schemaOf(vNew)
    val om = so.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val nm = sn.fields.map(f => f.name -> f.dataType.simpleString).toMap
    (om.keySet ++ nm.keySet).toSeq.sorted.map { c =>
      val status = (om.get(c), nm.get(c)) match {
        case (None, Some(_))              => "added"
        case (Some(_), None)              => "removed"
        case (Some(a), Some(b)) if a == b => "unchanged"
        case _                            => "type_changed"
      }
      (c, om.getOrElse(c, null), nm.getOrElse(c, null), status)
    }.toDF("column", "old_type", "new_type", "status")
      .orderBy(col("column"))
  }

  /** Incremental view maintenance for a grouped (count, sum)
    * aggregate: apply the vOld→vNew change feed as SIGNED deltas to a
    * previously materialized aggregate instead of rescanning the
    * table — inserts and update post-images add, deletes and update
    * pre-images subtract (count and sum are decomposable abelian
    * aggregates, so signed application is exact; decimal sums carry
    * no rounding). Work scales with the CHANGES — with the
    * manifest-pruned CDF, refreshing a daily aggregate over a 100 TB
    * table reads one partition's delta, not the table. Groups whose
    * count reaches zero drop out, exactly as a recompute would. */
  def maintainAggregate(spark: SparkSession, tableDir: String, vOld: String,
                        vNew: String, key: String, groupCol: String,
                        valCol: String, baseAgg: DataFrame): DataFrame = {
    val cdf = changeFeed(spark, tableDir, vOld, vNew, key)
    mergeSignedDelta(baseAgg, cdf.select(col(groupCol), changeSign.as("_sg"), col(valCol)),
      groupCol, valCol)
  }

  /** +1 for a change-feed row that adds to a view (insert, update
    * post-image), -1 for one that takes away. */
  private def changeSign: Column =
    when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
      .otherwise(lit(-1L))

  /** Fold signed `(groupCol, _sg, valCol)` rows into a materialized
    * `(groupCol, n, value_sum)` aggregate with one full-outer merge;
    * groups whose count reaches zero drop out. */
  private def mergeSignedDelta(baseAgg: DataFrame, signed: DataFrame, groupCol: String,
                               valCol: String): DataFrame = {
    val delta = signed
      .groupBy(col(groupCol))
      .agg(sum(col("_sg")).as("_dn"),
        sum(col(valCol) * col("_sg")).as("_dsum"))
    baseAgg.join(delta, Seq(groupCol), "full_outer")
      .select(col(groupCol),
        (coalesce(col("n"), lit(0L)) + coalesce(col("_dn"), lit(0L))).as("n"),
        (coalesce(col("value_sum"), lit(0)) + coalesce(col("_dsum"), lit(0)))
          .as("value_sum"))
      .filter(col("n") > 0)
  }

  /** Incremental maintenance of a two-table JOIN view's aggregate from
    * BOTH tables' change feeds — the join extension of
    * [[maintainAggregate]]. View: A ⋈ B on A.`fkCol` = B.`keyB`,
    * grouped by B.`groupCol`, aggregating count + sum(A.`valCol`).
    * The signed delta is the standard IVM expansion
    *   ΔV = ΔA⋈B₀ + A₀⋈ΔB + ΔA⋈ΔB
    * (signs multiply in the last term), applied to `baseAgg` — the
    * view at (vA0, vB0) — with a full-outer merge. Equals recomputing
    * the view at (vA1, vB1) exactly (gated: q137), at delta-join cost:
    * the only non-delta-sized input is one scan each of A₀ and B₀
    * pruned to the join/group columns, and the delta sides broadcast.
    * At 100 TB this is the difference between re-joining two fact
    * tables nightly and joining yesterday's changes. */
  def maintainJoinAggregate(spark: SparkSession,
                            dirA: String, vA0: String, vA1: String,
                            keyA: String, fkCol: String, valCol: String,
                            dirB: String, vB0: String, vB1: String,
                            keyB: String, groupCol: String,
                            baseAgg: DataFrame): DataFrame = {
    val dA = changeFeed(spark, dirA, vA0, vA1, keyA)
      .select(col(fkCol), col(valCol), changeSign.as("_sa"))
    val dB = changeFeed(spark, dirB, vB0, vB1, keyB)
      .select(col(keyB).as(fkCol), col(groupCol), changeSign.as("_sb"))
    val a0 = readVersion(spark, dirA, vA0).select(col(fkCol), col(valCol))
    val b0 = readVersion(spark, dirB, vB0).select(col(keyB).as(fkCol), col(groupCol))
    val t1 = broadcast(dA).join(b0, Seq(fkCol))
      .select(col(groupCol), col("_sa").as("_sg"), col(valCol))
    val t2 = a0.join(broadcast(dB), Seq(fkCol))
      .select(col(groupCol), col("_sb").as("_sg"), col(valCol))
    val t3 = dA.join(dB, Seq(fkCol))
      .select(col(groupCol), (col("_sa") * col("_sb")).as("_sg"), col(valCol))
    mergeSignedDelta(baseAgg, t1.unionByName(t2).unionByName(t3), groupCol, valCol)
  }

  // ---------------------------------------------------------------- diff

  /** Row-level diff of two retained versions by `key`: one row per key
    * present in either version, labeled `added` (new only), `removed`
    * (old only), `changed` (payload differs, null-safe struct compare)
    * or `unchanged`. Columns: key, `_old`/`_new` payload structs,
    * `change`. One full-outer shuffle on the key — inherent for a
    * whole-table diff; use [[diffVersionsPartitioned]] when both
    * versions are partitioned commits. */
  def diffVersions(spark: SparkSession, tableDir: String, vOld: String,
                   vNew: String, key: String): DataFrame =
    diffFrames(readVersion(spark, tableDir, vOld),
      readVersion(spark, tableDir, vNew), key)

  /** As [[diffVersions]], with the same columns and payload field
    * order, but manifest-pruned: a partition whose entry names the
    * SAME data dir in both manifests, with the same deletion vectors
    * targeting it, has the same rows by construction (data dirs are
    * immutable) and is skipped without reading a row. Both versions
    * must be partitioned on the same column. After a daily
    * single-partition [[commitMerge]], diffing the two versions of a
    * 100 TB table reads two copies of ONE partition — the manifest does
    * the partition pruning that a naive diff would pay a full-table
    * full-outer join for. */
  def diffVersionsPartitioned(spark: SparkSession, tableDir: String, vOld: String,
                              vNew: String, key: String): DataFrame = {
    val mo = readManifest(spark, tableDir, vOld)
    val mn = readManifest(spark, tableDir, vNew)
    require(mo.dataDir.isEmpty && mn.dataDir.isEmpty && mo.partCol == mn.partCol,
      s"diffVersionsPartitioned: $vOld/$vNew of $tableDir are not partitioned commits " +
        "on the same column")
    // same immutable dir ⇒ same bytes — but only with the SAME
    // deletion vectors targeting it; a DV delete between the versions
    // changes a partition's effective rows without re-pointing its dir
    val changed = changedPartitionsBetween(Some(mo), mn).get.sorted
    def side(m: Manifest): DataFrame =
      readSlice(spark, tableDir, m, changed).getOrElse(noRows(spark, tableDir, m))
    diffFrames(side(mo), side(mn), key)
  }

  private def diffFrames(o0: DataFrame, n0: DataFrame, key: String): DataFrame = {
    require(o0.columns.contains(key) && n0.columns.contains(key),
      s"diff: key '$key' must exist in both versions")
    // columns present in only one version (add-column evolution) are
    // padded as typed NULLs on the other side, so a row whose new
    // column is NULL in the new version compares 'unchanged' — the
    // same reconciliation readVersion applies to pre-evolution files
    def pad(df: DataFrame, other: DataFrame): DataFrame =
      other.schema.fields.filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val o = pad(o0, n0)
    val n = pad(n0, o0)
    val payload = (o0.columns ++ n0.columns.filterNot(o0.columns.contains))
      .filterNot(_ == key).toSeq
    val os = o.select(col(key), struct(payload.map(col): _*).as("_old"))
    val ns = n.select(col(key), struct(payload.map(col): _*).as("_new"))
    os.join(ns, Seq(key), "full_outer")
      .withColumn("change",
        when(col("_old").isNull, lit("added"))
          .when(col("_new").isNull, lit("removed"))
          .when(!(col("_old") <=> col("_new")), lit("changed"))
          .otherwise(lit("unchanged")))
  }

  // -------------------------------------------------------------- vacuum

  /** Retention: drop commit manifests except the newest `keep` (the
    * live one always survives), then delete data dirs no remaining
    * manifest references — EXCEPT unreferenced dirs younger than
    * `orphanGraceMs`, which may be a concurrent committer's in-flight
    * write (its claim hasn't landed yet). Callers choose `keep` longer
    * than their longest reader and a grace longer than their longest
    * write. Returns the number of versions (manifests) removed. */
  def vacuum(spark: SparkSession, tableDir: String, keep: Int = 2,
             orphanGraceMs: Long = 3600000L): Int = {
    val dir = new Path(tableDir)
    val fs = fsOf(spark, dir)
    val versions = listVersions(spark, tableDir)
    val kept = versions.takeRight(math.max(keep, 1))
    val doomed = versions.dropRight(math.max(keep, 1))
    doomed.foreach(v => fs.delete(new Path(new Path(tableDir, CommitDir), v), false))
    val referenced = dirsOf(spark, tableDir, kept)
    val cutoff = System.currentTimeMillis() - math.max(orphanGraceMs, 0L)
    if (fs.exists(dir)) fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("d-"))
      .filter(st => !referenced.contains(st.getPath.getName))
      .filter(st => st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    // stray .tmp-* manifests (a claimant that died between create and
    // rename) are invisible to readers but would otherwise accumulate
    // forever; aged ones are safe to sweep — an in-flight claim is
    // younger than the grace window by the same argument as data dirs
    val commits = new Path(dir, CommitDir)
    if (fs.exists(commits)) fs.listStatus(commits).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(".tmp-"))
      .filter(st => st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, false))
    // same sweep for a dead setCheck's tmp file in the table root
    if (fs.exists(dir)) fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(".tmp-checks-"))
      .filter(st => st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, false))
    doomed.size
  }
}
