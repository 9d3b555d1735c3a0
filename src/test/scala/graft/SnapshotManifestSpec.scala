package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.Snapshots

/** Pins the exact manifest every commit kind publishes. One table is
  * driven through every kind of commit; after each one the raw
  * `_commits/vN` body is compared with its expected text. Data dir
  * names (`d-<12 hex>`) are attempt-unique, so they are renamed
  * `D1`, `D2`, … in their order of first appearance across the whole
  * run; a part file's task number and job UUID become `*` (the task
  * that writes a file varies from run to run); the clone's
  * borrowed source root becomes `SRC`. The manifest sorts stat and
  * dv lines by the real dir names, so each of those blocks is
  * re-sorted after renaming. */
class SnapshotManifestSpec extends SparkSpec {

  import spark.implicits._

  private val DirName = "d-[0-9a-f]{12}".r
  private val PartFile =
    "part-[0-9]{5}-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  test("every commit kind publishes the expected manifest") {
    val root = Files.createTempDirectory(GraftSession.scratchRoot, "graft_manifest")
    val (t, w, c) = (s"$root/t", s"$root/w", s"$root/c")
    val stats = Seq("k", Snapshots.RowCountCol)
    val names = scala.collection.mutable.LinkedHashMap.empty[String, String]
    lazy val srcRoot = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(new Path(t)).toString

    def body(table: String, v: String): String = {
      val p = new Path(new Path(table, "_commits"), v)
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val renamed = lines.map { l =>
        // the part file goes first: its UUID's last groups can read as
        // a dir name
        val noFile = PartFile.replaceAllIn(l.replace(srcRoot, "SRC"), "part-*")
        DirName.replaceAllIn(noFile,
          m => names.getOrElseUpdate(m.matched, s"D${names.size + 1}"))
      }
      // re-sort each run of stat:/dv: lines under the renamed dirs
      def block(l: String): String =
        if (l.startsWith("stat:")) "stat" else if (l.startsWith("dv:")) "dv" else l
      val out = Seq.newBuilder[String]
      var rest = renamed
      while (rest.nonEmpty) {
        val (run, tail) = rest.span(block(_) == block(rest.head))
        out ++= (if (run.head.startsWith("stat:") || run.head.startsWith("dv:")) run.sorted
                 else run)
        rest = tail
      }
      out.result().mkString("\n")
    }
    def check(table: String, v: String, expected: String): Unit =
      assert(body(table, v) === expected.stripMargin.trim, s"manifest $v of $table")

    def rows(rs: (Long, String, Long)*) = rs.toDF("k", "p", "x")
    // the two schema lines: a local frame's (k, x are NOT NULL) and a
    // frame read back from files (every column nullable)
    def schemaLine(nullable: Boolean): String =
      """schema={"type":"struct","fields":[""" +
        s"""{"name":"k","type":"long","nullable":$nullable,"metadata":{}},""" +
        """{"name":"p","type":"string","nullable":true,"metadata":{}},""" +
        s"""{"name":"x","type":"long","nullable":$nullable,"metadata":{}}]}"""
    val keyNotNull = schemaLine(nullable = false)
    val allNullable = schemaLine(nullable = true)

    // partitioned merge bootstrap (claims exactly v1)
    val w1 = Snapshots.commitMerge(spark, w,
      rows((1, "A", 10), (2, "B", 20), (2, "B", 21)), "k", "p", statsCols = stats)
    check(w, w1, s"""
      |$keyNotNull
      |partcol=p
      |part:A=D1
      |part:B=D1
      |stat:_rows|1|1|D1/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D1/p=B/part-*.c000.snappy.parquet
      |stat:k|1|1|D1/p=A/part-*.c000.snappy.parquet
      |stat:k|2|2|D1/p=B/part-*.c000.snappy.parquet""")

    // upsert bootstrap, then an upsert against it (its delta is
    // deduplicated by key, one shuffle, so it lands as one file)
    val v1 = Snapshots.commitMerge(spark, t,
      rows((1, "A", 10), (2, "A", 20), (3, "B", 30)), "k", statsCols = stats)
    check(t, v1, s"""
      |$keyNotNull
      |dir=D2
      |stat:_rows|3|3|D2/part-*-c000.snappy.parquet
      |stat:k|1|3|D2/part-*-c000.snappy.parquet""")
    val v2 = Snapshots.commitMerge(spark, t, rows((3, "B", 31), (4, "C", 40)), "k")
    check(t, v2, s"""
      |$allNullable
      |dir=D3
      |stat:_rows|2|2|D3/part-*-c000.snappy.parquet
      |stat:_rows|2|2|D3/part-*-c000.snappy.parquet
      |stat:k|1|2|D3/part-*-c000.snappy.parquet
      |stat:k|3|4|D3/part-*-c000.snappy.parquet""")

    // whole-table overwrite keeps the tracked stats columns
    val v3 = Snapshots.commitOverwrite(spark, t,
      rows((1, "A", 10), (2, "A", 20), (3, "B", 30), (4, "B", 40)))
    check(t, v3, s"""
      |$keyNotNull
      |dir=D4
      |stat:_rows|1|1|D4/part-*-c000.snappy.parquet
      |stat:_rows|1|1|D4/part-*-c000.snappy.parquet
      |stat:_rows|1|1|D4/part-*-c000.snappy.parquet
      |stat:_rows|1|1|D4/part-*-c000.snappy.parquet
      |stat:k|1|1|D4/part-*-c000.snappy.parquet
      |stat:k|2|2|D4/part-*-c000.snappy.parquet
      |stat:k|3|3|D4/part-*-c000.snappy.parquet
      |stat:k|4|4|D4/part-*-c000.snappy.parquet""")

    // partitioned overwrite
    val v4 = Snapshots.commitOverwrite(spark, t,
      rows((1, "A", 10), (2, "A", 20), (3, "B", 30), (4, "B", 40), (5, "C", 50),
        (6, "D", 60)), partCol = "p", statsCols = stats)
    check(t, v4, s"""
      |$keyNotNull
      |partcol=p
      |part:A=D5
      |part:B=D5
      |part:C=D5
      |part:D=D5
      |stat:_rows|1|1|D5/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D5/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D5/p=B/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D5/p=B/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D5/p=C/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D5/p=D/part-*.c000.snappy.parquet
      |stat:k|1|1|D5/p=A/part-*.c000.snappy.parquet
      |stat:k|2|2|D5/p=A/part-*.c000.snappy.parquet
      |stat:k|3|3|D5/p=B/part-*.c000.snappy.parquet
      |stat:k|4|4|D5/p=B/part-*.c000.snappy.parquet
      |stat:k|5|5|D5/p=C/part-*.c000.snappy.parquet
      |stat:k|6|6|D5/p=D/part-*.c000.snappy.parquet""")

    // partitioned merge: key 5 moves C -> A (C empties), E is new; the
    // surviving slice rows and the delta are written as separate files
    val v5 = Snapshots.commitMerge(spark, t,
      rows((5, "A", 51), (7, "E", 70)), "k", "p")
    check(t, v5, s"""
      |$allNullable
      |partcol=p
      |part:A=D6
      |part:B=D5
      |part:D=D5
      |part:E=D6
      |stat:_rows|1|1|D5/p=B/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D5/p=B/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D5/p=D/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=E/part-*.c000.snappy.parquet
      |stat:k|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|2|2|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|3|3|D5/p=B/part-*.c000.snappy.parquet
      |stat:k|4|4|D5/p=B/part-*.c000.snappy.parquet
      |stat:k|5|5|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|6|6|D5/p=D/part-*.c000.snappy.parquet
      |stat:k|7|7|D6/p=E/part-*.c000.snappy.parquet""")

    // partitioned delete: D empties, B loses one row
    val v6 = Snapshots.commitDelete(spark, t, col("p") === "D" || col("k") === 3)
    check(t, v6, s"""
      |$allNullable
      |partcol=p
      |part:A=D6
      |part:B=D7
      |part:E=D6
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=E/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D7/p=B/part-*.c000.snappy.parquet
      |stat:k|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|2|2|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|4|4|D7/p=B/part-*.c000.snappy.parquet
      |stat:k|5|5|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|7|7|D6/p=E/part-*.c000.snappy.parquet""")

    // partitioned update: every B row moves to E (B empties)
    val v7 = Snapshots.commitUpdate(spark, t, col("p") === "B", Seq("p" -> lit("E")))
    check(t, v7, s"""
      |$allNullable
      |partcol=p
      |part:A=D6
      |part:E=D8
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D8/p=E/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D8/p=E/part-*.c000.snappy.parquet
      |stat:k|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|2|2|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|4|4|D8/p=E/part-*.c000.snappy.parquet
      |stat:k|5|5|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|7|7|D8/p=E/part-*.c000.snappy.parquet""")

    // deletion vector, then compaction materializes and clears it
    val v8 = Snapshots.commitDeleteVector(spark, t, Seq(Tuple1(2L)).toDF("k"), "k")
    check(t, v8, s"""
      |$allNullable
      |partcol=p
      |part:A=D6
      |part:E=D8
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D8/p=E/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D8/p=E/part-*.c000.snappy.parquet
      |stat:k|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|2|2|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|4|4|D8/p=E/part-*.c000.snappy.parquet
      |stat:k|5|5|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|7|7|D8/p=E/part-*.c000.snappy.parquet
      |dvkey=k
      |dv:D9|D6
      |dv:D9|D8""")
    val v9 = Snapshots.compact(spark, t)
    check(t, v9, s"""
      |$allNullable
      |partcol=p
      |part:A=D10
      |part:E=D10
      |stat:_rows|2|2|D10/p=A/part-*.c000.snappy.parquet
      |stat:_rows|2|2|D10/p=E/part-*.c000.snappy.parquet
      |stat:k|1|5|D10/p=A/part-*.c000.snappy.parquet
      |stat:k|4|7|D10/p=E/part-*.c000.snappy.parquet""")
    // Z-order compaction keeps the partitioned layout
    val v10 = Snapshots.compactZOrdered(spark, t, "k", "x", numFiles = 2)
    check(t, v10, s"""
      |$allNullable
      |partcol=p
      |part:A=D11
      |part:E=D11
      |stat:_rows|2|2|D11/p=A/part-*.c000.snappy.parquet
      |stat:_rows|2|2|D11/p=E/part-*.c000.snappy.parquet
      |stat:k|1|5|D11/p=A/part-*.c000.snappy.parquet
      |stat:k|4|7|D11/p=E/part-*.c000.snappy.parquet
      |stat:x|10|51|D11/p=A/part-*.c000.snappy.parquet
      |stat:x|40|70|D11/p=E/part-*.c000.snappy.parquet""")

    // whole-table overwrite carrying the tracked stats, then a
    // whole-table Z-order compaction, delete and update
    val v11 = Snapshots.commitOverwrite(spark, t, Snapshots.read(spark, t).coalesce(1))
    check(t, v11, s"""
      |$allNullable
      |dir=D12
      |stat:_rows|4|4|D12/part-*-c000.snappy.parquet
      |stat:k|1|7|D12/part-*-c000.snappy.parquet
      |stat:x|10|70|D12/part-*-c000.snappy.parquet""")
    val v12 = Snapshots.compactZOrdered(spark, t, "k", "x", numFiles = 2)
    check(t, v12, s"""
      |$allNullable
      |dir=D13
      |stat:_rows|2|2|D13/part-*-c000.snappy.parquet
      |stat:_rows|2|2|D13/part-*-c000.snappy.parquet
      |stat:k|1|4|D13/part-*-c000.snappy.parquet
      |stat:k|5|7|D13/part-*-c000.snappy.parquet
      |stat:x|10|40|D13/part-*-c000.snappy.parquet
      |stat:x|51|70|D13/part-*-c000.snappy.parquet""")
    val v13 = Snapshots.commitDelete(spark, t, col("k") === 1)
    check(t, v13, s"""
      |$allNullable
      |dir=D14
      |stat:_rows|1|1|D14/part-*-c000.snappy.parquet
      |stat:_rows|2|2|D14/part-*-c000.snappy.parquet
      |stat:k|4|4|D14/part-*-c000.snappy.parquet
      |stat:k|5|7|D14/part-*-c000.snappy.parquet
      |stat:x|40|40|D14/part-*-c000.snappy.parquet
      |stat:x|51|70|D14/part-*-c000.snappy.parquet""")
    val v14 = Snapshots.commitUpdate(spark, t, col("k") === 5, Seq("x" -> lit(55L)))
    check(t, v14, s"""
      |$allNullable
      |dir=D15
      |stat:_rows|1|1|D15/part-*-c000.snappy.parquet
      |stat:_rows|2|2|D15/part-*-c000.snappy.parquet
      |stat:k|4|4|D15/part-*-c000.snappy.parquet
      |stat:k|5|7|D15/part-*-c000.snappy.parquet
      |stat:x|40|40|D15/part-*-c000.snappy.parquet
      |stat:x|55|70|D15/part-*-c000.snappy.parquet""")

    // write-audit-publish
    val staged = Snapshots.stageOverwrite(spark, t, rows((8, "F", 80), (9, "F", 90)))
    val v15 = Snapshots.publishStaged(spark, t, staged)
    check(t, v15, s"""
      |$allNullable
      |dir=D16
      |stat:_rows|1|1|D16/part-*-c000.snappy.parquet
      |stat:_rows|1|1|D16/part-*-c000.snappy.parquet
      |stat:k|8|8|D16/part-*-c000.snappy.parquet
      |stat:k|9|9|D16/part-*-c000.snappy.parquet
      |stat:x|80|80|D16/part-*-c000.snappy.parquet
      |stat:x|90|90|D16/part-*-c000.snappy.parquet""")

    // shallow clone of the live version, restore of the partitioned one
    val c1 = Snapshots.shallowClone(spark, t, c)
    check(c, c1, s"""
      |$allNullable
      |dir=SRC/D16
      |stat:_rows|1|1|SRC/D16/part-*-c000.snappy.parquet
      |stat:_rows|1|1|SRC/D16/part-*-c000.snappy.parquet
      |stat:k|8|8|SRC/D16/part-*-c000.snappy.parquet
      |stat:k|9|9|SRC/D16/part-*-c000.snappy.parquet
      |stat:x|80|80|SRC/D16/part-*-c000.snappy.parquet
      |stat:x|90|90|SRC/D16/part-*-c000.snappy.parquet""")
    val v16 = Snapshots.restore(spark, t, v7)
    check(t, v16, s"""
      |$allNullable
      |partcol=p
      |part:A=D6
      |part:E=D8
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D8/p=E/part-*.c000.snappy.parquet
      |stat:_rows|1|1|D8/p=E/part-*.c000.snappy.parquet
      |stat:k|1|1|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|2|2|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|4|4|D8/p=E/part-*.c000.snappy.parquet
      |stat:k|5|5|D6/p=A/part-*.c000.snappy.parquet
      |stat:k|7|7|D8/p=E/part-*.c000.snappy.parquet""")
    assert(Snapshots.read(spark, t).select("k", "p", "x").orderBy("k")
      .as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "A", 10L), (2L, "A", 20L), (4L, "E", 40L), (5L, "A", 51L), (7L, "E", 70L)))
  }
}
