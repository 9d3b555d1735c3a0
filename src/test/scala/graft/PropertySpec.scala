package graft

import org.apache.spark.sql.functions._

import graft.operators.{Components, Packing}
import graft.sources.ZOrder

/** Randomized (seeded, deterministic) differential properties for the
  * round-2 primitives: each batch of random cases is evaluated in ONE
  * Spark job and compared against an independent driver-side
  * reference implementation. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260812L)

  test("bpeMergeOnce is greedy left-to-right non-overlapping") {
    import graft.operators.TextAnalysis
    def apply(syms: Seq[String], a: String, b: String): Seq[String] =
      Seq(Tuple1(syms)).toDF("syms")
        .select(TextAnalysis.bpeMergeOnce(col("syms"), a, b).as("m"))
        .as[Seq[String]].head()
    // overlapping run of an identical pair: every other position fuses
    assert(apply(Seq("a", "a", "a", "a"), "a", "a") === Seq("aa", "aa"))
    assert(apply(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    // ordinary pair, multiple disjoint occurrences
    assert(apply(Seq("l", "o", "w", "l", "o"), "l", "o") === Seq("lo", "w", "lo"))
    // no occurrence → unchanged; the fused symbol never re-matches
    assert(apply(Seq("x", "y"), "a", "b") === Seq("x", "y"))
    assert(apply(Seq("ab", "b"), "a", "b") === Seq("ab", "b"))
    // reference BPE: merging ("e","r") in c,h,e,r,r,y touches only the
    // first adjacency
    assert(apply(Seq("c", "h", "e", "r", "r", "y"), "e", "r")
      === Seq("c", "h", "er", "r", "y"))
  }

  test("zkeyN generalizes zkey2 and bounds boxes in 3D") {
    import graft.sources.ZOrder
    val pts = Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val df = pts.toDF("x", "y")
    // N = 2 must equal the specialized interleave bit-for-bit
    val mismatch = df.select((ZOrder.zkey2(col("x"), col("y")) =!=
      ZOrder.zkeyN(Seq(col("x"), col("y")))).as("m")).filter(col("m")).count()
    assert(mismatch === 0L)
    // 3D corner bound: every point in a box has its z-value within the
    // corners' z-values
    val box = Seq((10L, 1000L), (20L, 900L), (30L, 800L))
    val inside = Seq.fill(500)(box.map { case (l, h) =>
      l + math.abs(rnd.nextLong()) % (h - l + 1) })
    val zlo = ZOrder.zvalueN(box.map(_._1))
    val zhi = ZOrder.zvalueN(box.map(_._2))
    inside.foreach { p =>
      val z = ZOrder.zvalueN(p)
      assert(z >= zlo && z <= zhi, s"point $p z=$z outside [$zlo,$zhi]")
    }
  }

  test("zkey2 matches the reference interleave and is injective on 16-bit domains") {
    def ref(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val cases = Seq.fill(500)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)).distinct
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zkey2(col("x"), col("y")).as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (x, y) => assert(got((x, y)) === ref(x, y), s"($x,$y)") }
    // injective: distinct (x, y) pairs map to distinct keys
    assert(got.values.toSet.size === cases.size)
  }

  test("packByPrefix equals the sequential reference on random sparse corpora") {
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed)
      val docs = Seq.fill(200)((r.nextInt(100000).toLong, (r.nextInt(400) + 1).toLong))
        .distinctBy(_._1)
      val budget = 128L
      val bucketSize = Seq(3L, 97L, 10000L)(seed % 3)
      val got = Packing.packByPrefix(
          docs.toDF("doc_id", "tokens").repartition(7), "doc_id", "tokens", budget, bucketSize)
        .select("doc_id", "start_offset", "seq_id", "offset_in_seq")
        .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
      var running = 0L
      docs.sortBy(_._1).foreach { case (id, toks) =>
        assert(got(id) === ((running, running / budget, running % budget)),
          s"seed $seed doc $id")
        running += toks
      }
    }
  }

  test("minLabel equals brute-force union-find on random graphs (multi-seed)") {
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed * 7919)
      val n = 60
      val edges = Seq.fill(70) {
        val a = r.nextInt(n).toLong; val b = r.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val parent = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val root = find(parent(x)); parent(x) = root; root }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).toSet.map((i: Long) => i -> find(i)).toMap
      val got = Components.minLabel(edges.toDF("da", "db"))
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(got === expected, s"seed $seed")
    }
  }

  test("chunk windows cover [1,n] exactly with stride starts and bounded lengths") {
    val size = graft.operators.TextAnalysis.ChunkSize
    val stride = graft.operators.TextAnalysis.ChunkStride
    // random token counts incl. the edges: 0-ish (empty text → 1 token), < size, = size, size+1
    val ns = (Seq(1, size - 1, size, size + 1, 2 * stride) ++
      Seq.fill(20)(rnd.nextInt(300) + 1)).distinct
    val dir = SparkSpec.tempDir("graft_propchunk").toString
    ns.zipWithIndex.map { case (n, i) =>
        (i.toLong, (1 to n).map(t => s"w$t").mkString(" "), "en", "s", n.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.TextAnalysis.chunkDocuments(spark, dir)
      .select(col("doc_id"), col("start"), col("chunk_len"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    ns.zipWithIndex.foreach { case (n, i) =>
      val cs = rows(i.toLong).sortBy(_._2)
      // starts are exactly the stride grid 1, 1+stride, ... ≤ n
      assert(cs.map(_._2).toSeq === (1 to n by stride).map(_.toLong), s"n=$n")
      // every length in [1, size]; windows stay inside the doc; full coverage
      assert(cs.forall(c => c._3 >= 1 && c._3 <= size && c._2 + c._3 - 1 <= n), s"n=$n")
      assert(cs.map(c => c._2 + c._3 - 1).max === n.toLong, s"n=$n")
      val covered = cs.flatMap(c => c._2 to (c._2 + c._3 - 1)).toSet
      assert(covered === (1L to n.toLong).toSet, s"n=$n")
    }
  }

  test("quantizeInt8 codes are bounded and dequantize within half a step") {
    val vecs = (0 until 30).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2f - 1f), 0))
    val dir = SparkSpec.tempDir("graft_propq").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.operators.Vectors.quantizeInt8(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("vmin"), r.getAs[Double]("vmax"),
          r.getAs[Long]("q0"), r.getAs[Long]("q_max"), r.getAs[Long]("q_sum"))).toMap
    vecs.foreach { case (id, v, _) =>
      val d = v.map(_.toDouble)
      val (mn, mx) = (d.min, d.max)
      val codes = d.map(x => math.floor((x - mn) * 255.0 / (mx - mn) + 0.5).toLong)
      val (gmn, gmx, q0, qmax, qsum) = got(id)
      assert(gmn === mn && gmx === mx, s"vec $id extrema")
      assert(q0 === codes.head && qsum === codes.sum && qmax === codes.max, s"vec $id codes")
      assert(codes.forall(c => c >= 0L && c <= 255L), s"vec $id bounds")
      // dequantization error ≤ half a quantization step
      val step = (mx - mn) / 255.0
      d.zip(codes).foreach { case (x, c) =>
        assert(math.abs(mn + c * step - x) <= step / 2 + 1e-12, s"vec $id err")
      }
    }
  }

  test("weightedKey matches the driver-side md5-max reference for random weights") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cases = Seq.fill(100)((rnd.nextLong().abs % 1000000L, rnd.nextInt(6) + 1)).distinct
    val got = cases.toDF("id", "w")
      .select(col("id"), col("w"),
        graft.operators.Sampling.weightedKey(col("id"), col("w")).as("k"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    cases.foreach { case (id, w) =>
      assert(got((id, w)) === (1 to w).map(j => md5hex(s"$j|$id")).max, s"($id,$w)")
    }
  }
}
