package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{normalizeText, shingles, words}
import graft.operators.{Multimodal, TextAnalysis, Vectors, Winnowing}
import graft.sources.Tables

/** Retired formulations of rewritten operators, kept in test scope as
  * the differential witnesses and oracles that Round12/13/14Spec,
  * Round16Spec and LshSpec check the live operators against. None of
  * them is on any query path.
  */
object RetiredFormulations {

  /** The round-15 form of [[Winnowing.fingerprintsOf]]: posexplode
    * every k-gram position, then a doc-partitioned window min. */
  def fingerprintsWindowed(d: DataFrame): DataFrame = {
    val grams = d
      .select(col("doc_id"), normalizeText(col("text")).as("norm"))
      .filter(length(col("norm")) >= Winnowing.K)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), length(col("norm")) - (Winnowing.K - 1)),
          i => md5(col("norm").substr(i, lit(Winnowing.K))))))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("h"))
    val perDoc = Window.partitionBy(col("doc_id"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(Window.currentRow, Winnowing.W - 1)
    grams
      .withColumn("n", count(lit(1)).over(perDoc))
      .withColumn("fp", min(col("h")).over(frame))
      .filter(col("p") <= greatest(col("n") - (Winnowing.W - 1), lit(1)))
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** The round-15 form of [[TextAnalysis.langIdNgramOf]]: three
    * unioned gram scans, with model and totals re-deriving the gram
    * pipeline. */
  def langIdNgramThreePass(docsIn: DataFrame): DataFrame = {
    val d = docsIn
      .select(col("doc_id"), col("lang"),
        substring(normalizeText(col("text")), 1, TextAnalysis.LangIdMaxChars).as("t"))
    val grams = TextAnalysis.LangIdNgrams.map { n =>
      d.select(col("doc_id"), col("lang"), col("t"),
          explode(when(length(col("t")) >= n,
              sequence(lit(1), length(col("t")) - (n - 1)))
            .otherwise(expr("CAST(array() AS ARRAY<INT>)"))).as("i"))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.gramBucket(concat(lit(s"$n|"), expr(s"substring(t, i, $n)")))
            .as("bucket"))
    }.reduce(_ unionByName _)
    val held = pmod(col("doc_id"), lit(TextAnalysis.LangIdTrainMod)) === 0
    val train = grams.filter(!held)
    val model = train.groupBy(col("bucket"), col("lang")).agg(count(lit(1)).as("c"))
      .select(col("bucket"), col("lang").as("cand_lang"), col("c"))
    val totals = train.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      .select(col("lang").as("cand_lang"), col("n_l"))
    val docs = docsIn.select(col("doc_id"), col("lang"))
    val priors = docs.filter(!held)
      .groupBy(col("lang")).agg(count(lit(1)).as("d_l"))
      .crossJoin(broadcast(docs.filter(!held).agg(count(lit(1)).as("d_all"))))
      .select(col("lang").as("cand_lang"),
        (length(bin(expr("d_all div d_l"))) - 1).cast("long").as("prior_bits"))
    val gcounts = grams
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("gcnt"))
    val scored = gcounts
      .crossJoin(broadcast(totals))
      .join(broadcast(model), Seq("bucket", "cand_lang"), "left")
      .withColumn("b_", col("n_l") + lit(TextAnalysis.LangIdBuckets.toLong))
      .withColumn("a_", coalesce(col("c"), lit(0L)) + lit(1L))
      .withColumn("bits", (length(bin(expr("b_ div a_"))) - 1).cast("long"))
      .groupBy(col("doc_id"), col("lang"), col("cand_lang"))
      .agg(sum(col("bits") * col("gcnt")).as("gram_bits"))
      .join(broadcast(priors), Seq("cand_lang"))
      .withColumn("cost", col("gram_bits") + col("prior_bits"))
    scored.groupBy(col("doc_id"), col("lang"))
      .agg(min(struct(col("cost"), col("cand_lang"))).as("m"))
      .select(col("doc_id"), col("lang"),
        col("m.cand_lang").as("detected"),
        held.cast("int").as("heldout"))
      .groupBy(col("heldout"), col("lang"), col("detected"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("heldout"), col("lang"), col("detected"))
  }

  /** The round-15 form of [[TextAnalysis.sourceOverlap]]: the
    * (source, shingle) distinct computed four times and a self-join on
    * the shingle key. */
  def sourceOverlapSelfJoin(spark: SparkSession, dir: String,
                            maxSources: Int = 32): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val sh = d.select(col("source"), explode(
        shingles(words(col("text")), 3)).as("sh"))
      .distinct()
    val hot = sh.groupBy(col("sh"))
      .agg(countDistinct(col("source")).as("n_src"))
      .filter(col("n_src") > maxSources)
      .select(col("sh"))
    val cool = sh.join(broadcast(hot), Seq("sh"), "left_anti")
    val sizes = cool.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val pairs = cool.select(col("sh"), col("source").as("src_a"))
      .join(cool.select(col("sh"), col("source").as("src_b")), Seq("sh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")), Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"), col("sz_a"), col("sz_b"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The round-15 form of [[Multimodal.pHashNearDup]]: an id-level
    * band self-join instead of the value-level one. */
  def pHashNearDupIdJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = Tables.load(spark, dir, "documents").select(col("doc_id").as("media_id"))
      .as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map { id =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(Multimodal.encodePatternPng(id)))
        val hex = Multimodal.aHashOf(img)
        (id, java.lang.Long.parseLong(hex.substring(0, 8), 16),
          java.lang.Long.parseLong(hex.substring(8, 16), 16))
      })
      .toDF("id", "hi", "lo")
      .withColumn("bands", array(
        (col("hi") / 65536L).cast("long"), pmod(col("hi"), lit(65536L)),
        (col("lo") / 65536L).cast("long"), pmod(col("lo"), lit(65536L))))
      .select(col("id"), col("hi"), col("lo"),
        posexplode(col("bands")).as(Seq("band", "bk")))
      .cache()
    val l = h.select(col("band"), col("bk"), col("id").as("da"),
      col("hi").as("hia"), col("lo").as("loa"))
    val r = h.select(col("band"), col("bk"), col("id").as("db"),
      col("hi").as("hib"), col("lo").as("lob"))
    l.join(r, Seq("band", "bk"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"), col("hia"), col("loa"),
        col("hib"), col("lob")).distinct()
      .withColumn("hamming",
        expr("bit_count(hia ^ hib) + bit_count(loa ^ lob)").cast("long"))
      .filter(col("hamming") >= 1 && col("hamming") <= Multimodal.MaxHamming)
      .select(col("da"), col("db"), col("hamming"))
      .orderBy(col("da"), col("db"))
  }

  /** Multi-label public suffixes — the lookup table
    * `Urls.registeredDomain` used before it delegated to the native
    * [[graft.plans.RegisteredDomain]] expression backed by the full
    * Public Suffix List. A host under one of these registers one label
    * DEEPER: the registrable domain of `shop.example.co.uk` is
    * `example.co.uk`, not `co.uk`. Round14Spec checks the full list
    * agrees with this subset on its own cases. */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "me.uk", "ltd.uk",
    "plc.uk", "sch.uk", "nhs.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp", "lg.jp",
    "gr.jp",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "geek.nz", "school.nz",
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.mx", "org.mx", "net.mx", "gob.mx", "edu.mx",
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in", "ac.in",
    "edu.in", "res.in", "gov.in", "nic.in",
    "co.za", "net.za", "org.za", "gov.za", "ac.za", "web.za",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg",
    "com.tr", "net.tr", "org.tr", "gen.tr", "web.tr", "edu.tr", "gov.tr",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "co.kr", "ne.kr", "or.kr", "re.kr", "go.kr", "ac.kr", "pe.kr",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "co.id", "net.id", "or.id", "web.id", "ac.id", "sch.id", "go.id",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "co.il", "net.il", "org.il", "ac.il", "gov.il", "muni.il",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph",
    "co.th", "in.th", "ac.th", "go.th", "or.th", "net.th",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk",
    "com.bd", "net.bd", "org.bd", "edu.bd", "gov.bd",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke")

  /** Exact all-pairs near-dup baseline, the test oracle of
    * [[Vectors.lshNearDupPairs]] (the gated path): collects the
    * whole corpus and broadcasts it, so it is bounded by one JVM's
    * memory and O(n²) work. LshSpec uses it as ground truth to
    * measure the LSH path's recall on small corpora. */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Vectors.emb(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
    val block = vecs.collect().sortBy(_._1).map { case (id, v) =>
      (id, v, math.sqrt(Vectors.dotArr(v, v)))
    }
    val bc = spark.sparkContext.broadcast(block)
    val pairs = vecs.mapPartitions { it =>
      val b = bc.value
      it.flatMap { case (da, va) =>
        val na = math.sqrt(Vectors.dotArr(va, va))
        b.iterator
          .filter(_._1 > da)
          .map { case (db, vb, nb) =>
            (da, db, Vectors.round4(Vectors.dotArr(va, vb) / (na * nb))) }
          .filter(_._3 >= Vectors.NearDupThreshold)
      }
    }.toDF("da", "db", "cos")
    pairs.orderBy(col("da"), col("db"))
  }

  /** Params dropped entirely: the click/campaign trackers every
    * pipeline strips (they identify the REFERRAL, not the resource). */
  val TrackingParamRe = "^(utm_[A-Za-z0-9_]*|fbclid|gclid)="

  /** Uppercase hex codes of the RFC 3986 UNRESERVED characters
    * (ALPHA / DIGIT / `-` `.` `_` `~`) — the escapes §6.2.2.2 says to
    * decode. Everything else (reserved, non-ASCII bytes of multibyte
    * escapes) must STAY escaped: decoding `%2F` would change the
    * path structure. */
  val UnreservedHexRe = "^(4[1-9A-F]|5[0-9A]|6[1-9A-F]|7[0-9A]|3[0-9]|2[DE]|5F|7E)$"

  /** RFC 3986 §6.2.2 percent-encoding normalization: decode
    * unreserved `%XX` escapes, uppercase the hex of the rest, leave
    * malformed escapes (`%4`, `%zz`, trailing `%`) byte-for-byte.
    * Split on `%`; each following piece's first two chars are the
    * candidate hex. Pure array/regexp column expression, restated
    * with the same regexes over DuckDB's `string_split`/
    * `list_transform` in the q266 oracle. */
  def pctNormalize(u: Column): Column = {
    val parts = split(u, "%", -1)
    val rest = transform(slice(parts, lit(2), size(parts) - 1), p => {
      val hex = upper(substring(p, 1, 2))
      val tail = substring(p, 3, Int.MaxValue)
      when(hex.rlike(UnreservedHexRe), concat(decode(unhex(hex), "UTF-8"), tail))
        .when(hex.rlike("^[0-9A-F]{2}$"), concat(lit("%"), hex, tail))
        .otherwise(concat(lit("%"), p))
    })
    concat(element_at(parts, 1), array_join(rest, ""))
  }

  /** The regex formulation of the canonical URL form described on
    * [[graft.functions.Urls]]; Round14Spec diffs `url_parts.canon`
    * against it. */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(pctNormalize(u), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val path = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)", 1)
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val kept = array_join(
      array_sort(filter(split(query, "&"),
        p => p =!= lit("") && !p.rlike(TrackingParamRe))), "&")
    concat(scheme, lit("://"), host,
      when(path === "", lit("/")).otherwise(path),
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }
}
