package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.functions.TextFunctions._

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline. Four families: exact (hash group-by),
  * MinHash+LSH (shingle → minhash signature → band → bucket-join →
  * exact-Jaccard verify), SimHash (bitwise majority of token hashes,
  * byte-banded), and n-gram Jaccard via shingle inverted index.
  *
  * Scale posture (100 TB): every candidate-generation step is a
  * shuffle-on-signature (band key / shingle / simhash byte), never an
  * all-pairs cross join; exact verification only runs on the candidate
  * set. Hot-shingle frequency capping bounds the inverted-index join
  * blowup on skewed shingles.
  *
  * Cache lifetime contract: operators here cache shared intermediates
  * (shingle rows, signatures) that the RETURNED plan still references,
  * so they cannot unpersist before returning. The Verify/Bench harness
  * clears the Spark cache after every query; library callers should
  * `spark.catalog.clearCache()` (or unpersist) once the result is
  * materialized. The same contract applies to [[CorpusPipeline.clean]],
  * [[Vectors.lshNearDupPairs]] and [[Relational.setOps]].
  */
object Dedup {
  val NumHashes = 12
  val Bands = 4 // 3 rows per band → catches Jaccard ≳ 0.5 reliably
  val JaccardThreshold = 0.5

  /** doc_id + distinct word-3-gram shingle rows over *normalized*
    * text (lowercase, punctuation stripped) — case/punct variants of
    * the same content shingle identically.
    *
    * The words array is materialized as its own projection BEFORE the
    * shingle lambda: higher-order functions re-evaluate free (non
    * lambda-bound) subexpressions on every element_at call, so
    * inlining `words(normalizeText(text))` re-ran the regex+split
    * chain ~150× per row (43× slower end-to-end, measured at sf0.1).
    * CollapseProject keeps the split projected because the expression
    * is non-cheap with multiple references. */
  private def shingleRows(spark: SparkSession, dir: String): DataFrame =
    shingleRowsOf(Tables.loadSpread(spark, dir, "documents"))

  /** Shingle rows from an already-loaded documents DataFrame — lets a
    * composing pipeline share one corpus scan across stages. */
  def shingleRowsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(normalizeText(col("text"))).as("w"))
      .select(col("doc_id"), explode(shingles(col("w"), 3)).as("s"))

  /** Exact dedup: canonical id per normalized-text hash
    * (hash group-by; one shuffle on the 128-bit key). */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    d.select(col("doc_id"), md5(normalizeText(col("text"))).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_count"))
      .orderBy(col("canonical_id"))
  }

  /** Tokens per "line" for [[lineDedup]]: the fixture corpus is
    * single-line, so lines are fixed token windows — the same span
    * granularity C4 uses (three-sentence spans ≈ tens of tokens). */
  val LineDedupTokens = 10

  /** Corpus-wide LINE-level dedup (the C4 / RefinedWeb / Dolma line
    * dedup): split every document into lines, keep only the FIRST
    * occurrence (min (doc_id, idx)) of any line that repeats anywhere
    * in the corpus, reassemble each document from its kept lines.
    * Boilerplate ("sign in to continue", cookie banners, nav crumbs)
    * repeats across millions of pages and line dedup removes it
    * in-place without dropping the documents that carry it.
    *
    * Scale shape: one shuffle on the line string (group-by with
    * map-side partial agg → per-line count + keeper), and the join
    * back ships ONLY repeated lines (`n_occ >= 2` — at crawl scale the
    * repeated-line set is the boilerplate tail, orders of magnitude
    * smaller than the corpus; AQE broadcasts it when it fits). A
    * window over all line occurrences would materialize the whole
    * exploded corpus per partition — the group-by keeps the partial
    * aggregation map-side. The reassembly group-by re-shuffles on
    * doc_id, which the upstream explode preserved as a prefix of its
    * partitioning in practice.
    *
    * Span granularity: fixed [[LineDedupTokens]]-token windows over
    * whitespace tokens (the fixture corpus is single-line; a
    * newline-rich corpus would pre-split on '\n' upstream and feed
    * each physical line through the same operator) — stated
    * identically in the oracle. */
  def lineDedup(docs: DataFrame, k: Int = LineDedupTokens): DataFrame = {
    val lines = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), ceil(size(col("toks")) / lit(k.toDouble)).cast("int") - 1),
          i => array_join(slice(col("toks"), i * k + 1, lit(k)), " "))))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "line")
    val dups = lines.groupBy(col("line"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("i"))).as("keeper"))
      .filter(col("n_occ") >= 2)
      .select(col("line"), col("keeper"))
    lines.join(dups, Seq("line"), "left")
      .withColumn("kept", col("keeper").isNull ||
        (col("doc_id") === col("keeper.doc_id") && col("i") === col("keeper.i")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(when(col("kept"),
            struct(col("i"), col("line"))))), x => x("line")),
          " ").as("cleaned"))
      .orderBy(col("doc_id"))
  }

  /** Raw per-document minhash components (doc_id, h0..h11) — the
    * signature BEFORE banding; [[signatureJaccard]] compares these
    * component-wise to estimate Jaccard without touching shingles. */
  private[graft] def minhashRawFrom(sh: DataFrame): DataFrame = {
    val hashes = (0 until NumHashes).map(i => minhashAgg(col("s"), i).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(hashes.head, hashes.tail: _*)
  }

  /** Band keys (doc_id, band0..band3) from raw signatures. */
  private[graft] def bandsOf(raw: DataFrame): DataFrame = {
    val bands = (0 until Bands).map { b =>
      md5(concat((0 until NumHashes / Bands)
        .map(r => col(s"h${b * (NumHashes / Bands) + r}")): _*)).as(s"band$b")
    }
    raw.select(col("doc_id") +: bands: _*)
  }

  private[graft] def minhashSignaturesFrom(sh: DataFrame): DataFrame =
    bandsOf(minhashRawFrom(sh))
  // NB a "map-side" alternative (12 array_min-over-transform lambdas on
  // per-doc shingle ARRAYS, no explode/shuffle) measured 40x SLOWER at
  // sf0.1 (23 s vs 0.6 s): each array_min(transform(sa, …)) projection
  // re-evaluates the free shingle-array expression, and no projection
  // barrier survives 12 sibling references. The explode + 12-min-agg
  // shuffle is ~0.6 s of a 2.5 s query — not the bottleneck.

  /** MinHash+LSH near-dup pairs: bucket-join per band (shuffle on the
    * band signature, never all-pairs), union candidates, then verify
    * with exact shingle Jaccard ≥ 0.5. The shingle set is computed
    * ONCE and cached — signatures and verification share the scan
    * (one corpus read total, the difference between 1× and 2× I/O at
    * 100 TB). */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshFrom(shingleRows(spark, dir))

  /** As [[minhashLsh]] but over caller-provided shingle rows (shared
    * corpus scan). `ordered = false` (round 16, guide §2.4 — "an
    * orderBy used only to make output deterministic") skips the final
    * global sort for consumers that feed the pairs into an
    * order-insensitive stage (connected components / aggregation):
    * q31/q41/q93/q159/q204/q227 persist-and-reduce the pair SET, so
    * the range-partition Exchange + sort bought nothing. The declared
    * pair queries (q15/q70) keep the ordered default. */
  def minhashLshFrom(shingleRows: DataFrame, ordered: Boolean = true): DataFrame = {
    val sh = shingleRows.cache()
    val sig = minhashSignaturesFrom(sh).cache()
    val candidates = (0 until Bands).map { b =>
      val l = sig.select(col("doc_id").as("da"), col(s"band$b").as("bk"))
      val r = sig.select(col("doc_id").as("db"), col(s"band$b").as("bk"))
      l.join(r, Seq("bk")).filter(col("da") < col("db")).select(col("da"), col("db"))
    }.reduce(_ unionByName _).distinct()
    verifyJaccardOn(sh, candidates, ordered)
  }

  /** Exact Jaccard for a set of candidate pairs via the shingle
    * inverted index. */
  private def verifyJaccardOn(sh: DataFrame, candidates: DataFrame,
                              ordered: Boolean): DataFrame = {
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = candidates
      .join(sh.select(col("doc_id").as("da"), col("s")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
    val verified = inter
      .join(counts.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(counts.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .select(col("da"), col("db"),
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
    if (ordered) verified.orderBy(col("da"), col("db")) else verified
  }

  /** Document-frequency cap for the inverted-index self-join — the
    * knob that keeps q17 alive on a skewed corpus (see
    * [[cappedShinglesOf]]). Mirrored verbatim in the DuckDB oracle. */
  val HotShingleCap = 20

  /** Shingles with hot shingles removed: a shingle appearing in more
    * than `cap` documents generates O(cap²) candidate pairs in the
    * inverted-index self-join — at corpus scale a handful of
    * boilerplate shingles would dominate the join (a single shingle in
    * d docs is d²/2 join rows on ONE key: a never-finishing skewed
    * shuffle). Dropping them loses almost no signal (a shingle shared
    * by thousands of docs identifies nothing) and bounds the blowup to
    * cap² per shingle. The df-aggregate is itself map-side combinable;
    * the hot set is tiny and broadcast into an anti-join. */
  def cappedShinglesOf(sh: DataFrame, cap: Int): DataFrame = {
    val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(col("s"))
    sh.join(broadcast(hot), Seq("s"), "left_anti")
  }

  def cappedShingles(spark: SparkSession, dir: String, cap: Int): DataFrame =
    cappedShinglesOf(shingleRows(spark, dir), cap)

  /** n-gram Jaccard near-dup pairs via the shingle inverted index
    * itself (pairs sharing ≥1 shingle are the candidates; exact
    * Jaccard filter). Shingle sets are capped at [[HotShingleCap]]
    * docs — Jaccard is computed over the CAPPED sets on both engines
    * (intersection and per-doc counts), so the bound is part of the
    * operator's semantics, not a lossy approximation bolted on. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = cappedShinglesOf(shingleRows(spark, dir), HotShingleCap).cache()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.select(col("doc_id").as("da"), col("s"))
      .join(sh.select(col("doc_id").as("db"), col("s")), Seq("s"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
    inter
      .join(counts.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(counts.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .select(col("da"), col("db"),
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy(col("da"), col("db"))
  }

  /** Asymmetric containment near-dup: directed pairs (da, db) where
    * at least `num`/`den` of da's shingles also appear in db —
    * catching the inclusion duplicates symmetric Jaccard misses (a
    * short document quoted whole inside a long one has tiny Jaccard
    * but containment ≈ 1; every pretraining corpus is full of them:
    * quotes, syndication, boilerplate-plus-article). Same capped
    * inverted index and skew bound as [[ngramJaccard]]; the filter is
    * integer-exact (`i·den ≥ na·num`), the reported score a single
    * rounded division. Docs with < `minShingles` capped shingles are
    * suppressed (trivially contained). */
  def containment(spark: SparkSession, dir: String,
                  cap: Int = HotShingleCap, minShingles: Int = 5,
                  num: Int = 8, den: Int = 10): DataFrame = {
    val sh = cappedShinglesOf(shingleRows(spark, dir), cap).cache()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("na"))
    val inter = sh.select(col("doc_id").as("da"), col("s"))
      .join(sh.select(col("doc_id").as("db"), col("s")), Seq("s"))
      .filter(col("da") =!= col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
    inter
      .join(counts.select(col("doc_id").as("da"), col("na")), Seq("da"))
      .filter(col("i") * den >= col("na") * num && col("na") >= minShingles)
      .select(col("da"), col("db"), col("na"), col("i"),
        round(col("i").cast("double") / col("na"), 4).as("containment"))
      .orderBy(col("da"), col("db"))
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥1
    * normalized 3-gram shingle with a held-out eval set — the overlap
    * check every pretraining pipeline runs before training (real
    * pipelines use 8-13-gram windows; the machinery is identical).
    * The eval side's distinct shingles are tiny and broadcast; the
    * corpus side is the one shared shingle scan. Returns the
    * contaminated doc ids with their overlapping-shingle counts. */
  def contaminationCheck(spark: SparkSession, dir: String, evalMod: Int = 50): DataFrame = {
    val sh = shingleRows(spark, dir).cache()
    val evalShingles = sh.filter(col("doc_id") % evalMod === 0)
      .select(col("s")).distinct()
    sh.filter(col("doc_id") % evalMod =!= 0)
      .join(broadcast(evalShingles), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Map-only 64-bit SimHash signatures via the native codegen'd
    * [[graft.plans.SimHash64]] expression — the zero-shuffle
    * replacement for [[simhashSignatures]]'s sum-aggregate shape: the
    * whole signature is computed inside the scan's codegen stage, so
    * the token rows never materialize, never shuffle, and the plan is
    * a bare project over the parquet scan. Same bit convention as the
    * 32-bit form (its signature is this one's first 8 hex chars),
    * asserted by Round6Spec. */
  def simhash64Signatures(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"),
        call_function("simhash64", array_distinct(words(col("text"))))
          .as("simhash64"))
      .orderBy(col("doc_id"))

  /** SimHash: 32-bit signature — bit b is the majority vote of bit b
    * of md5(token) across the document's distinct tokens. Computed as
    * 32 sum-aggregates over token rows (one shuffle). Near-dup pairs:
    * byte-band blocking (equal byte 0..3) then Hamming distance ≤ 3. */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(words(col("text")))).as("t"))
      .withColumn("h", md5(col("t")))
    // bit b of the md5: nibble = hex digit at position b/4, bit = b%4
    def bit(b: Int): Column =
      shiftright(conv(substring(col("h"), b / 4 + 1, 1), 16, 10).cast("int"), b % 4)
        .bitwiseAND(lit(1))
    val votes = (0 until 32).map(b => sum(when(bit(b) === 1, 1).otherwise(-1)).as(s"v$b"))
    val sig = toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val simhash = (0 until 32).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    sig.select(col("doc_id"), simhash.as("simhash"))
  }

  /** Band-bucket member cap for [[simhash]] — buckets past the cap
    * (boilerplate clusters, degenerate signatures) are dropped whole,
    * the same documented recall tradeoff as [[minhashLshCapped]]. */
  val SimhashBandCap = 20

  /** SimHash near-dup pairs, Manku-style (WWW'07) over the NATIVE
    * 64-bit signature: 4 bands × 16 bits — Hamming ≤ 3 differing bits
    * can touch at most 3 of the 4 bands, so every qualifying pair
    * collides EXACTLY in at least one band (lossless candidate
    * generation for the threshold), and 2¹⁶ buckets per band keep
    * in-bucket candidate joins bounded as the corpus grows. The
    * previous 8-bit byte-banding of the 32-bit signature had a FIXED
    * 256-bucket fan-in per band — in-bucket pairs grew N²/256
    * (measured ×199 wall at ×10 data); 16-bit bands measured back at
    * ~linear. Buckets past [[SimhashBandCap]] members are dropped
    * whole (the q70 cap discipline). Signatures are the map-only
    * codegen'd `simhash64` — no 32-sum aggregate shuffle; Hamming is
    * computed per hex nibble, so no engine ever builds a signed
    * 64-bit value (top-bit signatures would overflow DuckDB's strict
    * BIGINT). */
  def simhash(spark: SparkSession, dir: String,
              bandCap: Int = SimhashBandCap): DataFrame = {
    val sig = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"),
        call_function("simhash64", array_distinct(words(col("text")))).as("h"))
      .cache()
    val banded = sig.select(col("doc_id"), col("h"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("k"), substring(col("h"), k * 4 + 1, 4).as("band"))): _*)).as("bk"))
      .select(col("doc_id"), col("h"), col("bk.k"), col("bk.band"))
    val hot = banded.groupBy(col("k"), col("band"))
      .agg(count(lit(1)).as("c")).filter(col("c") > bandCap)
      .select(col("k"), col("band"))
    val ok = banded.join(hot, Seq("k", "band"), "left_anti")
    val l = ok.select(col("doc_id").as("da"), col("h").as("ha"), col("k"), col("band"))
    val r = ok.select(col("doc_id").as("db"), col("h").as("hb"), col("k"), col("band"))
    val hamming = (0 until 16).map { i =>
      bit_count(conv(substring(col("ha"), i + 1, 1), 16, 10).cast("long")
        .bitwiseXOR(conv(substring(col("hb"), i + 1, 1), 16, 10).cast("long")))
    }.reduce(_ + _)
    l.join(r, Seq("k", "band")).filter(col("da") < col("db"))
      .select(col("da"), col("db"), hamming.cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("da"), col("db"))
  }

  /** Bloom-filter bit width (2^20 bits) and hash count for
    * [[bloomContamination]]. 5 hex digits of md5 are exactly 20 bits,
    * so each position is a substring-to-int conversion — no modulo,
    * portable to any engine with md5. */
  val BloomBits = 20
  val BloomK = 3

  /** Bit position j (0-based) of a shingle: hex digits [5j+1, 5j+5] of
    * its md5, as an integer in [0, 2^20). */
  def bloomPos(s: Column, j: Int): Column =
    conv(substring(md5(s), j * 5 + 1, 5), 16, 10).cast("long")

  /** Bloom-style decontamination — the at-scale variant of
    * [[contaminationCheck]]: instead of joining corpus shingles
    * against the eval shingle STRINGS, both sides hash each shingle to
    * [[BloomK]] bit positions in a 2^[[BloomBits]]-bit space; a corpus
    * shingle is a candidate hit iff ALL its positions are set by some
    * eval shingle. Exactly a Bloom filter probe: false positives
    * possible (deterministic, identical on both engines — gated
    * exactly), false negatives impossible. At 100 TB the probe side
    * broadcasts a bounded bit set (≤2^20 positions regardless of eval
    * size) instead of the eval shingle strings, and the corpus side
    * ships integers, not text. */
  def bloomContamination(spark: SparkSession, dir: String, evalMod: Int = 50): DataFrame = {
    val sh = shingleRows(spark, dir).cache()
    val positions = (0 until BloomK).map(j => bloomPos(col("s"), j))
    val bitset = sh.filter(col("doc_id") % evalMod === 0)
      .select(explode(array(positions: _*)).as("pos")).distinct()
    val corpusPos = sh.filter(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id"), col("s"),
        explode(array(positions: _*)).as("pos"))
    corpusPos.join(broadcast(bitset), Seq("pos"))
      .groupBy(col("doc_id"), col("s"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === BloomK)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidate_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Incremental-ingest dedup — the cross-run pattern: a new crawl
    * batch is deduplicated against the fingerprints of everything
    * already ingested, and within itself, before entering the corpus.
    * Here the "historical" store is the docs with doc_id % histMod <
    * histKeep and the batch is the rest (deterministic split so the
    * oracle can mirror it); in production the historical side is the
    * persistent fingerprint table that [[exact]] maintains.
    *
    * Shape at 100 TB: one shared corpus scan (cached) feeds both
    * sides; the anti-join shuffles on the 128-bit fingerprint — the
    * natural key, uniformly distributed by construction (no skew
    * possible); within-batch dedup is the same keyed min-aggregate.
    * The [[bloomContamination]] bit-set machinery runs as a broadcast
    * pre-filter so only probable-duplicate fingerprints reach the
    * shuffle. */
  def incrementalIngest(spark: SparkSession, dir: String,
                        histMod: Int = 10, histKeep: Int = 8): DataFrame = {
    val f = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), md5(normalizeText(col("text"))).as("fp"))
      .cache()
    val hist = f.filter(col("doc_id") % histMod < histKeep)
      .select(col("fp")).distinct()
    val inc = f.filter(col("doc_id") % histMod >= histKeep)
    // Bloom pre-filter (EXACT rewrite of a plain fp left_anti join —
    // same output, gated by the same oracle): the historical store
    // collapses to a ≤2^20-position bit set that broadcasts; incoming rows
    // missing ANY position are definitely novel and never enter the
    // anti-join shuffle. Only the possible-duplicates (bloom hits —
    // true dups + deterministic false positives) shuffle against the
    // store. When the store dwarfs the batch this turns a
    // store-sized shuffle into a store-sized *local* bit-set scan
    // plus a batch-hit-sized shuffle.
    val positions = (0 until BloomK).map(j => bloomPos(col("fp"), j))
    val bits = hist
      .select(explode(array(positions: _*)).as("pos")).distinct()
      .withColumn("hit", lit(1))
    val probed = inc
      .select(col("doc_id"), col("fp"), explode(array(positions: _*)).as("pos"))
      .join(broadcast(bits), Seq("pos"), "left")
      .groupBy(col("doc_id"), col("fp"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
    val definitelyNovel = probed.filter(col("hits") < BloomK)
      .select(col("doc_id"), col("fp"))
    val possibleDup = probed.filter(col("hits") === BloomK)
      .select(col("doc_id"), col("fp"))
    definitelyNovel.unionByName(possibleDup.join(hist, Seq("fp"), "left_anti"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** Band-bucket cap for [[minhashLshCapped]] — the LSH analog of
    * [[HotShingleCap]]: a band signature shared by b docs yields
    * O(b²) candidate pairs on ONE join key; boilerplate clusters at
    * corpus scale make that a never-finishing skewed shuffle. Buckets
    * over the cap are dropped (their members are caught by the other
    * bands or are exact-dup clusters better handled by [[exact]]). */
  val BandBucketCap = 50

  /** MinHash+LSH with hot band buckets capped — the cluster-scale
    * gated path: per band, bucket sizes are aggregated first (map-side
    * combinable) and buckets larger than `cap` are anti-joined away
    * (the hot set is tiny and broadcast), so the pair join's worst key
    * fans out at most cap². Semantics (cap included) are mirrored in
    * the oracle. */
  def minhashLshCapped(spark: SparkSession, dir: String,
                       cap: Int = BandBucketCap,
                       ordered: Boolean = true): DataFrame =
    minhashLshCappedFrom(shingleRows(spark, dir), cap, ordered)

  /** As [[minhashLshCapped]] but over caller-provided shingle rows
    * (shared corpus scan; also the seam the boilerplate-cluster bound
    * test drives). `ordered` as in [[minhashLshFrom]]. */
  def minhashLshCappedFrom(shingleRows: DataFrame,
                           cap: Int = BandBucketCap,
                           ordered: Boolean = true): DataFrame = {
    val sh = shingleRows.cache()
    val sig = minhashSignaturesFrom(sh).cache()
    verifyJaccardOn(sh, cappedBandCandidates(sig, cap), ordered)
  }

  /** Edit-distance near-dup: the THIRD verification lens over the
    * same capped LSH candidates (Jaccard = set overlap, SimHash =
    * bit distance, Levenshtein = character edits — each catches
    * rewrites the others miss, e.g. a global token substitution
    * keeps edit distance low while cratering shingle Jaccard).
    * Candidates come from the hot-band-capped banding, so the
    * quadratic DP (O(|a|·|b|) per pair) runs on candidate-count
    * pairs, never the corpus; Spark's built-in `levenshtein` is
    * codegen'd and matches DuckDB's unit-cost classic definition
    * exactly on the normalized ASCII text. */
  def editDistanceNearDup(spark: SparkSession, dir: String, maxDist: Int = 64,
                          cap: Int = BandBucketCap): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val norm = d.select(col("doc_id"), normalizeText(col("text")).as("t"))
    val sh = shingleRowsOf(d).cache()
    val cand = cappedBandCandidates(minhashSignaturesFrom(sh), cap)
    val out = cand
      .join(norm.select(col("doc_id").as("da"), col("t").as("ta")), Seq("da"))
      .join(norm.select(col("doc_id").as("db"), col("t").as("tb")), Seq("db"))
      .select(col("da"), col("db"),
        levenshtein(col("ta"), col("tb")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("da"), col("db"))
    sh.unpersist()
    out
  }

  /** Exact duplicated-SPAN coverage (the within/cross-document
    * substring-dedup measure of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499 — their
    * ExactSubstr, at token-n-gram resolution instead of a suffix
    * array): for every document, how many token positions are covered
    * by at least one length-`n` token window that occurs more than
    * once in the corpus. Positional n-grams are hashed and counted in
    * one corpus-wide shuffle; surviving positions are merged into
    * maximal islands per document with an ordered window (running max
    * of span ends), so coverage is an exact interval union, not a
    * double-counted sum. Returns docs with any duplicated span:
    * (doc_id, n_toks, dup_tokens, dup_frac).
    *
    * Scale posture: the only corpus-sized shuffles are the n-gram
    * count (keyed on the 128-bit hash — uniform for distinct
    * n-grams, and partial aggregation absorbs repeats of a hot one)
    * and the semi-join back, which is SALTED across
    * [[SpanJoinSalts]] sub-keys so a corpus-wide boilerplate n-gram
    * cannot concentrate its occurrences in one reduce task; the
    * island window partitions per document (bounded by doc length).
    * A suffix-array formulation would find arbitrary-length
    * duplicates but cannot shard by hash; fixed-n windows are the
    * standard distributed approximation (coverage is exact for spans
    * ≥ n). */
  val SpanJoinSalts = 16

  def duplicatedSpans(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), words(normalizeText(col("text"))).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("n_toks"))
      .filter(col("n_toks") >= n)
    // (doc, 0-based start pos, md5 of the n-token window)
    val sh = d.select(col("doc_id"), col("n_toks"),
        posexplode(transform(
          sequence(lit(1), size(col("w")) - (n - 1)),
          i => md5(concat_ws(" ",
            (0 until n).map(k => element_at(col("w"), i + lit(k))): _*))))
          .as(Seq("pos", "h")))
      .cache()
    val dup = sh.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"))
    // SALTED semi-join back: the n-gram COUNT above is skew-immune
    // (partial aggregation folds a hot hash to one row per map
    // partition), but a plain semi-join on h would route every
    // occurrence of a boilerplate n-gram ("lorem ipsum …" repeated
    // 10^5 times corpus-wide) into ONE reduce task. Salting the fat
    // side by a hash of its own (doc, pos) identity and replicating
    // the one-row-per-hash dup side across all SpanJoinSalts splits
    // the hot key evenly; output rows are identical (each sh row
    // meets exactly its own (h, salt) replica), so the oracle needs
    // no mirror.
    val dupS = dup.withColumn("salt",
      explode(sequence(lit(0), lit(SpanJoinSalts - 1))))
    val covered = sh
      .withColumn("salt", pmod(xxhash64(col("doc_id"), col("pos")),
        lit(SpanJoinSalts.toLong)).cast("int"))
      .join(dupS, Seq("h", "salt"), "left_semi")
      .drop("salt")
    // island merge: a new island starts where this span's start lies
    // beyond every previous span's end (all spans have length n, so
    // prev max end = prev max pos + n-1)
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = covered
      .withColumn("brk",
        when(col("pos") > coalesce(max(col("pos")).over(wPrev) + (n - 1),
          lit(-1L)), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("n_toks")).as("n_toks"),
        (max(col("pos")) + (n - 1) - min(col("pos")) + 1).as("len"))
    islands.groupBy(col("doc_id"))
      .agg(min(col("n_toks")).cast("long").as("n_toks"),
        sum(col("len")).as("dup_tokens"))
      .select(col("doc_id"), col("n_toks"), col("dup_tokens"),
        (col("dup_tokens").cast("double") / col("n_toks")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Signature-estimated vs exact Jaccard over the hot-band-capped
    * candidate pairs: the MinHash estimator is the fraction of equal
    * signature components (an unbiased estimate of Jaccard — the
    * property LSH banding relies on), reported next to the exact
    * shingle Jaccard so the estimator's error is measurable per pair.
    * This is the at-scale similarity path: once signatures exist,
    * estimation touches 12 fixed-width strings per pair instead of
    * the shingle inverted index — the exact column here is the audit,
    * not the product. Candidates with NO shared shingle (possible
    * band collisions) report exact 0 via the left join.
    *
    * n_equal is an integer (0..12) and est_sim its single double
    * division — both engine-exact; the exact Jaccard uses the same
    * rounding contract as [[minhashLsh]]. */
  def signatureJaccard(spark: SparkSession, dir: String,
                       cap: Int = BandBucketCap): DataFrame = {
    val sh = shingleRows(spark, dir).cache()
    val raw = minhashRawFrom(sh).cache()
    val cand = cappedBandCandidates(bandsOf(raw), cap)
    val eq = (0 until NumHashes)
      .map(i => when(col(s"ha$i") === col(s"hb$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val aSide = raw.select(col("doc_id").as("da") +:
      (0 until NumHashes).map(i => col(s"h$i").as(s"ha$i")): _*)
    val bSide = raw.select(col("doc_id").as("db") +:
      (0 until NumHashes).map(i => col(s"h$i").as(s"hb$i")): _*)
    val est = cand.join(aSide, Seq("da")).join(bSide, Seq("db"))
      .select(col("da"), col("db"), eq.as("n_equal"))
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("da"), col("s")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
    est
      .join(inter, Seq("da", "db"), "left")
      .join(counts.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(counts.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .select(col("da"), col("db"), col("n_equal"),
        (col("n_equal").cast("double") / lit(NumHashes.toDouble)).as("est_sim"),
        round(coalesce(col("i"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("i"), lit(0L))), 4).as("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  /** b-bit MinHash (Li & König, WWW 2010): keep only the lowest b=4
    * bits — one hex nibble — of each of the [[NumHashes]] registers.
    * The signature shrinks 8× (12 nibbles = 6 bytes vs the full md5
    * minima), and at 100 TB the register file IS the dedup index's
    * resident footprint, so the compression is the difference between
    * an in-memory index and a spilled one. Two independent minima
    * collide in their low b bits with probability J + (1−J)/2ᵇ, so
    * the unbiased estimate from R matching nibbles of n is
    * Ĵ = (R/n − 2⁻ᵇ)/(1 − 2⁻ᵇ) = (16R − 12)/180 for n=12, b=4 —
    * computed in exact integer basis points (numerator clamped at 0
    * BEFORE the division: floor-vs-truncate of a negative quotient is
    * exactly the kind of cross-engine divergence this engine bans),
    * next to the exact Jaccard so the gate audits the estimator's
    * error pair by pair. Candidates come from the same capped band
    * join as every dedup operator — never all-pairs. */
  def bbitMinhash(spark: SparkSession, dir: String,
                  cap: Int = BandBucketCap): DataFrame = {
    val sh = shingleRows(spark, dir).cache()
    val raw = minhashRawFrom(sh).cache()
    val cand = cappedBandCandidates(bandsOf(raw), cap)
    // lowest 4 bits of a register = the md5 string's last hex char
    val rColl = (0 until NumHashes)
      .map(i => when(substring(col(s"ha$i"), 32, 1) ===
        substring(col(s"hb$i"), 32, 1), 1L).otherwise(0L))
      .reduce(_ + _)
    val aSide = raw.select(col("doc_id").as("da") +:
      (0 until NumHashes).map(i => col(s"h$i").as(s"ha$i")): _*)
    val bSide = raw.select(col("doc_id").as("db") +:
      (0 until NumHashes).map(i => col(s"h$i").as(s"hb$i")): _*)
    val coll = cand.join(aSide, Seq("da")).join(bSide, Seq("db"))
      .select(col("da"), col("db"), rColl.as("r_coll"))
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("da"), col("s")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
    coll
      .join(inter, Seq("da", "db"), "left")
      .join(counts.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(counts.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .select(col("da"), col("db"), col("r_coll"),
        expr("greatest(0L, 16 * r_coll - 12) * 10000 div 180").as("est_bp"),
        expr("10000 * coalesce(i, 0L) div (na + nb - coalesce(i, 0L))").as("true_bp"))
      .orderBy(col("da"), col("db"))
  }

  /** Minimum matching signature components (of [[NumHashes]]) for the
    * incremental path's agreement verify — 6/12 ≈ Jaccard 0.5, the
    * same threshold the batch paths verify exactly. */
  val MinSigAgreement = 6

  /** Raw minhash signatures (doc_id, h0..h11) for the INDEX side of
    * [[incrementalLshFrom]]: the docs NOT in the delta slice
    * (doc_id % deltaMod ≠ deltaRes). In production this frame is the
    * persisted signature table an ingest pipeline maintains — 12
    * strings per document, no text. */
  def lshIndexSignatures(spark: SparkSession, dir: String,
                         deltaMod: Int = 10, deltaRes: Int = 3): DataFrame =
    minhashRawFrom(shingleRowsOf(
      Tables.loadSpread(spark, dir, "documents")
        .filter(col("doc_id") % deltaMod =!= deltaRes)))

  /** The delta slice of the corpus (the "newly ingested" documents). */
  def lshDeltaDocs(spark: SparkSession, dir: String,
                   deltaMod: Int = 10, deltaRes: Int = 3): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .filter(col("doc_id") % deltaMod === deltaRes)

  /** Incremental LSH index maintenance: near-dup pairs INVOLVING the
    * delta docs, computed without ever re-shingling the indexed
    * corpus. The index contributes only its persisted raw signatures
    * (12 hashes/doc); the delta is shingled, signed, and its band
    * keys joined against index ∪ delta band buckets. Buckets whose
    * COMBINED membership exceeds `cap` are dropped — identical
    * semantics to [[minhashLshCapped]] restricted to pairs with ≥1
    * delta member, which is exactly what the oracle recomputes.
    * Verification is signature-component agreement (≥ `minEqual` of
    * [[NumHashes]]) — the index stores no shingles, so exact Jaccard
    * is impossible by design; agreement is the unbiased estimator of
    * it ([[signatureJaccard]] pins the two side by side).
    *
    * Shape at 100 TB: the expensive work (normalize → shingle →
    * 12-min-agg) touches ONLY the delta; the index-side cost is one
    * narrow scan of a 12-column signature table (band keys are
    * recomputed from h0..h11 — cheap md5s — or, in a production
    * index, stored alongside). The pair join fans out only from
    * delta band rows, and the cap bounds its worst key at cap².
    * Bucket counts are re-aggregated here for the harness; a real
    * index maintains them incrementally (count += delta per bucket),
    * which preserves the same hot set. */
  def incrementalLshFrom(indexRaw: DataFrame, deltaDocs: DataFrame,
                         cap: Int = BandBucketCap,
                         minEqual: Int = MinSigAgreement): DataFrame = {
    val deltaRaw = minhashRawFrom(shingleRowsOf(deltaDocs)).cache()
    def melt(raw: DataFrame): DataFrame =
      bandsOf(raw).select(col("doc_id"), posexplode(
        array((0 until Bands).map(b => col(s"band$b")): _*)).as(Seq("band", "bk")))
    val deltaM = melt(deltaRaw).cache()
    val allM = melt(indexRaw).unionByName(deltaM)
    val hot = allM.groupBy(col("band"), col("bk"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > cap)
      .select(col("band"), col("bk"))
    val coldAll = allM.join(broadcast(hot), Seq("band", "bk"), "left_anti")
    val coldDelta = deltaM.join(broadcast(hot), Seq("band", "bk"), "left_anti")
    val cand = coldDelta.select(col("band"), col("bk"), col("doc_id").as("x"))
      .join(coldAll.select(col("band"), col("bk"), col("doc_id").as("y")),
        Seq("band", "bk"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("da"),
        greatest(col("x"), col("y")).as("db"))
      .distinct()
    val allRaw = indexRaw.unionByName(deltaRaw)
    val eqExpr = (0 until NumHashes)
      .map(i => when(col(s"ha$i") === col(s"hb$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val aSide = allRaw.select(col("doc_id").as("da") +:
      (0 until NumHashes).map(i => col(s"h$i").as(s"ha$i")): _*)
    val bSide = allRaw.select(col("doc_id").as("db") +:
      (0 until NumHashes).map(i => col(s"h$i").as(s"hb$i")): _*)
    cand.join(aSide, Seq("da")).join(bSide, Seq("db"))
      .select(col("da"), col("db"), eqExpr.as("n_equal"))
      .filter(col("n_equal") >= minEqual)
      .select(col("da"), col("db"), col("n_equal"),
        (col("n_equal").cast("double") / lit(NumHashes.toDouble)).as("est_sim"))
      .orderBy(col("da"), col("db"))
  }

  /** [[incrementalLshFrom]] wired to the deterministic base/delta
    * corpus split (delta = doc_id % deltaMod = deltaRes). The gated
    * entry reads the index from a PERSISTED parquet signature table
    * (built once as a fixture) — the point of the operator is that
    * the indexed corpus's text is never touched. */
  def incrementalLsh(spark: SparkSession, dir: String, indexPath: String,
                     deltaMod: Int = 10, deltaRes: Int = 3,
                     cap: Int = BandBucketCap,
                     minEqual: Int = MinSigAgreement): DataFrame =
    incrementalLshFrom(Tables.parquet(spark, Seq(indexPath)),
      lshDeltaDocs(spark, dir, deltaMod, deltaRes), cap, minEqual)

  /** Candidate pairs from band buckets of size ≤ cap. Exposed
    * package-private so the spec can assert the candidate COUNT bound
    * directly (a 60-clone boilerplate cluster yields zero candidates
    * here vs 1770 uncapped). */
  private[graft] def cappedBandCandidates(sig: DataFrame, cap: Int): DataFrame = {
    // bands MELTED to (band, bk) rows so hot-bucket detection, the
    // anti-join and the bucket self-join are ONE stage each instead of
    // one per band — same candidate set, 3 shuffles instead of 12
    // band-local stages (the per-band formulation was pure scheduling
    // overhead at any scale)
    val melted = sig.select(col("doc_id"), posexplode(
        array((0 until Bands).map(b => col(s"band$b")): _*)).as(Seq("band", "bk")))
      .cache()
    val hot = melted.groupBy(col("band"), col("bk"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > cap)
      .select(col("band"), col("bk"))
    val cold = melted.join(broadcast(hot), Seq("band", "bk"), "left_anti")
    cold.select(col("band"), col("bk"), col("doc_id").as("da"))
      .join(cold.select(col("band"), col("bk"), col("doc_id").as("db")),
        Seq("band", "bk"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
  }

  /** SoftDeDup — duplicate-aware loss weighting: instead of DROPPING
    * near-duplicates (q41's keep-one-per-cluster), keep every
    * document and downweight repeats so a cluster of n near-dups
    * contributes one document's worth of gradient (weight = 1/n, in
    * basis points, floor — integer-exact). The soft alternative
    * matters when near-dups carry small real differences (updated
    * pages, quote variants) that hard dedup would throw away.
    * Clusters come from the same capped-LSH connected components as
    * q41; docs in no near-dup pair are their own singleton cluster at
    * full weight. One LSH pass + the component fixed point + two
    * joins keyed by cluster id — no new shuffle shapes. */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"))
    val memb = Components.minLabel(
      minhashLshCapped(spark, dir, ordered = false).select(col("da"), col("db")))
    val withCluster = docs
      .join(memb.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val sizes = withCluster.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("csize"))
    withCluster.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        col("csize").cast("long").as("csize"),
        expr("10000 div csize").cast("long").as("weight_bp"))
      .orderBy(col("doc_id"))
  }

  /** Fixed doc-sample size for [[lshRecallEval]]: the eval runs the
    * EXACT all-true-pairs join as its truth side, so its cost must be
    * bounded by a constant, not by the corpus — at 100 TB an unsampled
    * truth join is the single most expensive query in the registry
    * (measured ×62 at ×10 data, 631 s, round 10). 256 docs keeps the
    * estimate meaningful at the sf0.01 gate (half that corpus) while
    * making the eval O(sample²) = O(1) in corpus size. */
  val DedupEvalSampleK = 256

  /** Dedup-quality evaluation: measure the capped-LSH candidate
    * generator against the EXACT Jaccard-≥-τ truth set (the
    * prefix-filtered all-true-pairs join, [[SetSimJoin.prefixJoin]]),
    * ON A FIXED-SIZE DETERMINISTIC DOC SAMPLE. Recall answers "which
    * true near-dup pairs does banding + the hot-bucket cap miss",
    * candidate precision answers "how much exact-verification work
    * does each surviving candidate buy" — the two numbers every LSH
    * parameter choice (hashes, bands, cap) trades between, measured
    * instead of assumed. This is the dedup counterpart of the ANN
    * recall/MRR evals (q146/q189).
    *
    * Sampling (round-11 scale fix): the [[DedupEvalSampleK]] docs with
    * the smallest (md5(doc_id), doc_id) — a deterministic uniform
    * sample selected by one corpus scan + top-K, identical in any
    * engine. Truth AND candidates are both computed within the sample,
    * exact within it, so the estimate is unbiased for pair recall
    * among sampled docs and the whole eval stays O(K²) at any corpus
    * size; only the sample selection touches the full table. An
    * UNSAMPLED eval was measured at ×62 wall-clock for ×10 data — the
    * kind of slope that makes an eval unrunnable exactly where it
    * matters most.
    *
    * One row: truth/candidate/hit counts and recall / candidate
    * precision in basis points (NULL when the denominator is an empty
    * set — honestly undefined, same in both engines). Both pair sets
    * are near-dup-sized (tiny vs the sample); the crossJoins are
    * one-row broadcasts. */
  def lshRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.loadSpread(spark, dir, "documents")
    val sample = docs
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("_smp"))
      .orderBy(col("_smp"), col("doc_id"))
      .limit(DedupEvalSampleK)
      .select(col("doc_id"))
    val sh = shingleRowsOf(docs.join(broadcast(sample), Seq("doc_id"))).cache()
    // ONE cached shingle pass feeds both the truth join and the
    // candidate generator being measured (prefixJoin would otherwise
    // re-scan and re-shingle the corpus)
    val truth = SetSimJoin.prefixJoinFrom(sh).select(col("da"), col("db"))
    val cand = cappedBandCandidates(minhashSignaturesFrom(sh), BandBucketCap)
    val tn = truth.agg(count(lit(1)).as("n_truth"))
    val cn = cand.agg(count(lit(1)).as("n_cand"))
    val hit = cand.join(truth, Seq("da", "db"))
      .agg(count(lit(1)).as("n_hit"))
    tn.crossJoin(broadcast(cn)).crossJoin(broadcast(hit))
      .select(col("n_truth").cast("long").as("n_truth"),
        col("n_cand").cast("long").as("n_cand"),
        col("n_hit").cast("long").as("n_hit"),
        expr("n_hit * 10000 div nullif(n_truth, 0)").cast("long").as("recall_bp"),
        expr("n_hit * 10000 div nullif(n_cand, 0)").cast("long").as("cand_precision_bp"))
  }
}
