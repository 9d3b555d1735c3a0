package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.functions.TextFunctions._

/** Text-analysis operators for the training-data pipeline: language
  * identification (stopword/n-gram heuristic), quality scoring
  * (length / punctuation / stopword ratios), token counting
  * (whitespace + BPE-ish regex), and document fingerprinting.
  *
  * All pure column expressions over the `documents` table — one
  * narrow, shuffle-free projection per document (aggregates below are
  * only for compact verification output). At 100 TB this is the ideal
  * operator shape: map-only, codegen'd, column-pruned to `text`.
  */
object TextAnalysis {

  /** Language-ID: per-language stopword hit counts + deterministic
    * argmax, aggregated to (actual, detected) confusion counts. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    d.select(col("lang") +: langScores(words(lower(col("text")))): _*)
      .select(col("lang"), detectLangFromScores.as("detected"))
      .groupBy(col("lang"), col("detected"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("detected"))
  }

  /** [[langIdNgram]] hyper-parameters: docs with doc_id %
    * [[LangIdTrainMod]] != 0 train; text is truncated to
    * [[LangIdMaxChars]] chars (language is decidable from a prefix —
    * the production trick that makes lang-ID cost O(1) per doc
    * however long the doc); char 2/3/4-grams hash into
    * [[LangIdBuckets]] buckets (3 hex digits of md5 = 12 bits — the
    * fastText hashing trick, with the hex-substring conversion this
    * engine uses everywhere so any md5-bearing engine reproduces it
    * digit-for-digit). */
  val LangIdTrainMod = 5
  val LangIdMaxChars = 256
  val LangIdBuckets = 4096
  val LangIdNgrams: Seq[Int] = Seq(2, 3, 4)

  /** Bucket of one n-gram: first 3 hex digits of md5("n|gram"). */
  private[graft] def gramBucket(g: Column): Column =
    conv(substring(md5(g), 1, 3), 16, 10).cast("long")

  /** Hashed char-n-gram language classifier — the production-shaped
    * replacement for [[langId]]'s stopword heuristic (which needs a
    * curated stopword list per language and collapses on the ~100
    * languages of a real crawl). fastText-style supervised model,
    * integer-exact end to end:
    *
    *   - FEATURES: character 2/3/4-grams of the first
    *     [[LangIdMaxChars]] normalized chars, hashed to
    *     [[LangIdBuckets]] buckets (md5 hex prefix — no vocabulary,
    *     bounded model whatever the script/language mix);
    *   - MODEL: multinomial NB over buckets with add-one smoothing,
    *     trained on the labeled split (doc_id % [[LangIdTrainMod]]
    *     != 0); per-(bucket, class) whole-bit surprisal
    *     floor(log2((n_class + B) / (c + 1))) via the
    *     `length(bin(b div a)) - 1` integer trick (q196/q214), plus a
    *     whole-bit class prior;
    *   - PREDICT: per doc, the class minimizing total bits (tie →
    *     lexicographically smallest class).
    *
    * Scale shape: the model is ≤ B × |classes| rows (bounded by
    * construction — no MinCount pruning needed), broadcast; scoring
    * is gram rows × |classes| through broadcast joins with map-side
    * partial aggregation on (doc_id, class); the only shuffle is the
    * per-doc combine. Output: (heldout, actual, detected) confusion
    * counts — the held-out half measures generalization, the train
    * half leakage-free fit. */
  def langIdNgram(spark: SparkSession, dir: String): DataFrame =
    langIdNgramOf(Tables.loadSpread(spark, dir, "documents"))

  /** As [[langIdNgram]] over caller-provided (doc_id, lang, text) rows
    * — NOTE the gated fixture corpus draws every "language" from ONE
    * shared vocabulary (no separating signal exists; held-out accuracy
    * ≈ the class prior for ANY classifier, which the heldout=1 rows
    * honestly report), so the spec proves discrimination separately on
    * a corpus with real per-language character distributions. */
  def langIdNgramOf(docsIn: DataFrame): DataFrame = {
    val d = docsIn
      .select(col("doc_id"), col("lang"),
        substring(normalizeText(col("text")), 1, LangIdMaxChars).as("t"))
    // round 16 (guide §2.3/§1.2): ONE corpus scan builds all three
    // gram orders — the buckets are computed inside per-order array
    // transforms and a single explode of the concatenated (bounded,
    // ≤ 3·LangIdMaxChars-element) arrays emits long bucket ids, so
    // only 8-byte longs fan out instead of rows carrying `t`. The
    // retired shape unioned three explodes over three scans, and
    // model/totals re-derived the whole gram pipeline two more times;
    // everything now folds through ONE cached gcounts frame
    // (distinct (doc, bucket) rows — bounded at min(3·256, B) per
    // doc; Round16Spec pins the formulations equal).
    val grams = d.select(col("doc_id"), col("lang"),
      explode(concat(LangIdNgrams.map { n =>
        when(length(col("t")) >= n,
            transform(sequence(lit(1), length(col("t")) - (n - 1)),
              i => gramBucket(concat(lit(s"$n|"), col("t").substr(i, lit(n))))))
          .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)"))
      }: _*)).as("bucket"))
    val held = pmod(col("doc_id"), lit(LangIdTrainMod)) === 0
    // scoring fans out × |classes| — so fan out DISTINCT (doc, bucket)
    // rows weighted by their occurrence count, not raw gram
    // occurrences: at a real crawl's ~100 languages the per-doc rows
    // into the partial aggregate drop from occurrences×classes to
    // distinct-buckets×classes (identical sums: Σ bits over
    // occurrences = bits × count). Cached: the NB model, the class
    // totals and the scoring pass all read it — uncached, the
    // md5-per-gram pipeline (the query's dominant map stage) runs 3×.
    val gcounts = grams
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("gcnt"))
      .cache()
    val train = gcounts.filter(!held)
    val model = train.groupBy(col("bucket"), col("lang")).agg(sum(col("gcnt")).as("c"))
      .select(col("bucket"), col("lang").as("cand_lang"), col("c"))
    val totals = train.groupBy(col("lang")).agg(sum(col("gcnt")).as("n_l"))
      .select(col("lang").as("cand_lang"), col("n_l"))
    val docs = docsIn.select(col("doc_id"), col("lang"))
    val priors = docs.filter(!held)
      .groupBy(col("lang")).agg(count(lit(1)).as("d_l"))
      .crossJoin(broadcast(docs.filter(!held).agg(count(lit(1)).as("d_all"))))
      .select(col("lang").as("cand_lang"),
        (length(bin(expr("d_all div d_l"))) - 1).cast("long").as("prior_bits"))
    val scored = gcounts
      .crossJoin(broadcast(totals))
      .join(broadcast(model), Seq("bucket", "cand_lang"), "left")
      .withColumn("b_", col("n_l") + lit(LangIdBuckets.toLong))
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

  /** Quality scoring: structural ratios + a blended score, all exact
    * integer counts until the final double divisions (deterministic
    * IEEE ops, engine-portable). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScoreOf(Tables.loadSpread(spark, dir, "documents"))

  /** As [[qualityScore]] but over caller-provided (doc_id, text) rows
    * — lets the raw-web front door (WARC → HTML extraction, q263)
    * compose with the same scoring stage the clean-text path uses. */
  def qualityScoreOf(d: DataFrame): DataFrame = {
    val w = words(col("text"))
    val punct = length(col("text")) - length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))
    d.select(col("doc_id"), size(w).cast("long").as("n_words"), punct.cast("long").as("n_punct"),
        stopwordCount(w, "en").cast("long").as("n_stopwords"),
        avgWordLen(col("text")).as("avg_word_len"),
        qualityExpr(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Weak-supervision labeling: a bank of keyword labeling functions
    * (the Snorkel pattern) votes per document; the plurality label
    * wins, ties break lexicographically, all-abstain docs are
    * excluded. Everything is ONE map-only projection — votes are
    * array_contains sums and the argmax an in-row sort of a 4-element
    * (−votes, label) struct array, so the operator is a single
    * codegen'd pass however large the corpus (no explode, no
    * per-label shuffle). confidence = top votes / total votes, one
    * division. */
  def weakLabels(spark: SparkSession, dir: String): DataFrame = {
    val lfs: Seq[(String, String)] = Seq(
      "spark" -> "compute", "query" -> "compute",
      "table" -> "storage", "row" -> "storage",
      "stream" -> "streaming", "batch" -> "streaming",
      "vector" -> "ml", "hash" -> "ml")
    val d = Tables.loadSpread(spark, dir, "documents")
    val toks = words(lower(col("text")))
    def votesFor(label: String): Column = lfs.collect {
      case (kw, l) if l == label =>
        when(array_contains(toks, kw), 1L).otherwise(0L)
    }.reduce(_ + _)
    val labels = lfs.map(_._2).distinct.sorted
    val voted = d.select(col("doc_id") +:
      labels.map(l => votesFor(l).as(s"v_$l")): _*)
    val ranked = array_sort(array(labels.map(l =>
      struct((-col(s"v_$l")).as("nv"), lit(l).as("l"))): _*))
    voted
      .withColumn("n_votes", labels.map(l => col(s"v_$l")).reduce(_ + _))
      .filter(col("n_votes") > 0)
      .withColumn("top", ranked.getItem(0))
      .select(col("doc_id"), col("n_votes"),
        col("top.l").as("label"), (-col("top.nv")).as("label_votes"),
        round((-col("top.nv")).cast("double") / col("n_votes"), 4).as("confidence"))
      .orderBy(col("doc_id"))
  }

  /** Corpus composition report: per (source, lang) document and
    * token counts with each cell's parts-per-million share of the
    * corpus and the cumulative share in descending-size order — the
    * first table in every pretraining data card, and the input to
    * mixture reweighting. Shares are fixed-point (×10⁶, floor div):
    * integer-exact and engine-portable. One fact-sized aggregation;
    * the share/cumulative windows run over the tiny (source, lang)
    * grid against a broadcast total. */
  def corpusComposition(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val per = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(size(words(col("text"))).cast("long")).as("tokens"))
    val tot = per.agg(sum(col("tokens")).as("t"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tokens").desc, col("source"), col("lang"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("docs"), col("tokens"),
        expr("tokens * 1000000 div t").as("share_ppm"))
      .withColumn("cum_ppm", sum(col("share_ppm")).over(w))
      .orderBy(col("tokens").desc, col("source"), col("lang"))
  }

  /** Token counting: whitespace tokens and BPE-ish regex tokens. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    d.select(col("doc_id"),
        size(words(col("text"))).cast("long").as("ws_tokens"),
        bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Corpus vocabulary statistics: term frequency and document
    * frequency per normalized token, with the df ratio against the
    * corpus size — the raw material for stopword lists, vocab pruning
    * and tf-idf weighting. One explode + one grouped aggregate
    * (count + count distinct), shuffled on the token — the natural
    * key; the corpus-size scalar joins in as a broadcast. Top-k by
    * document frequency with a total-order tie-break. */
  def vocabStats(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val toks = d.select(col("doc_id"),
      explode(words(normalizeText(col("text")))).as("token"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    toks.groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("token"), col("tf"), col("df"),
        (col("df").cast("double") / col("n_docs")).as("df_ratio"))
      .orderBy(col("df").desc, col("tf").desc, col("token"))
      .limit(k)
  }

  /** Document fingerprinting: md5 over canonical normalized text +
    * shape stats — the join key for cross-corpus exact dedup. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val norm = normalizeText(col("text"))
    d.select(col("doc_id"), md5(norm).as("fp"),
        length(norm).cast("long").as("norm_len"),
        substring(md5(norm), 1, 8).as("shard_key"))
      .orderBy(col("doc_id"))
  }

  val ChunkSize = 32
  val ChunkStride = 24

  /** Overlapping token-window chunking — RAG / context-window prep:
    * each document's token list is cut into [[ChunkSize]]-token
    * windows every [[ChunkStride]] tokens (8-token overlap). Map-only
    * + one Generate (the per-chunk explode) — no shuffle at all, the
    * ideal 100 TB shape; output rows carry the chunk's md5 so the gate
    * checks chunk CONTENT exactly without shipping the text. */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val chunkLen = least(lit(ChunkSize), size(col("w")) - col("start") + 1)
    d.select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), greatest(size(col("w")), lit(1)), lit(ChunkStride))).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / lit(ChunkStride)).cast("long").as("chunk_no"),
        col("start").cast("long").as("start"),
        chunkLen.cast("long").as("chunk_len"),
        md5(concat_ws(" ", slice(col("w"), col("start"), chunkLen))).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_no"))
  }

  /** TF-IDF top terms per document, with the idf expressed as the
    * exact rational N/df (log-free: log() is libm-dependent and not
    * bit-portable across engines; N/df is order-preserving for
    * ranking and a two-op IEEE tree, so the gate is exact). Keyed
    * shuffles only: explode → (doc,term) count → term df → join back;
    * the corpus-size scalar is a broadcast. */
  def tfidfTopTerms(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.loadSpread(spark, dir, "documents")
    val toks = d.select(col("doc_id"),
        explode(words(normalizeText(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val score = col("tf").cast("double") * (col("n_docs").cast("double") / col("df").cast("double"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", score)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Lexical retrieval: BM25 top-k over the corpus for a
    * deterministic self-contained query (the corpus's two
    * highest-document-frequency terms) — the curation primitive
    * behind "find the documents matching these terms" (inspection,
    * decontamination, targeted sampling).
    *
    * Scoring is the classic BM25 shape (k1 = 1.2, b = 0.75) with the
    * log replaced by the exact rational idf (N − df + 0.5)/(df + 0.5):
    * log() is libm-dependent and not bit-portable across engines,
    * while the rational form is order-preserving in df and a fixed
    * IEEE op tree the oracle mirrors exactly. The query is capped at
    * TWO terms so the per-doc score sum is a single commutative
    * addition — bit-identical under any aggregation order.
    *
    * Shuffles: token explode → (doc, term) tf → term df; the
    * two-term query head and the corpus scalars broadcast back;
    * final top-k is TakeOrdered (per-partition heaps), never a
    * global sort. */
  def bm25Retrieve(spark: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val toks = d.select(col("doc_id"),
        explode(words(normalizeText(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
    val lens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scalars = lens.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("tot_len"))
    val query = dft.orderBy(col("df").desc, col("term")).limit(2)
    val dD = (c: org.apache.spark.sql.Column) => c.cast("double")
    val avgdl = dD(col("tot_len")) / dD(col("n_docs"))
    val idf = (dD(col("n_docs")) - dD(col("df")) + lit(0.5)) / (dD(col("df")) + lit(0.5))
    val sc = idf * (dD(col("tf")) * lit(2.2)) /
      (dD(col("tf")) + lit(1.2) * (lit(0.25) + lit(0.75) * (dD(col("len")) / avgdl)))
    tf.join(broadcast(query), Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(scalars))
      .withColumn("sc", sc)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("matched"), sum(col("sc")).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Length-bucketed batching prep: documents binned into `buckets`
    * near-equal groups by token count — the padding-efficiency step
    * before batch assembly (batching similar lengths together wastes
    * the least pad). Boundaries are the exact R-7 percentiles of the
    * token count (one tiny stats aggregate, broadcast back — at
    * extreme scale `approx_percentile` is the drop-in knob), binning
    * is map-only comparisons, then one keyed stats aggregate.
    * Boundary ties go to the LOWER bucket on both engines (strict >
    * comparison against the identical rounded boundary). */
  def lengthBuckets(spark: SparkSession, dir: String, buckets: Int = 8): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val t = d.select(col("doc_id"), size(words(col("text"))).cast("long").as("toks"))
    val bounds = t.agg(
      round(percentile(col("toks"), lit(1.0 / buckets)), 4).as("b1"),
      (2 until buckets).map(i =>
        round(percentile(col("toks"), lit(i.toDouble / buckets)), 4).as(s"b$i")): _*)
    val bucket = (1 until buckets)
      .map(i => when(col("toks") > col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    t.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("toks"), bucket.cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("toks")).as("min_toks"),
        max(col("toks")).as("max_toks"), sum(col("toks")).as("sum_toks"))
      .orderBy(col("bucket"))
  }

  /** PII patterns — conservative ASCII classes that parse identically
    * under Java regex (Spark) and RE2 (DuckDB). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** PII scrub: redact emails / IPv4s / phone-shaped tokens and count
    * the redactions per document. The synthetic corpus carries no PII,
    * so a deterministic PII suffix derived from doc_id is APPENDED
    * first (mirrored in the oracle) — the scrub then provably finds
    * and removes it; the scrubbed text is gated by md5. Map-only. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val id = col("doc_id").cast("string")
    val aug = concat(col("text"),
      lit(" reach user"), id, lit("@mail.example.com from 10."),
      (col("doc_id") % 200).cast("string"), lit(".0.1 tel 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    d.select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("aug"), lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all(col("aug"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        md5(regexp_replace(
          regexp_replace(regexp_replace(col("aug"), EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>")).as("scrub_hash"))
      .orderBy(col("doc_id"))
  }

  /** Repetition-ratio quality filter: within-document duplicate-token
    * and duplicate-bigram fractions — the standard boilerplate /
    * degenerate-generation signal. Integer counts until two single
    * divisions (exact IEEE, portable); entirely map-only. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val w = words(normalizeText(col("text")))
    d.select(col("doc_id"), w.as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(array_distinct(col("w"))).cast("long").as("uniq_tokens"),
        greatest(size(col("w")) - 1, lit(0)).cast("long").as("n_bigrams"),
        size(shingles(col("w"), 2)).cast("long").as("uniq_bigrams"))
      .select(col("doc_id"), col("n_tokens"), col("uniq_tokens"),
        col("n_bigrams"), col("uniq_bigrams"),
        (lit(1.0) - col("uniq_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("rep_tokens"),
        when(col("n_bigrams") > 0,
          lit(1.0) - col("uniq_bigrams").cast("double") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)).as("rep_bigrams"))
      .withColumn("flagged",
        (col("rep_bigrams") > 0.5).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Out-of-vocabulary scoring: build the corpus's top-`vocabSize`
    * token vocabulary (by total occurrence count, ties broken by token
    * text), then score each document by how many of its token
    * occurrences fall outside it — a cheap fluency/jargon signal used
    * to route documents to heavier classifiers.
    *
    * Scale shape: the vocabulary is one partial-aggregated token-count
    * shuffle + a bounded top-K (TakeOrdered — never a global sort of
    * the token table); the per-doc pass is explode → BROADCAST hash
    * join against the K-row vocab → one keyed re-aggregation on
    * doc_id. The corpus is scanned once per pass and never joins
    * itself. */
  def oovScore(spark: SparkSession, dir: String, vocabSize: Int = 32): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val toks = d.select(col("doc_id"),
        explode(words(normalizeText(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(1L).as("_in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        // single int64→double division: identical IEEE op per engine;
        // empty docs never reach here (zero-token docs produce no rows
        // from the explode), so the denominator is ≥ 1
        (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_ratio"))
      .orderBy(col("doc_id"))
  }

  /** One greedy left-to-right BPE merge pass over a symbol array:
    * every non-overlapping adjacent (a, b) becomes the fused symbol
    * a+b. A left fold — append, or fuse with the accumulator's tail
    * when it is `a` and the current symbol is `b`. Greedy
    * non-overlap falls out of the fold: once fused, the tail is the
    * strictly longer a+b, which can never equal `a` again (so
    * [a,a,a,a] with pair (a,a) → [aa,aa], the canonical semantics). */
  private[graft] def bpeMergeOnce(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** BPE tokenizer-merge training (Sennrich et al. 2016) over the
    * corpus vocabulary: start from characters, repeatedly fuse the
    * corpus-wide most frequent adjacent symbol pair (count ties →
    * lexicographic pair). Classic BPE trains on WORD TYPES weighted
    * by frequency, so after one token-count aggregate the working set
    * is the vocabulary, not the corpus — here bounded to the top
    * `vocabCap` types (count desc, word asc) so the oracle's unrolled
    * SQL stays tractable; at 100 TB the uncapped type table is
    * millions of rows and the shape is unchanged. Each of the
    * `numMerges` iterations is one pair-explode + keyed count + a
    * 1-row top-1 to the driver (the MODEL, like trainCentroids'
    * k×dim sums), then a map-only fold applies the merge;
    * localCheckpoint keeps the 8-iteration plan from nesting.
    * Returns (merge_rank, lhs, rhs, freq) — the learned merge table. */
  def bpeTrain(spark: SparkSession, dir: String,
               numMerges: Int = 8, vocabCap: Int = 256): DataFrame = {
    import spark.implicits._
    val d = Tables.loadSpread(spark, dir, "documents")
    val chars = (w: Column) => transform(sequence(lit(1), length(w)),
      i => w.substr(i, lit(1)))
    var vocab = d.select(explode(words(normalizeText(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(vocabCap)
      .select(col("word"), col("cnt"), chars(col("word")).as("syms"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var rank = 1L
    var exhausted = false
    for (_ <- 0 until numMerges if !exhausted) {
      // sequence(1, n) REVERSES for n < 1 (the shingles pitfall) —
      // fully-fused single-symbol words must yield no pairs, not [1,0]
      val pairs = vocab.select(col("cnt"), explode(
          when(size(col("syms")) >= 2,
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("l"),
                element_at(col("syms"), i + 1).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("l"), col("r"))
        .limit(1).collect()
      if (pairs.isEmpty) exhausted = true
      else {
        val (l, r, f) = (pairs(0).getString(0), pairs(0).getString(1), pairs(0).getLong(2))
        merges += ((rank, l, r, f)); rank += 1
        vocab = vocab.withColumn("syms", bpeMergeOnce(col("syms"), l, r))
          .localCheckpoint()
      }
    }
    merges.result().toDF("merge_rank", "lhs", "rhs", "freq").orderBy(col("merge_rank"))
  }

  /** Tokenize the corpus with the merges [[bpeTrain]] learned and
    * count per-document tokens. The classic type-table optimization:
    * each DISTINCT word is tokenized once (chars → the merge chain,
    * applied as `numMerges` chained folds in rank order — the model
    * is ≤ numMerges driver rows, like trainCentroids' centroids), and
    * documents join their words against the broadcast tokenized
    * types. Per-doc work is therefore one explode + one broadcast
    * join + one keyed count — never a per-token fold over the corpus.
    * Returns (doc_id, ws_tokens, bpe_tokens). */
  def bpeApplyCounts(spark: SparkSession, dir: String,
                     numMerges: Int = 8, vocabCap: Int = 256): DataFrame = {
    val merges = bpeTrain(spark, dir, numMerges, vocabCap)
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs")))
    val d = Tables.loadSpread(spark, dir, "documents")
    val toks = d.select(col("doc_id"),
        explode(words(normalizeText(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
    val chars = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    val tokenized = toks.select(col("word")).distinct()
      .select(col("word"), merges.foldLeft(chars) { case (syms, (l, r)) =>
        bpeMergeOnce(syms, l, r) }.as("syms"))
      .select(col("word"), size(col("syms")).cast("long").as("n_syms"))
    toks.join(broadcast(tokenized), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("ws_tokens"), sum(col("n_syms")).as("bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model rarity scoring — the integer-exact
    * approximation of perplexity-based quality filtering (the CCNet
    * recipe): a document full of improbable word transitions is
    * likely boilerplate, spam or garbled text. The corpus bigram
    * model is its own scorer: P(w2|w1) = C(w1,w2)/C(w1·), and a
    * bigram is RARE iff P < 1/`denom`, tested as the integer
    * predicate `C(w1,w2)·denom < C(w1·)` — no division, no float
    * boundary, bit-identical on any engine. The only double is one
    * final ratio per document. Two token-keyed shuffles (bigram
    * counts, context counts) + one keyed re-join; nothing
    * corpus-sized reaches the driver. */
  def bigramRarity(spark: SparkSession, dir: String, denom: Int = 50): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    // materialize the token array into a column FIRST: inlining the
    // normalize+split tree into the transform lambda below would
    // re-evaluate the regexes per array ELEMENT (no common-subexpr
    // elimination inside higher-order lambdas) — measured 84 s vs
    // ~1 s at sf0.1 for exactly this query
    val t = d.select(col("doc_id"), words(normalizeText(col("text"))).as("ws"))
    val ws = col("ws")
    // adjacent word pairs, in order (sequence() would reverse for
    // single-token docs — guard like every pair extraction here)
    val bigrams = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val bg = t.select(col("doc_id"), explode(bigrams).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt2"))
    // context count = how often w1 starts a bigram, derived from the
    // (already aggregated) bigram counts — no third corpus pass
    val c1 = c2.groupBy(col("w1")).agg(sum(col("cnt2")).as("cnt1"))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum((col("cnt2") * denom < col("cnt1")).cast("long")).as("n_rare"))
      .withColumn("rare_ratio",
        col("n_rare").cast("double") / col("n_bigrams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Hashing-trick term-frequency featurizer (the HashingTF /
    * feature-hashing primitive): each token maps to one of `dims`
    * buckets by md5 nibble arithmetic (stateless — no vocabulary to
    * build, ship or version, which is the point at 100 TB), and the
    * document's feature vector is the per-bucket token count plus an
    * L1-normalized weight. Emitted EXPLODED as (doc_id, dim, tf,
    * weight) sparse rows — the join-friendly layout for downstream
    * linear models, and exactly hashable by the cross-engine gate
    * (array columns canonicalize differently per engine). One explode
    * + one (doc, dim) count — map-side combinable. */
  def hashingTf(spark: SparkSession, dir: String, dims: Int = 16): DataFrame = {
    require(dims <= 256, "hashingTf: dims beyond two hex digits")
    val d = Tables.loadSpread(spark, dir, "documents")
    val toks = d.select(col("doc_id"),
        explode(words(normalizeText(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
    val bucket = (conv(substring(md5(col("tok")), 1, 2), 16, 10) % dims).cast("long")
    toks.select(col("doc_id"), bucket.as("dim"))
      .groupBy(col("doc_id"), col("dim")).agg(count(lit(1)).as("tf"))
      .withColumn("weight", col("tf").cast("double") /
        sum(col("tf")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))).cast("double"))
      .orderBy(col("doc_id"), col("dim"))
  }

  /** Per-source winsorization of the document length: clip n_chars to
    * the source's [p25, p75] (exact R-7 percentiles — on integer
    * inputs they land on multiples of 0.25, binary-exact on every
    * engine) and report the clipped-tail counts plus the winsorized
    * sum. Every clipped value is an exact dyadic (k/4) and the total
    * stays far under 2^53, so the double sum is EXACT and therefore
    * aggregation-order-independent — safe to gate across engines.
    * One tiny per-source percentile agg broadcast back over a
    * map-only clip: the 100 TB shape. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
      .select(col("source"), col("n_chars").cast("double").as("x"))
    val bounds = d.groupBy(col("source")).agg(
      round(percentile(col("x"), lit(0.25)), 4).as("p25"),
      round(percentile(col("x"), lit(0.75)), 4).as("p75"))
    d.join(broadcast(bounds), Seq("source"))
      .withColumn("clip", least(greatest(col("x"), col("p25")), col("p75")))
      .groupBy(col("source"), col("p25"), col("p75"))
      .agg(count(lit(1)).as("n"),
        sum((col("x") < col("p25")).cast("long")).as("n_low"),
        sum((col("x") > col("p75")).cast("long")).as("n_high"),
        sum(col("clip")).as("win_sum"))
      .select(col("source"), col("p25"), col("p75"), col("n"),
        col("n_low"), col("n_high"), col("win_sum"))
      .orderBy(col("source"))
  }

  /** Robust length-outlier detection per source: exact median and MAD
    * (median absolute deviation) of the whitespace token count, then
    * flag |toks − med| > 3·MAD. All interpolated medians land on
    * multiples of 0.25 (R-7 over integers), binary-exact on every
    * engine, so the comparison has no float boundary.
    *
    * Scale shape: two grouped percentile passes over (source, toks) —
    * each one keyed shuffle with partial aggregation — and the
    * per-source stats (a handful of rows) broadcast back; the corpus
    * itself is never sorted globally. */
  def lengthOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val t = d.select(col("doc_id"), col("source"),
      size(words(col("text"))).cast("long").as("toks"))
    val med = t.groupBy(col("source"))
      .agg(round(percentile(col("toks"), lit(0.5)), 4).as("med"))
    val dev = t.join(broadcast(med), Seq("source"))
      .withColumn("_dev", abs(col("toks") - col("med")))
    val mad = dev.groupBy(col("source"))
      .agg(round(percentile(col("_dev"), lit(0.5)), 4).as("mad"))
    dev.join(broadcast(mad), Seq("source"))
      .groupBy(col("source"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n_docs"),
        sum((abs(col("toks") - col("med")) > lit(3) * col("mad")).cast("long"))
          .as("n_outliers"))
      .select(col("source"), col("n_docs"), col("n_outliers"), col("med"), col("mad"))
      .orderBy(col("source"))
  }

  /** Flesch-style readability scoring, map-only: non-empty whitespace
    * words, sentences split on [.!?]+ runs, syllables approximated as
    * vowel-group runs (the standard dictionary-free heuristic). The
    * score
    *   206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    * is one mirrored IEEE expression over three integers, so any
    * engine lands on the identical double; the difficulty band then
    * thresholds that identical value. Documents with no words are
    * excluded (the ratios are undefined); zero-sentence docs count as
    * one sentence (a fragment is still a sentence for the ratio). */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val nWords = size(filter(words(col("text")), t => length(t) > 0))
    val nSents = greatest(
      size(filter(split(col("text"), "[.!?]+", -1), s => length(trim(s)) > 0)),
      lit(1))
    val nSyl = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
    val base = d.select(col("doc_id"),
        nWords.cast("long").as("n_words"), nSents.cast("long").as("n_sentences"),
        nSyl.cast("long").as("n_syllables"))
      .filter(col("n_words") > 0)
    val flesch = lit(206.835) -
      lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double")) -
      lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double"))
    base.withColumn("flesch", flesch)
      .withColumn("band",
        when(col("flesch") >= 70.0, lit("easy"))
          .when(col("flesch") >= 50.0, lit("medium")).otherwise(lit("hard")))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style LM fluency scoring with the engine's portable
    * stand-in for perplexity: train an add-one-smoothed bigram model
    * on the corpus itself, then score each document by its MEAN
    * smoothed bigram probability p(w2|w1) = (c12+1)/(c1+V) —
    * rank-equivalent to filtering on perplexity for its purpose
    * (flagging disfluent/boilerplate docs) while avoiding ln(), whose
    * last-ulp behavior differs across math libraries (same argument
    * as the exact rational idf at [[bm25TopTerms]]). Each bigram
    * TYPE's probability is one multiply-divide-floor from exact
    * integer counts, quantized to BIGINT at 1e-9; per-doc mean is an
    * exact integer sum and a final division — bit-identical anywhere.
    *
    * Scale posture: bigrams are expanded MAP-ONLY inside the row
    * (nested transform, no self-join); the model is bigram-type-sized
    * (two aggregations); scoring is one equi-join of doc-bigrams
    * against the model on the bigram key + a doc-grain aggregate.
    * Vocabulary size is a broadcast scalar. Nothing driver-side. */
  def bigramFluency(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), words(normalizeText(col("text"))).as("w"))
      .filter(size(col("w")) >= 2)
    val bigrams = docs.select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .cache()
    val c12 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = docs.select(explode(col("w")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val model = c12.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        floor(lit(1000000000.0) * (col("c12") + lit(1L)).cast("double") /
          (col("c1") + col("v")).cast("double")).as("q"))
    bigrams.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sq").cast("double") / col("n_bigrams").cast("double") /
          lit(1000000000.0), 6).as("mean_p"))
      .orderBy(col("doc_id"))
  }

  /** Misra-Gries summary of one partition's token stream, capacity
    * `cap`: at most `cap` live counters; a token outside a full table
    * decrements every counter (zeros evicted). Classic guarantee for
    * ANY arrival order: every token with partition frequency
    * > n_p/(cap+1) survives. Exposed for [[vocabHeavyHitters]] and
    * its property spec. */
  private[graft] def misraGries(it: Iterator[String], cap: Int): Iterator[String] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      m.get(t) match {
        case Some(c) => m.update(t, c + 1)
        case None if m.size < cap => m.update(t, 1L)
        case None =>
          val dead = List.newBuilder[String]
          m.foreach { case (k, c) => if (c == 1) dead += k else m.update(k, c - 1) }
          dead.result().foreach(m.remove)
      }
    }
    m.keysIterator
  }

  /** EXACT corpus heavy hitters — every vocabulary term with global
    * frequency strictly above n/k — in two bounded-memory passes,
    * never shuffling the full token stream on the term key:
    *
    * Pass 1 runs a per-partition Misra-Gries summary (capacity k).
    * Pigeonhole: a term with global freq > n/k has freq > n_p/k in at
    * least one partition, so the UNION of partition summaries is a
    * deterministic superset of the answer regardless of row order or
    * partitioning — the only shuffle is the distinct over ≤ k×P
    * candidate terms. Pass 2 re-counts ONLY candidate rows exactly
    * (broadcast semi-join on the candidate set) and keeps
    * `c * k > n` — an integer comparison, no float threshold.
    * The final counts are order-independent, so the output is exact
    * and stable even though each MG summary is arrival-order
    * dependent.
    *
    * Scale posture: the full-corpus term shuffle of a naive group-by
    * (the dominant cost at 100 TB vocab scale) is replaced by k×P
    * candidate keys; pass 2's group-by only carries rows matching the
    * broadcast candidate set. */
  def vocabHeavyHitters(spark: SparkSession, dir: String, k: Int = 40): DataFrame = {
    import spark.implicits._
    val toks = Tables.loadSpread(spark, dir, "documents")
      .select(explode(words(normalizeText(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
    val cands = toks.as[String]
      .mapPartitions(it => misraGries(it, k))
      .toDF("term").distinct()
    val total = toks.agg(count(lit(1)).as("n"))
    toks.join(broadcast(cands), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(total))
      .filter(col("c") * lit(k.toLong) > col("n"))
      .select(col("term"), col("c"), col("n"),
        round(col("c").cast("double") / col("n").cast("double"), 6).as("frac"))
      .orderBy(col("term"))
  }

  /** CCNet-style boilerplate removal at chunk granularity: the corpus
    * is cut into positional token chunks (the "paragraph/line" unit —
    * these documents carry no newlines, so the unit is a fixed token
    * window), each chunk's corpus-wide document frequency is counted,
    * and chunks repeated across >= docThreshold distinct documents are
    * flagged as boilerplate (headers, nav bars, license blurbs in a
    * web corpus). Output is the per-document retention card: chunk
    * count, boilerplate count, and token counts before/after the cut.
    *
    * Scale posture: one explode to (doc, chunk), one chunk-keyed
    * shuffle for document frequencies, one join back. The chunk key
    * space is ~corpus_tokens/chunkTokens — strictly smaller than the
    * token stream a vocabulary count shuffles, and the per-doc
    * aggregate re-shuffles only (doc_id, flags). No driver state. */
  def boilerplateChunks(spark: SparkSession, dir: String,
                        chunkTokens: Int = 3, docThreshold: Int = 5): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val chunks = d.select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, cast(ceil(size(w) / $chunkTokens.0) AS INT) - 1),
           |  i -> struct(
           |    concat_ws(' ', slice(w, i * $chunkTokens + 1, $chunkTokens)) AS chunk,
           |    size(slice(w, i * $chunkTokens + 1, $chunkTokens)) AS n_toks))"""
          .stripMargin)).as("c"))
      .select(col("doc_id"), col("c.chunk").as("chunk"), col("c.n_toks").as("n_toks"))
    val freq = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("chunk_docs"))
    chunks.join(freq, Seq("chunk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("chunk_docs") >= docThreshold, lit(1))).as("n_boiler"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("chunk_docs") < docThreshold, col("n_toks"))
          .otherwise(lit(0L))).as("kept_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Collocation mining: top-K adjacent-token bigrams by pointwise
    * mutual information. PMI = log of c12·N_uni² / (N_bi·cx·cy); the
    * log is monotone, so ranking on the exact rational argument (one
    * double division of two integer-exact products, the same fixed
    * IEEE op tree in the oracle) gives the identical order with no
    * libm dependence. minCount floors the bigram support — the
    * classic guard against PMI's low-count explosion.
    *
    * Shuffles: one bigram group-by, one unigram group-by; the
    * unigram table joins back on the token key and the two corpus
    * scalars broadcast. Final top-K is a single unpartitioned
    * row_number over only the >= minCount survivors (bounded by the
    * collocation candidate set, not the corpus). */
  def pmiCollocations(spark: SparkSession, dir: String,
                      minCount: Int = 5, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.loadSpread(spark, dir, "documents")
    val docs = d.select(col("doc_id"), words(col("text")).as("w"))
    val toks = docs.select(explode(col("w")).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val nUni = toks.agg(count(lit(1)).as("n_uni"))
    val bi = docs.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val nBi = bi.agg(count(lit(1)).as("n_bi"))
    val ratio = (col("c12").cast("double") * col("n_uni") * col("n_uni")) /
      (col("n_bi").cast("double") * col("cx") * col("cy"))
    c12.filter(col("c12") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("c").as("cx")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("cy")), Seq("w2"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .withColumn("ratio", ratio)
      // top-K via orderBy+limit (TakeOrderedAndProject — per-partition
      // heaps, no global sort) instead of a corpus-survivor-wide
      // unpartitioned row_number window; the rank column is then
      // re-derived over exactly topK rows (bounded window). Same rows,
      // same ranks — the (ratio desc, w1, w2) key is a total order.
      .orderBy(col("ratio").desc, col("w1"), col("w2"))
      .limit(topK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("ratio").desc, col("w1"), col("w2")))) // ≤ topK rows
      .select(col("rk").cast("long").as("rk"), col("w1"), col("w2"),
        col("c12"), col("cx"), col("cy"), round(col("ratio"), 6).as("pmi_ratio"))
      .orderBy(col("rk"))
  }

  /** Cross-source contamination matrix: for every source pair, the
    * exact overlap of their distinct 3-token shingle sets plus the
    * Jaccard ratio — the corpus-level diagnostic behind "is subcorpus
    * A quietly a copy of subcorpus B" (dataset provenance, crawl
    * dedup planning). Doc-level containment is q142; this aggregates
    * identity at the *source* level where curation decisions happen.
    *
    * Scale posture (round 16 — guide §2.3/§2.4): ONE corpus pass.
    * The source universe is tiny (#sources ≤ dozens) while shingles
    * are corpus-sized, so the per-shingle source SET is model-sized
    * state — `collect_set(source)` partial-aggregates map-side and
    * only (shingle, ≤ #sources array) rows cross the one shuffle.
    * Everything downstream (per-source distinct-shingle sizes, the
    * pairwise intersection counts) melts out of those arrays: a
    * shingle with sorted source set S contributes one size row per
    * member and one pair row per 2-combination (≤ cap·(cap+1)/2,
    * `maxSources` caps the fan-out exactly as the retired self-join's
    * hot filter did), aggregated to a ≤ #sources² frame. The previous
    * shape computed the exploded (source, shingle) distinct FOUR
    * times (hot, sizes, both self-join sides) and shuffled the
    * corpus-sized pair join on the shingle key; Round16Spec pins the
    * two formulations row-for-row equal. */
  def sourceOverlap(spark: SparkSession, dir: String,
                    maxSources: Int = 32): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val srcSets = d.select(col("source"), explode(
        graft.functions.TextFunctions.shingles(words(col("text")), 3)).as("sh"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) <= maxSources)
    // melt each shingle's source set into (src_a, NULL) size marks and
    // (src_a < src_b) pair marks; the aggregate over them is at most
    // #sources·(#sources+1)/2 rows — model-sized, cached because two
    // consumers (sizes, pairs) read it
    val melted = srcSets.select(explode(concat(
        transform(col("srcs"), s =>
          struct(s.as("src_a"), lit(null).cast("string").as("src_b"))),
        flatten(transform(col("srcs"), (x, i) =>
          transform(slice(col("srcs"), i + lit(2), size(col("srcs"))), y =>
            struct(x.as("src_a"), y.as("src_b"))))))).as("e"))
      .groupBy(col("e.src_a").as("src_a"), col("e.src_b").as("src_b"))
      .agg(count(lit(1)).as("cnt"))
      .cache()
    val sizes = melted.filter(col("src_b").isNull)
      .select(col("src_a").as("source"), col("cnt").as("sz"))
    val pairs = melted.filter(col("src_b").isNotNull)
      .select(col("src_a"), col("src_b"), col("cnt").as("inter"))
    pairs
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")), Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"), col("sz_a"), col("sz_b"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Character-class Gini diversity score per document: counts by
    * class (lowercase, uppercase, digit, space, other) and the Gini
    * impurity of that distribution in basis points,
    *   gini_bp = (n² − Σ c_k²) · 10000 div n²
    * — an exact rational (no log, unlike entropy), 0 for a
    * single-class string, → 8000 for a uniform 5-class mix. The
    * degenerate tails are the quality signal: near-0 means
    * one-character-class junk (base64 blobs, digit dumps, aaaa…),
    * useful alongside q19's ratio heuristics and q67's repetition
    * filter. Products run in DECIMAL(38,0) so n² · 10⁴ can't overflow
    * BIGINT at any document length.
    *
    * Scale posture: map-only over the corpus — five codegen'd
    * regexp_replace/length evaluations per row, no shuffle, no UDF. */
  def charClassGini(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    def cnt(re: String) = length(regexp_replace(t, re, "")).cast("long")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), length(t).cast("long").as("n"),
        cnt("[^a-z]").as("c_lower"), cnt("[^A-Z]").as("c_upper"),
        cnt("[^0-9]").as("c_digit"), cnt("[^ ]").as("c_space"))
      .withColumn("c_other",
        col("n") - col("c_lower") - col("c_upper") - col("c_digit") - col("c_space"))
      .withColumn("gini_bp", expr(
        """CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST((CAST(n AS DECIMAL(38,0)) * n
          |  - (CAST(c_lower AS DECIMAL(38,0)) * c_lower
          |     + CAST(c_upper AS DECIMAL(38,0)) * c_upper
          |     + CAST(c_digit AS DECIMAL(38,0)) * c_digit
          |     + CAST(c_space AS DECIMAL(38,0)) * c_space
          |     + CAST(c_other AS DECIMAL(38,0)) * c_other)) * 10000
          |  div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT) END""".stripMargin))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary growth curve (Heaps'-law points): at each of `buckets`
    * corpus checkpoints (doc-rank deciles by doc_id order), the
    * cumulative token mass and the cumulative DISTINCT vocabulary —
    * the curve a corpus diagnostician reads to spot saturation (more
    * data, no new vocabulary → heavy duplication or narrow domain)
    * and tokenizer blowup (vocabulary growing linearly → OCR junk or
    * unnormalized unicode).
    *
    * Scale posture: "distinct vocabulary so far" is NOT computed as a
    * distinct-over-prefix per checkpoint (that re-shuffles the corpus
    * × buckets). Each token type contributes at its FIRST-occurrence
    * doc (one vocab-sized aggregation), each doc's token mass at its
    * own doc — both bucketed to the smallest covering checkpoint via
    * a broadcast join, then one cumulative window over `buckets`
    * rows. The only unbounded work is two token-keyed aggregations.
    * The doc-rank window runs over the doc_id column alone. */
  def vocabGrowth(spark: SparkSession, dir: String, buckets: Int = 10,
                  smallInputBytes: Long = 256L << 20): DataFrame = {
    import graft.functions.TextFunctions
    val d = Tables.loadSpread(spark, dir, "documents")
    // NOT cached: the exploded token frame is corpus-sized and the
    // query is one-shot — a cache here outlives the query (nothing
    // can unpersist it before the final frame materializes) and every
    // bench rep would stack another corpus of storage pressure.
    // Recomputing the tokenize for the two aggregations below costs
    // one extra scan, bounded and private to this job.
    val tk = d.select(col("doc_id"), explode(
        TextFunctions.words(TextFunctions.normalizeText(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
    val perDoc = tk.groupBy(col("doc_id")).agg(count(lit(1)).as("n_toks"))
    val firsts = tk.groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    // Checkpoint docs are the exact order statistics of doc_id at
    // global ranks r_k = n·k div buckets. Round 15: the old
    // `row_number().over(Window.orderBy(doc_id))` ranked EVERY doc
    // through ONE task (the corpus in a single sort — the WindowExec
    // single-partition warning in every bench tail). Decomposed via
    // the q162 compressed-bin discipline: ≤4096 value-width id bins
    // (a width-W bin holds ≤ W unique ids, so bin count is bounded
    // whatever the distribution), a cumulative count over the ≤4096
    // bin rows locates the bin holding each target rank, and only the
    // ≤`buckets` hit bins are ranked — partition-parallel, each ≤ W
    // rows. Same checkpoint rows, no corpus-sized window.
    // Size-gated (the adaptiveIvfK/resolveK discipline — the plan
    // shape follows the input size): below the gate the global rank
    // is a provably-bounded single-task sort of one long column and
    // the decomposition's extra stages cost more than they save
    // (measured: +0.45-0.8 s of fixed job overhead at sf0.1); above
    // it, the two-level form is the only shape that scales. Identical
    // checkpoint rows either way (both compute exact order statistics
    // of doc_id). The gate reads Catalyst's file-size stats — no
    // Spark job (the PlanLint.lintSkew sizing precedent); 256 MB of
    // documents ≈ well under 2^21 docs, a trivial one-column sort.
    import spark.implicits._
    val small =
      d.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(smallInputBytes)
    val cps =
      if (small) {
        val ranked = d.select(col("doc_id"))
          .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
        val total = d.agg(count(lit(1)).as("n"))
        ranked.crossJoin(broadcast(total))
          .select(col("doc_id").as("cp_doc"), col("rn"),
            explode(sequence(lit(1), lit(buckets))).as("k"))
          .filter(col("rn") === expr(s"n * k div $buckets"))
          .select(col("k").cast("long").as("k"), col("cp_doc"),
            col("rn").cast("long").as("n_docs"))
      } else {
        // the three corpus scalars land on the driver via ONE tiny
        // aggregate (the Vectors.resolveK precedent) so bin width and
        // target ranks are plan LITERALS, and the checkpoint table is
        // cached — it feeds THREE consumers (newTok, mass, the final
        // curve join) and re-deriving the two-level machinery per
        // consumer would triple its stages
        val st = d.agg(count(lit(1)).as("n"), min(col("doc_id")).as("lo"),
          max(col("doc_id")).as("hi")).head()
        val nDocs = st.getLong(0)
        val lo = if (nDocs == 0L) 0L else st.getLong(1)
        val hi = if (nDocs == 0L) 0L else st.getLong(2)
        val targets = (1 to buckets)
          .map(k => (k.toLong, nDocs * k / buckets)).filter(_._2 > 0L)
          .toDF("k", "rk")
        val binW = (hi - lo) / 4096L + 1L
        val binned = d.select(col("doc_id"),
          expr(s"(doc_id - ${lo}L) div ${binW}L").as("bin"))
        val binCnt = binned.groupBy(col("bin")).agg(count(lit(1)).as("c"))
        val wb = Window.orderBy(col("bin")) // ≤ 4097 rows — bounded
        val binOff = binCnt.withColumn("cum", sum(col("c")).over(wb))
          .select(col("bin"), (col("cum") - col("c")).as("cum_before"), col("cum"))
        val located = targets.join(broadcast(binOff),
            col("rk") > col("cum_before") && col("rk") <= col("cum"))
          .select(col("k"), col("rk"), col("bin"),
            (col("rk") - col("cum_before")).as("lr"))
        val wbin = Window.partitionBy(col("bin")).orderBy(col("doc_id"))
        binned
          .join(broadcast(located.select(col("bin")).distinct()), Seq("bin"))
          .withColumn("lrn", row_number().over(wbin))
          .join(broadcast(located), Seq("bin"))
          .filter(col("lrn") === col("lr"))
          .select(col("k"), col("doc_id").as("cp_doc"), col("rk").as("n_docs"))
          .cache()
      }
    val newTok = firsts.crossJoin(broadcast(cps))
      .filter(col("cp_doc") >= col("first_doc"))
      .groupBy(col("tok")).agg(min(col("k")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("new_types"))
    val mass = perDoc.crossJoin(broadcast(cps))
      .filter(col("cp_doc") >= col("doc_id"))
      .groupBy(col("doc_id"), col("n_toks")).agg(min(col("k")).as("k"))
      .groupBy(col("k")).agg(sum(col("n_toks")).as("new_mass"))
    val w = Window.orderBy(col("k")) // `buckets` rows
    cps.join(newTok, Seq("k"), "left").join(mass, Seq("k"), "left")
      .withColumn("total_tokens", sum(coalesce(col("new_mass"), lit(0L))).over(w))
      .withColumn("distinct_tokens", sum(coalesce(col("new_types"), lit(0L))).over(w))
      .select(col("k"), col("cp_doc"), col("n_docs"),
        col("total_tokens"), col("distinct_tokens"))
      .orderBy(col("k"))
  }

  /** Word-level blocklist (stand-ins from the fixture vocabulary; a
    * real pipeline ships thousands of terms — still broadcast-tiny). */
  val BlockedWords: Seq[String] = Seq("slow", "spill")

  /** A blocked multi-word phrase (matched on normalized text). */
  val BlockedPhrase: String = "sort table"

  /** Blocklist filtering — the C4 recipe (Raffel et al. 2020 filter
    * against a term blocklist): count blocked-word tokens and
    * non-overlapping blocked-phrase occurrences per document; a
    * document with any hit is dropped from the keep set. The
    * blocklist is constant/broadcast state however large the corpus;
    * the scan is one map-only projection (word hits via an in-row
    * array filter, phrase hits via exact length arithmetic —
    * `(len(norm) − len(replace(norm, p, ''))) / len(p)` — no regex,
    * no explode). */
  def blocklistFilter(spark: SparkSession, dir: String,
                      blockedWords: Seq[String] = BlockedWords,
                      blockedPhrase: String = BlockedPhrase): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val norm = normalizeText(col("text"))
    val phraseLit = blockedPhrase.replace("'", "''")
    d.select(col("doc_id"), norm.as("norm"))
      .select(col("doc_id"),
        size(filter(words(col("norm")), t => t.isin(blockedWords: _*)))
          .cast("long").as("n_blocked_words"),
        expr(s"(length(norm) - length(replace(norm, '$phraseLit', ''))) " +
          s"div ${blockedPhrase.length}").cast("long").as("n_blocked_phrases"))
      .withColumn("kept",
        (col("n_blocked_words") === 0 && col("n_blocked_phrases") === 0).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer fertility by language: BPE pieces per whitespace word
    * under the corpus-trained merges ([[bpeApplyCounts]]'s per-doc
    * counts rolled up by lang). THE sanity metric before committing
    * to a tokenizer — a language with fertility ≫ the corpus mean is
    * being shattered into characters (under-represented in the merge
    * table), inflating its effective sequence length and training
    * cost. Exact integer sums; one final division per language. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val per = bpeApplyCounts(spark, dir)
    val langs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    per.join(langs, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("ws_tokens"),
        sum(col("bpe_tokens")).as("bpe_tokens"))
      .withColumn("fertility",
        col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
      .orderBy(col("lang"))
  }

  /** Per-document n-gram NOVELTY — the data-valuation signal behind
    * "does this document add anything the corpus doesn't already
    * have": the share of a document's distinct 3-gram shingles whose
    * FIRST owner (minimum doc_id across the corpus) is the document
    * itself. Crawl snapshots re-fetch most of the web; ranking a new
    * snapshot by novelty_bp is how a pipeline decides what of it is
    * worth tokenizing. Near-zero novelty flags near-dups the exact
    * operators also catch; MID-range novelty (a doc that is half
    * boilerplate) is what this score surfaces and pair-based dedup
    * does not.
    *
    * Scale shape: one shingle pass (shared with every dedup
    * operator), one shingle-keyed min-aggregate (the same shuffle
    * key the LSH signatures use), one join back and a per-doc
    * count — no pair join anywhere, so it costs O(corpus shingles)
    * however duplicated the corpus is. Exact integer bp. */
  def noveltyScore(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleRowsOf(Tables.loadSpread(spark, dir, "documents")).cache()
    val owners = sh.groupBy(col("s")).agg(min(col("doc_id")).as("owner"))
    sh.join(owners, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("10000 * n_novel div n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Order-invariant corpus FINGERPRINT — the dataset-version check a
    * pipeline stamps on every published snapshot: a COMMUTATIVE
    * content digest (sum of each row's 48-bit keyed-md5 prefix in
    * DECIMAL(38,0) — overflow-safe to ~10²⁳ rows) plus row and
    * distinct counts and the hash extrema. Any changed, added,
    * dropped or duplicated row moves the digest, while partition
    * layout, file order and parallelism never do — which is what
    * makes it comparable across engines, clusters and reruns (a
    * Merkle-style equality check without an ordered reduce). One
    * map-only projection + one aggregation. */
  def corpusFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
      .select(md5(concat(col("doc_id").cast("string"), lit("|"),
        col("text"))).as("h"))
    d.agg(count(lit(1)).as("n_docs"),
        sum(conv(substring(col("h"), 1, 12), 16, 10).cast("decimal(38,0)"))
          .cast("string").as("fp_sum"),
        countDistinct(col("h")).as("n_distinct"),
        min(col("h")).as("min_h"), max(col("h")).as("max_h"))
  }

  /** Dataset DIFF — [[corpusFingerprint]]'s companion: the digest
    * says WHETHER two snapshots differ, this says WHERE. One
    * full-outer join on the row key with per-side content hashes
    * classifies every row added / removed / changed / same; the
    * readout is the per-status census. At 100 TB this is one keyed
    * shuffle of (key, 16-byte hash) pairs — text never crosses the
    * exchange. */
  def datasetDiff(base: DataFrame, next: DataFrame): DataFrame = {
    val b = base.select(col("doc_id"), md5(col("text")).as("hb"))
    val n = next.select(col("doc_id"), md5(col("text")).as("hn"))
    b.join(n, Seq("doc_id"), "full_outer")
      .select(when(col("hn").isNull, "removed")
        .when(col("hb").isNull, "added")
        .when(col("hb") =!= col("hn"), "changed")
        .otherwise("same").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }

  /** The q259 gate: the next snapshot is DERIVED deterministically
    * from the current one (drop doc_id≡0 mod 97, edit ≡0 mod 101,
    * add a shifted copy of ≡0 mod 103), so the diff census has a
    * closed form the oracle states from the base table alone. */
  def datasetDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
    val next = base
      .filter(pmod(col("doc_id"), lit(97L)) =!= 0L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(101L)) === 0L,
          concat(col("text"), lit(" (rev2)"))).otherwise(col("text")))
      .unionByName(base.filter(pmod(col("doc_id"), lit(103L)) === 0L)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    datasetDiff(base, next)
  }

  /** [[sourceReputation]] gate: a source is dropped when more than
    * 60% of its documents are non-target-language, or more than 12%
    * are too short to carry signal (< [[ShortDocChars]] chars). */
  val MaxNonTargetBp = 6000L
  val MaxShortBp = 1200L
  /** Minimum character count for a document to count as substantive. */
  val ShortDocChars = 100L

  /** Source (domain) reputation gating — the RefinedWeb/C4 "judge the
    * domain, not just the document" step: per-document signals roll up
    * to their source, and a source whose AGGREGATE profile is bad gets
    * dropped wholesale (spam domains produce individually-plausible
    * documents; their tell is the distribution). Signals here are the
    * target-language share and the short-document share, both as
    * exact basis points (10000·count floor-div n — pure integers, no
    * float aggregation order to diverge on).
    *
    * Scale shape: one map-only per-doc projection, one group-by on
    * `source` whose cardinality is domains (≪ docs), and a few-row
    * readout. The doc→source rollup is the SAME aggregation a 100 TB
    * crawl runs per registrable domain; gating a doc then costs one
    * broadcast semi-join against the kept-source list. */
  def sourceReputation(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    d.select(col("source"),
        when(col("lang") =!= "en", 1L).otherwise(0L).as("non_en"),
        when(length(col("text")) < ShortDocChars, 1L).otherwise(0L).as("short"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("non_en")).as("n_non_en"),
        sum(col("short")).as("n_short"))
      .withColumn("non_en_bp", expr("10000 * n_non_en div n_docs"))
      .withColumn("short_bp", expr("10000 * n_short div n_docs"))
      .withColumn("keep",
        (col("non_en_bp") <= MaxNonTargetBp &&
          col("short_bp") <= MaxShortBp).cast("int"))
      .select(col("source"), col("n_docs"), col("non_en_bp"),
        col("short_bp"), col("keep"))
      .orderBy(col("source"))
  }
}
