package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.operators.{Dedup, Multimodal, Relational, TextAnalysis, Vectors}

/** The registered queries and their oracles — see SURVEY.md §7.
  *
  * Each query is one [[SparkEntry.registry]] entry: its Spark
  * formulation next to its DuckDB-SQL oracle over the same parquet
  * tables, so the two cannot drift apart. `queries` and `oracleSql` are
  * projections of it. Column names and ordering are aligned on both
  * sides (the compare sorts columns by name and hash-compares values).
  */
object SparkEntry {
  /** Once-per-(key, JVM) fixture memo. Verify/Bench invoke each query
    * repeatedly, and the BASE builds behind q62/q75/q79 are setup, not
    * the operator under test — they must run outside the timed region
    * (they used to dominate those queries' bench numbers). The key
    * folds in the source table's mtime, so regenerating an sf dir
    * in-place rebuilds the fixture instead of serving stale data (same
    * discipline as q60's bucketed copies). The queries stay pure
    * functions of the source dir because the per-call operation on the
    * fixture is idempotent (delta-wins merge of a delta derived from
    * the immutable source).
    *
    * Every build starts clean: the target dir is deleted before
    * `build` runs, so a builder that crashed part-way never leaks a
    * partial chain into the next build (the snapshot fixtures pin
    * version NAMES). A build that throws is not memoised; the next
    * call rebuilds. The dirs live under [[GraftSession.scratchRoot]],
    * so they go when the JVM exits.
    *
    * One kind is built once and shared by every query that names it,
    * so a shared kind must stay read-only: its callers only read it. */
  private val fixtures = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def fixture(kind: String, s: SparkSession, d: String, srcTable: String)
                            (build: String => Unit): String = {
    val p = new org.apache.hadoop.fs.Path(graft.sources.Tables.path(d, srcTable))
    val mtime = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    val key = s"$kind|$d|$mtime"
    fixtures.computeIfAbsent(key, { _ =>
      val dir = s"${GraftSession.scratchRoot}/${kind}_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val target = new org.apache.hadoop.fs.Path(dir)
      target.getFileSystem(s.sparkContext.hadoopConfiguration).delete(target, true)
      build(dir)
      dir
    })
  }

  /** `orders` as (o_orderkey, o_orderstatus, price), the price cast to
    * DECIMAL(18,2): the input of the merge and snapshot queries. */
  private def ordersPriced(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.sources.Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("price"))
  }

  /** The daily delta of q62/q79: the status-F orders whose key is a
    * multiple of 97, each price raised by 50. */
  private def q79Delta(o: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    o.filter(col("o_orderstatus") === "F" && col("o_orderkey") % 97 === 0)
      .withColumn("price",
        col("price") + lit(50).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
  }

  /** Row count and price total per `key` value, in key order. */
  private def priceTotalsBy(key: String)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("price_sum"))
      .orderBy(col(key))
  }

  /** A fixture of `kind`: the priced orders committed as v1 of a
    * snapshot table partitioned by status. */
  private def ordersByStatus(kind: String, s: SparkSession, d: String): String =
    fixture(kind, s, d, "orders")(path => graft.sources.Snapshots
      .commitOverwrite(s, path, ordersPriced(s, d), partCol = "o_orderstatus"))

  /** A fixture of `kind`: (o_orderkey, o_orderstatus) committed as v1
    * partitioned by status with per-file row counts. Every call then
    * deletes the status-O orders whose key is a multiple of 5: only
    * partition O is rewritten with fresh counts, F and P carry their
    * stat lines byte-identically, and a rerun matches nothing and
    * publishes no version. */
  private def countedOrdersAfterDelete(kind: String, s: SparkSession, d: String): String = {
    import org.apache.spark.sql.functions.col
    import graft.sources.Snapshots
    val table = fixture(kind, s, d, "orders")(path => Snapshots.commitOverwrite(s, path,
      graft.sources.Tables.load(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus")),
      partCol = "o_orderstatus", statsCols = Seq(Snapshots.RowCountCol)))
    Snapshots.commitDelete(s, table,
      col("o_orderstatus") === "O" && col("o_orderkey") % 5 === 0)
    table
  }

  /** A snapshot table partitioned by status with two pinned versions:
    * v1 holds the orders whose key is not a multiple of 3, and v2
    * merges the q79 delta into v1. q80, q91 and q111 share it and
    * only read those two versions. */
  private def snapshotV1V2(s: SparkSession, d: String): String =
    fixture("snapcdf", s, d, "orders") { path =>
      import org.apache.spark.sql.functions.col
      val o = ordersPriced(s, d)
      graft.sources.Snapshots.commitOverwrite(s, path,
        o.filter(col("o_orderkey") % 3 =!= 0), partCol = "o_orderstatus")
      graft.sources.Snapshots.commitMerge(s, path, q79Delta(o),
        "o_orderkey", "o_orderstatus")
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggPricing(spark, "/root/testdata/sf0.001")

  /** One registered query: its Spark formulation and the DuckDB oracle
    * SQL that gates it. */
  final case class Query(build: (SparkSession, String) => DataFrame, oracle: String)

  /** The public query and oracle maps, as projections of [[registry]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = registry.view.mapValues(_.build).toMap
  def oracleSql: Map[String, String] = registry.view.mapValues(_.oracle).toMap

  /** Every query, keyed by name, with its oracle over the same parquet
    * tables, each registered under its table name. Lazy: the oracle
    * strings interpolate the shared DuckDB fragments, which are strict
    * vals declared further down this object. */
  lazy val registry: Map[String, Query] = Map(
    "q01_agg_pricing" -> Query(Relational.aggPricing _, oracle =
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS pelanggan_count,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS amount_sum,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "q02_cleanse_filter" -> Query(Relational.cleanseProject _, oracle =
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS tanggal,
        |  upper(o_orderpriority) AS priority,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |ORDER BY o_orderkey""".stripMargin),
    "q03_left_join_dims" -> Query(Relational.leftJoinDims _, oracle =
      """SELECT r_name, n_name,
        |  count(*) AS pelanggan_count,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS amount_sum
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),
    "q04_union_agg" -> Query(Relational.unionAgg _, oracle =
      """WITH u AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS period, l_returnflag AS kind,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) AS amount FROM lineitem
        |  UNION ALL
        |  SELECT strftime(o_orderdate, '%Y-%m') AS period, o_orderstatus AS kind,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS amount FROM orders)
        |SELECT period, kind, count(*) AS pelanggan_count,
        |       CAST(sum(amount) AS DOUBLE) AS amount_sum
        |FROM u GROUP BY period, kind ORDER BY period, kind""".stripMargin),
    "q05_fanout_join" -> Query(Relational.fanoutJoin _, oracle =
      """WITH dim AS (SELECT DISTINCT l_partkey AS d_partkey, l_suppkey AS d_suppkey FROM lineitem),
        |facts AS (
        |  SELECT l_partkey, l_orderkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS amount
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-03-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1997-03-08')
        |SELECT s_nationkey, count(*) AS pelanggan_count,
        |       CAST(sum(amount) AS DOUBLE) AS amount_sum
        |FROM facts
        |JOIN dim ON l_partkey = d_partkey
        |LEFT JOIN supplier ON d_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey NULLS FIRST""".stripMargin),
    "q06_agg_tariff" -> Query(Relational.aggTariff _, oracle =
      """SELECT CAST(floor(l_quantity) AS INT) AS tarif, l_linestatus = 'O' AS gate_in_boo,
        |       count(*) AS pelanggan_count
        |FROM lineitem GROUP BY 1, 2 ORDER BY tarif, gate_in_boo""".stripMargin),
    "q07_norm_body" -> Query(Relational.normBodyQuery _, oracle =
      """WITH n AS (SELECT
        |  CASE WHEN p_brand IS NULL OR trim(p_brand) = '' THEN NULL ELSE
        |    NULLIF(regexp_extract(upper(regexp_replace(p_brand, '[^A-Za-z0-9]', '', 'g')), '([A-Z]{3})', 1), '')
        |    || '-' ||
        |    lpad(NULLIF(regexp_extract(regexp_replace(p_brand, '[^A-Za-z0-9]', '', 'g'), '([0-9]{1,3})', 1), ''), 3, '0')
        |  END AS norm_brand,
        |  CASE WHEN p_name IS NULL OR trim(p_name) = '' THEN NULL ELSE
        |    NULLIF(regexp_extract(upper(regexp_replace(p_name, '[^A-Za-z0-9]', '', 'g')), '([A-Z]{3})', 1), '')
        |    || '-' ||
        |    lpad(NULLIF(regexp_extract(regexp_replace(p_name, '[^A-Za-z0-9]', '', 'g'), '([0-9]{1,3})', 1), ''), 3, '0')
        |  END AS norm_name
        |  FROM part)
        |SELECT norm_brand, norm_name, count(*) AS n FROM n
        |GROUP BY norm_brand, norm_name
        |ORDER BY norm_brand NULLS FIRST, norm_name NULLS FIRST""".stripMargin),
    "q08_to_bool" -> Query(Relational.toBoolQuery _, oracle =
      """WITH toks AS (SELECT
        |  CASE CAST(l_linenumber % 7 AS INT)
        |    WHEN 0 THEN 'TRUE' WHEN 1 THEN 'f' WHEN 2 THEN 'yes' WHEN 3 THEN ' '
        |    WHEN 4 THEN '0' WHEN 5 THEN 'garbage' WHEN 6 THEN 'Y' END AS tok
        |  FROM lineitem),
        |b AS (SELECT
        |  CASE
        |    WHEN upper(trim(coalesce(tok, ''))) IN ('TRUE','T','1','Y','YES','ON') THEN TRUE
        |    WHEN upper(trim(coalesce(tok, ''))) IN ('FALSE','F','0','N','NO','OFF') THEN FALSE
        |    WHEN upper(trim(coalesce(tok, ''))) = '' THEN NULL
        |    ELSE TRY_CAST(tok AS BOOLEAN)
        |  END AS flag FROM toks)
        |SELECT flag, count(*) AS n FROM b GROUP BY flag ORDER BY flag NULLS FIRST""".stripMargin),
    "q09_date_dispatch" -> Query(Relational.dateDispatch _, oracle =
      """WITH raw AS (SELECT o_orderkey % 3 AS fmt,
        |  CASE o_orderkey % 3
        |    WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |    WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
        |    ELSE strftime(o_orderdate, '%-m/%-d/%Y') END AS s
        |  FROM orders),
        |p AS (SELECT fmt,
        |  CASE
        |    WHEN regexp_matches(s, '^\d{4}-\d{2}-\d{2}$') THEN try_strptime(s, '%Y-%m-%d')
        |    WHEN regexp_matches(s, '^\d{2}/\d{2}/\d{4}$') THEN try_strptime(s, '%d/%m/%Y')
        |  END AS d FROM raw)
        |SELECT fmt, strftime(d, '%Y-%m') AS period, count(*) AS n
        |FROM p GROUP BY fmt, period ORDER BY fmt, period NULLS FIRST""".stripMargin),
    "q10_merge_upsert" -> Query(Relational.mergeUpsert _, oracle =
      """WITH existing AS (
        |  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal, 0 AS is_new FROM customer),
        |updates AS (
        |  SELECT c_custkey, 'UPGRADED' AS c_mktsegment,
        |         CAST(c_acctbal AS DECIMAL(18,2)) + CAST(100 AS DECIMAL(18,2)) AS bal, 1 AS is_new
        |  FROM customer WHERE c_mktsegment = 'BUILDING'),
        |merged AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY is_new DESC) AS rn
        |  FROM (SELECT * FROM existing UNION ALL SELECT * FROM updates))
        |SELECT c_mktsegment, count(*) AS n, CAST(sum(bal) AS DOUBLE) AS bal_sum
        |FROM merged WHERE rn = 1
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    "q11_audit_counts" -> Query(Relational.auditCounts _, oracle =
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS lineitem_rows,
        |  (SELECT count(*) FROM orders WHERE o_orderstatus = 'F') AS finished_orders,
        |  (SELECT count(*) FROM customer) AS customer_rows""".stripMargin),
    "q12_window_topk" -> Query(Relational.windowTopK _, oracle =
      """SELECT o_orderpriority, o_orderkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount, rk
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |          ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin),
    "q13_events_window" -> Query(Relational.eventsWindow _, oracle =
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    "q14_dedup_exact" -> Query(Dedup.exact _, oracle =
      s"""WITH n AS (SELECT doc_id, md5($normSqlDuck) AS h FROM documents)
        |SELECT h, min(doc_id) AS canonical_id, count(*) AS dup_count
        |FROM n GROUP BY h ORDER BY canonical_id""".stripMargin),
    "q15_dedup_minhash" -> Query(Dedup.minhashLsh _, oracle =
      s"""$shingleCte,
        |$minhashCtes
        |SELECT x.da, x.db, round(x.i * 1.0 / (ca.n + cb.n - x.i), 4) AS jaccard
        |FROM inter x JOIN cnt ca ON ca.doc_id = x.da JOIN cnt cb ON cb.doc_id = x.db
        |WHERE round(x.i * 1.0 / (ca.n + cb.n - x.i), 4) >= 0.5
        |ORDER BY x.da, x.db""".stripMargin),
    "q16_dedup_simhash" -> Query((s: SparkSession, d: String) => Dedup.simhash(s, d), oracle =
      // the q164 64-bit signature chain, then Manku banding: 4 bands x
      // 16 bits (4 hex chars) with the >cap buckets dropped whole;
      // Hamming per hex nibble — no signed 64-bit value is ever built
      s"""WITH w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS tok FROM w),
        |h AS (SELECT doc_id, md5(tok) AS h FROM t),
        |bits AS (SELECT doc_id, b.b AS b,
        |    CASE WHEN ((strpos('0123456789abcdef', substr(h, (b.b // 4) + 1, 1)) - 1)
        |      >> (b.b % 4)) & 1 = 1 THEN 1 ELSE -1 END AS vote
        |  FROM h, unnest(generate_series(0, 63)) b(b)),
        |v AS (SELECT doc_id, b, sum(vote) AS v FROM bits GROUP BY 1, 2),
        |nib AS (SELECT doc_id, b // 4 AS nidx,
        |    sum(CASE WHEN v > 0 THEN (1 << (b % 4)) ELSE 0 END) AS nv
        |  FROM v GROUP BY 1, 2),
        |sig AS (SELECT doc_id, string_agg(substr('0123456789abcdef', CAST(nv AS INT) + 1, 1),
        |    '' ORDER BY nidx) AS h64 FROM nib GROUP BY doc_id),
        |banded AS (SELECT doc_id, h64, k.k AS k, substr(h64, k.k * 4 + 1, 4) AS band
        |  FROM sig, unnest(generate_series(0, 3)) k(k)),
        |hot AS (SELECT k, band FROM banded GROUP BY 1, 2
        |  HAVING count(*) > ${operators.Dedup.SimhashBandCap}),
        |ok AS (SELECT b.* FROM banded b ANTI JOIN hot USING (k, band)),
        |pairs AS (SELECT DISTINCT l.doc_id AS da, r.doc_id AS db,
        |    l.h64 AS ha, r.h64 AS hb
        |  FROM ok l JOIN ok r ON l.k = r.k AND l.band = r.band AND l.doc_id < r.doc_id),
        |ham AS (SELECT da, db,
        |    ${(0 until 16).map(i =>
               s"bit_count(xor(strpos('0123456789abcdef', substr(ha, ${i + 1}, 1)) - 1, " +
               s"strpos('0123456789abcdef', substr(hb, ${i + 1}, 1)) - 1))").mkString(" + ")} AS hamming
        |  FROM pairs)
        |SELECT da, db, CAST(hamming AS INT) AS hamming FROM ham
        |WHERE hamming <= 3 ORDER BY da, db""".stripMargin),
    "q17_ngram_jaccard" -> Query(Dedup.ngramJaccard _, oracle =
      s"""$shingleCte,
        |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 20),
        |shc AS (SELECT doc_id, s FROM sh ANTI JOIN hot USING (s)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT x.da, x.db, round(x.i * 1.0 / (ca.n + cb.n - x.i), 4) AS jaccard
        |FROM inter x JOIN cnt ca ON ca.doc_id = x.da JOIN cnt cb ON cb.doc_id = x.db
        |WHERE round(x.i * 1.0 / (ca.n + cb.n - x.i), 4) >= 0.5
        |ORDER BY x.da, x.db""".stripMargin),
    "q18_lang_id" -> Query(TextAnalysis.langId _, oracle =
      """WITH w AS (SELECT lang, string_split(lower(text), ' ') AS w FROM documents),
        |s AS (SELECT lang,
        |  len(list_filter(w, x -> x IN ('the','a','of','and','is','to','in'))) AS s_en,
        |  len(list_filter(w, x -> x IN ('der','die','das','und','ist','ein'))) AS s_de,
        |  len(list_filter(w, x -> x IN ('el','la','de','y','es','un'))) AS s_es,
        |  len(list_filter(w, x -> x IN ('le','la','les','et','est','un'))) AS s_fr,
        |  len(list_filter(w, x -> x IN ('的','是','了','在','和'))) AS s_zh
        |  FROM w),
        |d AS (SELECT lang, CASE
        |  WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
        |  WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
        |  WHEN s_es >= greatest(s_en, s_de, s_fr, s_zh) THEN 'es'
        |  WHEN s_fr >= greatest(s_en, s_de, s_es, s_zh) THEN 'fr'
        |  ELSE 'zh' END AS detected FROM s)
        |SELECT lang, detected, count(*) AS n FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q19_quality_score" -> Query(TextAnalysis.qualityScore _, oracle =
      """WITH q AS (SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_words,
        |  length(text) AS n_chars,
        |  length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct,
        |  len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','is','to','in'))) AS n_stopwords
        |  FROM documents)
        |SELECT doc_id, n_words, n_punct, n_stopwords,
        |  (n_chars - (n_words - 1)) * 1.0 / n_words AS avg_word_len,
        |  least((n_chars - (n_words - 1)) * 1.0 / n_words / 8.0, 1.0) * 0.4
        |    + (1.0 - n_punct * 1.0 / n_chars) * 0.3
        |    + least(n_stopwords * 1.0 / n_words * 4.0, 1.0) * 0.3 AS quality
        |FROM q ORDER BY doc_id""".stripMargin),
    "q20_token_count" -> Query(TextAnalysis.tokenCount _, oracle =
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    "q21_fingerprint" -> Query(TextAnalysis.fingerprint _, oracle =
      s"""WITH n AS (SELECT doc_id, $normSqlDuck AS norm FROM documents)
        |SELECT doc_id, md5(norm) AS fp, length(norm) AS norm_len,
        |  substr(md5(norm), 1, 8) AS shard_key
        |FROM n ORDER BY doc_id""".stripMargin),
    "q22_ann_topk" -> Query(Vectors.annBruteForce _, oracle =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (SELECT qid, vec_id, $cosSqlDuck AS cos
        |  FROM e, q WHERE vec_id <> qid),
        |r AS (SELECT qid, vec_id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT qid, vec_id, cos, rk FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),
    "q23_ann_ivf" -> Query(Vectors.annIvf _, oracle =
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |$adaptiveKCteDuck,
        |$coarseMCteDuck,
        |cents AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e WHERE vec_id < (SELECT k FROM kk)),
        |${twoLevelAsgDuck("0", "cents", "asg")},
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |probes AS (SELECT qid, qv, cid FROM (
        |    SELECT qid, qv, cid,
        |      row_number() OVER (PARTITION BY qid ORDER BY
        |        round(list_dot_product(cv, qv) / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 4) DESC, cid) AS prk
        |    FROM q, cents)
        |  WHERE prk <= 4),
        |scored AS (SELECT p.qid, e.vec_id,
        |    round(list_dot_product(p.qv, e.v) / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cos
        |  FROM probes p JOIN asg a ON a.cid = p.cid JOIN e ON e.vec_id = a.vec_id
        |  WHERE e.vec_id <> p.qid),
        |r AS (SELECT qid, vec_id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT qid, vec_id, cos, rk FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),
    // gated path is the distributed LSH (no driver-side collect);
    // the oracle mirrors the md5-parity hyperplanes + banding exactly
    "q24_embedding_neardup" -> Query((s: SparkSession, d: String) =>
      Vectors.lshNearDupPairs(s, d, Vectors.NearDupPlanes, Vectors.AdaptiveBands,
        Vectors.NearDupThreshold), oracle =
      // mirrors Vectors.lshNearDupPairs: ±1 hyperplane component (p,i) =
      // parity of md5("p|i") first byte; 60-bit signature; banding
      // DERIVED from the corpus count exactly as adaptiveBandBits —
      // rbits = max(3, ceil(log2(ceil(n/256)))) via the integer-exact
      // length(bin(m-1)) idiom, bands = 60 div rbits (3 bits × 20 bands
      // at fixture scale — identical to the historical constants);
      // candidates collide on ≥1 band; exact cosine ≥ 0.45 verifies
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT len(v) AS dim FROM e LIMIT 1),
        |nn AS (SELECT count(*) AS n FROM e),
        |rr AS (SELECT greatest(3, CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END) AS rbits
        |  FROM (SELECT (n + 255) // 256 AS m FROM nn)),
        |pl AS (SELECT p, list(CASE WHEN ((strpos('0123456789abcdef', substr(md5(CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 2, 1)) - 1) & 1) = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END ORDER BY i) AS pv
        |  FROM (SELECT p, i FROM (SELECT unnest(generate_series(0, 59)) AS p), d, unnest(generate_series(0, dim - 1)) t(i))
        |  GROUP BY p),
        |sig AS (SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(pv, v) >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS sig
        |  FROM e, pl GROUP BY vec_id),
        |banded AS (SELECT vec_id, b, (sig >> (b * rbits)) & ((1::BIGINT << rbits) - 1) AS bits
        |  FROM sig, rr, unnest(generate_series(0, 60 // rbits - 1)) t(b)),
        |cand AS (SELECT DISTINCT l.vec_id AS da, r.vec_id AS db FROM banded l JOIN banded r ON l.b = r.b AND l.bits = r.bits AND l.vec_id < r.vec_id),
        |scored AS (SELECT c.da, c.db,
        |    round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
        |  FROM cand c JOIN e a ON a.vec_id = c.da JOIN e b ON b.vec_id = c.db)
        |SELECT da, db, cos FROM scored WHERE cos >= 0.45 ORDER BY da, db""".stripMargin),
    "q25_multimodal_decode" -> Query(Multimodal.decodeQuery _, oracle =
      // every value below is the arithmetic contract of a REAL
      // encode→decode round trip: image dims from encodePng's geometry,
      // audio rate/frames from encodeWav's, video geometry/track count
      // from the container structure; first8_hex pins the actual magic
      // bytes (PNG signature; RIFF size = 36 + 2·frames for WAV, fits
      // one LE byte; AVI body = 92 + 76·3 = 320 = LE 40 01 00 00 since
      // video rows have id%3 = 2 → 3 tracks; MP4 ftyp box is 24 bytes).
      // A decoder that does not parse the real bytes cannot match.
      """WITH m AS (SELECT doc_id AS id, CAST(doc_id % 3 AS INT) AS k FROM documents)
        |SELECT id AS media_id,
        |  CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE k WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
        |         ELSE CASE WHEN id % 2 = 0 THEN 'avi' ELSE 'mp4' END END AS container,
        |  CAST(CASE k WHEN 0 THEN 16 + id % 32
        |       WHEN 1 THEN 8000 + (id % 4) * 4000
        |       ELSE CASE WHEN id % 2 = 0 THEN 160 + (id % 16) * 8
        |                 ELSE 320 + (id % 32) * 4 END END AS BIGINT) AS dim_a,
        |  CAST(CASE k WHEN 0 THEN 12 + id % 23
        |       WHEN 1 THEN 1
        |       ELSE CASE WHEN id % 2 = 0 THEN 120 + (id % 9) * 8
        |                 ELSE 240 + (id % 18) * 4 END END AS BIGINT) AS dim_b,
        |  CAST(CASE k WHEN 0 THEN 1
        |       WHEN 1 THEN 32 + id % 64
        |       ELSE 1 + id % 3 END AS BIGINT) AS n_units,
        |  CASE k WHEN 0 THEN '89504e470d0a1a0a'
        |       WHEN 1 THEN '52494646' || printf('%02x', 100 + 2 * (id % 64)) || '000000'
        |       ELSE CASE WHEN id % 2 = 0 THEN '5249464640010000'
        |                 ELSE '0000001866747970' END END AS first8_hex
        |FROM m ORDER BY media_id""".stripMargin),
    "q26_rollup" -> Query(Relational.rollupAgg _, oracle =
      """SELECT r_name, n_name, count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
        |  CAST(grouping(r_name) AS INT) AS g_region, CAST(grouping(n_name) AS INT) AS g_nation
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY g_region, g_nation, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),
    "q27_semi_anti_join" -> Query(Relational.semiAntiJoin _, oracle =
      """WITH o96 AS (SELECT o_custkey FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'),
        |w AS (SELECT c_mktsegment, count(*) AS with_orders FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM o96) GROUP BY 1),
        |wo AS (SELECT c_mktsegment, count(*) AS without_orders FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM o96) GROUP BY 1)
        |SELECT coalesce(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
        |  with_orders, without_orders
        |FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),
    "q28_distinct_agg" -> Query(Relational.distinctAgg _, oracle =
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS distinct_parts,
        |  count(DISTINCT l_orderkey) AS distinct_orders,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q29_pivot" -> Query(Relational.pivotAgg _, oracle =
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    "q30_percentile" -> Query(Relational.percentiles _, oracle =
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q31_corpus_clean" -> Query((s: SparkSession, d: String) => operators.CorpusPipeline.clean(s, d), oracle =
      // near-dup drop rule = union-find: DuckDB resolves the transitive
      // closure of verified pairs with a recursive CTE; a doc is dropped
      // iff some smaller id is reachable (mirrors Components.minLabel)
      s"""$shingleCteRec,
        |$minhashCtes,
        |$clusterCtes,
        |dups AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) < a),
        |stats AS (SELECT doc_id, md5($normSqlDuck) AS fp,
        |  (SELECT CASE
        |    WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
        |    WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
        |    WHEN s_es >= greatest(s_en, s_de, s_fr, s_zh) THEN 'es'
        |    WHEN s_fr >= greatest(s_en, s_de, s_es, s_zh) THEN 'fr'
        |    ELSE 'zh' END FROM (SELECT
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','a','of','and','is','to','in'))) AS s_en,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('der','die','das','und','ist','ein'))) AS s_de,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('el','la','de','y','es','un'))) AS s_es,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('le','la','les','et','est','un'))) AS s_fr,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('的','是','了','在','和'))) AS s_zh)) AS lang,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  least((length(text) - (len(string_split(text, ' ')) - 1)) * 1.0 / len(string_split(text, ' ')) / 8.0, 1.0) * 0.4
        |    + (1.0 - (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) * 1.0 / length(text)) * 0.3
        |    + least(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','is','to','in'))) * 1.0 / len(string_split(text, ' ')) * 4.0, 1.0) * 0.3 AS quality
        |  FROM documents),
        |canonical AS (SELECT fp, min(doc_id) AS keep_id FROM stats GROUP BY fp)
        |SELECT s.doc_id, s.fp, s.lang, s.ws_tokens, s.quality
        |FROM stats s
        |JOIN canonical c ON c.fp = s.fp AND c.keep_id = s.doc_id
        |WHERE s.doc_id NOT IN (SELECT doc_id FROM dups)
        |  AND s.quality >= 0.5
        |  AND s.lang IN ('en','de','es','fr','zh')
        |ORDER BY s.doc_id""".stripMargin),
    // native KMV theta estimator — integer-exact, fully oracle-gated
    // (round 9: retired the last rows-only carve-out)
    "q32_approx_sketches" -> Query(Relational.approxSketches _, oracle =
      // KMV bottom-64 theta estimator replayed exactly: per flag the 64
      // smallest distinct md5(key); est = 63·2⁶⁰ // 60-bit prefix of the
      // 64th (or the exact count below capacity); |err| in floor-div bp
      """WITH li AS (SELECT l_returnflag,
        |    CAST(l_partkey AS VARCHAR) AS pk, CAST(l_orderkey AS VARCHAR) AS ok
        |  FROM lineitem),
        |tru AS (SELECT l_returnflag, count(DISTINCT pk) AS true_parts,
        |    count(DISTINCT ok) AS true_orders FROM li GROUP BY 1),
        |dp AS (SELECT DISTINCT l_returnflag, md5(pk) AS h FROM li),
        |dk AS (SELECT DISTINCT l_returnflag, md5(ok) AS h FROM li),
        |rp AS (SELECT l_returnflag, h,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk FROM dp),
        |ro AS (SELECT l_returnflag, h,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk FROM dk),
        |ep AS (SELECT l_returnflag, count(*) AS nd,
        |    max(CASE WHEN rk = 64 THEN h END) AS h64
        |  FROM rp WHERE rk <= 64 GROUP BY 1),
        |eo AS (SELECT l_returnflag, count(*) AS nd,
        |    max(CASE WHEN rk = 64 THEN h END) AS h64
        |  FROM ro WHERE rk <= 64 GROUP BY 1),
        |est AS (SELECT ep.l_returnflag,
        |    CASE WHEN ep.nd < 64 THEN ep.nd::HUGEINT
        |         ELSE (63::HUGEINT * 1152921504606846976::HUGEINT)
        |              // ('0x' || substr(ep.h64, 1, 15))::BIGINT END AS est_parts,
        |    CASE WHEN eo.nd < 64 THEN eo.nd::HUGEINT
        |         ELSE (63::HUGEINT * 1152921504606846976::HUGEINT)
        |              // ('0x' || substr(eo.h64, 1, 15))::BIGINT END AS est_orders
        |  FROM ep JOIN eo ON eo.l_returnflag = ep.l_returnflag)
        |SELECT e.l_returnflag,
        |  CAST(e.est_parts AS BIGINT) AS est_parts,
        |  CAST(t.true_parts AS BIGINT) AS true_parts,
        |  CAST(abs(e.est_parts - t.true_parts) * 10000 // t.true_parts AS BIGINT)
        |    AS err_parts_bp,
        |  CAST(e.est_orders AS BIGINT) AS est_orders,
        |  CAST(t.true_orders AS BIGINT) AS true_orders,
        |  CAST(abs(e.est_orders - t.true_orders) * 10000 // t.true_orders AS BIGINT)
        |    AS err_orders_bp
        |FROM est e JOIN tru t ON t.l_returnflag = e.l_returnflag
        |ORDER BY e.l_returnflag""".stripMargin),
    "q33_asof_join" -> Query(operators.AsOf.clicksWithLastView _, oracle =
      """WITH views AS (SELECT user_id, ts, max(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |clicks AS (SELECT user_id, ts, event_id, value
        |  FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |  c.value, v.view_value AS asof_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin),
    "q34_range_join" -> Query(operators.RangeJoin.eventPairsWithin _, oracle =
      """SELECT a.event_id AS ea, b.event_id AS eb,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND b.ts > a.ts AND epoch_us(b.ts) - epoch_us(a.ts) <= 300000000
        |ORDER BY ea, eb""".stripMargin),
    "q35_set_ops" -> Query(Relational.setOps _, oracle =
      """WITH c96 AS (SELECT o_custkey FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01' AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'),
        |c97 AS (SELECT o_custkey FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01' AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'),
        |u AS (
        |  SELECT o_custkey, 'both' AS bucket FROM (SELECT o_custkey FROM c96 INTERSECT SELECT o_custkey FROM c97)
        |  UNION ALL
        |  SELECT o_custkey, 'only_1996' AS bucket FROM (SELECT o_custkey FROM c96 EXCEPT SELECT o_custkey FROM c97))
        |SELECT bucket, count(*) AS n FROM u GROUP BY bucket ORDER BY bucket""".stripMargin),
    "q36_analytic_windows" -> Query(Relational.analyticWindows _, oracle =
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
        |  CAST(lag(CAST(l_extendedprice AS DECIMAL(18,2)), 1)
        |    OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber) AS DOUBLE) AS prev_amount,
        |  CAST(lead(CAST(l_extendedprice AS DECIMAL(18,2)), 1)
        |    OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber) AS DOUBLE) AS next_amount,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |      OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber
        |            ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE)
        |    / count(*) OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber
        |            ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 4) AS moving_avg3
        |FROM lineitem WHERE l_suppkey < 10
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
    "q37_native_topk" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val o = graft.sources.Tables.load(s, d, "orders")
        .select(col("o_orderpriority"),
          col("o_totalprice").cast(DecimalType(18, 2)).cast("double").as("amount"))
      graft.plans.TopK.perGroup(o, Seq("o_orderpriority"), "amount", k = 3, ascending = false)
        .orderBy(col("o_orderpriority"), col("amount").desc)
    }, oracle =
      """SELECT o_orderpriority, amount FROM (
        |  SELECT o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, amount DESC""".stripMargin),
    "q38_hash_sample" -> Query(Relational.hashSample _, oracle =
      """SELECT l_returnflag, count(*) AS sampled_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sampled_qty
        |FROM lineitem
        |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 1) IN ('0', '1')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q39_cube" -> Query(Relational.cubeAgg _, oracle =
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amount_sum,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_priority
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_priority,
        |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
    "q40_ordered_dedup" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      // latest order per customer, deterministically (date desc, key asc)
      val o = graft.sources.Tables.load(s, d, "orders")
      operators.OrderedDedup.keepFirst(o, Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_order_date"))
        .orderBy(col("o_custkey"))
    }, oracle =
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS latest_order_date
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
    // union-find cluster resolution over verified MinHash near-dup
    // pairs: every doc in the pair graph labeled with its component's
    // min doc_id (iterative min-label propagation, no GraphX). Pairs
    // come from the hot-band-CAPPED LSH — a boilerplate cluster of b
    // docs would otherwise put O(b²) candidate pairs on one band key
    // before clustering even starts (the last unguarded skew edge in
    // the dedup stack); the cap is mirrored in the oracle's CTEs
    "q41_dedup_clusters" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val pairs = Dedup.minhashLshCapped(s, d, ordered = false)
        .select(col("da"), col("db"))
      operators.Components.minLabel(pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .orderBy(col("doc_id"))
    }, oracle =
      s"""$shingleCteRec,
        |$minhashCappedCtes,
        |$clusterCtes
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin),
    // two-phase salted aggregation under a genuinely skewed key
    // (l_returnflag: 3 hot values over the whole table) — exact for
    // decomposable aggregates, so the oracle is the PLAIN group-by
    "q42_skew_salted_agg" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val li = graft.sources.Tables.load(s, d, "lineitem")
      operators.Skew.saltedSumCount(li, col("l_returnflag"),
          col("l_quantity").cast(DecimalType(18, 2)), col("l_orderkey"), buckets = 32)
        .select(col("k").as("l_returnflag"),
          col("value_sum").cast("double").as("value_sum"), col("n"))
        .orderBy(col("l_returnflag"))
    }, oracle =
      // salting is exact for sum/count — the oracle is the plain group-by
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // IVF over TRAINED centroids (3 Lloyd iterations, integer-quantized
    // sum centroids — exact and engine-portable; see Vectors.trainCentroids)
    "q43_ann_ivf_trained" -> Query(Vectors.annIvfTrained _, oracle = ivfTrainedSqlDuck),
    // pretraining concat-and-chunk packing via distributed prefix sum
    "q44_sequence_pack" -> Query((s: SparkSession, d: String) =>
      operators.Packing.packDocuments(s, d), oracle =
      // global prefix semantics: the oracle states it as one window; the
      // engine computes the identical prefix with the distributed
      // bucket-offset scheme (Packing.packByPrefix)
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens FROM documents),
        |p AS (SELECT doc_id, tokens,
        |    CAST(coalesce(sum(tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS so
        |  FROM t)
        |SELECT doc_id, tokens, so // 256 AS seq_id, so % 256 AS offset_in_seq
        |FROM p ORDER BY doc_id""".stripMargin),
    // md5-keyed per-language mixture downsampling
    "q45_stratified_sample" -> Query(operators.Sampling.stratifiedDocSample _, oracle =
      """WITH k AS (SELECT lang,
        |  (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) <
        |    (CASE lang WHEN 'en' THEN 8 WHEN 'de' THEN 4 WHEN 'es' THEN 4 WHEN 'fr' THEN 2 WHEN 'zh' THEN 16 ELSE 16 END) AS keep
        |  FROM documents)
        |SELECT lang, count(*) AS n_total, count(*) FILTER (keep) AS n_sampled
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin),
    // corpus vocabulary tf/df stats, top-50 by document frequency
    "q46_vocab_stats" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.vocabStats(s, d), oracle =
      s"""WITH w AS (SELECT doc_id, unnest(string_split($normSqlDuck, ' ')) AS token FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |g AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df FROM w GROUP BY token)
        |SELECT token, tf, df, CAST(df AS DOUBLE) / n_docs AS df_ratio
        |FROM g, n ORDER BY df DESC, tf DESC, token LIMIT 50""".stripMargin),
    // Morton (Z-order) clustering key — multi-dimensional write layout
    "q47_zorder_key" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.sources.Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          graft.sources.ZOrder.zkey2(col("l_partkey"), col("l_suppkey")).as("zkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, oracle =
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_partkey, l_suppkey,
        |  ${graft.sources.ZOrder.zkey2Sql("l_partkey", "l_suppkey")} AS zkey
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // explicit GROUPING SETS through the spark.sql entry point — the
    // ANSI text is identical on both engines by construction
    "q48_grouping_sets" -> Query((s: SparkSession, d: String) => {
      graft.sources.Tables.registerAll(s, d)
      s.sql(groupingSetsSql)
    }, oracle = groupingSetsSql),
    // time-series resample + forward fill, per-key windows only
    "q49_gap_fill" -> Query((s: SparkSession, d: String) =>
      operators.TimeSeries.gapFillHourly(s, d), oracle =
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hour,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id < 5),
        |hourly AS (SELECT user_id, hour, CAST(sum(v) AS DECIMAL(18,2)) AS v FROM e GROUP BY 1, 2),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT user_id, min(hour) AS lo, max(hour) AS hi FROM e GROUP BY 1)),
        |f AS (SELECT g.user_id, g.hour, h.v IS NOT NULL AS observed,
        |    CAST(last_value(h.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS v_filled
        |  FROM grid g LEFT JOIN hourly h ON h.user_id = g.user_id AND h.hour = g.hour)
        |SELECT user_id, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, observed, v_filled
        |FROM f ORDER BY user_id, hour""".stripMargin),
    // batch gap-sessionization (lag + running sum), the batch analog
    // of streaming.EventStreams.sessionize
    "q50_sessionize_batch" -> Query((s: SparkSession, d: String) =>
      operators.TimeSeries.sessionizeBatch(s, d), oracle =
      """WITH e AS (SELECT user_id, ts, event_id, CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |w AS (SELECT user_id, ts, event_id, v,
        |    CASE WHEN lag(ts) OVER win IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER win) > 1800000000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, v,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM w)
        |SELECT user_id, session_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(v) AS DOUBLE) AS value_sum
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),
    // forward as-of join: earliest view at-or-after each click
    "q51_asof_forward" -> Query(operators.AsOf.clicksWithNextView _, oracle =
      """WITH views AS (SELECT user_id, ts, max(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |clicks AS (SELECT user_id, ts, event_id, value
        |  FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |  c.value, v.view_value AS asof_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts <= v.ts
        |ORDER BY c.event_id""".stripMargin),
    // UNPIVOT (wide -> long), the inverse of q29's pivot
    "q53_unpivot" -> Query(Relational.unpivotAgg _, oracle =
      """WITH p AS (SELECT o_orderpriority,
        |    count(*) FILTER (o_orderstatus = 'F') AS n_f,
        |    count(*) FILTER (o_orderstatus = 'O') AS n_o,
        |    count(*) FILTER (o_orderstatus = 'P') AS n_p
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, status, n FROM (
        |  SELECT o_orderpriority, 'F' AS status, n_f AS n FROM p
        |  UNION ALL SELECT o_orderpriority, 'O', n_o FROM p
        |  UNION ALL SELECT o_orderpriority, 'P', n_p FROM p) u
        |ORDER BY o_orderpriority, status""".stripMargin),
    // equal-width histogram: tiny min/max broadcast + map-only binning
    "q54_histogram" -> Query((s: SparkSession, d: String) => Relational.histogram(s, d), oracle =
      """WITH mm AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem),
        |b AS (SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / 10.0)), 9.0) AS BIGINT) AS bucket
        |  FROM lineitem, mm)
        |SELECT bucket, count(*) AS n FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
    // covariance/correlation from exact decimal power sums
    "q55_corr" -> Query(Relational.corrAgg _, oracle =
      // exact integer (cents) power sums, closed-form corr/covar in
      // double — deliberately NOT DuckDB's corr()/covar_samp()
      // (engine-specific accumulation); int64->double conversion rounds
      // identically everywhere, so both engines evaluate the same tree
      // over the same inputs
      """WITH q AS (SELECT l_returnflag,
        |    CAST(round(l_quantity * 100.0, 0) AS BIGINT) AS xc,
        |    CAST(round(l_extendedprice, 0) AS BIGINT) AS yc
        |  FROM lineitem),
        |s AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(CAST(sum(xc) AS BIGINT) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(yc) AS BIGINT) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(xc * yc) AS BIGINT) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(xc * xc) AS BIGINT) AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(yc * yc) AS BIGINT) AS DOUBLE) AS syy
        |  FROM q GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CASE WHEN n > 1 THEN
        |    (sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 100.0
        |  END AS covar_samp,
        |  CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
        |            AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0 THEN
        |    (CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
        |  END AS corr
        |FROM s ORDER BY l_returnflag""".stripMargin),
    // multimodal frame sampling (binary stride windows, no decode)
    "q57_frame_sample" -> Query((s: SparkSession, d: String) => Multimodal.frameSample(s, d), oracle =
      """WITH m AS (SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS byte_len FROM documents)
        |SELECT media_id, kind, CAST(byte_len AS BIGINT) AS byte_len,
        |  CAST(f AS BIGINT) AS frame_no,
        |  CAST((f - 1) * 64 + 1 AS BIGINT) AS "offset"
        |FROM m, unnest(generate_series(1, greatest(byte_len // 64, 1))) t(f)
        |ORDER BY media_id, frame_no""".stripMargin),
    // multimodal stub feature extraction over payload hex windows
    "q58_media_features" -> Query(Multimodal.mediaFeatures _, oracle =
      // features are arithmetic consequences of DECODED content: image
      // rows are solid-fill PNGs (mean R/G/B = the fill channels, exact
      // under integer div; f3 = pixel count), audio rows a PCM ramp
      // (first sample id%127, LAST sample forces a full-stream scan),
      // video rows the container geometry/track/duration round trip
      """WITH m AS (SELECT doc_id AS id, CAST(doc_id % 3 AS INT) AS k FROM documents)
        |SELECT id AS media_id,
        |  CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(CASE k WHEN 0 THEN id % 256
        |       WHEN 1 THEN 8000 + (id % 4) * 4000
        |       ELSE CASE WHEN id % 2 = 0 THEN 160 + (id % 16) * 8
        |                 ELSE 320 + (id % 32) * 4 END END AS BIGINT) AS f0,
        |  CAST(CASE k WHEN 0 THEN (id * 7) % 256
        |       WHEN 1 THEN 32 + id % 64
        |       ELSE CASE WHEN id % 2 = 0 THEN 120 + (id % 9) * 8
        |                 ELSE 240 + (id % 18) * 4 END END AS BIGINT) AS f1,
        |  CAST(CASE k WHEN 0 THEN (id * 13) % 256
        |       WHEN 1 THEN id % 127
        |       ELSE 1 + id % 3 END AS BIGINT) AS f2,
        |  CAST(CASE k WHEN 0 THEN (16 + id % 32) * (12 + id % 23)
        |       WHEN 1 THEN (id + 31 + id % 64) % 127
        |       ELSE CASE WHEN id % 2 = 0
        |                 THEN (20000 + (id % 30) * 1000) * (100 + id % 400) // 1000
        |                 ELSE 5000 + id % 9999 END END AS BIGINT) AS f3
        |FROM m ORDER BY media_id""".stripMargin),
    // array-function surface: per-vector dim / L2 norm / extrema
    "q59_vector_stats" -> Query(Vectors.vectorStats _, oracle =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT vec_id, CAST(len(v) AS BIGINT) AS dim,
        |  sqrt(list_dot_product(v, v)) AS norm,
        |  list_max(v) AS vmax, list_min(v) AS vmin
        |FROM e ORDER BY vec_id""".stripMargin),
    // benchmark decontamination: corpus docs overlapping the eval set
    "q61_decontamination" -> Query((s: SparkSession, d: String) =>
      Dedup.contaminationCheck(s, d), oracle =
      s"""$shingleCte,
        |es AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM sh JOIN es USING (s)
        |WHERE doc_id % 50 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // co-located bucketed join (no Exchange on either side) — the
    // result is gated against the plain-join oracle; the shuffle-free
    // plan shape itself is asserted in BucketingSpec
    "q60_bucketed_join" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      // table-name suffix = md5(path + source mtime): distinct dirs
      // (including case-only differences — Spark table names are
      // case-insensitive, so allowing A-Z wouldn't help) never collide,
      // and regenerating the source dir in-place changes the mtime so
      // the bucketed copy is rebuilt instead of serving stale data
      val sfx = {
        // fingerprint covers BOTH source tables' mtimes — regenerating
        // either one must invalidate the cached bucketed copies
        val mtimes = Seq("orders", "customer").map { t =>
          val p = new org.apache.hadoop.fs.Path(graft.sources.Tables.path(d, t))
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .getFileStatus(p).getModificationTime
        }
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$d|${mtimes.mkString("|")}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
      }
      // bucketed tables are written once per (dir, mtime) — repeated
      // Verify/Bench calls then measure the co-located join itself,
      // not two table rewrites
      if (!s.catalog.tableExists(s"b_orders_$sfx")) {
        val o = graft.sources.Tables.load(s, d, "orders")
          .select(col("o_custkey"), col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
        val c = graft.sources.Tables.load(s, d, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        graft.sources.Bucketing.writeBucketed(o, s"b_orders_$sfx", "o_custkey", 8)
        graft.sources.Bucketing.writeBucketed(c, s"b_customer_$sfx", "o_custkey", 8)
      }
      graft.sources.Bucketing.bucketedJoin(s, s"b_orders_$sfx", s"b_customer_$sfx", "o_custkey")
        .transform(priceTotalsBy("c_mktsegment"))
    }, oracle =
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // ranking window-function family over a total order
    "q56_rank_functions" -> Query(Relational.rankFunctions _, oracle =
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount,
        |  CAST(rank() OVER win AS BIGINT) AS rk,
        |  CAST(dense_rank() OVER win AS BIGINT) AS drk,
        |  percent_rank() OVER win AS prk,
        |  cume_dist() OVER win AS cd,
        |  CAST(ntile(4) OVER win AS BIGINT) AS quartile
        |FROM orders WHERE o_orderkey < 500
        |WINDOW win AS (PARTITION BY o_orderpriority
        |  ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin),
    // salted join under a skewed fact, gated against the plain join
    "q52_salted_join" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val li = graft.sources.Tables.load(s, d, "lineitem")
        .select(col("l_partkey"), col("l_quantity").cast(DecimalType(18, 2)).as("qty"),
          col("l_orderkey"))
      val dim = graft.sources.Tables.load(s, d, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      operators.Skew.saltedJoin(li, dim, "l_partkey", col("l_orderkey"), buckets = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).cast("double").as("qty_sum"))
        .orderBy(col("p_brand"))
    }, oracle =
      // salting is exact — the oracle is the plain join + group-by
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    // partition-scoped merge: base partitioned by o_orderstatus, a
    // delta touching only status F is merged, only that partition is
    // rewritten (dynamic partition overwrite; untouched-file proof in
    // MergeSpec) — gated on the merged table's per-status totals
    "q62_partition_merge" -> Query((s: SparkSession, d: String) => {
      val o = ordersPriced(s, d)
      // the base write is SETUP, memoized once per (sf dir, JVM) so
      // Bench times the MERGE itself; re-applying the merge on later
      // calls is idempotent (delta wins by key, delta derived from the
      // immutable source), so the gated result stays a pure function
      // of the source dir
      val base = fixture("pmerge", s, d, "orders")(path =>
        o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path))
      val delta = q79Delta(o)
      graft.etl.Dims.partitionScopedMerge(s, base, delta, "o_orderkey", "o_orderstatus")
      priceTotalsBy("o_orderstatus")(graft.sources.Tables.parquet(s, Seq(base)))
    }, oracle =
      // merge semantics expressed directly; the Spark side additionally
      // proves only the touched partition was rewritten (MergeSpec)
      partitionMergeOracleSql),
    // weighted sampling without pow(): max-of-w-md5-draws ≡ u^(1/w)
    "q63_weighted_sample" -> Query((s: SparkSession, d: String) =>
      operators.Sampling.weightedDocSample(s, d), oracle =
      """WITH c AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_words,
        |    length(text) AS n_chars,
        |    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','of','and','is','to','in'))) AS n_stopwords
        |  FROM documents),
        |q AS (SELECT doc_id,
        |    least((n_chars - (n_words - 1)) * 1.0 / n_words / 8.0, 1.0) * 0.4
        |      + (1.0 - n_punct * 1.0 / n_chars) * 0.3
        |      + least(n_stopwords * 1.0 / n_words * 4.0, 1.0) * 0.3 AS quality
        |  FROM c),
        |w AS (SELECT doc_id,
        |    CASE WHEN quality >= 0.8 THEN 4 WHEN quality >= 0.6 THEN 3
        |         WHEN quality >= 0.4 THEN 2 ELSE 1 END AS weight
        |  FROM q),
        |k AS (SELECT doc_id, weight,
        |    list_aggregate(list_transform(generate_series(1, weight),
        |      j -> md5(CAST(j AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR))), 'max') AS skey
        |  FROM w)
        |SELECT doc_id, CAST(weight AS BIGINT) AS weight, skey
        |FROM k ORDER BY skey DESC, doc_id LIMIT 200""".stripMargin),
    // overlapping token-window chunking (RAG / context prep), map-only
    "q64_chunk_docs" -> Query(TextAnalysis.chunkDocuments _, oracle =
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, s,
        |    least(32, len(w) - s + 1) AS chunk_len,
        |    md5(array_to_string(list_slice(w, s, s + least(32, len(w) - s + 1) - 1), ' ')) AS chunk_hash
        |  FROM w, unnest(generate_series(1, greatest(len(w), 1), 24)) t(s))
        |SELECT doc_id, CAST((s - 1) // 24 AS BIGINT) AS chunk_no, CAST(s AS BIGINT) AS start,
        |  CAST(chunk_len AS BIGINT) AS chunk_len, chunk_hash
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin),
    // tf-idf top terms per doc with exact rational idf (log-free)
    "q65_tfidf" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.tfidfTopTerms(s, d), oracle =
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSqlDuck, ' ')) AS term FROM documents),
        |t2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
        |  FROM tf JOIN df USING (term), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM s)
        |SELECT doc_id, term, tf, df, score, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),
    // PII scrub: inject deterministic PII, redact, count + hash
    "q66_pii_scrub" -> Query(TextAnalysis.piiScrub _, oracle =
      s"""WITH a AS (SELECT doc_id,
        |    text || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com from 10.'
        |      || CAST(doc_id % 200 AS VARCHAR) || '.0.1 tel 555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '${operators.TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(aug, '${operators.TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(aug, '${operators.TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
        |    '${operators.TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
        |    '${operators.TextAnalysis.Ipv4Re}', '<IP>', 'g'),
        |    '${operators.TextAnalysis.PhoneRe}', '<PHONE>', 'g')) AS scrub_hash
        |FROM a ORDER BY doc_id""".stripMargin),
    // within-doc repetition ratios (boilerplate / degenerate filter)
    "q67_repetition" -> Query(TextAnalysis.repetitionStats _, oracle =
      s"""WITH w AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS w FROM documents),
        |c AS (SELECT doc_id,
        |    len(w) AS n_tokens,
        |    len(list_distinct(w)) AS uniq_tokens,
        |    greatest(len(w) - 1, 0) AS n_bigrams,
        |    len(list_distinct(list_transform(generate_series(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1]))) AS uniq_bigrams
        |  FROM w),
        |r AS (SELECT doc_id, n_tokens, uniq_tokens, n_bigrams, uniq_bigrams,
        |    1.0 - CAST(uniq_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS rep_tokens,
        |    CASE WHEN n_bigrams > 0
        |         THEN 1.0 - CAST(uniq_bigrams AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |         ELSE 0.0 END AS rep_bigrams
        |  FROM c)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(uniq_tokens AS BIGINT) AS uniq_tokens,
        |  CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  CAST(uniq_bigrams AS BIGINT) AS uniq_bigrams,
        |  rep_tokens, rep_bigrams,
        |  CAST(CASE WHEN rep_bigrams > 0.5 THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM r ORDER BY doc_id""".stripMargin),
    // per-vector int8 min/max quantization (map-only)
    "q68_quantize" -> Query(Vectors.quantizeInt8 _, oracle =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax FROM e),
        |q AS (SELECT vec_id, vmin, vmax,
        |    CASE WHEN vmax > vmin THEN list_transform(v,
        |      x -> CAST(floor((x - vmin) * 255.0 / (vmax - vmin) + 0.5) AS BIGINT)) END AS q
        |  FROM m)
        |SELECT vec_id, vmin, vmax, q[1] AS q0, q[2] AS q1,
        |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum, list_max(q) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin),
    // bloom-style decontamination: 3×20-bit positions, ALL-hit probe
    "q69_bloom_decontamination" -> Query((s: SparkSession, d: String) =>
      Dedup.bloomContamination(s, d), oracle =
      s"""$shingleCte,
        |h AS (SELECT doc_id, s, md5(s) AS h FROM sh),
        |p AS (SELECT doc_id, s,
        |    ((((strpos('0123456789abcdef', substr(h, j*5 + 1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(h, j*5 + 2, 1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(h, j*5 + 3, 1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(h, j*5 + 4, 1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(h, j*5 + 5, 1)) - 1) AS pos
        |  FROM h, unnest(generate_series(0, 2)) t(j)),
        |bitset AS (SELECT DISTINCT pos FROM p WHERE doc_id % 50 = 0),
        |cand AS (SELECT p.doc_id, p.s FROM p JOIN bitset USING (pos)
        |  WHERE p.doc_id % 50 <> 0
        |  GROUP BY p.doc_id, p.s HAVING count(*) = 3)
        |SELECT doc_id, count(*) AS n_candidate_shingles
        |FROM cand GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // LSH with hot band buckets capped — the skew-safe gated variant
    "q70_lsh_capped" -> Query((s: SparkSession, d: String) =>
      Dedup.minhashLshCapped(s, d), oracle =
      s"""$shingleCte,
        |$minhashCappedCtes
        |SELECT x.da, x.db, round(x.i * 1.0 / (ca.n + cb.n - x.i), 4) AS jaccard
        |FROM inter x JOIN cnt ca ON ca.doc_id = x.da JOIN cnt cb ON cb.doc_id = x.db
        |WHERE round(x.i * 1.0 / (ca.n + cb.n - x.i), 4) >= 0.5
        |ORDER BY x.da, x.db""".stripMargin),
    // data-mixture planner: per-source keep rates toward equal token
    // budgets, with exact kept doc/token counts (integer end-to-end)
    "q71_mixture_plan" -> Query((s: SparkSession, d: String) =>
      operators.Sampling.mixturePlan(s, d), oracle =
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS h16
        |  FROM documents),
        |s AS (SELECT source, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY source),
        |m AS (SELECT min(n_tokens) AS min_tokens FROM s),
        |r AS (SELECT source, n_docs, n_tokens,
        |    least(16, greatest(1, (min_tokens * 16) // n_tokens)) AS rate16
        |  FROM s, m),
        |k AS (SELECT t.source, count(*) AS kept_docs, CAST(sum(toks) AS BIGINT) AS kept_tokens
        |  FROM t JOIN r USING (source) WHERE h16 < rate16 GROUP BY t.source)
        |SELECT r.source, n_docs, n_tokens, CAST(rate16 AS BIGINT) AS rate16,
        |  coalesce(kept_docs, 0) AS kept_docs, coalesce(kept_tokens, 0) AS kept_tokens
        |FROM r LEFT JOIN k USING (source) ORDER BY r.source""".stripMargin),
    // incremental ingest: new batch anti-joined against the historical
    // fingerprint store + within-batch keep-first
    "q72_incremental_ingest" -> Query((s: SparkSession, d: String) =>
      Dedup.incrementalIngest(s, d), oracle =
      s"""WITH f AS (SELECT doc_id, md5($normSqlDuck) AS fp FROM documents),
        |hist AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 8),
        |inc AS (SELECT doc_id, fp FROM f WHERE doc_id % 10 >= 8)
        |SELECT min(doc_id) AS doc_id, fp
        |FROM inc WHERE fp NOT IN (SELECT fp FROM hist)
        |GROUP BY fp ORDER BY doc_id""".stripMargin),
    // length-bucketed batching prep: percentile-boundary binning
    "q73_length_buckets" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.lengthBuckets(s, d), oracle =
      s"""WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
        |b AS (SELECT ${(1 until 8).map(i =>
            s"round(quantile_cont(toks, ${i / 8.0}), 4) AS b$i").mkString(", ")} FROM t),
        |a AS (SELECT doc_id, toks,
        |    CAST(1 + ${(1 until 8).map(i =>
            s"(CASE WHEN toks > b$i THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS bucket
        |  FROM t, b)
        |SELECT bucket, count(*) AS n_docs, min(toks) AS min_toks,
        |  max(toks) AS max_toks, CAST(sum(toks) AS BIGINT) AS sum_toks
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin),
    // chunk-level packing: chunkDocuments ∘ hierarchical prefix sum
    "q74_chunk_pack" -> Query((s: SparkSession, d: String) =>
      operators.Packing.packChunks(s, d), oracle =
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, s, least(32, len(w) - s + 1) AS chunk_len
        |  FROM w, unnest(generate_series(1, greatest(len(w), 1), 24)) t(s)),
        |t AS (SELECT doc_id, CAST((s - 1) // 24 AS BIGINT) AS chunk_no,
        |    CAST(chunk_len AS BIGINT) AS chunk_len,
        |    doc_id * 1024 + (s - 1) // 24 AS cid
        |  FROM c),
        |p AS (SELECT doc_id, chunk_no, chunk_len,
        |    CAST(coalesce(sum(chunk_len) OVER (ORDER BY cid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS so
        |  FROM t)
        |SELECT doc_id, chunk_no, chunk_len, so // 256 AS seq_id, so % 256 AS offset_in_seq
        |FROM p ORDER BY doc_id, chunk_no""".stripMargin),
    // manifest-committed snapshot table: overwrite-commit a base, then
    // upsert-commit a delta (delta wins + inserts), read the live
    // snapshot. Reader-atomicity/crash/vacuum proofs in SnapshotsSpec
    "q75_snapshot_merge" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val o = ordersPriced(s, d)
      // the seed commit is SETUP, memoized once per (sf dir, JVM) so
      // Bench times the upsert-commit itself; re-upserting the same
      // delta is idempotent (delta wins by key), and vacuum below
      // bounds version accumulation across repeated calls
      val table = fixture("snap", s, d, "orders") { path =>
        graft.sources.Snapshots.commitOverwrite(s, path,
          o.filter(col("o_orderkey") % 3 =!= 0))
      }
      val delta = o.filter(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 97 === 0)
        .withColumn("price", col("price") + lit(50).cast(DecimalType(18, 2)))
      graft.sources.Snapshots.commitMerge(s, table, delta, "o_orderkey")
      val out = priceTotalsBy("o_orderstatus")(graft.sources.Snapshots.read(s, table))
      graft.sources.Snapshots.vacuum(s, table) // live version is protected
      out
    }, oracle =
      // snapshot-commit merge semantics expressed directly: base rows
      // whose key the delta doesn't touch, plus the whole delta
      """WITH batch1 AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |delta AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) + CAST(50 AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 3 = 0 OR o_orderkey % 97 = 0),
        |merged AS (SELECT * FROM batch1
        |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        |  UNION ALL SELECT * FROM delta)
        |SELECT o_orderstatus, count(*) AS n, CAST(sum(price) AS DOUBLE) AS price_sum
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // deterministic training-order sharding: md5 shard + hierarchical
    // in-shard rank (never one window partition per shard)
    "q76_shard_order" -> Query((s: SparkSession, d: String) =>
      operators.Sharding.shardOrder(s, d), oracle =
      // shard = first 20 md5 bits mod 16 (same strpos hex recipe as q69);
      // the oracle's per-shard row_number equals the engine's
      // hierarchical offset+rank by construction (bucket is a key prefix)
      """WITH k AS (SELECT doc_id, md5('s|' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |s AS (SELECT doc_id, skey,
        |    (((((strpos('0123456789abcdef', substr(skey, 1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(skey, 2, 1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(skey, 3, 1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(skey, 4, 1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(skey, 5, 1)) - 1)) % 16 AS shard
        |  FROM k)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY substr(skey, 6), doc_id) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin),
    // out-of-vocabulary scoring vs the corpus top-32 vocabulary
    "q77_oov_score" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.oovScore(s, d), oracle =
      s"""WITH w AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS w FROM documents),
        |tk AS (SELECT doc_id, unnest(w) AS tok FROM w),
        |toks AS (SELECT doc_id, tok FROM tk WHERE length(tok) > 0),
        |vocab AS (SELECT tok FROM (
        |    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
        |  ORDER BY cnt DESC, tok LIMIT 32),
        |a AS (SELECT t.doc_id, count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, n_oov,
        |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_ratio
        |FROM a ORDER BY doc_id""".stripMargin),
    // robust per-source length outliers: exact median + MAD, 3-MAD flag
    "q78_length_outliers" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.lengthOutliers(s, d), oracle =
      // medians over integers land on multiples of 0.25 (R-7) — binary-
      // exact on both engines, so the 3-MAD comparison has no boundary
      """WITH t AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
        |m AS (SELECT source, round(quantile_cont(toks, 0.5), 4) AS med FROM t GROUP BY source),
        |d AS (SELECT t.source, t.toks, m.med, abs(t.toks - m.med) AS dev FROM t JOIN m USING (source)),
        |md AS (SELECT source, round(quantile_cont(dev, 0.5), 4) AS mad FROM d GROUP BY source)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN abs(d.toks - d.med) > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  d.med, md.mad
        |FROM d JOIN md USING (source)
        |GROUP BY d.source, d.med, md.mad
        |ORDER BY d.source""".stripMargin),
    // partition-scoped snapshot commit: the delta's single touched
    // partition is rewritten into a NEW data dir and published with a
    // CAS manifest claim; untouched partitions are REFERENCED by the
    // new manifest, never copied (byte-identity + multi-writer proofs
    // in SnapshotsSpec). Merge semantics equal q62's, so the oracle
    // states them identically; the timed region is the merge commit
    "q79_snapshot_partition_merge" -> Query((s: SparkSession, d: String) => {
      val o = ordersPriced(s, d)
      val table = ordersByStatus("snapp", s, d)
      val delta = q79Delta(o)
      graft.sources.Snapshots.commitMerge(s, table, delta,
        "o_orderkey", "o_orderstatus")
      val out = priceTotalsBy("o_orderstatus")(graft.sources.Snapshots.read(s, table))
      graft.sources.Snapshots.vacuum(s, table) // manifests bounded across reps
      out
    }, oracle =
      // identical merge semantics via the snapshot commit log; the
      // partition-referencing and CAS proofs live in SnapshotsSpec
      partitionMergeOracleSql),
    // snapshot version diff, manifest-pruned: partitions whose manifest
    // entry names the same immutable data dir in both versions are
    // skipped without reading a row, so diffing a daily one-partition
    // merge reads ONE partition twice, never two tables. The fixture
    // commits v1 (2/3 of orders, partitioned) and v2 (the q79 delta
    // merged) once per JVM; every call is a pure read of those two
    // immutable versions
    "q80_snapshot_diff" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val table = snapshotV1V2(s, d)
      graft.sources.Snapshots.diffVersionsPartitioned(s, table,
          "v00000001", "v00000002", "o_orderkey")
        .filter(col("change") =!= "unchanged")
        .select(col("change"),
          coalesce(col("_new.o_orderstatus"), col("_old.o_orderstatus")).as("o_orderstatus"))
        .groupBy(col("change"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("change"), col("o_orderstatus"))
    }, oracle =
      // diff of v1 (= batch1) against v2 (= batch1 merged with the q79
      // delta), stated naively as a full-outer join; the engine side is
      // the manifest-pruned variant, which must produce the same rows
      """WITH batch1 AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |delta AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) + CAST(50 AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 97 = 0),
        |merged AS (SELECT * FROM batch1
        |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        |  UNION ALL SELECT * FROM delta),
        |d AS (SELECT coalesce(b.o_orderstatus, a.o_orderstatus) AS o_orderstatus,
        |    CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |         WHEN b.o_orderkey IS NULL THEN 'removed'
        |         WHEN a.price <> b.price OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM batch1 a FULL OUTER JOIN merged b ON a.o_orderkey = b.o_orderkey)
        |SELECT change, o_orderstatus, count(*) AS n FROM d
        |WHERE change <> 'unchanged'
        |GROUP BY change, o_orderstatus ORDER BY change, o_orderstatus""".stripMargin),
    // REAL image decode (JDK javax.imageio, no stub): deterministic
    // PNG per doc encoded and decoded executor-side; the oracle states
    // dims + the fill pixel arithmetically, so only a real PNG
    // round trip matches
    "q81_image_decode" -> Query(Multimodal.imageDecode _, oracle =
      // the decoded dims/pixel of the deterministic PNG, stated as the
      // arithmetic the encoder used — a real encode→decode round trip is
      // the only way the Spark side can reproduce these values
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 32 AS BIGINT) AS width,
        |  CAST(12 + doc_id % 23 AS BIGINT) AS height,
        |  CAST(doc_id % 256 AS BIGINT) AS r,
        |  CAST((doc_id * 7) % 256 AS BIGINT) AS g,
        |  CAST((doc_id * 13) % 256 AS BIGINT) AS b
        |FROM documents ORDER BY media_id""".stripMargin),
    // REAL audio decode (JDK javax.sound.sampled): deterministic PCM
    // WAV per doc encoded and decoded executor-side; the oracle states
    // the header fields + first sample arithmetically
    "q84_audio_decode" -> Query(Multimodal.audioDecode _, oracle =
      // WAV header + first 16-bit LE sample as the encoder's arithmetic
      """SELECT doc_id AS media_id,
        |  CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(32 + doc_id % 64 AS BIGINT) AS n_frames,
        |  CAST(doc_id % 127 AS BIGINT) AS first_sample
        |FROM documents ORDER BY media_id""".stripMargin),
    // cross-corpus embedding near-dup: the incoming batch (vec_id%5=0)
    // probed against the corpus through the same md5-parity hyperplane
    // banding as q24 — "dedupe the new crawl against the lake"
    "q87_crosscorpus_neardup" -> Query((s: SparkSession, d: String) =>
      Vectors.lshCrossNearDup(s, d, Vectors.NearDupPlanes, Vectors.AdaptiveBands,
        Vectors.NearDupThreshold), oracle =
      // identical hyperplanes/signatures/count-adaptive banding to q24;
      // the only change is the candidate join pairing the batch split
      // against the corpus
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT len(v) AS dim FROM e LIMIT 1),
        |nn AS (SELECT count(*) AS n FROM e),
        |rr AS (SELECT greatest(3, CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END) AS rbits
        |  FROM (SELECT (n + 255) // 256 AS m FROM nn)),
        |pl AS (SELECT p, list(CASE WHEN ((strpos('0123456789abcdef', substr(md5(CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 2, 1)) - 1) & 1) = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END ORDER BY i) AS pv
        |  FROM (SELECT p, i FROM (SELECT unnest(generate_series(0, 59)) AS p), d, unnest(generate_series(0, dim - 1)) t(i))
        |  GROUP BY p),
        |sig AS (SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(pv, v) >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS sig
        |  FROM e, pl GROUP BY vec_id),
        |banded AS (SELECT vec_id, b, (sig >> (b * rbits)) & ((1::BIGINT << rbits) - 1) AS bits
        |  FROM sig, rr, unnest(generate_series(0, 60 // rbits - 1)) t(b)),
        |cand AS (SELECT DISTINCT l.vec_id AS batch_id, r.vec_id AS corpus_id
        |  FROM banded l JOIN banded r ON l.b = r.b AND l.bits = r.bits
        |  WHERE l.vec_id % 5 = 0 AND r.vec_id % 5 <> 0),
        |scored AS (SELECT c.batch_id, c.corpus_id,
        |    round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
        |  FROM cand c JOIN e a ON a.vec_id = c.batch_id JOIN e b ON b.vec_id = c.corpus_id)
        |SELECT batch_id, corpus_id, cos FROM scored WHERE cos >= 0.45
        |ORDER BY batch_id, corpus_id""".stripMargin),
    // BM25 lexical retrieval (rational log-free idf, 2-term corpus-top
    // query, TakeOrdered top-10) — the curation "find matching docs"
    // primitive; scoring op tree mirrored exactly in the oracle
    "q86_bm25_retrieval" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.bm25Retrieve(s, d), oracle =
      // identical tokenization to q65; the BM25 op tree is written with
      // the same association order as the Spark side, so doubles match
      // bit-for-bit (rational idf, no log)
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSqlDuck, ' ')) AS term FROM documents),
        |t2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |lens AS (SELECT doc_id, count(*) AS len FROM t2 GROUP BY doc_id),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY doc_id, term),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs, sum(len) AS tot_len FROM lens),
        |q AS (SELECT term, df FROM dft ORDER BY df DESC, term LIMIT 2),
        |s AS (SELECT doc_id,
        |    (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
        |          * (CAST(len AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS sc
        |  FROM tf JOIN q USING (term) JOIN lens USING (doc_id), n)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS matched, sum(sc) AS bm25
        |FROM s GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin),
    // JSONL ingest with dead-letter quarantine: documents exported as
    // JSON Lines plus 3 planted malformed lines; the explicit-schema
    // PERMISSIVE read quarantines each bad line into _corrupt_record
    // (clean rows flow on, nothing dropped, nothing fails) and the
    // gate counts both per-language rows and the quarantine bucket
    "q85_jsonl_ingest" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val table = fixture("jsonl", s, d, "documents") { path =>
        graft.sources.Tables.load(s, d, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
          .write.json(path)
        val p = new org.apache.hadoop.fs.Path(path, "part-corrupt.json")
        val out = p.getFileSystem(s.sparkContext.hadoopConfiguration).create(p, true)
        try out.write(
          "{not json\n{\"doc_id\": }\ngarbage\n".getBytes("UTF-8"))
        finally out.close()
      }
      val raw = graft.sources.JsonLines.readWithQuarantine(s, table, schema)
      raw.groupBy(when(col(graft.sources.JsonLines.CorruptCol).isNotNull, lit("_corrupt"))
          .otherwise(col("lang")).as("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }, oracle =
      // per-language counts of the clean rows + the 3 planted malformed
      // lines as the quarantine bucket — lossless ingest accounting
      """SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |UNION ALL SELECT '_corrupt' AS lang, 3 AS n
        |ORDER BY lang""".stripMargin),
    // manifest file-stats data skipping: orders committed key-clustered
    // (range-partitioned files) with per-file o_orderkey ranges; the
    // pruned range read opens only intersecting files (scan-file proof
    // in SnapshotsSpec) and must return exactly the filtered rows
    "q82_snapshot_skip" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val o = ordersPriced(s, d)
      val table = fixture("snapskip", s, d, "orders") { path =>
        graft.sources.Snapshots.commitOverwrite(s, path,
          o.repartitionByRange(8, col("o_orderkey")),
          statsCols = Seq("o_orderkey"))
      }
      graft.sources.Snapshots.readVersionPruned(s, table, "v00000001",
          "o_orderkey", BigDecimal(1000), BigDecimal(5000))
        .transform(priceTotalsBy("o_orderstatus"))
    }, oracle =
      // the pruned snapshot range read must equal the plain filter —
      // data skipping is an optimization, never a semantics change
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // Z-order layout × file stats = TWO-dimensional data skipping: the
    // snapshot is committed clustered by the Morton key of
    // (o_orderkey, o_custkey) with per-file stats on that key; a 2D
    // box query becomes one conservative z-range (the classic Z-curve
    // corner bound) pruned at file level, refined by the exact row
    // filter — so the oracle is the plain box filter. At 100 TB this
    // is how a point-in-rectangle read avoids opening the table.
    "q83_zorder_skip" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      import graft.sources.{Snapshots, ZOrder}
      val o = graft.sources.Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
      // domains from one tiny agg — deterministic per sf dir
      val r = o.agg(min(col("o_orderkey")).cast("long"), max(col("o_orderkey")).cast("long"),
        min(col("o_custkey")).cast("long"), max(col("o_custkey")).cast("long")).head()
      val (xlo, xhi, ylo, yhi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val table = fixture("snapz", s, d, "orders") { path =>
        val keyed = o.withColumn("z", ZOrder.zkey2(
          ZOrder.scaled(col("o_orderkey"), xlo, xhi, 16),
          ZOrder.scaled(col("o_custkey"), ylo, yhi, 16), 16))
        Snapshots.commitOverwrite(s, path,
          keyed.repartitionByRange(16, col("z")).sortWithinPartitions(col("z")),
          statsCols = Seq("z"))
      }
      // box: second quarter of each dimension (integer arithmetic the
      // oracle mirrors with DuckDB's // operator)
      val (bx1, bx2) = (xlo + (xhi - xlo) / 4, xlo + (xhi - xlo) / 3)
      val (by1, by2) = (ylo + (yhi - ylo) / 4, ylo + (yhi - ylo) / 3)
      val zlo = ZOrder.zvalue2(ZOrder.scaledValue(bx1, xlo, xhi),
        ZOrder.scaledValue(by1, ylo, yhi))
      val zhi = ZOrder.zvalue2(ZOrder.scaledValue(bx2, xlo, xhi),
        ZOrder.scaledValue(by2, ylo, yhi))
      Snapshots.readVersionPruned(s, table, "v00000001",
          "z", BigDecimal(zlo), BigDecimal(zhi))
        .filter(col("o_orderkey").between(bx1, bx2) &&
          col("o_custkey").between(by1, by2))
        .transform(priceTotalsBy("o_orderstatus"))
    }, oracle =
      // the z-range is a conservative superset refined by the exact box
      // filter, so the oracle is the PLAIN box query — data skipping can
      // never change semantics
      """WITH d AS (SELECT min(o_orderkey) AS xlo, max(o_orderkey) AS xhi,
        |    min(o_custkey) AS ylo, max(o_custkey) AS yhi FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders, d
        |WHERE o_orderkey BETWEEN xlo + (xhi - xlo) // 4 AND xlo + (xhi - xlo) // 3
        |  AND o_custkey BETWEEN ylo + (yhi - ylo) // 4 AND ylo + (yhi - ylo) // 3
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // DELETE WHERE on a partitioned snapshot: only partition O (the
    // only one containing matches) is rewritten minus the deleted
    // rows; F and P keep their files byte-identically (SnapshotsSpec).
    // Idempotent per call: once deleted, the predicate matches nothing
    // and commitDelete is a no-op that publishes no version
    "q88_snapshot_delete" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val table = ordersByStatus("snapdel", s, d)
      graft.sources.Snapshots.commitDelete(s, table,
        col("o_orderstatus") === "O" && col("o_orderkey") % 7 === 0)
      priceTotalsBy("o_orderstatus")(graft.sources.Snapshots.read(s, table))
    }, oracle =
      // DELETE removes rows where the predicate is TRUE; the engine-side
      // partition-scoped rewrite is proved in SnapshotsSpec
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders WHERE NOT (o_orderstatus = 'O' AND o_orderkey % 7 = 0)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // UPDATE ... SET ... WHERE with a cross-partition move: matching O
    // rows get status=F and a price bump, so they MOVE into partition
    // F — source and target partitions are rewritten together (a
    // manifest maps each partition to one owning dir), everything else
    // is referenced. RHS evaluated against the OLD row, cast back to
    // the declared decimal type. Idempotent per call: after the move
    // the predicate matches nothing
    "q89_snapshot_update" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val table = ordersByStatus("snapupd", s, d)
      graft.sources.Snapshots.commitUpdate(s, table,
        col("o_orderstatus") === "O" && col("o_orderkey") % 11 === 0,
        Seq("o_orderstatus" -> lit("F"),
          "price" -> (col("price") + lit(7).cast(DecimalType(18, 2)))))
      priceTotalsBy("o_orderstatus")(graft.sources.Snapshots.read(s, table))
    }, oracle =
      // UPDATE stated as a projection over the old rows (SQL UPDATE
      // semantics: every RHS sees the pre-update row)
      """WITH u AS (SELECT
        |    CASE WHEN o_orderstatus = 'O' AND o_orderkey % 11 = 0
        |         THEN 'F' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderstatus = 'O' AND o_orderkey % 11 = 0
        |         THEN CAST(o_totalprice AS DECIMAL(18,2)) + CAST(7 AS DECIMAL(18,2))
        |         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
        |  FROM orders)
        |SELECT o_orderstatus, count(*) AS n, CAST(sum(price) AS DOUBLE) AS price_sum
        |FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // RESTORE: v1 = full table, v2 = DELETE of partition F, v3 =
    // restore(v1) — a pure manifest republish, zero data copied, that
    // re-references v1's immutable dirs. The live read must equal v1
    // exactly, so the oracle is the PLAIN base aggregation
    "q90_snapshot_restore" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val o = ordersPriced(s, d)
      val table = fixture("snaprst", s, d, "orders") { path =>
        val v1 = graft.sources.Snapshots.commitOverwrite(s, path, o, partCol = "o_orderstatus")
        graft.sources.Snapshots.commitDelete(s, path, col("o_orderstatus") === "F")
        graft.sources.Snapshots.restore(s, path, v1)
      }
      priceTotalsBy("o_orderstatus")(graft.sources.Snapshots.read(s, table))
    }, oracle =
      // restore(v1) after a delete → the live table IS v1 again, so the
      // oracle is the plain base aggregation; the zero-copy manifest
      // republish is proved in SnapshotsSpec
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // change data feed between v1 (2/3 of orders) and v2 (the daily
    // delta merged): updates emit pre+post image rows, inserts one row,
    // unchanged keys nothing; partitions whose manifest entries name
    // the same immutable dir are skipped without reading a row (the
    // q80 pruning). The gate aggregates per change type over the
    // inline payload
    "q91_snapshot_cdf" -> Query((s: SparkSession, d: String) => {
      val table = snapshotV1V2(s, d)
      graft.sources.Snapshots.changeFeed(s, table,
          "v00000001", "v00000002", "o_orderkey")
        .transform(priceTotalsBy("_change_type"))
    }, oracle =
      // CDF of v1→v2 stated naively: full-outer join of the two version
      // contents, updates exploded into pre+post image rows; the engine
      // side is manifest-pruned, which must not change the rows
      """WITH batch1 AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |delta AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) + CAST(50 AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 97 = 0),
        |merged AS (SELECT * FROM batch1
        |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        |  UNION ALL SELECT * FROM delta),
        |j AS (SELECT a.o_orderkey AS ko, b.o_orderkey AS kn,
        |    a.price AS po, b.price AS pn,
        |    a.o_orderstatus AS so, b.o_orderstatus AS sn
        |  FROM batch1 a FULL OUTER JOIN merged b ON a.o_orderkey = b.o_orderkey),
        |cdc AS (
        |  SELECT 'insert' AS _change_type, pn AS price FROM j WHERE ko IS NULL
        |  UNION ALL SELECT 'delete', po FROM j WHERE kn IS NULL
        |  UNION ALL SELECT 'update_preimage', po FROM j
        |    WHERE ko IS NOT NULL AND kn IS NOT NULL AND (po <> pn OR so <> sn)
        |  UNION ALL SELECT 'update_postimage', pn FROM j
        |    WHERE ko IS NOT NULL AND kn IS NOT NULL AND (po <> pn OR so <> sn))
        |SELECT _change_type, count(*) AS n, CAST(sum(price) AS DOUBLE) AS price_sum
        |FROM cdc GROUP BY _change_type ORDER BY _change_type""".stripMargin),
    // deletion-vector delete: the fixture commits a partitioned base
    // and then deletes keys %13 = 0 as a DELETION VECTOR — one
    // key-parquet write, zero data files touched (byte-identity proof
    // in SnapshotsSpec); every read path anti-joins the vector,
    // scoped to the dirs that existed at delete time so re-inserts
    // are never masked. The gate reads the live version; the oracle
    // is the plain NOT-filter
    "q97_snapshot_dv" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val o = ordersPriced(s, d)
      val table = fixture("snapdv", s, d, "orders") { path =>
        graft.sources.Snapshots.commitOverwrite(s, path, o, partCol = "o_orderstatus")
        graft.sources.Snapshots.commitDeleteVector(s, path,
          o.filter(col("o_orderkey") % 13 === 0).select(col("o_orderkey")),
          "o_orderkey")
      }
      priceTotalsBy("o_orderstatus")(graft.sources.Snapshots.read(s, table))
    }, oracle =
      // the deletion vector must behave exactly as a row delete
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders WHERE o_orderkey % 13 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // BPE tokenizer-merge training: 8 greedy most-frequent-pair
    // merges over the top-256 word types; the oracle unrolls the
    // identical iterations (see bpeTrainSqlDuck)
    "q96_bpe_train" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.bpeTrain(s, d), oracle = bpeTrainSqlDuck),
    // tokenize with the learned merges via the broadcast type table;
    // per-doc whitespace vs BPE token counts
    "q98_bpe_apply" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.bpeApplyCounts(s, d), oracle = bpeApplySqlDuck),
    // bigram-LM rarity (perplexity-filter analog): rare iff
    // cnt2·50 < cnt1 — integer-exact, no float boundary
    "q99_bigram_rarity" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.bigramRarity(s, d), oracle =
      // context counts derived from the bigram counts, exactly as the
      // engine side; the single per-doc division is the only double
      s"""WITH w AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS ws FROM documents),
        |bg AS (SELECT doc_id, ws[t.i] AS w1, ws[t.i + 1] AS w2
        |  FROM w, unnest(generate_series(1, len(ws) - 1)) t(i)
        |  WHERE len(ws) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS cnt1 FROM c2 GROUP BY w1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(count(*) FILTER (WHERE cnt2 * 50 < cnt1) AS BIGINT) AS n_rare,
        |  CAST(count(*) FILTER (WHERE cnt2 * 50 < cnt1) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS rare_ratio
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // per-source winsorization: clip to exact R-7 [p25, p75]; the
    // clipped sum is a sum of exact dyadics — order-independent
    "q100_winsorize" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.winsorize(s, d), oracle =
      """WITH b AS (SELECT source,
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 4) AS p25,
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 4) AS p75
        |  FROM documents GROUP BY source)
        |SELECT source, p25, p75, count(*) AS n,
        |  CAST(count(*) FILTER (WHERE n_chars < p25) AS BIGINT) AS n_low,
        |  CAST(count(*) FILTER (WHERE n_chars > p75) AS BIGINT) AS n_high,
        |  sum(least(greatest(CAST(n_chars AS DOUBLE), p25), p75)) AS win_sum
        |FROM documents JOIN b USING (source)
        |GROUP BY source, p25, p75 ORDER BY source""".stripMargin),
    // product-quantization ANN with exact re-rank: 4×16 integer-exact
    // codebooks, 4-byte codes, ADC shortlist, exact top-5 (recall
    // proof on a clustered corpus in DedupSpec)
    "q101_ann_pq" -> Query((s: SparkSession, d: String) => Vectors.annPq(s, d), oracle = pqSqlDuck),
    // the round's curation composition: quality × bigram rarity ×
    // semantic dedup × train split, per-language verdict
    "q102_curation" -> Query((s: SparkSession, d: String) =>
      operators.CorpusPipeline.curate(s, d), oracle = curationSqlDuck),
    // REAL multi-frame decode: deterministic animated GIF per doc,
    // every frame decoded back via javax.imageio; the oracle states
    // the per-frame pixel arithmetic — only real frame extraction
    // matches
    "q103_gif_frames" -> Query(Multimodal.gifFrames _, oracle =
      // frame count, width and per-frame fill colors as pure arithmetic
      """WITH f AS (SELECT doc_id, 2 + doc_id % 5 AS n FROM documents),
        |fr AS (SELECT doc_id, n, t.i
        |  FROM f, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) t(i))
        |SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_frames,
        |  CAST(8 + doc_id % 8 AS BIGINT) AS width,
        |  CAST(sum((doc_id + 17 * i) % 256) AS BIGINT) AS r_sum,
        |  CAST((doc_id * 3 + 5 * (n - 1)) % 256 AS BIGINT) AS g_last
        |FROM fr GROUP BY doc_id, n ORDER BY media_id""".stripMargin),
    // edit-distance near-dup: Levenshtein verify over the capped LSH
    // candidates — the character-level lens alongside Jaccard/SimHash
    "q104_editdist_neardup" -> Query((s: SparkSession, d: String) =>
      Dedup.editDistanceNearDup(s, d), oracle =
      // same capped banding, Levenshtein verify (both engines implement
      // the classic unit-cost DP)
      s"""$shingleCteRec,
        |$cappedCandCtes,
        |nt AS (SELECT doc_id, $normSqlDuck AS t FROM documents)
        |SELECT c.da, c.db, CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
        |FROM cand c JOIN nt a ON a.doc_id = c.da JOIN nt b ON b.doc_id = c.db
        |WHERE levenshtein(a.t, b.t) <= 64
        |ORDER BY da, db""".stripMargin),
    // hashing-trick TF featurizer: stateless md5-bucket counts +
    // L1 weights, sparse exploded layout
    "q108_hashing_tf" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.hashingTf(s, d), oracle =
      // identical md5 two-hex-digit bucket arithmetic; the single
      // division per row is the only double
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSqlDuck, ' ')) AS tok FROM documents),
        |t2 AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
        |b AS (SELECT doc_id,
        |    CAST(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS BIGINT) * 16
        |      + CAST(strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS BIGINT) AS h
        |  FROM t2),
        |tf AS (SELECT doc_id, h % 16 AS dim, count(*) AS tf FROM b GROUP BY doc_id, h % 16)
        |SELECT doc_id, dim, tf,
        |  CAST(tf AS DOUBLE) / CAST(sum(tf) OVER (PARTITION BY doc_id) AS DOUBLE) AS weight
        |FROM tf ORDER BY doc_id, dim""".stripMargin),
    // INTERSECT ALL / EXCEPT ALL — bag semantics with multiplicities
    "q109_set_ops_all" -> Query(Relational.setOpsAll _, oracle =
      """WITH base AS (SELECT o_custkey,
        |    EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS y FROM orders
        |  WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) IN (1996, 1997)),
        |a AS (SELECT o_custkey FROM base WHERE y = 1996),
        |b AS (SELECT o_custkey FROM base WHERE y = 1997),
        |i AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
        |e AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |SELECT 'both_all' AS bucket, count(*) AS n FROM i
        |UNION ALL SELECT 'only_1996_all', count(*) FROM e
        |ORDER BY bucket""".stripMargin),
    // RANGE frame (trailing 30 days by value, not row count)
    "q110_range_frame" -> Query(Relational.rangeFrameWindow _, oracle =
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS oday,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_custkey < 200)
        |SELECT o_custkey, o_orderkey, oday,
        |  count(*) OVER w AS n_30d,
        |  CAST(sum(price) OVER w AS DOUBLE) AS spend_30d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY oday
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, oday, o_orderkey""".stripMargin),
    // incremental view maintenance: the q91 fixture's per-status
    // (count, sum) aggregate over v1 is refreshed to v2 by applying
    // the change feed as SIGNED deltas — never rescanning v2; the
    // oracle recomputes v2's aggregate directly, so the gate proves
    // incremental ≡ recompute exactly (decimal sums, no rounding)
    "q111_incremental_agg" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val table = snapshotV1V2(s, d)
      val baseAgg = graft.sources.Snapshots.readVersion(s, table, "v00000001")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("value_sum"))
      graft.sources.Snapshots.maintainAggregate(s, table,
          "v00000001", "v00000002", "o_orderkey", "o_orderstatus", "price", baseAgg)
        .select(col("o_orderstatus"), col("n"),
          col("value_sum").cast("double").as("value_sum"))
        .orderBy(col("o_orderstatus"))
    }, oracle =
      // the incrementally maintained aggregate must equal v2's direct
      // recompute — stated as the recompute
      """WITH batch1 AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |delta AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) + CAST(50 AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 97 = 0),
        |merged AS (SELECT * FROM batch1
        |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        |  UNION ALL SELECT * FROM delta)
        |SELECT o_orderstatus, count(*) AS n, CAST(sum(price) AS DOUBLE) AS value_sum
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // SCD Type 2 merge: customers seeded as current history rows; a
    // delta moves every key%7 to a new segment (close + reopen) and
    // touches key%11 with UNCHANGED attributes (no-op); brand-new keys
    // are impossible here so the gate isolates the drift logic
    "q106_scd2" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val c = graft.sources.Tables.load(s, d, "customer")
      val base = c.select(col("c_custkey"), col("c_mktsegment"),
        lit("2020-01-01").as("valid_from"), lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
      val delta = c.filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 11 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 7 === 0, lit("MOVED"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      operators.Scd.scd2Merge(base, delta, "c_custkey",
          Seq("c_mktsegment"), "2024-06-01")
        .orderBy(col("c_custkey"), col("valid_from"))
    }, oracle =
      // Type 2 semantics stated directly: changed current rows close at
      // the effective date and reopen with the new attributes; no-op
      // delta rows leave their key untouched
      """WITH delta AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg
        |  FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0),
        |changed AS (SELECT c.c_custkey FROM customer c JOIN delta d USING (c_custkey)
        |  WHERE c.c_mktsegment <> d.seg),
        |rows0 AS (
        |  SELECT c_custkey, c_mktsegment, '2020-01-01' AS valid_from,
        |      CASE WHEN c_custkey IN (SELECT c_custkey FROM changed)
        |           THEN '2024-06-01' END AS valid_to,
        |      c_custkey NOT IN (SELECT c_custkey FROM changed) AS is_current
        |    FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'MOVED', '2024-06-01', NULL, TRUE
        |    FROM changed)
        |SELECT c_custkey, c_mktsegment, valid_from, valid_to, is_current
        |FROM rows0 ORDER BY c_custkey, valid_from""".stripMargin),
    // point-in-time join over the SCD2 dimension: every key%7
    // customer moves segment at 1995-01-01 (mid TPC-H date range), so
    // each order picks the version valid AT ITS ORDER DATE; the
    // oracle states the equivalent closed form
    "q107_scd2_asof" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val c = graft.sources.Tables.load(s, d, "customer")
      val base = c.select(col("c_custkey"), col("c_mktsegment"),
        lit("1992-01-01").as("valid_from"), lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
      val delta = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit("MOVED").as("c_mktsegment"))
      val dim = operators.Scd.scd2Merge(base, delta, "c_custkey",
        Seq("c_mktsegment"), "1995-01-01")
      val o = graft.sources.Tables.load(s, d, "orders")
        .select(col("o_custkey").as("c_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
      operators.Scd.pointInTimeJoin(o, dim, "c_custkey", col("odate"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }, oracle =
      // the temporal join's closed form: pre-move orders of moved
      // customers read the ORIGINAL segment, post-move read MOVED
      """SELECT CASE WHEN c.c_custkey % 7 = 0 AND
        |            strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') >= '1995-01-01'
        |       THEN 'MOVED' ELSE c.c_mktsegment END AS c_mktsegment,
        |  count(*) AS n
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin),
    // THREE-dimensional Z-order data skipping: orders clustered on the
    // 48-bit Morton key of (orderkey, custkey, orderdate-epoch-day)
    // with per-file stats on it; a 3D box query becomes one
    // conservative z-range refined by the exact filter, so the oracle
    // is the plain box — same contract as q83, one dimension up
    "q105_zorder3d" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      import graft.sources.{Snapshots, ZOrder}
      val o = graft.sources.Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("o_day"),
          col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
      val r = o.agg(
        min(col("o_orderkey")).cast("long"), max(col("o_orderkey")).cast("long"),
        min(col("o_custkey")).cast("long"), max(col("o_custkey")).cast("long"),
        min(col("o_day")), max(col("o_day"))).head()
      val dom = (0 until 3).map(i => (r.getLong(2 * i), r.getLong(2 * i + 1)))
      val table = fixture("snapz3", s, d, "orders") { path =>
        val keyed = o.withColumn("z", ZOrder.zkeyN(Seq(
          ZOrder.scaled(col("o_orderkey"), dom(0)._1, dom(0)._2, 16),
          ZOrder.scaled(col("o_custkey"), dom(1)._1, dom(1)._2, 16),
          ZOrder.scaled(col("o_day"), dom(2)._1, dom(2)._2, 16))))
        Snapshots.commitOverwrite(s, path,
          keyed.repartitionByRange(16, col("z")).sortWithinPartitions(col("z")),
          statsCols = Seq("z"))
      }
      // box: second quarter of each dimension (integer arithmetic)
      val lo = dom.map { case (l, h) => l + (h - l) / 4 }
      val hi = dom.map { case (l, h) => l + (h - l) / 3 }
      val zlo = ZOrder.zvalueN((0 until 3).map(i =>
        ZOrder.scaledValue(lo(i), dom(i)._1, dom(i)._2)))
      val zhi = ZOrder.zvalueN((0 until 3).map(i =>
        ZOrder.scaledValue(hi(i), dom(i)._1, dom(i)._2)))
      Snapshots.readVersionPruned(s, table, "v00000001",
          "z", BigDecimal(zlo), BigDecimal(zhi))
        .filter(col("o_orderkey").between(lo(0), hi(0)) &&
          col("o_custkey").between(lo(1), hi(1)) &&
          col("o_day").between(lo(2), hi(2)))
        .transform(priceTotalsBy("o_orderstatus"))
    }, oracle =
      // the z-range is a conservative superset refined by the exact 3D
      // box filter, so the oracle is the PLAIN box query
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS o_day,
        |    o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders),
        |d AS (SELECT min(o_orderkey) AS k1, max(o_orderkey) AS k2,
        |    min(o_custkey) AS c1, max(o_custkey) AS c2,
        |    min(o_day) AS d1, max(o_day) AS d2 FROM o)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(price) AS DOUBLE) AS price_sum
        |FROM o, d
        |WHERE o_orderkey BETWEEN k1 + (k2 - k1) // 4 AND k1 + (k2 - k1) // 3
        |  AND o_custkey BETWEEN c1 + (c2 - c1) // 4 AND c1 + (c2 - c1) // 3
        |  AND o_day BETWEEN d1 + (d2 - d1) // 4 AND d1 + (d2 - d1) // 3
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // deterministic md5-nibble train/val/test split: stable under
    // corpus growth and repartitioning (no rand(), no sort-and-cut)
    "q94_dataset_split" -> Query((s: SparkSession, d: String) =>
      operators.Sampling.datasetSplit(s, d), oracle =
      // identical md5-nibble arithmetic to q45's keep-predicate
      """WITH b AS (SELECT lang, n_chars,
        |    strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib
        |  FROM documents)
        |SELECT CASE WHEN nib = 0 THEN 'test' WHEN nib = 1 THEN 'val'
        |       ELSE 'train' END AS split,
        |  lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM b GROUP BY split, lang ORDER BY split, lang""".stripMargin),
    // ORC round trip: documents written ORC (Spark's built-in
    // columnar alternative to parquet), read back, aggregated — the
    // oracle runs on the parquet originals, so the gate proves the
    // format conversion is lossless
    "q95_orc_roundtrip" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val table = fixture("orc", s, d, "documents") { path =>
        graft.sources.Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.orc(path)
      }
      s.read.orc(table)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars_sum"))
        .orderBy(col("lang"), col("source"))
    }, oracle =
      // the oracle reads the parquet originals — equality proves the
      // ORC conversion lossless
      """SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    // SemDeDup-style semantic dedup: trained k-means clusters bound
    // the pairwise cosine work to within-cluster joins (N²/k), greedy
    // keep-lowest-id; the oracle unrolls the identical training and
    // pair predicate
    "q92_semantic_dedup" -> Query((s: SparkSession, d: String) =>
      Vectors.semanticDedup(s, d), oracle = semanticDedupSqlDuck),
    // quality-aware canonical selection: per near-dup cluster (q41's
    // capped-LSH connected components) keep the HIGHEST-quality doc
    // (q19's quality score; doc_id tie-break) — dedup that keeps the
    // best copy, not the lowest id
    "q93_canonical_select" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val pairs = Dedup.minhashLshCapped(s, d, ordered = false)
        .select(col("da"), col("db"))
      val memb = operators.Components.minLabel(pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      val qual = TextAnalysis.qualityScore(s, d).select(col("doc_id"), col("quality"))
      val joined = memb.join(qual, Seq("doc_id"))
      operators.OrderedDedup.keepFirst(joined, Seq("cluster_id"),
          Seq(col("quality").desc, col("doc_id")))
        .select(col("cluster_id"), col("doc_id").as("kept_doc_id"), col("quality"))
        .orderBy(col("cluster_id"))
    }, oracle =
      // q41's recursive-CTE components + q19's quality formula; the
      // canonical row is the per-cluster quality argmax (doc_id breaks
      // ties), stated with one window
      s"""$shingleCteRec,
        |$minhashCappedCtes,
        |$clusterCtes,
        |memb AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |qm AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_words,
        |    length(text) AS n_chars,
        |    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','of','and','is','to','in'))) AS n_stopwords
        |  FROM documents),
        |qual AS (SELECT doc_id,
        |    least((n_chars - (n_words - 1)) * 1.0 / n_words / 8.0, 1.0) * 0.4
        |      + (1.0 - n_punct * 1.0 / n_chars) * 0.3
        |      + least(n_stopwords * 1.0 / n_words * 4.0, 1.0) * 0.3 AS quality
        |  FROM qm),
        |ranked AS (SELECT m.cluster_id, m.doc_id, q.quality,
        |    row_number() OVER (PARTITION BY m.cluster_id ORDER BY q.quality DESC, m.doc_id) AS rk
        |  FROM memb m JOIN qual q USING (doc_id))
        |SELECT cluster_id, doc_id AS kept_doc_id, quality
        |FROM ranked WHERE rk = 1 ORDER BY cluster_id""".stripMargin),
    "q112_funnel" -> Query((s: SparkSession, d: String) => operators.Behavioral.funnel(s, d), oracle =
      // ordered funnel: each stage's earliest qualifying event must fall
      // strictly after the previous stage's time and within 7 days of it
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 7 DAY GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL 7 DAY GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, count(*) AS users FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        |ORDER BY step""".stripMargin),
    "q113_cohort_retention" -> Query((s: SparkSession, d: String) => operators.Behavioral.cohortRetention(s, d), oracle =
      // weekly cohort retention: both ends are Monday-truncated, so the
      // day diff is an exact multiple of 7
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY 1),
        |a AS (SELECT e.user_id, f.cohort,
        |    date_diff('day', CAST(f.cohort AS DATE), CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS week_offset
        |  FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
        |  CAST(week_offset AS BIGINT) AS week_offset, count(DISTINCT user_id) AS users
        |FROM a GROUP BY cohort, week_offset ORDER BY 1, 2""".stripMargin),
    "q114_brand_pairs" -> Query((s: SparkSession, d: String) => operators.Affinity.brandPairs(s, d), oracle =
      // rank <= 64 mirrors the Spark side's BasketCap slice of the
      // per-order SORTED brand set (inert on TPC-H's <= 7-line baskets;
      // pinned here so both engines cap identically)
      """WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |capped AS (SELECT okey, brand FROM (
        |    SELECT okey, brand, row_number() OVER (PARTITION BY okey
        |      ORDER BY brand) AS rk FROM ob) WHERE rk <= 64),
        |pr AS (SELECT a.brand AS b1, b.brand AS b2
        |  FROM capped a JOIN capped b ON a.okey = b.okey AND a.brand < b.brand)
        |SELECT b1, b2, count(*) AS n_orders FROM pr GROUP BY 1, 2
        |ORDER BY n_orders DESC, b1, b2 LIMIT 30""".stripMargin),
    "q115_dup_spans" -> Query((s: SparkSession, d: String) => Dedup.duplicatedSpans(s, d), oracle =
      // duplicated-span coverage: positional 8-gram hashes; islands
      // (interval union) via running max of span ends per doc
      s"""WITH w AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS w FROM documents),
        |d AS (SELECT doc_id, w, len(w) AS n_toks FROM w WHERE len(w) >= 8),
        |sh AS (SELECT doc_id, n_toks, i - 1 AS pos,
        |    md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |        w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]) AS h
        |  FROM d, unnest(generate_series(1, len(w) - 7)) t(i)),
        |dup AS (SELECT h FROM sh GROUP BY h HAVING count(*) > 1),
        |c AS (SELECT doc_id, n_toks, pos FROM sh WHERE h IN (SELECT h FROM dup)),
        |m AS (SELECT doc_id, n_toks, pos,
        |    CASE WHEN pos > coalesce(max(pos) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 7, -1) THEN 1 ELSE 0 END AS brk
        |  FROM c),
        |isl AS (SELECT doc_id, n_toks, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |g AS (SELECT doc_id, min(n_toks) AS n_toks, max(pos) + 7 - min(pos) + 1 AS len
        |  FROM isl GROUP BY doc_id, island)
        |SELECT doc_id, CAST(min(n_toks) AS BIGINT) AS n_toks,
        |  CAST(sum(len) AS BIGINT) AS dup_tokens,
        |  CAST(sum(len) AS DOUBLE) / min(n_toks) AS dup_frac
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "q116_concurrency" -> Query((s: SparkSession, d: String) => operators.Behavioral.concurrencyProfile(s, d), oracle =
      // sweep-line concurrency: intervals [start, start+floor(value*60)s)
      // clipped to day boundaries; ties order (t, -1 before +1, event_id)
      """WITH e AS (SELECT event_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + CAST(floor(value * 60) AS BIGINT) * 1000000 AS e_us FROM events),
        |f AS (SELECT * FROM e WHERE e_us > s_us),
        |spans AS (SELECT event_id, s_us, e_us, CAST(d AS DATE) AS day
        |  FROM f, unnest(generate_series(CAST(make_timestamp(s_us) AS DATE),
        |                                 CAST(make_timestamp(e_us - 1) AS DATE),
        |                                 INTERVAL 1 DAY)) t(d)),
        |clip AS (SELECT event_id, day,
        |    greatest(s_us, epoch_us(CAST(day AS TIMESTAMP))) AS lo,
        |    least(e_us, epoch_us(CAST(day AS TIMESTAMP)) + 86400000000) AS hi
        |  FROM spans),
        |pts AS (SELECT day, lo AS t, CAST(1 AS BIGINT) AS delta, event_id FROM clip
        |  UNION ALL SELECT day, hi, -1, event_id FROM clip),
        |run AS (SELECT day, CAST(sum(delta) OVER (PARTITION BY day ORDER BY t, delta, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open FROM pts)
        |SELECT strftime(day, '%Y-%m-%d') AS day, count(*) // 2 AS sessions,
        |  max(open) AS max_concurrent
        |FROM run GROUP BY day ORDER BY day""".stripMargin),
    "q117_pagerank" -> Query((s: SparkSession, d: String) => operators.Affinity.pageRankCoSupply(s, d), oracle =
      // integer-exact PageRank, 3 unrolled rounds over the symmetric
      // co-supply graph; all arithmetic BIGINT floor division
      """WITH pairs AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey),
        |deg AS (SELECT src, count(*) AS d FROM pairs GROUP BY 1),
        |s0 AS (SELECT s_suppkey AS id, CAST(1000000 AS BIGINT) AS score FROM supplier),
        |c1 AS (SELECT p.dst, sum(s.score // g.d) AS in_c
        |  FROM pairs p JOIN s0 s ON p.src = s.id JOIN deg g ON g.src = p.src GROUP BY p.dst),
        |s1 AS (SELECT n.id, CAST(150000 + coalesce(c.in_c, 0) * 85 // 100 AS BIGINT) AS score
        |  FROM s0 n LEFT JOIN c1 c ON c.dst = n.id),
        |c2 AS (SELECT p.dst, sum(s.score // g.d) AS in_c
        |  FROM pairs p JOIN s1 s ON p.src = s.id JOIN deg g ON g.src = p.src GROUP BY p.dst),
        |s2 AS (SELECT n.id, CAST(150000 + coalesce(c.in_c, 0) * 85 // 100 AS BIGINT) AS score
        |  FROM s1 n LEFT JOIN c2 c ON c.dst = n.id),
        |c3 AS (SELECT p.dst, sum(s.score // g.d) AS in_c
        |  FROM pairs p JOIN s2 s ON p.src = s.id JOIN deg g ON g.src = p.src GROUP BY p.dst),
        |s3 AS (SELECT n.id, CAST(150000 + coalesce(c.in_c, 0) * 85 // 100 AS BIGINT) AS score
        |  FROM s2 n LEFT JOIN c3 c ON c.dst = n.id)
        |SELECT id AS s_suppkey, score FROM s3 ORDER BY score DESC, id LIMIT 20""".stripMargin),
    "q118_listagg" -> Query(Relational.listAgg _, oracle =
      // LISTAGG with a pinned order — both sides sort the distinct set
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  string_agg(DISTINCT strftime(o_orderdate, '%Y'), ',' ORDER BY strftime(o_orderdate, '%Y')) AS years,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    "q119_mode" -> Query(Relational.modalValue _, oracle =
      // deterministic mode: top count, ties to the LOWER quantity
      """WITH c AS (SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qty, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, qty, c,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY c DESC, qty) AS rn
        |  FROM c)
        |SELECT l_returnflag, qty AS mode_qty, c AS n_modal
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin),
    "q120_rolling_wau" -> Query((s: SparkSession, d: String) => operators.Behavioral.rollingWau(s, d), oracle =
      // rolling 7-day distinct users: each (user, active day) feeds the 7
      // window-ends it belongs to; windows clipped to observed days
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |c AS (SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS wend
        |  FROM du, unnest(generate_series(0, 6)) t(i)),
        |days AS (SELECT DISTINCT day FROM du)
        |SELECT strftime(c.wend, '%Y-%m-%d') AS day, count(*) AS wau
        |FROM c JOIN days ON c.wend = days.day GROUP BY c.wend ORDER BY 1""".stripMargin),
    "q121_anomaly_days" -> Query((s: SparkSession, d: String) => operators.Behavioral.anomalyDays(s, d), oracle =
      // 2-sigma anomaly days on the cross-multiplied integer form —
      // (n−1)(nx−Σx)² > 4n(nΣx²−(Σx)²) in HUGEINT, no float boundary
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx FROM daily GROUP BY 1)
        |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.x AS cents, st.n AS n_days
        |FROM daily d JOIN st USING (event_type)
        |WHERE st.n > 1
        |  AND CAST(st.n - 1 AS HUGEINT) * (CAST(st.n AS HUGEINT) * d.x - st.sx)
        |        * (CAST(st.n AS HUGEINT) * d.x - st.sx)
        |      > CAST(4 AS HUGEINT) * st.n * (CAST(st.n AS HUGEINT) * st.sxx - CAST(st.sx AS HUGEINT) * st.sx)
        |ORDER BY d.event_type, d.day""".stripMargin),
    "q122_skyline" -> Query((s: SparkSession, d: String) => operators.Skyline.customerFrontier(s, d), oracle =
      // skyline: the oracle is the naive quadratic NOT EXISTS dominance
      // definition; the engine's two-phase window kernel must equal it
      """WITH pts AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v1,
        |    count(*) AS v2 FROM orders GROUP BY 1)
        |SELECT p.o_custkey, CAST(p.v1 AS DOUBLE) AS spend, p.v2 AS n_orders
        |FROM pts p
        |WHERE NOT EXISTS (SELECT 1 FROM pts q
        |  WHERE q.v1 >= p.v1 AND q.v2 >= p.v2 AND (q.v1 > p.v1 OR q.v2 > p.v2))
        |ORDER BY p.o_custkey""".stripMargin),
    "q123_triangles" -> Query((s: SparkSession, d: String) => operators.Affinity.triangleCount(s, d), oracle =
      // degree-ordered triangle counting over the support-thresholded
      // part co-purchase graph; each triangle is exactly one closed
      // wedge; n_wedges = Σ outdeg·(outdeg−1)/2 audits the bound
      """WITH e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT id, count(*) AS d
        |  FROM (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0) GROUP BY 1),
        |o AS (SELECT CASE WHEN (ds.d, e0.src) < (dd.d, e0.dst) THEN e0.src ELSE e0.dst END AS u,
        |             CASE WHEN (ds.d, e0.src) < (dd.d, e0.dst) THEN e0.dst ELSE e0.src END AS v
        |  FROM e0 JOIN deg ds ON ds.id = e0.src JOIN deg dd ON dd.id = e0.dst),
        |w AS (SELECT o1.v AS y, o2.v AS z FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v),
        |t AS (SELECT count(*) AS n_triangles FROM w
        |  WHERE EXISTS (SELECT 1 FROM e0 WHERE e0.src = w.y AND e0.dst = w.z)),
        |nw AS (SELECT CAST(sum(od * (od - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM (SELECT u, count(*) AS od FROM o GROUP BY u))
        |SELECT t.n_triangles, nw.n_wedges FROM t, nw""".stripMargin),
    "q124_profile" -> Query((s: SparkSession, d: String) => operators.Profile.ordersProfile(s, d), oracle =
      // single-pass table profile of orders; formatting is
      // type-dispatched so min/max strings are engine-portable
      """SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_v, CAST(max(o_orderkey) AS VARCHAR) AS max_v
        |FROM orders
        |UNION ALL SELECT 'o_custkey', count(*),
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_custkey),
        |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
        |UNION ALL SELECT 'o_orderstatus', count(*),
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderstatus),
        |  min(o_orderstatus), max(o_orderstatus) FROM orders
        |UNION ALL SELECT 'o_totalprice', count(*),
        |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_totalprice),
        |  CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
        |  CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) FROM orders
        |UNION ALL SELECT 'o_orderdate', count(*),
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderdate),
        |  strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'), strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') FROM orders
        |UNION ALL SELECT 'o_orderpriority', count(*),
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderpriority),
        |  min(o_orderpriority), max(o_orderpriority) FROM orders
        |ORDER BY "column"""".stripMargin),
    // CHECK constraints end-to-end: a violating delta (odd keys,
    // negated prices) is REFUSED at commit time; only the conforming
    // delta lands — the final aggregate proves the refusal by content
    "q125_snapshot_check" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val o = ordersPriced(s, d)
      val table = fixture("snapcheck", s, d, "orders") { path =>
        graft.sources.Snapshots.commitOverwrite(s, path,
          o.filter(col("o_orderkey") % 2 === 0))
        graft.sources.Snapshots.setCheck(s, path, "price_positive", "price >= 0")
        val bad = o.filter(col("o_orderkey") % 2 === 1)
          .withColumn("price", -col("price"))
        val refused =
          try { graft.sources.Snapshots.commitMerge(s, path, bad, "o_orderkey"); false }
          catch { case _: graft.sources.CheckConstraintViolationException => true }
        require(refused, "q125: violating commit was NOT refused")
        graft.sources.Snapshots.commitMerge(s, path,
          o.filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 3 === 0),
          "o_orderkey")
      }
      priceTotalsBy("o_orderstatus")(graft.sources.Snapshots.read(s, table))
    }, oracle =
      // the refused delta (odd keys, negative prices) must be absent:
      // the surviving table is evens + odd multiples of 3, unmodified
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders
        |WHERE o_orderkey % 2 = 0 OR (o_orderkey % 2 = 1 AND o_orderkey % 3 = 0)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    "q126_event_paths" -> Query((s: SparkSession, d: String) => operators.Behavioral.eventPaths(s, d), oracle =
      // consecutive event-type trigrams per user stream, global top-20
      """WITH w AS (SELECT event_type,
        |    lead(event_type, 1) OVER win AS e2, lead(event_type, 2) OVER win AS e3
        |  FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
        |FROM w WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin),
    "q127_funnel_timing" -> Query((s: SparkSession, d: String) => operators.Behavioral.funnelTiming(s, d), oracle =
      // funnel transition delays in whole seconds; R-7 quantiles on
      // integers are dyadic — binary-exact on both engines
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 7 DAY GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL 7 DAY GROUP BY 1),
        |d1 AS (SELECT (epoch_us(s2.t) - epoch_us(s1.t)) // 1000000 AS delay_s
        |  FROM s1 JOIN s2 USING (user_id)),
        |d2 AS (SELECT (epoch_us(s3.t) - epoch_us(s2.t)) // 1000000 AS delay_s
        |  FROM s2 JOIN s3 USING (user_id))
        |SELECT 'view>click' AS transition, count(*) AS n_users,
        |  round(quantile_cont(delay_s, 0.5), 4) AS median_s,
        |  round(quantile_cont(delay_s, 0.9), 4) AS p90_s FROM d1
        |UNION ALL SELECT 'click>purchase', count(*),
        |  round(quantile_cont(delay_s, 0.5), 4), round(quantile_cont(delay_s, 0.9), 4) FROM d2
        |ORDER BY transition""".stripMargin),
    "q128_attribution" -> Query((s: SparkSession, d: String) => operators.Behavioral.attribution(s, d), oracle =
      // first/last-touch attribution: per-user timeline totally ordered
      // by (ts, event_id); purchases with no prior touch → 'direct'
      """WITH e AS (SELECT event_id, user_id, event_type, ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
        |t AS (SELECT *,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM e),
        |p AS (SELECT coalesce(ft, 'direct') AS fc, coalesce(lt, 'direct') AS lc, cents
        |  FROM t WHERE event_type = 'purchase'),
        |f AS (SELECT fc AS channel, CAST(sum(cents) AS BIGINT) AS first_touch_cents,
        |    count(*) AS n_first FROM p GROUP BY 1),
        |l AS (SELECT lc AS channel, CAST(sum(cents) AS BIGINT) AS last_touch_cents,
        |    count(*) AS n_last FROM p GROUP BY 1)
        |SELECT channel,
        |  CAST(coalesce(first_touch_cents, 0) AS BIGINT) AS first_touch_cents,
        |  CAST(coalesce(n_first, 0) AS BIGINT) AS n_first,
        |  CAST(coalesce(last_touch_cents, 0) AS BIGINT) AS last_touch_cents,
        |  CAST(coalesce(n_last, 0) AS BIGINT) AS n_last
        |FROM f FULL OUTER JOIN l USING (channel) ORDER BY channel""".stripMargin),
    "q129_group_regression" -> Query(Relational.groupRegression _, oracle =
      // per-group OLS: exact integer sufficient statistics, then ONE
      // mirrored IEEE expression tree (same recipe as q55)
      """WITH xy AS (SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y FROM lineitem),
        |s AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0
        |       THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope_cents_per_unit,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0
        |       THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n END AS intercept_cents
        |FROM s ORDER BY l_returnflag""".stripMargin),
    "q130_ewma" -> Query((s: SparkSession, d: String) => operators.Behavioral.ewmaDaily(s, d), oracle = {
      // windowed dyadic EWMA: BIGINT numerator/denominator, one final
      // double division
      val ord = "OVER (PARTITION BY event_type ORDER BY day)"
      val num = (0 until 8).map(k =>
        if (k == 0) "cents * 128"
        else s"coalesce(lag(cents, $k) $ord * ${1L << (7 - k)}, 0)").mkString(" + ")
      val den = (0 until 8).map(k =>
        if (k == 0) "128"
        else s"CASE WHEN lag(cents, $k) $ord IS NOT NULL THEN ${1L << (7 - k)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, cents,
        |    $num AS num,
        |    $den AS den
        |  FROM daily)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cents,
        |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma_cents
        |FROM w ORDER BY event_type, day""".stripMargin
    }),
    "q131_kcore" -> Query((s: SparkSession, d: String) => operators.Affinity.kCore(s, d), oracle = {
      // 4-round k-core peel (k=4) over q123's support-2 co-purchase
      // graph; each round drops degree<k nodes and restricts the edges
      // every CTE MATERIALIZED: DuckDB inlines plain CTEs, and each
      // round references the previous edge set THREE times (degree
      // count + two membership probes) — non-materialized, the e0
      // self-join re-evaluates ~3^4 times and the sf0.1 sweep ran out
      // of 79 GB of temp. Materialize-once + equi-join membership (ids
      // are unique in s_i, so the join IS a semi-join) bounds the whole
      // oracle at one evaluation per round.
      val rounds = (0 until 4).map { i =>
        s"""d$i AS MATERIALIZED (SELECT id, count(*) AS d
          |  FROM (SELECT src AS id FROM e$i UNION ALL SELECT dst FROM e$i) GROUP BY 1),
          |s$i AS MATERIALIZED (SELECT id FROM d$i WHERE d >= 4),
          |e${i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e$i e
          |  JOIN s$i sa ON sa.id = e.src JOIN s$i sb ON sb.id = e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |$rounds
        |SELECT id AS p_partkey, count(*) AS core_degree
        |FROM (SELECT src AS id FROM e4 UNION ALL SELECT dst FROM e4)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    "q132_bfs_hops" -> Query((s: SparkSession, d: String) => operators.Affinity.bfsHops(s, d), oracle = {
      // 3-round BFS min-hop relaxation from the %10=0 seed suppliers
      // over q117's co-supply graph
      val rounds = (0 until 3).map { i =>
        s"""d${i + 1} AS (SELECT id, min(dist) AS dist FROM (
          |    SELECT id, dist FROM d$i
          |    UNION ALL
          |    SELECT p.dst AS id, d$i.dist + 1 FROM pairs p JOIN d$i ON p.src = d$i.id)
          |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey),
        |d0 AS (SELECT s_suppkey AS id, CAST(0 AS BIGINT) AS dist
        |  FROM supplier WHERE s_suppkey % 10 = 0),
        |$rounds
        |SELECT id AS s_suppkey, CAST(dist AS BIGINT) AS dist FROM d3 ORDER BY 1""".stripMargin
    }),
    "q133_sig_jaccard" -> Query((s: SparkSession, d: String) => Dedup.signatureJaccard(s, d), oracle =
      // signature-estimated vs exact Jaccard over the capped candidates;
      // pairs with no shared shingle report exact 0 via the left join
      s"""$shingleCte,
        |$cappedCandCtes,
        |$jaccardVerifyCtes,
        |eq AS (SELECT c.da, c.db,
        |    CAST(${(0 until 12).map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")} AS BIGINT) AS n_equal
        |  FROM cand c JOIN sig sa ON sa.doc_id = c.da JOIN sig sb ON sb.doc_id = c.db)
        |SELECT e.da, e.db, e.n_equal, CAST(e.n_equal AS DOUBLE) / 12.0 AS est_sim,
        |  round(CAST(coalesce(x.i, 0) AS DOUBLE) / (ca.n + cb.n - coalesce(x.i, 0)), 4) AS jaccard
        |FROM eq e LEFT JOIN inter x ON x.da = e.da AND x.db = e.db
        |JOIN cnt ca ON ca.doc_id = e.da JOIN cnt cb ON cb.doc_id = e.db
        |ORDER BY e.da, e.db""".stripMargin),
    "q134_fk_audit" -> Query(Relational.fkAudit _, oracle = {
      // star-schema referential-integrity audit: one row per FK edge
      def edge(label: String, child: String, ck: String,
               parent: String, pk: String): String =
        s"""SELECT '$label' AS fk,
          |  (SELECT count(*) FROM $child) AS n_child,
          |  (SELECT CAST(coalesce(sum(CASE WHEN $ck IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
          |     FROM $child) AS n_null_keys,
          |  (SELECT count(*) FROM $child c WHERE c.$ck IS NOT NULL
          |     AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck)) AS n_orphans""".stripMargin
      Seq(
        edge("lineitem.l_orderkey>orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edge("lineitem.l_partkey>part", "lineitem", "l_partkey", "part", "p_partkey"),
        edge("lineitem.l_suppkey>supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        edge("orders.o_custkey>customer", "orders", "o_custkey", "customer", "c_custkey"),
        edge("customer.c_nationkey>nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        edge("supplier.s_nationkey>nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        edge("nation.n_regionkey>region", "nation", "n_regionkey", "region", "r_regionkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fk")
    }),
    "q135_readability" -> Query((s: SparkSession, d: String) => TextAnalysis.readability(s, d), oracle =
      // Flesch readability: three integer counts, one mirrored double
      // expression, banding over the identical double
      """WITH b AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_words,
        |    CAST(greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+'), x -> len(trim(x)) > 0)), 1) AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
        |  FROM documents),
        |f AS (SELECT doc_id, n_words, n_sentences, n_syllables,
        |    206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |            - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
        |  FROM b WHERE n_words > 0)
        |SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
        |  CASE WHEN flesch >= 70.0 THEN 'easy'
        |       WHEN flesch >= 50.0 THEN 'medium' ELSE 'hard' END AS band
        |FROM f ORDER BY doc_id""".stripMargin),
    "q136_k_anonymity" -> Query((s: SparkSession, d: String) => operators.Privacy.customerKAnonymity(s, d), oracle =
      // k-anonymity audit: quasi-identifier groups under k=10
      """SELECT c_nationkey, c_mktsegment, count(*) AS n
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 10
        |ORDER BY 1, 2""".stripMargin),
    // incremental JOIN-view maintenance: two snapshot tables (orders
    // facts keyed o_orderkey, customers keyed c_custkey) each advance
    // one version (A: price updates on %97 keys + %15 inserts; B:
    // nation moves on %13 keys); the per-nation revenue view is
    // maintained from BOTH change feeds via the signed IVM expansion
    // ΔA⋈B₀ + A₀⋈ΔB + ΔA⋈ΔB — the oracle recomputes the view from
    // the FINAL states directly, so the gate proves the algebra
    "q137_incremental_join" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val D182 = DecimalType(18, 2)
      val o = graft.sources.Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast(D182).as("price"))
      val c = graft.sources.Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val root = fixture("snapjoin", s, d, "orders") { path =>
        graft.sources.Snapshots.commitOverwrite(s, s"$path/a",
          o.filter(col("o_orderkey") % 3 =!= 0))
        graft.sources.Snapshots.commitMerge(s, s"$path/a",
          o.filter(col("o_orderkey") % 3 =!= 0 && col("o_orderkey") % 97 === 0)
            .withColumn("price", col("price") + lit(50).cast(D182))
            .unionByName(o.filter(col("o_orderkey") % 15 === 0)), "o_orderkey")
        graft.sources.Snapshots.commitOverwrite(s, s"$path/b", c)
        graft.sources.Snapshots.commitMerge(s, s"$path/b",
          c.filter(col("c_custkey") % 13 === 0)
            .withColumn("c_nationkey", (col("c_nationkey") + 7) % 25), "c_custkey")
      }
      val baseAgg = graft.sources.Snapshots.readVersion(s, s"$root/a", "v00000001")
        .join(graft.sources.Snapshots.readVersion(s, s"$root/b", "v00000001"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("value_sum"))
      graft.sources.Snapshots.maintainJoinAggregate(s,
          s"$root/a", "v00000001", "v00000002", "o_orderkey", "o_custkey", "price",
          s"$root/b", "v00000001", "v00000002", "c_custkey", "c_nationkey",
          baseAgg)
        .select(col("c_nationkey"), col("n"),
          col("value_sum").cast("double").as("value_sum"))
        .orderBy(col("c_nationkey"))
    }, oracle =
      // the oracle computes the view from the FINAL table states; the
      // engine must land on identical numbers via the incremental path
      """WITH fa AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) +
        |      CASE WHEN o_orderkey % 97 = 0 THEN CAST(50 AS DECIMAL(18,2))
        |           ELSE CAST(0 AS DECIMAL(18,2)) END AS price
        |  FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(18,2))
        |  FROM orders WHERE o_orderkey % 15 = 0),
        |fb AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 13 = 0 THEN (c_nationkey + 7) % 25
        |         ELSE c_nationkey END AS c_nationkey
        |  FROM customer)
        |SELECT fb.c_nationkey, count(*) AS n, CAST(sum(fa.price) AS DOUBLE) AS value_sum
        |FROM fa JOIN fb ON fa.o_custkey = fb.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "q138_order_streaks" -> Query((s: SparkSession, d: String) => operators.TimeSeries.longestStreak(s, d), oracle =
      // gaps-and-islands at month grain: add_months(m, -rn) is constant
      // within a consecutive run; best streak picked by (len, start) desc
      """WITH months AS (SELECT DISTINCT o_custkey,
        |    CAST(date_trunc('month', o_orderdate) AS DATE) AS m FROM orders),
        |r AS (SELECT o_custkey, m,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS rn FROM months),
        |isl AS (SELECT o_custkey, CAST(m - to_months(CAST(rn AS INTEGER)) AS DATE) AS grp, m FROM r),
        |g AS (SELECT o_custkey, grp, count(*) AS len,
        |    strftime(min(m), '%Y-%m-%d') AS streak_start
        |  FROM isl GROUP BY 1, 2),
        |p AS (SELECT o_custkey, len, streak_start,
        |    CAST(sum(len) OVER (PARTITION BY o_custkey) AS BIGINT) AS active_months,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY len DESC, streak_start DESC) AS rn
        |  FROM g)
        |SELECT o_custkey, len AS streak_months, streak_start, active_months
        |FROM p WHERE rn = 1
        |ORDER BY streak_months DESC, active_months DESC, o_custkey LIMIT 20""".stripMargin),
    "q139_rolling_stats" -> Query((s: SparkSession, d: String) => operators.Behavioral.rollingDailyStats(s, d), oracle =
      // rolling 7-obs daily stats: integer min/max, q30-contract median,
      // mean as one exact-integer division
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cents,
        |  round(quantile_cont(cents, 0.5) OVER w, 4) AS med7,
        |  CAST(CAST(sum(cents) OVER w AS BIGINT) AS DOUBLE) /
        |    CAST(count(*) OVER w AS DOUBLE) AS avg7,
        |  CAST(min(cents) OVER w AS BIGINT) AS min7,
        |  CAST(max(cents) OVER w AS BIGINT) AS max7
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin),
    // the reference's SQL-UDF surface driven THROUGH spark.sql — the
    // functions are extension-registered catalyst trees, not UDFs
    "q140_sql_surface" -> Query((s: SparkSession, d: String) => {
      graft.sources.Tables.registerAll(s, d)
      s.sql("""SELECT p_brand, norm_body(p_brand) AS body,
              |  to_bool_safe(CASE WHEN p_size % 2 = 0 THEN 'Y' ELSE 'off' END) AS flag,
              |  count(*) AS n
              |FROM part GROUP BY p_brand, body, flag
              |ORDER BY p_brand, flag""".stripMargin)
    }, oracle =
      // mirrors the norm_body/to_bool_safe trees the SQL functions wrap
      """WITH c AS (SELECT p_brand, p_size,
        |    regexp_replace(p_brand, '[^A-Za-z0-9]', '', 'g') AS cleaned FROM part),
        |b AS (SELECT p_brand,
        |    CASE WHEN p_brand IS NULL OR trim(p_brand) = '' THEN NULL
        |         ELSE nullif(regexp_extract(upper(cleaned), '([A-Z]{3})', 1), '')
        |              || '-' ||
        |              lpad(nullif(regexp_extract(cleaned, '([0-9]{1,3})', 1), ''), 3, '0')
        |    END AS body,
        |    (p_size % 2 = 0) AS flag
        |  FROM c)
        |SELECT p_brand, body, flag, count(*) AS n
        |FROM b GROUP BY 1, 2, 3 ORDER BY p_brand, flag""".stripMargin),
    // incremental LSH index maintenance: the indexed corpus
    // contributes only its PERSISTED raw signatures (built once as a
    // fixture — its text is never re-shingled); the delta slice
    // (doc_id % 10 = 3) is shingled, signed, band-joined against the
    // index, and verified by signature agreement. The oracle
    // recomputes capped LSH over the full corpus and restricts to
    // pairs involving the delta — proving the incremental algebra
    "q141_incremental_lsh" -> Query((s: SparkSession, d: String) => {
      val idx = fixture("lshidx", s, d, "documents") { path =>
        operators.Dedup.lshIndexSignatures(s, d).write.parquet(path)
      }
      operators.Dedup.incrementalLsh(s, d, idx)
    }, oracle =
      // full capped-LSH recompute restricted to pairs with >= 1 delta
      // member — the incremental path must reproduce it exactly
      s"""$shingleCte,
        |$cappedCandCtes,
        |dcand AS (SELECT da, db FROM cand WHERE da % 10 = 3 OR db % 10 = 3),
        |eq AS (SELECT c.da, c.db,
        |    CAST(${(0 until 12).map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")} AS BIGINT) AS n_equal
        |  FROM dcand c JOIN sig sa ON sa.doc_id = c.da JOIN sig sb ON sb.doc_id = c.db)
        |SELECT da, db, n_equal, CAST(n_equal AS DOUBLE) / 12.0 AS est_sim
        |FROM eq WHERE n_equal >= 6 ORDER BY da, db""".stripMargin),
    // asymmetric containment near-dup (inclusion duplicates)
    "q142_containment" -> Query((s: SparkSession, d: String) => operators.Dedup.containment(s, d), oracle =
      // directed containment over the capped shingle index; integer-
      // exact threshold i*10 >= na*8, na >= 5
      s"""$shingleCte,
        |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 20),
        |shc AS (SELECT doc_id, s FROM sh ANTI JOIN hot USING (s)),
        |cnt AS (SELECT doc_id, count(*) AS na FROM shc GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT x.da, x.db, c.na, x.i,
        |  round(CAST(x.i AS DOUBLE) / c.na, 4) AS containment
        |FROM inter x JOIN cnt c ON c.doc_id = x.da
        |WHERE x.i * 10 >= c.na * 8 AND c.na >= 5
        |ORDER BY x.da, x.db""".stripMargin),
    // item-item collaborative-filtering cosine over order baskets
    "q143_item_cf" -> Query((s: SparkSession, d: String) => operators.Affinity.itemSimilarity(s, d), oracle =
      // cosine surrogate co^2 * 1e8 div (deg_a * deg_b) — integer-exact;
      // rank <= 64 mirrors the Spark side's BasketCap slice of the
      // per-order sorted part set (degrees stay UNCAPPED, same as Spark)
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |deg AS (SELECT l_partkey, count(*) AS d FROM op GROUP BY 1),
        |capped AS (SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey, row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_partkey) AS rk FROM op) WHERE rk <= 64),
        |pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS co
        |  FROM capped a JOIN capped b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pa, pb, co, da.d AS n_a, db.d AS n_b,
        |  co * co * 100000000 // (da.d * db.d) AS score
        |FROM pr JOIN deg da ON da.l_partkey = pa JOIN deg db ON db.l_partkey = pb
        |ORDER BY score DESC, pa, pb LIMIT 25""".stripMargin),
    // per-day event-type distribution drift, fixed-point L2
    "q144_drift_days" -> Query((s: SparkSession, d: String) => operators.Behavioral.driftDays(s, d), oracle =
      // fixed-point (x1e6, floor div) L2 distance between each day's
      // event-type mix and the global mix; missing types contribute
      // their full squared reference frequency
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |dtot AS (SELECT day, sum(c) AS td FROM daily GROUP BY 1),
        |gmix AS (SELECT event_type, sum(c) AS g FROM daily GROUP BY 1),
        |tot AS (SELECT sum(g) AS t FROM gmix),
        |grid AS (SELECT dt.day, dt.td,
        |    coalesce(d.c, 0) * 1000000 // dt.td AS f_day,
        |    gl.g * 1000000 // tt.t AS f_ref
        |  FROM dtot dt CROSS JOIN gmix gl CROSS JOIN tot tt
        |  LEFT JOIN daily d ON d.day = dt.day AND d.event_type = gl.event_type)
        |SELECT strftime(day, '%Y-%m-%d') AS day, CAST(td AS BIGINT) AS n_events,
        |  CAST(sum((f_day - f_ref) * (f_day - f_ref)) AS BIGINT) AS drift
        |FROM grid GROUP BY day, td
        |ORDER BY drift DESC, day LIMIT 15""".stripMargin),
    // weak-supervision labeling-function bank, plurality vote
    "q145_weak_labels" -> Query((s: SparkSession, d: String) => TextAnalysis.weakLabels(s, d), oracle =
      // keyword labeling functions; plurality vote, lexicographic ties
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |v AS (SELECT doc_id,
        |    CAST(list_contains(w, 'spark') AS BIGINT) + CAST(list_contains(w, 'query') AS BIGINT) AS v_compute,
        |    CAST(list_contains(w, 'vector') AS BIGINT) + CAST(list_contains(w, 'hash') AS BIGINT) AS v_ml,
        |    CAST(list_contains(w, 'table') AS BIGINT) + CAST(list_contains(w, 'row') AS BIGINT) AS v_storage,
        |    CAST(list_contains(w, 'stream') AS BIGINT) + CAST(list_contains(w, 'batch') AS BIGINT) AS v_streaming
        |  FROM t),
        |m AS (SELECT doc_id, v_compute + v_ml + v_storage + v_streaming AS n_votes,
        |    unnest([{'nv': -v_compute, 'l': 'compute'}, {'nv': -v_ml, 'l': 'ml'},
        |            {'nv': -v_storage, 'l': 'storage'}, {'nv': -v_streaming, 'l': 'streaming'}]) AS u
        |  FROM v WHERE v_compute + v_ml + v_storage + v_streaming > 0),
        |r AS (SELECT doc_id, n_votes, u.nv AS nv, u.l AS l,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY u.nv, u.l) AS rk FROM m)
        |SELECT doc_id, n_votes, l AS label, CAST(-nv AS BIGINT) AS label_votes,
        |  round(CAST(-nv AS DOUBLE) / n_votes, 4) AS confidence
        |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin),
    // in-engine ANN quality: recall@5 of IVF vs brute force
    "q146_ann_recall" -> Query((s: SparkSession, d: String) => Vectors.annRecall(s, d), oracle =
      // recall@5 of the q23 IVF search against the q22 brute force,
      // computed from the SAME CTE definitions both gates already prove
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |bscored AS (SELECT qid, vec_id, $cosSqlDuck AS cos
        |  FROM e, q WHERE vec_id <> qid),
        |bf AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        |  FROM bscored) WHERE rk <= 5),
        |$adaptiveKCteDuck,
        |$coarseMCteDuck,
        |cents AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e WHERE vec_id < (SELECT k FROM kk)),
        |${twoLevelAsgDuck("0", "cents", "asg")},
        |probes AS (SELECT qid, qv, cid FROM (
        |    SELECT qid, qv, cid,
        |      row_number() OVER (PARTITION BY qid ORDER BY
        |        round(list_dot_product(cv, qv) / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 4) DESC, cid) AS prk
        |    FROM q, cents)
        |  WHERE prk <= 4),
        |iscored AS (SELECT p.qid, a.vec_id,
        |    round(list_dot_product(p.qv, e.v) / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cos
        |  FROM probes p JOIN asg a ON a.cid = p.cid JOIN e ON e.vec_id = a.vec_id
        |  WHERE a.vec_id <> p.qid),
        |ivf AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        |  FROM iscored) WHERE rk <= 5),
        |h AS (SELECT bf.qid, count(*) AS hits FROM bf JOIN ivf
        |  ON ivf.qid = bf.qid AND ivf.vec_id = bf.vec_id GROUP BY 1)
        |SELECT qq.qid, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) / 5, 4) AS recall
        |FROM (SELECT DISTINCT qid FROM bf) qq LEFT JOIN h ON h.qid = qq.qid
        |ORDER BY qq.qid""".stripMargin),
    // frequency-ordered categorical dictionary (StringIndexer)
    "q147_string_indexer" -> Query((s: SparkSession, d: String) => operators.Featurize.stringIndexer(s, d), oracle =
      """WITH f AS (SELECT p_type AS category, count(*) AS n FROM part GROUP BY 1)
        |SELECT category, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, category) - 1 AS BIGINT) AS idx
        |FROM f ORDER BY idx""".stripMargin),
    // m-estimate target encoding, integer cents
    "q148_target_encode" -> Query((s: SparkSession, d: String) => operators.Featurize.targetEncode(s, d), oracle =
      """WITH o AS (SELECT o_orderpriority AS category,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM orders),
        |per AS (SELECT category, count(*) AS n, sum(cents) AS s FROM o GROUP BY 1),
        |g AS (SELECT sum(cents) AS gs, count(*) AS gn FROM o)
        |SELECT category, n, CAST(s // n AS BIGINT) AS mean_cents,
        |  CAST((s + 10 * (gs // gn)) // (n + 10) AS BIGINT) AS enc_cents
        |FROM per CROSS JOIN g ORDER BY category""".stripMargin),
    // corpus composition data card (ppm shares + cumulative)
    "q149_composition" -> Query((s: SparkSession, d: String) => TextAnalysis.corpusComposition(s, d), oracle =
      """WITH per AS (SELECT source, lang, count(*) AS docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t FROM per)
        |SELECT source, lang, docs, tokens,
        |  CAST(tokens * 1000000 // t AS BIGINT) AS share_ppm,
        |  CAST(sum(tokens * 1000000 // t) OVER
        |    (ORDER BY tokens DESC, source, lang ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ppm
        |FROM per CROSS JOIN tot ORDER BY tokens DESC, source, lang""".stripMargin),
    // link prediction: top common-neighbor non-edges, capped centers
    "q150_link_prediction" -> Query((s: SparkSession, d: String) => operators.Affinity.linkPrediction(s, d), oracle =
      // common-neighbor counts over the co-purchase graph, hub centers
      // (> 100 neighbors) excluded, existing edges removed
      """WITH e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |ctr AS (SELECT src FROM adj GROUP BY src HAVING count(*) BETWEEN 2 AND 100),
        |w AS (SELECT a1.dst AS pa, a2.dst AS pb FROM adj a1
        |  JOIN adj a2 ON a1.src = a2.src AND a1.dst < a2.dst
        |  JOIN ctr ON ctr.src = a1.src),
        |ncn AS (SELECT pa, pb, count(*) AS cn FROM w GROUP BY 1, 2)
        |SELECT c.pa, c.pb, c.cn FROM ncn c
        |WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.src = c.pa AND e0.dst = c.pb)
        |ORDER BY c.cn DESC, c.pa, c.pb LIMIT 20""".stripMargin),
    // A/B readout: funnel-ordered conversion per deterministic variant
    "q151_ab_test" -> Query((s: SparkSession, d: String) => operators.Behavioral.abTest(s, d), oracle =
      // conversion = purchase strictly after the user's first view;
      // variant = user_id % 2; rates in ppm, floor div
      """WITH fv AS (SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |conv AS (SELECT DISTINCT e.user_id FROM events e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > fv.t0)
        |SELECT CASE WHEN fv.user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |  count(*) AS n_exposed,
        |  CAST(sum(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        |  CAST(sum(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS cvr_ppm
        |FROM fv LEFT JOIN conv ON conv.user_id = fv.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // per-dimension robust scaler fit via distributed exact quantiles
    "q152_robust_scaler" -> Query((s: SparkSession, d: String) => Vectors.dimRobustStats(s, d), oracle =
      // micro-unit quantization then R-7 quartiles per dimension —
      // quantile_cont on integers matches the engine's rank-interpolated
      // computation bit-for-bit (dyadic h, integer values)
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT CAST(t.i - 1 AS BIGINT) AS dim,
        |    CAST(floor(v[t.i] * 1000000) AS BIGINT) AS q
        |  FROM e, unnest(generate_series(1, len(v))) t(i))
        |SELECT dim, count(*) AS n,
        |  round(quantile_cont(q, 0.25), 4) AS q1,
        |  round(quantile_cont(q, 0.5), 4) AS med,
        |  round(quantile_cont(q, 0.75), 4) AS q3,
        |  round(round(quantile_cont(q, 0.75), 4) - round(quantile_cont(q, 0.25), 4), 4) AS iqr
        |FROM c GROUP BY dim ORDER BY dim""".stripMargin),
    // declarative expectation suite (Great-Expectations pattern)
    "q153_expectations" -> Query((s: SparkSession, d: String) => operators.Profile.expectations(s, d), oracle =
      """WITH base AS (SELECT count(*) AS n_rows FROM orders)
        |SELECT 'accepted_values:o_orderstatus' AS rule, base.n_rows,
        |  (SELECT CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders) AS n_violations,
        |  (SELECT coalesce(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END), 0) FROM orders) = 0 AS passed
        |FROM base
        |UNION ALL SELECT 'fk:o_custkey->customer', base.n_rows,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0
        |FROM base
        |UNION ALL SELECT 'not_null:o_orderkey', base.n_rows,
        |  (SELECT CAST(coalesce(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders),
        |  (SELECT coalesce(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0) FROM orders) = 0
        |FROM base
        |UNION ALL SELECT 'range:o_totalprice>0', base.n_rows,
        |  (SELECT CAST(coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders),
        |  (SELECT coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) FROM orders) = 0
        |FROM base
        |UNION ALL SELECT 'unique:o_orderkey', base.n_rows,
        |  (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM
        |     (SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1)),
        |  (SELECT coalesce(sum(c), 0) FROM
        |     (SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1)) = 0
        |FROM base
        |ORDER BY rule""".stripMargin),
    // deterministic synchronous label-propagation communities
    "q154_label_prop" -> Query((s: SparkSession, d: String) => operators.Affinity.labelPropagation(s, d), oracle =
      // two unrolled synchronous LPA rounds; plurality with min-label
      // tie-break mirrors max_by(label, (c, -label))
      """WITH e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |r1 AS (SELECT src, dst AS label, count(*) AS c FROM adj GROUP BY 1, 2),
        |l1 AS (SELECT src AS id, label FROM (SELECT src, label,
        |    row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rk FROM r1)
        |  WHERE rk = 1),
        |r2 AS (SELECT a.src, l1.label, count(*) AS c FROM adj a
        |  JOIN l1 ON l1.id = a.dst GROUP BY 1, 2),
        |l2 AS (SELECT src AS id, label FROM (SELECT src, label,
        |    row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rk FROM r2)
        |  WHERE rk = 1)
        |SELECT label AS community, count(*) AS n_members FROM l2
        |GROUP BY 1 ORDER BY n_members DESC, community LIMIT 30""".stripMargin),
    // first-order Markov transition matrix of per-user event streams
    "q155_markov" -> Query((s: SparkSession, d: String) => operators.Behavioral.markovTransitions(s, d), oracle =
      """WITH seq AS (SELECT user_id, event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |cells AS (SELECT cur, nxt, count(*) AS n FROM seq
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT cur, nxt, n,
        |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE), 6) AS p
        |FROM cells ORDER BY cur, nxt""".stripMargin),
    // chi-square independence cells: customer nation x order status
    "q156_chisq" -> Query(Relational.chiSquare _, oracle =
      """WITH cells AS (SELECT c.c_nationkey AS nation, o.o_orderstatus AS status,
        |    count(*) AS observed
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |t AS (SELECT nation, status, observed,
        |    CAST(sum(observed) OVER (PARTITION BY nation) AS DOUBLE) *
        |      CAST(sum(observed) OVER (PARTITION BY status) AS DOUBLE) /
        |      CAST(sum(observed) OVER () AS DOUBLE) AS e
        |  FROM cells)
        |SELECT nation, status, observed, round(e, 6) AS expected,
        |  round((CAST(observed AS DOUBLE) - e) * (CAST(observed AS DOUBLE) - e) / e, 6)
        |    AS chi2_cell
        |FROM t ORDER BY nation, status""".stripMargin),
    // Pearson correlation matrix over embedding dims, exact-integer stats
    "q157_corr_matrix" -> Query((s: SparkSession, d: String) => Vectors.corrMatrix(s, d), oracle =
      """WITH q AS (SELECT [CAST(floor(x * 1000000) AS BIGINT)
        |    FOR x IN CAST(embedding AS DOUBLE[])[1:8]] AS v FROM embeddings),
        |p AS (SELECT ti.i AS i, tj.j AS j,
        |    CAST(v[ti.i + 1] AS HUGEINT) AS x, CAST(v[tj.j + 1] AS HUGEINT) AS y
        |  FROM q, unnest(generate_series(0, 6)) ti(i), unnest(generate_series(0, 7)) tj(j)
        |  WHERE tj.j > ti.i),
        |s AS (SELECT i, j, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p GROUP BY 1, 2)
        |SELECT i, j, CAST(n AS BIGINT) AS n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr
        |FROM s ORDER BY i, j""".stripMargin),
    // CCNet-style LM fluency: mean add-one-smoothed bigram probability
    "q158_bigram_fluency" -> Query(TextAnalysis.bigramFluency _, oracle =
      // bigram model: both engines compute q = floor(1e9 * (c12+1) / (c1+V))
      // from exact integer counts with the same left-assoc double op
      // order, so per-bigram quanta are bit-identical; the per-doc mean
      // is an exact integer sum and one final division
      s"""WITH d AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS w FROM documents),
        |d2 AS (SELECT doc_id, w FROM d WHERE len(w) >= 2),
        |b AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        |  FROM d2, unnest(generate_series(1, len(w) - 1)) t(i)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v
        |  FROM (SELECT unnest(w) AS t FROM d2)),
        |m AS (SELECT w1, w2,
        |    CAST(floor(1000000000.0 * CAST(c12 + 1 AS DOUBLE)
        |      / CAST(c1 + v AS DOUBLE)) AS BIGINT) AS q
        |  FROM c12 JOIN c1 USING (w1), v),
        |s AS (SELECT doc_id, count(*) AS n_bigrams, sum(q) AS sq
        |  FROM b JOIN m USING (w1, w2) GROUP BY doc_id)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  round(CAST(sq AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |    / 1000000000.0, 6) AS mean_p
        |FROM s ORDER BY doc_id""".stripMargin),
    // cluster-atomic split: near-dup groups never straddle train/test
    "q159_leakage_split" -> Query((s: SparkSession, d: String) =>
      operators.Sampling.leakageSafeSplit(s, d), oracle =
      // q41's component CTEs give the group key; singletons fall back to
      // their own doc_id; split rule is q94's md5 nibble on the GROUP key
      s"""$shingleCteRec,
        |$minhashCappedCtes,
        |$clusterCtes,
        |memb AS (SELECT a AS doc_id, least(a, min(b)) AS gk0 FROM reach GROUP BY a),
        |g AS (SELECT d.doc_id, d.lang, d.n_chars, coalesce(m.gk0, d.doc_id) AS gk
        |  FROM documents d LEFT JOIN memb m ON m.doc_id = d.doc_id),
        |bk AS (SELECT lang, n_chars, gk,
        |    strpos('0123456789abcdef', substr(md5(CAST(gk AS VARCHAR)), 1, 1)) - 1 AS nib
        |  FROM g)
        |SELECT CASE WHEN nib = 0 THEN 'test' WHEN nib = 1 THEN 'val'
        |       ELSE 'train' END AS split,
        |  lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |  CAST(count(DISTINCT gk) AS BIGINT) AS n_groups
        |FROM bk GROUP BY split, lang ORDER BY split, lang""".stripMargin),
    // exact heavy hitters via per-partition Misra-Gries + recount
    "q160_heavy_hitters" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.vocabHeavyHitters(s, d), oracle =
      // Misra-Gries is a pass-1 pruning detail; the exact contract is
      // the plain frequency threshold, which the oracle states directly
      s"""WITH t AS (SELECT unnest(string_split($normSqlDuck, ' ')) AS term FROM documents),
        |t2 AS (SELECT term FROM t WHERE length(term) > 0),
        |n AS (SELECT count(*) AS n FROM t2),
        |c AS (SELECT term, count(*) AS c FROM t2 GROUP BY term)
        |SELECT term, c, n,
        |  round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac
        |FROM c, n WHERE c * 40 > n ORDER BY term""".stripMargin),
    // linear-interpolation gap fill (both-neighbor, exact-integer time)
    "q161_interpolate" -> Query((s: SparkSession, d: String) =>
      operators.TimeSeries.interpolateHourly(s, d), oracle =
      // q49's grid + IGNORE NULLS carries from BOTH sides; the value math
      // is three IEEE ops in the same association order as the Spark side
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hour,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id < 5),
        |hourly AS (SELECT user_id, hour, CAST(sum(v) AS DECIMAL(18,2)) AS v FROM e GROUP BY 1, 2),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT user_id, min(hour) AS lo, max(hour) AS hi FROM e GROUP BY 1)),
        |f AS (SELECT g.user_id, g.hour,
        |    CAST(h.v * 100 AS BIGINT) AS vc,
        |    last_value(CAST(h.v * 100 AS BIGINT) IGNORE NULLS) OVER wp AS pvc,
        |    last_value(CASE WHEN h.v IS NOT NULL THEN g.hour END IGNORE NULLS) OVER wp AS ph,
        |    first_value(CAST(h.v * 100 AS BIGINT) IGNORE NULLS) OVER wn AS nvc,
        |    first_value(CASE WHEN h.v IS NOT NULL THEN g.hour END IGNORE NULLS) OVER wn AS nh
        |  FROM grid g LEFT JOIN hourly h ON h.user_id = g.user_id AND h.hour = g.hour
        |  WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY g.user_id ORDER BY g.hour
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |m AS (SELECT user_id, hour, vc,
        |    (epoch_us(hour) - epoch_us(ph)) // 3600000000 AS k_,
        |    (epoch_us(nh) - epoch_us(ph)) // 3600000000 AS n_,
        |    pvc, nvc
        |  FROM f)
        |SELECT user_id, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
        |  vc IS NOT NULL AS observed,
        |  CAST(CASE WHEN vc IS NOT NULL THEN vc * 10000
        |    ELSE (pvc * (n_ - k_) + nvc * k_) * 10000 // n_ END AS DOUBLE)
        |    / 1e6 AS v_interp
        |FROM m ORDER BY user_id, hour""".stripMargin),
    // decile lift table via compressed-bin distributed global rank
    "q162_decile_lift" -> Query(Relational.decileLift _, oracle =
      // the contract is the direct global rank; equality proves the
      // compressed-bin two-level rank reconstructs it exactly
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS score,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders),
        |n AS (SELECT count(*) AS n FROM o),
        |r AS (SELECT k, score, y,
        |    row_number() OVER (ORDER BY score DESC, k) AS rank FROM o)
        |SELECT ((rank - 1) * 10) // n + 1 AS decile,
        |  count(*) AS n_rows, CAST(sum(y) AS BIGINT) AS conversions,
        |  round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS rate,
        |  min(score) AS score_lo, max(score) AS score_hi
        |FROM r, n GROUP BY decile ORDER BY decile""".stripMargin),
    // MMR diversity re-rank: greedy over bounded candidate model state
    "q163_mmr_rerank" -> Query((s: SparkSession, d: String) => Vectors.mmrRerank(s, d), oracle =
      // greedy MMR replayed as a recursive CTE: each step's LATERAL
      // argmax mirrors the engine's (mmr DESC, vec_id) selection; mmr is
      // deliberately UNROUNDED — both engines combine the same 4-dp
      // cosines with the same two IEEE ops, so the raw doubles hash-match
      s"""WITH RECURSIVE
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |rel AS (SELECT vec_id, $cosSqlDuck AS rel
        |  FROM e, q WHERE vec_id > 0),
        |cand AS (SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT 20),
        |cv AS (SELECT c.vec_id, c.rel, e.v FROM cand c JOIN e USING (vec_id)),
        |sims AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
        |  FROM cv a JOIN cv b ON a.vec_id <> b.vec_id),
        |sel AS (
        |  SELECT 1 AS step, vec_id, rel, rel AS mmr, [vec_id] AS picked
        |  FROM (SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT sel.step + 1, n.vec_id, n.rel, n.mmr, list_append(sel.picked, n.vec_id)
        |  FROM sel, LATERAL (
        |    SELECT c.vec_id, c.rel,
        |      0.5 * c.rel - 0.5 * (SELECT max(s.sim) FROM sims s
        |        WHERE s.ia = c.vec_id AND list_contains(sel.picked, s.ib)) AS mmr
        |    FROM cand c WHERE NOT list_contains(sel.picked, c.vec_id)
        |    ORDER BY mmr DESC, c.vec_id LIMIT 1) n
        |  WHERE sel.step < 5)
        |SELECT CAST(step AS BIGINT) AS step, vec_id, rel, mmr
        |FROM sel ORDER BY step""".stripMargin),
    // native codegen'd simhash64 expression: zero-shuffle signatures
    "q164_simhash64" -> Query((s: SparkSession, d: String) =>
      Dedup.simhash64Signatures(s, d), oracle =
      // bit b of md5(token) = bit (b%4) of hex nibble (b/4); majority
      // vote per bit, ties→0; signature = 16 little-endian-nibble hex
      // chars — the exact convention of plans.SimHash64.compute
      """WITH w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS tok FROM w),
        |h AS (SELECT doc_id, md5(tok) AS h FROM t),
        |bits AS (SELECT doc_id, b.b AS b,
        |    CASE WHEN ((strpos('0123456789abcdef', substr(h, (b.b // 4) + 1, 1)) - 1)
        |      >> (b.b % 4)) & 1 = 1 THEN 1 ELSE -1 END AS vote
        |  FROM h, unnest(generate_series(0, 63)) b(b)),
        |v AS (SELECT doc_id, b, sum(vote) AS v FROM bits GROUP BY 1, 2),
        |nib AS (SELECT doc_id, b // 4 AS nidx,
        |    sum(CASE WHEN v > 0 THEN (1 << (b % 4)) ELSE 0 END) AS nv
        |  FROM v GROUP BY 1, 2)
        |SELECT doc_id, string_agg(substr('0123456789abcdef', CAST(nv AS INT) + 1, 1),
        |    '' ORDER BY nidx) AS simhash64
        |FROM nib GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // MATCH_RECOGNIZE-lite: regex motifs over sessionized event strings
    "q165_sequence_motif" -> Query((s: SparkSession, d: String) =>
      operators.Behavioral.sequenceMotif(s, d), oracle =
      // q50's sessionization + ordered string_agg; both engines count
      // non-overlapping leftmost regex matches
      """WITH e AS (SELECT user_id, ts, event_id, substr(event_type, 1, 1) AS ch FROM events),
        |w AS (SELECT user_id, ts, event_id, ch,
        |    CASE WHEN lag(ts) OVER win IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER win) > 1800000000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, event_id, ch,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM w),
        |q AS (SELECT user_id, session_id, string_agg(ch, '' ORDER BY ts, event_id) AS seq
        |  FROM s GROUP BY 1, 2),
        |m AS (SELECT user_id, session_id,
        |    len(regexp_extract_all(seq, 'vc{1,3}p')) AS k FROM q)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(count(CASE WHEN k > 0 THEN 1 END) AS BIGINT) AS n_motif_sessions,
        |  CAST(sum(k) AS BIGINT) AS n_motifs
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin),
    // contrastive negative sampling: md5 pool minus true neighbors
    "q166_negative_sample" -> Query((s: SparkSession, d: String) =>
      Vectors.negativeSample(s, d), oracle =
      // q22's top-5 = the positives to exclude; pool and per-anchor
      // ranking both keyed on md5 (rand()-free, engine-identical)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (SELECT qid, vec_id, $cosSqlDuck AS cos
        |  FROM e, q WHERE vec_id <> qid),
        |r AS (SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS prk
        |  FROM scored),
        |pos AS (SELECT qid, vec_id FROM r WHERE prk <= 5),
        |pool AS (SELECT vec_id FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
        |cand AS (SELECT qa.qid, p.vec_id,
        |    md5(CAST(qa.qid AS VARCHAR) || '|' || CAST(p.vec_id AS VARCHAR)) AS key
        |  FROM (SELECT DISTINCT qid FROM q) qa, pool p
        |  WHERE p.vec_id <> qa.qid
        |    AND NOT EXISTS (SELECT 1 FROM pos
        |      WHERE pos.qid = qa.qid AND pos.vec_id = p.vec_id)),
        |rk AS (SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY key, vec_id) AS rk
        |  FROM cand)
        |SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id
        |FROM rk WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),
    // CCNet-style chunk-frequency boilerplate removal card
    "q167_boilerplate" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.boilerplateChunks(s, d), oracle =
      // positional 3-token chunks; a chunk repeated across >= 5 distinct
      // docs is boilerplate; per-doc retention card
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |t AS (SELECT doc_id, g.i AS i, toks[g.i + 1] AS tok
        |  FROM w, unnest(generate_series(0, len(toks) - 1)) g(i)),
        |c AS (SELECT doc_id, i // 3 AS ci,
        |    string_agg(tok, ' ' ORDER BY i) AS chunk, count(*) AS n_toks
        |  FROM t GROUP BY 1, 2),
        |f AS (SELECT chunk, count(DISTINCT doc_id) AS chunk_docs FROM c GROUP BY 1)
        |SELECT c.doc_id, count(*) AS n_chunks,
        |  CAST(count(CASE WHEN f.chunk_docs >= 5 THEN 1 END) AS BIGINT) AS n_boiler,
        |  CAST(sum(c.n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN f.chunk_docs < 5 THEN c.n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM c JOIN f USING (chunk)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),
    // top-k collocations by exact-rational PMI argument
    "q168_pmi_collocations" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.pmiCollocations(s, d), oracle =
      // PMI rank via the exact rational argument c12*N_uni^2/(N_bi*cx*cy)
      // — one double division of integer-exact products, same op tree
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |t AS (SELECT doc_id, g.i AS i, toks[g.i + 1] AS tok
        |  FROM w, unnest(generate_series(0, len(toks) - 1)) g(i)),
        |u AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |nu AS (SELECT count(*) AS n_uni FROM t),
        |b AS (SELECT toks[g.i + 1] AS w1, toks[g.i + 2] AS w2
        |  FROM w, unnest(generate_series(0, len(toks) - 2)) g(i)
        |  WHERE len(toks) >= 2),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |nb AS (SELECT count(*) AS n_bi FROM b),
        |s AS (SELECT c12.w1, c12.w2, c12.c12, u1.c AS cx, u2.c AS cy,
        |    (CAST(c12.c12 AS DOUBLE) * nu.n_uni * nu.n_uni) /
        |      (CAST(nb.n_bi AS DOUBLE) * u1.c * u2.c) AS ratio
        |  FROM c12
        |  JOIN u u1 ON u1.tok = c12.w1
        |  JOIN u u2 ON u2.tok = c12.w2
        |  CROSS JOIN nu CROSS JOIN nb
        |  WHERE c12.c12 >= 5),
        |r AS (SELECT *, row_number() OVER (ORDER BY ratio DESC, w1, w2) AS rk FROM s)
        |SELECT CAST(rk AS BIGINT) AS rk, w1, w2, c12, cx, cy,
        |  round(ratio, 6) AS pmi_ratio
        |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin),
    // source-pair shingle contamination matrix (capped self-join)
    "q169_source_overlap" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.sourceOverlap(s, d), oracle =
      // distinct 3-shingles per source; shingles in > 32 sources dropped
      // (mirrors the operator's hot cap); pairwise intersection + Jaccard
      """WITH w AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT DISTINCT source,
        |    array_to_string(toks[g.i + 1:g.i + 3], ' ') AS sh
        |  FROM w, unnest(generate_series(0, len(toks) - 3)) g(i)
        |  WHERE len(toks) >= 3),
        |cool AS (SELECT * FROM sh WHERE sh IN
        |  (SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT source) <= 32)),
        |sizes AS (SELECT source, count(*) AS sz FROM cool GROUP BY 1),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        |  FROM cool a JOIN cool b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, p.inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |  round(CAST(p.inter AS DOUBLE) /
        |    CAST(sa.sz + sb.sz - p.inter AS DOUBLE), 6) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON sa.source = p.src_a
        |JOIN sizes sb ON sb.source = p.src_b
        |ORDER BY p.src_a, p.src_b""".stripMargin),
    // integer-exact best-split changepoint on daily revenue
    "q170_changepoint" -> Query((s: SparkSession, d: String) =>
      operators.TimeSeries.bestSplitDays(s, d), oracle =
      // argmax split of daily revenue by cross-multiplied mean gap —
      // integer cents, no division anywhere near the comparison
      """WITH daily AS (SELECT o_orderdate AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS day_cents,
        |    count(*) AS day_orders
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(day_cents) AS BIGINT) AS t_cents,
        |    count(*) AS t_days FROM daily),
        |pre AS (SELECT d,
        |    CAST(sum(day_cents) OVER win AS BIGINT) AS l_cents,
        |    CAST(count(*) OVER win AS BIGINT) AS l_days
        |  FROM daily WINDOW win AS (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT d, l_days, t.t_days - l_days AS r_days,
        |    l_cents, t.t_cents - l_cents AS r_cents,
        |    abs(l_cents * (t.t_days - l_days) - (t.t_cents - l_cents) * l_days) AS objective
        |  FROM pre CROSS JOIN t WHERE l_days < t.t_days),
        |r AS (SELECT *, row_number() OVER (ORDER BY objective DESC, d) AS rk FROM s)
        |SELECT CAST(rk AS BIGINT) AS rk, strftime(d, '%Y-%m-%d') AS split_date,
        |  l_days, r_days, l_cents, r_cents, objective
        |FROM r WHERE rk <= 3 ORDER BY rk""".stripMargin),
    // native TypedImperativeAggregate HLL: integer-exact registers
    "q171_hll_registers" -> Query((s: SparkSession, d: String) =>
      operators.Sketches.hllDistinctUsers(s, d), oracle =
      // HLL p=8 over md5(user): bucket = first hex byte, rank = leading
      // zeros of the next 56 bits + 1 (all-zero -> 57), register = max
      // rank per bucket; empty buckets emitted as 0 — the exact
      // convention of plans.HllRegisters.update
      """WITH u AS (SELECT DISTINCT event_type,
        |    md5(CAST(user_id AS VARCHAR)) AS h FROM events),
        |n AS (SELECT event_type, h, g.i AS i,
        |    strpos('0123456789abcdef', substr(h, g.i + 1, 1)) - 1 AS nib
        |  FROM u, unnest(generate_series(0, 15)) g(i)),
        |bk AS (SELECT event_type, h,
        |    max(CASE WHEN i = 0 THEN nib * 16 END) +
        |    max(CASE WHEN i = 1 THEN nib END) AS bucket
        |  FROM n WHERE i < 2 GROUP BY 1, 2),
        |fz AS (SELECT event_type, h,
        |    min(CASE WHEN i >= 2 AND nib > 0 THEN i END) AS j
        |  FROM n GROUP BY 1, 2),
        |rk AS (SELECT f.event_type, f.h,
        |    CASE WHEN f.j IS NULL THEN 57
        |         ELSE (f.j - 2) * 4 + 1 +
        |           CASE WHEN nj.nib >= 8 THEN 0 WHEN nj.nib >= 4 THEN 1
        |                WHEN nj.nib >= 2 THEN 2 ELSE 3 END
        |    END AS rank
        |  FROM fz f LEFT JOIN n nj
        |    ON nj.event_type = f.event_type AND nj.h = f.h AND nj.i = f.j),
        |reg AS (SELECT b.event_type, b.bucket, max(r.rank) AS register
        |  FROM bk b JOIN rk r ON r.event_type = b.event_type AND r.h = b.h
        |  GROUP BY 1, 2),
        |et AS (SELECT DISTINCT event_type FROM events),
        |grid AS (SELECT event_type, g.b AS bucket
        |  FROM et, unnest(generate_series(0, 255)) g(b))
        |SELECT grid.event_type, CAST(grid.bucket AS INT) AS bucket,
        |  CAST(COALESCE(reg.register, 0) AS INT) AS register
        |FROM grid LEFT JOIN reg
        |  ON reg.event_type = grid.event_type AND reg.bucket = grid.bucket
        |ORDER BY grid.event_type, grid.bucket""".stripMargin),
    // real RIFF/AVI + MP4 box-structure parsing (container metadata)
    "q172_video_probe" -> Query((s: SparkSession, d: String) =>
      operators.Multimodal.videoProbe(s, d), oracle =
      // the parse recovers exactly the metadata the deterministic
      // encoder wrote into the container structure: even ids AVI (hdrl/
      // avih + strl count), odd ids MP4 (mvhd timescale 1000 + trak
      // count + 16.16 tkhd dims) — the oracle states the same pure
      // functions of the id
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'avi' ELSE 'mp4' END AS container,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 160 + (doc_id % 16) * 8
        |            ELSE 320 + (doc_id % 32) * 4 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 120 + (doc_id % 9) * 8
        |            ELSE 240 + (doc_id % 18) * 4 END AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |            THEN (20000 + (doc_id % 30) * 1000) * (100 + doc_id % 400) // 1000
        |            ELSE 5000 + doc_id % 9999 END AS BIGINT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin),
    // native Count-Min sketch aggregate: top talkers, est vs truth
    "q173_cms_topk" -> Query((s: SparkSession, d: String) =>
      operators.Sketches.cmsTopTalkers(s, d), oracle =
      // CMS d=4 w=256 over md5(user): row j's bucket = hex byte j; the
      // counter is the occurrence-weighted sum over colliding users;
      // point estimate = min over the 4 rows — exactly
      // plans.CmsRegisters.update / Sketches.cmsTopTalkers
      """WITH e AS (SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events),
        |h AS (SELECT event_type, u, md5(u) AS h, count(*) AS n
        |  FROM e GROUP BY 1, 2, 3),
        |b AS (SELECT event_type, u, n, j.j AS j,
        |    (strpos('0123456789abcdef', substr(h, j.j * 2 + 1, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(h, j.j * 2 + 2, 1)) - 1) AS bucket
        |  FROM h, unnest(generate_series(0, 3)) j(j)),
        |cnt AS (SELECT event_type, j, bucket, SUM(n) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |est AS (SELECT b.event_type, b.u, b.n, MIN(c.c) AS cms_n
        |  FROM b JOIN cnt c
        |    ON c.event_type = b.event_type AND c.j = b.j AND c.bucket = b.bucket
        |  GROUP BY 1, 2, 3),
        |rk AS (SELECT *, row_number() OVER (
        |    PARTITION BY event_type ORDER BY n DESC, u) AS rk FROM est)
        |SELECT event_type, CAST(rk AS BIGINT) AS rk, u AS user_id,
        |  CAST(n AS BIGINT) AS true_n, CAST(cms_n AS BIGINT) AS cms_n
        |FROM rk WHERE rk <= 10 ORDER BY event_type, rk""".stripMargin),
    // day-of-week seasonality index in exact basis points
    "q174_dow_seasonality" -> Query((s: SparkSession, d: String) =>
      operators.TimeSeries.dowSeasonality(s, d), oracle =
      // DuckDB dayofweek: Sunday=0 → +1 aligns with Spark's 1=Sunday
      """WITH daily AS (SELECT o_orderdate AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS day_cents,
        |    count(*) AS day_orders
        |  FROM orders GROUP BY 1),
        |dow AS (SELECT dayofweek(d) + 1 AS dow, count(*) AS n_days,
        |    sum(day_orders) AS n_orders, sum(day_cents) AS dow_cents
        |  FROM daily GROUP BY 1),
        |t AS (SELECT sum(n_days) AS t_days, sum(dow_cents) AS t_cents FROM dow)
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(dow_cents AS BIGINT) AS dow_cents,
        |  CAST(dow_cents // n_days AS BIGINT) AS avg_day_cents,
        |  CAST((CAST(dow_cents AS HUGEINT) * t_days * 10000)
        |       // (CAST(n_days AS HUGEINT) * t_cents) AS BIGINT) AS index_bp
        |FROM dow CROSS JOIN t ORDER BY dow""".stripMargin),
    // char-class Gini impurity per doc: exact-rational diversity score
    "q175_char_gini" -> Query((s: SparkSession, d: String) =>
      operators.TextAnalysis.charClassGini(s, d), oracle =
      // same class regexes; DuckDB regexp_replace needs the 'g' flag for
      // the global semantics Spark applies by default
      """WITH c AS (SELECT doc_id, length(text) AS n,
        |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS c_lower,
        |    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS c_upper,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS c_digit,
        |    length(regexp_replace(text, '[^ ]', '', 'g')) AS c_space
        |  FROM documents),
        |o AS (SELECT doc_id, n, c_lower, c_upper, c_digit, c_space,
        |    n - c_lower - c_upper - c_digit - c_space AS c_other FROM c)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n AS BIGINT) AS n,
        |  CAST(c_lower AS BIGINT) AS c_lower, CAST(c_upper AS BIGINT) AS c_upper,
        |  CAST(c_digit AS BIGINT) AS c_digit, CAST(c_space AS BIGINT) AS c_space,
        |  CAST(c_other AS BIGINT) AS c_other,
        |  CAST(CASE WHEN n = 0 THEN 0 ELSE
        |    (CAST(n AS HUGEINT) * n
        |     - (CAST(c_lower AS HUGEINT) * c_lower
        |        + CAST(c_upper AS HUGEINT) * c_upper
        |        + CAST(c_digit AS HUGEINT) * c_digit
        |        + CAST(c_space AS HUGEINT) * c_space
        |        + CAST(c_other AS HUGEINT) * c_other)) * 10000
        |    // (CAST(n AS HUGEINT) * n) END AS BIGINT) AS gini_bp
        |FROM o ORDER BY doc_id""".stripMargin),
    // COUNT(*) per partition from the manifest alone, after a DELETE:
    // O(manifest) driver read, zero data files opened (the audit-count
    // query at lakehouse scale; DV-free precondition enforced)
    "q176_metadata_count" -> Query((s: SparkSession, d: String) => {
      val table = countedOrdersAfterDelete("snapmeta", s, d)
      val v = graft.sources.Snapshots.currentVersion(s, table).get
      graft.sources.Snapshots.metadataRowCounts(s, table, v)
    }, oracle =
      // the manifest's _rows stat lines must equal a real count over the
      // surviving rows — carried partitions and the rewritten one alike
      """SELECT o_orderstatus AS partition, count(*) AS n_rows
        |FROM orders WHERE NOT (o_orderstatus = 'O' AND o_orderkey % 5 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // write-audit-publish: a poisoned batch is staged, audited, and
    // abandoned WITHOUT readers ever seeing it; the clean batch is
    // staged, audited, and published atomically (zero copy — readers
    // get the audited bytes). Idempotent per rerun: overwrite
    // semantics republish identical content
    "q177_snapshot_wap" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import graft.sources.Snapshots
      val o = ordersPriced(s, d)
      val table = fixture("snapwap", s, d, "orders") { path =>
        Snapshots.commitOverwrite(s, path, o.filter(col("o_orderkey") % 3 === 1))
      }
      def auditAndLand(batch: org.apache.spark.sql.DataFrame): Unit = {
        val staged = Snapshots.stageOverwrite(s, table, batch)
        // the audit reads the STAGED bytes — the very files a publish
        // would serve — not the input frame
        val poison = Snapshots.readStaged(s, table, staged)
          .filter(col("o_orderkey").isNull || col("price") <= 0).count()
        if (poison == 0) Snapshots.publishStaged(s, table, staged)
        else Snapshots.abandonStaged(s, table, staged)
      }
      auditAndLand(o.withColumn("o_orderkey", // poisoned: NULL keys
        when(col("o_orderkey") % 97 === 0, lit(null)).otherwise(col("o_orderkey"))))
      auditAndLand(o.filter(col("o_orderkey") % 3 === 0)) // clean
      priceTotalsBy("o_orderstatus")(Snapshots.read(s, table))
    }, oracle =
      // the poisoned batch (NULL keys at %97) fails its audit and never
      // publishes; the live table is the LAST published batch — the
      // clean %3=0 overwrite
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // incremental sketch maintenance: CMS counters are LINEAR, so the
    // v1 sketch plus SIGNED change-feed deltas (delete/update_preimage
    // subtract, insert/update_postimage add) equals a from-scratch
    // recompute exactly — the oracle recomputes over the post-DML
    // state and must hash-match the maintained registers. At scale
    // this refreshes a corpus-wide frequency sketch by reading one
    // commit's delta, never the table
    "q178_cms_ivm" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import graft.sources.Snapshots
      val e = graft.sources.Tables.loadEvents(s, d)
        .select(col("event_id"), col("event_type"),
          col("user_id").cast("string").as("u"))
      val table = fixture("snapcmsivm", s, d, "events") { path =>
        Snapshots.commitOverwrite(s, path, e)
      }
      // both DMLs are SELF-idempotent (second run matches nothing):
      // the delete predicate finds its rows already gone, and the
      // update predicate excludes already-suffixed rows — without the
      // endsWith guard a bench rep in the same JVM (cached fixture)
      // would re-append "_r" and publish a fresh version every run,
      // drifting from the fixed single-suffix oracle
      Snapshots.commitDelete(s, table, col("event_id") % 7 === 0)
      Snapshots.commitUpdate(s, table,
        col("event_id") % 11 === 0 && col("event_id") % 7 =!= 0 &&
          !col("u").endsWith("_r"),
        Seq("u" -> concat(col("u"), lit("_r"))))
      val v1 = "v00000001"
      val v2 = Snapshots.currentVersion(s, table).get
      val base = Snapshots.readVersion(s, table, v1)
        .groupBy(col("event_type"))
        .agg(call_function("cms_registers", col("u")).as("base"))
      val cdf = Snapshots.changeFeed(s, table, v1, v2, "event_id")
      def side(types: Seq[String], name: String) =
        cdf.filter(col("_change_type").isin(types: _*))
          .groupBy(col("event_type"))
          .agg(call_function("cms_registers", col("u")).as(name))
      val zeros = array_repeat(lit(0L), 4 * 256)
      base
        .join(side(Seq("delete", "update_preimage"), "minus"), Seq("event_type"), "left")
        .join(side(Seq("insert", "update_postimage"), "plus"), Seq("event_type"), "left")
        .select(col("event_type"),
          zip_with(
            zip_with(col("base"), coalesce(col("minus"), zeros), (b, m) => b - m),
            coalesce(col("plus"), zeros), (bm, p) => bm + p).as("regs"))
        .select(col("event_type"), posexplode(col("regs")).as(Seq("bucket", "register")))
        .orderBy(col("event_type"), col("bucket"))
    }, oracle =
      // from-scratch CMS over the post-DML state (deletes at %7, user
      // rename at %11 among survivors) — must equal the maintained
      // registers byte-for-byte; flat index = j*256 + hex-byte-j bucket
      """WITH e AS (SELECT event_type,
        |    CASE WHEN event_id % 11 = 0
        |         THEN CAST(user_id AS VARCHAR) || '_r'
        |         ELSE CAST(user_id AS VARCHAR) END AS u
        |  FROM events WHERE NOT (event_id % 7 = 0)),
        |h AS (SELECT event_type, u, md5(u) AS h, count(*) AS n
        |  FROM e GROUP BY 1, 2, 3),
        |b AS (SELECT event_type, n, j.j AS j,
        |    (strpos('0123456789abcdef', substr(h, j.j * 2 + 1, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(h, j.j * 2 + 2, 1)) - 1) AS bucket
        |  FROM h, unnest(generate_series(0, 3)) j(j)),
        |cnt AS (SELECT event_type, j * 256 + bucket AS idx, SUM(n) AS c
        |  FROM b GROUP BY 1, 2),
        |et AS (SELECT DISTINCT event_type FROM e),
        |grid AS (SELECT event_type, g.i AS idx
        |  FROM et, unnest(generate_series(0, 1023)) g(i))
        |SELECT grid.event_type, CAST(grid.idx AS INT) AS bucket,
        |  CAST(COALESCE(cnt.c, 0) AS BIGINT) AS register
        |FROM grid LEFT JOIN cnt
        |  ON cnt.event_type = grid.event_type AND cnt.idx = grid.idx
        |ORDER BY grid.event_type, grid.idx""".stripMargin),
    // IVF-PQ: trained coarse probes restrict candidates BEFORE the
    // product-code ADC scores them; exact re-rank on the shortlist
    "q179_ann_ivfpq" -> Query((s: SparkSession, d: String) =>
      Vectors.annIvfPq(s, d), oracle = ivfPqSqlDuck),
    // partition-level drift between versions from the two manifests
    // alone: row counts, delta, and touched/untouched status in
    // O(manifest) — the pre-flight audit before reading a real delta
    "q180_metadata_drift" -> Query((s: SparkSession, d: String) => {
      import graft.sources.Snapshots
      val table = countedOrdersAfterDelete("snapdrift", s, d)
      Snapshots.metadataPartitionDrift(s, table, "v00000001",
        Snapshots.currentVersion(s, table).get)
    }, oracle =
      // only partition O contains deletes → rewritten; F and P keep
      // their immutable dirs → unchanged; counts mirror the DML
      """WITH base AS (SELECT o_orderstatus AS p, count(*) AS n
        |  FROM orders GROUP BY 1),
        |aft AS (SELECT o_orderstatus AS p, count(*) AS n FROM orders
        |  WHERE NOT (o_orderstatus = 'O' AND o_orderkey % 5 = 0) GROUP BY 1)
        |SELECT b.p AS partition, b.n AS old_rows, a.n AS new_rows,
        |  a.n - b.n AS delta,
        |  CASE WHEN b.p = 'O' THEN 'rewritten' ELSE 'unchanged' END AS status
        |FROM base b JOIN aft a USING (p) ORDER BY partition""".stripMargin),
    // Heaps'-law vocabulary growth curve at doc-rank deciles
    "q181_vocab_growth" -> Query((s: SparkSession, d: String) =>
      operators.TextAnalysis.vocabGrowth(s, d), oracle =
      // same normalize + single-space split as the Spark side; distinct
      // vocab via FIRST-occurrence docs, never distinct-over-prefix
      s"""WITH tk AS (SELECT doc_id, t.tok FROM documents,
        |    unnest(string_split($normSqlDuck, ' ')) t(tok)
        |  WHERE length(t.tok) > 0),
        |perdoc AS (SELECT doc_id, count(*) AS n_toks FROM tk GROUP BY 1),
        |firsts AS (SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY 1),
        |ranked AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM documents),
        |cps AS (SELECT k.k AS k, r.doc_id AS cp_doc, r.rn AS n_docs
        |  FROM ranked r, tot, unnest(generate_series(1, 10)) k(k)
        |  WHERE r.rn = (tot.n * k.k) // 10)
        |SELECT CAST(cp.k AS BIGINT) AS k, cp.cp_doc,
        |  CAST(cp.n_docs AS BIGINT) AS n_docs,
        |  (SELECT CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM perdoc
        |    WHERE doc_id <= cp.cp_doc) AS total_tokens,
        |  (SELECT count(*) FROM firsts WHERE first_doc <= cp.cp_doc) AS distinct_tokens
        |FROM cps cp ORDER BY k""".stripMargin),
    // blocked fuzzy entity match: blocking equi-join + levenshtein
    // scoring on the bounded candidate set, never a cross join
    "q182_entity_match" -> Query((s: SparkSession, d: String) =>
      operators.Linkage.entityMatch(s, d), oracle =
      // deterministic dirty feed (3rd name char dropped at %3, last
      // phone digit bumped at %2), blocked on (nation, phone prefix 6),
      // levenshtein-thresholded, best candidate by fewest edits
      """WITH cm AS (SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |    CAST(c_nationkey + 10 AS VARCHAR) || '-' ||
        |    lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
        |    lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0') || '-' ||
        |    lpad(CAST(c_custkey * 13 % 10000 AS VARCHAR), 4, '0') AS c_phone
        |  FROM customer),
        |feed AS (SELECT c_custkey + 1000000 AS src_id, c_custkey AS true_key,
        |    CASE WHEN c_custkey % 3 = 0
        |         THEN substr(c_name, 1, 2) || substr(c_name, 4) ELSE c_name END AS name,
        |    CASE WHEN c_custkey % 2 = 0
        |         THEN substr(c_phone, 1, length(c_phone) - 1) ||
        |              CAST((CAST(substr(c_phone, length(c_phone), 1) AS INT) + 1) % 10 AS VARCHAR)
        |         ELSE c_phone END AS phone,
        |    c_nationkey AS nation FROM cm),
        |m AS (SELECT c_custkey, c_name, c_phone, c_nationkey AS nation,
        |    substr(c_phone, 1, 6) AS block FROM cm),
        |sc AS (SELECT f.src_id, mm.c_custkey,
        |    levenshtein(f.name, mm.c_name) AS name_dist,
        |    levenshtein(f.phone, mm.c_phone) AS phone_dist
        |  FROM feed f JOIN m mm
        |    ON mm.nation = f.nation AND mm.block = substr(f.phone, 1, 6)
        |  WHERE levenshtein(f.name, mm.c_name) <= 1
        |    AND levenshtein(f.phone, mm.c_phone) <= 1),
        |best AS (SELECT src_id, c_custkey, name_dist, phone_dist,
        |    row_number() OVER (PARTITION BY src_id
        |      ORDER BY name_dist + phone_dist, c_custkey) AS rk FROM sc)
        |SELECT f.src_id, f.true_key, b.c_custkey AS matched_key,
        |  CAST(b.name_dist AS BIGINT) AS name_dist,
        |  CAST(b.phone_dist AS BIGINT) AS phone_dist,
        |  CAST(CASE WHEN b.c_custkey IS NULL THEN NULL
        |            WHEN b.c_custkey = f.true_key THEN 1 ELSE 0 END AS BIGINT) AS correct
        |FROM feed f LEFT JOIN best b ON b.src_id = f.src_id AND b.rk = 1
        |ORDER BY f.src_id""".stripMargin),
    // exact-rational Mann-Whitney AUC with midrank ties over
    // compressed score bins
    "q183_auc_eval" -> Query((s: SparkSession, d: String) =>
      Relational.aucEval(s, d), oracle =
      // doubled midranks over score bins keep everything integral;
      // HUGEINT products mirror the DECIMAL(38) Spark side
      """WITH d AS (SELECT length(text) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
        |bins AS (SELECT score, count(*) AS n, sum(pos) AS np FROM d GROUP BY 1),
        |ranked AS (SELECT score, n, np,
        |    sum(n) OVER (ORDER BY score) AS hi,
        |    sum(n) OVER (ORDER BY score) - n + 1 AS lo FROM bins),
        |agg AS (SELECT CAST(sum(np) AS BIGINT) AS npos,
        |    CAST(sum(n) - sum(np) AS BIGINT) AS nneg,
        |    CAST(sum(np * (lo + hi)) AS BIGINT) AS sum2r FROM ranked)
        |SELECT npos, nneg,
        |  CAST(sum2r - npos * (npos + 1) AS BIGINT) AS u2,
        |  CAST(CASE WHEN npos = 0 OR nneg = 0 THEN NULL
        |       ELSE (CAST(sum2r - npos * (npos + 1) AS HUGEINT) * 10000)
        |            // (CAST(npos AS HUGEINT) * nneg * 2) END AS BIGINT) AS auc_bp
        |FROM agg""".stripMargin),
    // Benford first-digit audit: integer-ppm deviation, no floats
    "q184_benford" -> Query((s: SparkSession, d: String) =>
      Relational.benfordAudit(s, d), oracle =
      // floor (not CAST — DuckDB's double->int cast rounds) before the
      // first-digit substring; expectation ppm pinned as constants
      """WITH expect(digit, expected_ppm) AS (VALUES
        |  (1, 301029), (2, 176091), (3, 124938), (4, 96910), (5, 79181),
        |  (6, 66946), (7, 57991), (8, 51152), (9, 45757)),
        |obs AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    count(*) AS observed
        |  FROM orders GROUP BY 1),
        |o2 AS (SELECT * FROM obs WHERE digit BETWEEN 1 AND 9),
        |-- coalesce mirrors the Spark side's empty-input contract
        |-- (Relational.benfordAudit): an empty orders table must yield
        |-- 9 zero rows, not NULL n/deviation
        |t AS (SELECT coalesce(sum(observed), 0) AS n FROM o2)
        |SELECT CAST(e.digit AS BIGINT) AS digit,
        |  CAST(coalesce(o.observed, 0) AS BIGINT) AS observed,
        |  CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        |  CAST(t.n AS BIGINT) AS n,
        |  CAST(abs(coalesce(o.observed, 0) * 1000000 - e.expected_ppm * t.n) AS BIGINT) AS deviation
        |FROM expect e LEFT JOIN o2 o ON o.digit = e.digit CROSS JOIN t
        |ORDER BY digit""".stripMargin),
    // schema drift between two versions from the manifests alone
    "q185_schema_drift" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import graft.sources.Snapshots
      val o = graft.sources.Tables.load(s, d, "orders")
      val table = fixture("snapschema", s, d, "orders") { path =>
        // v1: three columns; v2: one dropped, one added, one widened
        Snapshots.commitOverwrite(s, path, o.select(
          col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("price")))
        Snapshots.commitOverwrite(s, path, o.select(
          col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("price"),
          col("o_orderpriority")))
      }
      Snapshots.metadataSchemaDrift(s, table, "v00000001", "v00000002")
    }, oracle =
      // the fixture's evolution is fixed, so the drift report is a
      // constant contract: priority added, price widened, key/status
      // unchanged
      """SELECT * FROM (VALUES
        |  ('o_orderkey', 'bigint', 'bigint', 'unchanged'),
        |  ('o_orderpriority', NULL, 'string', 'added'),
        |  ('o_orderstatus', 'string', 'string', 'unchanged'),
        |  ('price', 'double', 'decimal(18,2)', 'type_changed'))
        |  AS t("column", old_type, new_type, status)
        |ORDER BY "column"""".stripMargin),
    // partition evolution: v1 laid out by status, v2 by priority —
    // each version's manifest owns its partition column, so old
    // readers stay pinned to the old layout while new reads prune on
    // the new one (Iceberg-style evolution with zero rewrite of v1)
    "q186_partition_evolution" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import graft.sources.Snapshots
      val o = graft.sources.Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      val table = fixture("snapevo", s, d, "orders") { path =>
        Snapshots.commitOverwrite(s, path, o, partCol = "o_orderstatus")
        Snapshots.commitOverwrite(s, path, o, partCol = "o_orderpriority")
      }
      Snapshots.read(s, table)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }, oracle =
      // the live (v2) layout holds the same rows re-partitioned, so the
      // oracle is the plain two-column aggregation
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // linear-counting membership bitmap (3rd native sketch): exact
    // set-bucket lists per event type + the OR-merged _ALL rollup
    "q187_bitmap_distinct" -> Query((s: SparkSession, d: String) =>
      operators.Sketches.bitmapDistinctUsers(s, d), oracle =
      // set bucket = first 3 md5 hex nibbles (12 bits); _ALL is the
      // union — DISTINCT buckets reproduce the OR-merged bitmap exactly
      """WITH u AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events
        |  UNION ALL
        |  SELECT '_ALL' AS event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
        |b AS (SELECT DISTINCT event_type,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 256 +
        |    (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) AS bucket
        |  FROM u)
        |SELECT event_type, CAST(bucket AS INT) AS bucket
        |FROM b ORDER BY event_type, bucket""".stripMargin),
    // join-size upper bound from CMS inner products vs the true size
    "q188_join_cardinality" -> Query((s: SparkSession, d: String) =>
      operators.Sketches.cmsJoinCardinality(s, d), oracle =
      // per-pair: true join size Σ f_a(u)·f_b(u) vs min over CMS rows of
      // the register inner product (collisions only ever add, so the
      // estimate upper-bounds truth; identical md5-byte rows as q173)
      """WITH e AS (SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events),
        |h AS (SELECT event_type, u, md5(u) AS h, count(*) AS n
        |  FROM e GROUP BY 1, 2, 3),
        |b AS (SELECT event_type, n, j.j AS j,
        |    (strpos('0123456789abcdef', substr(h, j.j * 2 + 1, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(h, j.j * 2 + 2, 1)) - 1) AS bucket
        |  FROM h, unnest(generate_series(0, 3)) j(j)),
        |cnt AS (SELECT event_type, j, bucket, SUM(n) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |-- build every (pair, j) cell and LEFT JOIN the collision dot
        |-- sums coalesced to 0, so a sketch row with NO colliding
        |-- buckets still contributes dot = 0 (the Spark aggregate()
        |-- computes exactly that inner product) instead of vanishing
        |-- from the MIN — an inner join here only matches the current
        |-- fixture by accident of every pair colliding in every row
        |types AS (SELECT DISTINCT event_type FROM e),
        |grid AS (SELECT a.event_type AS type_a, bb.event_type AS type_b, j.j AS j
        |  FROM types a JOIN types bb ON a.event_type < bb.event_type,
        |       unnest(generate_series(0, 3)) j(j)),
        |dotsum AS (SELECT a.event_type AS type_a, bb.event_type AS type_b, a.j,
        |    SUM(a.c * bb.c) AS dot
        |  FROM cnt a JOIN cnt bb
        |    ON a.j = bb.j AND a.bucket = bb.bucket AND a.event_type < bb.event_type
        |  GROUP BY 1, 2, 3),
        |dots AS (SELECT g.type_a, g.type_b, g.j, coalesce(d.dot, 0) AS dot
        |  FROM grid g LEFT JOIN dotsum d
        |    ON d.type_a = g.type_a AND d.type_b = g.type_b AND d.j = g.j),
        |est AS (SELECT type_a, type_b, MIN(dot) AS est_size FROM dots GROUP BY 1, 2),
        |uc AS (SELECT event_type, u, count(*) AS c FROM e GROUP BY 1, 2),
        |tru AS (SELECT a.event_type AS type_a, bb.event_type AS type_b,
        |    SUM(a.c * bb.c) AS true_size
        |  FROM uc a JOIN uc bb ON a.u = bb.u AND a.event_type < bb.event_type
        |  GROUP BY 1, 2)
        |SELECT e2.type_a, e2.type_b,
        |  CAST(coalesce(t.true_size, 0) AS BIGINT) AS true_size,
        |  CAST(e2.est_size AS BIGINT) AS est_size
        |FROM est e2 LEFT JOIN tru t
        |  ON t.type_a = e2.type_a AND t.type_b = e2.type_b
        |ORDER BY e2.type_a, e2.type_b""".stripMargin),
    // MRR of IVF-PQ against brute-force top-1, exact basis points
    "q189_mrr_eval" -> Query((s: SparkSession, d: String) =>
      Vectors.mrrEval(s, d), oracle = mrrSqlDuck),
    // KMV/theta bottom-k signatures (4th native sketch): exact
    // (rank, hash) state rows per event type
    "q190_kmv_sketch" -> Query((s: SparkSession, d: String) =>
      operators.Sketches.kmvSignatures(s, d), oracle =
      // the KMV signature is exactly the k smallest DISTINCT md5 values
      """WITH u AS (SELECT DISTINCT event_type,
        |    md5(CAST(user_id AS VARCHAR)) AS h FROM events),
        |r AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM u)
        |SELECT event_type, CAST(rk AS BIGINT) AS rank, h AS hash
        |FROM r WHERE rk <= 64 ORDER BY event_type, rank""".stripMargin),
    // calibration curve: observed positive rate per score bin
    "q191_calibration" -> Query((s: SparkSession, d: String) =>
      Relational.calibrationCurve(s, d), oracle =
      // fixed-width bins over [min, max]; all-integer rate arithmetic
      """WITH d AS (SELECT length(text) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
        |mm AS (SELECT min(score) AS mn, max(score) AS mx FROM d),
        |b AS (SELECT (d.score - mm.mn) * 10 // (mm.mx - mm.mn + 1) AS bin,
        |    d.score, d.pos FROM d CROSS JOIN mm)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(pos) * 10000 // count(*) AS BIGINT) AS pos_rate_bp,
        |  CAST(sum(score) AS BIGINT) AS sum_score
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),
    // discrete inter-order hazard table, exact basis points
    "q192_hazard_table" -> Query((s: SparkSession, d: String) =>
      operators.TimeSeries.interOrderHazard(s, d), oracle =
      // same lag-built gaps; n_at_risk = Σ events over gaps ≥ g (the
      // descending cumulative window at gap grain); top-30 by frequency
      """WITH o AS (SELECT o_custkey, o_orderdate, o_orderkey,
        |    lag(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |gaps AS (SELECT date_diff('day', prev, o_orderdate) AS g
        |  FROM o WHERE prev IS NOT NULL),
        |byg AS (SELECT g, count(*) AS events FROM gaps GROUP BY 1),
        |cum AS (SELECT g, events,
        |    sum(events) OVER (ORDER BY g DESC) AS n_at_risk FROM byg),
        |top AS (SELECT CAST(g AS BIGINT) AS g,
        |    CAST(n_at_risk AS BIGINT) AS n_at_risk,
        |    CAST(events AS BIGINT) AS events,
        |    CAST(events * 10000 // n_at_risk AS BIGINT) AS hazard_bp,
        |    row_number() OVER (ORDER BY events DESC, g) AS rk
        |  FROM cum)
        |SELECT g, n_at_risk, events, hazard_bp
        |FROM top WHERE rk <= 30 ORDER BY g""".stripMargin),
    // KMV set algebra on the signatures alone: pooled min-K union,
    // membership intersection, Jaccard in exact basis points
    "q193_kmv_algebra" -> Query((s: SparkSession, d: String) =>
      operators.Sketches.kmvSetAlgebra(s, d), oracle =
      // the KMV algebra replayed from the same bottom-64 definition:
      // per-type signature = 64 smallest distinct md5; pooled min-64 of
      // each pair = union sketch (its max = theta); intersection =
      // pooled members present in BOTH signatures; floor-div bp
      """WITH u AS (SELECT DISTINCT event_type,
        |    md5(CAST(user_id AS VARCHAR)) AS h FROM events),
        |r AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM u),
        |sig AS (SELECT event_type, h FROM r WHERE rk <= 64),
        |n AS (SELECT event_type, count(*) AS n FROM sig GROUP BY 1),
        |types AS (SELECT DISTINCT event_type FROM u),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |  FROM types a JOIN types b ON a.event_type < b.event_type),
        |pool AS (SELECT p.type_a, p.type_b, s.h
        |  FROM pairs p JOIN sig s ON s.event_type IN (p.type_a, p.type_b)
        |  GROUP BY 1, 2, 3),
        |pr AS (SELECT type_a, type_b, h, row_number() OVER (
        |    PARTITION BY type_a, type_b ORDER BY h) AS rk FROM pool),
        |pk AS (SELECT type_a, type_b, h FROM pr WHERE rk <= 64),
        |ku AS (SELECT type_a, type_b, count(*) AS k_union, max(h) AS theta_hash
        |  FROM pk GROUP BY 1, 2),
        |i AS (SELECT pk.type_a, pk.type_b, count(*) AS n_inter
        |  FROM pk
        |  JOIN sig a ON a.event_type = pk.type_a AND a.h = pk.h
        |  JOIN sig b ON b.event_type = pk.type_b AND b.h = pk.h
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
        |  CAST(ku.k_union AS BIGINT) AS k_union,
        |  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
        |  ku.theta_hash,
        |  CAST(coalesce(i.n_inter, 0) * 10000 // ku.k_union AS BIGINT) AS jaccard_bp
        |FROM pairs p
        |JOIN n na ON na.event_type = p.type_a
        |JOIN n nb ON nb.event_type = p.type_b
        |JOIN ku ON ku.type_a = p.type_a AND ku.type_b = p.type_b
        |LEFT JOIN i ON i.type_a = p.type_a AND i.type_b = p.type_b
        |ORDER BY p.type_a, p.type_b""".stripMargin),
    // log-linear quantile histogram readout vs the exact rank walk
    "q194_log_quantiles" -> Query((s: SparkSession, d: String) =>
      operators.Sketches.logQuantiles(s, d), oracle =
      // identical log-linear bucketing: (bit length, leading 5 bits);
      // est = upper bound of the first bucket reaching rank ceil(q·n),
      // true = exact type-1 quantile by the same rank walk over values
      """WITH o AS (SELECT o_orderstatus AS status,
        |    CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders WHERE floor(o_totalprice) >= 1),
        |bk AS (SELECT status, v, length(printf('%b', v)) AS blen FROM o),
        |bp AS (SELECT status, blen,
        |    CASE WHEN blen >= 5 THEN v >> (blen - 5) ELSE v END AS p
        |  FROM bk),
        |buckets AS (SELECT status, blen, p, count(*) AS c,
        |    CASE WHEN blen >= 5 THEN ((p + 1) << (blen - 5)) - 1 ELSE p END AS upper
        |  FROM bp GROUP BY 1, 2, 3),
        |tot AS (SELECT status, count(*) AS n FROM o GROUP BY 1),
        |ranks AS (SELECT t.status, t.n, q.q, (q.q * t.n + 99) // 100 AS rank
        |  FROM tot t, (VALUES (CAST(50 AS BIGINT)), (CAST(90 AS BIGINT)),
        |                      (CAST(99 AS BIGINT))) q(q)),
        |cum AS (SELECT status, blen, p, upper,
        |    sum(c) OVER (PARTITION BY status ORDER BY blen, p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM buckets),
        |est AS (SELECT r.status, r.q, r.n, min(cu.upper) AS est_v
        |  FROM ranks r JOIN cum cu ON cu.status = r.status AND cu.cum >= r.rank
        |  GROUP BY 1, 2, 3),
        |vc AS (SELECT status, v, count(*) AS c FROM o GROUP BY 1, 2),
        |vcum AS (SELECT status, v, sum(c) OVER (PARTITION BY status ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM vc),
        |tru AS (SELECT r.status, r.q, min(vu.v) AS true_v
        |  FROM ranks r JOIN vcum vu ON vu.status = r.status AND vu.cum >= r.rank
        |  GROUP BY 1, 2)
        |SELECT e.status, e.q, CAST(e.n AS BIGINT) AS n,
        |  CAST(t.true_v AS BIGINT) AS true_v,
        |  CAST(e.est_v AS BIGINT) AS est_v,
        |  CAST((e.est_v - t.true_v) * 10000 // t.true_v AS BIGINT) AS err_bp
        |FROM est e JOIN tru t ON t.status = e.status AND t.q = e.q
        |ORDER BY e.status, e.q""".stripMargin),
    // bounded bigram LM trained on the English slice (count-pruned
    // model + context totals + successor vocab), top-k readout
    "q195_lm_train" -> Query((s: SparkSession, d: String) =>
      operators.LanguageModel.bigramLmTrain(s, d), oracle =
      // identical bigram extraction + add-one model; count-pruned at
      // MinCount=2; whole-bit surprisal = length(bin(b // a)) - 1
      s"""WITH w AS (SELECT doc_id, lang, string_split($normSqlDuck, ' ') AS w FROM documents),
        |bg AS (SELECT w[i] AS w1, w[i+1] AS w2
        |  FROM w, unnest(generate_series(1, greatest(len(w) - 1, 0))) t(i)
        |  WHERE lang = 'en'),
        |m AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2 HAVING count(*) >= 2),
        |ctx AS (SELECT w1, count(*) AS ctx_total FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS v FROM bg),
        |r AS (SELECT m.w1, m.w2, m.c, ctx.ctx_total, v.v,
        |    row_number() OVER (ORDER BY m.c DESC, m.w1, m.w2) AS rk
        |  FROM m JOIN ctx USING (w1), v)
        |SELECT w1, w2, CAST(c AS BIGINT) AS c, CAST(ctx_total AS BIGINT) AS ctx_total,
        |  CAST(v AS BIGINT) AS v, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 50 ORDER BY rk""".stripMargin),
    // CCNet-style perplexity filter: integer-exact whole-bit
    // surprisal per bigram, bits/token + keep flag per document
    "q196_lm_bits_filter" -> Query((s: SparkSession, d: String) =>
      operators.LanguageModel.bitsPerToken(s, d), oracle =
      s"""WITH w AS (SELECT doc_id, lang, string_split($normSqlDuck, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
        |  FROM w, unnest(generate_series(1, greatest(len(w) - 1, 0))) t(i)),
        |tbg AS (SELECT w1, w2 FROM bg WHERE lang = 'en'),
        |m AS (SELECT w1, w2, count(*) AS c FROM tbg GROUP BY 1, 2 HAVING count(*) >= 2),
        |ctx AS (SELECT w1, count(*) AS ctx_total FROM tbg GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS v FROM tbg),
        |sc AS (SELECT bg.doc_id, bg.lang,
        |    length(printf('%b',
        |      (coalesce(ctx.ctx_total, 0) + v.v) // (coalesce(m.c, 0) + 1))) - 1 AS bits
        |  FROM bg LEFT JOIN m ON m.w1 = bg.w1 AND m.w2 = bg.w2
        |    LEFT JOIN ctx ON ctx.w1 = bg.w1, v),
        |agg AS (SELECT doc_id, lang, count(*) AS n_bigrams, sum(bits) AS bits_total
        |  FROM sc GROUP BY 1, 2)
        |SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  CAST(bits_total AS BIGINT) AS bits_total,
        |  CAST(bits_total AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS bpt,
        |  CAST(CASE WHEN CAST(bits_total AS DOUBLE) / CAST(n_bigrams AS DOUBLE) <= 7.0
        |    THEN 1 ELSE 0 END AS INT) AS kept
        |FROM agg ORDER BY doc_id""".stripMargin),
    // DSIR importance-resampling weights: hashed-bigram bucket
    // distributions, log2(p_target/p_raw) in exact integer bits
    "q197_dsir_weights" -> Query((s: SparkSession, d: String) =>
      operators.LanguageModel.dsirWeights(s, d), oracle =
      // identical md5 two-hex-digit feature hash (256 buckets); weight
      // = Σ (raw surprisal bits − target surprisal bits)
      s"""WITH w AS (SELECT doc_id, lang, string_split($normSqlDuck, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS g
        |  FROM w, unnest(generate_series(1, greatest(len(w) - 1, 0))) t(i)),
        |f AS (SELECT doc_id, lang,
        |    CAST(strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1 AS BIGINT) * 16
        |      + CAST(strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1 AS BIGINT) AS f
        |  FROM bg),
        |tgt AS (SELECT f, count(*) AS ct FROM f WHERE lang = 'en' GROUP BY 1),
        |nt AS (SELECT count(*) AS n_t FROM f WHERE lang = 'en'),
        |raw AS (SELECT f, count(*) AS cr FROM f GROUP BY 1),
        |nr AS (SELECT count(*) AS n_r FROM f),
        |bits AS (SELECT raw.f,
        |    (length(printf('%b', (n_r + 256) // (cr + 1))) - 1)
        |      - (length(printf('%b', (n_t + 256) // (coalesce(ct, 0) + 1))) - 1) AS dbits
        |  FROM raw LEFT JOIN tgt USING (f), nt, nr),
        |d AS (SELECT doc_id, lang, count(*) AS n_feats, sum(dbits) AS weight_bits
        |  FROM f JOIN bits USING (f) GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (ORDER BY weight_bits DESC, doc_id) AS rk FROM d)
        |SELECT doc_id, lang, CAST(n_feats AS BIGINT) AS n_feats,
        |  CAST(weight_bits AS BIGINT) AS weight_bits, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 100 ORDER BY rk""".stripMargin),
    // PPJoin prefix-filtered exact set-similarity self-join; the
    // oracle is the UNfiltered all-pairs join (losslessness proof)
    "q198_setsim_prefix" -> Query((s: SparkSession, d: String) =>
      operators.SetSimJoin.prefixJoin(s, d), oracle =
      // NO prefix filter here: the exact all-pairs join is the oracle,
      // so a hash-match is an end-to-end losslessness proof for the
      // Spark side's prefix-filtered candidate generation
      s"""$shingleCte,
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT x.da, x.db, CAST(ca.n AS BIGINT) AS na, CAST(cb.n AS BIGINT) AS nb,
        |  CAST(x.i AS BIGINT) AS i,
        |  round(x.i * 1.0 / (ca.n + cb.n - x.i), 4) AS jaccard
        |FROM inter x JOIN cnt ca ON ca.doc_id = x.da JOIN cnt cb ON cb.doc_id = x.db
        |WHERE x.i * 2 >= (ca.n + cb.n - x.i) * 1
        |ORDER BY x.da, x.db""".stripMargin),
    // T5-style temperature (α=1/2) source mixture with
    // largest-remainder integer quota allocation
    "q199_temp_mixture" -> Query((s: SparkSession, d: String) =>
      operators.Sampling.temperatureMixture(s, d), oracle =
      // identical α=1/2 temperature mixture; Σw via list_reduce over
      // the source-ordered list (explicit left fold — matches Spark's
      // aggregate() fold; windowed SUM association is engine-internal)
      """WITH t AS (SELECT source, len(string_split(text, ' ')) AS toks FROM documents),
        |s AS (SELECT source, sum(toks) AS n_tokens FROM t GROUP BY 1),
        |tot AS (SELECT sum(n_tokens) AS total_tokens FROM s),
        |w AS (SELECT source, n_tokens,
        |    sqrt(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS w
        |  FROM s, tot),
        |nrm AS (SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS norm FROM w),
        |q AS (SELECT source, n_tokens, w / norm AS share,
        |    CAST(floor(100000.0 * (w / norm)) AS BIGINT) AS quota_base,
        |    100000.0 * (w / norm) - floor(100000.0 * (w / norm)) AS rem
        |  FROM w, nrm),
        |l AS (SELECT *, 100000 - sum(quota_base) OVER () AS leftover,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, share,
        |  CAST(quota_base AS BIGINT) AS quota_base, CAST(rk AS BIGINT) AS rk,
        |  CAST(quota_base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM l ORDER BY source""".stripMargin),
    // tokenizer fertility by language under the corpus-trained BPE
    "q200_bpe_fertility" -> Query((s: SparkSession, d: String) =>
      operators.TextAnalysis.bpeFertility(s, d), oracle =
      // q98's type-table tokenization rolled up by language
      bpeFertilitySqlDuck),
    // winnowing (MOSS) fingerprints → shared-fingerprint pairs,
    // hot-capped in both engines
    "q201_winnow_pairs" -> Query((s: SparkSession, d: String) =>
      operators.Winnowing.sharedFingerprintPairs(s, d), oracle =
      // identical winnowing: k=8 char-gram md5s, window-of-4 min,
      // truncated-tail suppression with the short-doc guarantee, hot
      // cap 50, relative containment shared·4 ≥ min(fpa, fpb)
      s"""WITH n AS (SELECT doc_id, $normSqlDuck AS norm FROM documents),
        |g AS (SELECT doc_id, i AS p, md5(substr(norm, i, 8)) AS h,
        |    length(norm) - 7 AS nk
        |  FROM n, unnest(generate_series(1, length(norm) - 7)) t(i)
        |  WHERE length(norm) >= 8),
        |fp0 AS (SELECT doc_id, p, nk,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM g),
        |fps AS (SELECT DISTINCT doc_id, fp FROM fp0 WHERE p <= greatest(nk - 3, 1)),
        |cnt AS (SELECT doc_id, count(*) AS nfp FROM fps GROUP BY 1),
        |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
        |k AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp)),
        |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
        |  FROM k a JOIN k b USING (fp) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT p.da, p.db, CAST(ca.nfp AS BIGINT) AS fpa, CAST(cb.nfp AS BIGINT) AS fpb,
        |  CAST(p.shared AS BIGINT) AS shared,
        |  round(p.shared * 1.0 / least(ca.nfp, cb.nfp), 4) AS containment
        |FROM pairs p JOIN cnt ca ON ca.doc_id = p.da JOIN cnt cb ON cb.doc_id = p.db
        |WHERE p.shared * 4 >= least(ca.nfp, cb.nfp)
        |ORDER BY p.da, p.db""".stripMargin),
    // per-language top-half quality pruning, integer rank predicate
    "q202_percentile_prune" -> Query((s: SparkSession, d: String) =>
      operators.Sampling.percentilePrune(s, d), oracle =
      // q19's quality formula + per-language rank; keep iff 2·rk ≤ n
      """WITH q AS (SELECT doc_id, lang,
        |    len(string_split(text, ' ')) AS n_words,
        |    length(text) AS n_chars,
        |    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','of','and','is','to','in'))) AS n_stopwords
        |  FROM documents),
        |s AS (SELECT doc_id, lang,
        |    least((n_chars - (n_words - 1)) * 1.0 / n_words / 8.0, 1.0) * 0.4
        |      + (1.0 - n_punct * 1.0 / n_chars) * 0.3
        |      + least(n_stopwords * 1.0 / n_words * 4.0, 1.0) * 0.3 AS q
        |  FROM q),
        |r AS (SELECT doc_id, lang, q,
        |    row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n_lang
        |  FROM s)
        |SELECT doc_id, lang, q, CAST(rk AS BIGINT) AS rk,
        |  CAST(n_lang AS BIGINT) AS n_lang,
        |  CAST(CASE WHEN rk * 2 <= n_lang THEN 1 ELSE 0 END AS INT) AS kept
        |FROM r ORDER BY doc_id""".stripMargin),
    // snapshot point lookup through the per-file membership-bitmap
    // index (bloom-filter-index analogue): hash-distributed layout,
    // bitmap-selected files only, result equals the plain filter
    "q203_bitmap_skip_lookup" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val o = graft.sources.Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val table = fixture("snapbm", s, d, "orders") { path =>
        // hash layout: min/max ranges overlap across every file, so
        // ONLY the membership bitmap can skip here
        graft.sources.Snapshots.commitOverwrite(s, path,
          o.repartition(8, col("o_orderkey")),
          statsCols = Seq(graft.sources.Snapshots.BitmapStatPrefix + "o_orderkey"))
      }
      val v = graft.sources.Snapshots.currentVersion(s, table).get
      val keys: Seq[Any] = o.filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq ++
        Seq(-1L, -2L) // absent keys: bitmap may false-positive, rows never
      graft.sources.Snapshots.readVersionKeyPruned(s, table, v, "o_orderkey", keys)
        .orderBy(col("o_orderkey"))
    }, oracle =
      // the bitmap index only changes WHICH FILES are opened, never the
      // rows: the oracle is the plain key filter over the base table
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 997 = 0
        |ORDER BY o_orderkey""".stripMargin),
    // the q31 pipeline's first-fail drop funnel: reasons partition
    // the corpus exactly ("where did my 100 TB go")
    "q204_drop_funnel" -> Query((s: SparkSession, d: String) =>
      operators.CorpusPipeline.dropFunnel(s, d), oracle =
      // q31's stage chain, classified first-fail instead of filtered
      s"""$shingleCteRec,
        |$minhashCtes,
        |$clusterCtes,
        |dups AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) < a),
        |stats AS (SELECT doc_id, md5($normSqlDuck) AS fp,
        |  (SELECT CASE
        |    WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
        |    WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
        |    WHEN s_es >= greatest(s_en, s_de, s_fr, s_zh) THEN 'es'
        |    WHEN s_fr >= greatest(s_en, s_de, s_es, s_zh) THEN 'fr'
        |    ELSE 'zh' END FROM (SELECT
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','a','of','and','is','to','in'))) AS s_en,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('der','die','das','und','ist','ein'))) AS s_de,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('el','la','de','y','es','un'))) AS s_es,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('le','la','les','et','est','un'))) AS s_fr,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('的','是','了','在','和'))) AS s_zh)) AS lang,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  least((length(text) - (len(string_split(text, ' ')) - 1)) * 1.0 / len(string_split(text, ' ')) / 8.0, 1.0) * 0.4
        |    + (1.0 - (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) * 1.0 / length(text)) * 0.3
        |    + least(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','is','to','in'))) * 1.0 / len(string_split(text, ' ')) * 4.0, 1.0) * 0.3 AS quality
        |  FROM documents),
        |canonical AS (SELECT fp, min(doc_id) AS keep_id FROM stats GROUP BY fp),
        |labeled AS (SELECT s.doc_id, s.ws_tokens,
        |    CASE WHEN s.doc_id != c.keep_id THEN '1_exact_dup'
        |      WHEN s.doc_id IN (SELECT doc_id FROM dups) THEN '2_near_dup'
        |      WHEN s.quality < 0.5 THEN '3_low_quality'
        |      WHEN s.lang NOT IN ('en','de','es','fr','zh') THEN '4_bad_lang'
        |      ELSE '0_kept' END AS reason
        |  FROM stats s JOIN canonical c ON c.fp = s.fp)
        |SELECT reason, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ws_tokens) AS BIGINT) AS tokens
        |FROM labeled GROUP BY reason ORDER BY reason""".stripMargin),
    // stupid-backoff LM scoring: unigram backoff + integer penalty
    "q205_lm_backoff" -> Query((s: SparkSession, d: String) =>
      operators.LanguageModel.backoffBits(s, d), oracle =
      // stupid backoff: bigram surprisal when modeled, else the
      // successor's unigram surprisal + 2 penalty bits
      s"""WITH w AS (SELECT doc_id, lang, string_split($normSqlDuck, ' ') AS w FROM documents),
        |tk AS (SELECT unnest(w.w) AS t FROM w WHERE lang = 'en'),
        |tk2 AS (SELECT t FROM tk WHERE length(t) > 0),
        |uni AS (SELECT t AS w2, count(*) AS cu FROM tk2 GROUP BY 1),
        |tot AS (SELECT count(*) AS u_total, count(DISTINCT t) AS v2 FROM tk2),
        |bg AS (SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
        |  FROM w, unnest(generate_series(1, greatest(len(w) - 1, 0))) t(i)),
        |tbg AS (SELECT w1, w2 FROM bg WHERE lang = 'en'),
        |m AS (SELECT w1, w2, count(*) AS c FROM tbg GROUP BY 1, 2 HAVING count(*) >= 2),
        |ctx AS (SELECT w1, count(*) AS ctx_total FROM tbg GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS v FROM tbg),
        |sc AS (SELECT bg.doc_id, bg.lang,
        |    CASE WHEN m.c IS NOT NULL THEN
        |      length(printf('%b', (coalesce(ctx.ctx_total, 0) + v.v) // (m.c + 1))) - 1
        |    ELSE
        |      length(printf('%b', (tot.u_total + tot.v2) // (coalesce(uni.cu, 0) + 1))) - 1 + 2
        |    END AS bits
        |  FROM bg LEFT JOIN m ON m.w1 = bg.w1 AND m.w2 = bg.w2
        |    LEFT JOIN ctx ON ctx.w1 = bg.w1
        |    LEFT JOIN uni ON uni.w2 = bg.w2, v, tot),
        |agg AS (SELECT doc_id, lang, count(*) AS n_bigrams, sum(bits) AS bits_total
        |  FROM sc GROUP BY 1, 2)
        |SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  CAST(bits_total AS BIGINT) AS bits_total,
        |  CAST(bits_total AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS bpt
        |FROM agg ORDER BY doc_id""".stripMargin),
    // matryoshka truncation eval: recall@5 of prefix-dim retrieval
    "q206_matryoshka_eval" -> Query((s: SparkSession, d: String) =>
      operators.Vectors.matryoshkaEval(s, d), oracle = {
      // identical prefix-slice scoring per dim; truth = full 64 dims
      val dims = operators.Vectors.MatryoshkaDims
      def topk(tag: String, d: Int): String =
        s"""s$tag AS (SELECT qid, vec_id,
           |    round(list_dot_product(qv[1:$d], v[1:$d])
           |      / (sqrt(list_dot_product(qv[1:$d], qv[1:$d]))
           |         * sqrt(list_dot_product(v[1:$d], v[1:$d]))), 4) AS cos
           |  FROM e, q WHERE vec_id <> qid),
           |t$tag AS (SELECT qid, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
           |    FROM s$tag) WHERE rk <= 5)""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |${dims.map(d => topk(d.toString, d)).mkString(",\n")},
        |truth AS (SELECT * FROM t${dims.max})
        |${dims.map(d =>
          s"""SELECT CAST($d AS BIGINT) AS d, CAST(10 AS BIGINT) AS n_queries,
             |  CAST(count(*) AS BIGINT) AS hits,
             |  CAST(count(*) * 10000 // 50 AS BIGINT) AS recall_bp
             |FROM t$d JOIN truth USING (qid, vec_id)""".stripMargin)
         .mkString("\nUNION ALL\n")}
        |ORDER BY d""".stripMargin
    }),
    // max surprisal over any 8 consecutive bigrams (garbled-segment
    // detection a whole-doc mean averages away)
    "q207_surprisal_burst" -> Query((s: SparkSession, d: String) =>
      operators.LanguageModel.surprisalBursts(s, d), oracle =
      // identical whole-bit surprisal sequence + window-of-8 burst max
      s"""WITH w AS (SELECT doc_id, lang, string_split($normSqlDuck, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, lang, i AS p, w[i] AS w1, w[i+1] AS w2
        |  FROM w, unnest(generate_series(1, greatest(len(w) - 1, 0))) t(i)),
        |tbg AS (SELECT w1, w2 FROM bg WHERE lang = 'en'),
        |m AS (SELECT w1, w2, count(*) AS c FROM tbg GROUP BY 1, 2 HAVING count(*) >= 2),
        |ctx AS (SELECT w1, count(*) AS ctx_total FROM tbg GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS v FROM tbg),
        |sc AS (SELECT bg.doc_id, bg.lang, bg.p,
        |    length(printf('%b',
        |      (coalesce(ctx.ctx_total, 0) + v.v) // (coalesce(m.c, 0) + 1))) - 1 AS bits
        |  FROM bg LEFT JOIN m ON m.w1 = bg.w1 AND m.w2 = bg.w2
        |    LEFT JOIN ctx ON ctx.w1 = bg.w1, v),
        |bursts AS (SELECT doc_id, lang, p,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    sum(bits) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS burst
        |  FROM sc),
        |kept AS (SELECT * FROM bursts WHERE p <= greatest(n - 7, 1)),
        |mx AS (SELECT *, max(burst) OVER (PARTITION BY doc_id) AS doc_max FROM kept)
        |SELECT doc_id, lang, CAST(n AS BIGINT) AS n_bigrams,
        |  CAST(max(burst) AS BIGINT) AS max_burst_bits,
        |  CAST(min(CASE WHEN burst = doc_max THEN p END) AS BIGINT) AS burst_pos
        |FROM mx GROUP BY doc_id, lang, n ORDER BY doc_id""".stripMargin),
    // Luhn-validated credit-card PII detection + scrub
    "q208_luhn_cc_scrub" -> Query((s: SparkSession, d: String) =>
      operators.Privacy.luhnCcScrub(s, d), oracle =
      // the same generated Luhn arithmetic, verbatim
      s"""WITH a AS (SELECT doc_id, text,
        |    lpad(CAST(doc_id * 7919 % 1000000000000000 AS VARCHAR), 15, '0') AS cc15
        |  FROM documents),
        |b AS (SELECT *, ${operators.Privacy.luhnPayloadSumSql("cc15")} AS s15 FROM a),
        |c AS (SELECT *, (10 - s15 % 10) % 10 AS check_ FROM b),
        |d AS (SELECT *, CASE WHEN doc_id % 2 = 0 THEN check_ ELSE (check_ + 5) % 10 END AS digit FROM c),
        |e AS (SELECT doc_id, text, cc15 || CAST(digit AS VARCHAR) AS cc16 FROM d),
        |f AS (SELECT doc_id, cc16, text || ' card ' || cc16 AS aug,
        |    ${operators.Privacy.luhnSumSql("cc16", 16)} AS luhn_total
        |  FROM e)
        |SELECT doc_id, cc16, CAST(luhn_total AS BIGINT) AS luhn_total,
        |  CAST(CASE WHEN luhn_total % 10 = 0 THEN 1 ELSE 0 END AS INT) AS is_valid,
        |  md5(CASE WHEN luhn_total % 10 = 0 THEN replace(aug, cc16, '<CC>') ELSE aug END)
        |    AS scrub_hash
        |FROM f ORDER BY doc_id""".stripMargin),
    // one-row dataset datasheet, integer-exact
    "q209_data_card" -> Query((s: SparkSession, d: String) =>
      operators.Profile.dataCard(s, d), oracle =
      // the dataset datasheet: identical integer roll-up
      s"""WITH b AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS toks,
        |    length(text) AS chars, lang,
        |    CASE WHEN
        |      least((length(text) - (len(string_split(text, ' ')) - 1)) * 1.0 / len(string_split(text, ' ')) / 8.0, 1.0) * 0.4
        |        + (1.0 - (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) * 1.0 / length(text)) * 0.3
        |        + least(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','is','to','in'))) * 1.0 / len(string_split(text, ' ')) * 4.0, 1.0) * 0.3
        |      >= 0.5 THEN 1 ELSE 0 END AS q_ok,
        |    md5($normSqlDuck) AS fp
        |  FROM documents),
        |a AS (SELECT count(*) AS n_docs, sum(toks) AS n_tokens, sum(chars) AS n_chars,
        |    count(DISTINCT fp) AS n_distinct, sum(q_ok) AS n_quality_ok,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS docs_en,
        |    sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS docs_de,
        |    sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS docs_es,
        |    sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS docs_fr,
        |    sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS docs_zh
        |  FROM b)
        |SELECT CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(n_chars, 0) AS BIGINT) AS n_chars,
        |  CAST(coalesce((n_docs - n_distinct) * 10000 // n_docs, 0) AS BIGINT) AS exact_dup_bp,
        |  CAST(coalesce(n_quality_ok * 10000 // n_docs, 0) AS BIGINT) AS quality_ge50_bp,
        |  CAST(coalesce(n_tokens * 100 // n_docs, 0) AS BIGINT) AS avg_doc_tokens_x100,
        |  CAST(docs_en AS BIGINT) AS docs_en, CAST(docs_de AS BIGINT) AS docs_de,
        |  CAST(docs_es AS BIGINT) AS docs_es, CAST(docs_fr AS BIGINT) AS docs_fr,
        |  CAST(docs_zh AS BIGINT) AS docs_zh
        |FROM a""".stripMargin),
    // manifest-only MIN/MAX per partition (aggregate pushdown to the
    // skipping stats: O(manifest) bytes, zero data files opened)
    "q210_metadata_minmax" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val o = graft.sources.Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val table = fixture("snapmm", s, d, "orders") { path =>
        graft.sources.Snapshots.commitOverwrite(s, path, o,
          partCol = "o_orderstatus", statsCols = Seq("o_totalprice"))
      }
      val v = graft.sources.Snapshots.currentVersion(s, table).get
      graft.sources.Snapshots.metadataMinMax(s, table, v, "o_totalprice")
    }, oracle =
      // the manifest roll-up must equal the data-path aggregate exactly
      """SELECT o_orderstatus AS partition,
        |  CAST(min(o_totalprice) AS DOUBLE) AS min_v,
        |  CAST(max(o_totalprice) AS DOUBLE) AS max_v
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    // C4-style blocklist filter: word + phrase hits, keep flag
    "q211_blocklist" -> Query((s: SparkSession, d: String) =>
      operators.TextAnalysis.blocklistFilter(s, d), oracle =
      // identical word + literal-phrase hit arithmetic
      s"""WITH n AS (SELECT doc_id, $normSqlDuck AS norm FROM documents),
        |h AS (SELECT doc_id,
        |    len(list_filter(string_split(norm, ' '), x -> x IN ('slow', 'spill')))
        |      AS n_blocked_words,
        |    (length(norm) - length(replace(norm, 'sort table', ''))) // 10
        |      AS n_blocked_phrases
        |  FROM n)
        |SELECT doc_id, CAST(n_blocked_words AS BIGINT) AS n_blocked_words,
        |  CAST(n_blocked_phrases AS BIGINT) AS n_blocked_phrases,
        |  CAST(CASE WHEN n_blocked_words = 0 AND n_blocked_phrases = 0
        |    THEN 1 ELSE 0 END AS INT) AS kept
        |FROM h ORDER BY doc_id""".stripMargin),
    // index-vs-delta PPJoin: exact Jaccard pairs involving the delta
    // slice, candidates fanned out from delta prefixes only
    "q212_setsim_delta" -> Query((s: SparkSession, d: String) =>
      operators.SetSimJoin.prefixJoinDelta(s, d), oracle =
      // losslessness, q198-style: the UNfiltered exact all-pairs join
      // restricted to pairs with ≥ 1 delta (doc_id % 10 = 3) member —
      // the prefix-filtered index-vs-delta generation must reproduce it
      s"""$shingleCte,
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT x.da, x.db, CAST(ca.n AS BIGINT) AS na, CAST(cb.n AS BIGINT) AS nb,
        |  CAST(x.i AS BIGINT) AS i,
        |  round(x.i * 1.0 / (ca.n + cb.n - x.i), 4) AS jaccard
        |FROM inter x JOIN cnt ca ON ca.doc_id = x.da JOIN cnt cb ON cb.doc_id = x.db
        |WHERE x.i * 2 >= (ca.n + cb.n - x.i) * 1
        |  AND (x.da % 10 = 3 OR x.db % 10 = 3)
        |ORDER BY x.da, x.db""".stripMargin),
    // index-vs-delta winnowing: shared-fingerprint pairs involving
    // the delta, probes from delta fingerprint rows only
    "q213_winnow_delta" -> Query((s: SparkSession, d: String) =>
      operators.Winnowing.sharedFingerprintPairsDelta(s, d), oracle =
      // q201's full self-join restricted to delta-involving pairs — the
      // delta-probed fingerprint index must reproduce it exactly
      s"""WITH n AS (SELECT doc_id, $normSqlDuck AS norm FROM documents),
        |g AS (SELECT doc_id, i AS p, md5(substr(norm, i, 8)) AS h,
        |    length(norm) - 7 AS nk
        |  FROM n, unnest(generate_series(1, length(norm) - 7)) t(i)
        |  WHERE length(norm) >= 8),
        |fp0 AS (SELECT doc_id, p, nk,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM g),
        |fps AS (SELECT DISTINCT doc_id, fp FROM fp0 WHERE p <= greatest(nk - 3, 1)),
        |cnt AS (SELECT doc_id, count(*) AS nfp FROM fps GROUP BY 1),
        |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
        |k AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp)),
        |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
        |  FROM k a JOIN k b USING (fp) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT p.da, p.db, CAST(ca.nfp AS BIGINT) AS fpa, CAST(cb.nfp AS BIGINT) AS fpb,
        |  CAST(p.shared AS BIGINT) AS shared,
        |  round(p.shared * 1.0 / least(ca.nfp, cb.nfp), 4) AS containment
        |FROM pairs p JOIN cnt ca ON ca.doc_id = p.da JOIN cnt cb ON cb.doc_id = p.db
        |WHERE p.shared * 4 >= least(ca.nfp, cb.nfp)
        |  AND (p.da % 10 = 3 OR p.db % 10 = 3)
        |ORDER BY p.da, p.db""".stripMargin),
    // DCLM-style discriminative quality classifier: whole-bit Naive
    // Bayes LLR of curated-seed vs raw-pool, broadcast pruned model
    "q214_nb_classifier" -> Query((s: SparkSession, d: String) =>
      operators.QualityClassifier.nbScore(s, d), oracle =
      // whole-bit Naive Bayes LLR, term-for-term with nbScore: pruned
      // model (HAVING total>=2), full-vocab smoothing, doc-count prior
      s"""$nbScoreCtes
        |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(llr_word + prior_bits AS BIGINT) AS llr_bits,
        |  CAST(CASE WHEN llr_word + prior_bits >= 0 THEN 1 ELSE 0 END AS INT) AS kept,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS heldout
        |FROM agg, pri ORDER BY doc_id""".stripMargin),
    // positional inverted-index phrase search: postings partitioned
    // by term hash-bucket, query terms DPP-prune the scan, posting
    // lists intersected with pos+1 adjacency
    "q215_phrase_search" -> Query((s: SparkSession, d: String) => {
      val idx = fixture("postings", s, d, "documents") { path =>
        operators.PhraseSearch.postings(s, d)
          .write.partitionBy("tb").parquet(path)
      }
      operators.PhraseSearch.phraseSearch(s, d, idx)
    }, oracle =
      // phrase = the corpus's most frequent bigram; hits = adjacent
      // positional postings (b.pos = a.pos + 1) — mirrors phraseSearch
      s"""WITH n AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, i AS pos, w[i] AS w
        |  FROM n, unnest(generate_series(1, len(w))) t(i)
        |  WHERE length(w[i]) > 0),
        |bg AS (SELECT w[i] AS w1, w[i+1] AS w2
        |  FROM n, unnest(generate_series(1, greatest(len(w) - 1, 0))) t(i)
        |  WHERE length(w[i]) > 0 AND length(w[i+1]) > 0),
        |q AS (SELECT w1, w2 FROM bg GROUP BY 1, 2
        |  ORDER BY count(*) DESC, w1, w2 LIMIT 1),
        |hits AS (SELECT a.doc_id, a.pos
        |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1, q
        |  WHERE a.w = q.w1 AND b.w = q.w2)
        |SELECT h.doc_id, q.w1, q.w2, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(min(h.pos) AS BIGINT) AS first_pos
        |FROM hits h, q GROUP BY 1, 2, 3
        |ORDER BY n_hits DESC, h.doc_id LIMIT 20""".stripMargin),
    // SFT conversation prep: gap-sessionized dialogues, role mapping,
    // alternation validity, transcript hash + keep-first dedup
    "q216_conversations" -> Query((s: SparkSession, d: String) =>
      operators.Conversations.assemble(s, d), oracle =
      // 30-min-gap sessionization, role-mapped turns, ordered-transcript
      // md5, keep-first dedup — mirrors Conversations.assemble
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
        |    CASE WHEN event_type IN ('view', 'click') THEN 'user'
        |      ELSE 'assistant' END AS role
        |  FROM events),
        |s AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
        |      OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s2 AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sess_n FROM s),
        |s3 AS (SELECT *, CASE WHEN role = lag(role) OVER ws THEN 1 ELSE 0 END AS same_prev,
        |    row_number() OVER ws AS rn
        |  FROM s2 WINDOW ws AS (PARTITION BY user_id, sess_n ORDER BY tus, event_id)),
        |g AS (SELECT user_id, sess_n, count(*) AS n_turns,
        |    sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS n_user_turns,
        |    sum(same_prev) AS viol,
        |    max(CASE WHEN rn = 1 THEN role END) AS first_role,
        |    md5(string_agg(role || ': ' || event_type, chr(10)
        |      ORDER BY tus, event_id)) AS thash
        |  FROM s3 GROUP BY 1, 2),
        |c AS (SELECT *, row_number() OVER (PARTITION BY thash
        |    ORDER BY user_id, sess_n) AS rk FROM g)
        |SELECT user_id, CAST(sess_n AS BIGINT) AS sess_n,
        |  CAST(n_turns AS BIGINT) AS n_turns,
        |  CAST(n_user_turns AS BIGINT) AS n_user_turns,
        |  CAST(viol AS BIGINT) AS viol,
        |  CAST(CASE WHEN viol = 0 AND first_role = 'user' AND n_turns >= 2
        |    THEN 1 ELSE 0 END AS INT) AS valid,
        |  thash,
        |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INT) AS is_canonical
        |FROM c ORDER BY user_id, sess_n""".stripMargin),
    // skew advisor: key-distribution diagnosis + salt recommendation
    // (the measurement step ahead of q42/q52's salted treatments)
    "q217_skew_advisor" -> Query((s: SparkSession, d: String) =>
      operators.Skew.advisor(
        graft.sources.Tables.loadEvents(s, d), org.apache.spark.sql.functions.col("user_id"))
        .withColumnRenamed("k", "user_id"), oracle =
      // key histogram stats + capped ceil(max/mean) salt recommendation
      """WITH c AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |    max(cnt) AS max_cnt FROM c),
        |t2 AS (SELECT *, n_rows // n_keys AS avg_cnt FROM t),
        |h AS (SELECT count(*) AS n_hot FROM c, t2 WHERE cnt > avg_cnt * 4),
        |top AS (SELECT k, cnt FROM c ORDER BY cnt DESC, k LIMIT 5)
        |SELECT k AS user_id, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt * 1000000 // n_rows AS BIGINT) AS share_ppm,
        |  CAST(n_rows AS BIGINT) AS n_rows, CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(avg_cnt AS BIGINT) AS avg_cnt, CAST(max_cnt AS BIGINT) AS max_cnt,
        |  CAST(n_hot AS BIGINT) AS n_hot,
        |  CAST(least(32, (max_cnt + avg_cnt - 1) // avg_cnt) AS BIGINT) AS salt_reco
        |FROM top, t2, h ORDER BY cnt DESC, k""".stripMargin),
    // content-defined chunking dedup: md5-window boundary cuts,
    // global keep-first canonical chunks, per-doc bytes-saved report
    "q218_cdc_chunks" -> Query((s: SparkSession, d: String) =>
      operators.Cdc.dedupSavings(s, d), oracle =
      // identical md5-window boundary rule and keep-first chunk
      // canonicalization — mirrors Cdc.dedupSavings
      s"""WITH n AS (SELECT doc_id, $normSqlDuck AS norm FROM documents),
        |b AS (SELECT doc_id, i
        |  FROM n, unnest(generate_series(2, length(norm) - 7)) t(i)
        |  WHERE length(norm) >= 9 AND md5(substr(norm, i, 8)) LIKE '0%'),
        |st AS (SELECT doc_id, 1 AS i FROM n
        |  UNION ALL SELECT doc_id, i FROM b),
        |c AS (SELECT st.doc_id, st.i,
        |    coalesce(lead(st.i) OVER (PARTITION BY st.doc_id ORDER BY st.i),
        |      length(n.norm) + 1) - st.i AS clen,
        |    n.norm
        |  FROM st JOIN n ON n.doc_id = st.doc_id),
        |c2 AS (SELECT doc_id, i, clen, md5(substr(norm, i, clen)) AS chash FROM c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY chash
        |    ORDER BY doc_id, i) AS rk FROM c2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(clen) AS BIGINT) AS bytes_total,
        |  CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dupe_chunks,
        |  CAST(sum(CASE WHEN rk > 1 THEN clen ELSE 0 END) AS BIGINT) AS bytes_saved
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // data-constrained scaling: epoch-capped integer waterfill of a
    // token budget across sources (largest-remainder level split)
    "q219_epoch_budget" -> Query((s: SparkSession, d: String) =>
      operators.Sampling.epochBudget(s, d), oracle =
      // identical integer waterfill: caps sorted (cap, source), capped
      // prefix, level + largest-remainder split of the residue
      s"""$epochAllocCtes
        |SELECT source, n_tokens, CAST(cap AS BIGINT) AS cap,
        |  CAST(alloc AS BIGINT) AS alloc,
        |  CAST(alloc * 10000 // n_tokens AS BIGINT) AS epochs_bp
        |FROM a ORDER BY source""".stripMargin),
    // CCNet head/middle/tail: per-language LM-perplexity tertiles
    "q220_ccnet_buckets" -> Query((s: SparkSession, d: String) =>
      operators.LanguageModel.ccnetBuckets(s, d), oracle =
      // the q196 scorer verbatim + per-language ntile(3) tertiles
      s"""WITH w AS (SELECT doc_id, lang, string_split($normSqlDuck, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
        |  FROM w, unnest(generate_series(1, greatest(len(w) - 1, 0))) t(i)),
        |tbg AS (SELECT w1, w2 FROM bg WHERE lang = 'en'),
        |m AS (SELECT w1, w2, count(*) AS c FROM tbg GROUP BY 1, 2 HAVING count(*) >= 2),
        |ctx AS (SELECT w1, count(*) AS ctx_total FROM tbg GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS v FROM tbg),
        |sc AS (SELECT bg.doc_id, bg.lang,
        |    length(printf('%b',
        |      (coalesce(ctx.ctx_total, 0) + v.v) // (coalesce(m.c, 0) + 1))) - 1 AS bits
        |  FROM bg LEFT JOIN m ON m.w1 = bg.w1 AND m.w2 = bg.w2
        |    LEFT JOIN ctx ON ctx.w1 = bg.w1, v),
        |agg AS (SELECT doc_id, lang, count(*) AS n_bigrams, sum(bits) AS bits_total
        |  FROM sc GROUP BY 1, 2),
        |b AS (SELECT doc_id, lang, n_bigrams, bits_total,
        |    CAST(bits_total AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS bpt FROM agg),
        |nt AS (SELECT *, ntile(3) OVER (PARTITION BY lang
        |    ORDER BY bpt, doc_id) AS tert FROM b)
        |SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  CAST(bits_total AS BIGINT) AS bits_total, bpt,
        |  CASE WHEN tert = 1 THEN 'head' WHEN tert = 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM nt ORDER BY doc_id""".stripMargin),
    // dedup-quality eval: capped-LSH candidates vs exact PPJoin truth
    "q221_dedup_recall" -> Query((s: SparkSession, d: String) =>
      Dedup.lshRecallEval(s, d), oracle =
      // truth = the exact all-pairs Jaccard-≥-τ join (q198's oracle),
      // candidates = the capped band buckets (q70's oracle) — composed,
      // both over the fixed-K md5-ordered doc sample (Dedup round-11
      // scale fix: the eval is O(sample²), not O(corpus²))
      s"""$shingleSampledCte,
        |acnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |ainter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |truth AS (SELECT x.da, x.db
        |  FROM ainter x JOIN acnt ca ON ca.doc_id = x.da
        |    JOIN acnt cb ON cb.doc_id = x.db
        |  WHERE x.i * 2 >= (ca.n + cb.n - x.i) * 1),
        |$cappedCandCtes,
        |tn AS (SELECT count(*) AS n_truth FROM truth),
        |cn AS (SELECT count(*) AS n_cand FROM cand),
        |hit AS (SELECT count(*) AS n_hit FROM cand JOIN truth USING (da, db))
        |SELECT CAST(n_truth AS BIGINT) AS n_truth, CAST(n_cand AS BIGINT) AS n_cand,
        |  CAST(n_hit AS BIGINT) AS n_hit,
        |  CAST(n_hit * 10000 // nullif(n_truth, 0) AS BIGINT) AS recall_bp,
        |  CAST(n_hit * 10000 // nullif(n_cand, 0) AS BIGINT) AS cand_precision_bp
        |FROM tn, cn, hit""".stripMargin),
    // contrastive triplet mining: per anchor, best in-cell positive
    // (cos ≥ τ) + hardest in-cell negative (best cos < τ)
    "q222_triplet_mining" -> Query((s: SparkSession, d: String) =>
      Vectors.tripletMining(s, d), oracle =
      // same trained-IVF cells (q43/q92 prelude), same rounded cosine,
      // same (cos desc, cand) tie order — mirrors tripletMining
      s"""$ivfTrainPreludeDuck,
        |pr AS (SELECT fa.vec_id AS anchor, fb.vec_id AS cand,
        |    ${cosDuck("ea.v", "eb.v")} AS cos
        |  FROM fasg fa JOIN fasg fb ON fa.cid = fb.cid AND fa.vec_id <> fb.vec_id
        |    JOIN e ea ON ea.vec_id = fa.vec_id
        |    JOIN e eb ON eb.vec_id = fb.vec_id),
        |sided AS (SELECT anchor, cand, cos,
        |    CASE WHEN cos >= ${operators.Vectors.NearDupThreshold}
        |      THEN 'pos' ELSE 'neg' END AS side FROM pr),
        |top AS (SELECT * FROM (SELECT *, row_number() OVER (
        |      PARTITION BY anchor, side ORDER BY cos DESC, cand) AS rk
        |    FROM sided) WHERE rk = 1),
        |p AS (SELECT anchor, cand AS pos_id, cos AS cos_pos FROM top WHERE side = 'pos'),
        |n AS (SELECT anchor, cand AS neg_id, cos AS cos_neg FROM top WHERE side = 'neg')
        |SELECT p.anchor, pos_id, cos_pos, neg_id, cos_neg,
        |  round(cos_pos - cos_neg, 4) AS margin
        |FROM p JOIN n USING (anchor) ORDER BY p.anchor""".stripMargin),
    // WebDataset tar shards: pack (txt, cls) members per doc into
    // shard-NNNNN.tar executor-side, stream + parse them back, and
    // re-pair samples by key — gated against the source table
    "q223_tar_webdataset" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val tarDir = fixture("tarshards", s, d, "documents") { path =>
        val members = graft.sources.Tables.load(s, d, "documents")
          .select(expr(s"doc_id div ${graft.sources.TarShards.MembersPerShard}").as("shard"),
            explode(array(
              struct(concat(col("doc_id"), lit(".txt")).as("name"),
                encode(col("text"), "UTF-8").as("bytes")),
              struct(concat(col("doc_id"), lit(".cls")).as("name"),
                encode(col("source"), "UTF-8").as("bytes")))).as("m"))
          .select(col("shard"), col("m.name"), col("m.bytes"))
        graft.sources.TarShards.writeShards(s, members, path)
      }
      graft.sources.TarShards.webdatasetTable(s, tarDir)
    }, oracle =
      // the tar round-trip contract: what was packed must come back —
      // byte length (octet_length), content md5, class member
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS txt_len,
        |  md5(text) AS txt_md5, source AS cls
        |FROM documents ORDER BY doc_id""".stripMargin),
    // perceptual-hash image dedup: real PNG encode→decode→aHash;
    // byte-distinct images collapse into perceptual groups
    "q224_image_phash" -> Query((s: SparkSession, d: String) =>
      Multimodal.aHashDedup(s, d), oracle =
      // the aHash arithmetic restated from the pattern formula — only a
      // real PNG round trip + correct block/mean arithmetic matches
      s"""$phashNibsCtes,
        |hx AS (SELECT id, string_agg(substr('0123456789abcdef', CAST(nib AS INT) + 1, 1),
        |    '' ORDER BY nk) AS ahash FROM bits GROUP BY 1)
        |SELECT ahash, CAST(count(*) AS BIGINT) AS n_images,
        |  CAST(min(id) AS BIGINT) AS canonical_id
        |FROM hx GROUP BY 1 ORDER BY ahash""".stripMargin),
    // audio quality triage: real WAV decode → silence windows,
    // clipped samples, integer energy, keep decision
    "q225_audio_quality" -> Query((s: SparkSession, d: String) =>
      Multimodal.audioQuality(s, d), oracle =
      // the PCM sample formula restated; silence before clipping, just
      // like the encoder — mirrors audioQuality
      """WITH f AS (SELECT doc_id AS id, i,
        |    CASE WHEN ((i // 32) + doc_id)
        |        % (CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 4 END) = 0 THEN 0
        |      WHEN doc_id % 11 = 0 AND i // 32 = 1 THEN 32767
        |      WHEN (doc_id + i) % 97 = 0 THEN 32767
        |      ELSE ((doc_id * 7 + i * 13) % 2000) - 1000 END AS v
        |  FROM documents, unnest(generate_series(0, 255)) t(i)),
        |wn AS (SELECT id, i // 32 AS wk,
        |    CASE WHEN max(abs(v)) = 0 THEN 1 ELSE 0 END AS silent
        |  FROM f GROUP BY 1, 2),
        |a AS (SELECT id, CAST(count(*) AS BIGINT) AS n_frames,
        |    sum(CASE WHEN v = 32767 THEN 1 ELSE 0 END) AS n_clipped,
        |    sum(v * v) AS energy
        |  FROM f GROUP BY 1),
        |s AS (SELECT id, CAST(count(*) AS BIGINT) AS n_windows,
        |    sum(silent) AS n_silent FROM wn GROUP BY 1)
        |SELECT id AS media_id, n_frames, n_windows,
        |  CAST(n_silent AS BIGINT) AS n_silent_windows,
        |  CAST(n_clipped AS BIGINT) AS n_clipped,
        |  CAST(energy AS BIGINT) AS energy,
        |  CAST(CASE WHEN n_silent * 2 < n_windows AND n_clipped * 50 < n_frames
        |    THEN 1 ELSE 0 END AS INT) AS keep
        |FROM a JOIN s USING (id) ORDER BY media_id""".stripMargin),
    // perceptual NEAR-dup pairs: 4x16-bit band blocking (lossless for
    // Hamming <= 2), bit_count(xor) verify on the hash halves
    "q226_phash_neardup" -> Query((s: SparkSession, d: String) =>
      Multimodal.pHashNearDup(s, d), oracle =
      // same nibbles folded into 32-bit halves; 4×16-bit band blocking
      // then bit_count(xor) — mirrors pHashNearDup
      s"""$phashNibsCtes,
        |hv AS (SELECT id,
        |    CAST(sum(nib * (CASE WHEN nk < 8
        |      THEN CAST(1 AS BIGINT) << (4 * (7 - CAST(nk AS INT))) ELSE 0 END)) AS BIGINT) AS hi,
        |    CAST(sum(nib * (CASE WHEN nk >= 8
        |      THEN CAST(1 AS BIGINT) << (4 * (15 - CAST(nk AS INT))) ELSE 0 END)) AS BIGINT) AS lo
        |  FROM bits GROUP BY 1),
        |hb AS (SELECT id, hi // 65536 AS b0, hi % 65536 AS b1,
        |    lo // 65536 AS b2, lo % 65536 AS b3 FROM hv),
        |cand AS (SELECT DISTINCT da, db FROM (
        |    SELECT a.id AS da, b.id AS db FROM hb a JOIN hb b ON a.b0 = b.b0 AND a.id < b.id
        |    UNION ALL SELECT a.id, b.id FROM hb a JOIN hb b ON a.b1 = b.b1 AND a.id < b.id
        |    UNION ALL SELECT a.id, b.id FROM hb a JOIN hb b ON a.b2 = b.b2 AND a.id < b.id
        |    UNION ALL SELECT a.id, b.id FROM hb a JOIN hb b ON a.b3 = b.b3 AND a.id < b.id) u),
        |p AS (SELECT c.da, c.db,
        |    bit_count(xor(ha.hi, hx.hi)) + bit_count(xor(ha.lo, hx.lo)) AS hamming
        |  FROM cand c JOIN hv ha ON ha.id = c.da JOIN hv hx ON hx.id = c.db)
        |SELECT da, db, CAST(hamming AS BIGINT) AS hamming
        |FROM p WHERE hamming BETWEEN 1 AND 2 ORDER BY da, db""".stripMargin),
    // SoftDeDup: keep near-dups, weight each 1/cluster-size (bp) so
    // a cluster contributes one doc's worth of training gradient
    "q227_soft_dedup" -> Query((s: SparkSession, d: String) =>
      Dedup.softDedupWeights(s, d), oracle =
      // q41's components + singleton completion + 1/n weights in bp
      s"""$shingleCteRec,
        |$minhashCappedCtes,
        |$clusterCtes,
        |memb AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |  FROM reach GROUP BY a),
        |allm AS (SELECT d.doc_id, coalesce(m.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN memb m USING (doc_id)),
        |cs AS (SELECT cluster_id, count(*) AS csize FROM allm GROUP BY 1)
        |SELECT a.doc_id, a.cluster_id, CAST(cs.csize AS BIGINT) AS csize,
        |  CAST(10000 // cs.csize AS BIGINT) AS weight_bp
        |FROM allm a JOIN cs USING (cluster_id) ORDER BY a.doc_id""".stripMargin),
    // classifier calibration on held-out: LLR quintiles vs actual
    // seed-membership rate — the filter-threshold trust check
    "q228_nb_calibration" -> Query((s: SparkSession, d: String) =>
      operators.QualityClassifier.calibration(s, d), oracle =
      // held-out quintiles by LLR desc; per bucket the ACTUAL seed rate
      s"""$nbScoreCtes,
        |hv AS (SELECT doc_id, source, llr_word + prior_bits AS llr
        |  FROM agg, pri WHERE doc_id % 5 = 0),
        |b AS (SELECT *, ntile(5) OVER (ORDER BY llr DESC, doc_id) AS bucket FROM hv)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN source IN ($nbSeedList) THEN 1 ELSE 0 END) AS BIGINT) AS n_seed,
        |  CAST(sum(CASE WHEN source IN ($nbSeedList) THEN 1 ELSE 0 END) * 10000
        |    // count(*) AS BIGINT) AS seed_bp,
        |  CAST(min(llr) AS BIGINT) AS min_llr, CAST(max(llr) AS BIGINT) AS max_llr
        |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin),
    // the q219 plan executed as a physical sample: full epochs +
    // md5-sixteenths fractional draw, reconciled per source
    "q229_epoch_sampler" -> Query((s: SparkSession, d: String) =>
      operators.Sampling.epochSampler(s, d), oracle =
      // the q219 plan executed: full epochs + md5-sixteenths fractional
      // draw (q71 discipline), reconciled against the allocation
      s"""$epochAllocCtes,
        |pl AS (SELECT source, n_tokens, alloc, alloc // n_tokens AS full_epochs,
        |    ((alloc % n_tokens) * 16) // n_tokens AS rate16 FROM a),
        |d AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS h16
        |  FROM documents),
        |j AS (SELECT d.source, d.toks, pl.n_tokens, pl.alloc, pl.full_epochs, pl.rate16,
        |    pl.full_epochs + CASE WHEN d.h16 < pl.rate16 THEN 1 ELSE 0 END AS copies
        |  FROM d JOIN pl USING (source))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(max(alloc) AS BIGINT) AS alloc,
        |  CAST(max(full_epochs) AS BIGINT) AS full_epochs,
        |  CAST(max(rate16) AS BIGINT) AS rate16,
        |  CAST(sum(copies) AS BIGINT) AS sampled_docs,
        |  CAST(sum(toks * copies) AS BIGINT) AS sampled_tokens,
        |  CAST(sum(toks * copies) * 10000 // nullif(max(alloc), 0) AS BIGINT) AS fill_bp
        |FROM j GROUP BY source ORDER BY source""".stripMargin),
    // multimodal WebDataset: PNG+cls members packed into tar shards,
    // streamed back, PNGs REALLY decoded and aHashed from the
    // transported bytes — tar round trip × image decode in one gate
    "q230_tar_multimodal" -> Query((s: SparkSession, d: String) => {
      val tarDir = fixture("tarmm", s, d, "documents") { path =>
        graft.sources.TarShards.writeShards(s,
          Multimodal.multimodalMembers(s, d), path)
      }
      Multimodal.tarMultimodalTable(s, tarDir)
    }, oracle =
      // dims are fixed 32×32; the hash must match the pattern formula —
      // provable only by decoding the bytes that crossed the tar
      s"""$phashNibsCtes,
        |hx AS (SELECT id, string_agg(substr('0123456789abcdef', CAST(nib AS INT) + 1, 1),
        |    '' ORDER BY nk) AS ahash FROM bits GROUP BY 1)
        |SELECT d.doc_id, CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
        |  hx.ahash, d.source AS cls
        |FROM documents d JOIN hx ON hx.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // image RESIZE over real decoded pixels: box filter (the correct
    // downsample kernel) + nearest neighbor to 8×8, hex-packed — the
    // CLIP-preprocessing step; oracle replays both kernels from the
    // pattern formula
    "q231_image_resize" -> Query((s: SparkSession, d: String) =>
      Multimodal.imageResize(s, d), oracle =
      // both resize kernels replayed arithmetically from the pattern
      // formula: box = floor-mean of each 4×4 block, nearest = the
      // top-left sample — only a real decode + correct stride math matches
      s"""$phashNibsCtes,
        |pooled AS (SELECT id, k, s // 16 AS p FROM blk),
        |nnv AS (SELECT id, (y // 4) * 8 + (x // 4) AS k, gray AS p
        |  FROM px WHERE x % 4 = 0 AND y % 4 = 0),
        |hexes AS (SELECT b.id,
        |    string_agg(substr('0123456789abcdef', CAST(b.p // 16 AS INT) + 1, 1) ||
        |      substr('0123456789abcdef', CAST(b.p % 16 AS INT) + 1, 1), '' ORDER BY b.k) AS box_hex,
        |    string_agg(substr('0123456789abcdef', CAST(n.p // 16 AS INT) + 1, 1) ||
        |      substr('0123456789abcdef', CAST(n.p % 16 AS INT) + 1, 1), '' ORDER BY b.k) AS nn_hex
        |  FROM pooled b JOIN nnv n USING (id, k) GROUP BY b.id)
        |SELECT id AS media_id, CAST(8 AS BIGINT) AS width,
        |  CAST(8 AS BIGINT) AS height, box_hex, nn_hex
        |FROM hexes ORDER BY media_id""".stripMargin),
    // source (domain) reputation gate: per-source language / short-doc
    // profile in exact basis points — judge the domain, not the doc
    "q232_source_reputation" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.sourceReputation(s, d), oracle =
      // per-source profile in exact bp; keep = both shares under their
      // caps — integer floor-div only, no float aggregation order
      """WITH s AS (SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS n_non_en,
        |    sum(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END) AS n_short
        |  FROM documents GROUP BY 1)
        |SELECT source, n_docs,
        |  CAST(10000 * n_non_en // n_docs AS BIGINT) AS non_en_bp,
        |  CAST(10000 * n_short // n_docs AS BIGINT) AS short_bp,
        |  CAST(CASE WHEN 10000 * n_non_en // n_docs <= 6000
        |    AND 10000 * n_short // n_docs <= 1200 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM s ORDER BY source""".stripMargin),
    // cluster-balanced diversity sample: ≤ quota per k-means cluster
    // by md5 lottery — cover the embedding space, not its density
    "q233_cluster_balanced" -> Query((s: SparkSession, d: String) =>
      Vectors.clusterBalancedSample(s, d), oracle =
      // the trained-kmeans assignment (q43's unrolled Lloyd CTEs) +
      // per-cluster md5-lottery rank, quota 8 — the balanced draw
      s"""$ivfTrainPreludeDuck,
        |cs AS (SELECT cid, CAST(count(*) AS BIGINT) AS csize FROM fasg GROUP BY 1),
        |rkd AS (SELECT vec_id, cid, row_number() OVER (
        |    PARTITION BY cid ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM fasg)
        |SELECT r.vec_id, CAST(r.cid AS BIGINT) AS cid, c.csize,
        |  CAST(r.rk AS BIGINT) AS rk
        |FROM rkd r JOIN cs c USING (cid) WHERE r.rk <= 8
        |ORDER BY r.vec_id""".stripMargin),
    // native codegen'd Unicode NFC normalization: decomposed
    // e + COMBINING ACUTE must re-compose to é before exact hashing
    "q234_nfc_normalize" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.sources.Tables.loadSpread(s, d, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "e", "e\u0301").as("dec"))
        .select(col("doc_id"),
          length(col("dec")).cast("long").as("n_dec"),
          length(call_function("nfc_normalize", col("dec")))
            .cast("long").as("n_nfc"),
          md5(call_function("nfc_normalize", col("dec"))).as("nfc_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // DuckDB's utf8proc NFC vs the JVM's ICU NFC on the same
      // deliberately-decomposed input — lengths shrink, md5s agree
      """WITH n AS (SELECT doc_id,
        |    regexp_replace(text, 'e', 'e' || chr(769), 'g') AS dec
        |  FROM documents)
        |SELECT doc_id, CAST(length(dec) AS BIGINT) AS n_dec,
        |  CAST(length(nfc_normalize(dec)) AS BIGINT) AS n_nfc,
        |  md5(nfc_normalize(dec)) AS nfc_md5
        |FROM n ORDER BY doc_id""".stripMargin),
    // sketch-driven runtime join pruning: the build side's native
    // membership bitmap drops probe rows BEFORE the shuffle; no false
    // negatives, so the result IS the plain join the oracle runs
    "q235_sketch_join_prune" -> Query((s: SparkSession, d: String) =>
      graft.operators.Sketches.sketchPrunedJoin(s, d), oracle =
      // the oracle runs the PLAIN join — the sketch prune must be
      // invisible in the result (no false negatives by construction)
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F' AND o_orderkey % 97 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // n-gram novelty: share of a doc's shingles FIRST owned by it —
    // what a new crawl snapshot adds vs what the corpus already has
    "q236_novelty_score" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.noveltyScore(s, d), oracle =
      // first-owner novelty share per doc, exact bp
      s"""$shingleCte,
        |own AS (SELECT s, min(doc_id) AS owner FROM sh GROUP BY 1),
        |per AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(sum(CASE WHEN own.owner = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM sh JOIN own USING (s) GROUP BY 1)
        |SELECT doc_id, n_shingles, n_novel,
        |  CAST(10000 * n_novel // n_shingles AS BIGINT) AS novelty_bp
        |FROM per ORDER BY doc_id""".stripMargin),
    // b-bit minhash: 4-bit register compression + the (16R−12)/180
    // unbiased estimate in exact bp, audited against exact Jaccard
    "q237_bbit_minhash" -> Query((s: SparkSession, d: String) =>
      Dedup.bbitMinhash(s, d), oracle =
      // low-nibble register collisions + the clamped unbiased estimator
      // (numerator clamped BEFORE division: negative floor-div differs
      // between engines), next to the exact Jaccard
      s"""$shingleCte,
        |$cappedCandCtes,
        |$jaccardVerifyCtes,
        |rr AS (SELECT c.da, c.db,
        |    CAST(${(0 until 12).map(i => s"CASE WHEN substr(sa.h$i, 32, 1) = substr(sb.h$i, 32, 1) THEN 1 ELSE 0 END").mkString(" + ")} AS BIGINT) AS r_coll
        |  FROM cand c JOIN sig sa ON sa.doc_id = c.da JOIN sig sb ON sb.doc_id = c.db)
        |SELECT r.da, r.db, r.r_coll,
        |  CAST(greatest(0, 16 * r.r_coll - 12) * 10000 // 180 AS BIGINT) AS est_bp,
        |  CAST(10000 * coalesce(x.i, 0) // (ca.n + cb.n - coalesce(x.i, 0)) AS BIGINT) AS true_bp
        |FROM rr r LEFT JOIN inter x ON x.da = r.da AND x.db = r.db
        |JOIN cnt ca ON ca.doc_id = r.da JOIN cnt cb ON cb.doc_id = r.db
        |ORDER BY r.da, r.db""".stripMargin),
    // context-window trimming: longest turn SUFFIX under the token
    // budget per conversation (recency wins, oldest turns fall off)
    "q238_context_trim" -> Query((s: SparkSession, d: String) =>
      graft.operators.Conversations.contextTrim(s, d), oracle =
      // q216's sessionization + a descending cumulative cost window:
      // kept = the turn suffix that fits the budget
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    1 + CAST(coalesce(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), ''), '0') AS BIGINT) AS cost
        |  FROM events),
        |s AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
        |      OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s2 AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sess_n FROM s),
        |s3 AS (SELECT *, sum(cost) OVER (PARTITION BY user_id, sess_n
        |    ORDER BY tus DESC, event_id DESC ROWS UNBOUNDED PRECEDING) AS sufcost
        |  FROM s2)
        |SELECT user_id, CAST(sess_n AS BIGINT) AS sess_n,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(sum(cost) AS BIGINT) AS total_cost,
        |  CAST(sum(CASE WHEN sufcost <= 150 THEN 1 ELSE 0 END) AS BIGINT) AS kept_turns,
        |  CAST(count(*) - sum(CASE WHEN sufcost <= 150 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_turns,
        |  CAST(coalesce(sum(CASE WHEN sufcost <= 150 THEN cost END), 0) AS BIGINT) AS kept_cost
        |FROM s3 GROUP BY 1, 2 ORDER BY user_id, sess_n""".stripMargin),
    // dataset normalization stats from real decoded pixels: exact
    // per-group pixel sums / sums of squares + integer milli-mean
    "q239_channel_stats" -> Query((s: SparkSession, d: String) =>
      Multimodal.channelStats(s, d), oracle =
      // the pattern formula's exact pixel sums / sums of squares per
      // group — only a faithful real decode reproduces them
      s"""$phashNibsCtes,
        |a AS (SELECT g, count(DISTINCT id) AS n_images,
        |    sum(gray) AS sum_gray, sum(gray * gray) AS sum_sq
        |  FROM px GROUP BY 1)
        |SELECT CAST(g AS BIGINT) AS grp, CAST(n_images AS BIGINT) AS n_images,
        |  CAST(sum_gray AS BIGINT) AS sum_gray, CAST(sum_sq AS BIGINT) AS sum_sq,
        |  CAST(1000 * sum_gray // (n_images * 1024) AS BIGINT) AS mean_milli
        |FROM a ORDER BY grp""".stripMargin),
    // doc-granularity retrieval over a chunk-level index: IVF-probed
    // candidates, document score = MAX chunk cosine (MaxSim)
    "q240_group_maxsim" -> Query((s: SparkSession, d: String) =>
      Vectors.groupMaxSim(s, d), oracle =
      // q43's trained-kmeans prelude + probe CTEs, then group-max per
      // label and a top-3 rank — the chunk→document collapse
      s"""$ivfTrainPreludeDuck,
        |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |qq AS (SELECT vec_id AS qid, v AS qv2 FROM e WHERE vec_id < 10),
        |probes AS (SELECT qid, qv2, cid FROM (
        |    SELECT qid, qv2, c.cid, row_number() OVER (PARTITION BY qid ORDER BY ${cosDuck("c.cv", "qv2")} DESC, c.cid) AS prk
        |    FROM qq, c3 c)
        |  WHERE prk <= 4),
        |sc AS (SELECT p.qid, l.label, max(${cosDuck("p.qv2", "e.v")}) AS maxcos,
        |    CAST(count(*) AS BIGINT) AS n_chunks
        |  FROM probes p JOIN fasg a ON a.cid = p.cid JOIN e ON e.vec_id = a.vec_id
        |  JOIN lab l ON l.vec_id = e.vec_id
        |  WHERE e.vec_id <> p.qid GROUP BY 1, 2),
        |r AS (SELECT qid, label, maxcos, n_chunks, row_number() OVER (
        |    PARTITION BY qid ORDER BY maxcos DESC, label) AS rk FROM sc)
        |SELECT qid, label, maxcos, n_chunks, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin),
    // JL sign projection: hash-generated ±1 matrix over integer
    // micro-components — storage-free, broadcast-free, exact BIGINTs
    "q241_random_projection" -> Query((s: SparkSession, d: String) =>
      Vectors.randomProjection(s, d), oracle =
      // the hash-generated sign matrix replayed nibble-by-nibble over
      // the same integer micro-components
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv FROM e),
        |comp AS (SELECT vec_id, i - 1 AS dim, qv[i] AS qi
        |  FROM q, unnest(generate_series(1, len(qv))) t(i)),
        |sgn AS (SELECT vec_id, j.j AS j,
        |    CASE WHEN strpos('0123456789abcdef',
        |        substr(md5(j.j || '|' || dim), 1, 1)) - 1 < 8
        |      THEN qi ELSE -qi END AS sq
        |  FROM comp, unnest(generate_series(0, 3)) j(j))
        |SELECT vec_id,
        |  ${(0 until 4).map(j => s"CAST(sum(CASE WHEN j = $j THEN sq END) AS BIGINT) AS p$j").mkString(", ")}
        |FROM sgn GROUP BY 1 ORDER BY vec_id""".stripMargin),
    // range-partition boundary planning: exact k-quantile boundaries
    // from compressed counts + measured per-bin tie imbalance
    "q242_range_boundaries" -> Query((s: SparkSession, d: String) =>
      Relational.rangeBoundaries(s, d), oracle =
      // exact type-1 k-quantile boundaries over compressed counts +
      // the measured per-bin loads (tie mass = imbalance)
      """WITH v AS (SELECT CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS v FROM orders),
        |b AS (SELECT v, count(*) AS c FROM v GROUP BY 1),
        |cum AS (SELECT v, c, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS hi FROM b),
        |n AS (SELECT count(*) AS n FROM v),
        |t AS (SELECT m.m AS bin, m.m * n.n // 8 AS r, n.n AS n
        |  FROM unnest(generate_series(1, 8)) m(m), n),
        |bd AS (SELECT t.bin, t.n, min(cum.v) AS upper_price
        |  FROM t JOIN cum ON cum.hi >= t.r GROUP BY 1, 2),
        |bd2 AS (SELECT *, lag(upper_price) OVER (ORDER BY bin) AS lower_price FROM bd),
        |ld AS (SELECT bd2.bin, bd2.upper_price, bd2.n, sum(b.c) AS n_rows
        |  FROM b JOIN bd2 ON (bd2.lower_price IS NULL OR b.v > bd2.lower_price)
        |    AND b.v <= bd2.upper_price
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(bin AS BIGINT) AS bin, upper_price,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(10000 * n_rows // n AS BIGINT) AS load_bp
        |FROM ld ORDER BY bin""".stripMargin),
    // the optimizer's cost model as a query: CMS-estimated edge
    // cardinalities vs truth, minimum-estimate edge marked chosen
    "q243_join_order_advisor" -> Query((s: SparkSession, d: String) =>
      graft.operators.Sketches.joinOrderAdvisor(s, d), oracle =
      // per-edge CMS register matrices rebuilt from md5 bytes, row inner
      // products, MIN over rows; truth from group-count joins; chosen =
      // minimum estimate (the q188 arithmetic, two star edges)
      """WITH k AS (
        |  SELECT 'co' AS edge, 'a' AS side, CAST(c_custkey AS VARCHAR) AS u FROM customer
        |  UNION ALL SELECT 'co', 'b', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'ol', 'a', CAST(o_orderkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'ol', 'b', CAST(l_orderkey AS VARCHAR) FROM lineitem),
        |h AS (SELECT edge, side, u, md5(u) AS h, count(*) AS n FROM k GROUP BY 1, 2, 3, 4),
        |bk AS (SELECT edge, side, n, j.j AS j,
        |    (strpos('0123456789abcdef', substr(h, j.j * 2 + 1, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(h, j.j * 2 + 2, 1)) - 1) AS bucket
        |  FROM h, unnest(generate_series(0, 3)) j(j)),
        |cnt AS (SELECT edge, side, j, bucket, SUM(n) AS c FROM bk GROUP BY 1, 2, 3, 4),
        |grid AS (SELECT DISTINCT edge, j.j AS j FROM k, unnest(generate_series(0, 3)) j(j)),
        |dotsum AS (SELECT a.edge, a.j, SUM(a.c * bb.c) AS dot
        |  FROM cnt a JOIN cnt bb ON a.edge = bb.edge AND a.j = bb.j
        |    AND a.bucket = bb.bucket AND a.side = 'a' AND bb.side = 'b'
        |  GROUP BY 1, 2),
        |dots AS (SELECT g.edge, g.j, coalesce(d.dot, 0) AS dot FROM grid g
        |  LEFT JOIN dotsum d ON d.edge = g.edge AND d.j = g.j),
        |est AS (SELECT edge, MIN(dot) AS est_size FROM dots GROUP BY 1),
        |ta AS (SELECT 'co' AS edge, coalesce(SUM(ca.c * cb.c), 0) AS true_size
        |  FROM (SELECT c_custkey AS kk, count(*) AS c FROM customer GROUP BY 1) ca
        |  JOIN (SELECT o_custkey AS kk, count(*) AS c FROM orders GROUP BY 1) cb USING (kk)
        |  UNION ALL SELECT 'ol', coalesce(SUM(ca.c * cb.c), 0)
        |  FROM (SELECT o_orderkey AS kk, count(*) AS c FROM orders GROUP BY 1) ca
        |  JOIN (SELECT l_orderkey AS kk, count(*) AS c FROM lineitem GROUP BY 1) cb USING (kk)),
        |fin AS (SELECT e.edge, e.est_size, t.true_size FROM est e JOIN ta t USING (edge)),
        |m AS (SELECT min(est_size) AS me FROM fin)
        |SELECT CASE fin.edge WHEN 'co' THEN 'customer-orders'
        |    ELSE 'orders-lineitem' END AS join_edge,
        |  CAST(fin.est_size AS BIGINT) AS est_size,
        |  CAST(fin.true_size AS BIGINT) AS true_size,
        |  CAST(CASE WHEN fin.est_size = m.me THEN 1 ELSE 0 END AS INT) AS chosen
        |FROM fin, m ORDER BY join_edge""".stripMargin),
    // zero-copy shallow clone: the clone's v1 references the source's
    // data dirs (O(manifest)); a delete on the clone diverges
    // copy-on-write while the source's full data stays intact
    "q244_snapshot_clone" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val o = ordersPriced(s, d).drop("o_orderstatus")
      val root = fixture("snapclone", s, d, "orders") { path =>
        graft.sources.Snapshots.commitOverwrite(s, s"$path/src", o)
        graft.sources.Snapshots.shallowClone(s, s"$path/src", s"$path/clone")
        graft.sources.Snapshots.commitDelete(s, s"$path/clone",
          col("o_orderkey") % 3 === 0)
      }
      def side(tag: String, sub: String) =
        graft.sources.Snapshots.read(s, s"$root/$sub")
          .agg(count(lit(1)).as("n"),
            sum(col("price")).cast("double").as("price_sum"))
          .select(lit(tag).as("side"), col("n"), col("price_sum"))
      side("clone", "clone").unionByName(side("src", "src"))
        .orderBy(col("side"))
    }, oracle =
      // clone = all rows minus the clone-side delete; src = everything —
      // the oracle states both sides from the base table
      """SELECT 'clone' AS side, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders WHERE o_orderkey % 3 <> 0
        |UNION ALL
        |SELECT 'src', CAST(count(*) AS BIGINT),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders ORDER BY side""".stripMargin),
    // seasonal-naive forecast backtest: forecast(d) = actual(d-7) by
    // calendar join, per-weekday MAE/bias in exact cents
    "q245_forecast_backtest" -> Query((s: SparkSession, d: String) =>
      operators.TimeSeries.forecastBacktest(s, d), oracle =
      // the calendar-shifted self-join and the per-dow cents errors
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |j AS (SELECT a.d, a.cents, b.cents AS fc_cents
        |  FROM daily a JOIN daily b ON a.d = b.d + 7)
        |SELECT CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(abs(cents - fc_cents)) AS BIGINT) AS sum_abs_err_cents,
        |  CAST(sum(cents - fc_cents) AS BIGINT) AS sum_err_cents,
        |  CAST(sum(abs(cents - fc_cents)) // count(*) AS BIGINT) AS mae_cents
        |FROM j GROUP BY 1 ORDER BY dow""".stripMargin),
    // per-dimension embedding drift between corpus halves: the
    // cross-multiplied mean difference, division-free and exact
    "q246_embedding_drift" -> Query((s: SparkSession, d: String) =>
      Vectors.embeddingDrift(s, d), oracle =
      // per-dim micro-component sums per half + the division-free
      // cross-multiplied mean difference
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |comp AS (SELECT vec_id % 2 AS half, i - 1 AS dim,
        |    CAST(floor(v[i] * 1000000) AS BIGINT) AS qi
        |  FROM e, unnest(generate_series(1, len(v))) t(i)),
        |a AS (SELECT half, dim, count(*) AS n, sum(qi) AS s FROM comp GROUP BY 1, 2)
        |SELECT CAST(h0.dim AS BIGINT) AS dim,
        |  CAST(h0.n AS BIGINT) AS n0, CAST(h0.s AS BIGINT) AS sum0_micro,
        |  CAST(h1.n AS BIGINT) AS n1, CAST(h1.s AS BIGINT) AS sum1_micro,
        |  CAST(abs(h0.s * h1.n - h1.s * h0.n) AS BIGINT) AS abs_cross
        |FROM (SELECT * FROM a WHERE half = 0) h0
        |JOIN (SELECT * FROM a WHERE half = 1) h1 USING (dim)
        |ORDER BY dim""".stripMargin),
    // audio 2x decimation over real decoded PCM: subsample + flooring
    // box kernels, sufficient statistics per clip
    "q247_audio_resample" -> Query((s: SparkSession, d: String) =>
      Multimodal.audioResample(s, d), oracle =
      // the PCM formula decimated arithmetically: v0 subsample + the
      // shifted-nonnegative (v0+v1+65536)//2-32768 box (floor==truncate)
      """WITH f AS (SELECT doc_id AS id, i,
        |    CASE WHEN ((i // 32) + doc_id)
        |        % (CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 4 END) = 0 THEN 0
        |      WHEN doc_id % 11 = 0 AND i // 32 = 1 THEN 32767
        |      WHEN (doc_id + i) % 97 = 0 THEN 32767
        |      ELSE ((doc_id * 7 + i * 13) % 2000) - 1000 END AS v
        |  FROM documents, unnest(generate_series(0, 255)) t(i)),
        |p AS (SELECT id, i // 2 AS k,
        |    max(CASE WHEN i % 2 = 0 THEN v END) AS v0,
        |    max(CASE WHEN i % 2 = 1 THEN v END) AS v1
        |  FROM f GROUP BY 1, 2),
        |r AS (SELECT id, v0, (v0 + v1 + 65536) // 2 - 32768 AS box FROM p)
        |SELECT id AS media_id, CAST(count(*) AS BIGINT) AS n_out,
        |  CAST(sum(v0) AS BIGINT) AS sum_sub,
        |  CAST(sum(box) AS BIGINT) AS sum_box,
        |  CAST(sum(v0 * v0) AS BIGINT) AS energy_sub,
        |  CAST(sum(box * box) AS BIGINT) AS energy_box
        |FROM r GROUP BY 1 ORDER BY media_id""".stripMargin),
    // Newman modularity of the label-prop communities, scaled by 4m²
    // so every term is integer (4m·e_c − D_c²)
    "q248_modularity" -> Query((s: SparkSession, d: String) =>
      operators.Affinity.modularity(s, d), oracle =
      // q154's propagation prelude + the scaled modularity readout:
      // contrib_scaled = 4m·e_c − D_c², division-free and sign-safe
      """WITH e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |r1 AS (SELECT src, dst AS label, count(*) AS c FROM adj GROUP BY 1, 2),
        |l1 AS (SELECT src AS id, label FROM (SELECT src, label,
        |    row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rk FROM r1)
        |  WHERE rk = 1),
        |r2 AS (SELECT a.src, l1.label, count(*) AS c FROM adj a
        |  JOIN l1 ON l1.id = a.dst GROUP BY 1, 2),
        |l2 AS (SELECT src AS id, label FROM (SELECT src, label,
        |    row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rk FROM r2)
        |  WHERE rk = 1),
        |m AS (SELECT count(*) AS m FROM e0),
        |deg AS (SELECT src AS id, count(*) AS d FROM adj GROUP BY 1),
        |ein AS (SELECT la.label AS community, count(*) AS e_in
        |  FROM e0 JOIN l2 la ON la.id = e0.src JOIN l2 lb ON lb.id = e0.dst
        |  WHERE la.label = lb.label GROUP BY 1),
        |ds AS (SELECT l2.label AS community, count(*) AS n_members,
        |    sum(deg.d) AS deg_sum
        |  FROM l2 JOIN deg ON deg.id = l2.id GROUP BY 1)
        |SELECT ds.community, CAST(n_members AS BIGINT) AS n_members,
        |  CAST(coalesce(e_in, 0) AS BIGINT) AS e_in,
        |  CAST(deg_sum AS BIGINT) AS deg_sum,
        |  CAST(4 * m.m * coalesce(e_in, 0) - deg_sum * deg_sum AS BIGINT) AS contrib_scaled
        |FROM ds LEFT JOIN ein USING (community), m
        |ORDER BY ds.community""".stripMargin),
    // WebDataset reshard planning: tar footprints to byte-budgeted
    // shards by hierarchical global prefix sum
    "q249_reshard_plan" -> Query((s: SparkSession, d: String) =>
      operators.Packing.reshardPlan(s, d), oracle =
      // the sequential tar writer replayed as one cumulative window:
      // ustar footprint per doc, shard = start offset div budget
      """WITH s AS (SELECT doc_id,
        |    1024 + ((octet_length(encode(text)) + 511) // 512) * 512
        |         + ((octet_length(encode(source)) + 511) // 512) * 512 AS tar_bytes
        |  FROM documents),
        |c AS (SELECT doc_id, tar_bytes,
        |    coalesce(sum(tar_bytes) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM s),
        |a AS (SELECT doc_id, tar_bytes, CAST(start_off // 65536 AS BIGINT) AS shard FROM c)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc,
        |  CAST(sum(tar_bytes) AS BIGINT) AS shard_bytes,
        |  CAST(10000 * sum(tar_bytes) // 65536 AS BIGINT) AS fill_bp
        |FROM a GROUP BY 1 ORDER BY shard""".stripMargin),
    // smart-batching audit: padding waste of arrival-order vs
    // length-bucketed batches, exact bp — no global sort either way
    "q250_batch_padding" -> Query((s: SparkSession, d: String) =>
      operators.Packing.batchPaddingAudit(s, d), oracle =
      // both batching strategies replayed: arrival = doc_id div B,
      // bucketed = per-length-bucket rank div B; waste in exact bp
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS len FROM documents),
        |arr AS (SELECT doc_id // 8 AS bk, len FROM d),
        |ab AS (SELECT bk, count(*) AS n, sum(len) AS real, max(len) AS mx
        |  FROM arr GROUP BY 1),
        |aa AS (SELECT 'arrival' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
        |    CAST(sum(real) AS BIGINT) AS real_tokens,
        |    CAST(sum(n * mx) AS BIGINT) AS padded_tokens FROM ab),
        |bu AS (SELECT doc_id, len, len // 32 AS lb,
        |    row_number() OVER (PARTITION BY len // 32 ORDER BY len, doc_id) AS rk
        |  FROM d),
        |bb AS (SELECT lb || '_' || CAST((rk - 1) // 8 AS VARCHAR) AS bk,
        |    count(*) AS n, sum(len) AS real, max(len) AS mx FROM bu GROUP BY 1),
        |ba AS (SELECT 'bucketed' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
        |    CAST(sum(real) AS BIGINT) AS real_tokens,
        |    CAST(sum(n * mx) AS BIGINT) AS padded_tokens FROM bb),
        |u AS (SELECT * FROM aa UNION ALL SELECT * FROM ba)
        |SELECT strategy, n_batches, real_tokens, padded_tokens,
        |  CAST(10000 * (padded_tokens - real_tokens) // padded_tokens AS BIGINT) AS waste_bp
        |FROM u ORDER BY strategy""".stripMargin),
    // TFRecord shard round trip: CRC32C-framed records through real
    // shards, both checksums verified at parse
    "q251_tfrecord_roundtrip" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val tfDir = fixture("tfrec", s, d, "documents") { path =>
        val recs = graft.sources.Tables.load(s, d, "documents")
          .select(
            expr(s"doc_id div ${graft.sources.TfRecords.RecordsPerShard}")
              .as("shard"),
            col("doc_id").as("order"),
            encode(concat(col("doc_id").cast("string"), lit("\n"),
              col("text")), "UTF-8").as("data"))
        graft.sources.TfRecords.writeShards(s, recs, path)
      }
      graft.sources.TfRecords.roundTripTable(s, tfDir)
    }, oracle =
      // the TFRecord round-trip contract: framed length + content md5
      // per record must match the source rows (CRCs verified at parse)
      """SELECT doc_id,
        |  CAST(octet_length(encode(doc_id || chr(10) || text)) AS BIGINT) AS rec_len,
        |  md5(text) AS txt_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
    // deterministic augmentation over real decode: rot90 + hflip
    // aHashes next to the identity hash
    "q252_image_augment" -> Query((s: SparkSession, d: String) =>
      Multimodal.imageAugment(s, d), oracle =
      // the pattern formula under all three coordinate substitutions —
      // only a real decode + correct index arithmetic matches all hashes
      s"""WITH ids AS (SELECT doc_id AS id, doc_id % 50 AS g FROM documents),
        |${augHashCtes("i", "x", "y")},
        |${augHashCtes("r", "y", "31 - x")},
        |${augHashCtes("f", "31 - x", "y")}
        |SELECT i.id AS media_id, i.h AS ahash, r.h AS ahash_rot90,
        |  f.h AS ahash_flip
        |FROM hxi i JOIN hxr r ON r.id = i.id JOIN hxf f ON f.id = i.id
        |ORDER BY media_id""".stripMargin),
    // corpus-wide kNN graph: every vector's top-3 in-cell neighbors
    // (the SemDeDup join shape emitting exactly N·k edges)
    "q253_knn_graph" -> Query((s: SparkSession, d: String) =>
      Vectors.knnGraph(s, d), oracle =
      // the trained-assignment prelude + in-cell pair rank: exactly the
      // operator's candidate bound, so edges match one for one
      s"""$ivfTrainPreludeDuck,
        |pr AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosDuck("ea.v", "eb.v")} AS cos
        |  FROM fasg a JOIN fasg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id),
        |r AS (SELECT src, dst, cos, row_number() OVER (
        |    PARTITION BY src ORDER BY cos DESC, dst) AS rk FROM pr)
        |SELECT src, dst, cos, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY src, rk""".stripMargin),
    // IVF index health: per-cell loads, ppm shares, hot-cell flags
    "q254_ivf_cell_stats" -> Query((s: SparkSession, d: String) =>
      Vectors.ivfCellStats(s, d), oracle =
      // per-cell loads from the same assignment; hot = load > 2× mean
      s"""$ivfTrainPreludeDuck,
        |cells AS (SELECT CAST(cid AS BIGINT) AS cid, count(*) AS n_vecs
        |  FROM fasg GROUP BY 1),
        |t AS (SELECT sum(n_vecs) AS n_total, count(*) AS n_cells FROM cells)
        |SELECT cid, CAST(n_vecs AS BIGINT) AS n_vecs,
        |  CAST(1000000 * n_vecs // n_total AS BIGINT) AS load_ppm,
        |  CAST(n_total // n_cells AS BIGINT) AS mean_load,
        |  CAST(CASE WHEN n_vecs * n_cells > 2 * n_total THEN 1 ELSE 0 END AS INT) AS hot
        |FROM cells, t ORDER BY cid""".stripMargin),
    // order-invariant corpus fingerprint: commutative 48-bit-prefix
    // digest + counts + hash extrema, one aggregation
    "q255_corpus_fingerprint" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.corpusFingerprint(s, d), oracle =
      // the commutative digest restated: keyed md5, 48-bit hex prefix
      // summed in DECIMAL(38,0), emitted as a string
      """WITH h AS (SELECT md5(CAST(doc_id AS VARCHAR) || '|' || text) AS h
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CAST(CAST('0x' || substr(h, 1, 12) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS fp_sum,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
        |  min(h) AS min_h, max(h) AS max_h
        |FROM h""".stripMargin),
    // temporal embargo split: train < cutoff−embargo < test, per-user
    // counts + the auditable train→test gap
    "q256_temporal_split" -> Query((s: SparkSession, d: String) =>
      operators.Sampling.temporalEmbargoSplit(s, d), oracle =
      // row-local part assignment + per-user counts and the train→test
      // gap (NULL when a user lacks either side, in both engines)
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
        |s AS (SELECT user_id, tus, CASE WHEN tus >= 1706054400000000 THEN 'test'
        |    WHEN tus >= 1706054400000000 - 172800000000 THEN 'embargo'
        |    ELSE 'train' END AS part FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN part = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN part = 'embargo' THEN 1 ELSE 0 END) AS BIGINT) AS n_embargo,
        |  CAST(sum(CASE WHEN part = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        |  CAST(min(CASE WHEN part = 'test' THEN tus END)
        |     - max(CASE WHEN part = 'train' THEN tus END) AS BIGINT) AS gap_us
        |FROM s GROUP BY 1 ORDER BY user_id""".stripMargin),
    // RFM churn features: recency days / purchase count / exact cents
    // + threshold segments, one keyed aggregation
    "q257_rfm_features" -> Query((s: SparkSession, d: String) =>
      operators.Behavioral.rfmFeatures(s, d), oracle =
      // purchase-slice RFM triple + segment thresholds, integer-exact
      """WITH p AS (SELECT user_id, epoch_us(ts) AS tus,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT user_id, max(tus) AS last_tus, count(*) AS frequency,
        |    sum(cents) AS monetary_cents FROM p GROUP BY 1),
        |f AS (SELECT user_id,
        |    (1706745600000000 - last_tus) // 86400000000 AS recency_days,
        |    CAST(frequency AS BIGINT) AS frequency,
        |    CAST(monetary_cents AS BIGINT) AS monetary_cents FROM a)
        |SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
        |  frequency, monetary_cents,
        |  CASE WHEN recency_days <= 7 AND frequency >= 3 THEN 'champion'
        |    WHEN recency_days <= 7 THEN 'recent'
        |    WHEN frequency >= 3 THEN 'loyal'
        |    ELSE 'at_risk' END AS segment
        |FROM f ORDER BY user_id""".stripMargin),
    // near-zero-variance dimension pruning: exact scaled n²·Var per
    // dim in DECIMAL(38,0), division-free threshold verdict
    "q258_dim_variance_prune" -> Query((s: SparkSession, d: String) =>
      Vectors.dimVariancePrune(s, d), oracle =
      // n·Σq² − (Σq)² per dim in DECIMAL(38,0); prune below n²·2.5e9
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |comp AS (SELECT i - 1 AS dim, CAST(floor(v[i] * 1000000) AS BIGINT) AS qi
        |  FROM e, unnest(generate_series(1, len(v))) t(i)),
        |a AS (SELECT dim, count(*) AS n, sum(qi) AS s,
        |    sum(CAST(qi AS HUGEINT) * qi) AS s2 FROM comp GROUP BY 1)
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(n AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s AS VARCHAR) AS scaled_var,
        |  CAST(CASE WHEN CAST(n AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s
        |    < CAST(n AS HUGEINT) * n * 2500000000 THEN 1 ELSE 0 END AS INT) AS pruned
        |FROM a ORDER BY dim""".stripMargin),
    // dataset diff: full-outer hash join classifies every row
    // added/removed/changed/same — the fingerprint's localizer
    "q259_dataset_diff" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.datasetDiffQuery(s, d), oracle =
      // the derived-next diff census in closed form from the base table
      // (removal wins over edit; adds are the shifted mod-103 copies)
      """WITH st AS (SELECT CASE WHEN doc_id % 97 = 0 THEN 'removed'
        |    WHEN doc_id % 101 = 0 THEN 'changed' ELSE 'same' END AS status
        |  FROM documents),
        |u AS (SELECT status FROM st
        |  UNION ALL SELECT 'added' FROM documents WHERE doc_id % 103 = 0)
        |SELECT status, CAST(count(*) AS BIGINT) AS n
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin),
    "q260_mjpeg_frames" -> Query(operators.Multimodal.mjpegFrames _, oracle =
      // per-frame geometry + pixel sums restated from the pattern
      // formulas — matched only by really walking the RIFF tree to the
      // '00dc' chunks and really JPEG-decoding each one (the uniform-gray
      // rasters are the bit-exact subset of the lossy codec: DC-only DCT,
      // neutral chroma)
      """WITH ids AS (SELECT doc_id AS id, 2 + doc_id % 4 AS n FROM documents),
        |fr AS (SELECT id, n, f.f AS f
        |  FROM ids, unnest(generate_series(0, CAST(n - 1 AS INT))) f(f)),
        |g AS (SELECT id, f, n,
        |    16 + (id * 7 + f * 3) % 24 AS w,
        |    8 + (id * 5 + f * 11) % 16 AS h,
        |    32 + (id * 13 + f * 29) % 192 AS gray
        |  FROM fr)
        |SELECT id AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(gray AS BIGINT) AS gray00,
        |  CAST(gray * w * h AS BIGINT) AS gray_sum,
        |  CAST(n AS BIGINT) AS n_frames
        |FROM g ORDER BY media_id, frame_idx""".stripMargin),
    // ---- round 11: the raw-web front door (WARC source + HTML
    // boilerplate-removing extraction) — the stage upstream of every
    // text operator; fixture = each documents row rendered into a
    // crawl page (title/nav/ad/script/style/comment/footer chrome +
    // entity-coded, inline-marked-up body), packed into mixed plain
    // and per-record-gzip WARC shards
    // WARC scan → HTTP parse → block-classifying extraction; gate =
    // the extractor recovers the original text byte-for-byte and
    // drops exactly the planted boilerplate blocks
    "q261_warc_extract" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      operators.HtmlText.extractPages(s, warcPages(s, d)).toDF()
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          col("text").as("extracted"))
        .orderBy(col("doc_id"))
    }, oracle =
      // the extraction identity: the fixture page wraps text in known
      // chrome, so extracted == text byte-for-byte; kept blocks = the
      // fixture's paragraph count (12-word groups, tail <4 words merged
      // into the previous group), dropped = the planted boilerplate
      // (title + nav + footer, + the ad block on even doc_ids).
      // Sub-MinBlockWords documents are stated honestly: a <3-word body
      // renders one short paragraph that the extractor's length gate
      // drops (n_kept 0, extracted '', one extra dropped block), and an
      // all-whitespace body renders NO block at all — so the identity
      // holds at any corpus shape, not just the current fixtures'
      s"""WITH n AS (SELECT doc_id, text,
        |  len(string_split(text, ' ')) AS nw FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN nw < 3 THEN 0
        |    WHEN (nw + 11) // 12 > 1 AND nw % 12 BETWEEN 1 AND 3
        |    THEN (nw + 11) // 12 - 1 ELSE (nw + 11) // 12 END AS BIGINT) AS n_kept,
        |  CAST((CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END)
        |    + (CASE WHEN nw < 3 AND length(trim(text)) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped,
        |  CASE WHEN nw < 3 THEN '' ELSE text END AS extracted
        |FROM n ORDER BY doc_id""".stripMargin),
    // shard-level record accounting through BOTH codec paths (even
    // shards plain .warc, odd shards per-record-member .warc.gz)
    "q262_warc_shards" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.sources.Warc.readRecords(s, warcFixture(s, d)).toDF()
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("file"), "shard-(\\d+)", 1).cast("long").as("shard"),
          col("file").endsWith(".gz").cast("long").as("gz"),
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_records"), max(col("gz")).as("is_gzip"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard"))
    }, oracle =
      // shard assignment + per-shard record counts through both codec
      // paths (odd shards are per-record-gzip .warc.gz)
      s"""WITH s AS (SELECT doc_id // ${graft.sources.Warc.PagesPerShard} AS shard, doc_id
        |  FROM documents)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(shard % 2 AS BIGINT) AS is_gzip,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc,
        |  CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin),
    // front-door composition: raw WARC → extraction → the SAME
    // quality-scoring stage the clean-text path uses (q19) — proves
    // the crawl path feeds the downstream pipeline unchanged
    "q263_warc_quality" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      TextAnalysis.qualityScoreOf(
        operators.HtmlText.extractPages(s, warcPages(s, d)).toDF()
          .select(col("doc_id"), col("text")))
    }, oracle =
      // identical to q19's oracle: the raw-crawl path (WARC → HTTP →
      // extraction) must feed the quality stage the same bytes the
      // clean-text path reads from parquet
      """WITH q AS (SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_words,
        |  length(text) AS n_chars,
        |  length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct,
        |  len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','is','to','in'))) AS n_stopwords
        |  FROM documents)
        |SELECT doc_id, n_words, n_punct, n_stopwords,
        |  (n_chars - (n_words - 1)) * 1.0 / n_words AS avg_word_len,
        |  least((n_chars - (n_words - 1)) * 1.0 / n_words / 8.0, 1.0) * 0.4
        |    + (1.0 - n_punct * 1.0 / n_chars) * 0.3
        |    + least(n_stopwords * 1.0 / n_words * 4.0, 1.0) * 0.3 AS quality
        |FROM q ORDER BY doc_id""".stripMargin),
    // hashed char-n-gram language classifier (fastText-style NB over
    // md5-hashed 2/3/4-grams, whole-bit integer scoring) — the
    // production replacement for q18's stopword heuristic, which
    // stays registered as the comparison baseline
    "q264_langid_ngram" -> Query((s: SparkSession, d: String) =>
      TextAnalysis.langIdNgram(s, d), oracle =
      // the full NB-over-hashed-char-n-grams classifier restated: same
      // md5 3-hex-digit bucket, same whole-bit surprisal, same
      // (cost, class) argmin tie order — mirrors TextAnalysis.langIdNgram
      s"""WITH d AS (SELECT doc_id, lang,
        |    substring($normSqlDuck, 1, ${operators.TextAnalysis.LangIdMaxChars}) AS t
        |  FROM documents),
        |g AS (SELECT doc_id, lang,
        |    (strpos('0123456789abcdef', substr(md5(n || '|' || substring(t, i, n)), 1, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(md5(n || '|' || substring(t, i, n)), 2, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(n || '|' || substring(t, i, n)), 3, 1)) - 1) AS bucket
        |  FROM d, unnest([${operators.TextAnalysis.LangIdNgrams.mkString(", ")}]) tn(n),
        |    unnest(generate_series(1, greatest(length(t) - (n - 1), 0))) ti(i)),
        |tr AS (SELECT * FROM g WHERE doc_id % ${operators.TextAnalysis.LangIdTrainMod} <> 0),
        |m AS (SELECT bucket, lang AS cand_lang, count(*) AS c FROM tr GROUP BY 1, 2),
        |tot AS (SELECT lang AS cand_lang, count(*) AS n_l FROM tr GROUP BY 1),
        |pri AS (SELECT dl.lang AS cand_lang,
        |    length(printf('%b', CAST(da.d_all // dl.d_l AS BIGINT))) - 1 AS prior_bits
        |  FROM (SELECT lang, count(*) AS d_l FROM documents
        |      WHERE doc_id % ${operators.TextAnalysis.LangIdTrainMod} <> 0 GROUP BY 1) dl,
        |    (SELECT count(*) AS d_all FROM documents
        |      WHERE doc_id % ${operators.TextAnalysis.LangIdTrainMod} <> 0) da),
        |sc AS (SELECT g.doc_id, g.lang, tot.cand_lang,
        |    sum(length(printf('%b',
        |      CAST((tot.n_l + ${operators.TextAnalysis.LangIdBuckets}) // (coalesce(m.c, 0) + 1) AS BIGINT))) - 1) AS gram_bits
        |  FROM g CROSS JOIN tot
        |    LEFT JOIN m ON m.bucket = g.bucket AND m.cand_lang = tot.cand_lang
        |  GROUP BY 1, 2, 3),
        |costed AS (SELECT sc.doc_id, sc.lang, sc.cand_lang,
        |    sc.gram_bits + pri.prior_bits AS cost
        |  FROM sc JOIN pri USING (cand_lang)),
        |best AS (SELECT doc_id, lang, cand_lang AS detected,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cost, cand_lang) AS rk
        |  FROM costed)
        |SELECT CAST(CASE WHEN doc_id % ${operators.TextAnalysis.LangIdTrainMod} = 0
        |    THEN 1 ELSE 0 END AS INT) AS heldout,
        |  lang, detected, CAST(count(*) AS BIGINT) AS n
        |FROM best WHERE rk = 1
        |GROUP BY 1, 2, 3 ORDER BY heldout, lang, detected""".stripMargin),
    // ---- round 12: charset handling on the raw-web path — pages
    // planted in ISO-8859-1 / windows-1252 / UTF-8 (header param,
    // meta-tag fallback, default) must decode to the UTF-8 ground
    // truth; a UTF-8-only reader turns every high byte into U+FFFD
    "q265_charset_decode" -> Query((s: SparkSession, d: String) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      graft.sources.Warc.readRecords(s, warcCharsetFixture(s, d))
        .filter(_.warc_type == "response")
        .map { r =>
          val id = r.target_uri.substring(r.target_uri.lastIndexOf('/') + 1).toLong
          val (cs, html) = graft.sources.Warc.decodeBody(r.http_content_type, r.body)
          (id, cs, operators.HtmlText.extract(html).text)
        }
        .toDF("doc_id", "charset", "extracted")
        .orderBy(col("doc_id"))
    }, oracle =
      // the charset identity: the fixture prepends a charset-specific
      // non-ASCII marker and encodes the page bytes per doc_id % 3 —
      // matched only by really parsing charset= from the HTTP header
      // (cases 0/1) or the meta tag (case 2) and decoding with it; a
      // UTF-8-only decode turns every marker byte into U+FFFD
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
        |    ELSE 'windows-1252' END AS charset,
        |  (CASE doc_id % 3 WHEN 0 THEN 'naïve café übung'
        |    WHEN 1 THEN 'café déjà vu' ELSE '€uro ’quote café' END)
        |  || (CASE WHEN length(text) = 0 THEN '' ELSE ' ' || text END) AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin),
    // URL canonicalization + keep-first dedup by canonical URL — the
    // cheapest dedup of a crawl pipeline, upstream of content dedup:
    // five cosmetic variants per page (host case, explicit default
    // port, fragment, tracking params, query-key order, and RFC 3986
    // §6.2.2 percent-encoding differences: %6f→o decodes as
    // unreserved, %2f stays but uppercases to %2F, %32→2 in a query
    // value) collapse onto one canonical string
    "q266_url_canonical" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val d5 = graft.sources.Tables.load(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          expr("CAST(CAST(doc_id AS BIGINT) div 5 AS STRING)").as("g"))
      val url = when(pmod(col("doc_id"), lit(5L)) === 0,
          concat(lit("http://Example.org/doc/"), col("g")))
        .when(pmod(col("doc_id"), lit(5L)) === 1,
          concat(lit("HTTP://example.org:80/d%6fc/"), col("g"), lit("?utm_source=x")))
        .when(pmod(col("doc_id"), lit(5L)) === 2,
          concat(lit("http://example.org/doc/"), col("g"), lit("#frag")))
        .when(pmod(col("doc_id"), lit(5L)) === 3,
          concat(lit("https://Example.org:443/doc%2Fs/"), col("g"), lit("?b=2&a=1")))
        .otherwise(
          concat(lit("https://example.org/d%6Fc%2fs/"), col("g"), lit("?a=1&b=%32&utm_campaign=y")))
      d5.withColumn("canon_url", functions.Urls.parts(url).getField("canon"))
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("keeper_doc"))
        .orderBy(col("canon_url"))
    }, oracle =
      // functions.Urls.canonicalUrl restated: same pct-normalization
      // (unreserved decode + hex uppercase, CTE pn), same regexes, same
      // codepoint param sort, same tracking-param strip — five cosmetic
      // variants collapse onto one canonical string per (scheme, page)
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(CAST(doc_id AS BIGINT) // 5 AS VARCHAR) AS g FROM documents),
        |u AS (SELECT doc_id,
        |    CASE doc_id % 5
        |      WHEN 0 THEN 'http://Example.org/doc/' || g
        |      WHEN 1 THEN 'HTTP://example.org:80/d%6fc/' || g || '?utm_source=x'
        |      WHEN 2 THEN 'http://example.org/doc/' || g || '#frag'
        |      WHEN 3 THEN 'https://Example.org:443/doc%2Fs/' || g || '?b=2&a=1'
        |      ELSE 'https://example.org/d%6Fc%2fs/' || g || '?a=1&b=%32&utm_campaign=y' END AS url
        |  FROM d),
        |pn AS (SELECT doc_id,
        |    CASE WHEN len(string_split(url, '%')) = 1 THEN url ELSE
        |      string_split(url, '%')[1] || array_to_string(list_transform(string_split(url, '%')[2:], pp ->
        |        CASE WHEN regexp_matches(upper(pp[1:2]), '^(4[1-9A-F]|5[0-9A]|6[1-9A-F]|7[0-9A]|3[0-9]|2[DE]|5F|7E)$')
        |             THEN decode(from_hex(upper(pp[1:2]))) || pp[3:]
        |             WHEN regexp_matches(upper(pp[1:2]), '^[0-9A-F]{2}$')
        |             THEN '%' || upper(pp[1:2]) || pp[3:]
        |             ELSE '%' || pp END), '')
        |    END AS url FROM u),
        |p AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM pn),
        |c AS (SELECT doc_id,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)) AS hostport,
        |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1) AS pth,
        |    regexp_extract(nf, '\?(.*)$', 1) AS qry
        |  FROM p),
        |n AS (SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |      WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |      ELSE hostport END AS host,
        |    CASE WHEN pth = '' THEN '/' ELSE pth END AS pth,
        |    coalesce(array_to_string(list_sort(list_filter(string_split(qry, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid)='))), '&'), '') AS kept
        |  FROM c),
        |canon AS (SELECT doc_id, scheme || '://' || host || pth ||
        |    (CASE WHEN kept = '' THEN '' ELSE '?' || kept END) AS canon_url
        |  FROM n)
        |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(min(doc_id) AS BIGINT) AS keeper_doc
        |FROM canon GROUP BY canon_url ORDER BY canon_url""".stripMargin),
    // domain-level crawl statistics — per REGISTERED DOMAIN (PSL-aware:
    // www/subdomains collapse, `.co.uk`-style multi-label suffixes
    // keep one more label, IPv4 hosts stay whole) page counts, host
    // diversity and a docs-per-domain cap flag (>5% of the corpus):
    // the FineWeb/DCLM-style domain curation stage downstream of URL
    // canonicalization. Hosts synthesized deterministically from
    // doc_id with a QUADRATIC skew (domain d gets 2d+1 of every 961
    // docs) across four registry classes (dom%4: .com / .org /
    // .co.uk / bare IPv4) — the oracle states the ground truth
    // arithmetically, so the gate only passes if
    // url→canonical→host→domain really parses AND the PSL/IP rules
    // really group (two-label folds every .co.uk site into one
    // pseudo-domain and every IP into "0.1")
    "q267_domain_stats" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val docs = graft.sources.Tables.load(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("n_chars"),
          floor(sqrt(pmod(col("doc_id").cast("long"), lit(961L))
            .cast("double"))).cast("int").as("dom"))
      val isIp = pmod(col("dom"), lit(4)) === 3
      val base = when(pmod(col("dom"), lit(4)) === 0,
          concat(lit("site"), col("dom").cast("string"), lit(".com")))
        .when(pmod(col("dom"), lit(4)) === 1,
          concat(lit("site"), col("dom").cast("string"), lit(".org")))
        .when(pmod(col("dom"), lit(4)) === 2,
          concat(lit("site"), col("dom").cast("string"), lit(".co.uk")))
        .otherwise(concat(lit("10."), col("dom").cast("string"), lit(".0.1")))
      val host = concat(
        when(pmod(col("doc_id"), lit(7L)) === 0 && !isIp, lit("WWW."))
          .otherwise(lit("")),
        base)
      val url = concat(
        when(pmod(col("doc_id"), lit(3L)) === 0, lit("https")).otherwise(lit("http")),
        lit("://"), host, lit("/p/"), col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(5L)) === 0, lit("?utm_source=t&x=1"))
          .otherwise(lit("")))
      // ONE parse per URL (native url_parts struct) instead of the
      // canonicalUrl∘hostOf re-regexing — r13 measured the latter at
      // ~6 µs/URL of pure constant (q267 0.30 → 3.59 s), real money
      // at 10¹¹ crawl URLs
      val perDomain = docs
        .withColumn("host", functions.Urls.parts(url).getField("host_noport"))
        .withColumn("domain", functions.Urls.registeredDomain(col("host")))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("host")).as("n_hosts"),
          sum(col("n_chars")).as("sum_chars"))
      // corpus total as a scalar frame (keyless agg → single row), not
      // a global window: an empty PARTITION BY would move the whole
      // grouped result to one task
      val total = graft.sources.Tables.load(s, d, "documents")
        .agg(count(lit(1)).as("total"))
      perDomain.crossJoin(total)
        .withColumn("capped", (col("n_pages") * 20 > col("total")).cast("int"))
        .drop("total")
        .orderBy(col("domain"))
    }, oracle =
      // domain stats ground truth stated ARITHMETICALLY (domain and host
      // variety straight from doc_id) — the Spark side must recover it
      // through url→canonicalUrl→hostOf→registeredDomain parsing,
      // including the PSL (.co.uk keeps 3 labels) and IP (host stays
      // whole, no www subdomain) registry classes
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, n_chars,
        |    CAST(floor(sqrt(CAST(doc_id % 961 AS DOUBLE))) AS INT) AS dom
        |  FROM documents),
        |g AS (SELECT CASE WHEN dom % 4 = 3 THEN '10.' || dom || '.0.1'
        |    ELSE 'site' || dom || (CASE dom % 4 WHEN 0 THEN '.com'
        |      WHEN 1 THEN '.org' ELSE '.co.uk' END) END AS domain,
        |  CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(count(DISTINCT CASE WHEN doc_id % 7 = 0 AND dom % 4 <> 3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hosts,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM d GROUP BY 1)
        |SELECT domain, n_pages, n_hosts, sum_chars,
        |  CAST(CASE WHEN n_pages * 20 > sum(n_pages) OVER () THEN 1 ELSE 0 END
        |    AS INT) AS capped
        |FROM g ORDER BY domain""".stripMargin),
    // robots directives on the raw-web path — the compliance filter
    // every published corpus recipe runs BEFORE content processing:
    // the X-Robots-Tag RESPONSE HEADER (parsed by the WARC reader) and
    // the in-page <meta name=robots> (both attribute orders) both
    // veto. Bodies decode through the charset gate (Warc.decodeBody,
    // NOT unconditional UTF-8): the fixture's meta-noindex page is
    // planted in cp1252 with a multibyte attribute on the meta tag,
    // and the output carries the detected charset so a UTF-8-only
    // reader fails the gate structurally
    "q268_robots_noindex" -> Query((s: SparkSession, d: String) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      graft.sources.Warc.readRecords(s, warcRobotsFixture(s, d))
        .filter(_.warc_type == "response")
        .map { r =>
          val id = r.target_uri.substring(r.target_uri.lastIndexOf('/') + 1).toLong
          val hdr = r.http_x_robots.toLowerCase(java.util.Locale.ROOT)
          val (charset, html) =
            graft.sources.Warc.decodeBody(r.http_content_type, r.body)
          val meta = operators.HtmlText.metaRobots(html)
          val robots = if (hdr.nonEmpty) hdr else meta
          val src = if (hdr.nonEmpty) "header" else if (meta.nonEmpty) "meta" else ""
          val kept = if (hdr.contains("noindex") || meta.contains("noindex")) 0 else 1
          (id, charset, robots, src, kept)
        }
        .toDF("doc_id", "charset", "robots", "src", "kept")
        .orderBy(col("doc_id"))
    }, oracle =
      // robots ground truth from the planted doc_id % 4 directive —
      // matched only by really parsing the X-Robots-Tag header (case 1)
      // and the meta tag in both attribute orders (cases 2, 3)
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 2 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
        |  CASE doc_id % 4 WHEN 1 THEN 'noindex'
        |    WHEN 2 THEN 'noindex, nofollow'
        |    WHEN 3 THEN 'index, follow' ELSE '' END AS robots,
        |  CASE doc_id % 4 WHEN 1 THEN 'header'
        |    WHEN 2 THEN 'meta' WHEN 3 THEN 'meta' ELSE '' END AS src,
        |  CAST(CASE WHEN doc_id % 4 IN (1, 2) THEN 0 ELSE 1 END AS INT) AS kept
        |FROM documents ORDER BY doc_id""".stripMargin),
    // corpus-wide line-level dedup (C4/RefinedWeb/Dolma): repeated
    // 10-token spans keep only their first (doc_id, idx) occurrence,
    // documents reassembled from kept spans — removes cross-page
    // boilerplate in place without dropping the pages that carry it
    "q269_line_dedup" -> Query((s: SparkSession, d: String) =>
      operators.Dedup.lineDedup(
        graft.sources.Tables.load(s, d, "documents")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text"))), oracle =
      // line dedup restated: same 10-token windows, same keep-first
      // (min (doc_id, idx)) rule, same space-joined reassembly
      s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    string_split(text, ' ') AS toks FROM documents),
        |l AS (SELECT doc_id, i,
        |    array_to_string(list_slice(toks, i*${operators.Dedup.LineDedupTokens}+1,
        |      i*${operators.Dedup.LineDedupTokens}+${operators.Dedup.LineDedupTokens}), ' ') AS line
        |  FROM t, unnest(generate_series(0,
        |    CAST(ceil(len(toks)/${operators.Dedup.LineDedupTokens}.0) AS INT) - 1)) ti(i)),
        |k AS (SELECT doc_id, i, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, i) AS rk,
        |    count(*) OVER (PARTITION BY line) AS n_occ
        |  FROM l)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN n_occ = 1 OR rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN n_occ = 1 OR rk = 1 THEN line END,
        |    ' ' ORDER BY i), '') AS cleaned
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // fetch-status / MIME gate — a real crawl bucket is full of 3xx
    // redirect stubs, 404 error pages and non-HTML payloads; only
    // `200 text/html` may reach extraction. Statuses and types planted
    // per doc_id % 5; the oracle states the ground truth arithmetically
    // so the gate only passes if the reader really parses status lines
    "q270_http_status" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.sources.Warc.readRecords(s, warcStatusFixture(s, d)).toDF()
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("http_status").as("status"),
          trim(regexp_extract(col("http_content_type"), "^([^;]*)", 1)).as("mime"))
        .withColumn("kept",
          (col("status") === 200 && col("mime") === "text/html").cast("int"))
        .orderBy(col("doc_id"))
    }, oracle =
      // fetch-status ground truth from the planted doc_id % 5 —
      // matched only by really parsing HTTP status lines and MIME types
      """SELECT doc_id,
        |  CAST(CASE doc_id % 5 WHEN 2 THEN 301 WHEN 3 THEN 404
        |    ELSE 200 END AS BIGINT) AS status,
        |  CASE doc_id % 5 WHEN 4 THEN 'application/pdf'
        |    ELSE 'text/html' END AS mime,
        |  CAST(CASE WHEN doc_id % 5 IN (0, 1) THEN 1 ELSE 0 END AS INT) AS kept
        |FROM documents ORDER BY doc_id""".stripMargin),
    // ---- round 13: robots.txt path rules (RFC 9309) — the third leg
    // of the crawl compliance gate (q268 covers the X-Robots-Tag
    // header and the in-page meta): per-host robots.txt records are
    // parsed into user-agent groups and Allow/Disallow prefix rules,
    // pages are vetoed by longest-match (Allow wins ties). The
    // fixture plants rules + paths arithmetically from doc_id, so the
    // oracle states ground truth in closed form and the gate only
    // passes if group selection, comment/unknown-key handling,
    // longest-match and the Allow tie-break all really work
    "q271_robots_txt" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val recs = graft.sources.Warc.readRecords(s, warcRobotsTxtFixture(s, d))
        .toDF()
        .filter(col("warc_type") === "response")
        .select(col("target_uri"),
          functions.Urls.hostOf(col("target_uri")).as("host"),
          regexp_extract(col("target_uri"),
            "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)", 1).as("path"),
          col("body"))
      val robots = recs.filter(col("path") === "/robots.txt")
        .select(col("host"), decode(col("body"), "UTF-8").as("body"))
      val pages = recs.filter(col("path") =!= "/robots.txt")
        .select(regexp_extract(col("path"), "/(\\d+)$", 1).cast("long")
          .as("doc_id"), col("host"), col("path"))
      operators.RobotsTxt.evaluate(pages, operators.RobotsTxt.rules(robots))
        .select(col("doc_id"), col("host"), col("rule"), col("allowed"))
        .orderBy(col("doc_id"))
    }, oracle =
      // robots.txt ground truth in closed form from the planted rules:
      // matched only by really selecting the `*` group (not crawlerx's
      // blanket Disallow), applying longest-match (/private/pub/ Allow
      // beats /private/ Disallow), the Allow tie-break (/dual/), the
      // odd-host-only /tmp rule, and the RFC 9309 §2.2.3 wildcard rules
      // (`Allow: /private/*6$` outranks the /private/ Disallow on pages
      // ending in 6; `Disallow: /a/*0$` hits /a/ pages ending in 0)
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  'site' || ((CAST(doc_id AS BIGINT) // 5) % 6) || '.example' AS host,
        |  CASE doc_id % 5
        |    WHEN 1 THEN CASE WHEN doc_id % 10 = 6
        |      THEN '/private/*6$' ELSE '/private/' END
        |    WHEN 2 THEN '/private/pub/'
        |    WHEN 4 THEN '/dual/'
        |    WHEN 3 THEN CASE WHEN ((CAST(doc_id AS BIGINT) // 5) % 6) % 2 = 1
        |      THEN '/tmp' ELSE '' END
        |    ELSE CASE WHEN doc_id % 10 = 0 THEN '/a/*0$' ELSE '' END
        |    END AS rule,
        |  CAST(CASE doc_id % 5
        |    WHEN 1 THEN CASE WHEN doc_id % 10 = 6 THEN 1 ELSE 0 END
        |    WHEN 3 THEN CASE WHEN ((CAST(doc_id AS BIGINT) // 5) % 6) % 2 = 1
        |      THEN 0 ELSE 1 END
        |    WHEN 0 THEN CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END
        |    ELSE 1 END AS INT) AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin),
    // ---- round 14: FULL-Public-Suffix-List registrable domains —
    // hosts synthesized per doc_id across the rule classes only the
    // complete ~9.5k-rule PSL resolves: a PRIVATE-section registry
    // (github.io — each user site is its own domain), a ccTLD
    // second-level (com.au), a WILDCARD rule (*.ck: every
    // <label>.ck is a public suffix), the wildcard's EXCEPTION
    // (!www.ck: www.ck is registrable), plus the .com / IPv4
    // controls. The oracle states the registrable domain
    // arithmetically, so the gate only passes if the embedded PSL
    // and the longest-match/wildcard/exception algorithm really work
    "q272_psl_domains" -> Query((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val docs = graft.sources.Tables.load(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("cls", pmod(col("doc_id"), lit(6L)))
        .withColumn("n", expr("CAST((doc_id div 6) % 20 AS STRING)"))
      val host = when(col("cls") === 0, concat(lit("www.site"), col("n"), lit(".com")))
        .when(col("cls") === 1, concat(lit("a.site"), col("n"), lit(".github.io")))
        .when(col("cls") === 2, concat(lit("www.site"), col("n"), lit(".com.au")))
        .when(col("cls") === 3, concat(lit("x.y.site"), col("n"), lit(".ck")))
        .when(col("cls") === 4, lit("www.ck"))
        .otherwise(concat(lit("10."), col("n"), lit(".0.1")))
      docs.withColumn("domain", functions.Urls.registeredDomain(host))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("domain"))
    }, oracle =
      // registrable-domain ground truth in closed form per PSL rule
      // class — private-section (github.io), ccTLD 2nd-level (com.au),
      // wildcard (*.ck → one more label kept), exception (!www.ck →
      // registrable as-is), normal .com, IPv4 stays whole
      """WITH c AS (SELECT CAST(doc_id AS BIGINT) % 6 AS cls,
        |    CAST((CAST(doc_id AS BIGINT) // 6) % 20 AS VARCHAR) AS n
        |  FROM documents)
        |SELECT CASE cls WHEN 0 THEN 'site' || n || '.com'
        |    WHEN 1 THEN 'site' || n || '.github.io'
        |    WHEN 2 THEN 'site' || n || '.com.au'
        |    WHEN 3 THEN 'y.site' || n || '.ck'
        |    WHEN 4 THEN 'www.ck'
        |    ELSE '10.' || n || '.0.1' END AS domain,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM c GROUP BY 1 ORDER BY domain""".stripMargin),
  )

  /** Every documents row as a typed (doc_id, text) pair: the input
    * each WARC fixture renders into crawl pages. */
  private def docTexts(s: SparkSession, d: String): org.apache.spark.sql.Dataset[(Long, String)] = {
    import org.apache.spark.sql.functions.col
    import s.implicits._
    graft.sources.Tables.load(s, d, "documents")
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
  }

  /** Memoized WARC shard fixture: every documents row rendered into a
    * deterministic crawl page and packed into mixed plain/gzip WARC
    * shards (see [[graft.sources.Warc]] / [[operators.HtmlText.renderPage]]). */
  private def warcFixture(s: SparkSession, d: String): String =
    fixture("warcshards", s, d, "documents") { path =>
      import s.implicits._
      val pages = docTexts(s, d).map { case (id, text) =>
        (id / graft.sources.Warc.PagesPerShard, id,
          s"http://example.org/doc/$id", operators.HtmlText.renderPage(id, text))
      }.toDF("shard", "doc_id", "url", "html")
      graft.sources.Warc.writeShards(s, pages, path)
    }

  /** (doc_id, html) page rows re-read from the WARC fixture — the
    * shared front half of q261/q263. */
  private def warcPages(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.sources.Warc.readRecords(s, warcFixture(s, d)).toDF()
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        decode(col("body"), "UTF-8").as("html"))
  }

  /** Memoized charset-zoo WARC fixture: each documents row becomes a
    * minimal page whose BYTES are encoded in a per-doc charset with a
    * charset-specific marker prepended (every marker contains
    * characters whose bytes are invalid UTF-8 in that encoding — a
    * UTF-8-only decode provably corrupts them):
    *   doc_id % 3 == 0 → UTF-8, declared in the Content-Type header;
    *   doc_id % 3 == 1 → ISO-8859-1, declared in the header;
    *   doc_id % 3 == 2 → windows-1252, declared ONLY by an HTML
    *     `<meta charset>` (header says bare `text/html`) — the
    *     sniffing fallback path; the € / ’ marker chars sit in
    *     0x80-0x9F, where cp1252 and latin-1 disagree. */
  private def warcCharsetFixture(s: SparkSession, d: String): String =
    fixture("warccharset", s, d, "documents") { path =>
      import s.implicits._
      val pages = docTexts(s, d).map { case (id, text) =>
        val (cs, marker, ctype, meta) = (id % 3) match {
          case 0 => ("UTF-8", "naïve café übung", "text/html; charset=utf-8", "")
          case 1 => ("ISO-8859-1", "café déjà vu", "text/html; charset=ISO-8859-1", "")
          case _ => ("windows-1252", "€uro ’quote café", "text/html",
            "<meta charset=\"windows-1252\">")
        }
        val body = if (text.isEmpty) marker else marker + " " + text
        val html =
          s"<html><head>$meta<title>t</title></head><body><p>$body</p></body></html>"
        (id / graft.sources.Warc.PagesPerShard, id,
          s"http://example.org/doc/$id", ctype, html.getBytes(cs), "", 200)
      }.toDF("shard", "doc_id", "url", "content_type", "body", "x_headers", "status")
      graft.sources.Warc.writeShardsEncoded(s, pages, path)
    }

  /** Memoized robots-directive WARC fixture: per doc_id % 4 —
    *   0 → no directive anywhere (kept);
    *   1 → `X-Robots-Tag: noindex` RESPONSE HEADER, no meta (dropped
    *       via the header path the WARC reader parses);
    *   2 → `<meta name="robots" content="noindex, nofollow">` (dropped
    *       via the in-page path) — planted in WINDOWS-1252 with a
    *       multibyte marker attribute on the meta tag (’€ sit in
    *       0x80-0x9F, invalid UTF-8 bytes): only a charset-correct
    *       decode (Warc.decodeBody) reads this page cleanly;
    *   3 → `<meta content="index, follow" name="robots">` — REVERSED
    *       attribute order, and an allow directive (kept: presence of
    *       a robots meta must not itself veto). */
  private def warcRobotsFixture(s: SparkSession, d: String): String =
    fixture("warcrobots", s, d, "documents") { path =>
      import s.implicits._
      val pages = docTexts(s, d).map { case (id, text) =>
        val (cs, ctype, xh, meta) = (id % 4) match {
          case 0 => ("UTF-8", "text/html; charset=utf-8", "", "")
          case 1 => ("UTF-8", "text/html; charset=utf-8",
            "X-Robots-Tag: noindex", "")
          case 2 => ("windows-1252", "text/html; charset=windows-1252", "",
            "<meta name=\"robots\" data-mark=\"’€\" content=\"noindex, nofollow\">")
          case _ => ("UTF-8", "text/html; charset=utf-8", "",
            "<meta content=\"index, follow\" name=\"robots\">")
        }
        val html =
          s"<html><head>$meta<title>t</title></head><body><p>$text</p></body></html>"
        (id / graft.sources.Warc.PagesPerShard, id,
          s"http://example.org/doc/$id", ctype, html.getBytes(cs), xh, 200)
      }.toDF("shard", "doc_id", "url", "content_type", "body", "x_headers", "status")
      graft.sources.Warc.writeShardsEncoded(s, pages, path)
    }

  /** Memoized fetch-status WARC fixture: per doc_id % 5 —
    *   0, 1 → `200 text/html` (the only kept combination);
    *   2 → `301 text/html` redirect stub (a short body crawlers still
    *       record — status must veto, not body presence);
    *   3 → `404 text/html` error page (often a full HTML page — status
    *       must veto, not content sniffing);
    *   4 → `200 application/pdf` (fetch OK but non-HTML — MIME vetoes). */
  private def warcStatusFixture(s: SparkSession, d: String): String =
    fixture("warcstatus", s, d, "documents") { path =>
      import s.implicits._
      val pages = docTexts(s, d).map { case (id, text) =>
        val (status, ctype, body) = (id % 5) match {
          case 0 | 1 => (200, "text/html; charset=utf-8",
            s"<html><body><p>$text</p></body></html>")
          case 2 => (301, "text/html; charset=utf-8",
            "<html><body>Moved</body></html>")
          case 3 => (404, "text/html; charset=utf-8",
            "<html><body><h1>Not Found</h1><p>sorry</p></body></html>")
          case _ => (200, "application/pdf", "%PDF-1.4 stub")
        }
        (id / graft.sources.Warc.PagesPerShard, id,
          s"http://example.org/doc/$id", ctype, body.getBytes("UTF-8"), "", status)
      }.toDF("shard", "doc_id", "url", "content_type", "body", "x_headers", "status")
      graft.sources.Warc.writeShardsEncoded(s, pages, path)
    }

  /** Memoized robots.txt WARC fixture: 6 hosts (`site{h}.example`,
    * h = (doc_id div 5) % 6), each with ONE robots.txt record planted
    * next to its pages — the layout Common Crawl ships (robotstxt
    * WARCs beside the response WARCs). Page paths per doc_id % 5:
    *   0 → `/a/{id}`            (no rule matches — kept);
    *   1 → `/private/{id}`      (Disallow: /private/ — dropped);
    *   2 → `/private/pub/{id}`  (longest match is Allow: /private/pub/
    *                             — kept despite the /private/ rule);
    *   3 → `/tmp/{id}`          (odd hosts add Disallow: /tmp — host
    *                             parity decides);
    *   4 → `/dual/{id}`         (equal-length Allow + Disallow /dual/
    *                             — Allow wins the tie, kept).
    * Every robots.txt also carries a comment, a `Crawl-delay` (unknown
    * key — ignored), an empty `Disallow:` (matches nothing) and a
    * two-token `crawlerx`/`crawlery` group with `Disallow: /` that a
    * `*` crawler must NOT obey. */
  private def warcRobotsTxtFixture(s: SparkSession, d: String): String =
    fixture("warcrobotstxt", s, d, "documents") { path =>
      import s.implicits._
      val pages = docTexts(s, d).map { case (id, text) =>
        val h = (id / 5) % 6
        val p = (id % 5) match {
          case 0 => s"/a/$id"
          case 1 => s"/private/$id"
          case 2 => s"/private/pub/$id"
          case 3 => s"/tmp/$id"
          case _ => s"/dual/$id"
        }
        (id / graft.sources.Warc.PagesPerShard, id,
          s"http://site$h.example$p", "text/html; charset=utf-8",
          s"<html><body><p>$text</p></body></html>".getBytes("UTF-8"), "", 200)
      }.toDF("shard", "doc_id", "url", "content_type", "body", "x_headers", "status")
      val robots = (0 until 6).map { h =>
        val tmpRule = if (h % 2 == 1) "Disallow: /tmp\n" else ""
        val body =
          s"""# planted fixture robots.txt for site$h.example
             |User-agent: crawlerx
             |User-agent: crawlery
             |Disallow: /
             |
             |User-agent: *
             |Crawl-delay: 5
             |Disallow: /private/
             |Allow: /private/*6$$
             |Allow: /private/pub/
             |Disallow: /dual/
             |Allow: /dual/
             |Disallow: /a/*0$$
             |${tmpRule}Disallow:
             |""".stripMargin
        (1000000L + h, 1000000L + h, s"http://site$h.example/robots.txt",
          "text/plain", body.getBytes("UTF-8"), "", 200)
      }.toDF("shard", "doc_id", "url", "content_type", "body", "x_headers", "status")
      graft.sources.Warc.writeShardsEncoded(s, pages.unionByName(robots), path)
    }

  /** ANSI GROUPING SETS text, used verbatim by Spark (q48) and DuckDB. */
  private val groupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(grouping(o_orderstatus) AS INT) AS g_s,
      |  CAST(grouping(o_orderpriority) AS INT) AS g_p
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_s, g_p, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Upsert-by-key merge semantics shared by q62 (dynamic partition
    * overwrite) and q79 (snapshot commit log): base = orders, delta =
    * price+50 on status-F keys divisible by 97, delta wins. */
  private val partitionMergeOracleSql: String =
    """WITH existing AS (SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price, 0 AS is_new FROM orders),
      |updates AS (SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(18,2)) + CAST(50 AS DECIMAL(18,2)) AS price, 1 AS is_new
      |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 97 = 0),
      |merged AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY is_new DESC) AS rn
      |  FROM (SELECT * FROM existing UNION ALL SELECT * FROM updates))
      |SELECT o_orderstatus, count(*) AS n, CAST(sum(price) AS DOUBLE) AS price_sum
      |FROM merged WHERE rn = 1
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** DuckDB fragment: MinHash signatures → bands → candidate pairs →
    * exact shingle-intersection counts (mirrors Dedup.minhashLshFrom;
    * shared by q15/q31/q41). Ends with a trailing newline-less CTE
    * list — callers append their own final CTEs/SELECT.
    *
    * NB every top-level UNION here is written as UNION ALL inside a
    * subquery with an outer DISTINCT: inside a WITH RECURSIVE block
    * (q31/q41) DuckDB parses a CTE's top-level UNION as a recursive
    * union and appends the last branch WITHOUT deduplicating — which
    * silently double-counted candidate pairs and corrupted the
    * intersection counts at sf0.1. */
  /** DuckDB fragment: MinHash signatures + band keys (shared by the
    * plain and hot-band-capped candidate generators). */
  private val sigBandCtes: String =
    s"""sig AS (SELECT doc_id, ${(0 until 12).map(i => s"min(md5('$i|' || s)) AS h$i").mkString(", ")}
      |  FROM sh GROUP BY doc_id),
      |b AS (SELECT doc_id, ${(0 until 4).map(k => s"md5(h${3*k} || h${3*k+1} || h${3*k+2}) AS band$k").mkString(", ")} FROM sig)""".stripMargin

  /** DuckDB fragment: exact-Jaccard verification over candidate pairs
    * (needs `sh` and `cand` in scope). */
  private val jaccardVerifyCtes: String =
    """cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT c.da, c.db, count(*) AS i FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.da
      |  JOIN sh sb ON sb.doc_id = c.db AND sb.s = sa.s
      |  GROUP BY c.da, c.db)""".stripMargin

  private val minhashCtes: String =
    s"""$sigBandCtes,
      |cand AS (SELECT DISTINCT da, db FROM (${(0 until 4).map(k =>
          s"SELECT l.doc_id AS da, r.doc_id AS db FROM b l JOIN b r ON l.band$k = r.band$k AND l.doc_id < r.doc_id")
          .mkString("\n  UNION ALL\n  ")}) u),
      |$jaccardVerifyCtes""".stripMargin

  /** Hot-band-capped candidate pairs (through `cand`) — mirrors
    * Dedup.cappedBandCandidates; q41/q70 add the Jaccard verify,
    * q104 an edit-distance verify. */
  private val cappedCandCtes: String = {
    val cap = operators.Dedup.BandBucketCap
    s"""$sigBandCtes,
      |${(0 until 4).map(k =>
          s"hot$k AS (SELECT band$k AS bk FROM b GROUP BY band$k HAVING count(*) > $cap)")
          .mkString(",\n")},
      |cand AS (SELECT DISTINCT da, db FROM (${(0 until 4).map(k =>
          s"SELECT l.doc_id AS da, r.doc_id AS db FROM b l JOIN b r ON l.band$k = r.band$k AND l.doc_id < r.doc_id WHERE l.band$k NOT IN (SELECT bk FROM hot$k)")
          .mkString("\n  UNION ALL\n  ")}) u)""".stripMargin
  }

  /** As [[minhashCtes]] but with hot band buckets (> BandBucketCap
    * docs) excluded from candidate generation — mirrors
    * Dedup.minhashLshCapped. */
  private val minhashCappedCtes: String =
    s"""$cappedCandCtes,
      |$jaccardVerifyCtes""".stripMargin

  /** DuckDB fragment: verified MinHash pairs → undirected edges →
    * recursive transitive closure (the union-find oracle; mirrors
    * Components.minLabel's fixed point). Requires WITH RECURSIVE. */
  private val clusterCtes: String =
    """vpairs AS (SELECT x.da, x.db
      |  FROM inter x JOIN cnt ca ON ca.doc_id = x.da JOIN cnt cb ON cb.doc_id = x.db
      |  WHERE round(x.i * 1.0 / (ca.n + cb.n - x.i), 4) >= 0.5),
      |cedges AS (SELECT DISTINCT a, b FROM (SELECT da AS a, db AS b FROM vpairs UNION ALL SELECT db, da FROM vpairs) u),
      |reach AS (SELECT a, b FROM cedges UNION SELECT r.a, e.b FROM reach r JOIN cedges e ON r.b = e.a)""".stripMargin

  /** DuckDB fragment: canonical text normalization (must mirror
    * TextFunctions.normalizeText exactly). */
  private val normSqlDuck =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** DuckDB list literal of the q214 curated-seed sources (mirrors
    * QualityClassifier.SeedSources). */
  private val nbSeedList =
    operators.QualityClassifier.SeedSources.map(s => s"'$s'").mkString(", ")

  /** DuckDB fragment: the q219 integer waterfill (caps sorted
    * (cap, source), capped prefix, level + largest remainder) ending
    * in `a(source, n_tokens, cap, alloc, …)` — shared by the plan
    * readout (q219) and the physical sampler (q229). */
  private val epochAllocCtes =
    """WITH s AS (SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |c AS (SELECT source, n_tokens, n_tokens * 2 AS cap FROM s),
      |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
      |    CAST(count(*) AS BIGINT) AS k FROM s),
      |t2 AS (SELECT *, (3 * tt) // 2 AS budget FROM t),
      |rkd AS (SELECT c.*, t2.k, t2.budget,
      |    CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS r,
      |    coalesce(sum(cap) OVER (ORDER BY cap, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      |  FROM c, t2),
      |rkd2 AS (SELECT *,
      |    (cap * (k - r + 1) + prefix <= budget) AS capped FROM rkd),
      |p AS (SELECT min(r) AS rstar,
      |    coalesce(min_by(prefix, r), 0) AS pstar FROM rkd2 WHERE NOT capped),
      |f AS (SELECT rkd2.*, p.rstar, p.pstar FROM rkd2, p),
      |a AS (SELECT *, CASE WHEN rstar IS NULL OR r < rstar THEN cap
      |    ELSE (budget - pstar) // (k - rstar + 1)
      |      + CASE WHEN r - rstar < (budget - pstar) % (k - rstar + 1)
      |        THEN 1 ELSE 0 END END AS alloc
      |  FROM f)""".stripMargin

  /** DuckDB fragment: the q214 Naive Bayes computation (pruned model,
    * full-vocab smoothing, whole-bit surprisals, doc-count prior)
    * ending in `agg(doc_id, source, n_tokens, llr_word)` and
    * `pri(prior_bits)` — shared by the score readout (q214) and the
    * held-out calibration (q228). */
  private val nbScoreCtes =
    s"""WITH toks AS (SELECT doc_id, source,
      |    unnest(string_split($normSqlDuck, ' ')) AS w FROM documents),
      |t2 AS (SELECT doc_id, source, w FROM toks WHERE length(w) > 0),
      |tr AS (SELECT * FROM t2 WHERE doc_id % 5 <> 0),
      |m AS (SELECT w,
      |    sum(CASE WHEN source IN ($nbSeedList) THEN 1 ELSE 0 END) AS c_pos,
      |    sum(CASE WHEN source IN ($nbSeedList) THEN 0 ELSE 1 END) AS c_neg
      |  FROM tr GROUP BY 1 HAVING count(*) >= 2),
      |tot AS (SELECT
      |    sum(CASE WHEN source IN ($nbSeedList) THEN 1 ELSE 0 END) AS n_pos,
      |    sum(CASE WHEN source IN ($nbSeedList) THEN 0 ELSE 1 END) AS n_neg,
      |    count(DISTINCT w) AS v
      |  FROM tr),
      |pri AS (SELECT (length(printf('%b', CAST(d_all // (d_all - d_pos) AS BIGINT))) - 1)
      |      - (length(printf('%b', CAST(d_all // d_pos AS BIGINT))) - 1) AS prior_bits
      |  FROM (SELECT count(*) AS d_all,
      |      sum(CASE WHEN source IN ($nbSeedList) THEN 1 ELSE 0 END) AS d_pos
      |    FROM documents WHERE doc_id % 5 <> 0)),
      |sc AS (SELECT t2.doc_id, t2.source,
      |    (length(printf('%b', CAST((tot.n_neg + tot.v) // (coalesce(m.c_neg, 0) + 1) AS BIGINT))) - 1)
      |      - (length(printf('%b', CAST((tot.n_pos + tot.v) // (coalesce(m.c_pos, 0) + 1) AS BIGINT))) - 1) AS dbits
      |  FROM t2 LEFT JOIN m USING (w), tot),
      |agg AS (SELECT doc_id, source, count(*) AS n_tokens, sum(dbits) AS llr_word
      |  FROM sc GROUP BY 1, 2)""".stripMargin

  /** DuckDB fragment: the q224/q226 perceptual-hash arithmetic from
    * the pattern formula (Multimodal.encodePatternPng + aHashOf,
    * bit-for-bit — block layout XOR the near-miss single-block flip,
    * texture, perturbation pixel, integer-exact `s·64 > tot` mean
    * compare) ending in `bits(id, nk, nib)`. */
  /** The pattern-image aHash chain under a COORDINATE SUBSTITUTION:
    * gray is evaluated at source coords (`sx`,`sy`) expressed in the
    * output frame's x/y — identity ("x","y"), rot90 ("y","31 - x"),
    * hflip ("31 - x","y") — then block-summed and bit-voted exactly
    * like [[phashNibsCtes]]. Used by the q252 augmentation oracle. */
  private def augHashCtes(tag: String, sx: String, sy: String): String =
    s"""px$tag AS (SELECT id, g, x, y,
       |    (CASE WHEN (((($sy) // 4) * 8 + (($sx) // 4) + g * 11) % 64 < 32)
       |        <> ((id // 50) % 5 = 4 AND (($sy) // 4) * 8 + (($sx) // 4) = id % 64)
       |      THEN 200 ELSE 4 END)
       |      + (($sx) * ($sy) + g) % 3
       |      + (CASE WHEN ($sx) = id % 32 AND ($sy) = (id // 32) % 32
       |        THEN id % 3 ELSE 0 END) AS gray
       |  FROM ids, unnest(generate_series(0, 31)) tx(x),
       |    unnest(generate_series(0, 31)) ty(y)),
       |blk$tag AS (SELECT id, (y // 4) * 8 + (x // 4) AS k, sum(gray) AS s
       |  FROM px$tag GROUP BY 1, 2),
       |tot$tag AS (SELECT id, sum(s) AS t FROM blk$tag GROUP BY 1),
       |bits$tag AS (SELECT b.id, b.k // 4 AS nk,
       |    sum(CASE WHEN b.s * 64 > tt.t THEN
       |        CASE b.k % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END
       |      ELSE 0 END) AS nib
       |  FROM blk$tag b JOIN tot$tag tt USING (id) GROUP BY 1, 2),
       |hx$tag AS (SELECT id, string_agg(substr('0123456789abcdef',
       |    CAST(nib AS INT) + 1, 1), '' ORDER BY nk) AS h
       |  FROM bits$tag GROUP BY 1)""".stripMargin

  private val phashNibsCtes =
    """WITH ids AS (SELECT doc_id AS id, doc_id % 50 AS g FROM documents),
      |px AS (SELECT id, g, x, y,
      |    (CASE WHEN (((y // 4) * 8 + (x // 4) + g * 11) % 64 < 32)
      |        <> ((id // 50) % 5 = 4 AND (y // 4) * 8 + (x // 4) = id % 64)
      |      THEN 200 ELSE 4 END)
      |      + (x * y + g) % 3
      |      + (CASE WHEN x = id % 32 AND y = (id // 32) % 32
      |        THEN id % 3 ELSE 0 END) AS gray
      |  FROM ids, unnest(generate_series(0, 31)) tx(x),
      |    unnest(generate_series(0, 31)) ty(y)),
      |blk AS (SELECT id, (y // 4) * 8 + (x // 4) AS k, sum(gray) AS s
      |  FROM px GROUP BY 1, 2),
      |tot AS (SELECT id, sum(s) AS t FROM blk GROUP BY 1),
      |bits AS (SELECT b.id, b.k // 4 AS nk,
      |    sum(CASE WHEN b.s * 64 > tt.t THEN
      |        CASE b.k % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END
      |      ELSE 0 END) AS nib
      |  FROM blk b JOIN tot tt USING (id) GROUP BY 1, 2)""".stripMargin

  /** DuckDB fragment: distinct word-3-gram shingles per doc (mirrors
    * TextFunctions.shingles(words(text), 3)). */
  private val shingleCte =
    s"""WITH w AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |  FROM w, unnest(generate_series(1, greatest(len(w) - 2, 0))) t(i))""".stripMargin

  /** As [[shingleCte]] but opening a WITH RECURSIVE block (for queries
    * whose later CTEs are recursive — q31/q41 transitive closure). */
  private val shingleCteRec = "WITH RECURSIVE " + shingleCte.stripPrefix("WITH ")

  /** As [[shingleCte]] but restricted to the q221 eval's fixed-K doc
    * sample: the Dedup.DedupEvalSampleK docs with the smallest
    * (md5(doc_id), doc_id) — mirrors lshRecallEval's sample exactly
    * (same cast, same hex-string ordering, same tiebreak). */
  private val shingleSampledCte =
    s"""WITH samp AS (SELECT doc_id FROM documents
      |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |  LIMIT ${operators.Dedup.DedupEvalSampleK}),
      |w AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS w
      |  FROM documents JOIN samp USING (doc_id)),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |  FROM w, unnest(generate_series(1, greatest(len(w) - 2, 0))) t(i))""".stripMargin

  /** DuckDB fragment: rounded double cosine between qv and v. */
  private val cosSqlDuck =
    "round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4)"

  /** q43 oracle: mirrors Vectors.trainCentroids + annIvfTrained.
    * Lloyd iterations are UNROLLED as CTE pairs (asg_t, s_t → c_{t+1});
    * centroids are integer-quantized component SUMS (exact, order-
    * independent — see trainCentroids scaladoc), so every engine
    * computes bit-identical centroids; cosines and ranking then match
    * the q22/q23 proven-portable pattern. */
  /** DuckDB rounded cosine, the exact arithmetic of Vectors.cosine. */
  private def cosDuck(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 4)"

  /** The count-derived IVF cell count k = clamp(16, 2¹⁶, ⌈√N⌉) —
    * Vectors.adaptiveIvfK restated over the `e` CTE. IEEE sqrt is
    * correctly rounded on both engines, so ⌈√N⌉ is bit-identical. */
  private val adaptiveKCteDuck: String =
    "kk AS (SELECT greatest(16, least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT))) AS k FROM e)"

  /** The coarse cell count m = ⌈√k⌉ of the two-level assignment —
    * Vectors.twoLevelParts restated; `kk` must be in scope. */
  private val coarseMCteDuck: String =
    "ivm AS (SELECT CAST(ceil(sqrt(k)) AS BIGINT) AS m FROM kk)"

  /** TWO-LEVEL assignment CTE block over centroid table `ctab`
    * (cid, cv), emitting `$out(vec_id, cid)` — mirrors
    * Vectors.twoLevelAssign exactly: coarse seeds = centroids with
    * cid < m (`ivm` must be in scope); every centroid maps to its
    * nearest seed; every vector keeps its Vectors.CoarseProbes nearest
    * NON-EMPTY seeds (multi-probe), then argmaxes over those seeds'
    * member centroids. All argmaxes are (rounded cosine DESC, id ASC)
    * — the engine's tie convention. Requires CTE `e(vec_id, v)`. */
  private def twoLevelAsgDuck(tag: String, ctab: String, out: String): String =
    s"""ivg$tag AS MATERIALIZED (SELECT cid AS gid, cv AS gv FROM $ctab WHERE cid < (SELECT m FROM ivm)),
       |ivcg$tag AS MATERIALIZED (SELECT cid, gid FROM (
       |    SELECT c.cid, g.gid, row_number() OVER (PARTITION BY c.cid ORDER BY ${cosDuck("g.gv", "c.cv")} DESC, g.gid) AS rk
       |    FROM $ctab c, ivg$tag g) WHERE rk = 1),
       |ivvg$tag AS MATERIALIZED (SELECT vec_id, gid FROM (
       |    SELECT e.vec_id, g.gid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosDuck("g.gv", "e.v")} DESC, g.gid) AS rk
       |    FROM e, ivg$tag g WHERE g.gid IN (SELECT gid FROM ivcg$tag)) WHERE rk <= ${operators.Vectors.CoarseProbes}),
       |$out AS MATERIALIZED (SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosDuck("c.cv", "e.v")} DESC, c.cid) AS rk
       |    FROM e JOIN ivvg$tag vv USING (vec_id) JOIN ivcg$tag cg ON cg.gid = vv.gid JOIN $ctab c ON c.cid = cg.cid) WHERE rk = 1)""".stripMargin

  /** Unrolled Lloyd training (3 iterations, integer-quantized sum
    * centroids — Vectors.trainCentroids bit-for-bit, each iteration's
    * assignment TWO-LEVEL like the engine's) ending in the final
    * assignment `fasg(vec_id, cid)`; shared by q43 and q92. */
  private val ivfTrainPreludeDuck: String = {
    val iters = 3
    val steps = (0 until iters).map { t =>
      s"""${twoLevelAsgDuck(t.toString, s"c$t", s"asg$t")},
         |s$t AS (SELECT a.cid, t.i, sum(q.qv[t.i]) AS s
         |  FROM asg$t a JOIN q USING (vec_id), unnest(generate_series(1, len(q.qv))) t(i)
         |  GROUP BY a.cid, t.i),
         |c${t + 1} AS MATERIALIZED (SELECT c.cid, coalesce(n.cv, c.cv) AS cv FROM c$t c
         |  LEFT JOIN (SELECT cid, list(CAST(s AS DOUBLE) ORDER BY i) AS cv FROM s$t GROUP BY cid) n USING (cid)),""".stripMargin
    }.mkString("\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS MATERIALIZED (SELECT vec_id, list_transform(v, x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS qv FROM e),
       |$adaptiveKCteDuck,
       |$coarseMCteDuck,
       |c0 AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS cid, list_transform(qv, x -> CAST(x AS DOUBLE)) AS cv FROM q WHERE vec_id < (SELECT k FROM kk)),
       |$steps
       |${twoLevelAsgDuck("f", s"c$iters", "fasg")}""".stripMargin
  }

  private val ivfTrainedSqlDuck: String =
    s"""$ivfTrainPreludeDuck,
       |qq AS (SELECT vec_id AS qid, v AS qv2 FROM e WHERE vec_id < 10),
       |probes AS (SELECT qid, qv2, cid FROM (
       |    SELECT qid, qv2, c.cid, row_number() OVER (PARTITION BY qid ORDER BY ${cosDuck("c.cv", "qv2")} DESC, c.cid) AS prk
       |    FROM qq, c3 c)
       |  WHERE prk <= 4),
       |scored AS (SELECT p.qid, e.vec_id, ${cosDuck("p.qv2", "e.v")} AS cos
       |  FROM probes p JOIN fasg a ON a.cid = p.cid JOIN e ON e.vec_id = a.vec_id
       |  WHERE e.vec_id <> p.qid),
       |r AS (SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM scored)
       |SELECT qid, vec_id, cos, rk FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** q96: BPE merge training unrolled — 8 iterations of (pair count →
    * top-1 → greedy merge application). The greedy left-to-right
    * non-overlap that the Spark side gets from its left fold is
    * expressed positionally here: within each maximal run of
    * consecutive matching positions (gaps-and-islands on i −
    * row_number), every ODD match applies; the position after an
    * applied match is consumed (dropped) as the fused pair's right
    * half. Both formulations are the canonical BPE application, so
    * the learned merge tables must agree exactly. */
  private val BpeMerges = 8

  /** One greedy merge application step (top$tag's pair over `src` →
    * `dst`): within each maximal run of consecutive matching
    * positions, every odd match applies; the following position is
    * consumed as the fused pair's right half. `carry` columns ride
    * along unchanged (the training chain carries the type count). */
  private def bpeApplyStepSql(tag: String, src: String, dst: String,
                              top: String, carry: String): String = {
    val c = if (carry.isEmpty) "" else s", $carry"
    s"""m$tag AS (SELECT w.word$c, t.i, w.syms[t.i] AS s,
       |    (w.syms[t.i] = (SELECT l FROM $top) AND
       |     coalesce(w.syms[t.i + 1] = (SELECT r FROM $top), FALSE)) AS mt
       |  FROM $src w, unnest(generate_series(1, len(w.syms))) t(i)),
       |g$tag AS (SELECT *, i - row_number() OVER (PARTITION BY word, mt ORDER BY i) AS grp FROM m$tag),
       |a$tag AS (SELECT *, mt AND row_number() OVER (PARTITION BY word, mt, grp ORDER BY i) % 2 = 1 AS app FROM g$tag),
       |d$tag AS (SELECT *, coalesce(lag(app) OVER (PARTITION BY word ORDER BY i), FALSE) AS dropped FROM a$tag),
       |$dst AS MATERIALIZED (SELECT word$c,
       |    list(CASE WHEN app THEN s || (SELECT r FROM $top) ELSE s END ORDER BY i) AS syms
       |  FROM d$tag WHERE NOT dropped GROUP BY word$c),""".stripMargin
  }

  /** The unrolled training chain: toks → capped type table w0 →
    * (pair count → top-1 → apply)×8, defining top0..top7. */
  private val bpeTrainPreludeDuck: String = {
    val steps = (0 until BpeMerges).map { t =>
      s"""pc$t AS (SELECT syms[t.i] AS l, syms[t.i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS freq
         |  FROM w$t, unnest(generate_series(1, len(syms) - 1)) t(i)
         |  GROUP BY 1, 2),
         |top$t AS MATERIALIZED (SELECT l, r, freq FROM pc$t ORDER BY freq DESC, l, r LIMIT 1),
         |${bpeApplyStepSql(t.toString, s"w$t", s"w${t + 1}", s"top$t", "cnt")}""".stripMargin
    }.mkString("\n")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSqlDuck, ' ')) AS word FROM documents),
       |wc AS MATERIALIZED (SELECT word, count(*) AS cnt FROM toks WHERE length(word) > 0
       |  GROUP BY word ORDER BY cnt DESC, word LIMIT 256),
       |w0 AS MATERIALIZED (SELECT word, cnt,
       |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS syms
       |  FROM wc),
       |$steps""".stripMargin
  }

  private val bpeTrainSqlDuck: String =
    s"""$bpeTrainPreludeDuck
       |ranked AS (
       |  ${(0 until BpeMerges).map(t =>
            s"SELECT CAST(${t + 1} AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, freq FROM top$t")
           .mkString("\n  UNION ALL ")})
       |SELECT merge_rank, lhs, rhs, freq FROM ranked ORDER BY merge_rank""".stripMargin

  /** q98: the learned merges applied to EVERY distinct word (the
    * type-table tokenization), then per-doc token counts. */
  private val bpeApplySqlDuck: String = {
    val steps = (0 until BpeMerges).map(t =>
      bpeApplyStepSql(s"y$t", s"ty$t", s"ty${t + 1}", s"top$t", ""))
      .mkString("\n").stripSuffix(",")
    s"""$bpeTrainPreludeDuck
       |t2 AS MATERIALIZED (SELECT doc_id, word FROM toks WHERE length(word) > 0),
       |ty0 AS MATERIALIZED (SELECT word,
       |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS syms
       |  FROM (SELECT DISTINCT word FROM t2)),
       |$steps
       |SELECT doc_id, count(*) AS ws_tokens,
       |  CAST(sum(len(ty$BpeMerges.syms)) AS BIGINT) AS bpe_tokens
       |FROM t2 JOIN ty$BpeMerges USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q200: q98's per-doc token counts rolled up by language. */
  private val bpeFertilitySqlDuck: String = {
    val steps = (0 until BpeMerges).map(t =>
      bpeApplyStepSql(s"y$t", s"ty$t", s"ty${t + 1}", s"top$t", ""))
      .mkString("\n").stripSuffix(",")
    s"""$bpeTrainPreludeDuck
       |t2 AS MATERIALIZED (SELECT doc_id, word FROM toks WHERE length(word) > 0),
       |ty0 AS MATERIALIZED (SELECT word,
       |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS syms
       |  FROM (SELECT DISTINCT word FROM t2)),
       |$steps,
       |per AS (SELECT doc_id, count(*) AS ws, CAST(sum(len(ty$BpeMerges.syms)) AS BIGINT) AS bpe
       |  FROM t2 JOIN ty$BpeMerges USING (word) GROUP BY doc_id),
       |dl AS (SELECT doc_id, lang FROM documents)
       |SELECT dl.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(per.ws) AS BIGINT) AS ws_tokens,
       |  CAST(sum(per.bpe) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(per.bpe) AS DOUBLE) / CAST(sum(per.ws) AS DOUBLE) AS fertility
       |FROM per JOIN dl USING (doc_id)
       |GROUP BY dl.lang ORDER BY dl.lang""".stripMargin
  }

  /** q101: product-quantization ANN unrolled — per subspace a sliced
    * Lloyd training (Vectors.trainCentroidsOn bit-for-bit), argmax
    * encode, query lookup tables weighted by the query subvector
    * norm, the fixed ((v0+v1)+v2)+v3 ADC tree, shortlist-50, exact
    * cosine re-rank. */
  /** PQ codebook training + corpus encode + per-query lookup tables,
    * referencing CTEs `e` (double vectors) and `q` (integer-quantized)
    * — shared by the flat-PQ (q101) and IVF-PQ (q179) oracles. Ends
    * with `codes(vec_id, c0..c3)` and `t0..t3` defined, trailing
    * comma included. */
  private val pqPreludeDuck: String = {
    val (nSub, k, iters, subLen) = (4, 16, 2, 16)
    (0 until nSub).map { sp =>
      val lo = sp * subLen + 1; val hi = sp * subLen + subLen
      val steps = (0 until iters).map { t =>
        s"""pasg${sp}_$t AS (SELECT vec_id, cid FROM (
           |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosDuck("c.cv", "e.v")} DESC, c.cid) AS rk
           |    FROM es$sp e, pc${sp}_$t c) WHERE rk = 1),
           |ps${sp}_$t AS (SELECT a.cid, t.i, sum(q.qv[t.i]) AS s
           |  FROM pasg${sp}_$t a JOIN qs$sp q USING (vec_id), unnest(generate_series(1, len(q.qv))) t(i)
           |  GROUP BY a.cid, t.i),
           |pc${sp}_${t + 1} AS (SELECT c.cid, coalesce(n.cv, c.cv) AS cv FROM pc${sp}_$t c
           |  LEFT JOIN (SELECT cid, list(CAST(s AS DOUBLE) ORDER BY i) AS cv FROM ps${sp}_$t GROUP BY cid) n USING (cid)),""".stripMargin
      }.mkString("\n")
      s"""es$sp AS MATERIALIZED (SELECT vec_id, list_slice(v, $lo, $hi) AS v FROM e),
         |qs$sp AS MATERIALIZED (SELECT vec_id, list_slice(qv, $lo, $hi) AS qv FROM q),
         |pc${sp}_0 AS (SELECT CAST(vec_id AS INT) AS cid, list_transform(qv, x -> CAST(x AS DOUBLE)) AS cv FROM qs$sp WHERE vec_id < $k),
         |$steps
         |enc$sp AS MATERIALIZED (SELECT vec_id, cid AS c$sp FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosDuck("c.cv", "e.v")} DESC, c.cid) AS rk
         |    FROM es$sp e, pc${sp}_$iters c) WHERE rk = 1),
         |t$sp AS MATERIALIZED (SELECT qq.vec_id AS qid, c.cid,
         |    ${cosDuck("c.cv", "qq.v")} * sqrt(list_dot_product(qq.v, qq.v)) AS v$sp
         |  FROM es$sp qq, pc${sp}_$iters c WHERE qq.vec_id < 10),""".stripMargin
    }.mkString("\n") +
    s"""
       |codes AS (SELECT e0.vec_id, e0.c0, e1.c1, e2.c2, e3.c3
       |  FROM enc0 e0 JOIN enc1 e1 USING (vec_id) JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),""".stripMargin
  }

  /** The shared ADC→shortlist→exact-rerank CTEs over an `approxs`
    * CTE (qid, vec_id, approx), ending with `r` defined. */
  private val pqTailCtesDuck: String =
    s"""short AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY approx DESC, vec_id) AS ark FROM approxs)
       |  WHERE ark <= 50),
       |rer AS (SELECT s.qid, s.vec_id, ${cosDuck("eq.v", "ev.v")} AS cos
       |  FROM short s JOIN e ev ON ev.vec_id = s.vec_id JOIN e eq ON eq.vec_id = s.qid),
       |r AS (SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM rer)""".stripMargin

  private val pqTailDuck: String =
    s"""$pqTailCtesDuck
       |SELECT qid, vec_id, cos, rk FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  private val pqSqlDuck: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS MATERIALIZED (SELECT vec_id, list_transform(v, x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS qv FROM e),
       |$pqPreludeDuck
       |approxs AS (SELECT t0.qid, cd.vec_id, ((t0.v0 + t1.v1) + t2.v2) + t3.v3 AS approx
       |  FROM codes cd
       |  JOIN t0 ON t0.cid = cd.c0
       |  JOIN t1 ON t1.qid = t0.qid AND t1.cid = cd.c1
       |  JOIN t2 ON t2.qid = t0.qid AND t2.cid = cd.c2
       |  JOIN t3 ON t3.qid = t0.qid AND t3.cid = cd.c3
       |  WHERE cd.vec_id <> t0.qid),
       |$pqTailDuck""".stripMargin

  /** q179: IVF-PQ — the q43 coarse layer (trained centroids, 4-probe
    * lists) restricts the candidate pairs BEFORE the q101 fine layer
    * scores them; tail identical to q101. Ends with `r` defined. */
  private val ivfPqCtesDuck: String =
    s"""$ivfTrainPreludeDuck,
       |$pqPreludeDuck
       |qq AS (SELECT vec_id AS qid, v AS qv2 FROM e WHERE vec_id < 10),
       |probes AS (SELECT qid, cid FROM (
       |    SELECT qid, c.cid, row_number() OVER (PARTITION BY qid ORDER BY ${cosDuck("c.cv", "qv2")} DESC, c.cid) AS prk
       |    FROM qq, c3 c)
       |  WHERE prk <= 4),
       |cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN fasg a ON a.cid = p.cid
       |  WHERE a.vec_id <> p.qid),
       |approxs AS (SELECT cd.qid, cd.vec_id, ((t0.v0 + t1.v1) + t2.v2) + t3.v3 AS approx
       |  FROM (SELECT ca.qid, ca.vec_id, c.c0, c.c1, c.c2, c.c3
       |        FROM cand ca JOIN codes c USING (vec_id)) cd
       |  JOIN t0 ON t0.qid = cd.qid AND t0.cid = cd.c0
       |  JOIN t1 ON t1.qid = cd.qid AND t1.cid = cd.c1
       |  JOIN t2 ON t2.qid = cd.qid AND t2.cid = cd.c2
       |  JOIN t3 ON t3.qid = cd.qid AND t3.cid = cd.c3),
       |$pqTailCtesDuck""".stripMargin

  private val ivfPqSqlDuck: String =
    s"""$ivfPqCtesDuck
       |SELECT qid, vec_id, cos, rk FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** q189: MRR of the IVF-PQ system list against the brute-force
    * top-1 — rank arithmetic shared with q179's `r` CTE. */
  private val mrrSqlDuck: String =
    s"""$ivfPqCtesDuck,
       |bfsc AS (SELECT q.vec_id AS qid, e2.vec_id, ${cosDuck("q.v", "e2.v")} AS cos
       |  FROM e q, e e2 WHERE q.vec_id < 10 AND e2.vec_id <> q.vec_id),
       |bfr AS (SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |  FROM bfsc),
       |truth1 AS (SELECT qid, vec_id AS true_top FROM bfr WHERE rk = 1),
       |syslist AS (SELECT qid, vec_id, rk FROM r WHERE rk <= 5)
       |SELECT tt.qid, tt.true_top,
       |  CAST(coalesce(s.rk, 0) AS BIGINT) AS found_rank,
       |  CAST(CASE WHEN s.rk IS NULL THEN 0 ELSE 10000 // s.rk END AS BIGINT) AS rr_bp
       |FROM truth1 tt LEFT JOIN syslist s
       |  ON s.qid = tt.qid AND s.vec_id = tt.true_top
       |ORDER BY tt.qid""".stripMargin

  /** q92 prelude: the trained clustering, then within-cluster
    * pairwise cosine with greedy keep-lowest-id removal, ending in
    * `sdup(vec_id, is_dup)`; q102 composes it. */
  private val semanticDedupPreludeDuck: String =
    s"""$ivfTrainPreludeDuck,
       |dups AS (SELECT DISTINCT b.vec_id
       |  FROM fasg a JOIN fasg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
       |  WHERE ${cosDuck("ea.v", "eb.v")} >= 0.45),
       |sdup AS MATERIALIZED (SELECT f.vec_id, CAST(f.cid AS BIGINT) AS cid,
       |  CAST(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |  FROM fasg f LEFT JOIN dups d USING (vec_id))""".stripMargin

  private val semanticDedupSqlDuck: String =
    s"""$semanticDedupPreludeDuck
       |SELECT vec_id, cid, is_dup FROM sdup ORDER BY vec_id""".stripMargin

  /** q102: the end-to-end curation verdict — quality floor, bigram
    * rarity cap, semantic near-dup removal, train-split membership —
    * aggregated per language. Every signal reuses its gated
    * formulation verbatim. */
  private val curationSqlDuck: String =
    s"""$semanticDedupPreludeDuck,
       |qm AS (SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_words,
       |    length(text) AS n_chars,
       |    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct,
       |    len(list_filter(string_split(text, ' '),
       |        x -> x IN ('the','a','of','and','is','to','in'))) AS n_stopwords
       |  FROM documents),
       |qual AS (SELECT doc_id,
       |    least((n_chars - (n_words - 1)) * 1.0 / n_words / 8.0, 1.0) * 0.4
       |      + (1.0 - n_punct * 1.0 / n_chars) * 0.3
       |      + least(n_stopwords * 1.0 / n_words * 4.0, 1.0) * 0.3 AS quality
       |  FROM qm),
       |wn AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS ws FROM documents),
       |bg AS (SELECT doc_id, ws[t.i] AS w1, ws[t.i + 1] AS w2
       |  FROM wn, unnest(generate_series(1, len(ws) - 1)) t(i)
       |  WHERE len(ws) >= 2),
       |bc2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bg GROUP BY w1, w2),
       |bc1 AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS cnt1 FROM bc2 GROUP BY w1),
       |rar AS (SELECT doc_id,
       |    CAST(count(*) FILTER (WHERE cnt2 * 50 < cnt1) AS BIGINT) AS n_rare
       |  FROM bg JOIN bc2 USING (w1, w2) JOIN bc1 USING (w1) GROUP BY doc_id),
       |verdict AS (SELECT d.doc_id, d.lang,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks,
       |    (q.quality >= 0.6 AND coalesce(r.n_rare, 0) <= 1 AND s.is_dup = 0 AND
       |     strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1 >= 2) AS kept
       |  FROM documents d
       |  JOIN qual q USING (doc_id)
       |  LEFT JOIN rar r USING (doc_id)
       |  JOIN sdup s ON s.vec_id = d.doc_id)
       |SELECT lang, count(*) AS n_total,
       |  CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
       |  CAST(coalesce(sum(toks) FILTER (kept), 0) AS BIGINT) AS tokens_kept
       |FROM verdict GROUP BY lang ORDER BY lang""".stripMargin
}
