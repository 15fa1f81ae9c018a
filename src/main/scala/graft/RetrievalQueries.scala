package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Graph, Learning, Profiling, Retrieval, Sketch, Text, TimeSeries}

/** Retrieval / graph / robust-stats queries (q130+): BM25 term scoring,
  * DSIR importance weights, MAD outliers, the second window-function
  * family, triangle counting, neighborhood Jaccard, exact-substring
  * duplication windows, EWMA, distribution moments, temperature-scaled
  * mix weights and LISTAGG. Registered through SparkEntry; every entry
  * has a DuckDB oracle.
  */
object RetrievalQueries {

  /** Count-min-sketch hash rows for q171. */
  private val CmsD = 4

  /** q179 Holt smoothing coefficients (doubles interpolated verbatim
    * into the oracle so both engines run identical literals). */
  private val HoltAlpha = 0.2
  private val HoltBeta = 0.3

  private def rd(s: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.t(s, dir, name)

  /** Tokens SQL mirroring Text.tokens (same shape as NorthStar's). */
  private def toksSql(e: String): String =
    raw"""list_filter(string_split_regex(lower(trim($e)), '\s+'), x -> x <> '')"""

  /** DuckDB replica of Sampling.splitBucket (first md5 hex byte). */
  private def bucketSql(id: String): String =
    s"""((strpos('0123456789abcdef', md5($id)[1:1]) - 1) * 16
       |  + (strpos('0123456789abcdef', md5($id)[2:2]) - 1))""".stripMargin

  /** Event-order link edges (same derivation as q106/q126). */
  private def eventEdges(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    // pinned: the JSON-extract + lag window is the expensive shared
    // derivation behind the graph queries (q126/q134/q135 build the
    // canonically-identical frame, so they resolve to ONE cache
    // entry); the graph ops release their own internal pins, cross-
    // call reuse lives here at the query layer
    rd(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .select(col("k").as("dst"), lag(col("k"), 1).over(w).as("src"))
      .where(col("src").isNotNull)
      .select("src", "dst")
      .cache()
  }

  private val EdgesSql =
    """lagk AS (
      |  SELECT CAST(props->>'$.k' AS BIGINT) AS dst,
      |    lag(CAST(props->>'$.k' AS BIGINT)) OVER
      |      (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS src
      |  FROM events),
      |edges AS (SELECT DISTINCT src, dst FROM lagk WHERE src IS NOT NULL),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM edges WHERE src <> dst)""".stripMargin

  /** Fixture weight vector for the q152 hashed linear classifier: 64
    * exact binary fractions (k/32, |k| ≤ 16) so every partial sum is
    * exact and summation order can never change the double — the
    * property that makes the classifier oracle-checkable cell-exactly.
    * A real deployment pastes trained weights here. */
  private[graft] val ClfWeights: Seq[Double] =
    (0 until 64).map(i => ((i * 37 + 11) % 33 - 16) / 32.0)
  private[graft] val ClfBias = 0.125

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Okapi BM25 (doc, term) relevance — top 25 scores across the
    // corpus. Retrieval-style relevance over the same tf/df/dl tables a
    // contamination probe uses.
    "q130_bm25" -> ((s, dir) => {
      Retrieval.bm25(rd(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("bm25"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc, col("term").asc)
        .limit(25)
    }),

    // DSIR importance weights: log-likelihood ratio of each document's
    // hashed-token features under the target (lang = 'en') vs the raw
    // corpus LM. Resampling by these weights is the DSIR data-selection
    // rule.
    "q131_dsir_weights" -> ((s, dir) => {
      Retrieval.dsirWeights(rd(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", buckets = 64)
        .select(col("doc_id"), col("n_toks"),
          round(col("dsir_weight"), 6).as("dsir_weight"))
        .orderBy("doc_id")
    }),

    // Robust per-language length outliers: median/MAD profile — the
    // quality-filter cousin of q90's mean/stddev z-scores that heavy
    // tails cannot drag.
    "q132_mad_outliers" -> ((s, dir) => {
      Profiling.madOutliers(rd(s, dir, "documents"), "lang", "n_chars")
        .select(col("lang"), col("n"), round(col("med"), 4).as("med"),
          round(col("mad"), 4).as("mad"), col("n_outliers"))
        .orderBy("lang")
    }),

    // Window family 2: cume_dist, nth_value over an explicit full
    // frame, and lead with a non-null default — per-customer order
    // rankings.
    "q133_window_family2" -> ((s, dir) => {
      val byPrice = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val byDate = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      rd(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        round(cume_dist().over(byPrice), 6).as("cd"),
        nth_value(col("o_totalprice"), 2).over(
          byPrice.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).as("second_price"),
        lead(col("o_orderdate"), 1, java.sql.Date.valueOf("1900-01-01"))
          .over(byDate).as("next_date"))
        .orderBy("o_orderkey")
    }),

    // Exact triangle count over the event link graph via degree-ordered
    // orientation (the wedge join is bounded by arboricity, not max
    // degree — the "last reducer" never melts).
    "q134_triangles" -> ((s, dir) => {
      Graph.triangleStats(eventEdges(s, dir))
    }),

    // Neighborhood Jaccard similarity: node pairs whose link profiles
    // overlap most (candidate pairs only via shared neighbors).
    "q135_neighbor_jaccard" -> ((s, dir) => {
      Graph.neighborJaccard(eventEdges(s, dir))
        .select(col("node_a"), col("node_b"), col("n_common"),
          col("deg_a"), col("deg_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("node_a").asc, col("node_b").asc)
        .limit(25)
    }),

    // Cross-document exact-substring duplication: 40-char windows
    // fingerprint-sampled by content (digest mod 20 — MOSS-style, so
    // shared runs select identically in both docs regardless of
    // alignment), flagged when the same window appears in ≥ 2 docs.
    "q136_substring_dups" -> ((s, dir) => {
      Dedup.substringDupWindows(rd(s, dir, "documents"), "doc_id", "text",
          windowChars = 40, sampleMod = 20)
        .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
          round(col("dup_frac"), 6).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // The rolling-hash FAST MODE of q136 — the mode a 100 TB corpus
    // actually runs (one multiply-add per character instead of one md5
    // per position). The oracle replays the Rabin-Karp + splitmix64
    // integer arithmetic in DuckDB (64-bit wraparound simulated in
    // HUGEINT), so the codegen'd expression is cell-checked end-to-end,
    // not just spec-checked against the md5 mode.
    "q151_substring_dups_rolling" -> ((s, dir) => {
      Dedup.substringDupWindows(rd(s, dir, "documents"), "doc_id", "text",
          windowChars = 40, sampleMod = 20, rollingHash = true)
        .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
          round(col("dup_frac"), 6).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // fastText-style hashed linear quality classifier: sigmoid(bias +
    // Σ_token w[md5-bucket(token)]), scored row-locally inside the scan
    // stage — the CCNet/RefinedWeb quality-filter shape with a
    // paste-your-trained-weights model.
    "q152_quality_classifier" -> ((s, dir) => {
      val docs = rd(s, dir, "documents").where(col("text").isNotNull)
      // broadcast-join application path: hashed features once, weights
      // as a TABLE (Learning.applyLinear) — the form that composes
      // with q162's trained weights at production bucket counts;
      // Text.hashedLinearScore stays the row-local curated-vector API
      // (SearchSpec asserts the two paths score identically)
      val feats = Learning.hashedFeatures(docs, "doc_id", "text",
        ClfWeights.length)
      val scored = Learning.applyLinear(feats,
        Learning.weightsDf(s, ClfWeights), ClfBias)
      docs.select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("n_toks"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          round(coalesce(col("score"),
            lit(1.0 / (1.0 + math.exp(-ClfBias)))), 6).as("score"))
        .withColumn("keep", col("score") >= 0.5)
        .orderBy("doc_id")
    }),

    // Final EWMA of event values per user (closed-form weights — one
    // ranked window + one keyed sum, no sequential state).
    "q137_ewma" -> ((s, dir) => {
      TimeSeries.ewma(
          rd(s, dir, "events")
            .where(col("ts").isNotNull && col("value").isNotNull),
          "user_id", Seq(col("ts").asc, col("event_id").asc),
          "value", alpha = 0.2)
        .select(col("user_id"), col("n_obs"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy("user_id")
    }),

    // Holt linear smoothing per user: level+trend recurrence as one
    // row-local fold over the sorted series, one-step-ahead forecast
    // out — the oracle replays the identical recurrence (same double
    // literals) in a recursive CTE.
    "q179_holt_linear" -> ((s, dir) => {
      TimeSeries.holtLinear(
          rd(s, dir, "events")
            .where(col("ts").isNotNull && col("value").isNotNull),
          "user_id", Seq(col("ts").asc, col("event_id").asc),
          "value", alpha = HoltAlpha, beta = HoltBeta)
        .select(col("user_id"), col("n_obs"),
          round(col("level"), 6).as("level"),
          round(col("trend"), 6).as("trend"),
          round(col("forecast_1"), 6).as("forecast_1"))
        .orderBy("user_id")
    }),

    // Distribution moments per language: skewness/kurtosis of document
    // length plus covariance of length vs token count — the oracle
    // recomputes Spark's exact formulas (√n·m₃/m₂^1.5, n·m₄/m₂²−3)
    // from central-moment sums.
    "q138_moments" -> ((s, dir) => {
      // Covariances from EXACT integer sums with integer half-up
      // rounding, not covar_pop/covar_samp over doubles: both inputs
      // are integer-valued, and the fixture holds a group whose exact
      // cov_pop·10⁴ is a half-integer (lang=es at sf0.001:
      // 40053287.5) — double partial-aggregation ORDER then decides
      // which side of the rounding boundary each engine lands on (a
      // live flake: green at 4/32 cores, red at 8). The integer form
      // is partitioning- and engine-independent: sums are exact,
      // round-half-away-from-zero is done in integer arithmetic
      // (sign·((2·|num| + den) DIV (2·den))), and the final /10⁴ of a
      // ≤2^53 integer is the same IEEE double everywhere. Away from
      // ties the values are identical to the old rounded covar_*.
      def covHalfUp(denSql: String): org.apache.spark.sql.Column = expr(
        "CAST((CASE WHEN __num < 0 THEN -1L ELSE 1L END) * " +
          s"((2 * abs(__num) + $denSql) DIV (2 * ($denSql))) AS DOUBLE)" +
          " / 10000.0")
      val nDec = "CAST(n AS DECIMAL(38,0))"
      rd(s, dir, "documents")
        .select(col("lang"), col("n_chars").cast("long").as("xl"),
          graft.ops.Text.tokenCount(col("text")).cast("long").as("yl"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          round(skewness(col("xl").cast("double")), 6).as("skew"),
          round(kurtosis(col("xl").cast("double")), 6).as("kurt"),
          // sums aggregate in DECIMAL(38,0), matching the oracle's
          // HUGEINT path: a LONG sum(xl*yl) would silently wrap
          // (non-ANSI) at extreme corpus scale where DuckDB stays
          // exact; at any non-wrapping scale the values are identical
          sum(col("xl").cast("decimal(19,0)")).as("__sx"),
          sum(col("yl").cast("decimal(19,0)")).as("__sy"),
          sum(col("xl").cast("decimal(19,0)") *
            col("yl").cast("decimal(19,0)")).as("__sxy"))
        .withColumn("__num", expr(
          "(CAST(__sxy AS DECIMAL(38,0)) * " + nDec +
            " - CAST(__sx AS DECIMAL(38,0)) * CAST(__sy AS DECIMAL(38,0)))" +
            " * CAST(10000 AS DECIMAL(38,0))"))
        .select(col("lang"), col("n"), col("skew"), col("kurt"),
          covHalfUp(s"$nDec * $nDec").as("cov_pop"),
          when(col("n") > 1,
            covHalfUp(s"$nDec * CAST(n - 1 AS DECIMAL(38,0))"))
            .as("cov_samp"))
        .orderBy("lang")
    }),

    // Temperature-scaled source mixing (the mC4/T5 α-sampling rule,
    // α = 0.3): flattened sampling weights and per-source target counts
    // for a 10k-document mix.
    "q139_temperature_mix" -> ((s, dir) => {
      Retrieval.temperatureMix(rd(s, dir, "documents"), "source",
          alpha = 0.3, sampleSize = 10000L)
        .select(col("source"), col("n_docs"),
          round(col("p_raw"), 6).as("p_raw"),
          round(col("p_temp"), 6).as("p_temp"), col("n_target"))
        .orderBy("source")
    }),

    // Keyword retrieval: top-10 documents for the query
    // {join, filter, vector} by summed BM25 — the end-to-end use of
    // q130's scoring.
    "q148_bm25_search" -> ((s, dir) => {
      Retrieval.bm25Search(rd(s, dir, "documents"), "doc_id", "text",
          Seq("join", "filter", "vector"))
        .select(col("doc_id"), col("n_matched"),
          round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(10)
    }),

    // Canonical selection over near-dup clusters: resolve LSH candidate
    // pairs to connected components (q99's op), then keep the longest
    // member per cluster (ties by id) — the "which copy survives"
    // decision of a production dedup, made deterministic.
    "q149_cluster_canonical" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val pairs = Dedup.minhashCandidatePairs(docs, "text", "doc_id",
        numHashes = 8, bands = 4, shingleSize = 3,
        factorExactGroups = Some(false)) // NorthStar q23 hint note
      // pairsDistinct: LSH candidate pairs are distinct + id_a < id_b
      val clusters = Dedup.resolveClusters(pairs, pairsDistinct = true)
      val members = clusters.join(docs.select(col("doc_id").as("id"),
        col("n_chars")), "id")
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("n_chars").desc, col("id").asc)
      members.withColumn("rk", row_number().over(w))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          min(when(col("rk") === 1, col("id"))).as("kept_doc"),
          min(when(col("rk") === 1, col("n_chars"))).as("kept_chars"))
        .orderBy("cluster_id")
    }),

    // Spark 4 VARIANT ingestion of semi-structured JSON: parse once to
    // the binary variant encoding, then typed path extraction
    // (variant_get), inferred schema (schema_of_variant) and missing-
    // path behavior (try_variant_get -> null) — the open-schema
    // alternative to from_json's fixed struct. At scale the parse
    // happens inside the scan stage and only extracted scalars reach
    // the aggregation.
    "q147_variant" -> ((s, dir) => {
      rd(s, dir, "events")
        .withColumn("v", parse_json(col("props")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(variant_get(col("v"), "$.k", "long")).as("sum_k"),
          min(schema_of_variant(col("v"))).as("props_schema"),
          sum(when(try_variant_get(col("v"), "$.missing", "string")
            .isNull, 1L).otherwise(0L)).as("n_missing"))
        .orderBy("event_type")
    }),

    // LISTAGG ... WITHIN GROUP — ordered string aggregation through the
    // raw SQL surface (Spark 4 syntax; DuckDB's string_agg is the same
    // aggregate).
    "q140_listagg" -> ((s, dir) => {
      rd(s, dir, "orders").createOrReplaceTempView("orders_la")
      s.sql(
        """SELECT o_orderpriority,
          |  listagg(DISTINCT o_orderstatus, ',')
          |    WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
          |  count(*) AS n
          |FROM orders_la
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // Count-min-sketch frequency estimation: the d=4 x 256-cell sketch
    // is built with one map-side-combined groupBy (no vocabulary-sized
    // state ever shuffles), then the exact top-20 tokens are estimated
    // back out of it — n_cms >= n_exact by construction, equality
    // whenever no heavier token collides in all 4 rows.
    "q171_cms_top_tokens" -> ((s, dir) => {
      // NOT cached: caching the exploded token stream measured slower
      // than the two tokenize passes it saves (1M short strings in the
      // memory store vs a cheap re-explode of the memoized base table)
      val toks = rd(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
      val cms = Sketch.cmsBuild(toks, "tok", d = CmsD)
      val top = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok").asc).limit(20)
      top.join(Sketch.cmsEstimate(cms, top, "tok", d = CmsD), "tok")
        .select(col("tok"), col("n_exact"), col("n_cms"))
        .orderBy(col("n_exact").desc, col("tok").asc)
    }),

    // Misra-Gries k-counter heavy hitters: exact corpus counts trimmed
    // by the (k+1)-th largest count — every token above N/(k+1) kept
    // with a bounded under-estimate, in k counters where the exact
    // histogram is vocabulary-sized. The complementary sketch to
    // q171's CMS (actual heavy-hitter SET + under-estimate vs point
    // queries + over-estimate). One TakeOrderedAndProject for the
    // threshold.
    "q206_mg_heavy_hitters" -> ((s, dir) => {
      val toks = rd(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
      // cache, not localCheckpoint: the two trim passes share the
      // aggregation after the threshold collect materializes it, and
      // cached blocks are LRU-evictable — a checkpoint here would pin
      // a vocabulary-sized table for the life of the harness session
      val counts = toks.groupBy("tok")
        .agg(count(lit(1)).as("cnt")).cache()
      Sketch.mgSummary(counts, "tok", k = 30)
        .orderBy(col("cnt").desc, col("tok").asc)
    }))

  // ------------------------------------------------------------- oracle SQL

  /** Shared BM25 CTE body (q130 scores it raw, q148 sums it per doc). */
  private[graft] def bm25Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(${toksSql("text")}) AS term FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY 1),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |       FROM tf GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |                 avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    ln(1.0 + (n_docs - CAST(df AS DOUBLE) + 0.5) /
      |        (CAST(df AS DOUBLE) + 0.5)) *
      |      ((CAST(tf AS DOUBLE) * 2.2) /
      |        (CAST(tf AS DOUBLE) + 1.2 *
      |          (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS sc
      |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term), stats)""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q130_bm25" ->
      s"""$bm25Sql
        |SELECT doc_id, term, tf, df, round(sc, 6) AS bm25
        |FROM scored
        |ORDER BY bm25 DESC, doc_id ASC, term ASC LIMIT 25""".stripMargin,

    "q148_bm25_search" ->
      s"""$bm25Sql
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
        |  round(sum(sc), 6) AS score
        |FROM scored WHERE term IN ('join', 'filter', 'vector')
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,

    "q149_cluster_canonical" -> {
      val base = NorthStar.minhashPairsSql(NorthStar.toksSql("text"))
        .replaceFirst("^WITH ", "WITH RECURSIVE ")
      s"""$base,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id),
        |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |members AS (
        |  SELECT c.cluster_id, c.id, d.n_chars
        |  FROM clusters c JOIN documents d ON d.doc_id = c.id),
        |ranked AS (
        |  SELECT cluster_id, id, n_chars, row_number() OVER
        |    (PARTITION BY cluster_id ORDER BY n_chars DESC, id ASC) AS rk
        |  FROM members)
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(min(CASE WHEN rk = 1 THEN id END) AS BIGINT) AS kept_doc,
        |  CAST(min(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
        |    AS kept_chars
        |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
    },

    "q131_dsir_weights" ->
      s"""WITH raw AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |    unnest(${toksSql("text")}) AS tok
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, is_target,
        |    ${bucketSql("tok")} % 64 AS bucket
        |  FROM raw),
        |counts AS (
        |  SELECT bucket,
        |    CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(count(*) AS BIGINT) AS cr
        |  FROM toks GROUP BY bucket),
        |totals AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
        |                  CAST(sum(cr) AS BIGINT) AS tr FROM counts),
        |lm AS (SELECT bucket,
        |    ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE)) -
        |    ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 64 AS DOUBLE)) AS log_ratio
        |  FROM counts, totals)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  round(sum(log_ratio), 6) AS dsir_weight
        |FROM toks JOIN lm USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q152_quality_classifier" -> {
      val wList = ClfWeights.mkString("[", ", ", "]")
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(${toksSql("text")}) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |contrib AS (
        |  SELECT doc_id,
        |    ($wList::DOUBLE[])[(${bucketSql("tok")} % 64) + 1] AS wt
        |  FROM toks),
        |z AS (SELECT doc_id, sum(wt) AS sw, count(*) AS n
        |      FROM contrib GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(z.n, 0) AS BIGINT) AS n_toks,
        |  round(1.0 / (1.0 + exp(-($ClfBias + coalesce(z.sw, 0)))), 6)
        |    AS score,
        |  round(1.0 / (1.0 + exp(-($ClfBias + coalesce(z.sw, 0)))), 6)
        |    >= 0.5 AS keep
        |FROM documents d LEFT JOIN z USING (doc_id)
        |WHERE d.text IS NOT NULL
        |ORDER BY d.doc_id""".stripMargin
    },

    "q132_mad_outliers" ->
      """WITH med AS (
        |  SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |dev AS (
        |  SELECT d.lang, abs(CAST(n_chars AS DOUBLE) - med) AS dv
        |  FROM documents d JOIN med USING (lang)),
        |mad AS (SELECT lang, quantile_cont(dv, 0.5) AS mad
        |        FROM dev GROUP BY lang),
        |outl AS (
        |  SELECT dev.lang,
        |    CAST(sum(CASE WHEN dv > 3.0 * 1.4826 * mad THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_outliers
        |  FROM dev JOIN mad USING (lang) GROUP BY dev.lang)
        |SELECT m.lang, m.n, round(m.med, 4) AS med, round(a.mad, 4) AS mad,
        |  o.n_outliers
        |FROM med m JOIN mad a ON m.lang = a.lang
        |JOIN outl o ON o.lang = m.lang
        |ORDER BY m.lang""".stripMargin,

    "q133_window_family2" ->
      """SELECT o_orderkey, o_custkey,
        |  round(cume_dist() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC), 6) AS cd,
        |  nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_price,
        |  lead(o_orderdate, 1, DATE '1900-01-01') OVER
        |    (PARTITION BY o_custkey
        |     ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q134_triangles" ->
      s"""WITH $EdgesSql,
        |nodes AS (SELECT a AS node FROM und UNION SELECT b FROM und)
        |SELECT
        |  CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
        |  CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM und e1
        |        JOIN und e2 ON e2.a = e1.b
        |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b) AS BIGINT)
        |    AS n_triangles""".stripMargin,

    "q135_neighbor_jaccard" ->
      s"""WITH $EdgesSql,
        |adj AS (SELECT a AS node, b AS nb FROM und
        |        UNION ALL SELECT b, a FROM und),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY node),
        |common AS (
        |  SELECT x.node AS node_a, y.node AS node_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM adj x JOIN adj y ON x.nb = y.nb AND x.node < y.node
        |  GROUP BY 1, 2)
        |SELECT node_a, node_b, n_common, da.deg AS deg_a, db.deg AS deg_b,
        |  round(CAST(n_common AS DOUBLE) /
        |    CAST(da.deg + db.deg - n_common AS DOUBLE), 6) AS jaccard
        |FROM common
        |JOIN deg da ON da.node = node_a
        |JOIN deg db ON db.node = node_b
        |ORDER BY jaccard DESC, node_a ASC, node_b ASC LIMIT 25""".stripMargin,

    "q136_substring_dups" ->
      """WITH wins AS (
        |  SELECT doc_id, unnest(list_filter(list_transform(
        |      generate_series(1, greatest(len(text) - 39, 1), 1),
        |      p -> md5(substr(text, p, 40))),
        |    h -> ((strpos('0123456789abcdef', h[1:1]) - 1) * 256
        |        + (strpos('0123456789abcdef', h[2:2]) - 1) * 16
        |        + (strpos('0123456789abcdef', h[3:3]) - 1)) % 20 = 0))
        |    AS h
        |  FROM documents),
        |duph AS (
        |  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |                 FROM wins GROUP BY h) WHERE nd >= 2),
        |per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(sum(CASE WHEN h IN (SELECT h FROM duph) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_dup_windows
        |  FROM wins GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_windows, 0) AS n_windows,
        |  coalesce(n_dup_windows, 0) AS n_dup_windows,
        |  round(CASE WHEN coalesce(n_windows, 0) > 0
        |    THEN CAST(n_dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE)
        |    ELSE 0.0 END, 6) AS dup_frac
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // DuckDB replay of RollingFingerprintExpression: the Rabin-Karp
    // window hash (base 1000003 mod 2^64) and splitmix64 finalizer in
    // HUGEINT, with 64-bit wraparound via explicit `% 2^64` and each
    // 64x64 multiply split at 32 bits so no intermediate exceeds the
    // signed-128 range. DuckDB parses `a % b * c` left-to-right like
    // Spark, but every step is fully parenthesized anyway.
    "q151_substring_dups_rolling" ->
      """WITH wins AS (
        |  SELECT doc_id, unnest(
        |    list_filter(list_transform(list_transform(list_transform(
        |      list_transform(
        |        list_transform(generate_series(1, greatest(len(text) - 39, 1), 1),
        |          p -> list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |                 list_transform(generate_series(p, least(p + 39, len(text)), 1),
        |                   i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |                 (acc, c) -> ((acc * 1000003) + c) % 18446744073709551616)),
        |        h0 -> (h0 + 11400714819323198485) % 18446744073709551616),
        |      h1 -> (((((xor(CAST(h1 AS HUGEINT), CAST(h1 // 1073741824 AS HUGEINT))) % 4294967296) * 484763065)
        |        + ((((((xor(CAST(h1 AS HUGEINT), CAST(h1 // 1073741824 AS HUGEINT))) % 4294967296) * 3210233709)
        |          + (((xor(CAST(h1 AS HUGEINT), CAST(h1 // 1073741824 AS HUGEINT))) // 4294967296) * 484763065))
        |          % 4294967296) * 4294967296)) % 18446744073709551616)),
        |      h2 -> (((((xor(CAST(h2 AS HUGEINT), CAST(h2 // 134217728 AS HUGEINT))) % 4294967296) * 321982955)
        |        + ((((((xor(CAST(h2 AS HUGEINT), CAST(h2 // 134217728 AS HUGEINT))) % 4294967296) * 2496678331)
        |          + (((xor(CAST(h2 AS HUGEINT), CAST(h2 // 134217728 AS HUGEINT))) // 4294967296) * 321982955))
        |          % 4294967296) * 4294967296)) % 18446744073709551616)),
        |      h3 -> xor(CAST(h3 AS HUGEINT), CAST(h3 // 2147483648 AS HUGEINT))),
        |      m -> (m % 20) = 0)) AS h
        |  FROM documents),
        |duph AS (
        |  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |                 FROM wins GROUP BY h) WHERE nd >= 2),
        |per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(sum(CASE WHEN h IN (SELECT h FROM duph) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_dup_windows
        |  FROM wins GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_windows, 0) AS n_windows,
        |  coalesce(n_dup_windows, 0) AS n_dup_windows,
        |  round(CASE WHEN coalesce(n_windows, 0) > 0
        |    THEN CAST(n_dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE)
        |    ELSE 0.0 END, 6) AS dup_frac
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q137_ewma" ->
      """WITH r AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
        |  round(sum(value * CASE WHEN rn = 1 THEN power(0.8, n - 1)
        |    ELSE 0.2 * power(0.8, n - rn) END), 6) AS ewma
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q179_holt_linear" -> {
      val (a, a1, b, b1) = (HoltAlpha, 1.0 - HoltAlpha,
        HoltBeta, 1.0 - HoltBeta)
      // l' appears expanded inside the trend update exactly as the
      // Spark fold's expression tree evaluates it
      val lNew = s"($a * r.value + $a1 * (h.l + h.b))"
      s"""WITH RECURSIVE r AS (
         |  SELECT user_id, CAST(value AS DOUBLE) AS value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts ASC, event_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS n
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         |hw AS (
         |  SELECT user_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b, n
         |  FROM r WHERE rn = 1
         |  UNION ALL
         |  SELECT h.user_id, r.rn,
         |    $lNew AS l,
         |    $b * ($lNew - h.l) + $b1 * h.b AS b,
         |    h.n
         |  FROM hw h JOIN r ON r.user_id = h.user_id AND r.rn = h.rn + 1)
         |SELECT user_id, CAST(n AS BIGINT) AS n_obs,
         |  round(l, 6) AS level, round(b, 6) AS trend,
         |  round(l + b, 6) AS forecast_1
         |FROM hw WHERE rn = n ORDER BY user_id""".stripMargin
    },

    "q138_moments" ->
      s"""WITH s AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS x,
        |    CAST(n_chars AS HUGEINT) AS xl,
        |    CAST(len(${toksSql("text")}) AS HUGEINT) AS yl
        |  FROM documents),
        |m AS (SELECT lang, avg(x) AS mx,
        |             CAST(count(*) AS BIGINT) AS n,
        |             CAST(count(*) AS HUGEINT) AS nh,
        |             sum(xl) AS sx, sum(yl) AS sy, sum(xl * yl) AS sxy
        |      FROM s GROUP BY lang),
        |cent AS (
        |  SELECT s.lang, n,
        |    sum((x - mx) * (x - mx)) AS m2,
        |    sum((x - mx) * (x - mx) * (x - mx)) AS m3,
        |    sum((x - mx) * (x - mx) * (x - mx) * (x - mx)) AS m4,
        |    -- covariance numerator in EXACT integer arithmetic, scaled
        |    -- to the 4-dp rounding grid (mirrors the Spark side: the
        |    -- fixture's es group sits exactly on a half-way boundary,
        |    -- so double summation order must not decide the rounding)
        |    (max(sxy) * max(nh) - max(sx) * max(sy))
        |      * CAST(10000 AS HUGEINT) AS num,
        |    max(nh) AS nhh
        |  FROM s JOIN m USING (lang) GROUP BY s.lang, n)
        |SELECT lang, n,
        |  round(sqrt(CAST(n AS DOUBLE)) * m3 / power(m2, 1.5), 6) AS skew,
        |  round(CAST(n AS DOUBLE) * m4 / (m2 * m2) - 3.0, 6) AS kurt,
        |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |    ((2 * abs(num) + nhh * nhh) // (2 * nhh * nhh))
        |    AS DOUBLE) / 10000.0 AS cov_pop,
        |  CASE WHEN n > 1 THEN
        |    CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |      ((2 * abs(num) + nhh * (nhh - 1)) // (2 * nhh * (nhh - 1)))
        |      AS DOUBLE) / 10000.0 END AS cov_samp
        |FROM cent ORDER BY lang""".stripMargin,

    "q139_temperature_mix" ->
      """WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS n_total FROM n),
        |p AS (SELECT source, n_docs,
        |    CAST(n_docs AS DOUBLE) / n_total AS p_raw,
        |    power(CAST(n_docs AS DOUBLE) / n_total, 0.3) AS p_pow
        |  FROM n, tot),
        |z AS (SELECT sum(p_pow) AS z FROM p)
        |SELECT source, n_docs, round(p_raw, 6) AS p_raw,
        |  round(p_pow / z, 6) AS p_temp,
        |  CAST(floor(p_pow / z * 10000.0) AS BIGINT) AS n_target
        |FROM p, z ORDER BY source""".stripMargin,

    // props_schema stays a literal: DuckDB has no schema_of_variant, and
    // the events fixture's props column is uniformly {"k": int} (the
    // rows_match/hash gate would flag a fixture drift through the other
    // columns). n_missing IS derived: count of rows whose '$.missing'
    // path extracts to NULL, the same predicate the Spark side evaluates.
    "q147_variant" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  'OBJECT<k: BIGINT>' AS props_schema,
        |  CAST(sum(CASE WHEN json_extract_string(props, '$.missing')
        |    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q140_listagg" ->
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        |    AS statuses,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q171_cms_top_tokens" ->
      s"""WITH toks AS (
         |  SELECT unnest(${toksSql("text")}) AS tok FROM documents),
         |rr AS (SELECT unnest(generate_series(0, ${CmsD - 1})) AS r),
         |cells AS (
         |  SELECT r, ${bucketSql("r || ':' || tok")} AS b,
         |    count(*) AS cnt
         |  FROM toks CROSS JOIN rr GROUP BY 1, 2),
         |top AS (
         |  SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok
         |  ORDER BY n_exact DESC, tok LIMIT 20),
         |est AS (
         |  SELECT t.tok, min(coalesce(c.cnt, 0)) AS n_cms
         |  FROM top t CROSS JOIN rr
         |  LEFT JOIN cells c
         |    ON c.r = rr.r AND c.b = ${bucketSql("rr.r || ':' || t.tok")}
         |  GROUP BY t.tok)
         |SELECT t.tok, t.n_exact, e.n_cms
         |FROM top t JOIN est e USING (tok)
         |ORDER BY n_exact DESC, tok""".stripMargin,

    "q206_mg_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT unnest(${toksSql("text")}) AS tok FROM documents),
         |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
         |dec AS (
         |  SELECT coalesce(max(cnt), 0) AS d FROM (
         |    SELECT cnt FROM counts
         |    ORDER BY cnt DESC, tok LIMIT 1 OFFSET 30))
         |SELECT tok, CAST(cnt - d AS BIGINT) AS cnt
         |FROM counts, dec WHERE cnt > d
         |ORDER BY cnt DESC, tok""".stripMargin)
}
