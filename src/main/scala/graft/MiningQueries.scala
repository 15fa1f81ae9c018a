package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Clustering, Dedup, Quantize, Scale, Similarity}

/** Embedding-mining and rolling-feature queries (q109+): spherical
  * k-means, SemDeDup, sub-document chunk dedup, trailing time-range
  * windows, value histograms. Registered through SparkEntry alongside
  * the other query families; every entry has a DuckDB oracle.
  */
object MiningQueries {

  private def rd(s: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.t(s, dir, name)

  private val Dim = 64
  private val K = 8
  private val Iters = 2
  private val Tau = 0.3
  private val PqM = 4     // PQ subspaces (Dim/PqM = 16 dims each)
  private val PqK = 8     // codes per subspace
  private val AdcK = 5    // ADC neighbours returned per query
  private val MarginK = 4 // k-NN depth for margin-based pair mining
  private val SevenDaysUs = 7L * 24 * 3600 * 1000000
  private val DayUs = 24L * 3600 * 1000000

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Deterministic spherical k-means over the embedding corpus — the
    // clustering pass SemDeDup/semantic-mixing pipelines run first.
    // Seeds = 8 lowest vec_ids, 2 assignment passes.
    "q109_kmeans" -> ((s, dir) => {
      Clustering.kmeansAssign(rd(s, dir, "embeddings"),
          "embedding", "vec_id", k = K, iters = Iters)
        .select(col("vec_id"), col("cluster_id"),
          round(col("cosine_sim"), 6).as("cosine_sim"))
        .orderBy("vec_id")
    }),

    // SemDeDup: cluster (as q109), then inside each cluster mark every
    // vector with a lower-id cluster-mate above cosine tau as a
    // near-duplicate. kept=false rows are what a curation run drops.
    "q110_semdedup" -> ((s, dir) => {
      Clustering.semDedup(rd(s, dir, "embeddings"),
          "embedding", "vec_id", k = K, iters = Iters, tau = Tau)
        .orderBy("vec_id")
    }),

    // Sub-document exact dedup over non-overlapping 16-token chunks:
    // corpus-wide first occurrence wins, documents rebuilt from their
    // surviving chunks (CCNet-style paragraph dedup).
    "q111_chunk_dedup" -> ((s, dir) => {
      Dedup.chunkDedup(rd(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 16)
        .orderBy("doc_id")
    }),

    // Trailing 7-day per-user activity features at every event — the
    // point-in-time rolling aggregate a feature-store backfill computes.
    // RANGE frame over epoch-micros so ties (equal timestamps) are peers
    // in both engines.
    "q112_trailing_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("__t"))
        .rangeBetween(-SevenDaysUs, 0)
      rd(s, dir, "events")
        .withColumn("__t", unix_micros(col("ts")))
        .withColumn("n_7d", count(lit(1)).over(w))
        .withColumn("sum_7d", round(sum(col("value")).over(w), 4))
        .select(col("event_id"), col("n_7d"), col("sum_7d"))
        .orderBy("event_id")
    }),

    // Fixed-width value histogram per event type (floor bucketing) —
    // the profiling pass run before choosing quality-filter thresholds.
    "q113_histogram" -> ((s, dir) => {
      rd(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") / 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("lo"),
          round(max(col("value")), 4).as("hi"))
        .orderBy("event_type", "bucket")
    }),

    // Bloom-prefiltered join: lineitem rows are probed against a sketch
    // of the selected orders' keys inside the scan stage, so the shuffle
    // only carries (probable) matches; the exact join then removes false
    // positives — result provably equals the plain join the oracle runs.
    "q114_bloom_join" -> ((s, dir) => {
      val sel = rd(s, dir, "orders").where(col("o_totalprice") > 200000)
      Scale.bloomPrefilteredJoin(rd(s, dir, "lineitem"), sel,
          "l_orderkey", "o_orderkey", expectedItems = 50000)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // Ordered conversion funnel view -> click -> purchase: each stage's
    // entry time is the first qualifying event strictly AFTER the
    // previous stage was reached; stage = deepest stage reached.
    "q115_funnel" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val s1 = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = ev.where(col("event_type") === "click").join(s1, "user_id")
        .where(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = ev.where(col("event_type") === "purchase").join(s2, "user_id")
        .where(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      ev.select("user_id").distinct()
        .join(s1, Seq("user_id"), "left")
        .join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
            .when(col("t1").isNotNull, 1L).otherwise(0L).as("stage"))
        .orderBy("user_id")
    }),

    // Retention cohorts: cohort = calendar day of the user's first
    // event; one row per (cohort day, day offset) with the count of
    // users active on that offset day (daily granularity — the fixture
    // spans 30 days, so weekly cohorts would collapse to one row).
    "q116_retention" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("aw"))
        .distinct()
      val first = ev.groupBy("user_id").agg(min("aw").as("cw"))
      ev.join(first, "user_id")
        .groupBy(col("cw").cast("date").as("cohort_day"),
          ((unix_micros(col("aw")) - unix_micros(col("cw"))) /
            DayUs).cast("long").as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Product-quantization codebook: per-subspace deterministic L2
    // k-means (4 subspaces x 16 dims, 8 codes, 2 assignment passes) —
    // the training half of the IVF-PQ layout a billion-vector ANN
    // deployment runs. One row per centroid component.
    "q168_pq_codebook" -> ((s, dir) => {
      Quantize.pqCodebook(rd(s, dir, "embeddings"), "embedding",
          "vec_id", m = PqM, k = PqK, iters = Iters, dim = Dim)
        .select(col("subspace").cast("long").as("subspace"),
          col("code").cast("long").as("code"),
          posexplode(col("cvec")).as(Seq("component", "value")))
        .select(col("subspace"), col("code"),
          col("component").cast("long").as("component"), col("value"))
        .orderBy("subspace", "code", "component")
    }),

    // PQ encoding: each vector compressed to its 4 per-subspace codes
    // plus total squared reconstruction error — 256 raw float bytes
    // become 4 small ints, the compressed index PQ persists at scale.
    "q169_pq_encode" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val cb = Quantize.pqCodebook(emb, "embedding", "vec_id",
        m = PqM, k = PqK, iters = Iters, dim = Dim)
      Quantize.pqEncode(emb, cb, "embedding", "vec_id", PqM, Dim)
        .select(col("vec_id"),
          element_at(col("codes"), 1).cast("long").as("code_0"),
          element_at(col("codes"), 2).cast("long").as("code_1"),
          element_at(col("codes"), 3).cast("long").as("code_2"),
          element_at(col("codes"), 4).cast("long").as("code_3"),
          col("recon_err"))
        .orderBy("vec_id")
    }),

    // PQ asymmetric-distance top-k: 3 query vectors score the encoded
    // corpus through a broadcast m x k distance table — corpus vectors
    // are never decompressed, no corpus-side shuffle before the
    // (query, id) partial sum.
    "q170_pq_adc" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      // the codebook feeds BOTH the corpus encode and the query
      // distance table — pin the m×k-row frame so the k-means training
      // chain runs once, not once per consumer (the two broadcasts
      // project it differently, so exchange reuse never fires)
      val cb = Quantize.pqCodebook(emb, "embedding", "vec_id",
        m = PqM, k = PqK, iters = Iters, dim = Dim).cache()
      val qs = emb.orderBy("vec_id").limit(3)
      Quantize.pqAdcTopK(emb, qs, cb, "embedding", "vec_id", "vec_id",
          m = PqM, dim = Dim, k = AdcK)
        .orderBy("qid", "adc_dist", "vec_id")
    }),

    // Cluster-capped sampling: semantic rebalance keeping at most 30
    // most-representative vectors per k-means cluster (highest cosine
    // to centroid, id tie-break) — q84's domain cap applied in
    // embedding space, the anti-boilerplate mixing step SemDeDup-style
    // curation runs after clustering. The rank limit is a
    // WindowGroupLimit: partial top-30 per cluster before the shuffle.
    "q173_cluster_cap" -> ((s, dir) => {
      val asg = Clustering.kmeansAssign(rd(s, dir, "embeddings"),
        "embedding", "vec_id", k = K, iters = Iters)
      val w = Window.partitionBy("cluster_id")
        .orderBy(round(col("cosine_sim"), 6).desc, col("vec_id").asc)
      asg.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 30)
        .select(col("vec_id"), col("cluster_id"),
          col("rk").cast("long").as("rk"))
        .orderBy("cluster_id", "rk")
    }),

    // Matryoshka truncation QA: how much retrieval quality survives
    // cutting the embedding to its first 16 of 64 dims (the MRL
    // serving trade — truncated vectors are 4x cheaper to store and
    // scan)? Per query: top-10 overlap between full-dim and truncated
    // cosine rankings + mean cosine gap over the true top-10. Run it
    // before committing an index to a truncated width.
    "q196_matryoshka_qa" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val joined = emb.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("qid"))
        .withColumn("cf",
          round(Similarity.cosine(col("embedding"), col("qv")), 6))
        .withColumn("ct", round(Similarity.cosine(
          slice(col("embedding"), 1, 16), slice(col("qv"), 1, 16)), 6))
      val wF = Window.partitionBy("qid")
        .orderBy(col("cf").desc, col("vec_id"))
      val wT = Window.partitionBy("qid")
        .orderBy(col("ct").desc, col("vec_id"))
      joined
        .withColumn("rf", row_number().over(wF))
        .withColumn("rt", row_number().over(wT))
        .groupBy("qid")
        .agg(
          sum(when(col("rf") <= 10 && col("rt") <= 10, 1L).otherwise(0L))
            .as("overlap_at_10"),
          round(avg(when(col("rf") <= 10, abs(col("cf") - col("ct")))), 6)
            .as("mean_cos_gap"))
        .orderBy("qid")
    }),

    // Hard-negative mining for retriever training: per query vector,
    // the top-3 most-similar corpus vectors with a DIFFERENT label —
    // the contrastive "looks relevant, isn't" set; the per-query rank
    // compiles to WindowGroupLimit so the corpus never shuffles its
    // cross product.
    "q190_hard_negatives" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", "label", k = 3)
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ end to end: coarse inverted-file probe (q50's first-16
    // centroids, nprobe=2) prunes the corpus, then PQ asymmetric
    // distances (q168's codebook) rank ONLY the probed candidates —
    // the production billion-vector layout: corpus scan factor
    // ~nprobe/nlist, candidate scoring via m table lookups instead of
    // a 64-dim dot product, raw vectors never touched at query time.
    "q174_ivf_pq" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val assigned = Similarity.assignToCentroids(emb, "embedding",
        "vec_id", cents)
      // collected probe ids (≤ nlist rows) as a literal filter — the
      // same self-join-hazard avoidance as Similarity.ivfTopK
      val probed = Similarity.probedCentroids(cents,
        NorthStar.queryVecCol, nprobe = 2).collect().map(_.get(0))
      // cand feeds the ADC scoring AND the final cluster re-attach;
      // cb feeds the encode and the distance table — pin both so the
      // assignment and training chains run once (q170 note)
      val cand = emb.join(
        assigned.where(col("cluster").isin(probed.toSeq: _*))
          .select(col("vec_id"), col("cluster")), "vec_id").cache()
      val cb = Quantize.pqCodebook(emb, "embedding", "vec_id",
        m = PqM, k = PqK, iters = Iters, dim = Dim).cache()
      val qdf = s.range(1).select(lit(-1L).as("qid"),
        NorthStar.queryVecCol.as("embedding"))
      Quantize.pqAdcTopK(cand, qdf, cb, "embedding", "vec_id", "qid",
          m = PqM, dim = Dim, k = 10)
        .join(cand.select(col("vec_id"), col("cluster")), "vec_id")
        .select(col("vec_id"), col("cluster"), col("adc_dist"))
        .orderBy("adc_dist", "vec_id")
    }),

    // Residual IVF-PQ — the production billion-vector form: vectors
    // PQ-encoded as (x - coarse centroid) so one codebook covers only
    // the residual distribution; the query's ADC table is built per
    // probed cluster from that cluster's query residual. Candidates
    // never decompress; the corpus scan factor is still nprobe/nlist.
    // (The lazy plan recomputes the residual frame once per consumer —
    // codebook, codes, cluster attach; a production offline build
    // persists `res` once.)
    "q180_ivfpq_residual" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val assigned = Similarity.assignToCentroids(emb, "embedding",
        "vec_id", cents)
      def toD(c: org.apache.spark.sql.Column) =
        transform(c, x => x.cast("double"))
      // the residual frame feeds the codebook training, the encode and
      // the cluster re-attach — pin it (the scaladoc's "persist res
      // once" materialized form), and pin the codebook for its two
      // consumers (q170 note)
      val res = assigned
        .join(broadcast(cents), col("cluster") === col("cid"))
        .select(col("vec_id"), col("cluster"),
          zip_with(toD(col("embedding")), toD(col("cvec")),
            (x, c) => x - c).as("res"))
        .cache()
      val cb = Quantize.pqCodebook(res, "res", "vec_id",
        m = PqM, k = PqK, iters = Iters, dim = Dim).cache()
      val codes = Quantize.pqEncode(res, cb, "res", "vec_id", PqM, Dim)
        .join(res.select(col("vec_id"), col("cluster")), "vec_id")
        .select(col("vec_id"), col("cluster"), col("codes"))
      val probed = Similarity.probedCentroids(cents,
        NorthStar.queryVecCol, nprobe = 2).collect().map(_.get(0))
      val qres = cents.where(col("cid").isin(probed.toSeq: _*))
        .select(col("cid").cast("long").as("cluster"),
          zip_with(NorthStar.queryVecCol, toD(col("cvec")),
            (x, c) => x - c).as("qres"))
      Quantize.residualAdcTopK(
          codes.where(col("cluster").isin(probed.toSeq: _*)),
          qres, cb, "qres", "vec_id", m = PqM, dim = Dim, k = 10)
        .orderBy("adc_dist", "vec_id")
    }),

    // Batched IVF-PQ serving: 3 query vectors share ONE pass over the
    // encoded corpus — per-query coarse probes (nprobe=2) via the
    // distributed probe-pair rank, candidates scored only through
    // their probing query's pairs (the join key includes cluster),
    // per-query ADC top-5 as a qid-partitioned WindowGroupLimit. The
    // multi-query form of q174: the retrieval-layer serving shape,
    // where a driver-side per-query loop would pay one probe-collect +
    // index read per query.
    "q185_ivfpq_batch" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val assigned = Similarity.assignToCentroids(emb, "embedding",
        "vec_id", cents)
      val cb = Quantize.pqCodebook(emb, "embedding", "vec_id",
        m = PqM, k = PqK, iters = Iters, dim = Dim).cache() // q170 note
      val codes = Quantize.pqEncode(emb, cb, "embedding", "vec_id",
          PqM, Dim)
        .join(assigned.select("vec_id", "cluster"), "vec_id")
        .select(col("vec_id"), col("cluster"), col("codes"))
      val queries = emb.orderBy("vec_id").limit(3)
        .select(col("vec_id").as("qid"), col("embedding"))
      val pairs = Similarity.probedCentroidsBatch(cents, queries,
        "qid", "embedding", nprobe = 2, widenMargin = -1.0)
      Quantize.adcTopKPerProbe(codes,
          pairs.select(col("qid"), col("cluster"), col("qvec")),
          cb, "qvec", "vec_id", "qid",
          m = PqM, dim = Dim, k = AdcK, excludeSelf = true)
        .orderBy("qid", "adc_dist", "vec_id")
    }),

    // Margin-based pair mining between two label slices (bitext-mining
    // scoring): cosine relative to both sides' k-NN neighborhoods, so
    // hub vectors don't flood the ranking. Exact cross over the
    // broadcast-sized slices; at corpus scale the same formula feeds
    // from ANN candidates.
    "q178_margin_pairs" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      Similarity.marginMining(
          emb.where(col("label") === 0), emb.where(col("label") === 1),
          "embedding", "vec_id", k = MarginK, topPairs = 10)
        .orderBy(col("margin").desc, col("id_a"), col("id_b"))
    })
  )

  // ----------------------------------------------------------- oracle SQL

  /** Two assignment passes of Clustering.kmeansAssign unrolled as CTEs:
    * produces a2(id, cid, cos) plus base(id, v). Shared by q109/q110. */
  private def kmeansSql: String = {
    def cos(a: String, b: String) = NorthStar.cosineSql(a, b, Dim)
    s"""base AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |c0 AS (SELECT id AS cid, v AS cvec FROM base ORDER BY id LIMIT $K),
       |a1p AS (SELECT b.id, c.cid, ${cos("b.v", "c.cvec")} AS cos
       |        FROM base b CROSS JOIN c0 c),
       |a1 AS (SELECT id, cid, cos FROM (
       |         SELECT *, row_number() OVER
       |           (PARTITION BY id ORDER BY cos DESC, cid) AS rk FROM a1p)
       |       WHERE rk = 1),
       |m1 AS (SELECT a.cid, g.i, avg(CAST(b.v[g.i] AS DOUBLE)) AS m
       |       FROM a1 a JOIN base b USING (id),
       |            unnest(generate_series(1, $Dim)) AS g(i)
       |       GROUP BY a.cid, g.i),
       |c1 AS (SELECT cid, list(m ORDER BY i) AS cvec FROM m1 GROUP BY cid),
       |a2p AS (SELECT b.id, c.cid, ${cos("b.v", "c.cvec")} AS cos
       |        FROM base b CROSS JOIN c1 c),
       |a2 AS (SELECT id, cid, cos FROM (
       |         SELECT *, row_number() OVER
       |           (PARTITION BY id ORDER BY cos DESC, cid) AS rk FROM a2p)
       |       WHERE rk = 1)""".stripMargin
  }

  /** Squared L2 over 1-based list slices — the PQ distance. Element
    * order is the same left fold Spark's `aggregate` runs. */
  private def l2Sql(a: String, b: String, dim: Int): String =
    s"""list_sum(list_transform(generate_series(1, $dim),
       |  i -> (($a)[i] - ($b)[i]) * (($a)[i] - ($b)[i])))""".stripMargin

  /** The raw-embedding `base(id, v)` CTE [[pqSteps]] trains over in
    * q168-q170/q174 (q180 substitutes coarse residuals). */
  private def pqRawBase: String =
    """base AS (SELECT vec_id AS id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)""".stripMargin

  /** Quantize.pqCodebook/pqEncode unrolled as CTEs over a `base(id, v)`
    * CTE the caller must have defined (raw doubles): subvectors `sub`,
    * seed codebook c0, pass-1 assignment a1, refreshed codebook c1
    * (components rounded to 6 dp, exactly as the Spark side does),
    * final assignment a2(id, m, code, d). Shared by q168-q170 (base =
    * raw embeddings), q174, and q180 (base = coarse residuals). */
  private def pqSteps: String = {
    val sub = Dim / PqM
    def l2(a: String, b: String) = l2Sql(a, b, sub)
    s"""sub AS (SELECT id, m, v[m*$sub+1 : m*$sub+$sub] AS sv
       |        FROM base CROSS JOIN
       |          (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) ms),
       |sd AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS code
       |       FROM (SELECT id FROM base ORDER BY id LIMIT $PqK)),
       |c0 AS (SELECT s.m, sd.code, s.sv AS cvec
       |       FROM sub s JOIN sd ON s.id = sd.id),
       |a1 AS (SELECT id, m, sv, code, d FROM (
       |         SELECT s.id, s.m, s.sv, c.code,
       |           ${l2("s.sv", "c.cvec")} AS d,
       |           row_number() OVER (PARTITION BY s.id, s.m
       |             ORDER BY ${l2("s.sv", "c.cvec")}, c.code) AS rk
       |         FROM sub s JOIN c0 c ON s.m = c.m) WHERE rk = 1),
       |m1 AS (SELECT a.m, a.code, g.i, round(avg(a.sv[g.i]), 6) AS mu
       |       FROM a1 a, unnest(generate_series(1, $sub)) AS g(i)
       |       GROUP BY a.m, a.code, g.i),
       |c1 AS (SELECT m, code, list(mu ORDER BY i) AS cvec
       |       FROM m1 GROUP BY m, code),
       |a2 AS (SELECT id, m, sv, code, d FROM (
       |         SELECT s.id, s.m, s.sv, c.code,
       |           ${l2("s.sv", "c.cvec")} AS d,
       |           row_number() OVER (PARTITION BY s.id, s.m
       |             ORDER BY ${l2("s.sv", "c.cvec")}, c.code) AS rk
       |         FROM sub s JOIN c1 c ON s.m = c.m) WHERE rk = 1)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "q109_kmeans" ->
      s"""WITH $kmeansSql
         |SELECT id AS vec_id, cid AS cluster_id,
         |  round(cos, 6) AS cosine_sim
         |FROM a2 ORDER BY vec_id""".stripMargin,

    "q110_semdedup" -> {
      val cosAb = NorthStar.cosineSql("ba.v", "bb.v", Dim)
      s"""WITH $kmeansSql,
         |dr AS (SELECT DISTINCT a.id FROM a2 a
         |       JOIN a2 b ON a.cid = b.cid AND b.id < a.id
         |       JOIN base ba ON ba.id = a.id
         |       JOIN base bb ON bb.id = b.id
         |       WHERE $cosAb > $Tau)
         |SELECT a.id AS vec_id, a.cid AS cluster_id,
         |  (dr.id IS NULL) AS kept
         |FROM a2 a LEFT JOIN dr ON dr.id = a.id
         |ORDER BY vec_id""".stripMargin
    },

    "q111_chunk_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${NorthStar.toksSql("text")} AS t FROM documents),
         |nz AS (SELECT * FROM toks WHERE len(t) > 0),
         |st AS (SELECT doc_id, t,
         |         unnest(generate_series(0, len(t) - 1, 16)) AS s
         |       FROM nz),
         |ch AS (SELECT doc_id, CAST(s // 16 AS BIGINT) AS ci,
         |         array_to_string(t[s + 1 : s + 16], ' ') AS txt
         |       FROM st),
         |rk AS (SELECT *, row_number() OVER
         |         (PARTITION BY md5(txt) ORDER BY doc_id, ci) AS rn
         |       FROM ch)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(length(coalesce(
         |    string_agg(CASE WHEN rn = 1 THEN txt END, ' ' ORDER BY ci),
         |    '')) AS BIGINT) AS rebuilt_len,
         |  md5(coalesce(
         |    string_agg(CASE WHEN rn = 1 THEN txt END, ' ' ORDER BY ci),
         |    '')) AS rebuilt_md5
         |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q112_trailing_window" ->
      s"""SELECT event_id, count(*) OVER w AS n_7d,
         |  round(sum(value) OVER w, 4) AS sum_7d
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN $SevenDaysUs PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,

    "q113_histogram" ->
      """SELECT event_type,
        |  CAST(floor(value / 10) AS BIGINT) AS bucket, count(*) AS n,
        |  round(min(value), 4) AS lo, round(max(value), 4) AS hi
        |FROM events GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    // the bloom prefilter is exact-join-equivalent by construction, so
    // the oracle is simply the plain join
    "q114_bloom_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 200000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q115_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |       GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |            WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY u.user_id""".stripMargin,

    "q116_retention" ->
      s"""WITH act AS (
         |  SELECT DISTINCT user_id, date_trunc('day', ts) AS aw FROM events),
         |first AS (SELECT user_id, min(aw) AS cw FROM act GROUP BY user_id)
         |SELECT CAST(cw AS DATE) AS cohort_day,
         |  (epoch_us(aw) - epoch_us(cw)) // $DayUs AS day_offset,
         |  count(*) AS n_active
         |FROM act JOIN first USING (user_id)
         |GROUP BY cohort_day, day_offset
         |ORDER BY cohort_day, day_offset""".stripMargin,

    "q168_pq_codebook" ->
      s"""WITH $pqRawBase,
         |$pqSteps
         |SELECT m AS subspace, code, i - 1 AS component, mu AS value
         |FROM m1 ORDER BY subspace, code, component""".stripMargin,

    "q169_pq_encode" ->
      s"""WITH $pqRawBase,
         |$pqSteps
         |SELECT id AS vec_id,
         |  max(CASE WHEN m = 0 THEN code END) AS code_0,
         |  max(CASE WHEN m = 1 THEN code END) AS code_1,
         |  max(CASE WHEN m = 2 THEN code END) AS code_2,
         |  max(CASE WHEN m = 3 THEN code END) AS code_3,
         |  round(sum(d), 6) AS recon_err
         |FROM a2 GROUP BY id ORDER BY vec_id""".stripMargin,

    "q170_pq_adc" ->
      s"""WITH $pqRawBase,
         |$pqSteps,
         |qs AS (SELECT id FROM base ORDER BY id LIMIT 3),
         |dt AS (SELECT s.id AS qid, s.m, c.code,
         |         ${l2Sql("s.sv", "c.cvec", Dim / PqM)} AS dq
         |       FROM sub s JOIN qs ON s.id = qs.id
         |       JOIN c1 c ON s.m = c.m),
         |sc AS (SELECT dt.qid, a.id, round(sum(dt.dq), 6) AS adc_dist
         |       FROM a2 a JOIN dt ON a.m = dt.m AND a.code = dt.code
         |       WHERE a.id <> dt.qid GROUP BY dt.qid, a.id)
         |SELECT qid, id AS vec_id, adc_dist FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY qid ORDER BY adc_dist, id) AS rk FROM sc) z
         |WHERE rk <= $AdcK ORDER BY qid, adc_dist, vec_id""".stripMargin,

    "q173_cluster_cap" ->
      s"""WITH $kmeansSql
         |SELECT vec_id, cluster_id, rk FROM (
         |  SELECT id AS vec_id, cid AS cluster_id,
         |    row_number() OVER (PARTITION BY cid
         |      ORDER BY round(cos, 6) DESC, id) AS rk
         |  FROM a2) z
         |WHERE rk <= 30 ORDER BY cluster_id, rk""".stripMargin,

    "q196_matryoshka_qa" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |           FROM embeddings WHERE vec_id < 10),
         |j AS (
         |  SELECT e.vec_id, q.qid,
         |    round(${NorthStar.cosineSql("e.embedding", "q.qv", Dim)}, 6)
         |      AS cf,
         |    round(${NorthStar.cosineSql("e.embedding", "q.qv", 16)}, 6)
         |      AS ct
         |  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
         |r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY qid ORDER BY cf DESC, vec_id)
         |      AS rf,
         |    row_number() OVER (PARTITION BY qid ORDER BY ct DESC, vec_id)
         |      AS rt
         |  FROM j)
         |SELECT qid,
         |  CAST(sum(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS overlap_at_10,
         |  round(avg(CASE WHEN rf <= 10 THEN abs(cf - ct) END), 6)
         |    AS mean_cos_gap
         |FROM r GROUP BY qid ORDER BY qid""".stripMargin,

    "q190_hard_negatives" ->
      s"""SELECT query_id, neg_id, neg_label, cosine_sim, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
         |    c.label AS neg_label,
         |    round(${NorthStar.cosineSql("c.embedding", "q.embedding", Dim)},
         |      6) AS cosine_sim,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      round(${NorthStar.cosineSql("c.embedding", "q.embedding", Dim)},
         |        6) DESC, c.vec_id) AS BIGINT) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.label <> q.label
         |  WHERE q.vec_id < 20) z
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q174_ivf_pq" -> {
      val sub = Dim / PqM
      s"""WITH $pqRawBase,
         |$pqSteps,
         |cent AS (SELECT vec_id AS cid, embedding AS cvec
         |         FROM embeddings WHERE vec_id < 16),
         |asgn AS (SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${NorthStar.cosineSql("e.embedding", "c.cvec", Dim)} DESC,
         |      c.cid) AS rk
         |  FROM embeddings e CROSS JOIN cent c),
         |clustered AS (SELECT vec_id, cid AS cluster FROM asgn
         |              WHERE rk = 1),
         |probed AS (SELECT cid AS cluster FROM (
         |    SELECT cid, row_number() OVER (ORDER BY
         |      ${NorthStar.cosineSql("cvec", NorthStar.queryVecSql, Dim)}
         |        DESC, cid) AS rk
         |    FROM cent) zz WHERE rk <= 2),
         |qv AS (SELECT CAST(${NorthStar.queryVecSql} AS DOUBLE[]) AS v),
         |qsub AS (SELECT m, v[m*$sub+1 : m*$sub+$sub] AS sv
         |         FROM qv CROSS JOIN
         |           (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) ms),
         |dt AS (SELECT q.m, c.code, ${l2Sql("q.sv", "c.cvec", sub)} AS dq
         |       FROM qsub q JOIN c1 c ON q.m = c.m),
         |sc AS (SELECT a.id, round(sum(dt.dq), 6) AS adc_dist
         |       FROM a2 a
         |       JOIN clustered cl ON cl.vec_id = a.id
         |       JOIN probed p ON cl.cluster = p.cluster
         |       JOIN dt ON a.m = dt.m AND a.code = dt.code
         |       GROUP BY a.id)
         |SELECT sc.id AS vec_id, cl.cluster, sc.adc_dist
         |FROM sc JOIN clustered cl ON cl.vec_id = sc.id
         |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin
    },

    "q180_ivfpq_residual" -> {
      val sub = Dim / PqM
      val qv = s"CAST((${NorthStar.queryVecSql})[i] AS DOUBLE)"
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
         |              FROM embeddings WHERE vec_id < 16),
         |asgn AS (SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${NorthStar.cosineSql("e.embedding", "c.cvec", Dim)} DESC,
         |      c.cid) AS rk
         |  FROM embeddings e CROSS JOIN cent c),
         |clustered AS (SELECT vec_id, cid AS cluster FROM asgn
         |              WHERE rk = 1),
         |base AS (
         |  SELECT e.vec_id AS id,
         |    list_transform(generate_series(1, $Dim),
         |      i -> CAST(e.embedding[i] AS DOUBLE)
         |           - CAST(c.cvec[i] AS DOUBLE)) AS v
         |  FROM embeddings e
         |  JOIN clustered cl ON cl.vec_id = e.vec_id
         |  JOIN cent c ON c.cid = cl.cluster),
         |$pqSteps,
         |probed AS (SELECT cid AS cluster FROM (
         |    SELECT cid, row_number() OVER (ORDER BY
         |      ${NorthStar.cosineSql("cvec", NorthStar.queryVecSql, Dim)}
         |        DESC, cid) AS rk
         |    FROM cent) zz WHERE rk <= 2),
         |qres AS (
         |  SELECT c.cid AS cluster,
         |    list_transform(generate_series(1, $Dim),
         |      i -> $qv - CAST(c.cvec[i] AS DOUBLE)) AS v
         |  FROM cent c JOIN probed p ON c.cid = p.cluster),
         |qsub AS (SELECT cluster, m, v[m*$sub+1 : m*$sub+$sub] AS sv
         |         FROM qres CROSS JOIN
         |           (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) ms2),
         |dt AS (SELECT q.cluster, q.m, c.code,
         |         ${l2Sql("q.sv", "c.cvec", sub)} AS dq
         |       FROM qsub q JOIN c1 c ON q.m = c.m),
         |sc AS (SELECT a.id, cl.cluster, round(sum(dt.dq), 6) AS adc_dist
         |       FROM a2 a
         |       JOIN clustered cl ON cl.vec_id = a.id
         |       JOIN dt ON dt.cluster = cl.cluster
         |         AND a.m = dt.m AND a.code = dt.code
         |       GROUP BY a.id, cl.cluster)
         |SELECT id AS vec_id, cluster, adc_dist FROM (
         |  SELECT *, row_number() OVER
         |    (ORDER BY adc_dist, id) AS rk FROM sc) z
         |WHERE rk <= 10 ORDER BY adc_dist, vec_id""".stripMargin
    },

    "q185_ivfpq_batch" -> {
      val sub = Dim / PqM
      s"""WITH $pqRawBase,
         |$pqSteps,
         |cent AS (SELECT vec_id AS cid, embedding AS cvec
         |         FROM embeddings WHERE vec_id < 16),
         |asgn AS (SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${NorthStar.cosineSql("e.embedding", "c.cvec", Dim)} DESC,
         |      c.cid) AS rk
         |  FROM embeddings e CROSS JOIN cent c),
         |clustered AS (SELECT vec_id, cid AS cluster FROM asgn
         |              WHERE rk = 1),
         |qs AS (SELECT vec_id AS qid, embedding AS qemb
         |       FROM embeddings ORDER BY vec_id LIMIT 3),
         |probes AS (SELECT qid, cluster FROM (
         |    SELECT q.qid, c.cid AS cluster, row_number() OVER
         |      (PARTITION BY q.qid ORDER BY
         |        ${NorthStar.cosineSql("c.cvec", "q.qemb", Dim)} DESC,
         |        c.cid) AS rk
         |    FROM qs q CROSS JOIN cent c) zz WHERE rk <= 2),
         |qv AS (SELECT qid,
         |         list_transform(qemb, x -> CAST(x AS DOUBLE)) AS v
         |       FROM qs),
         |qsub AS (SELECT qid, m, v[m*$sub+1 : m*$sub+$sub] AS sv
         |         FROM qv CROSS JOIN
         |           (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) ms),
         |dt AS (SELECT q.qid, q.m, c.code,
         |         ${l2Sql("q.sv", "c.cvec", sub)} AS dq
         |       FROM qsub q JOIN c1 c ON q.m = c.m),
         |sc AS (SELECT p.qid, a.id, cl.cluster,
         |         round(sum(dt.dq), 6) AS adc_dist
         |       FROM a2 a
         |       JOIN clustered cl ON cl.vec_id = a.id
         |       JOIN probes p ON p.cluster = cl.cluster
         |       JOIN dt ON dt.qid = p.qid
         |         AND a.m = dt.m AND a.code = dt.code
         |       WHERE a.id <> p.qid
         |       GROUP BY p.qid, a.id, cl.cluster)
         |SELECT qid, id AS vec_id, cluster, adc_dist FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY qid ORDER BY adc_dist, id) AS rk FROM sc) z
         |WHERE rk <= $AdcK ORDER BY qid, adc_dist, vec_id""".stripMargin
    },

    "q178_margin_pairs" -> {
      val cosXY = NorthStar.cosineSql("x.xv", "y.yv", Dim)
      s"""WITH x AS (SELECT vec_id AS id_a, embedding AS xv
         |           FROM embeddings WHERE label = 0),
         |y AS (SELECT vec_id AS id_b, embedding AS yv
         |      FROM embeddings WHERE label = 1),
         |cr AS (SELECT id_a, id_b, $cosXY AS c
         |       FROM x CROSS JOIN y),
         |ka AS (SELECT id_a, sum(c) AS sa FROM (
         |    SELECT id_a, c, row_number() OVER (PARTITION BY id_a
         |      ORDER BY c DESC, id_b) AS rk FROM cr) z
         |  WHERE rk <= $MarginK GROUP BY id_a),
         |kb AS (SELECT id_b, sum(c) AS sb FROM (
         |    SELECT id_b, c, row_number() OVER (PARTITION BY id_b
         |      ORDER BY c DESC, id_a) AS rk FROM cr) z
         |  WHERE rk <= $MarginK GROUP BY id_b),
         |m AS (SELECT cr.id_a, cr.id_b,
         |    round(cr.c / ((ka.sa + kb.sb) / ${2.0 * MarginK}), 6)
         |      AS margin
         |  FROM cr JOIN ka USING (id_a) JOIN kb USING (id_b))
         |SELECT id_a, id_b, margin FROM (
         |  SELECT *, row_number() OVER
         |    (ORDER BY margin DESC, id_a, id_b) AS rk FROM m) z
         |WHERE rk <= 10 ORDER BY margin DESC, id_a, id_b""".stripMargin
    }
  )
}
