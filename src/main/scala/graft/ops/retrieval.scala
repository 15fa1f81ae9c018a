package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Retrieval / data-selection scoring over a document corpus: BM25 term
  * relevance and DSIR-style importance weights. Both are the standard
  * "which documents matter" primitives of a training-data pipeline —
  * BM25 for retrieval-style relevance and contamination probes, DSIR
  * (Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling") for matching a raw corpus to a target distribution with
  * hashed n-gram features.
  */
object Retrieval {

  /** Okapi BM25 score for every (document, term) pair.
    *
    * Output columns: `doc_id`, `term`, `tf`, `df`, `bm25`.
    *
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)) — the "plus one" variant
    * that never goes negative; score = idf · tf·(k1+1) / (tf + k1·(1 −
    * b + b·dl/avgdl)).
    *
    * Scale: one shuffle keyed by (doc, term) for tf, one keyed by term
    * for df (both map-side combined); N and avgdl are single-row aggs
    * broadcast back; the df table is vocabulary-sized and joins onto
    * the tf table without touching the corpus again. Nothing holds a
    * per-group set and no stage is quadratic.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (terms, globals) = bm25Stats(docs, idCol, textCol)
    bm25Against(docs, idCol, textCol, terms, globals, k1, b)
  }

  /** Corpus-level BM25 statistics, factored out of [[bm25]] so they can
    * be maintained INCREMENTALLY (both measures are additive over
    * disjoint document sets, so [[Warehouse.mergeAggDelta]] folds a new
    * batch in without rescanning the corpus).
    *
    * Returns (terms, globals): `terms` = one row per distinct term with
    * its document frequency `df`; `globals` = one row keyed `k = 1`
    * with `n_docs` and `total_dl` (sum of document token lengths —
    * kept as a LONG sum, not a running average, precisely because sums
    * merge and averages don't; avgdl is derived at scoring time).
    *
    * Scale: one (doc, term)-keyed shuffle then a term-keyed one, both
    * map-side combined; globals is a single-row agg. */
  def bm25Stats(docs: DataFrame, idCol: String,
                textCol: String): (DataFrame, DataFrame) = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val terms = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val globals = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
      .select(lit(1).as("k"), col("n_docs"), col("total_dl"))
    (terms, globals)
  }

  /** Okapi BM25 of `docs` scored against EXTERNAL corpus statistics —
    * the shape of [[bm25Stats]]'s return. The docs being scored need
    * not be the corpus the statistics describe: score a query batch
    * against a standing index, or a full corpus against statistics
    * maintained elsewhere. `bm25(docs) == bm25Against(docs, bm25Stats(docs))`
    * exactly (dl sums are integers, so avgdl = total_dl/n_docs is the
    * same double the one-pass avg produces). Terms of `docs` absent
    * from `terms` are dropped (df unknown — in the self-scoring case
    * the set difference is empty).
    *
    * Scale: tf/dl are per-scored-doc (one keyed shuffle); the terms
    * table joins by term without touching the corpus again; globals is
    * one broadcast row. */
  def bm25Against(docs: DataFrame, idCol: String, textCol: String,
                  terms: DataFrame, globals: DataFrame,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = globals.select(
      col("n_docs").cast("double").as("n_docs"),
      (col("total_dl").cast("double") / col("n_docs").cast("double"))
        .as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    tf.join(dl, "doc_id")
      .join(terms, "term")
      .crossJoin(broadcast(stats))
      .withColumn("bm25", idf *
        ((col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))))
      .select("doc_id", "term", "tf", "df", "bm25")
  }

  /** DSIR importance weight per document: the log-likelihood ratio of
    * the document's hashed token features under the target vs the raw
    * language model.
    *
    * Features are md5-bucketed tokens (`buckets` cells, engine-stable —
    * same construction as [[Sampling.splitBucket]]); both feature LMs
    * are Laplace-smoothed unigram models over bucket counts. weight(d)
    * = Σ_tokens ln p̂_target(bucket) − ln p̂_raw(bucket); resampling
    * keeps the top-weight documents.
    *
    * Output: one row per document — `doc_id`, `n_toks`, `dsir_weight`.
    *
    * Scale: the feature LMs are `buckets` rows (constant) and broadcast
    * onto the token stream, which then aggregates once keyed by doc —
    * one corpus shuffle total; the target/raw counts are map-side
    * combined into constant-size tables.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, buckets: Int = 64): DataFrame = {
    require(buckets >= 2 && buckets <= 65536,
      s"buckets must be in [2, 65536], got $buckets")
    // ONE tokenize+bucket pass serves both the count table and the
    // scoring stream. Pinned: the LM must fully aggregate before the
    // broadcast-join scoring pass can start, so without the cache the
    // second consumer re-runs the tokenizer. Narrow fixed-width rows
    // (id, bool, int).
    val toks = docs.select(col(idCol).as("doc_id"), isTarget.as("is_target"),
        explode(Text.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), col("is_target"),
        pmod(Sampling.splitBucket(col("tok")), lit(buckets)).as("bucket"))
      .cache()
    val counts = toks.groupBy("bucket").agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    scoreBucketedToks(toks.select("doc_id", "bucket"), counts, buckets)
  }

  /** Scoring tail of [[dsirWeights]]: LM from the count table,
    * broadcast onto a pre-bucketed token stream, one doc-keyed
    * aggregate. */
  private def scoreBucketedToks(toks: DataFrame, counts: DataFrame,
                                buckets: Int): DataFrame = {
    // constant-size (exactly `buckets` rows) LM; Laplace +1 smoothing.
    // Densified over the full bucket spine (absent buckets have no
    // tokens to score, so this changes no weight).
    val totals = counts.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    val dense = toks.sparkSession.range(buckets)
      .select(col("id").cast("int").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("ct", "cr"))
    val lm = dense.crossJoin(totals).select(col("bucket"),
      (log((col("ct") + lit(1L)).cast("double") /
          (col("tt") + lit(buckets.toLong)).cast("double")) -
        log((col("cr") + lit(1L)).cast("double") /
          (col("tr") + lit(buckets.toLong)).cast("double"))).as("log_ratio"))
    toks.join(broadcast(lm), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("log_ratio").as("dsir_weight"))
  }

  /** Keyword search over the corpus: per-document BM25 score for a
    * bag-of-terms query (sum of the matched terms' BM25 contributions)
    * plus the matched-term count. Standard retrieval ranking — and the
    * probe a contamination/attribution pipeline runs against a
    * benchmark query set.
    *
    * Scale: [[bm25]]'s keyed aggregations filtered to the query terms
    * BEFORE the doc-grain shuffle, so only matching (doc, term) rows
    * move; the query term set is a literal in the plan.
    */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    bm25(docs, idCol, textCol, k1, b)
      .where(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"), sum("bm25").as("score"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    * retrieval lists — the standard hybrid-search combiner (lexical
    * BM25 ⊕ embedding cosine) that needs no score calibration because
    * it consumes only RANKS: fused(d) = Σ_lists 1/(k0 + rank_list(d)),
    * a document absent from a list contributing 0 from it.
    *
    * Inputs are (id, score) frames; ranks are assigned here by score
    * descending with id ascending as the deterministic tie-break, each
    * list truncated to its top `depth` before fusion (RRF is defined
    * over top-k lists; truncation also bounds the join inputs).
    *
    * Scale: truncation happens FIRST via orderBy+limit — Spark plans
    * that as TakeOrderedAndProject (per-partition top-k heaps, no
    * global sort) — so the single-partition ranking window and the
    * fusion join only ever see ≤ depth rows, however large the scored
    * corpus behind each list. The expensive parts (BM25, ANN) stay in
    * their own operators with their own scale posture. */
  def rrfFuse(listA: DataFrame, listB: DataFrame, idCol: String,
              scoreCol: String, depth: Int, k0: Int = 60): DataFrame = {
    def ranked(df: DataFrame, rankName: String): DataFrame = {
      val top = df.select(col(idCol), col(scoreCol))
        .orderBy(col(scoreCol).desc, col(idCol).asc).limit(depth)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      top.withColumn(rankName, row_number().over(w).cast("long"))
        .drop(scoreCol)
    }
    ranked(listA, "rank_a")
      .join(ranked(listB, "rank_b"), Seq(idCol), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(k0) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("rank_b")), lit(0.0)), 6))
  }

  /** Temperature-scaled source mixing weights (the mC4/T5 α-sampling
    * rule): p_temp(s) ∝ p_raw(s)^α, α in (0, 1] flattens the source
    * distribution so low-resource sources are up-weighted relative to
    * their raw share. Returns one row per source: `n_docs`, `p_raw`,
    * `p_temp`, and `n_target` = floor(p_temp · sampleSize).
    *
    * Scale: one map-side-combined count per source; everything after is
    * arithmetic over a sources-cardinality table.
    */
  def temperatureMix(df: DataFrame, sourceCol: String, alpha: Double,
                     sampleSize: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val n = df.groupBy(sourceCol).agg(count(lit(1)).as("n_docs"))
    val tot = n.agg(sum("n_docs").cast("double").as("n_total"))
    val p = n.crossJoin(broadcast(tot))
      .withColumn("p_raw", col("n_docs").cast("double") / col("n_total"))
      .withColumn("p_pow", pow(col("p_raw"), lit(alpha)))
    val z = p.agg(sum("p_pow").as("z"))
    p.crossJoin(broadcast(z))
      .withColumn("p_temp", col("p_pow") / col("z"))
      .withColumn("n_target",
        floor(col("p_temp") * lit(sampleSize.toDouble)).cast("long"))
      .select(col(sourceCol), col("n_docs"), col("p_raw"), col("p_temp"),
        col("n_target"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick `k` of the candidates maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — the diversity pass
    * a RAG serving layer runs AFTER ANN top-n, so near-duplicate
    * passages don't crowd the context window. `cands` is
    * (idCol, embCol, relCol) — a SMALL frame (the top-n, already
    * pruned); the pairwise sim matrix, packing and the greedy fold are
    * all over n² ≤ a few hundred rows, driver-free and deterministic
    * (ties toward the lower id; empty-selection penalty = 0, the
    * standard convention). Returns (rank, idCol, mmr_score) —
    * min(k, candidate count) rows; ids must be integral (the packed
    * fold carries them as BIGINT). */
  def mmrRerank(cands: DataFrame, embCol: String, idCol: String,
                relCol: String, k: Int, lam: Double): DataFrame = {
    require(lam >= 0 && lam <= 1, s"lambda in [0,1], got $lam")
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType)
        .contains(cands.schema(idCol).dataType),
      s"$idCol must be an integral id column, got " +
        cands.schema(idCol).dataType.simpleString)
    val a = cands.select(col(idCol).cast("long").as("__ia"),
      col(embCol).as("__va"), col(relCol).as("__rel"))
    val b = cands.select(col(idCol).cast("long").as("__ib"),
      col(embCol).as("__vb"))
    val pairs = a.crossJoin(broadcast(b))
      .select(col("__ia"), col("__rel"), col("__ib"),
        Similarity.cosine(col("__va"), col("__vb")).as("__sim"))
    val packed = pairs
      .groupBy("__ia", "__rel")
      .agg(array_sort(collect_list(struct(col("__ib"), col("__sim"))))
        .as("__sims"))
      .agg(array_sort(collect_list(struct(col("__ia"), col("__rel"),
        col("__sims")))).as("__cands"))
    val nullPick =
      lit(null).cast("struct<id:bigint,score:double>")
    val sel = aggregate(
      sequence(lit(1), lit(k)),
      expr("CAST(array() AS ARRAY<STRUCT<rank: INT, id: BIGINT, score: DOUBLE>>)"),
      (selAcc, step) => {
        val best = aggregate(col("__cands"), nullPick, (bst, c) => {
          val already = exists(selAcc,
            s => s.getField("id") === c.getField("__ia"))
          val pen = coalesce(
            aggregate(
              filter(c.getField("__sims"), p => exists(selAcc,
                s => s.getField("id") === p.getField("__ib"))),
              lit(null).cast("double"),
              (m, p) => when(m.isNull || p.getField("__sim") > m,
                p.getField("__sim")).otherwise(m)),
            lit(0.0))
          val score = lit(lam) * c.getField("__rel") -
            lit(1.0 - lam) * pen
          val pick = struct(c.getField("__ia").as("id"),
            score.as("score"))
          when(already, bst)
            .when(bst.isNull, pick)
            .when(score > bst.getField("score"), pick)
            .when(score === bst.getField("score") &&
              c.getField("__ia") < bst.getField("id"), pick)
            .otherwise(bst)
        })
        concat(selAcc, array(struct(step.cast("int").as("rank"),
          best.getField("id").as("id"),
          best.getField("score").as("score"))))
      })
    packed.select(explode(sel).as("__s"))
      // steps past the candidate count pick nothing — drop them
      // rather than emit phantom null-id rows
      .where(col("__s.id").isNotNull)
      .select(col("__s.rank").as("rank"), col("__s.id").as(idCol),
        col("__s.score").as("mmr_score"))
  }
}
