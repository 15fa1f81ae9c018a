package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search"): split each d-dim vector into `m`
  * subvectors, k-means each subspace independently, and represent a
  * vector by its `m` centroid codes — d×4 bytes collapse to m bytes.
  * Combined with the IVF index (Similarity.ivfTopK) this is the IVF-PQ
  * layout production ANN systems run at 10^9+ vectors: the inverted
  * file prunes the candidate set, PQ codes + a per-query distance
  * table score it without touching raw vectors.
  *
  * Everything here is deterministic (seeded by lowest vector ids,
  * fixed iteration count, centroids rounded to 6 dp after every
  * update) so results are reproducible run-to-run and engine-to-engine
  * — the same discipline as [[Clustering.kmeansAssign]].
  */
object Quantize {

  /** Squared L2 between two equal-length double arrays — the fused
    * codegen'd loop ([[graft.functions.L2SqExpression]]); bit-identical
    * to the zip_with + aggregate left fold it replaces (same
    * accumulation order), asserted in FunctionsSpec. */
  private[ops] def l2sq(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.l2Sq(a, b)

  /** Explode `embCol` into (idCol as __id, __m, __sv): subspace `__m`'s
    * slice of the vector, cast to double. Row count multiplies by `m`
    * but total bytes are unchanged — each row carries 1/m of the
    * vector, so the exploded frame shuffles no more data than the
    * original. */
  private[ops] def subvectors(emb: DataFrame, embCol: String,
                              idCol: String, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val sub = dim / m
    emb.select(col(idCol).cast("long").as("__id"),
        posexplode(expr(
          s"""transform(sequence(0, ${m - 1}),
             |  mm -> slice(transform(`$embCol`, x -> CAST(x AS DOUBLE)),
             |              mm * $sub + 1, $sub))""".stripMargin))
          .as(Seq("__m", "__sv")))
  }

  /** Train a PQ codebook: per subspace, deterministic L2 k-means with
    * seeds = the `k` lowest-id vectors' subvectors (code = seed's rank,
    * 0-based) and `iters` assignment passes (centroids refreshed
    * between passes, components rounded to 6 dp after every update so
    * independent engines computing the same mean agree exactly).
    * Returns (subspace, code, cvec) — the centroids the FINAL
    * assignment pass would use.
    *
    * Scale: each pass broadcasts the m×k-row centroid table and
    * reduces map-side via min_by — the shuffle carries one row per
    * (vector, subspace), never the k-way fan-out. The update explodes
    * to (m × k × dim/m) partial means — fixed width, independent of
    * corpus size. The subvector projection is cached across the
    * fixed-depth unrolled plan and deliberately left to LRU (the
    * returned codebook frame still references it lazily — an eager
    * unpersist would silently recompute the projection once per
    * downstream action); at very large scale swap for a checkpoint,
    * same note as kmeansAssign.
    */
  def pqCodebook(emb: DataFrame, embCol: String, idCol: String,
                 m: Int, k: Int, iters: Int, dim: Int): DataFrame = {
    val base = subvectors(emb, embCol, idCol, m, dim).cache()
    val seedIds = base.select(col("__id")).distinct()
      .orderBy("__id").limit(k)
      .select(col("__id"),
        (row_number().over(Window.orderBy("__id")) - 1).as("__code"))
    var cents = base.join(broadcast(seedIds), "__id")
      .select(col("__m"), col("__code"), col("__sv").as("__cvec"))
    for (_ <- 2 to iters) cents = update(assignTo(base, cents))
    cents.select(col("__m").as("subspace"), col("__code").as("code"),
      col("__cvec").as("cvec"))
  }

  /** One assignment pass: nearest centroid per (vector, subspace),
    * ties broken toward the lower code. */
  private def assignTo(base: DataFrame, cents: DataFrame): DataFrame =
    base.join(broadcast(cents), "__m")
      .select(col("__id"), col("__m"), col("__sv"), col("__code"),
        l2sq(col("__sv"), col("__cvec")).as("__d"))
      .groupBy("__id", "__m")
      .agg(
        min_by(struct(col("__code"), col("__d")),
          struct(col("__d"), col("__code"))).as("__b"),
        first(col("__sv")).as("__sv"))
      .select(col("__id"), col("__m"), col("__sv"),
        col("__b.__code").as("__code"), col("__b.__d").as("__d"))

  /** Centroid refresh: element-wise mean of assigned subvectors,
    * rounded to 6 dp. Codes that lost every member drop out (k
    * shrinks), exactly as a grouped mean implies. */
  private def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("__m"), col("__code"),
        posexplode(col("__sv")).as(Seq("__i", "__x")))
      .groupBy("__m", "__code", "__i")
      .agg(round(avg(col("__x")), 6).as("__mu"))
      .groupBy("__m", "__code")
      .agg(array_sort(collect_list(struct(col("__i"), col("__mu"))))
        .as("__p"))
      .select(col("__m"), col("__code"),
        expr("transform(__p, p -> p.__mu)").as("__cvec"))

  /** Encode every vector against a codebook: one row per vector with
    * its per-subspace codes in subspace order and the total squared
    * reconstruction error. The codes frame is the compressed index a
    * 100 TB ANN deployment persists — m small ints per vector instead
    * of the raw floats. */
  def pqEncode(emb: DataFrame, codebook: DataFrame, embCol: String,
               idCol: String, m: Int, dim: Int): DataFrame = {
    val cents = codebook.select(col("subspace").as("__m"),
      col("code").as("__code"), col("cvec").as("__cvec"))
    assignTo(subvectors(emb, embCol, idCol, m, dim), cents)
      .groupBy("__id")
      .agg(
        array_sort(collect_list(struct(col("__m"), col("__code"))))
          .as("__p"),
        round(sum(col("__d")), 6).as("recon_err"))
      .select(col("__id").as(idCol),
        expr("transform(__p, p -> p.__code)").as("codes"),
        col("recon_err"))
  }

  /** Asymmetric-distance (ADC) top-k: for each query vector, build the
    * m×k table of exact query-subvector↔centroid distances, then score
    * every encoded vector as the sum of its m looked-up entries —
    * corpus vectors are never decompressed. Queries must be
    * (qidCol, embCol); returns (qid, idCol, adc_dist) with the k
    * closest corpus vectors per query (self-matches excluded, ties to
    * the lower id).
    *
    * Scale: the distance table is |queries|×m×k rows — broadcast. The
    * join against exploded codes is a broadcast hash join keyed
    * (subspace, code): no corpus shuffle before the (qid, id) partial
    * sum, and the final rank is a WindowGroupLimit (map-side top-k)
    * over |queries| partitions.
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
                embCol: String, idCol: String, qidCol: String,
                m: Int, dim: Int, k: Int): DataFrame =
    adcTopKOverCodes(pqEncode(corpus, codebook, embCol, idCol, m, dim),
      queries, codebook, embCol, idCol, qidCol, m, dim, k,
      excludeSelf = true)

  /** ADC over RESIDUAL-encoded candidates — the production IVF-PQ
    * form (Jégou 2011 §IV): vectors are PQ-encoded as x − coarse
    * centroid, so one codebook only has to cover the residual
    * distribution, not the whole space. The query's distance table is
    * therefore PER PROBED CLUSTER (q − centroid_c differs per c):
    * `clusterQueries` is (cluster, embCol = that cluster's query
    * residual), `codes` is (idCol, cluster, codes). Table size is
    * nprobe×m×k — still broadcast — and candidates join on
    * (cluster, subspace, code): no corpus shuffle before the partial
    * sum. Returns the k best (idCol, cluster, adc_dist). */
  def residualAdcTopK(codes: DataFrame, clusterQueries: DataFrame,
                      codebook: DataFrame, embCol: String, idCol: String,
                      m: Int, dim: Int, k: Int): DataFrame = {
    val codesLong = codes.select(col(idCol).as("__id"), col("cluster"),
      posexplode(col("codes")).as(Seq("__m", "__code")))
    val dtable = subvectors(clusterQueries, embCol, "cluster", m, dim)
      .withColumnRenamed("__id", "cluster")
      .join(broadcast(codebook.select(col("subspace").as("__m"),
        col("code").as("__code"), col("cvec").as("__cvec"))), "__m")
      .select(col("cluster"), col("__m"), col("__code"),
        l2sq(col("__sv"), col("__cvec")).as("__dq"))
    codesLong.join(broadcast(dtable), Seq("cluster", "__m", "__code"))
      .groupBy(col("__id"), col("cluster"))
      .agg(round(sum(col("__dq")) /
        (count(lit(1)) / lit(m)).cast("double"), 6).as("adc_dist"))
      .select(col("__id").as(idCol), col("cluster"), col("adc_dist"))
      // orderBy + limit plans as TakeOrderedAndProject: each task keeps
      // its local k best and only those k-row heaps reach the driver
      // merge — at a billion-vector index with nprobe probed lists this
      // is the difference between moving ~10^8 candidate rows through
      // ONE ranking task (a partition-less window) and moving k rows
      // per task. Ties break to the lower id, same order the old
      // row_number rank used.
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** Multi-query ADC over an IVF-PQ index's inverted lists — the
    * BATCHED serving form: `codes` is (idCol, cluster, codes) for the
    * union of every query's probed lists (one index read serves the
    * whole batch), `queryProbes` is (qidCol, cluster, embCol) with one
    * row per (query, probed cluster) — embCol is the query vector
    * itself for a plain-encoded index, or the query's residual against
    * that cluster's centroid for a residual index
    * ([[graft.ops.Similarity.probedCentroidsBatch]] produces the probe
    * pairs either way). A candidate scores for a query ONLY through
    * that query's own probe rows (the join key includes cluster), so
    * per-query pruning survives the shared read.
    *
    * Scale: the distance table is |queryProbes|·m·k rows — broadcast;
    * candidates reach it via a broadcast hash join on (cluster,
    * subspace, code) with no corpus shuffle before the (qid, id)
    * partial sum, and the per-query rank is a qid-partitioned window
    * (WindowGroupLimit: per-task top-k heaps before the qid shuffle) —
    * thousands of queries rank in parallel instead of a driver-side
    * loop paying one probe-collect + index read each. The duplicate
    * divisor has the same identical-code-re-feed contract as
    * [[adcTopKOverCodes]]. Returns (qid, idCol, cluster, adc_dist),
    * k rows per query. */
  def adcTopKPerProbe(codes: DataFrame, queryProbes: DataFrame,
                      codebook: DataFrame, embCol: String, idCol: String,
                      qidCol: String, m: Int, dim: Int, k: Int,
                      excludeSelf: Boolean = false): DataFrame = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val sub = dim / m
    val codesLong = codes.select(col(idCol).as("__id"),
      col("cluster").cast("long").as("cluster"),
      posexplode(col("codes")).as(Seq("__m", "__code")))
    val qsub = queryProbes.select(col(qidCol).cast("long").as("__qid"),
      col("cluster").cast("long").as("cluster"),
      posexplode(expr(
        s"""transform(sequence(0, ${m - 1}),
           |  mm -> slice(transform(`$embCol`, x -> CAST(x AS DOUBLE)),
           |              mm * $sub + 1, $sub))""".stripMargin))
        .as(Seq("__m", "__sv")))
    val dtable = qsub
      .join(broadcast(codebook.select(col("subspace").as("__m"),
        col("code").as("__code"), col("cvec").as("__cvec"))), "__m")
      .select(col("__qid"), col("cluster"), col("__m"), col("__code"),
        l2sq(col("__sv"), col("__cvec")).as("__dq"))
    val joined = codesLong.join(broadcast(dtable),
      Seq("cluster", "__m", "__code"))
    val scored = (if (excludeSelf) joined.where(col("__id") =!= col("__qid"))
      else joined)
      .groupBy(col("__qid"), col("__id"), col("cluster"))
      .agg(round(sum(col("__dq")) /
        (count(lit(1)) / lit(m)).cast("double"), 6).as("adc_dist"))
    scored
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__qid").orderBy(col("adc_dist"), col("__id"))))
      .where(col("__rk") <= k)
      .select(col("__qid").as("qid"), col("__id").as(idCol),
        col("cluster"), col("adc_dist"))
  }

  /** [[pqAdcTopK]] over ALREADY-ENCODED vectors — the serving path of
    * a persisted PQ index, where codes were computed at ingest and raw
    * vectors are not stored at all. `codes`
    * is (idCol, codes: array<int>); `excludeSelf` drops rows whose id
    * equals the query id (corpus-as-queries dedup mode). */
  def adcTopKOverCodes(codes: DataFrame, queries: DataFrame,
                       codebook: DataFrame, embCol: String, idCol: String,
                       qidCol: String, m: Int, dim: Int, k: Int,
                       excludeSelf: Boolean = false): DataFrame = {
    val codesLong = codes.select(col(idCol).as("__id"),
      posexplode(col("codes")).as(Seq("__m", "__code")))
    val dtable = subvectors(queries, embCol, qidCol, m, dim)
      .withColumnRenamed("__id", "__qid")
      .join(broadcast(codebook.select(col("subspace").as("__m"),
        col("code").as("__code"), col("cvec").as("__cvec"))), "__m")
      .select(col("__qid"), col("__m"), col("__code"),
        l2sq(col("__sv"), col("__cvec")).as("__dq"))
    val joined = codesLong.join(broadcast(dtable), Seq("__m", "__code"))
    // an id ingested more than once (an at-least-once source re-feeding
    // the index) contributes dup x m code rows; dividing by the
    // duplication factor keeps the distance honest instead of silently
    // demoting the vector by a doubled sum. count/m is exact (every id
    // carries a multiple of m rows), and for the unique-id case the
    // divisor is 1.0 so the value is bit-identical to the plain sum.
    // The divisor is only exact for IDENTICAL-code re-feeds: if a
    // duplicated id carries different codes (a changed re-feed that
    // skipped upstream dedup), the division averages two versions'
    // distances into a value corresponding to no real vector — resolve
    // changed re-feeds first (a latest-wins window per id)
    val scored = (if (excludeSelf) joined.where(col("__id") =!= col("__qid"))
      else joined)
      .groupBy(col("__qid"), col("__id"))
      .agg(round(sum(col("__dq")) /
        (count(lit(1)) / lit(m)).cast("double"), 6).as("adc_dist"))
    scored
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__qid").orderBy(col("adc_dist"), col("__id"))))
      .where(col("__rk") <= k)
      .select(col("__qid").as("qid"), col("__id").as(idCol),
        col("adc_dist"))
  }
}
