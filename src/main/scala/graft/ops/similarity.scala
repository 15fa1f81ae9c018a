package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (Array[Float]).
  *
  * Scale posture: brute-force cosine is the correctness baseline (a single
  * scan, embarrassingly parallel, no shuffle until the final top-k, which
  * Spark plans as TakeOrderedAndProject — per-partition heaps + driver
  * merge of k rows, not a global sort). The sign-LSH variant buckets
  * vectors first so candidate sets shrink ~2^planes-fold; at 100 TB you
  * also pre-partition the corpus by bucket so probes touch few partitions.
  */
object Similarity {

  /** Cosine similarity between two Array[Float]/Array[Double] columns —
    * a custom Catalyst expression fusing dot + both norms into one
    * codegen'd primitive loop (`CosineSimExpression`). Doubles throughout
    * with the same ascending fold order as the equivalent
    * aggregate(zip_with(...)) tree, so results are engine-portable and
    * bit-identical to the HOF formulation it replaced (which paid an
    * interpreted closure call per element, per fold). Zero vectors yield
    * null, not NaN — NaN sorts ABOVE every real similarity in desc order,
    * so a garbage vector would become everyone's #1 neighbor. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /** Brute-force top-k nearest neighbours of one query vector. */
  def bruteForceTopK(corpus: DataFrame, embCol: String, idCol: String,
                     queryVec: Column, k: Int): DataFrame =
    Scale.widen(corpus)
      .withColumn("cosine_sim", round(cosine(col(embCol), queryVec), 6))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .select(col(idCol), col("cosine_sim"))
      .limit(k)

  /** All-pairs top-k: for every query row (small side, broadcast), its k
    * nearest corpus rows. Broadcast-join + window, no cartesian shuffle. */
  def crossTopK(corpus: DataFrame, queries: DataFrame, embCol: String,
                corpusId: String, queryId: String, k: Int): DataFrame = {
    val joined = Scale.widen(corpus).crossJoin(
      broadcast(queries.select(col(queryId), col(embCol).as("__qvec"))))
      .where(col(corpusId) =!= col(queryId))
      .withColumn("cosine_sim", round(cosine(col(embCol), col("__qvec")), 6))
    val w = Window.partitionBy(queryId).orderBy(col("cosine_sim").desc, col(corpusId))
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine_sim"), col("rank"))
  }

  /** Hard-negative mining for retriever/reranker training: for each
    * query vector, the top-k most-cosine-similar corpus vectors with a
    * DIFFERENT label — the "looks relevant, isn't" examples contrastive
    * training needs (random negatives are too easy; the model learns
    * nothing from them). Labels stand in for relevance grouping (source,
    * topic, paired-positive id — whatever the training setup considers
    * "same").
    *
    * Output: (query_id, neg_id, neg_label, cosine_sim, rank ≤ k).
    *
    * Scale: the query set broadcasts (bounded — mine negatives in query
    * shards); the corpus is scanned once, never shuffled before the
    * per-query rank, which compiles to WindowGroupLimit (per-partition
    * k-row heaps BEFORE the exchange, so the shuffle carries ≤ k rows
    * per (query, partition), not the corpus×queries cross product). At
    * billion-vector scale feed the candidate set from an ANN index
    * ([[ivfTopK]]) and re-rank here — same output contract. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, embCol: String,
                    idCol: String, labelCol: String, k: Int): DataFrame = {
    val joined = Scale.widen(corpus).crossJoin(
      broadcast(queries.select(col(idCol).as("__qid"),
        col(embCol).as("__qvec"), col(labelCol).as("__qlabel"))))
      .where(col(labelCol) =!= col("__qlabel"))
      .withColumn("cosine_sim", round(cosine(col(embCol), col("__qvec")), 6))
    val w = Window.partitionBy("__qid")
      .orderBy(col("cosine_sim").desc, col(idCol))
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("__qid").as("query_id"), col(idCol).as("neg_id"),
        col(labelCol).as("neg_label"), col("cosine_sim"), col("rank"))
  }

  /** Margin-based bitext/pair mining (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings"): score every (a, b) cross pair by its cosine divided
    * by the mean of both sides' k-NN cosines —
    * margin = cos(a,b) / ((Σ topk(a) + Σ topk(b)) / 2k) — so a pair
    * only ranks high when it stands OUT of each side's neighborhood,
    * which filters the hub vectors plain cosine thresholds admit.
    * Returns the `topPairs` best (id_a, id_b, margin), margin rounded
    * to 6 dp before ranking. The denominator is a FIXED 2k even when a
    * slice has fewer than k cross-neighbors (each side's sum then
    * covers all it has): margins on sub-k slices are inflated relative
    * to the paper's mean-of-available formula, uniformly per run — a
    * deliberate convention so the divisor is a compile-time constant
    * the oracle replays literally; rankings within a run are unaffected
    * when both slices are ≥ k, the production case.
    *
    * Scale: this exact form crossJoins the two slices (broadcast
    * right), sized for moderate slice pairs (the per-language shards
    * of a mining run). At corpus scale feed the SAME margin formula
    * from ANN candidates instead of the full cross — [[ivfTopK]] /
    * [[lshTopK]] produce the (a, b, cos) stream and the k-NN sums come
    * from the same stream, so nothing here changes shape. */
  def marginMining(a: DataFrame, b: DataFrame, embCol: String,
                   idCol: String, k: Int, topPairs: Int): DataFrame = {
    val x = a.select(col(idCol).as("id_a"), col(embCol).as("__av"))
    val y = b.select(col(idCol).as("id_b"), col(embCol).as("__bv"))
    val cross = Scale.widen(x).crossJoin(broadcast(y))
      .select(col("id_a"), col("id_b"),
        cosine(col("__av"), col("__bv")).as("__c"))
    // both k-NN sums come from window aggregates over the SAME cross
    // frame — the cosine cartesian is evaluated once, not re-planned
    // under each side's top-k the way a groupBy-then-join-back would
    val wa = Window.partitionBy("id_a")
      .orderBy(col("__c").desc, col("id_b"))
    val wb = Window.partitionBy("id_b")
      .orderBy(col("__c").desc, col("id_a"))
    cross
      .withColumn("__rka", row_number().over(wa))
      .withColumn("__rkb", row_number().over(wb))
      .withColumn("__sa", sum(when(col("__rka") <= k, col("__c")))
        .over(Window.partitionBy("id_a")))
      .withColumn("__sb", sum(when(col("__rkb") <= k, col("__c")))
        .over(Window.partitionBy("id_b")))
      .select(col("id_a"), col("id_b"),
        round(col("__c") / ((col("__sa") + col("__sb")) / (2.0 * k)), 6)
          .as("margin"))
      // global top-pairs as orderBy+limit, which plans as
      // TakeOrderedAndProject (per-task bounded heaps merged on the
      // driver) — a partition-less row_number window here would funnel
      // the whole scored cross through one WindowExec task
      .orderBy(col("margin").desc, col("id_a"), col("id_b"))
      .limit(topPairs)
      .select("id_a", "id_b", "margin")
  }

  /** Sign-LSH bucket id: one bit per "hyperplane", where plane p's weight
    * for dimension d is a deterministic +-1 derived from md5(p:d). Engine-
    * portable (md5-hex nibble parity) and row-local. */
  def signLshBucket(emb: Column, dim: Int, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      // dot(emb, plane_p) with plane_p[d] = +1 if first md5 nibble even
      // else -1. aggregate(zip_with(...)) folds in ascending index order,
      // left-associated — bit-identical to an explicit term chain but with
      // O(planes) codegen size instead of O(planes*dim).
      val signs = array((0 until dim).map(d => lit(planeSign(p, d))): _*)
      val dotp = graft.functions.GraftFunctions.dotProduct(emb, signs)
      when(dotp > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Distributed d×d gram matrix Σ v·vᵀ of an embedding column, as
    * (i, j, val) rows: one pass through
    * [[Aggregators.Gram]] — a mergeable flattened-matrix buffer, so
    * each partition folds its vectors locally in a tight JVM loop and
    * the shuffle carries one d²-double buffer per partition,
    * independent of corpus size. (An (i,j)-explode + groupBy gets the
    * same shuffle bound from partial aggregation but pays d² Catalyst
    * ROWS per vector — 1M rows/vector at d=1024 — where the buffer
    * pays d² double ops.) */
  def gram(df: DataFrame, embCol: String, dim: Int): DataFrame = {
    val g = udaf(new Aggregators.Gram(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    df.agg(g(col(embCol)).as("__g"))
      .select(posexplode(col("__g")))
      .select((col("pos") / lit(dim)).cast("int").as("i"),
        pmod(col("pos"), lit(dim)).cast("int").as("j"),
        col("col").as("val"))
  }

  /** Top principal direction of the embedding corpus (about the
    * origin): `iters` fixed power-iteration steps on the collected
    * [[gram]] matrix, started from the uniform unit vector — fully
    * deterministic, no convergence test, so an external engine
    * replays the identical recurrence step for step. The corpus is
    * touched ONCE (the gram aggregation); iteration happens on the
    * d×d matrix on the driver, which is the right side of the
    * driver/cluster split at any corpus scale (d² doubles vs 100 TB).
    * Returns (eigenvector, Rayleigh quotient λ̂). */
  def topPrincipalComponent(df: DataFrame, embCol: String, dim: Int,
                            iters: Int): (Array[Double], Double) =
    topPrincipalComponents(df, embCol, dim, iters, k = 1).head

  /** Top-k principal directions via Hotelling deflation: after each
    * converged-enough direction (v, λ), subtract λ·v·vᵀ from the gram
    * and power-iterate again — all on the driver's d×d matrix, the
    * corpus still touched exactly once. Same determinism contract as
    * [[topPrincipalComponent]]: fixed starts, fixed step counts, so
    * every (component, recurrence) replays externally. */
  def topPrincipalComponents(df: DataFrame, embCol: String, dim: Int,
      iters: Int, k: Int): Seq[(Array[Double], Double)] = {
    require(k >= 1 && k <= dim, s"k in [1,$dim], got $k")
    val g = Array.ofDim[Double](dim, dim)
    gram(df, embCol, dim).collect().foreach { r =>
      g(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
    }
    (1 to k).map { _ =>
      val (v, lam) = powerIterate(g, dim, iters)
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { g(i)(j) -= lam * v(i) * v(j); j += 1 }
        i += 1
      }
      (v, lam)
    }
  }

  /** `iters` power-iteration steps from the uniform unit vector, plus
    * the Rayleigh quotient — the single-component recurrence shared by
    * the PCA entry points and replayed by the SQL oracle. */
  private def powerIterate(g: Array[Array[Double]],
                           dim: Int, iters: Int): (Array[Double], Double) = {
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 0 until iters) {
      val w = Array.tabulate(dim) { i =>
        var s = 0.0
        var j = 0
        while (j < dim) { s += g(i)(j) * v(j); j += 1 }
        s
      }
      val n = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / n)
    }
    val gv = Array.tabulate(dim) { i =>
      (0 until dim).map(j => g(i)(j) * v(j)).sum
    }
    (v, v.zip(gv).map { case (a, b) => a * b }.sum)
  }

  /** Random-projection (Johnson-Lindenstrauss / Achlioptas sign-matrix)
    * dimensionality reduction: out[j] = Σ_d emb[d] · s(j,d) with the
    * same deterministic ±1 matrix as [[signLshBucket]] ([[planeSign]]).
    * Pairwise distances are preserved in expectation, so the projected
    * vectors feed ANN / clustering at a fraction of the width — the
    * standard cheap pre-step before brute-force cosine at 100 TB
    * (corpus bytes and per-pair dot cost both shrink by dim/outDim).
    *
    * Row-local and shuffle-free; the matrix is derived, not stored, so
    * any engine (and the DuckDB oracle) regenerates it from md5 alone.
    * Each output component is one fused codegen'd dot product. */
  def randomProject(emb: Column, dim: Int, outDim: Int): Column = {
    val comps = (0 until outDim).map { j =>
      val signs = array((0 until dim).map(d => lit(planeSign(j, d))): _*)
      graft.functions.GraftFunctions.dotProduct(emb, signs)
    }
    array(comps: _*)
  }

  /** The deterministic +-1 weight of plane p, dimension d (shared with the
    * oracle-SQL generator so both engines use the same hyperplanes). */
  private[graft] def planeSign(p: Int, d: Int): Double =
    if (Integer.parseInt(md5Hex(s"$p:$d").substring(0, 1), 16) % 2 == 0) 1.0 else -1.0

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** LSH-bucketed ANN: cosine only against corpus rows in the query's
    * bucket. Recall < 1 by design; the scale path over brute force. */
  def lshTopK(corpus: DataFrame, embCol: String, idCol: String,
              queryVec: Column, dim: Int, planes: Int, k: Int): DataFrame = {
    val bucketed = Scale.widen(corpus)
      .withColumn("__bucket", signLshBucket(col(embCol), dim, planes))
    val qBucket = signLshBucket(queryVec, dim, planes)
    bucketed.where(col("__bucket") === qBucket)
      .withColumn("cosine_sim", round(cosine(col(embCol), queryVec), 6))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .select(col(idCol), col("cosine_sim"))
      .limit(k)
  }

  /** Row-local coarse-centroid assignment (the IVF build step, shared
    * with the streaming vector-index sink): every corpus vector gets
    * the argmax-cosine centroid id (ties → lowest cid) via one fold
    * over a single broadcast centroid-array row — zero corpus shuffle.
    * Returns the corpus columns plus `cluster`. */
  def assignToCentroids(corpus: DataFrame, embCol: String, idCol: String,
                        centroids: DataFrame): DataFrame = {
    val cid = col("cid")
    val cidType = centroids.schema("cid").dataType
    // cid-sorted so a strictly-greater fold keeps the LOWEST cid on ties —
    // same tie-break as row_number over (sim DESC, cid ASC)
    val centArr = centroids
      .agg(sort_array(collect_list(struct(cid, col("cvec")))).as("__cents"))
    val noBest = struct(lit(null).cast("double").as("sim"),
      lit(null).cast(cidType).as("cid"))
    // two stages so each cosine is evaluated exactly ONCE per centroid:
    // materialize (sim, cid) per element first, then fold over cheap
    // struct-field references — folding the raw centroids instead would
    // let the CASE WHEN inline the cosine expression ~4x per comparison
    val simArr = transform(col("__cents"), c =>
      struct(cosine(col(embCol), c.getField("cvec")).as("sim"),
        c.getField("cid").as("cid")))
    val best = aggregate(simArr, noBest, (acc, e) => {
      val s = e.getField("sim")
      // null cosine (zero vector) never beats a real one; the first
      // centroid seeds the fold so an all-null row still lands in the
      // lowest-cid cluster, exactly like the window formulation
      val take = acc.getField("cid").isNull ||
        (acc.getField("sim").isNull && s.isNotNull) ||
        (s.isNotNull && s > acc.getField("sim"))
      when(take, e).otherwise(acc)
    })
    Scale.widen(corpus)
      .crossJoin(broadcast(centArr))
      .withColumn("__best", best)
      .select(col(idCol), col(embCol), col("__best.cid").as("cluster"))
  }

  /** IVF-style ANN: assign every corpus vector to its best coarse
    * centroid ([[assignToCentroids]]), then answer queries by probing
    * only the `nprobe` centroids closest to the query — the classic
    * inverted-file trade: recall for a corpus-scan factor of
    * ~nprobe/nlist. Centroids arrive as a (cid, cvec) DataFrame — any
    * picker works (k-means, sampled rows); a deterministic picker keeps
    * results oracle-checkable.
    *
    * Scale: assignment is row-local — zero corpus shuffle (a crossJoin
    * + row_number window would shuffle corpus×nlist rows through a
    * sort). At 100 TB you'd persist the assignment partitioned by
    * cluster id so probes touch only nprobe/nlist of the files. */
  /** The `nprobe` centroid ids nearest the query (cosine desc, cid
    * tie-break) as a one-column `cluster` frame — the probe-selection
    * rule of [[ivfTopK]] and the IVF-PQ queries
    * ([[graft.ops.Quantize]]), factored out so they can never
    * diverge. */
  def probedCentroids(centroids: DataFrame, queryVec: Column,
                      nprobe: Int): DataFrame =
    probedCentroidsAdaptive(centroids, queryVec, nprobe,
      widenMargin = -1.0)

  /** Probe-selection diagnostics: every centroid's query similarity,
    * rank (cosine desc, cid tie-break) and MARGIN — the best
    * similarity minus this centroid's. A small margin at rank >
    * nprobe is the "query falls between clusters" signal: the
    * unprobed centroid is nearly as close as the best one, so its
    * members plausibly hold true neighbors the fixed-nprobe probe
    * would miss. The frame is nlist rows — driver/broadcast-sized by
    * construction. */
  def centroidMargins(centroids: DataFrame, queryVec: Column): DataFrame = {
    val ranked = Window.orderBy(col("qsim").desc, col("cluster"))
    val all = Window.partitionBy(lit(1))
    centroids
      .select(col("cid").as("cluster"),
        cosine(col("cvec"), queryVec).as("qsim"))
      .withColumn("rank", row_number().over(ranked))
      .withColumn("margin", max(col("qsim")).over(all) - col("qsim"))
  }

  /** [[probedCentroids]] with boundary-query widening: besides the
    * top-`nprobe` centroids, any centroid whose [[centroidMargins]]
    * margin is ≤ `widenMargin` is probed too — so a query equidistant
    * from two clusters reads both even at nprobe = 1, recovering the
    * recall a fixed probe count loses at cluster boundaries (negative
    * `widenMargin` disables widening and reproduces the fixed rule
    * exactly). The extra cost is bounded by how many centroids sit
    * within the margin — for a well-spread codebook that is the
    * boundary case only. */
  def probedCentroidsAdaptive(centroids: DataFrame, queryVec: Column,
                              nprobe: Int,
                              widenMargin: Double): DataFrame =
    centroidMargins(centroids, queryVec)
      .where(col("rank") <= nprobe || col("margin") <= widenMargin)
      .select(col("cluster"))

  /** Batched [[probedCentroidsAdaptive]]: probe selection for a whole
    * queries DataFrame at once — (qid, cluster, cvec, qvec) rows, one
    * per (query, probed centroid). The rank and widening rules are the
    * single-query ones applied per qid (cosine desc, cid tie-break;
    * widenMargin < 0 disables widening), so a batch of one query
    * selects exactly what the Column form selects.
    *
    * Scale: queries × broadcast(nlist-row centroid table) — the only
    * shuffle is the per-qid rank window, keyed by qid, so thousands of
    * queries rank in parallel; nothing here reads the index. */
  def probedCentroidsBatch(centroids: DataFrame, queries: DataFrame,
                           qidCol: String, qvecCol: String, nprobe: Int,
                           widenMargin: Double): DataFrame = {
    val ranked = Window.partitionBy("__qid")
      .orderBy(col("__qsim").desc, col("cluster"))
    val perQ = Window.partitionBy("__qid")
    queries.select(col(qidCol).cast("long").as("__qid"),
        col(qvecCol).as("__qv"))
      .crossJoin(broadcast(centroids
        .select(col("cid").as("cluster"), col("cvec"))))
      .withColumn("__qsim", cosine(col("cvec"), col("__qv")))
      .withColumn("__rank", row_number().over(ranked))
      .withColumn("__margin",
        max(col("__qsim")).over(perQ) - col("__qsim"))
      .where(col("__rank") <= nprobe || col("__margin") <= widenMargin)
      .select(col("__qid").as("qid"),
        col("cluster").cast("long").as("cluster"),
        col("cvec"), col("__qv").as("qvec"))
  }

  def ivfTopK(corpus: DataFrame, embCol: String, idCol: String,
              centroids: DataFrame, queryVec: Column,
              nprobe: Int, k: Int,
              widenMargin: Double = -1.0): DataFrame = {
    val assigned = assignToCentroids(corpus, embCol, idCol, centroids)
    // probed ids are collected (≤ nlist rows, driver-sized by
    // construction) and applied as an isin filter rather than a join:
    // centroids routinely derive from the corpus frame, and a
    // using-column self-join there can silently resolve the probe key
    // against the corpus's SAME-exprId id column (kept rows become
    // "id ∈ probed cluster ids" — wrong results, no error); the
    // literal filter has no second lineage to mis-resolve against
    val probed = probedCentroidsAdaptive(centroids, queryVec, nprobe,
      widenMargin).collect().map(_.get(0))
    assigned.where(col("cluster").isin(probed.toSeq: _*))
      .withColumn("cosine_sim", round(cosine(col(embCol), queryVec), 6))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .select(col(idCol), col("cluster"), col("cosine_sim"))
      .limit(k)
  }

  /** Unit-normalize a vector (doubles; zero vectors normalize to nulls so
    * downstream cosines are null, matching cosine()'s nullif guard). */
  def l2Normalize(v: Column): Column = {
    val n = sqrt(aggregate(v, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    transform(v, x => x.cast("double") / nullif(n, lit(0.0)))
  }

  /** Dot product of two already-double vectors, ascending-index fold
    * (fused codegen'd loop — the pair-expansion hot path). */
  private def dotD(x: Column, y: Column): Column =
    graft.functions.GraftFunctions.dotProduct(x, y)

  /** Symmetric int8 scalar quantization of an embedding — the 4×
    * compression a 100 TB vector corpus applies before ANN serving.
    * scale = max|x| / 127; each element rounds to the nearest step
    * (floor(x/scale + 0.5), engine-portable — round() half-even vs
    * half-up differs across engines) and clamps to [-127, 127].
    * Returns struct(scale, q) with q still numeric (the storage cast to
    * TINYINT is the writer's concern). Row-local, no shuffle. */
  def quantizeInt8(v: Column): Column = {
    val xd = transform(v, x => x.cast("double"))
    val scale = aggregate(xd, lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0
    // Spark's greatest/least SKIP nulls (unlike strict null propagation),
    // so clamp only a non-null step — a zero vector (scale 0 -> step
    // null) must quantize to nulls, not to a spurious ±127.
    val q = transform(xd, { x =>
      val step = floor(x / nullif(scale, lit(0.0)) + 0.5)
      when(step.isNotNull, greatest(lit(-127.0), least(lit(127.0), step)))
    })
    struct(scale.as("scale"), q.as("q"))
  }

  /** Dequantize [[quantizeInt8]] output back to doubles. */
  def dequantizeInt8(quant: Column): Column =
    transform(quant.getField("q"), q => q * quant.getField("scale"))

  /** Embedding near-duplicate pairs: cosine >= threshold inside LSH
    * buckets (the embedding analogue of Dedup.simhashPairs). Bucket ids
    * AND unit-normalized vectors are computed once per row, then pairs
    * expand inside each collected bucket — no self-join, and each pair
    * costs one dot product instead of a dot plus two norms (the pair set
    * is ~bucketSize^2 larger than the row set, so per-pair work
    * dominates). The only shuffle is the groupBy on the bucket id. */
  def embeddingNearDupPairs(df: DataFrame, embCol: String, idCol: String,
                            dim: Int, planes: Int, minCosine: Double,
                            maxBucket: Int = 4096): DataFrame = {
    val b = Scale.widen(df).select(
      signLshBucket(col(embCol), dim, planes).as("__bucket"),
      struct(col(idCol).as("id"), l2Normalize(col(embCol)).as("emb")).as("__e"))
    Dedup.boundedBucketPairs(b, "__bucket", "__e", maxBucket, (x, y) => struct(
        x.getField("id").as("id_a"), y.getField("id").as("id_b"),
        round(dotD(x.getField("emb"), y.getField("emb")), 6)
          .as("cosine_sim")))
      .select(col("p.id_a"), col("p.id_b"), col("p.cosine_sim"))
      .where(col("cosine_sim") >= minCosine)
  }
}
