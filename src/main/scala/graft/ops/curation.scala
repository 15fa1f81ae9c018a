package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions.fastMd5

/** Corpus-curation operators for large-scale training-data pipelines:
  * per-key caps, deterministic stratified sampling, quantile-threshold
  * quality filtering, normalization for dedup keying, context-window
  * chunking, collocation mining and shard assignment.
  *
  * These extend the reference's ETL surface (SURVEY §2) with the curation
  * stages a pretraining pipeline runs between "documents scanned" and
  * "tokens written": cap boilerplate-heavy domains, downsample
  * over-represented languages, drop the bottom quality quantile, split
  * into model-context chunks, and shard the output deterministically.
  *
  * Scale posture: everything here is either row-local (normalize, chunk,
  * shard, sample — they run inside the scan stage) or a single
  * key-shuffle (cap, quantile, PMI). Nothing collects to the driver and
  * no operator is quadratic in the corpus.
  */
object Curation {

  /** Keep at most `n` rows per key, preferring `ordering` (e.g. highest
    * quality first) — the "max N documents per domain" rule that stops a
    * single boilerplate-heavy site from dominating a pretraining mix.
    *
    * One hash-shuffle on `key`; the per-key work is a streaming
    * row_number, so memory is O(1) per key. For a corpus where one key
    * holds billions of rows, prefer a pre-filter with
    * [[Aggregators.groupedTopK]] (k-bounded map-side combine) to bound
    * the skewed partition before the window runs.
    */
  def capPerKey(df: DataFrame, key: Seq[String], ordering: Seq[Column],
                n: Int): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    val w = Window.partitionBy(key.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__cap_rk", row_number().over(w))
      .filter(col("__cap_rk") <= n)
      .drop("__cap_rk")
  }

  /** Deterministic stratified sampling: keep a row iff its stable md5
    * bucket (0..255, [[Sampling.splitBucket]]) falls below `threshold`
    * (a per-row Column, e.g. a CASE over the language — 256 keeps
    * everything, 64 keeps ~25%). md5-keyed so the decision is stable
    * across runs, partitionings and engines — a document once sampled in
    * stays in as the corpus grows, unlike rand()-based sampling.
    * Row-local: runs inside the scan stage, no shuffle. */
  def stratifiedSample(df: DataFrame, id: Column, threshold: Column): DataFrame =
    df.filter(Sampling.splitBucket(id) < threshold)

  /** Keep rows at or above the per-group `q`-quantile of `value` — the
    * "drop the bottom quartile by quality score within each language"
    * filter. Adds the group's threshold as column `cutoff`.
    *
    * `exact = true` uses `percentile` (full sort per group — fine up to
    * millions of rows per group); at 100 TB pass `exact = false` for the
    * GK-sketch `percentile_approx`, which aggregates in bounded memory.
    * The cutoff table is one row per group, broadcast back — the corpus
    * itself is never shuffled. */
  def quantileFilter(df: DataFrame, group: String, value: String, q: Double,
                     exact: Boolean = true): DataFrame = {
    require(q > 0 && q < 1, s"quantile must be in (0,1), got $q")
    val agg = if (exact) expr(s"percentile($value, $q)")
              else expr(s"percentile_approx($value, $q, 10000)")
    val cuts = df.groupBy(group).agg(agg.as("cutoff"))
    df.join(broadcast(cuts), Seq(group))
      .filter(col(value) >= col("cutoff"))
  }

  /** Winsorize `value` per group: clamp to the group's [lo, hi]
    * quantiles — robust feature normalization that tames outliers
    * without dropping rows (the keep-everything sibling of
    * [[quantileFilter]]). Adds `lo_cut`, `hi_cut` and `<value>_w`.
    * Same shape as quantileFilter: cutoffs are one row per group,
    * broadcast back; the corpus never shuffles. `exact = false` uses
    * the GK sketch for bounded-memory aggregation at 100 TB. */
  def winsorize(df: DataFrame, group: String, value: String,
                lo: Double, hi: Double, exact: Boolean = true): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi,
      s"need 0 <= lo < hi <= 1, got ($lo, $hi)")
    def pct(q: Double) =
      if (exact) expr(s"percentile($value, $q)")
      else expr(s"percentile_approx($value, $q, 10000)")
    val cuts = df.groupBy(group)
      .agg(pct(lo).as("lo_cut"), pct(hi).as("hi_cut"))
    df.join(broadcast(cuts), Seq(group))
      .withColumn(s"${value}_w",
        when(col(value).cast("double") < col("lo_cut"), col("lo_cut"))
          .when(col(value).cast("double") > col("hi_cut"), col("hi_cut"))
          .otherwise(col(value).cast("double")))
  }

  /** Canonical text for dedup keying: lowercase, punctuation → space,
    * whitespace collapsed, trimmed. Deliberately aggressive — two
    * documents differing only in case, punctuation or spacing normalize
    * to the same key (feed into [[Dedup.exact]]). Row-local. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", " "),
      "\\s+", " "))

  /** Split each document into fixed-size overlapping token chunks —
    * the context-window packing stage of a pretraining pipeline. Chunks
    * start every `stride` tokens (overlap = chunkSize - stride) and the
    * tail chunk may be short. Output: idCol, chunk_idx (0-based long),
    * chunk_tokens (long), chunk_md5 (hex of the space-joined chunk).
    *
    * Row-local explode — the only row-count amplification is the
    * intended ~len/stride chunks per document; payload text is dropped
    * before any downstream shuffle (only the digest travels). */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    df.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(stride)))
          .as(Seq("chunk_idx", "__start")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("__toks"), col("__start") + 1, lit(chunkSize)).as("__chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).cast("long").as("chunk_tokens"),
        fastMd5(concat_ws(" ", col("__chunk"))).as("chunk_md5"))
  }

  /** Gopher-style document quality statistics (Rae et al. 2021,
    * MassiveText filters, adapted thresholds): word count, mean word
    * length, symbol-to-word ratio (# and ellipses), bullet-start and
    * ellipsis-end line fractions, alphabetic-word fraction, stopword
    * hits, plus the combined `pass` verdict. Takes the text and a line
    * array (see [[Text.tokenLines]] for sources without line structure).
    * Returns one struct; entirely row-local — at corpus scale this runs
    * inside the scan stage, no shuffle.
    *
    * Thresholds are constructor-level constants of the rule, not of the
    * engine: minWords relaxed from Gopher's 50 so short-document corpora
    * retain a meaningful pass mix. */
  def gopherStats(text: Column, linesArr: Column,
                  minWords: Int = 30, maxWords: Int = 100000): Column =
    gopherStatsOfTokens(text, Text.tokens(text), linesArr,
      minWords, maxWords)

  /** [[gopherStats]] with the token array supplied by the caller.
    * Pass a PROJECTED column (`.withColumn("__toks", Text.tokens(...))`
    * in a separate select), not the raw `Text.tokens(text)` expression:
    * the token array is referenced ~10× inside the struct, lambda-
    * bearing expressions are exempt from codegen common-subexpression
    * elimination, and CollapseProject keeps a multiply-referenced
    * expensive alias in its own project — so the projection is what
    * makes the tokenization run once per row instead of once per
    * reference. */
  def gopherStatsOfTokens(text: Column, toks: Column, linesArr: Column,
                          minWords: Int = 30,
                          maxWords: Int = 100000): Column = {
    val nw = size(toks)
    val nwD = nw.cast("double")
    val mwl = when(nw > 0,
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / nwD)
      .otherwise(lit(0.0))
    val symbols = Text.charClassCount(text, "#") +
      when(text.isNull, lit(0L))
        .otherwise(regexp_count(text, lit("(\\.\\.\\.|…)")).cast("long"))
    val symbolRatio = when(nw > 0, symbols.cast("double") / nwD)
      .otherwise(lit(0.0))
    val nLines = size(linesArr)
    def lineFrac(re: String) = when(nLines > 0,
      size(filter(linesArr, l => l.rlike(re))).cast("double") /
        nLines.cast("double")).otherwise(lit(0.0))
    val bulletFrac = lineFrac("^[-*•]")
    val ellipsisFrac = lineFrac("(\\.\\.\\.|…)$")
    val alphaFrac = when(nw > 0,
      size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / nwD)
      .otherwise(lit(0.0))
    val stops = Text.stopwordCount(text).cast("long")
    val pass = nw.between(minWords, maxWords) && mwl.between(3.0, 10.0) &&
      symbolRatio <= 0.1 && bulletFrac <= 0.3 && ellipsisFrac <= 0.2 &&
      alphaFrac >= 0.8 && stops >= 2
    struct(
      nw.cast("long").as("n_words"), mwl.as("mean_word_len"),
      symbolRatio.as("symbol_word_ratio"), bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"), alphaFrac.as("alpha_word_frac"),
      stops.as("stop_hits"), pass.as("pass"))
  }

  /** Pointwise mutual information for adjacent token pairs over the
    * corpus: pmi(a,b) = ln( p(ab) / (p(a) p(b)) ) with p from corpus
    * counts — the standard collocation-mining statistic. Returns
    * (bigram, n_pair, pmi) for pairs seen at least `minCount` times.
    *
    * Two explode+groupBy passes (unigrams, bigrams) — shuffle keys are
    * single tokens/pairs, so partial aggregation collapses each
    * partition to ~vocabulary size before the exchange. The totals are
    * 1-row aggregates cross-joined back (broadcast), and the unigram
    * table joins once per side of the pair. */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Long = 5): DataFrame = {
    val toks = df.select(Text.tokens(col(textCol)).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val biAll = toks.filter(size(col("t")) >= 2)
      .select(explode(Text.shinglesOfTokens(col("t"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_pair"))
    val totW = uni.agg(sum("cw").cast("double").as("tw"))
    val totB = biAll.agg(sum("n_pair").cast("double").as("tb"))
    biAll.filter(col("n_pair") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totW)).crossJoin(broadcast(totB))
      .select(col("bg").as("bigram"), col("n_pair"),
        ((col("n_pair").cast("double") / col("tb")) /
          ((col("c1").cast("double") / col("tw")) *
           (col("c2").cast("double") / col("tw")))).as("__ratio"))
      .select(col("bigram"), col("n_pair"), log(col("__ratio")).as("pmi"))
  }

  /** Deterministic shard id in [0, n) for writing a training corpus as n
    * stable shards — md5-keyed ([[Sampling.splitBucket]]) so shard
    * membership survives reruns and engine changes, unlike
    * `pmod(hash(id), n)` whose murmur3 seed is Spark-private. Row-local.
    *
    * n ≤ 256 keeps the original one-byte derivation so every shard
    * mapping ever written stays reproducible; larger n draws 24 md5
    * bits ([[Sampling.uniform24]]) — uniform to within modulo bias
    * < n/2^24, i.e. negligible for any shard count a 100 TB export
    * needs (n = 100k biases by 0.6 %). */
  def shard(id: Column, n: Int): Column = {
    require(n > 0, s"shard count must be positive, got $n")
    if (n <= 256) Sampling.splitBucket(id) % n
    else (Sampling.uniform24(id) % n).cast("int")
  }

  /** Drop rows whose `domain` ends with any blocklisted suffix — the
    * domain-blocklist filter every web-corpus pipeline runs (spam/adult/
    * SEO-farm lists). Suffix semantics so one entry covers a domain and
    * all its subdomains. The blocklist is broadcast (it is thousands of
    * rows against billions); the plan is a broadcast nested-loop
    * left-anti join, so the corpus never shuffles. */
  def blocklistFilter(df: DataFrame, domain: Column,
                      blocklist: DataFrame, suffixCol: String): DataFrame =
    df.join(broadcast(blocklist),
      domain.endsWith(blocklist(suffixCol)), "left_anti")

  /** Per-row weighted Bernoulli sampling, deterministic: keep a row iff
    * its stable md5 bucket (0..255) falls below `weight` × 256, where
    * `weight` is a per-row keep-probability in [0, 1] (values ≥ 1 always
    * keep) — importance sampling by quality score without rand(): the
    * decision is a pure function of the id, so it is stable across runs,
    * partitionings and engines, and a row once kept stays kept as the
    * corpus grows. Row-local: runs inside the scan stage, no shuffle. */
  def weightedSample(df: DataFrame, id: Column, weight: Column): DataFrame =
    df.filter(Sampling.splitBucket(id) < weight * lit(256.0))

  /** Greedy contiguous sequence packing: assign ordered chunks to training
    * sequences of ~`seqLen` tokens. A chunk lands in pack
    * floor(tokens-before-it / seqLen), i.e. the stream of chunks is cut
    * every seqLen tokens — the concat-then-chunk packing most pretraining
    * recipes use (a pack may overshoot by at most one chunk; nothing is
    * dropped). Adds `pack_id` (long).
    *
    * One shuffle on `partitionCols` (the shards pack independently — this
    * is what makes the op scale: a global pack order would serialize the
    * corpus through one partition); the running sum streams in sort
    * order with O(1) state. */
  def packSequences(chunks: DataFrame, partitionCols: Seq[String],
                    orderCols: Seq[Column], tokensCol: String,
                    seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    chunks.withColumn("pack_id",
      floor(coalesce(sum(col(tokensCol)).over(w), lit(0L)) / lit(seqLen)))
  }

  /** Exactly-n deterministic sample: the n rows whose md5(id) sorts
    * lowest — a fixed-size corpus sample that is stable across runs and
    * engines (rand()-free) and recomputable by anyone holding the ids.
    * Plans as TakeOrderedAndProject: each partition keeps its local
    * top-n, only n rows per partition reach the driver-side merge — no
    * global sort even at 100 TB. */
  def fixedSample(df: DataFrame, id: Column, n: Int): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    df.withColumn("__sort_key", fastMd5(id.cast("string")))
      .orderBy(col("__sort_key"), id).limit(n)
      .drop("__sort_key")
  }

  /** Rebalance a corpus toward per-key target weights: key k with weight
    * w_k gets a deterministic keep-rate of min(1, (total * w_k / Σw) /
    * n_k), quantized to an md5-bucket threshold out of 256 — downsamples
    * over-represented sources toward the requested mix without ever
    * upsampling. Returns the kept rows plus `mix_threshold`.
    *
    * Two passes over the corpus (count, then filter) but the first pass
    * is a pure count aggregation and the per-key table is broadcast
    * back — the corpus itself never shuffles. */
  def rebalanceMix(df: DataFrame, keyCol: String, id: Column,
                   weight: Column => Column): DataFrame = {
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("__n"))
    val tot = counts.agg(sum("__n").cast("double").as("__tot"),
      sum(weight(col(keyCol))).as("__wsum"))
    val th = counts.crossJoin(broadcast(tot))
      .withColumn("mix_threshold",
        least(lit(256L), floor(lit(256.0) *
          ((col("__tot") * weight(col(keyCol)) / col("__wsum")) /
            col("__n").cast("double")))))
      .select(col(keyCol), col("mix_threshold"))
    df.join(broadcast(th), Seq(keyCol))
      .filter(Sampling.splitBucket(id) < col("mix_threshold"))
  }

  /** Deterministic weighted sampling WITHOUT replacement, exactly n
    * rows (Efraimidis & Spirakis 2006 A-Res): each row gets priority
    * ln(u) / w with u a stable md5-uniform of its id, and the n
    * highest-priority rows are the sample — equivalent to ranking by
    * u^(1/w), so inclusion probability scales with weight, no row
    * repeats, and the cardinality is exact (what [[weightedSample]]'s
    * per-row coin and [[fixedSample]]'s unweighted rank each lack).
    * Deterministic and partition-stable: same ids + weights → same
    * sample on every run and engine (q198's oracle replays the md5
    * and ln arithmetic). Rows with weight ≤ 0 are excluded. Adds
    * `priority` (rounded 6dp for display; selection uses the raw
    * value).
    *
    * Scale: priority is row-local; the top-n plans as
    * TakeOrderedAndProject — per-partition n-row heaps, one n-row
    * merge, no global sort. */
  def prioritySample(df: DataFrame, id: Column, weight: Column,
                     n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // +0.5 keeps u strictly inside (0,1): u = 0 would send ln to -inf
    // and tie every zero-bucket row
    df.where(weight.cast("double") > 0)
      .withColumn("__pri", aresPriority(id, weight))
      .orderBy(col("__pri").desc, id)
      .limit(n)
      .withColumn("priority", round(col("__pri"), 6))
      .drop("__pri")
  }

  /** Deterministic A-Res priority ln(u)/w, u the row's stable
    * md5-derived uniform — shared by [[prioritySample]] and the
    * streaming reservoir sink so both rank bit-identical doubles
    * (a row's priority never changes, which is what makes the
    * reservoir mergeable: top-n of a union = top-n of unioned
    * top-ns). */
  private[graft] def aresPriority(id: Column, weight: Column): Column = {
    val u = (Sampling.uniform24(id) + lit(0.5)) / lit((1 << 24).toDouble)
    log(u) / weight.cast("double")
  }

  /** Deterministic EPOCH-AWARE upsampling — the weight > 1 side of
    * source mixing that [[rebalanceMix]] (downsample-only) refuses:
    * emit each row ⌊w⌋ guaranteed copies plus one extra copy with
    * probability frac(w), decided by the row's stable 24-bit md5 draw
    * ([[Sampling.uniform24]], the [[budgetedSample]] coin — NOT the
    * 8-bit split bucket, whose 1/256 grid would bias E[copies] by up
    * to ~0.4% per row) — so E[copies] = w up to 2⁻²⁴ quantization,
    * and the SAME rows get the extra epoch on
    * every run and every engine (the q191 oracle replays it). This is
    * how pretraining mixes oversample high-quality sources (e.g.
    * Wikipedia at 2.5 epochs in GPT-3's mix) without an RNG in the
    * pipeline. Output adds `rep` (1-based copy index) so downstream
    * shuffling/packing can keep copies apart; rows with weight ≤ 0
    * are dropped.
    *
    * Scale: entirely row-local — a `sequence(1, ceil(w))` explode
    * bounded by the weight, no shuffle, no state; the md5 decision
    * keys on (id, rep) so each epoch's marginal copy is an
    * independent coin. */
  def upsampleMix(df: DataFrame, id: Column, weight: Column): DataFrame = {
    val w = weight.cast("double")
    df.withColumn("__w", w)
      .where(col("__w") > 0)
      .withColumn("rep", explode(expr("sequence(1, int(ceil(__w)))")))
      .where(col("rep") <= floor(col("__w")) ||
        Sampling.uniform24(concat(id.cast("string"), lit("#"),
          col("rep").cast("string"))) <
          (col("__w") - floor(col("__w"))) * lit((1 << 24).toDouble))
      .drop("__w")
  }

  /** Token-budget mixture allocation by WATER-FILLING: given per-source
    * capacities (sum of `tokensCol` per `sourceCol`) and target mixture
    * weights, compute the per-source token allocation that spends
    * `budget` exactly in proportion to the (normalized) weights — with
    * sources that cannot supply their share capped at capacity and
    * their unspent share re-flowing to the remaining sources. This is
    * the planning step a pretraining mix runs BEFORE sampling: naive
    * `budget · w_s` over-asks small sources and silently under-spends
    * the budget; the water-filling fix is the classic capacitated
    * proportional-allocation solution (allocation_s = min(T_s, λ·w_s)
    * with the water level λ chosen so allocations sum to the budget).
    *
    * The closed form needs no iteration: sorted by capacity/weight
    * ascending, the saturated sources form a prefix, and source s
    * saturates iff T_s·(1 − cumW_{s-1}) ≤ (B − cumT_{s-1})·w_s (its
    * capacity is below the water level implied by saturating everything
    * before it) — two cumulative windows decide every source, then
    * λ = (B − ΣT_sat) / (1 − Σw_sat). If total capacity ≤ budget every
    * source saturates and λ is null (budget not binding).
    *
    * Returns one row per source: (source, tokens_avail, weight
    * (normalized), allocation, take_rate, saturated). Feed `take_rate`
    * to [[rebalanceMix]]-style deterministic sampling, or weights > 1
    * epochs to [[upsampleMix]].
    *
    * Scale: one map-side-combined agg to source grain, then windows
    * over SOURCE-cardinality rows (a mixture has tens to thousands of
    * sources) — the deliberate place for a partition-less window;
    * corpus rows never shuffle beyond the partial-agg exchange. */
  def tokenBudgetAllocation(docs: DataFrame, sourceCol: Column,
                            tokensCol: Column, weights: DataFrame,
                            budget: Double): DataFrame =
    tokenBudgetAllocationFromCapacity(
      docs.groupBy(sourceCol.as("source"))
        .agg(sum(tokensCol.cast("double")).as("tokens_avail")),
      weights, budget)

  /** The store-fed form of [[tokenBudgetAllocation]]: `capacity` is
    * the per-source capacity table (source, tokens_avail) directly —
    * e.g. a standing rollup an ingest maintains — so planning runs
    * over O(sources) rows with NO corpus rescan (the reference's
    * pre-computed daily-rollup pattern, README.md:15). The corpus-fed
    * overload above is this plus one map-side-combined aggregation, so
    * both produce identical plans on the same capacity facts. */
  def tokenBudgetAllocationFromCapacity(capacity: DataFrame,
                                        weights: DataFrame,
                                        budget: Double): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val all = Window.partitionBy(lit(0))
    // total order (ratio, source): ties broken so the RANGE-frame
    // cumulative sums are identical in any engine replaying this
    val ord = all.orderBy(col("__ratio"), col("source"))
    val caps = capacity
      .select(col("source"), col("tokens_avail").cast("double"))
      // weights collapse to source grain BEFORE the join: a duplicate
      // source row would otherwise fan the capacity row out and charge
      // phantom capacity against the budget (duplicate weights sum —
      // two grants of share — rather than silently corrupting)
      .join(weights.groupBy("source")
        .agg(sum(col("weight").cast("double")).as("__wr")), Seq("source"))
    caps
      .where(col("__wr") > 0)
      .withColumn("__w", col("__wr") / sum("__wr").over(all))
      .withColumn("__ratio", col("tokens_avail") / col("__w"))
      .withColumn("__cumT", sum("tokens_avail").over(ord))
      .withColumn("__cumW", sum("__w").over(ord))
      // saturation test against the water level implied by the
      // saturated prefix BEFORE this source (exclusive sums via
      // inclusive − own); multiplied form keeps it division-free
      .withColumn("saturated",
        col("tokens_avail") * (lit(1.0) - col("__cumW") + col("__w")) <=
          (lit(budget) - col("__cumT") + col("tokens_avail")) * col("__w"))
      .withColumn("__satT",
        sum(when(col("saturated"), col("tokens_avail")).otherwise(0.0))
          .over(all))
      // the unsaturated-weight mass SUMMED DIRECTLY, not 1 − Σw_sat:
      // with a ~1e12:1 weight skew the complement cancels to 0 in
      // doubles, λ blows up (or nulls) and an unsaturated source
      // would take its whole capacity, overspending the budget; the
      // direct sum is exact — zero iff no unsaturated source exists
      .withColumn("__unsatW",
        sum(when(col("saturated"), 0.0).otherwise(col("__w"))).over(all))
      .withColumn("__lambda",
        when(col("__unsatW") === 0.0, lit(null).cast("double"))
          .otherwise((lit(budget) - col("__satT")) / col("__unsatW")))
      .withColumn("allocation", round(
        when(col("saturated"), col("tokens_avail"))
          .otherwise(least(col("tokens_avail"),
            col("__lambda") * col("__w"))), 6))
      .withColumn("take_rate",
        round(col("allocation") / col("tokens_avail"), 6))
      .select(col("source"), col("tokens_avail"),
        round(col("__w"), 6).as("weight"), col("allocation"),
        col("take_rate"), col("saturated"))
  }

  /** Materialize a [[tokenBudgetAllocation]] plan: keep each document
    * with probability its source's planned `take_rate`, decided by the
    * row's stable 24-bit md5 draw ([[Sampling.uniform24]] — same ids →
    * same sample on every run and engine). The 24-bit coin, not the
    * 8-bit [[Sampling.splitBucket]]: a small budget over a huge corpus
    * plans take_rates far below 1/256, where an 8-bit floor would keep
    * ZERO documents and strand the source's whole allocation;
    * quantization error here is ≤ 2⁻²⁴. The rate is planned on the
    * capacity unit (tokens) while the coin is per DOCUMENT, so a
    * source's kept tokens hit its allocation in expectation; exact
    * token-grain spend needs chunk-level rows ([[chunkDocs]]) fed as
    * the docs. Saturated sources (take_rate 1) keep everything.
    *
    * Scale: the allocation table is source-cardinality — broadcast;
    * the coin is row-local, so the pass rides the scan like every
    * deterministic sampler here. */
  def budgetedSample(docs: DataFrame, sourceCol: Column, id: Column,
                     alloc: DataFrame): DataFrame =
    docs.join(broadcast(alloc
        .select(col("source").as("__bs_src"), col("take_rate"))),
        sourceCol === col("__bs_src"))
      .filter(Sampling.uniform24(id) <
        col("take_rate") * lit((1 << 24).toDouble))
      .drop("__bs_src", "take_rate")
}
