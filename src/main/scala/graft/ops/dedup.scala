package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.fastMd5

/** Deduplication operators for training-data pipelines.
  *
  * Scale posture (100 TB): every variant is sub-quadratic — exact dedup is
  * one hash-shuffle on a 32-byte key (not the full text); near-dup variants
  * bucket first (LSH bands / simhash prefixes / cheap blocking keys) so the
  * pairwise work happens only inside buckets. Nothing here collects to the
  * driver.
  */
object Dedup {

  /** Exact dedup via md5(text): one shuffle on the digest, keeps the
    * smallest id per group. Shuffling a fixed-width digest instead of the
    * raw document keeps shuffle bytes ~constant per row at any document
    * size. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(fastMd5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Fingerprint dedup: order/duplicate-insensitive token-bag key
    * (Text.fingerprint) — catches shuffled/repeated-word near-copies with
    * exact-dedup cost. */
  def byFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(Text.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature columns minhash_0..minhash_{k-1} over word
    * n-gram shingles. Row-local (higher-order fns over the shingle array,
    * no explode, no shuffle).
    *
    * Cost shape: ONE md5 per shingle (Text.shingleHash materialized by a
    * transform stage), then all seed-minima in one fold whose per-seed
    * work is two integer ops — a md5-per-seed formulation pays numHashes
    * x the digest cost, the dominant CPU of this pipeline at corpus
    * scale. Identical values to per-seed Text.minhash (min is order- and
    * duplicate-insensitive). MinhashMod is the fold's +infinity (every
    * h_i < M). */
  def withMinhashSignature(df0: DataFrame, textCol: String,
                           numHashes: Int, shingleSize: Int): DataFrame = {
    val df = Scale.widen(df0)
    // fused custom expression: one digest per shingle, two integer ops
    // per seed, all minima in one loop (the HOF aggregate/zip_with fold
    // paid an interpreted closure per (shingle, seed) — see
    // functions.MinHashSigExpression for the exact-identity argument)
    val (as, bs) = (0 until numHashes).map(Text.minhashParams).unzip
    val sig = graft.functions.GraftFunctions.minhashSig(
      Text.shingles(col(textCol), shingleSize), as, bs, Text.MinhashMod)
    val withSig = df.withColumn("__sig", sig)
    val sigCols = (0 until numHashes).map(i =>
      element_at(col("__sig"), i + 1).as(s"minhash_$i"))
    withSig.select(df.columns.map(col) ++ sigCols: _*).drop("__sig")
  }

  /** In-bucket pair expansion with a hard bound on per-row state.
    *
    * `rows` must carry a bucket column and an entry column (any orderable
    * type — plain id or a struct whose first field is the id). Buckets of
    * 2..maxBucket entries take the cheap path: one hash-shuffle, a sorted
    * collect_list, and array-lambda expansion (the upstream signature is
    * computed once per row, never per pair). Buckets LARGER than maxBucket
    * — degenerate boilerplate keys at corpus scale — would otherwise
    * materialize the whole bucket as one array row and OOM an executor,
    * so they fall back to a bucket-equi self-join: identical pair set,
    * bounded row width, quadratic work spread across tasks instead of
    * concentrated in one aggregation buffer. Both branches share the
    * bucket-keyed exchange (AQE ReuseExchange), and the window count that
    * routes rows needs no second shuffle. */
  private[ops] def boundedBucketPairs(rows: DataFrame, bucketCol: String,
      entryCol: String, maxBucket: Int,
      mkPair: (Column, Column) => Column): DataFrame = {
    val byBucket = org.apache.spark.sql.expressions.Window.partitionBy(bucketCol)
    val counted = rows.withColumn("__n", count(lit(1)).over(byBucket))
    val small = counted
      .where(col("__n") > 1 && col("__n") <= maxBucket)
      .groupBy(bucketCol)
      .agg(sort_array(collect_list(col(entryCol))).as("xs"))
      .select(explode(flatten(transform(col("xs"), (x, i) =>
        transform(slice(col("xs"), i + 2, size(col("xs"))),
          y => mkPair(x, y))))).as("p"))
    val big = counted.where(col("__n") > maxBucket)
    val bigPairs = big
      .select(col(bucketCol).as("__bka"), col(entryCol).as("__ea"))
      .join(big.select(col(bucketCol).as("__bkb"), col(entryCol).as("__eb")),
        // null-SAFE key equality: a null bucket (e.g. simhash of a null
        // text) groups in the small path, so the join path must pair it
        // too or capped vs uncapped results would diverge
        col("__bka") <=> col("__bkb") && col("__ea") < col("__eb"))
      .select(mkPair(col("__ea"), col("__eb")).as("p"))
    small.unionByName(bigPairs)
  }

  /** Join-only variant of [[boundedBucketPairs]] for callers whose
    * per-row entries are CHEAP to evaluate twice — a precomputed (and
    * typically session-cached) `(id, hash)` frame, NOT an expensive
    * signature pipeline. The bucket-keyed self-join streams every pair
    * through whole-stage codegen; [[boundedBucketPairs]]' small path
    * instead builds each bucket's full pair array inside one
    * interpreted higher-order-function eval (a 1.3k-row hot bucket =
    * ~900k struct allocations in a single expression eval, measured
    * ~500 ns/pair vs a codegen'd join's tens of ns). Identical pair
    * set: same null-safe bucket equality, same strict entry ordering;
    * no per-bucket array ever exists, so no maxBucket backstop is
    * needed. Do NOT use when the entry column rides an uncached
    * expensive upstream (image decode, minhash signatures) — both join
    * sides would recompute it. */
  private[ops] def bucketJoinPairs(rows: DataFrame, bucketCol: String,
      entryCol: String, mkPair: (Column, Column) => Column): DataFrame =
    rows.select(col(bucketCol).as("__bka"), col(entryCol).as("__ea"))
      .join(rows.select(col(bucketCol).as("__bkb"), col(entryCol).as("__eb")),
        col("__bka") <=> col("__bkb") && col("__ea") < col("__eb"))
      .select(mkPair(col("__ea"), col("__eb")).as("p"))

  /** MinHash-LSH candidate pairs: signature -> bands -> band-hash buckets
    * -> in-bucket pair expansion. One bucket-keyed shuffle and one
    * signature evaluation per row (a naive self-join would recompute the
    * md5 signatures on both sides). Quadratic blow-up is confined to
    * colliding buckets (the candidates we want); buckets above `maxBucket`
    * (all-identical boilerplate at corpus scale) switch to join-based
    * expansion so no single row ever holds a whole bucket.
    *
    * EXACT-DUPLICATE texts are factored out before the band phase
    * (when `factorExactGroups` allows — see the gate note in the body):
    * rows group on md5(text), a window picks the lowest-id
    * representative per group, bands run over representatives only,
    * and pairs expand back through the groups afterwards. The
    * candidate-pair SET is provably unchanged — identical texts have
    * identical signatures, so (a) within-group pairs always collide in
    * every band and are emitted directly from the group (via the same
    * bounded expansion), and (b) a cross-group pair is a candidate iff
    * its representatives collide, so rep pairs expand to member pairs
    * by two equi-joins. What changes is the work: a corpus-scale
    * boilerplate cluster used to push its quadratic pair set through
    * EVERY band and the global distinct (bands × C(n,2) shuffled
    * rows); now it is one group whose single representative emits no
    * band pairs at all, its pair set generated once, and the distinct
    * shrinks to representative pairs. Web-crawl corpora are 30-50%
    * exact dups — this is the batch form of exact-before-near dedup
    * ordering, fused into the operator.
    *
    * Shuffle-bytes note: signatures are computed row-locally on EVERY
    * row before the grouping (duplicate rows pay their shingle hashing
    * in the scan stage), so the group shuffle moves only (id, digest,
    * numHashes ints) per row — never the text. The alternative
    * (signature only on representatives) needs a representative TEXT
    * per group to survive a shuffle, i.e. moves ~distinct-fraction ×
    * corpus bytes; at document sizes ≫ ~100 B the fixed-width shuffle
    * is far cheaper, and the extra hashing is row-local CPU that
    * scales with cores, not network. */
  def minhashCandidatePairs(df: DataFrame, textCol: String, idCol: String,
                            numHashes: Int = 8, bands: Int = 4,
                            shingleSize: Int = 3,
                            maxBucket: Int = 4096,
                            factorExactGroups: Option[Boolean] = None
                           ): DataFrame = {
    require(numHashes % bands == 0)
    val rowsPerBand = numHashes / bands
    // NULL-text docs have an undefined minhash — they produce no band
    // rows and no pairs, the same semantics as a SQL replay where a
    // null token list poisons the signature to NULL and a NULL
    // band_hash never equi-joins. (Short/empty NON-null texts are
    // fine: the shingle fallback is the whole text, identically on
    // both engines.) Filtering also keeps __th non-null below.
    val base = df.where(col(textCol).isNotNull)
    // exact-group factoring is a big win at web-crawl dup rates
    // (30-50 % exact copies, boilerplate cliques) but a ~2× tax on an
    // already-deduped corpus: the rep-selection window plus the
    // within/cross expansion joins run whether or not any group has 2
    // members. Callers who know their dup profile pass the hint;
    // `None` decides with one cheap digest pass (md5 + a group count —
    // no shingling, no bands). The decision signal is the number of
    // exact-dup PAIRS Σ C(|g|,2) — precisely the per-band quadratic
    // row count factoring would avoid — so a corpus of scattered
    // 2-member groups stays unfactored (2× band rows ≠ blow-up) while
    // one 10⁴-member boilerplate clique (10⁸ pairs × bands) flips the
    // gate no matter how low the overall dup RATE is. The probe reads
    // the text column once more, so at full corpus scale prefer the
    // explicit hint.
    val factor = factorExactGroups.getOrElse {
      val g = base
        .groupBy(fastMd5(col(textCol)).as("__g"))
        .agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n") * (col("__n") - 1) / 2).as("dup_pairs"),
          sum(col("__n")).as("n")).head()
      !g.isNullAt(0) && g.getDouble(0) > 0.05 * g.getLong(1)
    }
    val sig = withMinhashSignature(base, textCol, numHashes, shingleSize)
      .withColumn("__th", fastMd5(col(textCol)))
    val sigCols = (0 until numHashes).map(i => col(s"minhash_$i"))
    val bandStructs = (0 until bands).map { b =>
      val bandCols = (0 until rowsPerBand).map(r => col(s"minhash_${b * rowsPerBand + r}"))
      struct(lit(b).as("band_idx"), fastMd5(concat_ws("|", bandCols: _*)).as("band_hash"))
    }
    if (!factor) {
      // all texts distinct: band every row directly — identical pair
      // set to the factored path (every group is its own singleton
      // representative; `within` is empty and `cross` degenerates to
      // the rep pairs), minus the window and expansion machinery
      val banded = sig
        .select(col(idCol), explode(array(bandStructs: _*)).as("band"))
        .select(col("band").as("__bucket"), col(idCol).as("__e"))
      return boundedBucketPairs(banded, "__bucket", "__e", maxBucket,
          (x, y) => struct(x.as("id_a"), y.as("id_b")))
        .select(col("p.id_a"), col("p.id_b")).distinct()
    }
    // fixed-width projection BEFORE the window: id + digest + signature
    val tagged = sig
      .select(col(idCol) +: col("__th") +: sigCols: _*)
      .withColumn("__rep", min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__th")))
    // ---- band phase over one representative per distinct text
    val banded = tagged.where(col(idCol) === col("__rep"))
      .select(col(idCol), explode(array(bandStructs: _*)).as("band"))
      .select(col("band").as("__bucket"), col(idCol).as("__e"))
    val repPairs = boundedBucketPairs(banded, "__bucket", "__e", maxBucket,
        (x, y) => struct(x.as("id_a"), y.as("id_b")))
      .select(col("p.id_a"), col("p.id_b")).distinct()
    // ---- expansion: groups are disjoint and rep pairs distinct, so the
    // union below is duplicate-free WITHOUT a member-level distinct —
    // within-group pairs live inside one group, cross-group pairs span
    // two different groups, and each is generated exactly once
    val members = tagged.select(col("__rep"), col(idCol).as("__m"))
    val within = boundedBucketPairs(
        tagged.select(col("__th").as("__bucket"), col(idCol).as("__e")),
        "__bucket", "__e", maxBucket,
        (x, y) => struct(x.as("id_a"), y.as("id_b")))
      .select(col("p.id_a"), col("p.id_b"))
    val cross = repPairs
      .join(members.select(col("__rep").as("id_a"), col("__m").as("__ma")),
        Seq("id_a"))
      .join(members.select(col("__rep").as("id_b"), col("__m").as("__mb")),
        Seq("id_b"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"))
    within.unionByName(cross)
  }

  /** End-to-end near-dedup: drop every document that is the LARGER id of
    * any candidate pair (pairs always have id_a < id_b), keeping the
    * smallest id of each duplicate cluster reachable by pairwise links.
    * One left-anti join against the distinct drop-set — no iteration; for
    * full connected-component canonicalization run this to a fixpoint or
    * use an iterative min-label propagation, but the keep-first heuristic
    * is the standard training-data dedup policy. */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Resolve candidate pairs into duplicate clusters by iterative
    * min-label propagation: every id starts as its own label; each round,
    * a node adopts the smallest label among itself and its neighbors;
    * stop at fixpoint (or maxIter). Returns (id, cluster_id) for every id
    * that appears in a pair — cluster_id is the smallest id reachable via
    * pair links, i.e. true connected components, unlike keepCanonical's
    * one-hop heuristic.
    *
    * Scale: each round is one join + one agg on the (small) pair set, not
    * the corpus; rounds needed = graph diameter, which for near-dup
    * clusters is tiny (dup clusters are cliques or short chains).
    *
    * `pairsDistinct = true` skips the edge-dedup exchange: safe exactly
    * when the caller's pairs are distinct AND oriented (id_a < id_b, the
    * [[minhashCandidatePairs]] contract) — the two union branches can
    * then never collide, so the distinct was pure cost. Duplicate edges
    * would not change the fixpoint anyway (min is idempotent), only the
    * per-round join fan-out.
    *
    * `maxIter` counts propagation STEPS and must be ≥ 1: the node-set
    * pass doubles as step 1 (min over self + direct neighbors rides
    * the same exchange the identity init needed), so maxIter = k
    * returns labels propagated exactly k hops when the fixpoint is
    * further away. */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 10,
                      pairsDistinct: Boolean = false): DataFrame = {
    require(maxIter >= 1,
      s"maxIter must be >= 1, got $maxIter (the node-set pass IS step 1)")
    // localCheckpoint, not cache: the candidate-pair pipeline upstream
    // (LSH banding, group factoring) is a BIG plan, and caching only
    // short-circuits execution — every propagation round would still
    // re-analyze and re-optimize a plan embedding the whole pipeline,
    // driver time that grows as rounds × plan size. Checkpointing makes
    // the edge set a leaf (same trick as Graph.pageRank), so per-round
    // plans stay constant-size no matter how pairs were produced.
    val both = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val edges = (if (pairsDistinct) both else both.distinct())
      .localCheckpoint()
    // FUSED first step: the node set and round 1 ride ONE exchange —
    // every node appears as `src` (edges carry both orientations), so
    // grouping by src and taking min(self, neighbors) is exactly the
    // first propagation step from the identity labeling, for the same
    // shuffle the old identity init (distinct) paid to produce labels
    // that round 1's join would immediately re-derive. One join + one
    // driver barrier less end to end (interleaved-min 1.41 -> 1.04 s
    // on the q99 pair set; a double-step-per-barrier variant measured
    // WORSE, 1.93 s — its intermediate frame is consumed by two plan
    // branches and recomputed).
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(min("dst"), col("src")).as("cluster_id")).cache()
    var backing = labels // the cached frame `labels` projects from
    var converged = false
    var iter = 1
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src").as("id"))
        .agg(min("cluster_id").as("nmin"))
      // carry the previous label through the projection so convergence is
      // a filter over the cached frame, not another join per round
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
            .as("cluster_id"),
          col("cluster_id").as("__prev"))
        .cache()
      // a count, not `limit(1)`: a code-generated limit compiles a new
      // class per call (its counter is named from a JVM-wide sequence)
      val changed = next.filter(col("cluster_id") =!= col("__prev"))
        .count() > 0
      backing.unpersist()
      backing = next
      labels = next.select("id", "cluster_id")
      converged = !changed
      iter += 1
    }
    // the final labels cache must be COMPLETE before the edge blocks
    // are released (the checkpoint truncated lineage, so a later
    // recompute of an unmaterialized cache partition has nothing to
    // read). Every round's change count scanned the whole frame, so
    // only a maxIter = 1 call, which never enters the loop, has not.
    if (iter == 1) labels.queryExecution.toRdd.count()
    Scale.releaseLocalCheckpoint(edges)
    labels
  }

  /** Exact n-gram Jaccard similarity for candidate pairs that share a
    * blocking key. The key is REQUIRED: pairwise work is quadratic inside
    * each block, so an unkeyed call would be a full corpus cross-join —
    * callers who really want that must say `_ => lit(1)` explicitly. The
    * 100 TB path swaps the blocking key for minhashCandidatePairs above. */
  def ngramJaccardPairs(df0: DataFrame, textCol: String, idCol: String,
                        n: Int, minJaccard: Double,
                        blockingKey: DataFrame => Column): DataFrame = {
    val df = Scale.widen(df0)
    val withKey = df
      .withColumn("__block", blockingKey(df))
      .withColumn("__sh", array_distinct(Text.shingles(col(textCol), n)))
      .select(col(idCol), col("__block"), col("__sh"))
    val a = withKey.select(col("__block"), col(idCol).as("id_a"), col("__sh").as("sh_a"))
    val b = withKey.select(col("__block"), col(idCol).as("id_b"), col("__sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val uni = size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    a.join(b, Seq("__block"))
      .where(col("id_a") < col("id_b"))
      .withColumn("__j", inter / uni)
      // RAW-ratio threshold, rounding only for presentation — the same
      // contract as the prefix-filter joins (whose exactness lemma is
      // derived for the raw Jaccard): a 0.2999996 pair must not slip
      // in via round-to-0.3, or brute-force parity breaks on
      // borderline pairs
      .where(col("__j") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("__j"), 6).as("jaccard"))
  }

  /** Per-document distinct shingle-digest sets, packed as arrays
    * sorted by the GLOBAL (document frequency asc, digest asc) total
    * order — the shared substrate of the prefix-filter joins. The
    * shingle stream has exactly ONE consumer in both ordering modes
    * (the window count in the self-ordering path, the frozen-table
    * join otherwise), so nothing upstream needs pinning: the eager
    * digest checkpoint the earlier dfreq-join formulation required
    * (its token stream fed two concurrent shuffle stages that would
    * otherwise race to hash the corpus twice) is gone, and with it a
    * full re-hash pass per invocation. The packed frame is cache()'d
    * — it feeds every join branch, but lazily: the in-memory relation
    * dedupes the subtree within one execution without an eager barrier
    * (measured ~2x over a second checkpoint at sf0.1). LRU eviction
    * bounds the footprint across calls; rows are fixed-width,
    * corpus-linear. Returns (__id, __ord, __sz). */
  private[graft] def orderedShingleSets(df0: DataFrame, textCol: String,
                                      idCol: String, n: Int,
                                      dfTable: Option[DataFrame] = None
                                     ): DataFrame = {
    val df = Scale.widen(df0)
    val shingled = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        array_distinct(transform(Text.shingles(col(textCol), n),
          x => fastMd5(x))).as("__sh"))
    val toks = shingled.select(col("__id"), explode(col("__sh")).as("__h"))
    // the ordering df: computed from THIS corpus by default; a caller-
    // pinned frozen table makes the total order stable across corpus
    // growth (the standing-index requirement — see shingleDfTable).
    // Tokens absent from a frozen table are unseen-in-reference, i.e.
    // the rarest: df 0 sorts them first, consistent with rare-first.
    val withDf = dfTable match {
      case Some(t) =>
        toks.join(t.select(col("h").as("__h"), col("df").as("__df")),
            Seq("__h"), "left")
          .withColumn("__df", coalesce(col("__df"), lit(0L)))
      case None =>
        // per-digest document frequency as a count-over-window on the
        // ONE digest-keyed exchange (toks rows are per-doc DISTINCT, so
        // rows-per-__h = document frequency) — the earlier
        // groupBy+self-join formulation shuffled the token stream
        // TWICE on the same key and paid a sort-merge join for it
        toks.withColumn("__df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("__h")))
    }
    val packed = withDf
      .groupBy("__id")
      .agg(transform(
        array_sort(collect_list(struct(col("__df"), col("__h")))),
        s => s.getField("__h")).as("__ord"))
      .withColumn("__sz", size(col("__ord")))
    packed.cache()
  }

  /** Frozen (h, df) shingle document-frequency table for a reference
    * corpus snapshot — pin this ONCE and pass it to every
    * [[jaccardIndexTables]] / [[admitAgainstJaccardIndex]] call so the
    * rare-first total order stays identical as the corpus grows (a
    * per-batch recomputed order would silently invalidate every
    * prefix already stored in the index). Vocabulary-sized, and
    * CACHED — "frozen" means computed once: without the pin every
    * [[orderedShingleSets]] consumer (one per admitted batch) would
    * re-scan the reference corpus to rebuild it. cache(), not
    * localCheckpoint(): cached blocks lost to executor decommission
    * recompute from lineage, where a checkpoint-block loss would fail
    * every later admission against a long-lived index. The pin covers one session: an index kept
    * across sessions must keep the table with it, since its stored
    * prefixes are valid only under the order they were built with. */
  def shingleDfTable(df: DataFrame, textCol: String, n: Int): DataFrame =
    Scale.widen(df).where(col(textCol).isNotNull)
      .select(explode(array_distinct(transform(
        Text.shingles(col(textCol), n), x => fastMd5(x)))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .cache()

  /** EXACT all-pairs Jaccard similarity join via prefix filtering — every
    * pair with n-gram Jaccard ≥ `minJaccard`, no blocking key, no LSH
    * false negatives (the All-Pairs / PPJoin family: Chaudhuri et al.
    * 2006, Bayardo et al. 2007, Xiao et al. 2008). Use it when recall
    * must be EXACTLY 1.0 (contractual dedup, eval-set decontamination
    * audits); [[minhashCandidatePairs]] stays the probabilistic fast
    * path when a recall floor near 1 is enough.
    *
    * How the quadratic is avoided: order every document's distinct
    * shingle set by GLOBAL document frequency ascending (rarest first,
    * digest tie-break — one total order for the whole corpus). A pair
    * with Jaccard ≥ t must overlap in ≥ ⌈t·|x|⌉ shingles, so each side
    * only needs to index its first |x| − ⌈t·|x|⌉ + 1 shingles: any
    * qualifying pair shares at least one PREFIX shingle (the prefix-
    * filter lemma). Candidates are generated by an equi-join on prefix
    * shingles, size-filtered (t·|a| ≤ |b| ≤ |a|/t), then verified with
    * the exact intersection-over-union — so the output is exact while
    * the pairwise work is confined to prefix collisions, which the
    * df-ascending order makes RARE shingles: boilerplate n-grams shared
    * by millions of documents sort to the suffixes and never generate a
    * candidate.
    *
    * Scale: shingle hashing is row-local; the df table is one keyed
    * count over exploded digests (fixed-width rows); the order-and-pack
    * step is one doc-keyed shuffle; the candidate join is keyed on a
    * 32-hex digest whose fan-out the prefix bound caps at
    * (1 − t)·|doc| + 1 rows per document. Residual hot-prefix skew
    * spreads across tasks as ordinary join skew (AQE skew-join handles
    * it) — no whole-bucket array row is ever built. Verification joins
    * move only the candidate pairs plus each side's digest array.
    *
    * One inherent bound: the OUTPUT is every qualifying pair, so an
    * exact-duplicate clique of n boilerplate documents contributes
    * C(n, 2) result rows by contract — on crawl corpora run
    * [[exact]] dedup first (the factoring [[minhashCandidatePairs]]
    * fuses internally), or accept the quadratic output. */
  def prefixFilterJaccardPairs(df0: DataFrame, textCol: String,
                               idCol: String, n: Int,
                               minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard (0 would be all pairs)")
    pairsFromOrdered(orderedShingleSets(df0, textCol, idCol, n), minJaccard)
  }

  /** Prefix length |x| − ⌈t·|x|⌉ + 1 under an FP-safe ceil: the
    * product is nudged down 1e-9 before `ceil` so double
    * representation error (e.g. 100·0.55 = 55.000000000000007, whose
    * naive ceil is 56, one prefix token SHORT) can only LENGTHEN the
    * prefix — extra candidates for the exact verify stage to discard,
    * never a missed qualifying pair. */
  private[graft] def prefixLenExpr(sz: Column, t: Double): Column =
    (sz - ceil(sz * t - lit(1e-9)) + 1).cast("int")

  /** Size-compatibility filter t·|a| ≤ |b| ≤ |a|/t with the same 1e-9
    * slack on both bounds (55·(100/55) computing to 100.00000000000001
    * must not prune the genuine boundary pair; loosening only adds
    * candidates — the exact verification decides membership). */
  private[graft] def sizeCompatible(sa: Column, sb: Column,
                                    t: Double): Column =
    sb * t <= sa + lit(1e-9) && sa * t <= sb + lit(1e-9)

  /** Log2 size band of a shingle-set size: `length(bin(sz)) - 1` is
    * an EXACT integer ⌊log2 sz⌋ (no floating-point log whose
    * representation error could misplace a power-of-two row). The
    * batch side of [[sizeEnvelopePredicate]] groups by it. */
  private[graft] def jaccardSizeBand(sz: Column): Column =
    (length(bin(sz.cast("long"))) - 1).cast("int")

  /** The store-side size envelope [lo, hi] implied by a batch whose
    * set sizes span [mn, mx] at threshold `t` — the directory-grain
    * form of [[sizeCompatible]], slack widened so the coarse prune can
    * only ADD rows the per-pair filter then discards. */
  private[graft] def sizeEnvelope(mn: Long, mx: Long,
                                  t: Double): (Long, Long) =
    (math.max(1L, math.floor(mn * t - 1e-6).toLong),
      math.ceil(mx / t + 1e-6).toLong)

  /** The standing-prefix prune predicate for a batch of ordered sets:
    * PER-BAND size envelopes, OR'd. Grouping the batch by its own
    * ⌊log2 sz⌋ band and deriving one [t·mn, mx/t] envelope per band
    * bounds the store read even for a MIXED-size batch — one tiny plus
    * one huge document no longer widens a single global envelope to
    * the whole store (each contributes only its own band's envelope).
    * At most 64 bands exist, so the OR chain stays trivially small;
    * on a parquet-backed prefix, row-group min/max stats evaluate the
    * `sz BETWEEN` ranges. An empty batch (no shingleable docs) yields
    * `false` — nothing in the store can match it. */
  private[graft] def sizeEnvelopePredicate(bsets: DataFrame,
      minJaccard: Double): Column = {
    val bands = bsets
      .groupBy(jaccardSizeBand(col("__sz")).as("__b"))
      .agg(min("__sz").as("mn"), max("__sz").as("mx"))
      .collect()
    if (bands.isEmpty) lit(false)
    else bands.map { r =>
      val (lo, hi) = sizeEnvelope(r.getAs[Number]("mn").longValue,
        r.getAs[Number]("mx").longValue, minJaccard)
      col("sz").between(lo, hi)
    }.reduce(_ || _)
  }

  /** Exploded prefix rows `(h, id, pos, sz)` of an
    * [[orderedShingleSets]] frame — the probe/index row shape shared
    * by [[jaccardIndexTables]] and [[admitAgainstJaccardIndex]], so the
    * prefix-length rule lives in exactly one place. */
  private[graft] def prefixRows(sets: DataFrame, t: Double): DataFrame =
    sets.select(col("__id"), col("__sz"),
        posexplode(slice(col("__ord"), lit(1),
          prefixLenExpr(col("__sz"), t))).as(Seq("__p", "__h")))
      .select(col("__h").as("h"), col("__id").as("id"),
        (col("__p") + 1).as("pos"), col("__sz").as("sz"))

  /** Candidate `(id_store, id_new)` pairs of a batch's prefix rows
    * against a standing prefix table: broadcast-semi prune of the
    * store side on the batch's digests, equi-join on the shared
    * prefix digest, [[sizeCompatible]] filter, then the PPJoin
    * positional filter over min collision positions (min over all
    * shared prefix tokens only loosens the bound — prunes no true
    * pair). Both inputs are [[prefixRows]]-shaped. */
  private[graft] def storeCandidates(storePrefix: DataFrame,
      batchPrefix: DataFrame, t: Double): DataFrame = {
    val bp = batchPrefix.select(col("h"), col("id").as("id_new"),
      col("pos").as("pos_new"), col("sz").as("sz_new"))
    val hits = storePrefix.join(
      broadcast(bp.select("h").distinct()), Seq("h"), "left_semi")
    hits.join(bp, Seq("h"))
      .where(sizeCompatible(col("sz"), col("sz_new"), t))
      .groupBy(col("id").as("id_store"), col("id_new"))
      .agg(first(col("sz")).as("sz"), first(col("sz_new")).as("sz_new"),
        min(col("pos")).as("pos"), min(col("pos_new")).as("pos_new"))
      .where(lit(1) + least(col("sz") - col("pos"),
        col("sz_new") - col("pos_new")) >=
        lit(t / (1 + t)) * (col("sz") + col("sz_new")) - lit(1e-9))
      .select("id_store", "id_new")
  }

  /** Exact-Jaccard verification of [[storeCandidates]] pairs: join
    * each implicated store array (`(id_store, __A)`-shaped — caller
    * prunes the fetch) and the batch side's ordered set, keep the
    * batch ids whose true Jaccard crosses the threshold. Returns one
    * column `id_new` (suppressed ids, possibly duplicated). */
  private[graft] def verifySuppressed(cand: DataFrame,
      storeArrays: DataFrame, bsets: DataFrame, t: Double): DataFrame =
    cand.join(storeArrays, Seq("id_store"))
      .join(bsets.select(col("__id").as("id_new"), col("__ord").as("__B")),
        Seq("id_new"))
      .where({
        val i = graft.functions.GraftFunctions
          .intersectCount(col("__A"), col("__B")).cast("double")
        i / (size(col("__A")) + size(col("__B")) - i) >= t
      })
      .select(col("id_new"))

  /** The prefix-filtered exact-Jaccard pair pipeline over a pre-built
    * [[orderedShingleSets]] frame — shared by the all-pairs join and
    * the standing-index admission's in-batch pass. */
  private[graft] def pairsFromOrdered(ordered: DataFrame,
                               minJaccard: Double): DataFrame = {
    val prefixLen = prefixLenExpr(col("__sz"), minJaccard)
    val prefix = ordered.select(col("__id"), col("__sz"),
      posexplode(slice(col("__ord"), lit(1), prefixLen))
        .as(Seq("__p", "__h")))
    // positional filter (the PPJoin refinement): for a qualifying pair
    // the FIRST shared token w* (earliest in the global order, hence
    // the same token in both) satisfies
    //   overlap <= 1 + min(|a| - pos_a(w*), |b| - pos_b(w*)),
    // and min-aggregating positions over all prefix collisions only
    // loosens that bound — so requiring it to reach the Jaccard-
    // implied overlap floor alpha = t/(1+t)·(|a|+|b|) prunes no true
    // pair while discarding candidates whose only collisions sit deep
    // in both prefixes (~half of them on near-dup corpora). The
    // pair-grain groupBy replaces the distinct the unfiltered form
    // needed — same shuffle, strictly more pruning.
    val alpha = lit(minJaccard / (1 + minJaccard)) *
      (col("__sa") + col("__sb")) - lit(1e-9)
    val candidates = prefix
      .select(col("__h"), col("__id").as("id_a"), col("__sz").as("__sa"),
        (col("__p") + 1).as("__pa"))
      .join(prefix.select(col("__h"), col("__id").as("id_b"),
        col("__sz").as("__sb"), (col("__p") + 1).as("__pb")), Seq("__h"))
      .where(col("id_a") < col("id_b") &&
        sizeCompatible(col("__sa"), col("__sb"), minJaccard))
      .groupBy("id_a", "id_b")
      .agg(first(col("__sa")).as("__sa"), first(col("__sb")).as("__sb"),
        min(col("__pa")).as("__pa"), min(col("__pb")).as("__pb"))
      .where(lit(1) + least(col("__sa") - col("__pa"),
        col("__sb") - col("__pb")) >= alpha)
      .select("id_a", "id_b")
    val sets = ordered.select(col("__id"), col("__ord"))
    candidates
      .join(sets.select(col("__id").as("id_a"), col("__ord").as("__A")),
        Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__ord").as("__B")),
        Seq("id_b"))
      // fused intersection COUNT (one set build, no materialized
      // result arrays); |A∪B| = |A| + |B| − |A∩B| on distinct inputs
      .withColumn("__i", graft.functions.GraftFunctions
        .intersectCount(col("__A"), col("__B")).cast("double"))
      .withColumn("__j", col("__i") /
        (size(col("__A")) + size(col("__B")) - col("__i")))
      // threshold on the RAW ratio (rounding only for presentation —
      // a 0.39999 pair must not slip in via round-to-0.4)
      .where(col("__j") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("__j"), 6).as("jaccard"))
  }

  /** Standing EXACT-Jaccard dedup index for a corpus snapshot: two
    * tables from one ordering pass under a FROZEN df order
    * ([[shingleDfTable]]) — `arrays` (id, ord, sz), the packed digest
    * sets exact verification reads; and `prefix` (h, id, pos, sz),
    * the exploded prefix rows candidates equi-join on (persist it
    * bucketed by `h` for a co-located probe, the
    * [[minhashIndex]]-layout discipline). The prefix length is
    * `minJaccard`-specific: an index built for threshold t serves
    * admission at any threshold ≥ t (longer prefixes only add
    * candidates), never below. */
  def jaccardIndexTables(df: DataFrame, textCol: String, idCol: String,
                         n: Int, minJaccard: Double,
                         dfTable: DataFrame): (DataFrame, DataFrame) = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val sets = orderedShingleSets(df, textCol, idCol, n, Some(dfTable))
    val arrays = sets.select(col("__id").as("id"),
      col("__ord").as("ord"), col("__sz").as("sz"))
    (arrays, prefixRows(sets, minJaccard))
  }

  /** Admission gate for a new batch against a standing EXACT-Jaccard
    * index ([[jaccardIndexTables]]): keep only documents with Jaccard
    * < `minJaccard` against EVERY indexed document and every earlier
    * (lower-id) batch document — the exact-threshold form of
    * [[admitAgainstIndex]]'s LSH gate: no suppression from band
    * coincidences below the threshold, no missed near-dup above it,
    * by the prefix-filter recall argument. `dfTable` MUST be the same
    * frozen table the index was built with, or the prefix invariants
    * silently break (the reason the order is pinned at all).
    *
    * Scale: the corpus-scale prefix table is pruned by a broadcast
    * semi-join on the BATCH's prefix digests (scanned, never
    * shuffled); candidates pass the size and PPJoin positional
    * filters before the arrays of only the implicated index rows are
    * fetched for exact verification. The in-batch pass is the exact
    * pair join over the same pre-ordered batch sets. Per batch:
    * O(batch + matched index rows). */
  def admitAgainstJaccardIndex(batch: DataFrame, textCol: String,
                               idCol: String, arrays: DataFrame,
                               prefix: DataFrame, n: Int,
                               minJaccard: Double,
                               dfTable: DataFrame): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    // LAZY checkpoint: the size-envelope collect below is the first
    // action to touch bsets and runs strictly before any other
    // consumer, so it computes the batch ordering AND persists the
    // checkpoint blocks in ONE job — the separate eager ordering
    // barrier is fused into the collect the gate needed anyway. No
    // concurrent-stage race exists here (the collect is sequential
    // driver code), unlike the self-ordering path inside
    // orderedShingleSets where eager stays required. The internal
    // cache stays on: the checkpoint blocks are per-invocation, while
    // the cached ordering is what any identical later invocation in
    // the session resolves to.
    val bsets = orderedShingleSets(batch, textCol, idCol, n,
      Some(dfTable)).localCheckpoint(eager = false)
    // size-envelope prune BEFORE the probe: store rows outside every
    // batch band's [t·mn, mx/t] cannot be size-compatible with ANY
    // batch row, so the filter is semantics-free; on a parquet-backed
    // prefix it prunes row groups via the pushed sz ranges, bounding
    // read I/O by the batch's PER-BAND size envelopes even when the
    // batch itself mixes sizes
    val pruned = prefix.where(sizeEnvelopePredicate(bsets, minJaccard))
    val cand = storeCandidates(pruned, prefixRows(bsets, minJaccard),
      minJaccard)
    val byStore = verifySuppressed(cand,
      arrays.select(col("id").as("id_store"), col("ord").as("__A")),
      bsets, minJaccard)
      .select(col("id_new").as(idCol))
    val inBatch = pairsFromOrdered(bsets, minJaccard)
      .select(col("id_b").as(idCol))
    batch.join(byStore.unionByName(inBatch).distinct(), Seq(idCol),
      "left_anti")
  }

  /** SimHash near-dup: packed simhash + bucket on the top `prefixBits`
    * bits; pairs within a bucket filtered by Hamming distance. One shuffle
    * on a small int key, one simhash evaluation per row (the simhash
    * expression is by far the dominant cost — a self-join would pay it
    * twice). Size `prefixBits` so expected bucket size stays ~constant as
    * the corpus grows (~log2(n / targetBucketSize)); `maxBucket` is the
    * hard backstop — oversized buckets expand via self-join instead of a
    * single whole-bucket array row. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   bits: Int = 32, prefixBits: Int = 8,
                   maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame =
    simhashPairsOfHash(
      Scale.widen(df)
        .select(col(idCol), Text.simhash(col(textCol), bits).as("simhash")),
      "simhash", idCol, bits, prefixBits, maxHamming, maxBucket)

  /** [[simhashPairs]] over a PRECOMPUTED hash column — the call-site
    * shape when the simhash frame is shared (and session-cached) with
    * other consumers. `joinExpansion = true` switches the in-bucket
    * expansion to [[bucketJoinPairs]] (codegen'd self-join): correct
    * for exactly those callers, because re-scanning a cached narrow
    * (id, hash) frame is what the join's two sides cost. The pair set
    * is identical either way. */
  def simhashPairsOfHash(df: DataFrame, hashCol: String, idCol: String,
                         bits: Int = 32, prefixBits: Int = 8,
                         maxHamming: Int = 3, maxBucket: Int = 4096,
                         joinExpansion: Boolean = false): DataFrame = {
    val sh = df
      .select(shiftright(col(hashCol), bits - prefixBits).as("__bucket"),
        struct(col(idCol).as("id"), col(hashCol).as("sim")).as("__e"))
    val mk = (x: Column, y: Column) => struct(
      x.getField("id").as("id_a"), y.getField("id").as("id_b"),
      Text.hammingDistance(x.getField("sim"), y.getField("sim"), bits)
        .as("hamming"))
    val pairs =
      if (joinExpansion) bucketJoinPairs(sh, "__bucket", "__e", mk)
      else boundedBucketPairs(sh, "__bucket", "__e", maxBucket, mk)
    pairs.select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Near-dup pairs over a PRECOMPUTED `bits`-wide hash column via
    * multi-band Hamming blocking: split the hash into `bands`
    * contiguous bit slices, bucket rows by (band index, slice value),
    * expand within-bucket pairs, Hamming-filter, distinct. By
    * pigeonhole, a pair within Hamming distance ≤ bands − 1 has at
    * least one band with zero differing bits, so candidate recall is
    * EXACTLY 1.0 whenever maxHamming < bands — the banding guarantee
    * [[simhashPairs]]'s cheaper single-prefix blocking trades away
    * (a near-dup differing in a top bit changes prefix bucket there).
    * Use it when the hash is already paid for — e.g.
    * [[graft.ops.Multimodal.imageAHash]]'s 64-bit perceptual hash —
    * and recall floors are contractual (QA gates).
    *
    * Scale: `bands` rows per input (fixed fan-out), one shuffle keyed
    * by (band, slice); quadratic expansion confined to colliding
    * buckets with the same `maxBucket` backstop as every banding here.
    * The final distinct dedups pairs that collide in several bands —
    * bounded by bands per pair. */
  def hashBandPairs(df: DataFrame, hashCol: String, idCol: String,
                    bits: Int, bands: Int, maxHamming: Int,
                    maxBucket: Int = 4096,
                    joinExpansion: Boolean = false): DataFrame = {
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming ($maxHamming) < bands ($bands)")
    // ONE band-slicing implementation ([[hashBandIndex]]) serves the
    // all-pairs, index-probe and admission paths — they can never
    // diverge. (Null hashes are absent from the banded rows; they
    // previously paired null-with-null and were dropped by the
    // hamming filter, so the output is identical.)
    val banded = hashBandIndex(Scale.widen(df), hashCol, idCol,
        bits, bands)
      .select(struct(col("band_idx"), col("band_value")).as("__bucket"),
        struct(col("id"), col("h")).as("__e"))
    val mk = (x: Column, y: Column) =>
      struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
        Text.hammingDistance(x.getField("h"), y.getField("h"), bits)
          .as("hamming"))
    // joinExpansion: see [[simhashPairsOfHash]] — only when `df` is a
    // cheap/cached (id, hash) frame (NOT an uncached image decode)
    val pairs =
      if (joinExpansion) bucketJoinPairs(banded, "__bucket", "__e", mk)
      else boundedBucketPairs(banded, "__bucket", "__e", maxBucket, mk)
    pairs.select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** EXACT all-pairs CONTAINMENT join: every ORDERED pair (a, b) with
    * |A ∩ B| / |A| ≥ `minContainment` — "at least this fraction of
    * a's n-grams appear somewhere in b". The asymmetric sibling of
    * [[prefixFilterJaccardPairs]]: Jaccard misses a short document
    * wholly quoted inside a long one (the union dilutes it);
    * containment is the quote/subset/benchmark-inclusion detector
    * ([[ngramContamination]]'s pairwise form, when you need WHICH
    * document contains which, not just a hit count).
    *
    * Same prefix-filter machinery: the contained side `a` indexes only
    * its first |A| − ⌈t·|A|⌉ + 1 shingles under the global rare-first
    * order (a qualifying pair must overlap in ≥ ⌈t·|A|⌉, so its first
    * shared token sits inside a's prefix); the containing side `b` is
    * a FULL inverted index — its required overlap depends on |A|, so
    * it cannot prune independently. The size filter keeps only
    * |B| ≥ t·|A|, and the PPJoin positional bound prunes pairs whose
    * first collision sits too deep on either side. Verification is
    * the exact intersection.
    *
    * Scale note: the full B-side index means a globally-frequent
    * shingle fans out over every document containing it — kept
    * tolerable because the A side only probes with its RARE prefix
    * shingles (boilerplate n-grams sort to A's suffixes and never
    * probe), so the join's per-key work is dfA_prefix × dfB, with the
    * first factor near 1 for hot keys. Residual skew is ordinary join
    * skew (AQE). */
  def prefixFilterContainmentPairs(df0: DataFrame, textCol: String,
                                   idCol: String, n: Int,
                                   minContainment: Double): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0, 1], got $minContainment")
    val ordered = orderedShingleSets(df0, textCol, idCol, n)
    // FP-safe prefix and (one-sided) size bound — the same discipline
    // as prefixLenExpr / sizeCompatible: representation error may only
    // LENGTHEN the prefix or LOOSEN the bound, never drop a pair
    val pA = prefixLenExpr(col("__sz"), minContainment)
    val prefA = ordered.select(col("__id").as("id_a"),
      col("__sz").as("__sa"),
      posexplode(slice(col("__ord"), lit(1), pA)).as(Seq("__pa", "__h")))
    val fullB = ordered.select(col("__id").as("id_b"),
      col("__sz").as("__sb"),
      posexplode(col("__ord")).as(Seq("__pb", "__h")))
    val alpha = lit(minContainment) * col("__sa") - lit(1e-9)
    val candidates = prefA.join(fullB, Seq("__h"))
      .where(col("id_a") =!= col("id_b") &&
        col("__sb") + lit(1e-9) >= lit(minContainment) * col("__sa"))
      .groupBy("id_a", "id_b")
      .agg(first(col("__sa")).as("__sa"), first(col("__sb")).as("__sb"),
        min(col("__pa") + 1).as("__pa"), min(col("__pb") + 1).as("__pb"))
      .where(lit(1) + least(col("__sa") - col("__pa"),
        col("__sb") - col("__pb")) >= alpha)
      .select("id_a", "id_b")
    val sets = ordered.select(col("__id"), col("__ord"))
    candidates
      .join(sets.select(col("__id").as("id_a"), col("__ord").as("__A")),
        Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__ord").as("__B")),
        Seq("id_b"))
      .withColumn("__c", graft.functions.GraftFunctions
        .intersectCount(col("__A"), col("__B")).cast("double") /
        size(col("__A")).cast("double"))
      .where(col("__c") >= minContainment)
      .select(col("id_a"), col("id_b"),
        round(col("__c"), 6).as("containment"))
  }

  /** Banded rows of a precomputed `bits`-wide hash column — `(id, h,
    * band_idx, band_value)`, the fixed-width standing-index shape for
    * HASH-based near-dup (text simhash, image aHash): the
    * [[minhashIndex]] analogue for corpora whose similarity key is a
    * single integer hash. Row-local (fixed `bands`-way fan-out inside
    * the scan); persist bucketed by `band_value` for a co-located
    * probe at corpus scale, exactly like the minhash index. Null
    * hashes are absent from the index (undecodable images, null
    * texts) — they collide with nothing. */
  def hashBandIndex(df: DataFrame, hashCol: String, idCol: String,
                    bits: Int, bands: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits")
    require(bands >= 1 && bits % bands == 0,
      s"bands ($bands) must divide bits ($bits)")
    val w = bits / bands
    val mask = if (w == 64) -1L else (1L << w) - 1
    df.select(col(idCol).as("id"), col(hashCol).as("h"))
      .where(col("h").isNotNull)
      .select(col("id"), col("h"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("band_idx"))
      .withColumn("band_value",
        expr(s"shiftright(h, cast(band_idx * $w AS INT)) & ${mask}L"))
  }

  /** Near-dup pairs between a NEW batch and a standing
    * [[hashBandIndex]] — incremental Hamming dedup of a continuously
    * ingested corpus over a precomputed hash: band the batch, never
    * re-band history, Hamming-filter the collisions. By pigeonhole the
    * recall is EXACTLY 1.0 for pairs within `maxHamming < bands`
    * (see [[hashBandPairs]]). Returns distinct `(id_store, id_new,
    * hamming)` with hamming ≤ maxHamming.
    *
    * Scale: the corpus-sized index is pruned by a broadcast semi-join
    * on the BATCH's distinct band keys before anything else touches
    * it — the index is scanned once and never shuffled; only matching
    * index rows (micro-batch-bounded) reach the pair join. */
  def pairsAgainstHashIndex(batch: DataFrame, hashCol: String,
                            idCol: String, index: DataFrame, bits: Int,
                            bands: Int, maxHamming: Int): DataFrame = {
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming ($maxHamming) < bands ($bands)")
    val probe = hashBandIndex(Scale.widen(batch), hashCol, idCol,
      bits, bands).localCheckpoint()
    hashPairsProbed(probe, index, bits, maxHamming)
  }

  /** [[pairsAgainstHashIndex]] with the batch's banded rows already
    * computed (and materialized) by the caller — the streaming sink
    * derives its write frame, touched-bucket prune AND admission from
    * one banding pass. */
  private[graft] def hashPairsProbed(probe: DataFrame, index: DataFrame,
                                     bits: Int,
                                     maxHamming: Int): DataFrame = {
    val probeKeys = probe.select("band_idx", "band_value").distinct()
    val hits = index
      .join(broadcast(probeKeys), Seq("band_idx", "band_value"), "left_semi")
    hits.alias("s").join(probe.alias("n"), Seq("band_idx", "band_value"))
      .select(col("s.id").as("id_store"), col("n.id").as("id_new"),
        Text.hammingDistance(col("s.h"), col("n.h"), bits).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Admission gate for a new batch against a standing
    * [[hashBandIndex]]: keep only rows within Hamming distance
    * `maxHamming` of NO index hash and of no earlier (lower-id)
    * same-batch hash — [[admitAgainstIndex]]'s policy for
    * hash-keyed near-dup (simhash streams, image aHash ingest).
    * Unlike the minhash gate (existence of a band collision), this
    * one verifies the EXACT Hamming distance on collisions, so a
    * single-band coincidence does not suppress a genuinely-far row.
    * Null-hash rows are admitted (nothing to collide with). */
  def admitAgainstHashIndex(batch: DataFrame, hashCol: String,
                            idCol: String, index: DataFrame, bits: Int,
                            bands: Int, maxHamming: Int): DataFrame = {
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming ($maxHamming) < bands ($bands)")
    val probe = hashBandIndex(Scale.widen(batch), hashCol, idCol,
      bits, bands).localCheckpoint()
    admitHashProbed(batch, idCol, probe, index, bits, maxHamming)
  }

  /** [[admitAgainstHashIndex]] over a pre-banded (materialized) probe
    * frame: ONE banding pass feeds the store check, the in-batch
    * check, and whatever else the caller derives from the probe (the
    * streaming sink's write frame and touched-bucket prune). The
    * in-batch pass pairs the probe against itself on the band keys —
    * the same collision set [[hashBandPairs]] would produce, without
    * re-banding. */
  private[graft] def admitHashProbed(batch: DataFrame, idCol: String,
                                     probe: DataFrame, index: DataFrame,
                                     bits: Int,
                                     maxHamming: Int): DataFrame = {
    val store = hashPairsProbed(probe, index, bits, maxHamming)
      .select(col("id_new").as(idCol))
    val later = probe.select(col("band_idx").as("bi_a"),
      col("band_value").as("bv_a"), col("id").as("id_a"),
      col("h").as("h_a"))
    val earlier = probe.select(col("band_idx").as("bi_b"),
      col("band_value").as("bv_b"), col("id").as("id_b"),
      col("h").as("h_b"))
    val inBatch = later.join(earlier,
        col("bi_a") === col("bi_b") && col("bv_a") === col("bv_b") &&
          col("id_a") > col("id_b"))
      .where(Text.hammingDistance(col("h_a"), col("h_b"), bits)
        <= maxHamming)
      .select(col("id_a").as(idCol))
    batch.join(store.unionByName(inBatch).distinct(), Seq(idCol),
      "left_anti")
  }

  /** Sub-document exact dedup (the paragraph-dedup of CCNet/Gopher,
    * over fixed-size token chunks since the corpus has no paragraph
    * markers): cut each document into non-overlapping `chunkTokens`-token
    * chunks, keep only the FIRST occurrence of each distinct chunk
    * corpus-wide (first = lowest (doc id, chunk_idx)), and rebuild each
    * document from its surviving chunks in order. Returns per document:
    * (idCol, n_chunks, n_kept, rebuilt_len, rebuilt_md5) — rebuilt text
    * is the space-joined surviving chunks ("" when everything was a
    * repeat). Documents with no tokens are dropped (nothing to chunk).
    *
    * Scale: the first-occurrence choice is a row_number window keyed on
    * the chunk HASH — fixed-width shuffle key, values are one chunk per
    * row, never a per-hash array; the rebuild groups by document id,
    * whose fan-in is bounded by tokens/chunkTokens per doc. */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 16): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be > 0, got $chunkTokens")
    val ch = df
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol),
        posexplode(sequence(lit(0), size(col("__toks")) - 1,
          lit(chunkTokens))).as(Seq("__ci", "__s")),
        col("__toks"))
      .select(col(idCol), col("__ci").cast("long").as("__ci"),
        concat_ws(" ",
          slice(col("__toks"), col("__s") + 1, lit(chunkTokens)))
          .as("__txt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(fastMd5(col("__txt"))).orderBy(col(idCol), col("__ci"))
    ch.withColumn("__first", row_number().over(w) === 1)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__first"), 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN __first " +
            "THEN struct(__ci, __txt) END)), p -> p.__txt)"), " ")
          .as("__rebuilt"))
      .select(col(idCol), col("n_chunks"), col("n_kept"),
        length(col("__rebuilt")).cast("long").as("rebuilt_len"),
        fastMd5(col("__rebuilt")).as("rebuilt_md5"))
  }

  /** Cross-document exact-substring duplication profile — a
    * fingerprint-sampled approximation of suffix-array substring dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"), selected the way MOSS selects k-grams (Schleimer
    * et al. 2003): hash the `windowChars`-wide window at EVERY
    * position, keep the ~1/`sampleMod` whose digest ≡ 0 (mod
    * `sampleMod`), and flag kept windows whose text occurs in ≥ 2
    * distinct documents. Selection is content-defined, so a verbatim
    * run shared by two documents selects the SAME windows in both
    * regardless of byte alignment — the property positional stride
    * sampling lacks.
    *
    * Output: one row per input document — doc_id (named `idCol`),
    * n_windows (selected), n_dup_windows, dup_frac (0.0 when nothing
    * was selected).
    *
    * Scale: window hashing is row-local (`sequence` + `transform` +
    * `filter` inside the scan stage — only selected 32-hex digests and
    * the doc id leave the row, ~1/sampleMod of positions); the
    * duplicated-digest set is one keyed count flowing back through a
    * semi-join on the digest. Nothing is quadratic in documents and no
    * bucket is ever collected into a single row.
    *
    * Two fingerprint modes, same plan shape and same selection
    * semantics: `rollingHash = false` (default) md5s every window —
    * engine-portable, so DuckDB can replay it cell-exactly (the q136
    * oracle path); `rollingHash = true` uses the codegen'd Rabin-Karp
    * expression ([[graft.functions.RollingFingerprintExpression]]) —
    * one multiply-add per character instead of one md5 per position,
    * the mode a 100 TB corpus runs. */
  def substringDupWindows(df: DataFrame, idCol: String, textCol: String,
                          windowChars: Int = 40, sampleMod: Int = 20,
                          rollingHash: Boolean = false): DataFrame = {
    // bounds mirror the fused fingerprint expressions' plan-time
    // requires (Md5FingerprintsExpression reads a 12-bit selector, so
    // sampleMod ≤ 4096; both cap windowChars at 64 KiB) — checked here
    // so the public API states the contract instead of a deeper
    // expression throwing at plan time
    require(windowChars > 0 && windowChars <= (1 << 16),
      s"windowChars must be in [1, 65536], got $windowChars")
    require(sampleMod > 0 && sampleMod <= 4096,
      s"sampleMod must be in [1, 4096], got $sampleMod")
    // md5 mode: first 3 hex digits of the digest as an int in [0, 4096)
    // — the engine-portable selector (DuckDB replays the arithmetic);
    // both modes run as ONE fused expression (the md5 HOF chain was the
    // suite's single hottest expression, and the old three-branch plan
    // below evaluated it three times)
    val fingerprints =
      if (rollingHash)
        graft.functions.GraftFunctions.rollingFingerprints(
          col(textCol), windowChars, sampleMod)
      else
        graft.functions.GraftFunctions.md5Fingerprints(
          col(textCol), windowChars, sampleMod)
    // single evaluation of the fingerprint expression: pre-aggregate to
    // (window hash, doc, occurrence count), count the docs sharing each
    // hash with a window over the hash partition (count of (h, doc)
    // rows = count of DISTINCT docs), then roll both per-doc totals up
    // in one doc-grain aggregate. Identical output to the previous
    // dupHashes/left-semi/two-join formulation — n_windows counts every
    // occurrence, n_dup_windows every occurrence whose hash appears in
    // ≥ 2 docs — but the scan+fingerprint subtree runs once instead of
    // three times (the three branches shuffled on different keys, so
    // nothing was reusable), and two joins + a distinct drop out.
    val wins = df.select(col(idCol), fingerprints.as("__hs"))
      .select(col(idCol), explode(col("__hs")).as("__h"))
    val perDocHash = wins.groupBy(col("__h"), col(idCol))
      .agg(count(lit(1)).as("__cnt"))
    val wDocs = org.apache.spark.sql.expressions.Window.partitionBy("__h")
    val perDoc = perDocHash
      .withColumn("__docs", count(lit(1)).over(wDocs))
      .groupBy(idCol)
      .agg(sum(col("__cnt")).as("n_windows"),
        sum(when(col("__docs") >= 2, col("__cnt")).otherwise(lit(0L)))
          .as("n_dup_windows"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        when(coalesce(col("n_windows"), lit(0L)) > 0,
          coalesce(col("n_dup_windows"), lit(0L)).cast("double") /
            col("n_windows").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Benchmark decontamination: flag training documents sharing word
    * n-grams with an evaluation set (the GPT-3 appendix-C / Llama
    * overlap procedure — a training corpus must not contain the
    * benchmarks it will be judged on).
    *
    * Output: one row per corpus document — `n_ngrams` (distinct
    * n-grams in the doc), `n_hit` (how many of those appear ANYWHERE
    * in the benchmark set), `hit_frac`, and `contaminated`
    * (n_hit ≥ minHits).
    *
    * Scale (100 TB corpus, benchmark ≪ corpus — the real shape:
    * benchmarks are a few thousand documents): the benchmark n-gram
    * set is distinct-ed to 32-byte digests and BROADCAST, so the whole
    * corpus side is ONE pass: explode the per-doc distinct grams,
    * broadcast-hash-join the benchmark digests inside the scan stage
    * (zero corpus shuffle), and aggregate gram count + hit count in
    * the same doc-grain shuffle. N-grams cross the join as md5
    * digests, never as strings. */
  def ngramContamination(corpus: DataFrame, benchmark: DataFrame,
                         textCol: String, idCol: String, n: Int,
                         minHits: Long = 1L): DataFrame =
    contaminationAgainstGrams(corpus,
      benchGramDigests(benchmark, textCol, n), textCol, idCol, n,
      minHits)

  /** The distinct n-gram digest set of a benchmark frame — the unit
    * [[ngramContamination]] broadcasts and the standing
    * [[graft.streaming.Streaming.benchmarkIndexSink]] store persists,
    * shared so the batch and store-fed probes cannot drift. One `__h`
    * column of md5 digests. */
  private[graft] def benchGramDigests(benchmark: DataFrame,
      textCol: String, n: Int): DataFrame =
    benchmark
      .select(explode(array_distinct(Text.shingles(col(textCol), n)))
        .as("__g"))
      .select(fastMd5(col("__g")).as("__h"))
      .distinct()

  /** Contamination scoring of a corpus against an already-digested
    * benchmark gram set (`__h` column) — the one scorer behind the
    * batch and store-fed decontamination paths. */
  private[graft] def contaminationAgainstGrams(corpus: DataFrame,
      benchGrams: DataFrame, textCol: String, idCol: String, n: Int,
      minHits: Long): DataFrame = {
    val shs = array_distinct(Text.shingles(col(textCol), n))
    Scale.widen(corpus)
      .select(col(idCol), explode_outer(shs).as("__g"))
      .select(col(idCol), fastMd5(col("__g")).as("__h"))
      .join(broadcast(benchGrams.select(col("__h"))
        .withColumn("__hit", lit(1))), Seq("__h"), "left")
      .groupBy(idCol)
      .agg(count(col("__h")).as("n_ngrams"),
        count(col("__hit")).as("n_hit"))
      .withColumn("hit_frac",
        round(col("n_hit").cast("double") / col("n_ngrams"), 6))
      .withColumn("contaminated", col("n_hit") >= minHits)
  }

  /** Banded LSH signature rows for a document frame: one row per (doc,
    * band) with the band's bucket hash plus the exact-text digest —
    * `(id, text_hash, band_idx, band_hash)`, the fixed-width,
    * append-only shape a STANDING dedup index persists. Row-local
    * (signature + banding computed inside the scan); nothing shuffles
    * here — layout is the writer's choice (bucket by `band_hash` via
    * [[graft.pipelines.Pipelines.writeBucketed]] for a co-located
    * probe join at 100 TB). */
  def minhashIndex(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 8, bands: Int = 4,
                   shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0)
    val rowsPerBand = numHashes / bands
    // same NULL-text contract as [[minhashCandidatePairs]]: docs whose
    // minhash is undefined are simply absent from the index, so they
    // never collide with (or suppress) anything
    val sig = withMinhashSignature(df.where(col(textCol).isNotNull),
      textCol, numHashes, shingleSize)
    val bandStructs = (0 until bands).map { b =>
      val bandCols = (0 until rowsPerBand)
        .map(r => col(s"minhash_${b * rowsPerBand + r}"))
      struct(lit(b).as("band_idx"),
        fastMd5(concat_ws("|", bandCols: _*)).as("band_hash"))
    }
    sig.select(col(idCol).as("id"),
        fastMd5(col(textCol)).as("text_hash"),
        explode(array(bandStructs: _*)).as("__b"))
      .select(col("id"), col("text_hash"),
        col("__b.band_idx").as("band_idx"),
        col("__b.band_hash").as("band_hash"))
  }

  /** Candidate near-dup pairs between a NEW batch and a standing
    * [[minhashIndex]] — the INCREMENTAL dedup probe of a continuously
    * ingested corpus: never re-band history, just join the batch's
    * band rows against the index. Returns distinct `(id_store,
    * id_new, exact)` pairs, `exact` = identical text digest (exact
    * duplicates collide in every band, so the band join already
    * catches them — the flag only classifies).
    *
    * Scale: the batch side is one micro-batch; the index side is
    * corpus-sized but joined on `(band_idx, band_hash)` — bucket the
    * index on disk by `band_hash` and the probe is a co-located join
    * that never shuffles history. Audit shape: a boilerplate batch
    * doc can match many store rows (the pair set is the point of this
    * variant); admission gating should use [[admitAgainstIndex]],
    * whose anti-join needs no pair materialization at all. */
  def pairsAgainstIndex(batch: DataFrame, textCol: String, idCol: String,
                        index: DataFrame, numHashes: Int = 8,
                        bands: Int = 4, shingleSize: Int = 3): DataFrame = {
    val probe = minhashIndex(Scale.widen(batch), textCol, idCol,
      numHashes, bands, shingleSize)
    probe.alias("n")
      .join(index.alias("s"), Seq("band_idx", "band_hash"))
      .select(col("s.id").as("id_store"), col("n.id").as("id_new"),
        (col("s.text_hash") === col("n.text_hash")).as("exact"))
      .distinct()
  }

  /** Admission gate for a new batch against a standing
    * [[minhashIndex]]: keep only documents that collide with NO index
    * band bucket and with no earlier (lower-id) same-batch document.
    * Returns the admitted subset of `batch`, unchanged columns.
    *
    * Scale: the index side is corpus-scale, the batch micro-batch-
    * sized, so the store check broadcasts the BATCH's distinct band
    * keys and streams the index through a BroadcastHashJoin — the
    * standing index is scanned but never shuffled or sorted (zero
    * Exchange on the index subtree; StreamingSpec asserts this on the
    * physical plan). Existence semantics throughout: a boilerplate
    * bucket with millions of store rows collapses map-side to one
    * surviving band key, never a pair expansion. The in-batch pass
    * reads the same grouping of the batch's band keys, each with its
    * lowest id ([[suppressedProbed]]). */
  def admitAgainstIndex(batch: DataFrame, textCol: String, idCol: String,
                        index: DataFrame, numHashes: Int = 8,
                        bands: Int = 4, shingleSize: Int = 3): DataFrame = {
    // checkpointed: the banded signatures feed the key aggregation and
    // the suppression join below — without materialization each branch
    // would re-run the dominant row-local shingle hashing over the batch
    val probe = minhashIndex(Scale.widen(batch), textCol, idCol,
      numHashes, bands, shingleSize).localCheckpoint()
    admitProbed(batch, idCol, probe, index)
  }

  /** [[admitAgainstIndex]] with the batch's band rows already computed
    * (and materialized) by the caller — the streaming sink also writes
    * the admitted docs' rows of the same probe frame to its index, so
    * the signature work runs once per micro-batch. */
  private[graft] def admitProbed(batch: DataFrame, idCol: String,
                                 probe: DataFrame,
                                 index: DataFrame): DataFrame =
    dropSuppressed(batch, idCol, suppressedProbed(probe, index))

  /** The ids (column `id`) of the `probe` docs [[admitAgainstIndex]]
    * turns away: a doc is suppressed if ANY of its band keys is in the
    * standing `index`, or is shared with a lower-id batch doc. One
    * keyed pass: the batch's band keys are grouped once, each with its
    * lowest id, and every later frame joins against that broadcast.
    * Join order keeps the corpus-scale index the STREAMED side of a
    * broadcast join: its semi-join against the batch keys collapses
    * map-side (the distinct) before anything shuffles, so no Exchange
    * ever touches the index, and a boilerplate key with millions of
    * store rows survives as one hit. An id may repeat in the output. */
  private[graft] def suppressedProbed(probe: DataFrame,
                                      index: DataFrame): DataFrame = {
    val key = Seq("band_idx", "band_hash")
    val keyed = probe.groupBy(key.map(col): _*)
      .agg(min(col("id")).as("__first_id"))
    val hits = index
      .join(broadcast(keyed.select(key.map(col): _*)), key, "left_semi")
      .select(key.map(col): _*).distinct()
      .withColumn("__hit", lit(true))
    probe.join(broadcast(keyed), key)
      .join(broadcast(hits), key, "left")
      .where(col("id") > col("__first_id") || col("__hit").isNotNull)
      .select(col("id"))
  }

  /** `rows` without the ids in `suppressed` ([[suppressedProbed]]),
    * broadcast into a left-anti join on `idCol`. Applied to the batch
    * it is the admitted set; applied to the probe, the admitted docs'
    * band rows. A NULL-text doc has no band rows, so it is never
    * suppressed and the batch keeps it, matching the SQL semantics
    * where its NULL band_hash never joins. */
  private[graft] def dropSuppressed(rows: DataFrame, idCol: String,
                                    suppressed: DataFrame): DataFrame =
    rows.join(broadcast(suppressed.select(col("id").as(idCol))),
      Seq(idCol), "left_anti")

  /** Bottom-k sketch of the distinct-token set per key: the k smallest
    * md5(token) digests, one fixed-size mergeable summary per corpus
    * slice. Jaccard between any two slices is then estimated from the
    * sketches alone ([[sketchJaccardPairs]]) — set similarity between
    * 100 TB corpus slices without ever materializing the sets, the
    * KMV/bottom-k estimator (Broder; Bar-Yossef et al.).
    *
    * Scale: distinct (key, digest) is one hash shuffle of fixed-width
    * rows; the rank ≤ k filter compiles to WindowGroupLimit, which
    * keeps a bounded per-partition heap BEFORE the shuffle — no
    * executor ever holds a slice's full vocabulary. Output is k rows
    * per key. */
  def bottomKSketches(df: DataFrame, keyCol: String, tokenCol: String,
                      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy("__h")
    df.select(col(keyCol), fastMd5(col(tokenCol)).as("__h"))
      .distinct()
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .select(col(keyCol), col("__h").as("token_hash"), col("__rk").as("rk"))
  }

  /** Pairwise Jaccard estimates from [[bottomKSketches]] output: for
    * each key pair, the bottom-k of the UNION of both sketches is a
    * uniform sample of the union, so |sample ∩ A ∩ B| / k estimates
    * |A∩B| / |A∪B|. Exact (not an estimate) whenever a slice's
    * vocabulary fits inside its sketch.
    *
    * Scale: operates on sketches only — #keys × k rows — so the
    * pairwise join is over a frame that is tiny regardless of corpus
    * size; Spark broadcasts it. */
  def sketchJaccardPairs(sketches: DataFrame, keyCol: String,
                         k: Int): DataFrame = {
    val packed = sketches.groupBy(keyCol)
      .agg(sort_array(collect_list("token_hash")).as("__sk"))
    val a = packed.select(col(keyCol).as("key_a"), col("__sk").as("__ska"))
    val b = packed.select(col(keyCol).as("key_b"), col("__sk").as("__skb"))
    a.join(b, col("key_a") < col("key_b"))
      .withColumn("__union_k",
        slice(array_sort(array_union(col("__ska"), col("__skb"))), 1, k))
      .withColumn("__both", array_intersect(col("__ska"), col("__skb")))
      .select(col("key_a"), col("key_b"),
        size(array_intersect(col("__union_k"), col("__both")))
          .cast("long").as("n_shared"),
        round(size(array_intersect(col("__union_k"), col("__both")))
          .cast("double") / least(size(col("__union_k")), lit(k)), 6)
          .as("jaccard_est"))
  }
}
