package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine BPE merge-rule training (Sennrich 2016) — the training
  * side of subword tokenization, complementing the inference rule in
  * [[Text.greedyPieces]]/`greedyPiecesTrie`: learn the merge table
  * FROM the corpus instead of pasting one.
  *
  * Scale shape: BPE trains on the WORD HISTOGRAM, not the corpus — one
  * token-grain shuffle builds the (word, cnt) table, and every merge
  * iteration after that works on vocabulary-sized rows (pair counting
  * is one map-side-combined aggregation over ≤ |vocab|·maxlen rows;
  * the argmax collects exactly one row to the driver, mirroring the
  * PCA/GD driver-cluster split). The corpus text is touched once.
  *
  * Determinism / oracle parity: symbol sequences live in a PACKED
  * doubled-separator string ("abc" → "##a##b##c##"), so one merge pass
  * is a plain (non-regex) `replace` of "#a##b#" with "#ab#" — the
  * left-to-right non-overlapping all-occurrences semantics of which is
  * identical in every engine (Spark's UTF8String.replace, DuckDB's
  * replace, Java's String.replace), with none of the overlap ambiguity
  * a regex formulation has ("a a a" under merge (a,a) becomes "aa a"
  * in both engines). Ties in the pair argmax break on (count DESC,
  * left, right). The histogram is restricted to `[a-z0-9]+` tokens, so
  * the separator char can never collide with symbol text.
  */
object Bpe {

  private[graft] val Sep = "#"
  private[graft] val Sep2 = "##"

  /** One learned merge: `merged = left + right`, adopted at
    * `merge_idx` with weighted adjacent-pair count `pair_count`. */
  final case class MergeRule(merge_idx: Int, left: String, right: String,
                             merged: String, pair_count: Long)

  /** (word, cnt) histogram of `[a-z0-9]+` tokens — the frame BPE
    * actually trains on. */
  def wordHistogram(docs: DataFrame, textCol: String,
                    extraKeys: Seq[String] = Nil): DataFrame =
    docs.select(extraKeys.map(col) :+
        explode(Text.tokens(col(textCol))).as("word"): _*)
      .where(col("word").rlike("^[a-z0-9]+$"))
      .groupBy((extraKeys :+ "word").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Packed initial state: every character its own symbol —
    * "abc" → "##a##b##c##". */
  private[graft] def initialState(word: Column): Column =
    concat(lit(Sep2), regexp_replace(word, "(.)", "$1" + Sep2))

  /** Symbol array of a packed state (split on the doubled separator,
    * empty edge fragments dropped). */
  private[graft] def symbols(state: Column): Column =
    filter(split(state, Sep2), s => s =!= "")

  /** One merge pass of pair (a, b) over a packed state: plain string
    * replace of "#a##b#" with "#ab#" — each match consumes one
    * separator from each doubled boundary, so adjacent occurrences
    * stay matchable and the scan is greedy left-to-right
    * non-overlapping, exactly the BPE pass. */
  private[graft] def mergePass(state: Column, a: String, b: String): Column =
    replace(state, lit(Sep + a + Sep2 + b + Sep), lit(Sep + a + b + Sep))

  /** Weighted adjacent-pair counts over the histogram's packed
    * states: one row per (word, position), summed by pair. */
  private[graft] def pairCounts(hist: DataFrame, state: Column): DataFrame = {
    val syms = symbols(state)
    hist
      .select(col("cnt"), syms.as("__s"))
      .where(size(col("__s")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(col("__s")) - 1),
        i => struct(element_at(col("__s"), i).as("a"),
          element_at(col("__s"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("cnt").as("c"))
  }

  /** Learn `numMerges` merge rules from the corpus: per iteration,
    * count adjacent pairs over the current packed states, adopt the
    * most frequent pair (count DESC, left, right tie-break), and fold
    * the merge into the state expression. Stops early if no pair is
    * left. The state is a `numMerges`-deep replace-expression chain
    * over the checkpointed histogram — re-evaluated per iteration at
    * vocabulary scale, never corpus scale. */
  def trainBpe(docs: DataFrame, textCol: String,
               numMerges: Int): Seq[MergeRule] =
    trainBpeOnHistogram(wordHistogram(docs, textCol), numMerges)

  /** [[trainBpe]] over an already-built (word, cnt) histogram — the
    * entry point for incrementally-maintained histograms (the curation
    * store folds per-batch histograms into its `stats/hist` part,
    * [[graft.streaming.Streaming.readWordHistogram]]; counts are
    * additive, so re-training from the store equals training from the
    * full corpus without rescanning it). */
  def trainBpeOnHistogram(histogram: DataFrame,
                          numMerges: Int): Seq[MergeRule] = {
    val hist = histogram.localCheckpoint()
    var state: Column = initialState(col("word"))
    val rules = Seq.newBuilder[MergeRule]
    var k = 1
    var exhausted = false
    while (k <= numMerges && !exhausted) {
      val top = pairCounts(hist, state)
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) =
          (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        rules += MergeRule(k, a, b, a + b, c)
        state = mergePass(state, a, b)
        k += 1
      }
    }
    Scale.releaseLocalCheckpoint(hist)
    rules.result()
  }

  /** Tokenize `text` with learned rules: each `[a-z0-9]+` word's
    * packed char state folds through the merges IN LEARNED ORDER (the
    * BPE inference rule — merge priority is adoption order, which is
    * what distinguishes BPE inference from [[Text.greedyPieces]]'
    * longest-match), then unpacks to the piece array. Row-local and
    * shuffle-free; non-`[a-z0-9]` tokens pass through unsegmented as
    * single pieces. */
  def encode(text: Column, rules: Seq[MergeRule]): Column = {
    val pieces = transform(Text.tokens(text), w => {
      val packed = rules.foldLeft(initialState(w)) { (st, r) =>
        mergePass(st, r.left, r.right)
      }
      when(w.rlike("^[a-z0-9]+$"), symbols(packed))
        .otherwise(array(w))
    })
    flatten(pieces)
  }

  /** [[encode]] behind [[graft.functions.BpeEncodeExpression]]: the
    * rules ship once as a rank map instead of one `replace` per rule
    * folded into the plan, so a production 30k-merge table costs
    * nothing in plan size (the replace chain is exact but grows
    * linearly and stops being expressible long before that).
    * Piece-identical to [[encode]] on tables [[trainBpe]] produces —
    * symbol creation is monotone over adoption order, so the min-rank
    * loop and the sequential chain agree (BpeSpec asserts parity;
    * q166's DuckDB oracle checks this path cross-engine). */
  def encodeFast(text: Column, rules: Seq[MergeRule]): Column =
    if (rules.isEmpty) encode(text, rules) // no merges: plain char split
    else graft.functions.GraftFunctions.bpeEncode(Text.tokens(text),
      rules.map(r => (r.left, r.right)))
}
