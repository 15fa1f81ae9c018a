package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer training (Kudo 2018, "Subword
  * Regularization" — the SentencePiece unigram model), hard-EM
  * flavour: score candidate pieces by corpus frequency, Viterbi-
  * segment the word histogram under those scores, and re-estimate
  * piece probabilities from the usage counts. One hard-EM iteration,
  * deterministic end to end (fixed candidate ranking, total-order
  * tie-breaks), so an external engine replays it exactly.
  *
  * Together with [[Bpe]] (merge-rule training + encoding) and
  * [[Text.greedyPiecesTrie]] (WordPiece inference) this closes the
  * tokenizer-training family: all three vocabulary-learning schemes a
  * training-data pipeline meets run in-engine.
  *
  * Scale: everything after the word histogram is vocabulary-sized —
  * the corpus is touched once ([[Bpe.wordHistogram]], or not at all
  * when training from the curation store's histogram,
  * [[graft.streaming.Streaming.readWordHistogram]]). The Viterbi DP
  * is a row-local fold per histogram word (O(len × maxPieceLen) with
  * an O(candidates) scan per step), piece tables broadcast.
  */
object UnigramLm {

  /** The `vocabWords` heaviest histogram words (cnt desc, word
    * tie-break), truncated to `maxWordLen` chars (truncation can merge
    * rows; counts add). Bounding the trained vocabulary to the head is
    * the standard move — it carries almost all the token mass. */
  private[ops] def headWords(hist: DataFrame, vocabWords: Int,
                             maxWordLen: Int): DataFrame =
    hist.orderBy(col("cnt").desc, col("word")).limit(vocabWords)
      .select(substring(col("word"), 1, maxWordLen).as("word"),
        col("cnt"))
      .groupBy("word").agg(sum("cnt").as("cnt"))

  /** Candidate pieces: every substring (length 1..`maxPieceLen`) of
    * the head words, freq = Σ word-count per occurrence; keep the top
    * `topPieces` by (freq desc, piece) plus ALL single characters, so
    * every word stays coverable. */
  private[ops] def candidatePieces(words: DataFrame, maxPieceLen: Int,
                                   topPieces: Int): DataFrame = {
    val occ = words.select(col("cnt"), explode(expr(
      s"""flatten(transform(sequence(1, length(word)),
         |  e -> transform(sequence(1, least($maxPieceLen, e)),
         |    l -> substring(word, e - l + 1, l))))""".stripMargin))
      .as("piece"))
    // the frequency table feeds the top-k branch AND the single-char
    // branch — pin it (vocabulary-sized) so the substring explode over
    // the head words (and everything upstream of `words`) runs once
    val freq = occ.groupBy("piece").agg(sum("cnt").as("freq")).cache()
    freq.orderBy(col("freq").desc, col("piece")).limit(topPieces)
      .unionByName(freq.where(length(col("piece")) === 1))
      .distinct()
  }

  /** Piece log-probabilities from the candidate table: lp =
    * ln(freq / Σ freq). */
  private[ops] def pieceLogProbs(pieces0: DataFrame): DataFrame = {
    // the piece table normalizes against its own sum — pin it
    // (vocabulary-sized) so the candidate-selection chain isn't
    // evaluated once for the rows and again for the total
    val pieces = pieces0.cache()
    pieces.crossJoin(broadcast(pieces.agg(sum("freq").as("totf"))))
      .select(col("piece"),
        log(col("freq").cast("double") / col("totf")).as("lp"))
  }

  /** Viterbi segmentation of every row of `words` (one `word` column)
    * against a (piece, lp) table: returns (word, path) where path is
    * the space-joined best piece sequence, or NULL when the word is
    * not coverable by the piece set. dp(i) = best (lp, path) over the
    * candidate last-pieces ending at i; ties break toward the
    * lexicographically smallest piece sequence — a total order, so the
    * fold's reduction order cannot change the result.
    *
    * Row-local per word: the candidate expansion is O(len ×
    * maxPieceLen) rows broadcast-joined to the probs, and the DP is
    * one fold per word — vocabulary-scale work, never corpus-scale. */
  private[ops] def viterbiPaths(words: DataFrame, plog: DataFrame,
                                maxPieceLen: Int): DataFrame = {
    val cand = words.select(col("word"), explode(expr(
      s"""flatten(transform(sequence(1, length(word)),
         |  e -> transform(sequence(1, least($maxPieceLen, e)),
         |    l -> struct(e AS end, l AS len,
         |           substring(word, e - l + 1, l) AS piece))))"""
        .stripMargin)).as("c"))
      .select(col("word"), col("c.end").as("end"),
        col("c.len").as("len"), col("c.piece").as("piece"))
      .join(broadcast(plog), "piece")
    val arr = cand.groupBy("word")
      .agg(collect_list(struct(col("end"), col("len"), col("piece"),
        col("lp"))).as("ps"))
    val nullBest = lit(null).cast("struct<lp:double,path:string>")
    val dp = aggregate(
      sequence(lit(1), length(col("word"))),
      expr("array(named_struct('lp', CAST(0.0 AS DOUBLE), 'path', ''))"),
      (acc, i) => {
        val best = aggregate(
          filter(col("ps"), p => p.getField("end") === i),
          nullBest,
          (bst, c) => {
            val prev = element_at(acc,
              (i - c.getField("len") + 1).cast("int"))
            val optLp = prev.getField("lp") + c.getField("lp")
            val optPath = when(prev.getField("path") === "",
                c.getField("piece"))
              .otherwise(concat(prev.getField("path"), lit(" "),
                c.getField("piece")))
            when(prev.getField("lp").isNull, bst)
              .when(bst.isNull,
                struct(optLp.as("lp"), optPath.as("path")))
              .when(optLp > bst.getField("lp"),
                struct(optLp.as("lp"), optPath.as("path")))
              .when(optLp === bst.getField("lp") &&
                  optPath < bst.getField("path"),
                struct(optLp.as("lp"), optPath.as("path")))
              .otherwise(bst)
          })
        concat(acc, array(best))
      })
    // words that failed to match any piece at some position never
    // reach the ps groupBy (inner join) — re-attach them as NULL paths
    words.join(
      arr.withColumn("best",
          element_at(dp, (length(col("word")) + 1).cast("int")))
        .select(col("word"), col("best.path").as("path")),
      Seq("word"), "left")
  }

  /** One hard-EM pass: returns (piece, usage, prob) — usage = Σ word
    * counts whose Viterbi segmentation uses the piece, prob = usage
    * renormalized (6 dp). Pieces never chosen drop out, exactly like
    * the unigram model's prune step. */
  def trainUnigram(hist: DataFrame, vocabWords: Int = 500,
                   maxWordLen: Int = 12, maxPieceLen: Int = 4,
                   topPieces: Int = 64): DataFrame = {
    // the head-word table feeds candidate selection, the Viterbi pass
    // and the usage join; usage normalizes against its own sum — pin
    // both (vocabulary-sized) so each upstream chain runs once
    val words = headWords(hist, vocabWords, maxWordLen).cache()
    val plog = pieceLogProbs(
      candidatePieces(words, maxPieceLen, topPieces))
    val seg = words
      .join(viterbiPaths(words.select("word"), plog, maxPieceLen),
        "word")
    val usage = seg
      .select(col("cnt"), explode(split(col("path"), " ")).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("usage"))
      .cache()
    val totU = usage.agg(sum("usage").as("tu"))
    usage.crossJoin(broadcast(totU))
      .select(col("piece"), col("usage"),
        round(col("usage").cast("double") / col("tu"), 6).as("prob"))
      .orderBy(col("usage").desc, col("piece"))
  }

  /** The trained (piece, lp) table [[encodeDocs]] consumes — candidate
    * selection + log-probs from a word histogram, the same path
    * [[trainUnigram]] trains through. */
  def trainedPieceLogProbs(hist: DataFrame, vocabWords: Int = 500,
                           maxWordLen: Int = 12, maxPieceLen: Int = 4,
                           topPieces: Int = 64): DataFrame =
    pieceLogProbs(candidatePieces(
      headWords(hist, vocabWords, maxWordLen), maxPieceLen, topPieces))

  /** Encode documents under a trained piece table (the inference half
    * of [[trainUnigram]], as [[Bpe.encodeFast]] is to
    * [[Bpe.trainBpe]]): every whitespace token is Viterbi-segmented
    * against the pieces (words truncated to `maxWordLen`, mirroring
    * training); uncoverable words become a single `<unk>`. Returns
    * (idCol, n_pieces, segmented).
    *
    * Scale: the DP runs once per DISTINCT truncated word (vocabulary-
    * scale), then broadcast-joins back to the token stream — the
    * corpus itself is only exploded and re-grouped, never folded. */
  def encodeDocs(docs: DataFrame, textCol: String, idCol: String,
                 plog: DataFrame, maxWordLen: Int = 12,
                 maxPieceLen: Int = 4): DataFrame = {
    // the token stream feeds the distinct-word DP AND the re-join —
    // pin the narrow (id, pos, word) rows so the corpus is tokenized
    // once, not once per consumer (fixed-width, corpus-token-linear;
    // spills to disk — one materialization beats two full re-tokenize
    // passes at any scale)
    val toks = docs.select(col(idCol),
        posexplode(Text.tokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col(idCol), col("pos"),
        substring(col("tok"), 1, maxWordLen).as("word"))
      .cache()
    val paths = viterbiPaths(toks.select("word").distinct(), plog,
        maxPieceLen)
      .select(col("word"), coalesce(col("path"), lit("<unk>")).as("path"))
    toks.join(broadcast(paths), "word")
      .groupBy(idCol)
      .agg(
        sum(size(split(col("path"), " "))).cast("long").as("n_pieces"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, path))), e -> e.path)"),
          " ").as("segmented"))
  }
}
