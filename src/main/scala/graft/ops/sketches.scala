package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch (Cormode & Muthukrishnan 2005): a d×w grid of
  * counters where every token increments one counter per hash row;
  * a token's frequency estimate is the MIN of its d counters — always
  * an overestimate, within εN with probability 1−δ for w = e/ε,
  * d = ln(1/δ).
  *
  * The point at 100 TB: token frequency lives in d×w integers
  * regardless of vocabulary size. Building the sketch is one
  * map-side-combined groupBy to ≤ d×w cells — no per-token state ever
  * shuffles, unlike an exact count which carries the full vocabulary
  * through the exchange. Estimation joins candidates against the
  * broadcast cell table.
  *
  * Hashing is [[Sampling.splitBucket]] over "row:token" (md5-based,
  * engine-portable — an external system reproduces cells exactly), so
  * w is fixed at 256 per row.
  *
  * Relation to [[Aggregators.Cms]]: that one wraps Spark's binary
  * `CountMinSketch` (opaque hashing, in-JVM merge — right for a
  * one-shot aggregation). This one keeps the grid as PLAIN (row,
  * bucket, cnt) ROWS, which is what makes it (a) replayable by an
  * external engine cell-for-cell and (b) additively mergeable —
  * counts fold across batches with [[Warehouse.mergeAggDelta]], no
  * sketch binary to deserialize.
  */
object Sketch {

  /** Counter width per hash row (splitBucket's md5-byte range). */
  val CmsWidth = 256

  /** Hash-row `r`'s bucket for a token: first md5 byte of "r:token". */
  private[ops] def cmsBucket(token: Column, r: Int): Column =
    Sampling.splitBucket(concat(lit(s"$r:"), token))

  /** Build the sketch over `tokenCol` of `toks` (one row per token
    * OCCURRENCE): returns (sketch_row, bucket, cnt) — at most d×256
    * cells. Cells no occurrence hashed into are absent (semantically
    * zero; [[cmsEstimate]] coalesces). */
  def cmsBuild(toks: DataFrame, tokenCol: String, d: Int): DataFrame = {
    require(d >= 1 && d <= 16, s"d must be in [1,16], got $d")
    toks
      .select(explode(array((0 until d).map(r =>
        struct(lit(r).as("r"), cmsBucket(col(tokenCol), r).as("b"))): _*))
        .as("__rb"))
      .groupBy(col("__rb.r").as("sketch_row"), col("__rb.b").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Estimate each candidate token's frequency from a sketch built
    * with the same `d`: min over the token's d cells. Returns
    * (tokenCol, n_cms). The cell table is broadcast — candidates never
    * shuffle. */
  def cmsEstimate(cms: DataFrame, cands: DataFrame, tokenCol: String,
                  d: Int): DataFrame =
    cands
      .select(col(tokenCol), explode(array((0 until d).map(r =>
        struct(lit(r).as("r"), cmsBucket(col(tokenCol), r).as("b"))): _*))
        .as("__rb"))
      .join(broadcast(cms),
        col("__rb.r") === col("sketch_row") &&
          col("__rb.b") === col("bucket"), "left")
      .groupBy(tokenCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_cms"))

  /** Misra-Gries frequent-items summary (Misra & Gries 1982) from an
    * exact `(tokenCol, cnt)` table: subtract the (k+1)-th largest
    * count from every counter and keep the positives — at most k
    * counters, with the deterministic guarantee
    * `true − N/(k+1) ≤ cnt ≤ true`, so every item with frequency
    * above N/(k+1) survives. The trim form IS a valid MG summary of
    * the counted stream (Agarwal et al. 2012), which also makes it
    * MERGEABLE: pointwise-add two summaries and trim again, and the
    * union's guarantee still holds with N the combined total. The
    * complementary tool to [[cmsBuild]]: CMS answers point queries
    * over-estimating, MG returns the actual heavy-hitter SET with an
    * under-estimate bound, in k counters where the exact histogram
    * grows with the vocabulary.
    *
    * Scale: one TakeOrderedAndProject for the (k+1)-th largest (a
    * k+1-row collect — the one driver touch, bounded by k) and one
    * filtered pass over the counts. Callers looping per micro-batch
    * should localCheckpoint `counts` so the two passes share one
    * aggregation. */
  def mgSummary(counts: DataFrame, tokenCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val top = counts.select(col(tokenCol), col("cnt").cast("long"))
      .orderBy(col("cnt").desc, col(tokenCol)).limit(k + 1).collect()
    val dec = if (top.length <= k) 0L else top(k).getLong(1)
    counts.where(col("cnt").cast("long") > lit(dec))
      .select(col(tokenCol), (col("cnt").cast("long") - lit(dec)).as("cnt"))
  }
}
