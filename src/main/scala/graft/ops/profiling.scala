package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-profiling and constraint-validation operators — the "is this
  * table what the pipeline believes it is" gates a warehouse runs before
  * publishing (the engine-level generalization of the reference's V2
  * crawl-sanity checks, SURVEY §2.10).
  *
  * Scale posture: `profile` is a single full-scan aggregation (the
  * multi-distinct rewrite expands rows ×columns — use approx mode at
  * 100 TB for one pass with HLL sketches instead); the constraint checks
  * are anti-joins / keyed counts that never collect data to the driver.
  */
object Profiling {

  /** Long-form per-column profile: (col_name, n_rows, n_null,
    * n_distinct) for each requested column, computed in ONE aggregation
    * over the table and exploded to rows. `exact = false` swaps the
    * exact distinct counts for `approx_count_distinct` (HLL, 2% rsd) —
    * at 100 TB exact multi-column distinct expands the scan ×columns,
    * while sketches keep it one pass. n_distinct excludes nulls (SQL
    * COUNT DISTINCT semantics). */
  def profile(df: DataFrame, cols: Seq[String],
              exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"__dist_$c"))
    } :+ count(lit(1)).as("__n")
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("col_name"), col("__n").as("n_rows"),
        col(s"__null_$c").as("n_null"), col(s"__dist_$c").as("n_distinct"))
    }
    row.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }

  /** Population-stability index of `valueCol` between a base and a
    * current snapshot — the drift gate a training-data warehouse runs
    * between corpus refreshes (PSI > 0.1 = investigate, > 0.25 =
    * retrain is the standard reading). Values bucket into `nBuckets`
    * fixed-width bins over [lo, hi) (edges FIXED, not quantile-fitted,
    * so the statistic is deterministic and engine-portable; clamp
    * out-of-range values to the edge bins), proportions floor at
    * `eps` so empty bins contribute finitely, and
    * PSI = Σ (p_cur − p_base) · ln(p_cur / p_base).
    *
    * Scale: one aggregation per side (map-side combined into ≤
    * nBuckets groups), a bucket-grain full-outer join of two
    * nBuckets-row frames, one sum. Nulls are excluded (they are a
    * COUNT drift, visible in [[profile]], not a distribution drift). */
  def psi(base: DataFrame, current: DataFrame, valueCol: Column,
          lo: Double, hi: Double, nBuckets: Int = 10,
          eps: Double = 1e-6): DataFrame = {
    require(nBuckets >= 2 && hi > lo)
    def bucketed(df: DataFrame): DataFrame =
      df.where(valueCol.isNotNull)
        .groupBy(psiBucket(valueCol, lo, hi, nBuckets).as("bucket"))
        .agg(count(lit(1)).as("n"))
    psiOfHists(bucketed(base), bucketed(current), eps)
  }

  /** The fixed-width [lo, hi) bin of a value, out-of-range clamped to
    * the edge bins — the bucketing [[psi]] and the streaming drift
    * sink share, so a histogram accumulated incrementally is
    * cell-identical to one computed batch. */
  def psiBucket(valueCol: Column, lo: Double, hi: Double,
                nBuckets: Int): Column =
    least(greatest(
      floor((valueCol.cast("double") - lit(lo))
        / lit((hi - lo) / nBuckets)).cast("int"), lit(0)),
      lit(nBuckets - 1))

  /** PSI from two pre-bucketed (bucket, n) histograms — nBuckets-row
    * inputs, so every step after the full-outer bucket join is
    * constant-size. */
  def psiOfHists(base: DataFrame, current: DataFrame,
                 eps: Double = 1e-6): DataFrame = {
    val joined = base.select(col("bucket"), col("n").as("n_base"))
      .join(current.select(col("bucket"), col("n").as("n_cur")),
        Seq("bucket"), "full_outer")
    val totals = joined.agg(
      sum(coalesce(col("n_base"), lit(0L))).as("tb"),
      sum(coalesce(col("n_cur"), lit(0L))).as("tc"))
    joined.crossJoin(broadcast(totals))
      .select(
        greatest(coalesce(col("n_base"), lit(0L)) / col("tb"), lit(eps))
          .as("pb"),
        greatest(coalesce(col("n_cur"), lit(0L)) / col("tc"), lit(eps))
          .as("pc"))
      .agg(sum((col("pc") - col("pb")) * log(col("pc") / col("pb")))
        .as("psi"))
  }

  /** Kolmogorov-Smirnov statistic from two pre-bucketed (bucket, n)
    * histograms: max |CDF_base − CDF_cur| over the shared fixed bins —
    * the location-sensitive drift gate PSI complements (PSI sums
    * density ratios bin by bin and can stay small under a slow
    * monotone shift that KS, comparing CUMULATIVE mass, flags
    * immediately; conversely KS ignores tail reshuffles PSI scores).
    * Binned KS underestimates the continuous statistic by at most one
    * bin's mass — size nBuckets accordingly. Same histogram shape as
    * [[psiOfHists]], so both gates can read one accumulated
    * histogram.
    *
    * Output: one row (ks, n_base, n_cur). Constant-size after the
    * bucket join; a window over ≤ nBuckets rows is the only sort. */
  def ksOfHists(base: DataFrame, current: DataFrame): DataFrame = {
    val joined = base.select(col("bucket"), col("n").as("n_base"))
      .join(current.select(col("bucket"), col("n").as("n_cur")),
        Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_base"), lit(0L)).as("nb"),
        coalesce(col("n_cur"), lit(0L)).as("nc"))
    val totals = joined.agg(sum("nb").as("tb"), sum("nc").as("tc"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    joined.crossJoin(broadcast(totals))
      .withColumn("__gap", abs(
        sum(col("nb")).over(w) / col("tb") -
          sum(col("nc")).over(w) / col("tc")))
      .agg(round(max("__gap"), 6).as("ks"),
        max("tb").as("n_base"), max("tc").as("n_cur"))
  }

  /** KS over raw value frames — buckets with [[psiBucket]] then
    * [[ksOfHists]] (nulls excluded, edges clamped, identical binning
    * to the PSI gate and the streaming drift store). */
  def ks(base: DataFrame, current: DataFrame, valueCol: Column,
         lo: Double, hi: Double, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && hi > lo)
    def bucketed(df: DataFrame): DataFrame =
      df.where(valueCol.isNotNull)
        .groupBy(psiBucket(valueCol, lo, hi, nBuckets).as("bucket"))
        .agg(count(lit(1)).as("n"))
    ksOfHists(bucketed(base), bucketed(current))
  }

  /** k-anonymity audit over a quasi-identifier combination: how many
    * rows sit in equivalence classes smaller than `k` — i.e. are
    * re-identifiable by the given attribute combination (Sweeney
    * 2002). A release gate for derived/shared tables: publish only
    * when n_violating_rows is 0 (or after generalizing/suppressing
    * the violating classes, which this output locates by size).
    * Returns one row: (n_classes, n_violating_classes,
    * n_violating_rows, min_class_size).
    *
    * Scale: one keyed count over the quasi-identifier combination
    * (map-side combined) plus a constant-size rollup — the same cost
    * as any GROUP BY at 100 TB. */
  def kAnonymity(df: DataFrame, quasiIds: Seq[String], k: Int): DataFrame = {
    require(quasiIds.nonEmpty, "need at least one quasi-identifier")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("__n") < k, 1L).otherwise(0L))
          .as("n_violating_classes"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L))
          .as("n_violating_rows"),
        min("__n").as("min_class_size"))
  }

  /** Keys appearing more than once — the primary-key uniqueness check.
    * Returns (keys..., n) per violating key; one key-shuffle with
    * map-side partial counts. */
  def dupKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Child rows whose key has no parent — the referential-integrity
    * check, as a left anti join (broadcast when the parent's key set is
    * small; never wider than the child scan). */
  def fkOrphans(child: DataFrame, parent: DataFrame,
                childKey: String, parentKey: String): DataFrame =
    child.join(parent.select(col(parentKey)).distinct(),
      child(childKey) === col(parentKey), "left_anti")

  /** Reduce named check DataFrames (each row = one violation) to a
    * (check_name, n_violations) summary — the shape an alerting gate
    * consumes. Checks aggregate independently; the union is over
    * single-row counts. */
  def violationCounts(checks: Seq[(String, DataFrame)]): DataFrame = {
    require(checks.nonEmpty, "need at least one check")
    checks.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    }.reduce(_.unionByName(_))
  }

  /** Robust per-group outlier profile via median absolute deviation:
    * an observation is an outlier when |x − median| > k·1.4826·MAD
    * (1.4826 scales MAD to σ under normality — the standard robust
    * z-score). Unlike mean/stddev z-scores (q90), a few extreme values
    * cannot drag the threshold itself.
    *
    * Output per group: n, med, mad, n_outliers.
    *
    * Scale: two keyed aggregations (median, then MAD over deviations)
    * plus one broadcast-sized join of group stats back onto the data —
    * the group-stats tables are group-cardinality, never row-
    * cardinality. Exact `percentile` holds per-group value multisets;
    * for 100 TB groups swap in `percentile_approx` (same shape). */
  def madOutliers(df: DataFrame, group: String, value: String,
                  k: Double = 3.0): DataFrame = {
    val x = col(value).cast("double")
    val med = df.groupBy(group)
      .agg(percentile(x, lit(0.5)).as("med"), count(lit(1)).as("n"))
    val dev = df.join(med.hint("broadcast"), group)
      .withColumn("__dev", abs(x - col("med")))
    val mad = dev.groupBy(group)
      .agg(percentile(col("__dev"), lit(0.5)).as("mad"))
    dev.join(mad.hint("broadcast"), group)
      .groupBy(col(group), col("n"), col("med"), col("mad"))
      .agg(sum(when(col("__dev") > lit(k) * lit(1.4826) * col("mad"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select(col(group), col("n"), col("med"), col("mad"), col("n_outliers"))
  }

  /** Cumulative Poisson(1) CDF thresholds P(X ≤ k) for k = 0..6 — the
    * inverse-CDF table [[bootstrapMeanCI]] uses to turn a uniform
    * md5 draw into a deterministic Poisson bootstrap weight. Exposed
    * so oracle SQL can bake in the IDENTICAL double literals. */
  private[graft] val PoissonCdf: IndexedSeq[Double] = {
    val p = (0 to 6).scanLeft(math.exp(-1.0)) { (pk, k) => pk / (k + 1) }
    p.init.scanLeft(0.0)(_ + _).tail.toIndexedSeq
  }

  /** Deterministic Poisson bootstrap confidence interval for a per-group
    * mean — "is the quality-score gap between source A and source B
    * real or sampling noise?", answered without ever resampling rows:
    * each row gets `reps` independent Poisson(1) pseudo-weights (the
    * classic Poisson approximation to multinomial bootstrap resampling
    * — Chamandy et al. 2012, "Estimating uncertainty for massive data
    * streams"), each replicate's weighted mean is computed per group,
    * and the CI is the [lo, hi] quantile band of the replicate means.
    *
    * Weights are derived from md5(id | replicate) through the
    * [[PoissonCdf]] inverse-CDF table — fully deterministic,
    * partition-stable, and replayable in any engine with md5 (the q189
    * oracle replays it cell-exactly). Weight 7 caps the tail
    * (P ≈ 8e-5 of a draw ≥ 7 — bias far below CI resolution at any
    * real replicate count).
    *
    * Output per group: n, mean (unweighted), ci_lo, ci_hi.
    *
    * Scale: the row × reps expansion is row-local (`sequence` +
    * `explode` inside the scan stage) and immediately collapses into a
    * (group × reps)-grain partial aggregate — map-side combine does
    * the heavy fold, the shuffle carries group·reps rows regardless of
    * corpus size; the quantile pass then runs on that tiny frame. */
  def bootstrapMeanCI(df: DataFrame, group: String, value: String,
                      id: Column, reps: Int = 64,
                      lo: Double = 0.025, hi: Double = 0.975): DataFrame = {
    require(reps >= 2, s"reps must be >= 2, got $reps")
    val x = col(value).cast("double")
    // uniform in [0,1) from the first 6 hex digits of md5(id|rep)
    // evaluated AFTER the select below projects id as __id
    val u = Sampling.uniform24(concat(col("__id").cast("string"),
      lit("|"), col("__b").cast("string"))) / lit((1 << 24).toDouble)
    val w = PoissonCdf.zipWithIndex.foldRight(lit(7).cast("long")) {
      case ((t, k), rest) => when(u < lit(t), lit(k).cast("long"))
        .otherwise(rest)
    }
    val repMeans = df
      .select(col(group), x.as("__x"),
        explode(expr(s"sequence(0, ${reps - 1})")).as("__b"), id.as("__id"))
      .withColumn("__w", w)
      .groupBy(col(group), col("__b"))
      .agg((sum(col("__w") * col("__x")) /
        nullif(sum(col("__w")), lit(0L))).as("__m"))
    val base = df.groupBy(group)
      .agg(count(lit(1)).as("n"), avg(x).as("mean"))
    base.join(repMeans.groupBy(group)
        .agg(percentile(col("__m"), lit(lo)).as("ci_lo"),
          percentile(col("__m"), lit(hi)).as("ci_hi")), Seq(group))
      .select(col(group), col("n"), round(col("mean"), 6).as("mean"),
        round(col("ci_lo"), 6).as("ci_lo"),
        round(col("ci_hi"), 6).as("ci_hi"))
  }
}
