package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-series resampling: project an irregular event stream onto a
  * regular per-key grid with linear interpolation — the "sensor stream →
  * dashboard series" / feature-engineering alignment stage.
  *
  * Scale posture: one key-shuffle (the window), grid rows are generated
  * per key (no cross join), and all timestamp arithmetic is integer
  * microseconds so results are engine-portable bit-for-bit. Per-key grid
  * density is (span / step): pick the step for the granularity the
  * consumer needs, not the raw event rate.
  */
object TimeSeries {

  /** Resample `valCol` onto a regular `stepSeconds` grid per key.
    *
    * The grid for a key spans floor(min(ts)/step)*step .. max(ts),
    * step-aligned to the epoch (so grids from different runs/keys line
    * up). Each grid instant gets the linear interpolation between the
    * nearest events on either side: v = pv + (nv - pv) * (g - pt) /
    * (nt - pt); a grid point exactly on an event takes that event's
    * value; before the first / after the last event it is null (no
    * extrapolation).
    *
    * Output: keyCol, grid_ts (timestamp), interp (double).
    *
    * Implementation is one window-over-union (the as-of-join shape, both
    * directions): events and grid rows interleave sorted by (t, grid
    * flag), a backward frame carries the last event (time, value), a
    * forward frame the next, and grid rows interpolate — no range join,
    * no per-grid-point probe. */
  def resampleLinear(df: DataFrame, keyCol: String, tsCol: String,
                     valCol: String, stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, s"step must be positive, got $stepSeconds")
    val stepUs = stepSeconds * 1000000L
    // a null timestamp or value would desynchronize the carried
    // (time, value) pair: ignoreNulls would skip one column's entry but
    // not the other's, interpolating against mismatched endpoints — a
    // half-null event is no event, drop it up front
    val events = df.filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol), unix_micros(col(tsCol)).as("__t"),
        col(valCol).cast("double").as("__v"), lit(0).as("__is_grid"))
    val grid = df.groupBy(keyCol)
      .agg(min(unix_micros(col(tsCol))).as("__t0"),
        max(unix_micros(col(tsCol))).as("__t1"))
      .select(col(keyCol), explode(sequence(
        // exact integer step-alignment: long % is exact where a double
        // division could round across the boundary at epoch magnitudes
        col("__t0") - (col("__t0") % stepUs),
        col("__t1"), lit(stepUs))).as("__t"))
      .select(col(keyCol), col("__t"),
        lit(null).cast("double").as("__v"), lit(1).as("__is_grid"))
    // events sort before the grid row at the same instant, so an exact
    // hit is visible to the backward frame (and pt == g short-circuits
    // the interpolation to pv)
    val ord = Seq(col("__t"), col("__is_grid"))
    val wPrev = Window.partitionBy(keyCol).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the FORWARD carry runs as a BACKWARD (running) frame over the
    // REVERSED sort: Spark executes a [current, unbounded following]
    // frame by re-aggregating the remaining rows for every output row
    // — O(rows²) per key (UnboundedFollowingWindowFunctionFrame has no
    // "remove from buffer" path) — while the running frame is one
    // incremental pass. `last ignoreNulls` over desc-(__t, __is_grid)
    // rows at desc-positions ≤ current sees exactly the asc-rows ≥
    // current, nearest first, so it returns the same next event the
    // old `first ignoreNulls` over the following frame did; the
    // (__t, __is_grid) key is unique per partition (grid instants are
    // distinct by construction, an event and a grid row at the same
    // instant differ in __is_grid), so the reversal cannot reorder
    // ties. Same single exchange (same partitioning), one extra sort.
    val wNext = Window.partitionBy(keyCol)
      .orderBy(col("__t").desc, col("__is_grid").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def evOnly(c: Column): Column = when(col("__is_grid") === 0, c)
    // the carried (time, value) pair travels as ONE struct per frame
    // direction — two window aggregates instead of four over the same
    // sort. Value-identical: both fields are non-null on every event
    // row (half-null events were dropped above) and jointly null on
    // grid rows, so last ignoreNulls skips exactly the rows the
    // per-column form skipped.
    val union = events.unionByName(grid)
      .withColumn("__p", last(evOnly(struct(col("__t").as("t"),
        col("__v").as("v"))), ignoreNulls = true).over(wPrev))
      .withColumn("__n", last(evOnly(struct(col("__t").as("t"),
        col("__v").as("v"))), ignoreNulls = true).over(wNext))
    union.filter(col("__is_grid") === 1)
      .select(col(keyCol), timestamp_micros(col("__t")).as("grid_ts"),
        when(col("__p.t") === col("__t"), col("__p.v"))
          .otherwise(col("__p.v") + (col("__n.v") - col("__p.v")) *
            ((col("__t") - col("__p.t")).cast("double") /
              (col("__n.t") - col("__p.t")).cast("double")))
          .as("interp"))
  }

  /** Final exponentially-weighted moving average per key:
    * s₁ = x₁; sₜ = α·xₜ + (1−α)·sₜ₋₁, returned at the last observation.
    *
    * Closed form (engine-portable, no recursion): s_T = (1−α)^(T−1)·x₁
    * + Σ_{t=2..T} α·(1−α)^(T−t)·xₜ — each row's weight depends only on
    * its position from the end, so the whole thing is one ranked window
    * plus one keyed sum (no sequential scan, no UDAF state).
    *
    * Output: keyCol, n_obs, ewma.
    *
    * Scale: one shuffle keyed by `keyCol` shared by the window and the
    * aggregation; weights for old observations underflow to 0 harmlessly
    * ((1−α)^k ≈ 1e−46 at k=1000, α=0.1), so unbounded histories neither
    * overflow nor need truncation. */
  def ewma(df: DataFrame, keyCol: String, orderCols: Seq[Column],
           valCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keyCol)))
      .withColumn("__w",
        when(col("__rn") === 1, pow(lit(1.0 - alpha), col("__n") - 1))
          .otherwise(lit(alpha) * pow(lit(1.0 - alpha), col("__n") - col("__rn"))))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_obs"),
        sum(col(valCol).cast("double") * col("__w")).as("ewma"))
  }

  /** Holt linear (double exponential) smoothing per key: level
    * l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1}), trend
    * b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, initialized l₁ = y₁,
    * b₁ = 0. Returns (keyCol, n_obs, level, trend, forecast_1 =
    * level + trend) — the one-step-ahead forecast a freshness monitor
    * extrapolates with. The recurrence runs as ONE row-local fold over
    * the key's sorted values (collected per key — sized for per-entity
    * series, bounded by `maxObs`), with every coefficient passed as
    * the SAME double literal the oracle replays, so the arithmetic is
    * engine-identical.
    *
    * `maxObs` guards the per-key collect: a key with more observations
    * fails loudly (raise_error names the key and count) instead of
    * OOMing a task on a silently-hot key. The check rides the SAME
    * keyed shuffle as the rank window (WindowExec buffers spill to
    * disk) and fires before the fold array is materialized. */
  def holtLinear(df: DataFrame, keyCol: String, orderCols: Seq[Column],
                 valCol: String, alpha: Double, beta: Double,
                 maxObs: Int = 1000000): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(beta > 0 && beta < 1, s"beta must be in (0,1), got $beta")
    require(maxObs >= 2, s"maxObs must be >= 2, got $maxObs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(orderCols: _*)
    val a = lit(alpha); val a1 = lit(1.0 - alpha)
    val bb = lit(beta); val b1 = lit(1.0 - beta)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keyCol)))
      .withColumn("__vg", when(col("__cnt") > maxObs,
          raise_error(concat(lit("holtLinear: key '"),
            col(keyCol).cast("string"), lit("' has "),
            col("__cnt").cast("string"),
            lit(s" observations, above maxObs=$maxObs"))))
        .otherwise(col(valCol).cast("double")))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_obs"),
        array_sort(collect_list(struct(col("__rn"),
          col("__vg").as("__v")))).as("__arr"))
      .withColumn("__st", aggregate(
        expr("slice(__arr, 2, size(__arr) - 1)"),
        struct(element_at(col("__arr"), 1).getField("__v").as("l"),
          lit(0.0).as("b")),
        (st, e) => {
          val lNew = a * e.getField("__v") +
            a1 * (st.getField("l") + st.getField("b"))
          struct(lNew.as("l"),
            (bb * (lNew - st.getField("l")) +
              b1 * st.getField("b")).as("b"))
        }))
      .select(col(keyCol), col("n_obs"),
        col("__st.l").as("level"), col("__st.b").as("trend"),
        (col("__st.l") + col("__st.b")).as("forecast_1"))
  }
}
