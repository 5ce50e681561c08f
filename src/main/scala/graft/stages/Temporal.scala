package graft.stages

import graft.core.{OracleSafe, QueryGrid, TsSchema}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-series temporal stages — need the ordered history of ONE series.
  *
  * Uniform Spark mapping: window functions over
  * `Window.partitionBy(series_id).orderBy(timestamp)`. At 100TB this is a
  * single hash-shuffle on series_id (high cardinality → even spread), then
  * in-partition sorted evaluation; no coordinator bottleneck like the
  * reference's single-node reduce.
  */
object Temporal {
  private val S = TsSchema
  private def w = Window.partitionBy(S.SeriesId).orderBy(S.Ts)

  /** `derivative` — v - lag(v), only when consecutive points are EXACTLY one
    * step apart, else the point is dropped (ref: DerivativeStage.java:25-36). */
  def derivative(df: DataFrame, grid: QueryGrid): DataFrame =
    df.withColumn("_pv", lag(S.Value, 1).over(w))
      .withColumn("_pt", lag(S.Ts, 1).over(w))
      .where(col("_pt").isNotNull && col(S.Ts) - col("_pt") === grid.stepMs)
      .withColumn(S.Value, col(S.Value) - col("_pv"))
      .drop("_pv", "_pt")

  /** `perSecond` — (v - lag(v)) / seconds-elapsed; negative differences
    * (counter resets) emit NOTHING (ref: PerSecondStage.java:80-82 — "Skip
    * negative differences"). */
  def perSecond(df: DataFrame): DataFrame =
    df.withColumn("_pv", lag(S.Value, 1).over(w))
      .withColumn("_pt", lag(S.Ts, 1).over(w))
      .where(col("_pt").isNotNull && col(S.Ts) > col("_pt") && col(S.Value) >= col("_pv"))
      .withColumn(S.Value, (col(S.Value) - col("_pv")) / ((col(S.Ts) - col("_pt")) / lit(1000.0)))
      .drop("_pv", "_pt")

  /** `changed` — DENSE 0/1 series over the query grid: 1 where the sample at t
    * exists and differs from the previous non-null value, 0 everywhere else
    * (incl. missing samples and the first point) — ref: ChangedStage.java:25-39;
    * functional corpus "changed function with series containing nulls". */
  def changed(df: DataFrame, grid: QueryGrid): DataFrame = {
    val dense = GridOps.densify(df, grid)
    dense
      .withColumn("_prev",
        last(S.Value, ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn(S.Value,
        when(col(S.Value).isNotNull && col("_prev").isNotNull &&
          col("_prev") =!= col(S.Value), 1.0).otherwise(0.0))
      .drop("_prev")
  }

  /** `integral resetOnGap` — running cumulative sum per series; if resetOnGap,
    * restarts at 0 whenever the gap to the previous point exceeds one step
    * (ref: IntegralStage.java:28-40). Session id = cumulative gap-flag sum. */
  def integral(df: DataFrame, grid: QueryGrid, resetOnGap: Boolean = false): DataFrame = {
    val withSess =
      if (!resetOnGap) df.withColumn("_sess", lit(0L))
      else df
        .withColumn("_gap",
          when(col(S.Ts) - lag(S.Ts, 1).over(w) > grid.stepMs, 1L).otherwise(0L))
        .withColumn("_sess", sum("_gap").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .drop("_gap")
    val ws = Window.partitionBy(S.SeriesId, "_sess").orderBy(S.Ts)
      .rowsBetween(Window.unboundedPreceding, 0)
    withSess
      .withColumn(S.Value, OracleSafe.dSum(col(S.Value), _.over(ws)))
      .drop("_sess")
  }

  /** `timeshift dur` — shift series forward by `dur` so past data aligns with
    * the current window; the scan range was widened backwards at plan time
    * (ref: TimeshiftStage.java:24-48; SourceBuilderVisitor.java:780-792). */
  def timeshift(df: DataFrame, shiftMs: Long): DataFrame =
    df.withColumn(S.Ts, col(S.Ts) + shiftMs)

  /** Internal truncate — clip to [startMs, endMs) after buffer-widened fetch
    * (ref: TruncateStage.java:25-31; injected SourceBuilderVisitor.java:329-339). */
  def truncate(df: DataFrame, grid: QueryGrid): DataFrame =
    df.where(grid.contains(col(S.Ts)))

  /** `moving dur fn` — reference-exact trailing window: at each GRID timestamp
    * the window is evaluated BEFORE the current point is added, i.e. the frame
    * is `[t-dur, t)` EXCLUSIVE of t, and a value is emitted at every grid
    * point whose window holds >=1 non-null sample — including points where the
    * series itself has no sample (ref: MovingStage.java:109-124 —
    * evaluate-then-update loop over the time grid). */
  def moving(df: DataFrame, grid: QueryGrid, windowMs: Long, fn: String): DataFrame = {
    val dense = GridOps.densify(df, grid)
    val frame = Window.partitionBy(S.SeriesId).orderBy(S.Ts)
      .rangeBetween(-windowMs, -1)
    // both window exprs must be computed BEFORE the emptiness filter — filtering
    // first would remove source rows from the aggregation frame
    dense
      .withColumn("_agg", movingAgg(fn, frame))
      .withColumn("_n", count(S.Value).over(frame))
      .where(col("_n") > 0)
      .withColumn(S.Value, col("_agg"))
      .drop("_agg", "_n")
  }

  /** Prometheus-style trailing window INCLUSIVE of the current point, emitted
    * at existing sample points (the `*_over_time` family semantics). */
  def movingInclusive(df: DataFrame, windowMs: Long, fn: String): DataFrame = {
    val frame = Window.partitionBy(S.SeriesId).orderBy(S.Ts)
      .rangeBetween(-windowMs, 0)
    df.withColumn(S.Value, movingAgg(fn, frame))
  }

  /** Prometheus pair-count windows (`resets`, `changes`): flag each sample
    * against its in-series predecessor, sum the flags over the trailing
    * window `[t-d, t]`, then subtract the earliest in-window sample's flag —
    * that pair straddles the window start (its predecessor is older than
    * t-d) and Prometheus only counts pairs with BOTH samples inside the
    * window. Same min_by correction shape as [[extrapolatedRate]]. Windows
    * holding a single sample emit 0 (Prometheus returns 0, not empty). */
  def pairCount(df: DataFrame, windowMs: Long)(flag: (Column, Column) => Column): DataFrame = {
    val prev = lag(col(S.Value), 1).over(w)
    val frame = Window.partitionBy(S.SeriesId).orderBy(S.Ts).rangeBetween(-windowMs, 0)
    df.withColumn("_pf",
        when(prev.isNotNull && flag(col(S.Value), prev), 1.0).otherwise(0.0))
      .withColumn(S.Value,
        sum(col("_pf")).over(frame) - expr(s"min_by(_pf, ${S.Ts})").over(frame))
      .drop("_pf")
  }

  /** Least-squares line over the trailing window `[t-w, t]` per series —
    * Prometheus `deriv` (slope, per second) and `predict_linear` (value of the
    * line at t + aheadSec). Uses `covar_pop`/`var_pop` window aggregates
    * (stable one-pass co-moments) rather than the sum-of-squares identity:
    * epoch-millis x-values are ~1.7e12, so n·Σx² − (Σx)² would cancel
    * catastrophically in doubles. Windows with <2 points emit nothing, and a
    * constant-x window (var 0) cannot occur since timestamps are distinct. */
  def linearFit(df: DataFrame, windowMs: Long, aheadSec: Option[Double]): DataFrame = {
    val frame = Window.partitionBy(S.SeriesId).orderBy(S.Ts).rangeBetween(-windowMs, 0)
    val x = col(S.Ts) / lit(1000.0)
    val slope = covar_pop(x, col(S.Value)).over(frame) / var_pop(x).over(frame)
    val fit = aheadSec match {
      case None => slope
      case Some(a) =>
        // intercept at x=0 is enormous; evaluate the line at (x_now + a)
        // relative to the window means instead: ŷ = ȳ + slope·(x_now + a − x̄)
        val my = avg(col(S.Value)).over(frame)
        val mx = avg(x).over(frame)
        my + slope * (x + lit(a) - mx)
    }
    df.withColumn("_n", count(S.Value).over(frame))
      .withColumn(S.Value, fit)
      .where(col("_n") >= 2)
      .drop("_n")
  }

  /** Prometheus `holt_winters(v[d], sf, tf)` — double exponential smoothing of
    * the trailing window, emitted at each sample point. The recursion
    * (s₀ = x₀, b₀ = x₁−x₀; sᵢ = sf·xᵢ + (1−sf)(sᵢ₋₁+bᵢ₋₁),
    * bᵢ = tf·(sᵢ−sᵢ₋₁) + (1−tf)·bᵢ₋₁) is inherently sequential, so the window
    * is gathered with collect_list (bounded by the window's sample count) and
    * folded with `aggregate` — still whole-stage-codegen'd, no UDF. */
  def holtWinters(df: DataFrame, windowMs: Long, sf: Double, tf: Double): DataFrame = {
    val frame = Window.partitionBy(S.SeriesId).orderBy(S.Ts).rangeBetween(-windowMs, 0)
    val arr0 = collect_list(col(S.Value)).over(frame)
    val arr = filter(arr0, v => !isnan(v))
    val n = size(arr)
    val x0 = element_at(arr, 1)
    val x1 = element_at(arr, 2)
    val folded = aggregate(
      slice(arr, lit(2), greatest(n - 1, lit(0))),
      struct(x0.as("s"), (x1 - x0).as("b")),
      (st, v) => {
        val sNew = lit(sf) * v + (lit(1.0) - lit(sf)) * (st.getField("s") + st.getField("b"))
        struct(sNew.as("s"),
          (lit(tf) * (sNew - st.getField("s")) +
            (lit(1.0) - lit(tf)) * st.getField("b")).as("b"))
      },
      st => st.getField("s"))
    df.withColumn("_hw_n", n)
      .withColumn(S.Value, folded)
      .where(col("_hw_n") >= 2)
      .drop("_hw_n")
  }

  /** A window aggregate over `frame`: the shared [[OracleSafe.seriesAgg]]
    * vocabulary, plus `median` — the INTERPOLATED percentile, unlike
    * summarize's nearest-rank median, so it stays here. */
  private def movingAgg(fn: String,
                        frame: org.apache.spark.sql.expressions.WindowSpec): Column =
    if (fn == "median") expr(s"percentile(${S.Value}, 0.5)").over(frame)
    else OracleSafe.seriesAgg(fn, _.over(frame))

  /** `keepLastValue [intervalMs]` — on the dense grid, fill missing points with
    * the last seen value, optionally only within `intervalMs` lookback
    * (ref: KeepLastValueStage.java:35-51). Expects grid-aligned input. */
  def keepLastValue(df: DataFrame, grid: QueryGrid, intervalMs: Option[Long] = None): DataFrame = {
    val dense = GridOps.densify(df, grid)
    val filled = dense
      .withColumn("_src_ts", when(col(S.Value).isNotNull, col(S.Ts)))
      .withColumn("_lv", last(S.Value, ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_lt", last("_src_ts", ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val within = intervalMs match {
      case Some(iv) => col("_lt").isNotNull && (col(S.Ts) - col("_lt")) <= iv
      case None     => col("_lt").isNotNull
    }
    filled
      .withColumn(S.Value, when(within, col("_lv")))
      .drop("_src_ts", "_lv", "_lt")
      .where(col(S.Value).isNotNull)
  }

  /** `sustain dur` — keep a point only if the series has an uninterrupted
    * non-null run for `dur` ending at it (ref: SustainStage.java:27-41). */
  def sustain(df: DataFrame, grid: QueryGrid, durMs: Long): DataFrame = {
    val dense = GridOps.densify(df, grid)
    val frame = Window.partitionBy(S.SeriesId).orderBy(S.Ts).rangeBetween(-durMs, 0)
    val expected = (durMs / grid.stepMs) + 1
    dense
      .withColumn("_n", count(S.Value).over(frame))
      .withColumn("_t", count("*").over(frame))
      .where(col(S.Value).isNotNull && col("_n") === col("_t") && col("_t") === expected)
      .drop("_n", "_t")
  }

  /** `summarize interval fn [alignToFrom]` — downsample into interval buckets;
    * fn ∈ sum/avg/max/min/last/count/stddev (ref: SummarizeStage.java:39-62;
    * bucket alignment SourceBuilderVisitor.java:674-697). Bucket timestamp =
    * bucket start, aligned to `alignMs` (query start, or epoch). */
  def summarize(df: DataFrame, intervalMs: Long, fn: String, alignMs: Long = 0L): DataFrame = {
    val v = col(S.Value)
    // nearest-rank percentile of the bucket's values, same math as
    // percentileOfSeries (ref: summarize/PercentileBucketSummarizer.java:55-70
    // — rank = ceil(p/100 × n), clamped to ≥1, value = sorted[rank-1])
    def pctl(p: Double): Column = {
      // NaN values are excluded; an all-NaN bucket has no data → null value
      // (absence), like hasData()=false in the reference
      val vals = array_sort(collect_list(when(!isnan(v), v)))
      val rank = greatest(ceil(lit(p / 100.0) * size(vals)).cast(IntegerType), lit(1))
      when(size(vals) > 0, element_at(vals, rank))
    }
    // fn surface = WindowAggregationType.fromString (lang/m3/common/
    // WindowAggregationType.java:105-139): aliases, median, pNN; `count` is a
    // Spark-side extension the reference lacks
    val aggExpr: Column = fn.toLowerCase(java.util.Locale.ROOT) match {
      case "average" => OracleSafe.seriesAgg("avg")
      case "minimum" => OracleSafe.seriesAgg("min")
      case "maximum" => OracleSafe.seriesAgg("max")
      case f @ ("sum" | "avg" | "min" | "max" | "count" | "last" | "stddev") =>
        OracleSafe.seriesAgg(f)
      case "median"  => pctl(50.0)
      case p if p.startsWith("p") && p.length > 1 &&
        scala.util.Try(p.substring(1).toFloat).toOption.exists(f => f >= 0 && f <= 100) =>
        pctl(p.substring(1).toFloat)
      case other => throw new IllegalArgumentException(
        s"Invalid window aggregation type: $other. " +
          "Supported: sum, avg, max, min, median, last, stddev, p0-p100 (e.g., p50, p95)")
    }
    // an unbounded grid from `alignMs`: buckets are never clipped
    QueryGrid(alignMs, Long.MaxValue, intervalMs).consolidate(df, aggExpr)
  }

  /** `perSecondRate [lookbackMs]` — Prometheus-counter rate: a decrease starts a
    * new monotonic segment (counter reset); per-point rate within the segment;
    * then smoothed with a trailing moving average over the same lookback
    * (ref: PerSecondRateStage.java:27-52). */
  def perSecondRate(df: DataFrame, lookbackMs: Long): DataFrame = {
    val seg = df
      .withColumn("_pv", lag(S.Value, 1).over(w))
      .withColumn("_reset", when(col("_pv").isNotNull && col(S.Value) < col("_pv"), 1L).otherwise(0L))
      .withColumn("_seg", sum("_reset").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val ws = Window.partitionBy(S.SeriesId, "_seg").orderBy(S.Ts)
    val rated = seg
      .withColumn("_spv", lag(S.Value, 1).over(ws))
      .withColumn("_spt", lag(S.Ts, 1).over(ws))
      .withColumn("_rate",
        when(col("_spt").isNotNull && col(S.Ts) > col("_spt"),
          (col(S.Value) - col("_spv")) / ((col(S.Ts) - col("_spt")) / lit(1000.0))))
      .where(col("_rate").isNotNull)
    val smooth = Window.partitionBy(S.SeriesId).orderBy(S.Ts).rangeBetween(-lookbackMs, 0)
    rated
      .withColumn(S.Value,
        OracleSafe.dAvg(col("_rate"), _.over(smooth)))
      .drop("_pv", "_reset", "_seg", "_spv", "_spt", "_rate")
  }

  /** Prometheus `increase`/`delta`: the value change
    * over the trailing window `[t-d, t]` with Prometheus's window-edge
    * extrapolation (promql extrapolatedRate): the raw change is scaled by
    * `extrapolatedInterval / sampledInterval`, where each window edge not
    * covered by samples contributes its uncovered gap when smaller than 1.1×
    * the average sample spacing, else half an average spacing; counters also
    * clamp the start extrapolation at the interpolated zero crossing.
    * Evaluated at sample points, so the end gap is 0 by construction, and
    * counter resets inside the window add the pre-reset value (the standard
    * monotonic correction). Windows with <2 samples emit nothing. One window
    * pass, pure builtins. */
  def extrapolatedRate(df: DataFrame, windowMs: Long,
                       isCounter: Boolean, selMs: Long = -1L): DataFrame = {
    // (`rate` itself stays on PerSecondRateStage semantics — the documented
    // reference-parity divergence — so no per-second variant exists here)
    // `selMs` separates sample SELECTION from the extrapolation range:
    // Prometheus 3.x selects left-open (t-d, t] (= closed [t-(d-1), t] on
    // integer millis) but still extrapolates toward the full window start
    // t-d — dStart0 below stays on windowMs either way
    val sel = if (selMs >= 0) selMs else windowMs
    val frame = Window.partitionBy(S.SeriesId).orderBy(S.Ts).rangeBetween(-sel, 0)
    val prev = lag(col(S.Value), 1).over(w)
    // per-row monotonic correction against the in-series predecessor; window
    // sums subtract the FIRST row's correction, whose pair precedes the window
    val base = df.withColumn("_radd",
      when(prev.isNotNull && col(S.Value) < prev, prev).otherwise(lit(0.0)))
    val n = count(col(S.Value)).over(frame)
    val tsF = min(col(S.Ts)).over(frame)
    val vF = expr(s"min_by(${S.Value}, ${S.Ts})").over(frame)
    val corr =
      sum(col("_radd")).over(frame) - expr(s"min_by(_radd, ${S.Ts})").over(frame)
    val rv = if (isCounter) col(S.Value) - vF + corr else col(S.Value) - vF
    val sampledMs = (col(S.Ts) - tsF).cast(DoubleType)
    val dStart0 = (tsF - (col(S.Ts) - windowMs)).cast(DoubleType)
    val avgIv = sampledMs / (n - 1).cast(DoubleType)
    // a counter cannot have been negative: never extrapolate back past the
    // interpolated zero crossing
    val dStart =
      if (isCounter)
        when(rv > 0 && vF >= 0 && sampledMs * vF / rv < dStart0, sampledMs * vF / rv)
          .otherwise(dStart0)
      else dStart0
    val extended = sampledMs + when(dStart < avgIv * 1.1, dStart).otherwise(avgIv / 2)
    val factor = extended / sampledMs
    base
      .withColumn("_n", n)
      .withColumn(S.Value, rv * factor)
      .where(col("_n") >= 2)
      .drop("_radd", "_n")
  }
}
