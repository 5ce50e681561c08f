package graft.stages

import graft.core.OracleSafe.{dAvg, dSum}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-series statistical diagnostics beyond the M3QL/PromQL surface. */
object SeriesStats {

  private val Dec = DecimalType(38, 9)

  /** AUTOCORRELATION at lags 1..`maxLag` over an integer-period series
    * (seasonality/burstiness diagnostic): for each key,
    * r_k = Σ (x_t − x̄)(x_{t+k} − x̄) / Σ (x_t − x̄)², the numerator over
    * the (t, t+k) pairs where BOTH periods exist (holes pair with
    * nothing), the denominator and mean over every present period.
    * Every cross-row sum quantizes addends through DECIMAL(38,9) and the
    * final ratio is quantized, so values replay cross-engine.
    *
    * Distributed shape: one mean/denominator aggregate per key, one
    * key-and-period equi-join per lag on the (small) per-period frame, one
    * final reduction — no window over the raw events, no per-lag scan of
    * the corpus. Input must be one row per (key, period). */
  def autocorrelation(series: DataFrame, maxLag: Int,
                      keyCol: String = "user_id",
                      tCol: String = "t",
                      vCol: String = "x"): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val stats = series.groupBy(col(keyCol))
      .agg(dAvg(col(vCol)).as("_mean"))
    val centered = series.join(stats, Seq(keyCol))
      .select(col(keyCol), col(tCol).as("_t"),
        (col(vCol) - col("_mean")).as("_c"))
    val denom = centered.groupBy(col(keyCol))
      .agg(dSum(col("_c") * col("_c")).as("_ss"))
    val lags = (1 to maxLag).map { k =>
      val lead = centered.select(col(keyCol), (col("_t") - k).as("_t"),
        col("_c").as("_cl"))
      centered.join(lead, Seq(keyCol, "_t"))
        .groupBy(col(keyCol))
        .agg(dSum(col("_c") * col("_cl")).as("_num"))
        .withColumn("lag", lit(k))
    }
    lags.reduce(_ unionByName _)
      .join(denom, Seq(keyCol))
      .select(col(keyCol), col("lag"),
        (col("_num") / col("_ss")).cast(Dec).cast(DoubleType).as("acf"))
  }

  /** CUSUM CHANGE-POINT detection per series: the running sum of
    * mean-centered values peaks (in absolute value) where the series'
    * level shifts — the classic single-change-point locator. Takes RAW
    * (key, period, value) rows; per-period totals, the running sum and
    * the centering all stay in EXACT decimal arithmetic: the mean-centered
    * CUSUM is computed SCALED by the period count,
    * N·S_i − i·S_N = N·(S_i − i·x̄·…) (same argmax, no division, no
    * double→decimal cast on any derived value — those casts round
    * HALF_UP in the JVM and half-even in DuckDB and would tie-break
    * differently). Returns each key's argmax |scaled CUSUM| period (ties
    * → earliest) with the scaled value (N·1e9 × the conventional CUSUM
    * of per-period totals).
    *
    * Distributed shape: one per-(key, period) aggregate, one per-key total,
    * one two-phase prefix scan keyed by the series, one per-key argmax
    * window (bounded by a series' period count). */
  def cusumChangePoint(events: DataFrame,
                       keyCol: String = "user_id",
                       tCol: String = "t",
                       vCol: String = "value"): DataFrame = {
    // nano-quantized INTEGER values: floor(v·1e9) is the same double op in
    // both engines, and every later step is scale-0 decimal (integer)
    // arithmetic — no precision-capped decimal multiply, no rounding-mode
    // exposure anywhere
    val xq = floor(col(vCol) * lit(1e9)).cast(DecimalType(38, 0))
    val per = events.groupBy(col(keyCol), col(tCol).as("_t"))
      .agg(sum(xq).as("_x"))
    val tot = per.groupBy(col(keyCol))
      .agg(sum(col("_x")).as("_S"), count(lit(1)).as("_N"))
    val scanned = graft.core.Dist.prefixScan(per,
        Seq(col(keyCol), col("_t")), col("_x"), Seq(col("_t")), Seq(keyCol))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
      .orderBy(col("_t").asc)
    scanned
      .withColumn("_i", row_number().over(w))
      .join(tot, Seq(keyCol))
      .withColumn("cusum_scaled",
        (col("_N") * col("_scan") - col("_i") * col("_S")).cast(DoubleType))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
          .orderBy(abs(col("cusum_scaled")).desc, col("_t").asc)))
      .where(col("_rn") === 1)
      .select(col(keyCol), col("_t").as("change_t"), col("cusum_scaled"))
  }

  /** CROSS-CORRELATION of two aligned series at lags −`maxLag`..`maxLag`:
    * r_k = Σ a_c(t)·b_c(t+k) / √(Σ a_c² · Σ b_c²) — which of two signals
    * LEADS the other, and by how much. Pairs require both periods present;
    * means and denominators cover every present period of each series.
    * Same decimal discipline and join shape as [[autocorrelation]]. */
  def crossCorrelation(a: DataFrame, b: DataFrame, maxLag: Int,
                       tCol: String = "t", vCol: String = "x"): DataFrame = {
    require(maxLag >= 0, "maxLag must be >= 0")
    def centered(df: DataFrame, cName: String): DataFrame = {
      val m = df.agg(dAvg(col(vCol)).as("_mean"))
      df.crossJoin(broadcast(m))
        .select(col(tCol).as("_t"), (col(vCol) - col("_mean")).as(cName))
    }
    val ca = centered(a, "_ca")
    val cb = centered(b, "_cb")
    val da = ca.agg(dSum(col("_ca") * col("_ca")).as("_sa"))
    val db = cb.agg(dSum(col("_cb") * col("_cb")).as("_sb"))
    val lags = (-maxLag to maxLag).map { k =>
      ca.join(cb.select((col("_t") - k).as("_t"), col("_cb")), Seq("_t"))
        .agg(dSum(col("_ca") * col("_cb")).as("_num"))
        .withColumn("lag", lit(k))
    }
    lags.reduce(_ unionByName _)
      .crossJoin(broadcast(da)).crossJoin(broadcast(db))
      .select(col("lag"),
        (col("_num") / sqrt(col("_sa") * col("_sb")))
          .cast(Dec).cast(DoubleType).as("ccf"))
  }

  /** Classical additive SEASONAL DECOMPOSITION per series with an ODD
    * period P: trend = the calendar-centered moving mean over ±(P−1)/2
    * periods (emitted only where the full P-point window exists, so trend
    * never leans on imputed values); seasonal = the per-phase (t mod P)
    * mean of the detrended values; residual = the rest. Output
    * `(key, t, trend, seasonal, resid)` on the trend-covered interior.
    *
    * Cross-engine exactness: the inputs are typically DERIVED doubles
    * (per-period means), and casting derived doubles to DECIMAL ties
    * HALF_UP on the JVM vs half-even in DuckDB — so both aggregates use
    * the k-means discipline instead: quantize once with floor(v·1e9)
    * (the same double op in both engines), sum as integers, divide twice.
    * Subtractions on the resulting doubles are exact IEEE ops.
    *
    * Distributed shape: the input is already one row per (key, period) —
    * tiny relative to the raw events — and the trend window is a
    * key-equi-join with |Δt| ≤ h (≤ P-fold amplification of that small
    * frame), then two grouped integer aggregates. No window function, no
    * single-partition funnel. */
  def seasonalDecompose(series: DataFrame, period: Int,
                        keyCol: String = "user_id", tCol: String = "t",
                        vCol: String = "x"): DataFrame = {
    require(period >= 3 && period % 2 == 1, "period must be odd and >= 3")
    val h = (period - 1) / 2
    val u = series.select(col(keyCol), col(tCol).as("_t"), col(vCol).as("_x"),
      floor(col(vCol) * lit(1e9)).cast(DecimalType(38, 0)).as("_u"))
    val nb = u.select(col(keyCol), col("_t").as("_tb"), col("_u").as("_ub"))
    val trend = u.join(nb, Seq(keyCol))
      .where(abs(col("_tb") - col("_t")) <= h)
      .groupBy(col(keyCol), col("_t"))
      .agg(count(col("_ub")).as("_n"),
        (sum(col("_ub")).cast(DoubleType) / count(col("_ub")) / lit(1e9))
          .as("trend"))
      .where(col("_n") === period)
      .drop("_n")
    val det = u.join(trend, Seq(keyCol, "_t"))
      .withColumn("_det", col("_x") - col("trend"))
      .withColumn("_ph", pmod(col("_t"), lit(period)))
    val seasonal = det.groupBy(col(keyCol), col("_ph"))
      .agg((sum(floor(col("_det") * lit(1e9)).cast(DecimalType(38, 0)))
          .cast(DoubleType) / count(col("_det")) / lit(1e9)).as("seasonal"))
    det.join(seasonal, Seq(keyCol, "_ph"))
      .select(col(keyCol), col("_t").as(tCol), col("trend"), col("seasonal"),
        (col("_det") - col("seasonal")).as("resid"))
  }

  /** ROBUST TREND per series: the Mann-Kendall statistic
    * S = Σ_{i<j} sign(x_j − x_i) (pure integer — monotone-trend evidence
    * immune to outliers) and the Theil-Sen slope (the nearest-rank median
    * of all pairwise slopes (x_j − x_i)/(t_j − t_i) — the robust rate of
    * change). Output `(key, mk_s, sen_slope, n_pairs)`.
    *
    * Cross-engine exactness: S is integer; each slope is one IEEE
    * subtraction pair and division; the median picks the VALUE at rank
    * ceil(n/2) of the slope order — well-defined on the multiset, no
    * cross-row float sums anywhere.
    *
    * Distributed shape: one keyed self-join builds the O(n²)-per-series
    * pair frame (n = periods per series, corpus-bounded per key — this is
    * a per-series diagnostic, not a corpus-pairs operator), one grouped
    * integer sum, one per-key rank window over that bounded pair frame. */
  def robustTrend(series: DataFrame,
                  keyCol: String = "user_id", tCol: String = "t",
                  vCol: String = "x"): DataFrame = {
    val a = series.select(col(keyCol), col(tCol).as("_ta"), col(vCol).as("_xa"))
    val b = series.select(col(keyCol), col(tCol).as("_tb"), col(vCol).as("_xb"))
    val pairs = a.join(b, Seq(keyCol)).where(col("_tb") > col("_ta"))
      .withColumn("_sgn",
        when(col("_xb") > col("_xa"), 1L)
          .when(col("_xb") < col("_xa"), -1L).otherwise(0L))
      .withColumn("_slope",
        (col("_xb") - col("_xa")) / (col("_tb") - col("_ta")))
    val s = pairs.groupBy(col(keyCol))
      .agg(sum(col("_sgn")).as("mk_s"), count(lit(1)).as("n_pairs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col("_slope"))
    val med = pairs.withColumn("_rn", row_number().over(w))
      .join(s, Seq(keyCol))
      .where(col("_rn") === ceil(col("n_pairs") / lit(2.0)).cast("long"))
      .select(col(keyCol), col("_slope").as("sen_slope"))
    s.join(med, Seq(keyCol))
      .select(col(keyCol), col("mk_s"), col("sen_slope"), col("n_pairs"))
  }

  /** SEASONAL ANOMALIES: periods whose [[seasonalDecompose]] residual sits
    * ≥ `z` standard deviations from the series' residual mean — level
    * shifts and spikes that survive after trend and seasonality are
    * explained away. Residual moments use the same floor(v·1e9) integer
    * discipline (residuals are doubly-derived doubles — the decimal-cast
    * tie trap at its worst); the σ is one IEEE sqrt and the z one
    * subtraction and division, so flagged rows replay exactly. Series
    * with zero residual variance flag nothing. */
  def seasonalAnomalies(series: DataFrame, period: Int, z: Double = 2.0,
                        keyCol: String = "user_id", tCol: String = "t",
                        vCol: String = "x"): DataFrame = {
    val dec = seasonalDecompose(series, period, keyCol, tCol, vCol)
    def q9(c: Column): Column =
      floor(c * lit(1e9)).cast(DecimalType(38, 0))
    val m = dec.groupBy(col(keyCol))
      .agg((sum(q9(col("resid"))).cast(DoubleType) / count(lit(1)) / lit(1e9))
        .as("_mr"))
    val v = dec.join(m, Seq(keyCol))
      .groupBy(col(keyCol), col("_mr"))
      .agg((sum(q9((col("resid") - col("_mr")) * (col("resid") - col("_mr"))))
          .cast(DoubleType) / count(lit(1)) / lit(1e9)).as("_var"))
      .where(col("_var") > 0)
      .withColumn("_sigma", sqrt(col("_var")))
    dec.join(v, Seq(keyCol))
      .withColumn("zscore", (col("resid") - col("_mr")) / col("_sigma"))
      .where(abs(col("zscore")) >= z)
      .select(col(keyCol), col(tCol), col("resid"), col("zscore"))
  }

  /** SAX symbolization (Lin et al. 2003): each series becomes a `word`-
    * character string over alphabet {a,b,c,d} — PAA segment means
    * z-scored against the series' own mean/std and cut at the N(0,1)
    * quartile breakpoints ±0.6745 and 0. The discretization that makes
    * series indexable/joinable by shape: equal words ⇒ similar shape,
    * motif mining is a groupBy(word), and a 10⁶-point series shrinks to
    * `word` bytes.
    *
    * Cross-engine: mean and variance ride the floor(v·1e9)/DECIMAL(38,0)
    * integer discipline (no derived-double decimal casts — those
    * tie-break differently across engines); the symbol cut compares two
    * deterministic doubles, and sqrt is exact IEEE, so the word replays
    * bit for bit. A zero-variance series z-scores every segment to the
    * top cell: flat ⇒ all-'d', deterministic in both engines.
    *
    * Distributed shape: the per-key rank is the two-phase prefix scan;
    * segments aggregate per (key, seg); the word assembles from ≤ `word`
    * rows per key. Input one row per (key, period). */
  def sax(series: DataFrame, word: Int = 8,
          keyCol: String = "user_id", tCol: String = "t",
          vCol: String = "x"): DataFrame = {
    require(word >= 1, "word must be >= 1")
    def q9(c: Column): Column = floor(c * lit(1e9)).cast(DecimalType(38, 0))
    val stats0 = series.groupBy(col(keyCol))
      .agg(count(lit(1)).as("_n"),
        (sum(q9(col(vCol))).cast(DoubleType) / count(lit(1)) / lit(1e9))
          .as("_mean"))
    val stats = series.join(stats0, Seq(keyCol))
      .groupBy(col(keyCol), col("_n"), col("_mean"))
      .agg((sum(q9((col(vCol) - col("_mean")) * (col(vCol) - col("_mean"))))
        .cast(DoubleType) / count(lit(1)) / lit(1e9)).as("_var"))
      .withColumn("_std", sqrt(col("_var")))
    val ranked = graft.core.Dist.prefixScan(series, Seq(col(tCol)), lit(1L),
      Seq(col(tCol)), Seq(keyCol))
    val segs = ranked.join(stats, Seq(keyCol))
      .withColumn("_seg",
        expr(s"CAST(((_scan - 1) * $word) DIV _n AS INT)"))
      .groupBy(col(keyCol), col("_seg"), col("_mean"), col("_std"))
      .agg((sum(q9(col(vCol))).cast(DoubleType) / count(lit(1)) / lit(1e9))
        .as("_m"))
    val d = col("_m") - col("_mean")
    val sym = when(d < lit(-0.6745) * col("_std"), lit("a"))
      .when(d < lit(0.0), lit("b"))
      .when(d < lit(0.6745) * col("_std"), lit("c"))
      .otherwise(lit("d"))
    segs.withColumn("_sym", sym)
      .groupBy(col(keyCol))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(_seg, _sym))), p -> p._sym), '')").as("sax"))
  }

  /** Cross-series shape MOTIFS: group [[sax]] words across series and keep
    * the shapes at least `minSupport` series share — the motif-mining
    * groupBy the SAX representation exists for (equal words ⇒ similar
    * normalized shape, so a recurring daily pattern across users falls out
    * of one hash aggregation over `word`-byte strings, never a series ×
    * series comparison). Returns (sax_word, n_series, example_key). */
  def saxMotifs(series: DataFrame, word: Int = 8, minSupport: Int = 2,
                keyCol: String = "user_id", tCol: String = "t",
                vCol: String = "x"): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    sax(series, word, keyCol, tCol, vCol)
      .groupBy(col("sax"))
      .agg(count(lit(1)).as("n_series"), min(col(keyCol)).as("example_key"))
      .where(col("n_series") >= minSupport)
      .select(col("sax").as("sax_word"), col("n_series"), col("example_key"))
  }

  /** ROLLING-ORIGIN FORECAST BACKTEST per series: fit OLS on the first
    * `trainFrac` of each key's periods (time order), score the holdout
    * tail with mean absolute error — the eval-side complement of
    * `predict_linear` (does the linear model actually forecast this
    * series?). Slope/intercept come from DECIMAL(38,9)-quantized moment
    * sums (exact cross-engine); per-row errors are DERIVED doubles, so
    * they are floor-quantized to integer nanos before summing — the
    * rounding-mode-free discipline, no HALF_UP/half-even exposure.
    * Time is CENTERED per key (t − min t) before the moments: raw epoch
    * periods make n·Σt² − (Σt)² cancel ~7 digits and push the decimal
    * sums past the 2^53 range where DuckDB's int128→double conversion is
    * 1-ulp inexact — centered, the sums convert exactly and nothing
    * cancels. `intercept` is therefore the fitted value at the series'
    * FIRST period. Degenerate fits (one train point) fall back to
    * slope 0 / train mean.
    *
    * Distributed shape: one per-key rank window (bounded by a series'
    * period count), one train aggregate, one broadcast-sized fit frame
    * joined back to the holdout, one final reduction. Keys with fewer
    * than `minPoints` periods are dropped (both engines). Input must be
    * one row per (key, period). */
  def forecastBacktest(series: DataFrame, trainFrac: Double = 0.8,
                       minPoints: Int = 5, keyCol: String = "user_id",
                       tCol: String = "t", vCol: String = "x"): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1, "trainFrac must be in (0, 1)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val ranked = series
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .where(col("_n") >= minPoints)
      .withColumn("_ntr", ceil(col("_n") * lit(trainFrac)))
      .withColumn("_tc", col(tCol) - min(col(tCol)).over(wAll))
    val fit = ranked.where(col("_rn") <= col("_ntr"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_train"),
        dSum(col("_tc")).as("_st"), dSum(col(vCol)).as("_sx"),
        dSum(col("_tc") * col("_tc")).as("_stt"),
        dSum(col("_tc") * col(vCol)).as("_stx"))
      .withColumn("_den",
        col("n_train") * col("_stt") - col("_st") * col("_st"))
      .withColumn("slope", when(col("_den") === 0.0, lit(0.0))
        .otherwise((col("n_train") * col("_stx") - col("_st") * col("_sx"))
          / col("_den")))
      .withColumn("intercept",
        (col("_sx") - col("slope") * col("_st")) / col("n_train"))
    ranked.where(col("_rn") > col("_ntr"))
      .join(fit, Seq(keyCol))
      .withColumn("_errq",
        floor(abs(col(vCol) - (col("intercept") + col("slope") * col("_tc")))
          * lit(1e9)).cast(DecimalType(38, 0)))
      .groupBy(col(keyCol))
      .agg(first(col("n_train")).as("n_train"), count(lit(1)).as("n_test"),
        first(col("slope")).as("slope"),
        first(col("intercept")).as("intercept"),
        (sum(col("_errq")).cast(DoubleType) / lit(1e9) / count(lit(1)))
          .as("mae"))
  }
}
