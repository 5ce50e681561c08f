package graft.queries

import graft.core.Tables
import graft.core.OracleSafe.sqlSum
import graft.lang.prom.PromQL
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the round-4 PromQL surface expansion: `offset`,
  * comparison filters + set operators, per-instant `topk`, the `quantile`
  * aggregation, `predict_linear` (least-squares over a trailing window),
  * `absent`, `label_replace`, `on`/`group_left` vector matching, and
  * subqueries. Every query goes through the full PromQL parse→compile path
  * over the gridded event samples; the DuckDB oracle mirrors the math on the
  * same parquet.
  */
object PromX extends QueryPack {
  import SeriesOracle._
  private val grid = Tables.EventsGrid6h

  private def run(s: SparkSession, sf: String, q: String): DataFrame =
    PromQL.query(s, g(s, sf), grid, q)

  // ---- topk: per-instant rank (unlike M3 topK's per-series rank) -----------
  private def qTopk(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "topk(2, click)"))
  private val qTopkSql = withSG(
    s""", v AS (
       |  SELECT usr, ts, value,
       |    row_number() OVER (PARTITION BY ts ORDER BY value DESC, 'name:click,user:' || usr) AS rn
       |  FROM g WHERE etype = 'click')
       |SELECT 'name:click,user:' || usr AS series, ts, value FROM v WHERE rn <= 2 $ord""".stripMargin)

  // ---- offset modifier through an aggregation ------------------------------
  private def qOffsetSum(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, """sum(view{user="4"} offset 12h)"""))
  private val qOffsetSumSql = withSG(
    s"""SELECT '' AS series, ts + 43200000 AS ts, ${sqlSum("value")} AS value
       |FROM g WHERE etype = 'view' AND usr = '4' AND ts <= ${grid.endMs - 43200000L}
       |GROUP BY ts $ord""".stripMargin)

  // ---- comparison filters joined with `and` --------------------------------
  private def qCompareAnd(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "(click > 30) and (click < 60)"))
  private val qCompareAndSql = withSG(
    s"""SELECT 'name:click,user:' || usr AS series, ts, value
       |FROM g WHERE etype = 'click' AND value > 30 AND value < 60 $ord""".stripMargin)

  // ---- quantile aggregation (linear interpolation across series) -----------
  private def qQuantile(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "quantile(0.9, click)"))
  private val qQuantileSql = withSG(
    s"""SELECT '' AS series, ts, quantile_cont(value, 0.9) AS value
       |FROM g WHERE etype = 'click' GROUP BY ts $ord""".stripMargin)

  // ---- predict_linear: least-squares line over [t-2d, t], +1h --------------
  // covar_pop/var_pop are stable one-pass co-moments on BOTH engines; the
  // 6-decimal round absorbs the ~1e-12 summation-order noise between them
  private def qPredict(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, """predict_linear(view{user="4"}[2d], 3600)"""))
      .withColumn("value", round(col("value"), 6))
  private val qPredictSql = withSG(
    s""", v AS (
       |  SELECT usr, ts, value, ts / 1000.0 AS x,
       |    count(value)  OVER w AS n,
       |    covar_pop(value, ts / 1000.0) OVER w AS cxy,
       |    var_pop(ts / 1000.0) OVER w AS vx,
       |    avg(value)    OVER w AS my,
       |    avg(ts / 1000.0) OVER w AS mx
       |  FROM g WHERE etype = 'view' AND usr = '4'
       |  WINDOW w AS (ORDER BY ts RANGE BETWEEN 172800000 PRECEDING AND CURRENT ROW))
       |SELECT 'name:view,user:4' AS series, ts,
       |       round(my + (cxy / vx) * (x + 3600 - mx), 6) AS value
       |FROM v WHERE n >= 2 $ord""".stripMargin)

  // ---- absent over an empty selection --------------------------------------
  private def qAbsent(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, """absent(click{user="77"})"""))
  private val qAbsentSql =
    s"""SELECT 'name:click,user:77' AS series,
       |  unnest(generate_series(${grid.startMs}, ${grid.alignedEndMs}, ${grid.stepMs})) AS ts,
       |  1.0 AS value ORDER BY series, ts, value""".stripMargin

  // ---- label_replace with a backref ----------------------------------------
  private def qLabelReplace(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, """label_replace(error, "env", "env-$1", "user", "(4|5)")"""))
  private val qLabelReplaceSql = withSG(
    s"""SELECT CASE WHEN usr IN ('4','5')
       |         THEN 'env:env-' || usr || ',name:error,user:' || usr
       |         ELSE 'name:error,user:' || usr END AS series, ts, value
       |FROM g WHERE etype = 'error' $ord""".stripMargin)

  // ---- on() one-to-one matching against an aggregated divisor --------------
  // Prometheus label hygiene: a one-to-one `on(user)` match projects the
  // result onto the on-labels only (resultMetric Keep), so the series key is
  // just `user:N` — no metric name survives an arithmetic op.
  private def qOnDivide(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "click / on(user) (sum by (user) (view))"))
  private val qOnDivideSql = withSG(
    s""", r AS (SELECT usr, ts, ${sqlSum("value")} AS rv
       |        FROM g WHERE etype = 'view' GROUP BY usr, ts)
       |SELECT 'user:' || g.usr AS series, g.ts AS ts,
       |       CASE WHEN r.rv = 0 THEN CAST('NaN' AS DOUBLE) ELSE g.value / r.rv END AS value
       |FROM g JOIN r ON g.usr = r.usr AND g.ts = r.ts
       |WHERE g.etype = 'click' $ord""".stripMargin)

  // ---- group_left: many left series fan onto one aggregated right ----------
  // The left branches carry a distinguishing `op` label (copied in via
  // label_replace) because `or` matches on all labels EXCLUDING the metric
  // name — without it the view branch would collapse into click's label
  // sets — and because group_left output drops the name, which would
  // otherwise leave duplicate result label sets.
  private def qGroupLeft(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf,
      """(label_replace(click, "op", "c", "", "") or label_replace(view, "op", "v", "", ""))""" +
        " * on(user) group_left (sum by (user) (error))"))
  private val qGroupLeftSql = withSG(
    s""", r AS (SELECT usr, ts, ${sqlSum("value")} AS rv
       |        FROM g WHERE etype = 'error' GROUP BY usr, ts)
       |SELECT 'op:' || (CASE WHEN g.etype = 'click' THEN 'c' ELSE 'v' END)
       |         || ',user:' || g.usr AS series, g.ts AS ts,
       |       g.value * r.rv AS value
       |FROM g JOIN r ON g.usr = r.usr AND g.ts = r.ts
       |WHERE g.etype IN ('click', 'view') $ord""".stripMargin)

  // ---- subquery: inner expression re-gridded to 12h instants, 1d window ----
  // Step instants take the newest sample AT-OR-BEFORE them (ceiling bucket):
  // a sample only becomes visible from the next step multiple >= its ts, so
  // no instant reads the future.
  // The `click * 2` inner is a pointwise chain over one selector, so each
  // 12h instant evaluates the CARRIED selector sample under the default 5m
  // lookback delta — an instant whose newest bucket sample is older than the
  // delta is stale and yields nothing (Prometheus semantics; the 6h-gridded
  // samples survive only at instants they land on exactly).
  private def qSubquery(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "max_over_time((click * 2)[1d:12h])"))
  private val qSubquerySql = withSG(
    s""", i AS (
       |  SELECT usr, ((ts + 43199999) // 43200000) * 43200000 AS ti,
       |    arg_max(value * 2, ts) AS v, max(ts) AS sts
       |  FROM g WHERE etype = 'click' GROUP BY 1, 2)
       |SELECT series, ts, value FROM (
       |  SELECT 'user:' || usr AS series, ti AS ts,
       |    max(v) OVER (PARTITION BY usr ORDER BY ti
       |                 RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW) AS value
       |  FROM i WHERE ti - sts < 300000)
       |WHERE ts >= ${grid.startMs} AND ts < ${grid.endMs} $ord""".stripMargin)

  // ---- irate with counter-reset handling -----------------------------------
  // A reset (v < prev) emits the post-reset rate value/elapsed — Prometheus
  // restarts the counter at 0, it does not drop the point.
  private def qIrate(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "irate(click[12h])"))
  private val qIrateSql = withSG(
    s""", l AS (
       |  SELECT usr, ts, value,
       |    lag(value) OVER pw AS pv, lag(ts) OVER pw AS pt
       |  FROM g WHERE etype = 'click' WINDOW pw AS (PARTITION BY usr ORDER BY ts))
       |SELECT 'name:click,user:' || usr AS series, ts,
       |  (CASE WHEN value >= pv THEN value - pv ELSE value END) / ((ts - pt) / 1000.0) AS value
       |FROM l WHERE pt IS NOT NULL AND ts - pt <= 43200000 $ord""".stripMargin)

  // ---- increase with Prometheus window-edge extrapolation ------------------
  // Full promql extrapolatedRate: raw counter delta (monotonic correction
  // for resets) scaled by extrapolatedInterval/sampledInterval, with the
  // counter-zero clamp on the start edge; the end gap is 0 because the
  // engine evaluates at sample points. round(…,6) absorbs cross-engine
  // double-summation noise (same convention as promql_predict_linear).
  private def qIncrease(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "increase(view[18h])"))
      .withColumn("value", round(col("value"), 6))
  private val qIncreaseSql = withSG(
    s""", l AS (
       |  SELECT usr, ts, value,
       |    CASE WHEN lag(value) OVER pw IS NOT NULL AND value < lag(value) OVER pw
       |         THEN lag(value) OVER pw ELSE 0.0 END AS radd
       |  FROM g WHERE etype = 'view' WINDOW pw AS (PARTITION BY usr ORDER BY ts)),
       |v AS (
       |  SELECT usr, ts, value, radd,
       |    count(value) OVER fw AS n,
       |    min(ts) OVER fw AS tsf,
       |    arg_min(value, ts) OVER fw AS vf,
       |    sum(radd) OVER fw - arg_min(radd, ts) OVER fw AS corr
       |  FROM l WINDOW fw AS (PARTITION BY usr ORDER BY ts
       |                       RANGE BETWEEN 64800000 PRECEDING AND CURRENT ROW)),
       |e AS (
       |  SELECT usr, ts, n, vf,
       |    value - vf + corr AS rv,
       |    CAST(ts - tsf AS DOUBLE) AS si,
       |    CAST(tsf - (ts - 64800000) AS DOUBLE) AS ds0,
       |    CAST(ts - tsf AS DOUBLE) / (n - 1) AS ai
       |  FROM v),
       |x AS (
       |  SELECT usr, ts, n, rv, si, ai,
       |    CASE WHEN rv > 0 AND vf >= 0 AND si * vf / rv < ds0
       |         THEN si * vf / rv ELSE ds0 END AS ds
       |  FROM e)
       |SELECT 'name:view,user:' || usr AS series, ts,
       |  round(rv * ((si + CASE WHEN ds < ai * 1.1 THEN ds ELSE ai / 2 END) / si), 6) AS value
       |FROM x WHERE n >= 2 $ord""".stripMargin)

  // ---- Prometheus-exact rate: extrapolated increase per second -------------
  // Same math as promql_increase divided by the window seconds, behind the
  // opt-in exactRate flag (the default `rate` keeps reference parity with
  // PerSecondRateStage — header divergence list).
  private def qRateExtrapolated(s: SparkSession, sf: String): DataFrame =
    flat(PromQL.query(s, g(s, sf), grid, "rate(view[18h])", exactRate = true))
      .withColumn("value", round(col("value"), 9))
  private val qRateExtrapolatedSql = withSG(
    s""", l AS (
       |  SELECT usr, ts, value,
       |    CASE WHEN lag(value) OVER pw IS NOT NULL AND value < lag(value) OVER pw
       |         THEN lag(value) OVER pw ELSE 0.0 END AS radd
       |  FROM g WHERE etype = 'view' WINDOW pw AS (PARTITION BY usr ORDER BY ts)),
       |v AS (
       |  SELECT usr, ts, value, radd,
       |    count(value) OVER fw AS n,
       |    min(ts) OVER fw AS tsf,
       |    arg_min(value, ts) OVER fw AS vf,
       |    sum(radd) OVER fw - arg_min(radd, ts) OVER fw AS corr
       |  FROM l WINDOW fw AS (PARTITION BY usr ORDER BY ts
       |                       RANGE BETWEEN 64800000 PRECEDING AND CURRENT ROW)),
       |e AS (
       |  SELECT usr, ts, n, vf,
       |    value - vf + corr AS rv,
       |    CAST(ts - tsf AS DOUBLE) AS si,
       |    CAST(tsf - (ts - 64800000) AS DOUBLE) AS ds0,
       |    CAST(ts - tsf AS DOUBLE) / (n - 1) AS ai
       |  FROM v),
       |x AS (
       |  SELECT usr, ts, n, rv, si, ai,
       |    CASE WHEN rv > 0 AND vf >= 0 AND si * vf / rv < ds0
       |         THEN si * vf / rv ELSE ds0 END AS ds
       |  FROM e)
       |SELECT 'name:view,user:' || usr AS series, ts,
       |  round(rv * ((si + CASE WHEN ds < ai * 1.1 THEN ds ELSE ai / 2 END) / si)
       |        / 64800.0, 9) AS value
       |FROM x WHERE n >= 2 $ord""".stripMargin)

  // ---- mad_over_time: median absolute deviation of the trailing window ----
  // round(…,9) absorbs the midpoint-vs-interpolation 1-ulp difference
  // between the engines' even-count medians.
  private def qMad(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "mad_over_time(click[1d])"))
      .withColumn("value", round(col("value"), 9))
  private val qMadSql = withSG(
    s""", l AS (
       |  SELECT usr, ts, value,
       |    list(value) OVER (PARTITION BY usr ORDER BY ts
       |                      RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW) AS lv
       |  FROM g WHERE etype = 'click')
       |SELECT 'name:click,user:' || usr AS series, ts,
       |  round(list_aggregate(
       |    list_transform(lv, x -> abs(x - list_aggregate(lv, 'median'))),
       |    'median'), 9) AS value
       |FROM l $ord""".stripMargin)

  // ---- absent_over_time: presence window over a sparse series --------------
  // purchase/user=4 is the sparsest series (has multi-bucket gaps at every
  // SF), so the 12h window yields a MIX of absent and covered instants; the
  // engine side runs the bucketed anti range-join, the oracle the literal
  // NOT EXISTS range predicate.
  private def qAbsentWindow(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, """absent_over_time(purchase{user="4"}[12h])"""))
  private val qAbsentWindowSql = withSG(
    s""", p AS (SELECT DISTINCT ts FROM g WHERE etype = 'purchase' AND usr = '4'),
       |grid AS (SELECT ${grid.startMs} + ${grid.stepMs} * i AS ts
       |         FROM range(0, ${(grid.endMs - grid.startMs) / grid.stepMs}) r(i))
       |SELECT 'name:purchase,user:4' AS series, grid.ts AS ts, 1.0 AS value
       |FROM grid
       |WHERE NOT EXISTS (SELECT 1 FROM p
       |                  WHERE p.ts BETWEEN grid.ts - 43200000 AND grid.ts) $ord""".stripMargin)

  // ---- resets: pair-count window with the straddle correction --------------
  // The 13h window over 6h-spaced samples holds up to 3 samples, so the
  // earliest in-window sample's reset pair regularly straddles the window
  // start — Prometheus only counts pairs with BOTH samples inside [t-d, t],
  // hence the arg_min subtraction on both engines.
  private def qResets(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "resets(click[13h])"))
  private val qResetsSql = withSG(
    s""", l AS (
       |  SELECT usr, ts,
       |    CASE WHEN lag(value) OVER pw IS NOT NULL AND value < lag(value) OVER pw
       |         THEN 1.0 ELSE 0.0 END AS f
       |  FROM g WHERE etype = 'click'
       |  WINDOW pw AS (PARTITION BY usr ORDER BY ts))
       |SELECT 'name:click,user:' || usr AS series, ts,
       |  sum(f) OVER fw - arg_min(f, ts) OVER fw AS value
       |FROM l
       |WINDOW fw AS (PARTITION BY usr ORDER BY ts
       |              RANGE BETWEEN 46800000 PRECEDING AND CURRENT ROW) $ord""".stripMargin)

  // ---- @ on a range selector: rate pinned at a fixed instant ---------------
  // rate(view[12h] @ t): the reference-semantics smoothed rate evaluated
  // with the scan pinned to [t-12h-5m, t], its value at t stamped onto every
  // grid instant. The oracle mirrors the same pinned scan bounds. t is a
  // data-bearing instant at every SF (several users carry adjacent view
  // buckets there even at sf0.001).
  private val atT = grid.startMs + 7 * grid.stepMs
  private def qAtRate(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, s"rate(view[12h] @ ${atT / 1000})"))
  private val qAtRateSql = withSG(
    s""", c AS (SELECT usr, ts, value FROM g
       |        WHERE etype = 'view' AND ts >= ${atT - 43200000 - 300000} AND ts <= $atT),
       |rf AS (
       |  SELECT usr, ts, value,
       |    CASE WHEN lag(value) OVER pw IS NOT NULL AND value < lag(value) OVER pw
       |         THEN 1 ELSE 0 END AS reset
       |  FROM c WINDOW pw AS (PARTITION BY usr ORDER BY ts)),
       |seg AS (
       |  SELECT usr, ts, value,
       |    sum(reset) OVER (PARTITION BY usr ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sg
       |  FROM rf),
       |rated AS (
       |  SELECT usr, ts,
       |    (value - lag(value) OVER sw) / ((ts - lag(ts) OVER sw) / 1000.0) AS rate
       |  FROM seg WINDOW sw AS (PARTITION BY usr, sg ORDER BY ts)
       |  QUALIFY rate IS NOT NULL),
       |sm AS (
       |  SELECT usr, ts,
       |    CAST(sum(CAST(rate AS DECIMAL(38,9))) OVER fw AS DOUBLE)
       |      / count(rate) OVER fw AS value
       |  FROM rated WINDOW fw AS (PARTITION BY usr ORDER BY ts
       |                           RANGE BETWEEN 43200000 PRECEDING AND CURRENT ROW))
       |SELECT 'name:view,user:' || sm.usr AS series, gs.ts AS ts, sm.value AS value
       |FROM sm CROSS JOIN (SELECT unnest(generate_series(${grid.startMs},
       |  ${grid.alignedEndMs}, ${grid.stepMs})) AS ts) gs
       |WHERE sm.ts = $atT $ord""".stripMargin)

  // ---- scalar(): per-step dynamic scalar broadcast onto a vector -----------
  // scalar(sum(view)) is the all-series view total at each step (one series
  // after the sum → defined wherever any view bucket exists). Steps where the
  // inner vector is empty yield NaN; the projection drops those to keep the
  // oracle an inner join.
  private def qScalarBinop(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "click - scalar(sum(view))"))
      .where(!isnan(col("value")))
  private val qScalarBinopSql = withSG(
    s""", sv AS (SELECT ts, ${sqlSum("value")} AS svv FROM g WHERE etype = 'view' GROUP BY ts)
       |SELECT 'user:' || usr AS series, g.ts AS ts, g.value - sv.svv AS value
       |FROM g JOIN sv ON g.ts = sv.ts WHERE etype = 'click' $ord""".stripMargin)

  // ---- time() as a scalar operand ------------------------------------------
  private def qTimeBinop(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "click / time()"))
  private val qTimeBinopSql = withSG(
    s"""SELECT 'user:' || usr AS series, ts, value / (ts / 1000.0) AS value
       |FROM g WHERE etype = 'click' $ord""".stripMargin)

  // ---- limitk: deterministic k-series-per-step subset ----------------------
  private def qLimitk(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "limitk(3, click)"))
  private val qLimitkSql = withSG(
    s""", v AS (
       |  SELECT usr, ts, value,
       |    row_number() OVER (PARTITION BY ts ORDER BY 'name:click,user:' || usr) AS rn
       |  FROM g WHERE etype = 'click')
       |SELECT 'name:click,user:' || usr AS series, ts, value FROM v WHERE rn <= 3 $ord""".stripMargin)

  // ---- limit_ratio: md5-fraction series sample, mirrored bit-for-bit -------
  private def qLimitRatio(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "limit_ratio(0.4, click)"))
  private val qLimitRatioSql = withSG(
    s"""SELECT 'name:click,user:' || usr AS series, ts, value
       |FROM g WHERE etype = 'click'
       |  AND CAST(('0x' || substr(md5('name:click,user:' || usr), 1, 8)) AS BIGINT)
       |      / 4294967296.0 < 0.4 $ord""".stripMargin)

  // ---- ts_of_max_over_time: timestamp of the window maximum ----------------
  // DuckDB's window arg_max has no composite tie-break key, so the oracle is
  // a bounded range self-join: window rows per instant, max value, then the
  // latest timestamp among the maxima (the engine's struct(value, ts) order).
  private def qTsOfMax(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "ts_of_max_over_time(click[12h])"))
  private val qTsOfMaxSql = withSG(
    s""", j AS (
       |  SELECT a.usr, a.ts AS ats, b.ts AS bts, b.value AS bv
       |  FROM g a JOIN g b ON a.usr = b.usr AND a.etype = b.etype
       |    AND b.ts BETWEEN a.ts - 43200000 AND a.ts
       |  WHERE a.etype = 'click'),
       |m AS (SELECT usr, ats, max(bv) AS mv FROM j GROUP BY usr, ats)
       |SELECT 'name:click,user:' || j.usr AS series, j.ats AS ts,
       |  max(j.bts) / 1000.0 AS value
       |FROM j JOIN m ON j.usr = m.usr AND j.ats = m.ats AND j.bv = m.mv
       |GROUP BY j.usr, j.ats $ord""".stripMargin)

  // ---- without grouping (beyond-parity: the reference raises) --------------
  // Group identity = full label set minus the listed labels and the name.
  // Dropping `user` collapses every view series into one unlabeled group;
  // the second query drops ONLY the name, so each click series survives as
  // its own group keyed by the unpacked remaining labels (user:N).
  private def qSumWithout(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "sum without (user) (view)"))
  private val qSumWithoutSql = withSG(
    s"""SELECT '' AS series, ts, ${sqlSum("value")} AS value
       |FROM g WHERE etype = 'view' GROUP BY ts $ord""".stripMargin)

  private def qAvgWithout(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "avg without () (click)"))
  private val qAvgWithoutSql = withSG(
    s"""SELECT 'user:' || usr AS series, ts,
       |  ${sqlSum("value")} / count(value) AS value
       |FROM g WHERE etype = 'click' GROUP BY usr, ts $ord""".stripMargin)

  // ---- subquery staleness carry: selector inner + lookback-delta -----------
  // A plain-selector inner is instant evaluation, so each 6h step instant
  // reads the newest error sample inside the left-open staleness window
  // (t-12h, t] (lookback-delta 12h, mirroring --query.lookback-delta):
  // one-bucket gaps carry the previous sample, two-bucket gaps go stale
  // (12h is NOT < 12h). count_over_time then counts carried instants too —
  // the classic Prometheus subquery behavior. The oracle rebuilds the carry
  // with DuckDB's ASOF JOIN over the same per-series instant span.
  private val staleDelta = 43200000L
  private def qSubqueryStale(s: SparkSession, sf: String): DataFrame =
    flat(PromQL.query(s, g(s, sf), grid, """count_over_time(error{user="3"}[1d:6h])""",
      lookbackDeltaMs = staleDelta))
  private val qSubqueryStaleSql = withSG(
    s""", i AS (SELECT usr, ts AS ti, value FROM g WHERE etype = 'error' AND usr = '3'),
       |sp AS (SELECT usr,
       |         unnest(generate_series(min(ti),
       |           LEAST(max(ti) + $staleDelta, ${grid.alignedEndMs}),
       |           ${grid.stepMs})) AS t
       |       FROM i GROUP BY usr),
       |c AS (SELECT sp.usr, sp.t, i.value, i.ti
       |      FROM sp ASOF JOIN i ON sp.usr = i.usr AND i.ti <= sp.t),
       |v AS (SELECT usr, t, value FROM c WHERE t - ti < $staleDelta)
       |SELECT 'name:error,user:' || usr AS series, t AS ts,
       |  CAST(count(value) OVER (PARTITION BY usr ORDER BY t
       |       RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS value
       |FROM v WHERE t >= ${grid.startMs} AND t < ${grid.endMs} $ord""".stripMargin)

  /** Computed subquery inner with staleness: the chain `error * 2 > 40` is
    * evaluated per subquery instant Prometheus-style — the SELECTOR's sample
    * carries up to the lookback delta, then the arithmetic and the filter
    * apply to the carried value (carry-then-transform; carrying the chain's
    * output would wrongly revive instants whose fresh carried value fails
    * the filter). The oracle's carry CTE is MATERIALIZED: DuckDB otherwise
    * pushes the value filter below the ASOF join, turning filter-after-carry
    * into carry-over-filtered-samples — a different (wrong) semantic. */
  private def qSubqueryStaleComputed(s: SparkSession, sf: String): DataFrame =
    flat(PromQL.query(s, g(s, sf), grid,
      """max_over_time((error{user="3"} * 2 > 40)[1d:6h])""",
      lookbackDeltaMs = staleDelta))
  private val qSubqueryStaleComputedSql = withSG(
    s""", i AS (SELECT usr, ts AS ti, value FROM g WHERE etype = 'error' AND usr = '3'),
       |sp AS (SELECT usr,
       |         unnest(generate_series(min(ti),
       |           LEAST(max(ti) + $staleDelta, ${grid.alignedEndMs}),
       |           ${grid.stepMs})) AS t
       |       FROM i GROUP BY usr),
       |c AS MATERIALIZED (SELECT sp.usr, sp.t, i.value, i.ti
       |      FROM sp ASOF JOIN i ON sp.usr = i.usr AND i.ti <= sp.t),
       |v AS (SELECT usr, t, value * 2 AS value FROM c
       |      WHERE t - ti < $staleDelta AND value * 2 > 40)
       |SELECT 'user:' || usr AS series, t AS ts,
       |  max(value) OVER (PARTITION BY usr ORDER BY t
       |       RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW) AS value
       |FROM v WHERE t >= ${grid.startMs} AND t < ${grid.endMs} $ord""".stripMargin)

  /** Aggregated subquery inner with staleness: `sum(error{user=~"3|4"})`
    * is evaluated per subquery instant with EACH input series carried up to
    * the lookback delta before summing — Prometheus's order (carry per
    * selector series, then combine). The oracle carries per usr with an
    * ASOF join (MATERIALIZED — see [[qSubqueryStaleComputed]]), sums the
    * carried values per instant through DECIMAL, and windows the result. */
  private def qSubqueryStaleAgg(s: SparkSession, sf: String): DataFrame =
    flat(PromQL.query(s, g(s, sf), grid,
      """sum_over_time(sum(error{user=~"3|4"})[1d:6h])""",
      lookbackDeltaMs = staleDelta))
  private val qSubqueryStaleAggSql = withSG(
    s""", i AS (SELECT usr, ts AS ti, value FROM g
       |        WHERE etype = 'error' AND usr IN ('3', '4')),
       |sp AS (SELECT usr,
       |         unnest(generate_series(min(ti),
       |           LEAST(max(ti) + $staleDelta, ${grid.alignedEndMs}),
       |           ${grid.stepMs})) AS t
       |       FROM i GROUP BY usr),
       |c AS MATERIALIZED (SELECT sp.usr, sp.t, i.value, i.ti
       |      FROM sp ASOF JOIN i ON sp.usr = i.usr AND i.ti <= sp.t),
       |v AS (SELECT usr, t, value FROM c WHERE t - ti < $staleDelta),
       |s2 AS (SELECT t, ${sqlSum("value")} AS value FROM v GROUP BY t)
       |SELECT '' AS series, t AS ts,
       |  CAST(sum(CAST(value AS DECIMAL(38,9))) OVER (ORDER BY t
       |       RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS value
       |FROM s2 WHERE t >= ${grid.startMs} AND t < ${grid.endMs} $ord""".stripMargin)

  /** MIXED subquery inner: a carried instant selector PLUS a range-function
    * output, on a 4h subquery step that does NOT divide the 6h sample
    * spacing — the case that exercises the re-grid rule. The engine carries
    * `click` onto the 4h step instants (lookback 12h), pre-evaluates
    * `max_over_time(view[12h])` (emitting at view's SAMPLE instants, max
    * over the trailing closed 12h window) and re-grids those emissions onto
    * the step instants (ceiling bucket, newest per bucket, no carry); the
    * `+` then combines both sides on the step-instant set, and the outer
    * max_over_time windows the combined frame over 1d. The oracle rebuilds
    * exactly that chain: window max at sample instants → ceiling-bucket
    * arg_max re-grid → ASOF-join carry (strict `t - ti < delta` staleness,
    * MATERIALIZED — see [[qSubqueryStaleComputed]]) → trailing 1d max. */
  private def qSubqueryMixed(s: SparkSession, sf: String): DataFrame =
    flat(PromQL.query(s, g(s, sf), grid,
      """max_over_time((click{user="3"} + max_over_time(view{user="3"}[12h]))[1d:4h])""",
      lookbackDeltaMs = staleDelta))
  private val qSubqueryMixedSql = withSG(
    s""", ck AS (SELECT ts AS ti, value FROM g WHERE etype = 'click' AND usr = '3'),
       |vw AS (SELECT ts AS ti, value FROM g WHERE etype = 'view' AND usr = '3'),
       |vm AS (SELECT ti, max(value) OVER (ORDER BY ti
       |         RANGE BETWEEN 43200000 PRECEDING AND CURRENT ROW) AS mv FROM vw),
       |vg AS (SELECT ((ti + 14399999) // 14400000) * 14400000 AS t,
       |         arg_max(mv, ti) AS mv FROM vm GROUP BY 1),
       |c AS MATERIALIZED (SELECT vg.t, vg.mv, ck.value AS cv, ck.ti
       |      FROM vg ASOF JOIN ck ON ck.ti <= vg.t),
       |inn AS (SELECT t, cv + mv AS v FROM c WHERE t - ti < $staleDelta)
       |SELECT 'user:3' AS series, t AS ts,
       |  max(v) OVER (ORDER BY t RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW) AS value
       |FROM inn WHERE t >= ${grid.startMs} AND t < ${grid.endMs} $ord""".stripMargin)

  // ---- changes: same pair-count window shape as resets, <> flag ------------
  private def qChanges(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "changes(click[13h])"))
  private val qChangesSql = withSG(
    s""", l AS (
       |  SELECT usr, ts,
       |    CASE WHEN lag(value) OVER pw IS NOT NULL AND value <> lag(value) OVER pw
       |         THEN 1.0 ELSE 0.0 END AS f
       |  FROM g WHERE etype = 'click'
       |  WINDOW pw AS (PARTITION BY usr ORDER BY ts))
       |SELECT 'name:click,user:' || usr AS series, ts,
       |  sum(f) OVER fw - arg_min(f, ts) OVER fw AS value
       |FROM l
       |WINDOW fw AS (PARTITION BY usr ORDER BY ts
       |              RANGE BETWEEN 46800000 PRECEDING AND CURRENT ROW) $ord""".stripMargin)

  // ---- deriv: least-squares slope over the trailing window -----------------
  // same covar_pop/var_pop one-pass moments on both engines; the 6-decimal
  // round absorbs ~1e-12 summation-order noise (same guard as predict_linear)
  private def qDeriv(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, """deriv(view{user="4"}[2d])"""))
      .withColumn("value", round(col("value"), 6))
  private val qDerivSql = withSG(
    s""", v AS (
       |  SELECT usr, ts, value,
       |    count(value) OVER w AS n,
       |    covar_pop(value, ts / 1000.0) OVER w AS cxy,
       |    var_pop(ts / 1000.0) OVER w AS vx
       |  FROM g WHERE etype = 'view' AND usr = '4'
       |  WINDOW w AS (ORDER BY ts RANGE BETWEEN 172800000 PRECEDING AND CURRENT ROW))
       |SELECT 'name:view,user:4' AS series, ts, round(cxy / vx, 6) AS value
       |FROM v WHERE n >= 2 $ord""".stripMargin)

  // ---- quantile_over_time: exact linear-interpolation percentile -----------
  // Spark `percentile` and DuckDB `quantile_cont` both interpolate linearly;
  // the 6-decimal round absorbs the formula's float-order difference
  private def qQuantileOverTime(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "quantile_over_time(0.9, click[1d])"))
      .withColumn("value", round(col("value"), 6))
  private val qQuantileOverTimeSql = withSG(
    s"""SELECT 'name:click,user:' || usr AS series, ts,
       |  round(quantile_cont(value, 0.9) OVER (PARTITION BY usr ORDER BY ts
       |    RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW), 6) AS value
       |FROM g WHERE etype = 'click' $ord""".stripMargin)

  // ---- present_over_time: densified 1.0 wherever the window holds a sample -
  private def qPresent(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, """present_over_time(error{user="3"}[1d])"""))
  private val qPresentSql = withSG(
    s""", i AS (SELECT ts FROM g WHERE etype = 'error' AND usr = '3'),
       |sp AS (SELECT unnest(generate_series(${grid.startMs},
       |         ${grid.alignedEndMs}, ${grid.stepMs})) AS t)
       |SELECT 'name:error,user:3' AS series, t AS ts, 1.0 AS value
       |FROM sp WHERE EXISTS (SELECT 1 FROM i
       |  WHERE i.ts BETWEEN t - 86400000 AND t) $ord""".stripMargin)

  // ---- holt_winters: double exponential smoothing over the window ----------
  // The engine folds the window's sample array (init s=x1, b=x2-x1, then
  // every element from x2 on updates s/b). The oracle replays the same fold
  // as a recursive CTE over the per-instant window arrays; identical
  // expression order, 6-decimal round absorbing float noise.
  private def qHoltWinters(s: SparkSession, sf: String): DataFrame =
    flat(run(s, sf, "holt_winters(click[1d], 0.3, 0.1)"))
      .withColumn("value", round(col("value"), 6))
  private val qHoltWintersSql =
    s"""WITH RECURSIVE $sCte, $gCte,
       |w AS (
       |  SELECT usr, ts,
       |    list(value) OVER (PARTITION BY usr ORDER BY ts
       |      RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW) AS larr
       |  FROM g WHERE etype = 'click'),
       |r AS (
       |  SELECT usr, ts, larr, 1 AS i,
       |    larr[1] AS s, larr[2] - larr[1] AS b
       |  FROM w WHERE len(larr) >= 2
       |  UNION ALL
       |  SELECT usr, ts, larr, i + 1,
       |    0.3 * larr[i + 1] + (1 - 0.3) * (s + b),
       |    0.1 * ((0.3 * larr[i + 1] + (1 - 0.3) * (s + b)) - s) + (1 - 0.1) * b
       |  FROM r WHERE i < len(larr))
       |SELECT 'name:click,user:' || usr AS series, ts, round(s, 6) AS value
       |FROM r WHERE i = len(larr) $ord""".stripMargin

  // ---- promParity: left-open (t-d, t] range windows ------------------------
  // Prometheus 3.x range selectors exclude a sample at exactly t-d; on the
  // 6h-gridded samples a 12h window covers 2 buckets open vs 3 closed, so
  // every interior instant discriminates. Under parity the metric name is
  // also dropped (shouldDropMetricName) — series is 'user:N' only.
  private def qParityWindow(s: SparkSession, sf: String): DataFrame =
    flat(PromQL.query(s, g(s, sf), grid, "sum_over_time(click[12h])",
      promParity = true))
  private val qParityWindowSql = withSG(
    s"""SELECT 'user:' || usr AS series, ts,
       |  CAST(sum(CAST(value AS DECIMAL(38,9))) OVER (PARTITION BY usr ORDER BY ts
       |    RANGE BETWEEN 43199999 PRECEDING AND CURRENT ROW) AS DOUBLE) AS value
       |FROM g WHERE etype = 'click' $ord""".stripMargin)

  // ---- promParity: metric-name drop for the range-window family ------------
  // Three slices pin the name rule in BOTH modes: default max_over_time keeps
  // `name:click`; parity max_over_time drops it (and its window opens);
  // parity last_over_time KEEPS it — the one shouldDropMetricName exception.
  private def qParityNameDrop(s: SparkSession, sf: String): DataFrame = {
    val ref = flat(run(s, sf, "max_over_time(click[12h])"))
      .withColumn("mode", lit("ref"))
    val par = flat(PromQL.query(s, g(s, sf), grid, "max_over_time(click[12h])",
        promParity = true))
      .withColumn("mode", lit("par"))
    val last = flat(PromQL.query(s, g(s, sf), grid, "last_over_time(click[12h])",
        promParity = true))
      .withColumn("mode", lit("par_last"))
    ref.unionByName(par).unionByName(last)
      .orderBy("mode", "series", "ts", "value")
  }
  private val qParityNameDropSql = withSG(
    s""", c AS (SELECT usr, ts, value FROM g WHERE etype = 'click')
       |SELECT * FROM (
       |  SELECT 'ref' AS mode, 'name:click,user:' || usr AS series, ts,
       |    max(value) OVER (PARTITION BY usr ORDER BY ts
       |      RANGE BETWEEN 43200000 PRECEDING AND CURRENT ROW) AS value FROM c
       |  UNION ALL
       |  SELECT 'par' AS mode, 'user:' || usr AS series, ts,
       |    max(value) OVER (PARTITION BY usr ORDER BY ts
       |      RANGE BETWEEN 43199999 PRECEDING AND CURRENT ROW) AS value FROM c
       |  UNION ALL
       |  SELECT 'par_last' AS mode, 'name:click,user:' || usr AS series, ts,
       |    value FROM c)
       |ORDER BY mode, series, ts, value""".stripMargin)

  // ---- promParity implies the Prometheus-exact rate ------------------------
  // One flag = full upstream semantics: the same extrapolatedRate math as
  // promql_rate_extrapolated, but over the LEFT-OPEN (t-d, t] selection
  // (extrapolation bounds keep the full d, like Prometheus) and with the
  // metric name dropped.
  private def qParityRate(s: SparkSession, sf: String): DataFrame =
    flat(PromQL.query(s, g(s, sf), grid, "rate(view[18h])", promParity = true))
      .withColumn("value", round(col("value"), 9))
  private val qParityRateSql = withSG(
    s""", l AS (
       |  SELECT usr, ts, value,
       |    CASE WHEN lag(value) OVER pw IS NOT NULL AND value < lag(value) OVER pw
       |         THEN lag(value) OVER pw ELSE 0.0 END AS radd
       |  FROM g WHERE etype = 'view' WINDOW pw AS (PARTITION BY usr ORDER BY ts)),
       |v AS (
       |  SELECT usr, ts, value, radd,
       |    count(value) OVER fw AS n,
       |    min(ts) OVER fw AS tsf,
       |    arg_min(value, ts) OVER fw AS vf,
       |    sum(radd) OVER fw - arg_min(radd, ts) OVER fw AS corr
       |  FROM l WINDOW fw AS (PARTITION BY usr ORDER BY ts
       |                       RANGE BETWEEN 64799999 PRECEDING AND CURRENT ROW)),
       |e AS (
       |  SELECT usr, ts, n, vf,
       |    value - vf + corr AS rv,
       |    CAST(ts - tsf AS DOUBLE) AS si,
       |    CAST(tsf - (ts - 64800000) AS DOUBLE) AS ds0,
       |    CAST(ts - tsf AS DOUBLE) / (n - 1) AS ai
       |  FROM v),
       |x AS (
       |  SELECT usr, ts, n, rv, si, ai,
       |    CASE WHEN rv > 0 AND vf >= 0 AND si * vf / rv < ds0
       |         THEN si * vf / rv ELSE ds0 END AS ds
       |  FROM e)
       |SELECT 'user:' || usr AS series, ts,
       |  round(rv * ((si + CASE WHEN ds < ai * 1.1 THEN ds ELSE ai / 2 END) / si)
       |        / 64800.0, 9) AS value
       |FROM x WHERE n >= 2 $ord""".stripMargin)

  override def all: Seq[QueryDef] = Seq(
    QueryDef("promql_parity_window", qParityWindow, Some(qParityWindowSql)),
    QueryDef("promql_parity_rate", qParityRate, Some(qParityRateSql)),
    QueryDef("promql_parity_name_drop", qParityNameDrop, Some(qParityNameDropSql)),
    QueryDef("promql_ts_of_max", qTsOfMax, Some(qTsOfMaxSql)),
    QueryDef("promql_scalar_binop", qScalarBinop, Some(qScalarBinopSql)),
    QueryDef("promql_time_binop", qTimeBinop, Some(qTimeBinopSql)),
    QueryDef("promql_limitk", qLimitk, Some(qLimitkSql)),
    QueryDef("promql_limit_ratio", qLimitRatio, Some(qLimitRatioSql)),
    QueryDef("promql_on_divide", qOnDivide, Some(qOnDivideSql)),
    QueryDef("promql_group_left", qGroupLeft, Some(qGroupLeftSql)),
    QueryDef("promql_subquery", qSubquery, Some(qSubquerySql)),
    QueryDef("promql_topk_instant", qTopk, Some(qTopkSql)),
    QueryDef("promql_offset_sum", qOffsetSum, Some(qOffsetSumSql)),
    QueryDef("promql_compare_and", qCompareAnd, Some(qCompareAndSql)),
    QueryDef("promql_quantile_agg", qQuantile, Some(qQuantileSql)),
    QueryDef("promql_predict_linear", qPredict, Some(qPredictSql)),
    QueryDef("promql_absent", qAbsent, Some(qAbsentSql)),
    QueryDef("promql_label_replace", qLabelReplace, Some(qLabelReplaceSql)),
    QueryDef("promql_irate", qIrate, Some(qIrateSql)),
    QueryDef("promql_increase", qIncrease, Some(qIncreaseSql)),
    QueryDef("promql_at_rate", qAtRate, Some(qAtRateSql)),
    QueryDef("promql_mad", qMad, Some(qMadSql)),
    QueryDef("promql_resets", qResets, Some(qResetsSql)),
    QueryDef("promql_absent_window", qAbsentWindow, Some(qAbsentWindowSql)),
    QueryDef("promql_rate_extrapolated", qRateExtrapolated, Some(qRateExtrapolatedSql)),
    QueryDef("promql_sum_without", qSumWithout, Some(qSumWithoutSql)),
    QueryDef("promql_avg_without", qAvgWithout, Some(qAvgWithoutSql)),
    QueryDef("promql_subquery_stale", qSubqueryStale, Some(qSubqueryStaleSql)),
    QueryDef("promql_subquery_stale_computed", qSubqueryStaleComputed,
      Some(qSubqueryStaleComputedSql)),
    QueryDef("promql_subquery_stale_agg", qSubqueryStaleAgg,
      Some(qSubqueryStaleAggSql)),
    QueryDef("promql_subquery_mixed", qSubqueryMixed, Some(qSubqueryMixedSql)),
    QueryDef("promql_changes", qChanges, Some(qChangesSql)),
    QueryDef("promql_deriv", qDeriv, Some(qDerivSql)),
    QueryDef("promql_quantile_over_time", qQuantileOverTime,
      Some(qQuantileOverTimeSql)),
    QueryDef("promql_present_over_time", qPresent, Some(qPresentSql)),
    QueryDef("promql_holt_winters", qHoltWinters, Some(qHoltWintersSql)))
}
