package graft.queries

import graft.core.{QueryGrid, Tables, TsSchema}
import graft.core.OracleSafe.{sqlStddev, sqlSum}
import graft.lang.m3.M3QL
import graft.lang.prom.PromQL
import graft.stages._
import graft.stages.Grouping.GroupKey.By
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second operator batch: summarize/moving variants, exact percentiles,
  * histogram percentile, fallback/mock sources, slices, and full end-to-end
  * queries through the M3QL parser and the PromQL compiler.
  */
object M3b extends QueryPack {
  import SeriesOracle._
  private val S = TsSchema
  private val grid = Tables.EventsGrid6h

  /** fetch-unfold view: LAST sample per 6h bucket — the reference keeps the
    * latest sample per aligned timestamp (TimeSeriesUnfoldAggregator:305-320),
    * so compiler-path (M3QL text) oracles read gl, not the avg view g. */
  private val glCte =
    s"gl AS (SELECT etype, usr, $bucket6h AS ts, " +
      "arg_max(value, t) AS value " +
      "FROM s GROUP BY 1, 2, 3)"
  private val dayBucket = s"${grid.startMs} + ((ts - ${grid.startMs}) // 86400000) * 86400000"

  // ---- percentiles ---------------------------------------------------------
  private def qP90(s: SparkSession, sf: String): DataFrame =
    flat(Grouping.percentileExact(g(s, sf), 0.9, By(Seq("name"))))
  private val qP90Sql = withSG(
    s"SELECT $serName AS series, ts, quantile_cont(value, 0.9) AS value FROM g GROUP BY etype, ts $ord")

  private def qP25(s: SparkSession, sf: String): DataFrame =
    flat(Grouping.percentileExact(g(s, sf), 0.25, By(Seq("name"))))
  private val qP25Sql = withSG(
    s"SELECT $serName AS series, ts, quantile_cont(value, 0.25) AS value FROM g GROUP BY etype, ts $ord")

  /** Histogram-percentile over synthetic bucket counts: counts of raw samples
    * per value bucket [5*b, 5*(b+1)) become one series per bucket with
    * bucket_id/bucket_range labels, then histogramPercentile interpolates. */
  private def histInput(s: SparkSession, sf: String): DataFrame = {
    val b = floor(col(S.Value) / 5).cast("long")
    val counts = raw(s, sf)
      .withColumn("_b", when(b > 5, 5L).otherwise(b))
      .withColumn(S.Ts, grid.bucket(col(S.Ts)))
      .groupBy(col(S.LabelsCol).getItem("name").as("_name"), col("_b"), col(S.Ts))
      .agg(count(lit(1)).cast("double").as(S.Value))
    S.relabel(counts, map(
        lit("name"), col("_name"),
        lit("bucket_id"), col("_b").cast("string"),
        lit("bucket_range"), concat((col("_b") * 5).cast("string"), lit("-"),
          ((col("_b") + 1) * 5).cast("string"))))
      .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
  }

  /** Shared bucket/cumulative CTE: per (etype, ts, bucket) counts with the
    * running and total sums the upper-bound pick needs. */
  private val histCte =
    s""", h AS (
       |  SELECT etype, LEAST(CAST(floor(value / 5) AS BIGINT), 5) AS b,
       |         $bucket6h AS ts,
       |         CAST(count(*) AS DOUBLE) AS cnt
       |  FROM s GROUP BY 1, 2, 3),
       |c AS (
       |  SELECT etype, ts, b, cnt, (b + 1) * 5 AS hi,
       |    sum(cnt) OVER (PARTITION BY etype, ts ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum(cnt) OVER (PARTITION BY etype, ts) AS total
       |  FROM h)""".stripMargin
  /** M3 semantics: value = UPPER BOUND of the first bucket whose cumulative
    * count reaches p×total — no interpolation — and the output series gains
    * histogramPercentile:pXX (ref: HistogramPercentileStage:340-425). */
  private def histSql(ps: Seq[Int]): String = withSG(
    histCte + "\n" +
      ps.map(p =>
        s"""SELECT 'histogramPercentile:p$p,name:' || etype AS series, ts,
           |  CAST(min(hi) AS DOUBLE) AS value
           |FROM c WHERE total <> 0 AND cum >= ${p / 100.0} * total GROUP BY etype, ts""".stripMargin)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", s")\n$ord"))

  private def qHistP50(s: SparkSession, sf: String): DataFrame =
    flat(Grouping.histogramPercentile(histInput(s, sf), "bucket_id", "bucket_range", Seq(50)))
  private val qHistP50Sql = histSql(Seq(50))

  private def qHistMulti(s: SparkSession, sf: String): DataFrame =
    flat(Grouping.histogramPercentile(histInput(s, sf), "bucket_id", "bucket_range", Seq(50, 99)))
  private val qHistMultiSql = histSql(Seq(50, 99))

  /** percentileOfSeries with several percentiles: one output series per p,
    * nearest-rank rank=ceil(p/100×n) min 1 (ref: PercentileUtils:37-75),
    * each labeled __percentile:p. */
  private def qPercentileMulti(s: SparkSession, sf: String): DataFrame =
    flat(Grouping.percentileM3(g(s, sf), Seq(25.0, 75.0), By(Seq("name")), interpolate = false))
  private val qPercentileMultiSql = withSG(
    s""", v AS (
       |  SELECT etype, ts, value,
       |    row_number() OVER (PARTITION BY etype, ts ORDER BY value) AS rk,
       |    count(*) OVER (PARTITION BY etype, ts) AS n
       |  FROM g)
       |SELECT * FROM (
       |SELECT '__percentile:25,name:' || etype AS series, ts, value FROM v
       |WHERE rk = GREATEST(CAST(ceil(0.25 * n) AS BIGINT), 1)
       |UNION ALL
       |SELECT '__percentile:75,name:' || etype AS series, ts, value FROM v
       |WHERE rk = GREATEST(CAST(ceil(0.75 * n) AS BIGINT), 1))
       |$ord""".stripMargin)

  // ---- summarize variants --------------------------------------------------
  private def summarizeQ(name: String, fn: String, sqlAgg: String, having: String = "") =
    QueryDef(name,
      (s, sf) => flat(Temporal.summarize(g(s, sf), 86400000L, fn, grid.startMs)),
      Some(withSG(
        s"""SELECT $ser AS series, $dayBucket AS ts, $sqlAgg AS value
           |FROM g GROUP BY etype, usr, 2 $having $ord""".stripMargin)))

  /** summarize pNN: nearest-rank percentile per bucket (ref:
    * PercentileBucketSummarizer.java:55-70 — same math as percentileOfSeries). */
  private def qSummarizeP90(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.summarize(g(s, sf), 86400000L, "p90", grid.startMs))
  private val qSummarizeP90Sql = withSG(
    s""", v AS (
       |  SELECT etype, usr, $dayBucket AS b, value,
       |    row_number() OVER (PARTITION BY etype, usr, ($dayBucket) ORDER BY value) AS rk,
       |    count(*) OVER (PARTITION BY etype, usr, ($dayBucket)) AS n
       |  FROM g)
       |SELECT $ser AS series, b AS ts, value FROM v
       |WHERE rk = GREATEST(CAST(ceil(0.9 * n) AS BIGINT), 1) $ord""".stripMargin)

  private val summarizeQs = Seq(
    QueryDef("m3_summarize_p90", qSummarizeP90, Some(qSummarizeP90Sql)),
    summarizeQ("m3_summarize_avg", "avg", s"${sqlSum("value")} / count(value)"),
    summarizeQ("m3_summarize_min", "min", "min(value)"),
    summarizeQ("m3_summarize_max", "max", "max(value)"),
    summarizeQ("m3_summarize_count", "count", "CAST(count(value) AS DOUBLE)"),
    summarizeQ("m3_summarize_stddev", "stddev", sqlStddev("value"),
      having = "HAVING count(value) > 1"))

  // ---- moving variants (reference-exact: frame [t-w, t) over the dense grid,
  // emitted wherever the window holds data) --------------------------------
  private val movWin = 2L * 86400000L
  private def denseCte =
    s""", dense AS (
       |  SELECT sr.etype, sr.usr, gs.ts, gv.value
       |  FROM (SELECT DISTINCT etype, usr FROM g) sr
       |  CROSS JOIN (SELECT unnest(generate_series(${grid.startMs}, ${grid.alignedEndMs}, ${grid.stepMs})) AS ts) gs
       |  LEFT JOIN g gv ON gv.etype = sr.etype AND gv.usr = sr.usr AND gv.ts = gs.ts)""".stripMargin
  private def movFrame = s"OVER ($part RANGE BETWEEN $movWin PRECEDING AND 1 PRECEDING)"
  private def movingQ(name: String, fn: String, sqlExpr: String) =
    QueryDef(name,
      (s, sf) => flat(Temporal.moving(g(s, sf), grid, movWin, fn)),
      Some(withSG(
        s"""$denseCte
           |SELECT series, ts, value FROM (
           |  SELECT $ser AS series, ts, $sqlExpr AS value,
           |         count(value) $movFrame AS n
           |  FROM dense) t(series, ts, value, n)
           |WHERE n > 0 $ord""".stripMargin)))

  private val movingQs = Seq(
    movingQ("m3_moving_sum", "sum",
      s"CAST(sum(CAST(value AS DECIMAL(38,9))) $movFrame AS DOUBLE)"),
    movingQ("m3_moving_min", "min", s"min(value) $movFrame"),
    movingQ("m3_moving_count", "count", s"CAST(count(value) $movFrame AS DOUBLE)"),
    movingQ("m3_moving_median", "median", s"quantile_cont(value, 0.5) $movFrame"))

  // ---- keepLastValue with lookback interval --------------------------------
  private def qKeepLastIv(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.keepLastValue(g(s, sf), grid, Some(2L * grid.stepMs)))
  private val qKeepLastIvSql = withSG(
    s""", dense AS (
       |  SELECT sr.etype, sr.usr, gs.ts, gv.value
       |  FROM (SELECT DISTINCT etype, usr FROM g) sr
       |  CROSS JOIN (SELECT unnest(generate_series(${grid.startMs}, ${grid.alignedEndMs}, ${grid.stepMs})) AS ts) gs
       |  LEFT JOIN g gv ON gv.etype = sr.etype AND gv.usr = sr.usr AND gv.ts = gs.ts)
       |SELECT series, ts, value FROM (
       |  SELECT $ser AS series, ts,
       |    last_value(value IGNORE NULLS) OVER ($part ROWS UNBOUNDED PRECEDING) AS lv,
       |    ts - max(CASE WHEN value IS NOT NULL THEN ts END)
       |           OVER ($part ROWS UNBOUNDED PRECEDING) AS age
       |  FROM dense) t(series, ts, value, age)
       |WHERE value IS NOT NULL AND age <= ${2L * grid.stepMs} $ord""".stripMargin)

  // ---- slices --------------------------------------------------------------
  private def qHead(s: SparkSession, sf: String): DataFrame =
    flat(SeriesSet.slice(g(s, sf), 3, by = "sum").drop("_rank"))
  private def qTail(s: SparkSession, sf: String): DataFrame =
    flat(SeriesSet.slice(g(s, sf), 3, by = "sum", tail = true).drop("_rank"))
  private def sliceSql(cmp: String) = withSG(
    s""", keys AS (
       |  SELECT etype, usr, ${sqlSum("value")} AS k, $ser AS sk
       |  FROM g GROUP BY etype, usr),
       |rk AS (SELECT etype, usr, row_number() OVER (ORDER BY k DESC, sk) AS rnk FROM keys),
       |nn AS (SELECT count(*) AS n FROM keys)
       |SELECT $ser AS series, ts, value FROM g
       |WHERE EXISTS (SELECT 1 FROM rk, nn WHERE rk.etype = g.etype AND rk.usr = g.usr AND $cmp)
       |$ord""".stripMargin)
  private val qHeadSql = sliceSql("rk.rnk <= 3")
  private val qTailSql = sliceSql("rk.rnk > nn.n - 3")

  // ---- fallback / mock sources ---------------------------------------------
  private def qFallback(s: SparkSession, sf: String): DataFrame = {
    val empty = Fetch.fetch(raw(s, sf), Fetch.parseFilters("name:does_not_exist"), grid)
    flat(GridOps.fallbackSeries(s, empty, grid, 42.0))
  }
  private val qFallbackSql =
    s"""SELECT 'fallback:true' AS series, unnest(generate_series(${grid.startMs}, ${grid.alignedEndMs}, ${grid.stepMs})) AS ts,
       |  42.0 AS value ORDER BY series, ts, value""".stripMargin

  private def qMockFetch(s: SparkSession, sf: String): DataFrame =
    flat(M3QL.query(s, raw(s, sf), grid, "mockFetch 1.5,2.5,3.5 name:mock | scale 2"))
  private val qMockFetchSql =
    s"""SELECT series, ts, value FROM (VALUES
       |  ('name:mock', ${grid.startMs}, 3.0),
       |  ('name:mock', ${grid.startMs + grid.stepMs}, 5.0),
       |  ('name:mock', ${grid.startMs + 2 * grid.stepMs}, 7.0)) t(series, ts, value)
       |ORDER BY series, ts, value""".stripMargin

  // ---- end-to-end through the M3QL parser ----------------------------------
  private def qM3qlPipeline(s: SparkSession, sf: String): DataFrame =
    flat(M3QL.query(s, raw(s, sf), grid,
      "fetch name:click user:(1,2,3) | summarize 6h avg true | scale 2 | > 10"))
  // fetch-unfold keeps the LAST sample per 6h bucket (gl); the summarize pass
  // quantizes through DECIMAL(38,9) before scaling
  private val qM3qlPipelineSql = withSG(
    s""", $glCte
       |SELECT series, ts, value FROM (
       |  SELECT $ser AS series, ts,
       |         CAST(CAST(value AS DECIMAL(38,9)) AS DOUBLE) * 2.0 AS value
       |  FROM gl WHERE etype = 'click' AND usr IN ('1','2','3'))
       |WHERE value > 10.0 $ord""".stripMargin)

  private def qM3qlMacro(s: SparkSession, sf: String): DataFrame =
    flat(M3QL.query(s, raw(s, sf), grid,
      "a = fetch name:view | summarize 6h avg true; " +
        "fetch name:click | summarize 6h avg true | asPercent(a) user"))
  private val qM3qlMacroSql = withSG(
    s""", $glCte,
       |q AS (SELECT etype, usr, ts, CAST(CAST(value AS DECIMAL(38,9)) AS DOUBLE) AS value FROM gl),
       |l AS (SELECT usr, ts, value FROM q WHERE etype = 'click'),
       |r AS (SELECT usr, ts, value FROM q WHERE etype = 'view')
       |SELECT * FROM (
       |  SELECT 'name:click,type:ratios,user:' || l.usr AS series, l.ts AS ts, CASE WHEN r.value = 0 THEN CAST('NaN' AS DOUBLE) ELSE l.value * 100.0 / r.value END AS value
       |  FROM l JOIN r ON l.usr = r.usr AND l.ts = r.ts) $ord""".stripMargin)

  /** Mixed-step binary op through the compiler: the right operand is
    * summarized to 12h while the left stays on the 6h query grid, so the
    * compiler's StepMeta tracking must invoke Normalizer.alignOperands
    * (LCM=12h, AVG consolidation) before the divide — the reference's
    * TimeSeriesNormalizer-inside-DivideStage path. */
  private def qDivideMixedStep(s: SparkSession, sf: String): DataFrame =
    flat(M3QL.query(s, raw(s, sf), grid,
      "b = fetch name:view | summarize 12h sum; fetch name:click | divide(b) user"))
  private val qDivideMixedStepSql = withSG(
    s""", $glCte,
       |l12 AS (
       |  SELECT usr, 1704067200000 + ((ts - 1704067200000) // 43200000) * 43200000 AS t2,
       |         ${sqlSum("value")} / count(value) AS value
       |  FROM gl WHERE etype = 'click' GROUP BY 1, 2),
       |r12 AS (
       |  SELECT usr, (ts // 43200000) * 43200000 AS t2,
       |         ${sqlSum("value")} AS value
       |  FROM gl WHERE etype = 'view' GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT 'name:click,type:ratios,user:' || l.usr AS series, l.t2 AS ts,
       |         CASE WHEN r.value = 0 THEN CAST('NaN' AS DOUBLE) ELSE l.value / r.value END AS value
       |  FROM l12 l JOIN r12 r ON l.usr = r.usr AND l.t2 = r.t2) $ord""".stripMargin)

  /** Mixed-step UNION on the left of a binary op: the left operand is
    * click-at-6h unioned with (view | summarize 1d sum)-at-1d, then divided by
    * error-at-6h. The compiler must keep per-branch StepMeta through the union
    * and PAIRWISE-normalize each branch against the divisor (ref:
    * UnionStage.java:23-30 preserves per-series steps;
    * AbstractBinaryProjectionStage.java:292-306 normalizes per matched pair):
    * the 6h branch divides point-for-point, the 1d branch sees the divisor
    * resampled to 1d with AVG consolidation. */
  private def qDivideUnionMixedStep(s: SparkSession, sf: String): DataFrame =
    flat(M3QL.query(s, raw(s, sf), grid,
      "b = fetch name:error; " +
        "fetch name:click | (fetch name:view | summarize 1d sum) | divide(b) user"))
  private val qDivideUnionMixedStepSql = withSG(
    s""", $glCte,
       |l6 AS (SELECT usr, ts, value FROM gl WHERE etype = 'click'),
       |lv1 AS (SELECT usr, (ts // 86400000) * 86400000 AS ts, ${sqlSum("value")} AS value
       |        FROM gl WHERE etype = 'view' GROUP BY 1, 2),
       |r6 AS (SELECT usr, ts, value FROM gl WHERE etype = 'error'),
       |r1 AS (SELECT usr, (ts // 86400000) * 86400000 AS ts, ${sqlSum("value")} / count(value) AS value
       |       FROM gl WHERE etype = 'error' GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT 'name:click,type:ratios,user:' || l.usr AS series, l.ts AS ts,
       |    CASE WHEN r.value = 0 THEN CAST('NaN' AS DOUBLE) ELSE l.value / r.value END AS value
       |  FROM l6 l JOIN r6 r ON l.usr = r.usr AND l.ts = r.ts
       |  UNION ALL
       |  SELECT 'name:view,type:ratios,user:' || l.usr AS series, l.ts AS ts,
       |    CASE WHEN r.value = 0 THEN CAST('NaN' AS DOUBLE) ELSE l.value / r.value END AS value
       |  FROM lv1 l JOIN r1 r ON l.usr = r.usr AND l.ts = r.ts) $ord""".stripMargin)

  /** `sortSeries sum ascending` through the parser: exercises the full
    * asc|ascending|desc|descending token set (ref: SortOrderType.java:37-43)
    * and the ascending rank order, which the oracle checks via the emitted
    * rank column. */
  private def qSortAscending(s: SparkSession, sf: String): DataFrame =
    flat(M3QL.query(s, raw(s, sf), grid, "fetch name:click | sortSeries sum ascending")
      .withColumnRenamed("_rank", "rnk"), Seq("rnk"))
  private val qSortAscendingSql = withSG(
    s""", $glCte,
       |keys AS (
       |  SELECT usr, ${sqlSum("value")} AS k, 'name:click,user:' || usr AS sk
       |  FROM gl WHERE etype = 'click' GROUP BY usr),
       |rk AS (SELECT usr, row_number() OVER (ORDER BY k ASC, sk) AS rnk FROM keys)
       |SELECT 'name:click,user:' || gl.usr AS series, gl.ts AS ts, gl.value AS value, rk.rnk AS rnk
       |FROM gl JOIN rk ON gl.usr = rk.usr WHERE gl.etype = 'click'
       |ORDER BY series, ts, value, rnk""".stripMargin)

  // ---- end-to-end through the PromQL compiler ------------------------------
  private def qPromAgg(s: SparkSession, sf: String): DataFrame =
    flat(PromQL.query(s, g(s, sf), grid, """sum(sqrt(click))"""))
  private val qPromAggSql = withSG(
    s"""SELECT '' AS series, ts, ${sqlSum("sqrt(value)")} AS value
       |FROM g WHERE etype = 'click' GROUP BY ts $ord""".stripMargin)

  private def qPromOverTime(s: SparkSession, sf: String): DataFrame =
    flat(PromQL.query(s, g(s, sf), grid, """avg_over_time(view{user="4"}[2d])"""))
  private def incFrame = s"OVER ($part RANGE BETWEEN $movWin PRECEDING AND CURRENT ROW)"
  private val qPromOverTimeSql = withSG(
    s"""SELECT $ser AS series, ts,
       |  CAST(sum(CAST(value AS DECIMAL(38,9))) $incFrame AS DOUBLE)
       |    / count(value) $incFrame AS value
       |FROM g WHERE etype = 'view' AND usr = '4' $ord""".stripMargin)

  private def qPromScalarMath(s: SparkSession, sf: String): DataFrame =
    flat(PromQL.query(s, g(s, sf), grid, """clamp_max(error * 3, 40)"""))
  // scalar arithmetic + clamp_max both drop the metric name
  // (shouldDropMetricName), so the series key is the user label alone
  private val qPromScalarMathSql = withSG(
    s"""SELECT 'user:' || usr AS series, ts, least(value * 3.0, 40.0) AS value
       |FROM g WHERE etype = 'error' $ord""".stripMargin)

  override def all: Seq[QueryDef] = Seq(
    QueryDef("m3_percentile_p90", qP90, Some(qP90Sql)),
    QueryDef("m3_percentile_p25", qP25, Some(qP25Sql)),
    QueryDef("m3_percentile_multi", qPercentileMulti, Some(qPercentileMultiSql)),
    QueryDef("m3_histogram_percentile", qHistP50, Some(qHistP50Sql)),
    QueryDef("m3_histogram_percentile_p99", qHistMulti, Some(qHistMultiSql)),
    QueryDef("m3_divide_mixed_step", qDivideMixedStep, Some(qDivideMixedStepSql)),
    QueryDef("m3_divide_union_mixed_step", qDivideUnionMixedStep, Some(qDivideUnionMixedStepSql)),
    QueryDef("m3_sort_ascending", qSortAscending, Some(qSortAscendingSql)),
    QueryDef("m3_keep_last_interval", qKeepLastIv, Some(qKeepLastIvSql)),
    QueryDef("m3_head", qHead, Some(qHeadSql)),
    QueryDef("m3_tail", qTail, Some(qTailSql)),
    QueryDef("m3_fallback_series", qFallback, Some(qFallbackSql)),
    QueryDef("m3_mock_fetch", qMockFetch, Some(qMockFetchSql)),
    QueryDef("m3ql_e2e_pipeline", qM3qlPipeline, Some(qM3qlPipelineSql)),
    QueryDef("m3ql_e2e_macro", qM3qlMacro, Some(qM3qlMacroSql)),
    QueryDef("promql_e2e_agg", qPromAgg, Some(qPromAggSql)),
    QueryDef("promql_e2e_over_time", qPromOverTime, Some(qPromOverTimeSql)),
    QueryDef("promql_e2e_scalar_math", qPromScalarMath, Some(qPromScalarMathSql))) ++
    summarizeQs ++ movingQs
}
