package graft.stages

import graft.core.{OracleSafe, TsSchema}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-series grouping aggregations: per-timestamp aggregate over all series
  * in a group, where the group is given by a [[Grouping.GroupKey]]: the
  * projection of the label set onto some keys (`By`), or the label set minus
  * some keys (`Without`).
  *
  * Reference: AbstractGroupingStage (lang/m3/stage/AbstractGroupingStage.java:37-42)
  * with partial/final state merging (:133-167). In Spark the shard-partial +
  * coordinator-final split is exactly Catalyst's partial aggregation — e.g. the
  * reference's SumCountSample (core/model/SumCountSample.java:24-95) IS the
  * builtin `avg` buffer — so each stage is a plain groupBy().agg().
  */
object Grouping {
  private val S = TsSchema

  /** How series fall into groups: the grouping columns a stage aggregates
    * by, and the label set each group's output series carries. */
  sealed trait GroupKey {
    /** `df` with the grouping columns attached (rows that belong to no group
      * removed), and those columns. */
    def attach(df: DataFrame): (DataFrame, Seq[Column])
    /** The output label set, read from the grouping columns after the
      * aggregate. */
    def labels: Column
    /** Per-sample partition columns for the rank stages (topk/limitk); a
      * window cannot partition on a map. */
    def rankCols: Seq[Column]
  }

  object GroupKey {
    /** M3's grouping, on the values of `keys` (empty = all series into
      * one). Series missing any key are excluded (golden corpus: sum by a
      * non-existent tag yields an empty result), and the output keeps the
      * retained keys (ref: AbstractGroupingStage group-key = values of
      * groupByLabels). The rank stages keep every series, a missing key
      * ranking apart from `""`. */
    final case class By(keys: Seq[String]) extends GroupKey {
      def attach(df: DataFrame): (DataFrame, Seq[Column]) =
        (df.select(col("*") +: keys.map(k => col(S.LabelsCol).getItem(k).as(s"_g_$k")): _*)
          .where(keys.map(k => col(s"_g_$k").isNotNull).foldLeft(lit(true))(_ && _)),
         keys.map(k => col(s"_g_$k")))
      def labels: Column =
        if (keys.isEmpty) S.noLabels
        else map_filter(map(keys.flatMap(k => Seq(lit(k), col(s"_g_$k"))): _*),
          (_, v) => v.isNotNull)
      def rankCols: Seq[Column] = keys.map(S.labelValue)
    }

    /** Prometheus `by (keys)`: a missing label reads as `""`, as in
      * Prometheus, where an empty label value is an absent label. Every
      * series falls in a group, a series without a key joins the `""`
      * group, and the output omits the keys whose value is `""`. The rank
      * stages group the same way. */
    final case class PromBy(keys: Seq[String]) extends GroupKey {
      private def value(k: String): Column = coalesce(col(S.LabelsCol).getItem(k), lit(""))
      def attach(df: DataFrame): (DataFrame, Seq[Column]) =
        (df.select(col("*") +: keys.map(k => value(k).as(s"_g_$k")): _*),
         keys.map(k => col(s"_g_$k")))
      def labels: Column =
        if (keys.isEmpty) S.noLabels
        else map_filter(map(keys.flatMap(k => Seq(lit(k), col(s"_g_$k"))): _*),
          (_, v) => v =!= "")
      def rankCols: Seq[Column] = keys.map(value)
    }

    /** Prometheus `without (keys)`: the group is each series' whole label
      * set minus `keys` and minus the metric name. Grouped on that map itself
      * (Spark sorts a map grouping key), ranked on its series key. */
    final case class Without(keys: Seq[String]) extends GroupKey {
      private def rest: Column = S.dropLabels("name" +: keys)
      def attach(df: DataFrame): (DataFrame, Seq[Column]) =
        (df.withColumn("_g", rest), Seq(col("_g")))
      def labels: Column = col("_g")
      def rankCols: Seq[Column] = Seq(S.seriesKey(rest))
    }
  }
  import GroupKey.By

  /** The canonical columns of a grouped output carrying `labels`. */
  private def finish(df: DataFrame, labels: Column): DataFrame =
    S.relabel(df, labels).select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)

  private def run(df: DataFrame, key: GroupKey)(agg: Column): DataFrame = {
    val (withKeys, gCols) = key.attach(df)
    finish(withKeys.groupBy(gCols :+ col(S.Ts): _*).agg(agg.as(S.Value)), key.labels)
  }

  private def v: Column = col(S.Value)

  /** `sum [tags]` (ref: SumStage.java:20-61). Decimal-exact for oracle parity. */
  def sum(df: DataFrame, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(OracleSafe.seriesAgg("sum"))

  /** `avg` (ref: AvgStage.java:61,92-115 — SumCount partial state). */
  def avg(df: DataFrame, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(OracleSafe.seriesAgg("avg"))

  /** `min` (ref: MinStage.java:20-41). */
  def min(df: DataFrame, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(OracleSafe.seriesAgg("min"))

  /** `max` (ref: MaxStage.java:20-41). */
  def max(df: DataFrame, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(OracleSafe.seriesAgg("max"))

  /** `count` — the number of SERIES in each group, emitted as a dense constant
    * series over the whole query grid (ref: CountStage.processGroup /
    * buildDenseSamples — the count is series cardinality, not per-timestamp
    * sample presence; CountStage.java:96-111,165-175). */
  def count(df: DataFrame, grid: graft.core.QueryGrid, key: GroupKey = By(Nil)): DataFrame = {
    val (withKeys, gCols) = key.attach(df)
    val counts = withKeys.groupBy(gCols: _*)
      .agg(functions.count_distinct(col(S.SeriesId)).cast(DoubleType).as(S.Value))
    finish(counts.select(col("*"), explode(grid.points).as(S.Ts)), key.labels)
  }

  /** Per-timestamp count of series with data — the Spark-natural variant kept
    * for pipelines that want presence counts rather than cardinality. */
  def countAtTimestamp(df: DataFrame, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(functions.count(v).cast(DoubleType))

  /** `range` — per-ts max-min, MinMax partial state (ref: RangeStage.java:22-45). */
  def range(df: DataFrame, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(functions.max(v) - functions.min(v))

  /** Prometheus `stddev` aggregation — POPULATION stddev across the group's
    * series at each timestamp (Prometheus aggregates are population-based,
    * unlike M3's sample stddev). */
  def stddevPop(df: DataFrame, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(OracleSafe.seriesAgg("stddev_pop"))

  /** Prometheus `stdvar` aggregation — population variance per timestamp. */
  def varPop(df: DataFrame, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(OracleSafe.seriesAgg("var_pop"))

  /** Prometheus `group` aggregation — constant 1 for every group that has at
    * least one sample at the timestamp. */
  def groupConst(df: DataFrame, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(functions.count(v) * lit(0.0) + lit(1.0))

  /** Prometheus `count_values("label", v)` — per timestamp, count the series
    * having each distinct value; the stringified value becomes a new label.
    * The value renders like Go's strconv.FormatFloat(g): integral doubles
    * print without a decimal point. */
  def countValues(df: DataFrame, labelName: String, key: GroupKey = By(Nil)): DataFrame = {
    val (withKeys, gCols) = key.attach(df)
    // integrality test BEFORE any long cast: ANSI mode throws on casting NaN
    // or out-of-range doubles, so the cast must be unreachable for them
    val v = col(S.Value)
    val integral = !isnan(v) && v >= -9.2e18 && v <= 9.2e18 && floor(v) === v
    val vStr = when(integral, v.cast("long").cast(StringType))
      .otherwise(v.cast(StringType))
    val agg = withKeys
      .withColumn("_vstr", vStr)
      .groupBy(gCols :+ col(S.Ts) :+ col("_vstr"): _*)
      .agg(functions.count(lit(1)).cast(DoubleType).as(S.Value))
    // labels = the group's labels plus the stringified value under labelName
    finish(agg, S.putLabel(labelName, col("_vstr"), key.labels))
  }

  /** `multiply` — exact per-ts product (ref: MultiplyStage.java:20-41) via
    * the codegen'd [[graft.functions.ProductDecl]] aggregate. */
  def multiplyExact(df: DataFrame, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(graft.functions.Product.product(v))

  /** `percentile_of_series p [tags]` / `median` — exact per-ts percentile across
    * the group's series (ref: PercentileOfSeriesStage.java:38-66, MultiValue
    * partial state merged then sorted — exactly Spark's exact `percentile`). */
  def percentileOfSeries(df: DataFrame, p: Double, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(percentile_approx(v, lit(p), lit(1000000)))

  /** Exact percentile with linear interpolation (Spark `percentile` semantics,
    * pos = p*(n-1) — used by the SQL-oracle demo queries). */
  def percentileExact(df: DataFrame, p: Double, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(expr(s"percentile(${S.Value}, $p)"))

  /** Whole-number percentiles print without the decimal point, fractional ones
    * with trailing zeros stripped (ref: PercentileUtils.formatPercentile,
    * query/utils/PercentileUtils.java:110-117). */
  private def fmtPercentile(p: Double): String =
    if (p == p.floor) p.toLong.toString
    else p.toString.replaceAll("\\.?0+$", "")

  /** M3-exact `percentileOfSeries p… [true|false] [tags]`: nearest-rank-lower —
    * rank = ceil(p/100 * n) (1-based, min 1), optional linear interpolation
    * toward the previous element (ref: PercentileUtils.calculatePercentile,
    * query/utils/PercentileUtils.java:37-75). One output series per requested
    * percentile — percentiles are deduped and sorted, and each series gains
    * `__percentile` = formatted p (ref: PercentileOfSeriesStage.java:62,
    * validateAndNormalizePercentiles). A single shuffle collects each group's
    * values once; the per-percentile projections explode from that buffer. */
  def percentileM3(df: DataFrame, ps: Seq[Double], key: GroupKey,
                   interpolate: Boolean): DataFrame = {
    require(ps.nonEmpty, "percentileOfSeries requires at least one percentile value")
    val sortedPs = ps.distinct.sorted
    val (withKeys, gCols) = key.attach(df)
    val agged = withKeys.groupBy(gCols :+ col(S.Ts): _*)
      .agg(array_sort(collect_list(col(S.Value))).as("_vals"))
    def pVal(p: Double): Column = {
      val vals = col("_vals")
      val n = size(vals)
      val fr = lit(p / 100.0) * n
      val rank = greatest(ceil(fr).cast(IntegerType), lit(1))
      val atRank = element_at(vals, rank)
      if (!interpolate) atRank
      else {
        val prev = element_at(vals, greatest(rank - 1, lit(1)))
        val fraction = fr - (rank.cast(DoubleType) - 1.0)
        when(rank >= 2, prev + fraction * (atRank - prev)).otherwise(atRank)
      }
    }
    val perP = array(sortedPs.map(p =>
      struct(lit(fmtPercentile(p)).as("_plabel"), pVal(p).as("_pv"))): _*)
    val exploded = agged
      .withColumn("_p", explode(perP))
      .withColumn(S.Value, col("_p").getField("_pv"))
    finish(exploded, S.putLabel("__percentile", col("_p").getField("_plabel"), key.labels))
  }

  /** Per-ts sample stddev via decimal-exact moments (ref: StdDevBucketSummarizer). */
  def stddev(df: DataFrame, key: GroupKey = By(Nil)): DataFrame =
    run(df, key)(OracleSafe.seriesAgg("stddev"))

  /** Upper bound of a `bucket_range` label value, as pure builtin expressions
    * (ref: HistogramPercentileStage.BucketInfo.parseBucket:560-640):
    *  - "infinity" / "+Inf" whole-range → +∞ (upper of the catch-all bucket)
    *  - duration ranges "10ms-20ms" → upper in fractional milliseconds
    *  - value ranges "10-20", "-10--5", "1e-5-2e-5" (signed + scientific
    *    notation; the delimiter dash is found past a leading sign and never
    *    inside an exponent — ref findDelimiterDash:599-623)
    *  - "lo-infinity" / "lo-+Inf" → upper == lo (ref parseValueRange)
    *  - anything else raises, like the reference's IllegalArgumentException.
    */
  private def bucketUpperBound(br: Column): Column = {
    val delim = "^(-?.*?)(?<![eE])-(.*)$"
    val left = regexp_extract(br, delim, 1)
    val right = regexp_extract(br, delim, 2)
    val durRe = "^(-?\\d+(?:\\.\\d+)?)(ns|us|µs|ms|s|m|h)$"
    def durMs(s: Column): Column = {
      val v = regexp_extract(s, durRe, 1).cast(DoubleType)
      val u = regexp_extract(s, durRe, 2)
      val nanosFactor = when(u === "ns", lit(1.0))
        .when(u === "us" || u === "µs", lit(1000.0))
        .when(u === "ms", lit(1e6)).when(u === "s", lit(1e9))
        .when(u === "m", lit(6e10)).when(u === "h", lit(3.6e12))
      round(v * nanosFactor) / lit(1e6)
    }
    val leftVal = when(left === "-Inf" || left === "-infinity", lit(Double.NegativeInfinity))
      .otherwise(left.cast(DoubleType))
    val upper =
      when(br === "infinity" || br === "+Inf", lit(Double.PositiveInfinity))
        .when(left.rlike(durRe) && right.rlike(durRe), durMs(right))
        .when(right === "infinity" || right === "+Inf", leftVal)
        .otherwise(right.cast(DoubleType))
    when(upper.isNull, raise_error(concat(
      lit("Failed to parse bucket range '"), br,
      lit("' in histogram percentile calculation"))).cast(DoubleType))
      .otherwise(upper)
  }

  /** `histogramPercentile bucketIdKey bucketRangeKey p…` — regroup by all
    * labels EXCEPT the two bucket keys, then per timestamp pick the UPPER
    * BOUND of the first bucket (sorted by upper bound) whose cumulative count
    * reaches p/100 × total — no interpolation (ref:
    * HistogramPercentileStage.calculatePercentile:380-425). One output series
    * per requested percentile, labeled `histogramPercentile`=pXX (ref :354).
    * Timestamps whose buckets are all zero emit nothing (NaN-skip, :346-349);
    * a duplicate (bucketId, bucketRange) at one timestamp raises, matching the
    * reference's IllegalStateException (:322).
    *
    * Implemented with window functions over the bucket rows (no UDF): one
    * shuffle on (regrouped series, ts), then cumsum + first-bucket pick.
    */
  /** PromQL-style `histogram_quantile`: same bucket regroup as
    * histogramPercentile but with linear interpolation INSIDE the target
    * bucket (PromQL semantics — the M3 stage returns the bucket upper bound
    * instead). Kept for the PromQL frontend. */
  def histogramQuantile(df: DataFrame, p: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val br = col(S.LabelsCol).getItem("bucket_range")
    // signed-aware bounds: the delimiter dash is found past a leading sign
    val delim = "^(-?.*?)(?<![eE])-(.*)$"
    val lo = regexp_extract(br, delim, 1).cast(DoubleType)
    val hi = regexp_extract(br, delim, 2).cast(DoubleType)
    val base = S.relabel(df.withColumn("_lo", lo).withColumn("_hi", hi),
      S.dropLabels(Seq("bucket_id", "bucket_range")))
    val w = Window.partitionBy(S.SeriesId, S.Ts).orderBy("_hi")
    val wAll = Window.partitionBy(S.SeriesId, S.Ts)
    val cum = base
      .withColumn("_cum", functions.sum(S.Value).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_total", functions.sum(S.Value).over(wAll))
      .withColumn("_target", lit(p) * col("_total"))
    val hit = cum
      .where(col("_cum") >= col("_target"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
    hit
      .withColumn(S.Value,
        when(col("_total") === 0, lit(Double.NaN)).otherwise(
          col("_lo") + (col("_hi") - col("_lo")) *
            (col("_target") - (col("_cum") - col(S.Value))) / col(S.Value)))
      .select(col(S.SeriesId), col(S.LabelsCol), col(S.Ts), col(S.Value))
  }

  def histogramPercentile(df: DataFrame, bucketIdKey: String, bucketRangeKey: String,
                          ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty, "histogramPercentile requires at least one percentile value")
    val sortedPs = ps.distinct.sorted
    val base = S.relabel(df
      // series missing either bucket label are skipped (ref :289-292)
      .where(col(S.LabelsCol).getItem(bucketIdKey).isNotNull &&
             col(S.LabelsCol).getItem(bucketRangeKey).isNotNull)
      .withColumn("_bid", col(S.LabelsCol).getItem(bucketIdKey))
      .withColumn("_br", col(S.LabelsCol).getItem(bucketRangeKey))
      .withColumn("_upper", bucketUpperBound(col(S.LabelsCol).getItem(bucketRangeKey))),
      S.dropLabels(Seq(bucketIdKey, bucketRangeKey)))
    val wDup = Window.partitionBy(S.SeriesId, S.Ts, "_bid", "_br")
    val w = Window.partitionBy(S.SeriesId, S.Ts).orderBy(col("_upper"), col("_bid"))
    val wAll = Window.partitionBy(S.SeriesId, S.Ts)
    val cum = base
      .withColumn(S.Value,
        when(functions.count(lit(1)).over(wDup) > 1,
          raise_error(concat(lit("already seen range"), col("_br"),
            lit(" Histogram buckets may have changed"))).cast(DoubleType))
          .otherwise(col(S.Value)))
      .withColumn("_cum", functions.sum(S.Value).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_total", functions.sum(S.Value).over(wAll))
    val perP = sortedPs.map { p =>
      val target = lit(p / 100.0) * col("_total")
      finish(cum
        .where(col("_total") =!= 0 && col("_cum") >= target)
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .withColumn(S.Value, col("_upper")),
        S.putLabel("histogramPercentile", lit("p" + fmtPercentile(p))))
    }
    perP.reduce(_ unionByName _)
  }

  private val functions = org.apache.spark.sql.functions
}
