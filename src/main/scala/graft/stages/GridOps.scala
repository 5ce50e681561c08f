package graft.stages

import graft.core.{QueryGrid, TsSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dense-grid / null-semantics stages. The reference represents "null" as
  * absence from the sample list; these stages materialize the expected grid
  * (ref: TransformNullStage.java:27-33, IsNonNullStage.java:26-54).
  *
  * Scale note: densify = distinct-series × grid-points. The grid side is
  * `sequence()`-exploded per series row (never driver-materialized), so the
  * expansion is bounded by (#series in the filtered query × range/step) — the
  * same bound the reference's coordinator pays, but spread across executors.
  */
object GridOps {
  private val S = TsSchema

  /** One row per (series, grid point); value null where no sample exists.
    * Sample timestamps OUTSIDE the grid are retained too — the reference's
    * dense grid is the SERIES' own (min,max,step) metadata, which for
    * synthesized series (mockFetch) can extend past the query-aligned end
    * (ref: TimeSeries.java:68 — grid metadata travels with the series). */
  def densify(df: DataFrame, grid: QueryGrid): DataFrame = {
    // distinct() can't touch MAP columns; series_id is the dedup key anyway
    val series = df.groupBy(S.SeriesId).agg(first(col(S.LabelsCol)).as(S.LabelsCol))
    // ONE full-outer join of grid points against samples covers both "grid
    // point with no sample" (null value) and "sample outside the grid"
    // (right-only row) — labels ride along on both sides so no third join,
    // and no union+distinct re-shuffle of the combined point set
    val gridPts = series.select(
      col(S.SeriesId), col(S.LabelsCol).as("_glab"),
      explode(grid.points).as(S.Ts))
    gridPts
      .join(df.select(col(S.SeriesId), col(S.LabelsCol).as("_slab"), col(S.Ts), col(S.Value)),
        Seq(S.SeriesId, S.Ts), "full_outer")
      .select(col(S.SeriesId), coalesce(col("_glab"), col("_slab")).as(S.LabelsCol),
        col(S.Ts), col(S.Value))
  }

  /** `transformNull v` — densify, fill missing grid points with constant v
    * (ref: TransformNullStage.java:27-33). */
  def transformNull(df: DataFrame, grid: QueryGrid, fill: Double): DataFrame =
    densify(df, grid).withColumn(S.Value, coalesce(col(S.Value), lit(fill)))

  /** `isNonNull` — densify; 1.0 where a sample exists, 0.0 where missing
    * (ref: IsNonNullStage.java:26-54). */
  def isNonNull(df: DataFrame, grid: QueryGrid): DataFrame =
    densify(df, grid).withColumn(S.Value,
      when(col(S.Value).isNotNull && !isnan(col(S.Value)), 1.0).otherwise(0.0))

  /** `removeEmpty` — drop series with no samples or all-NaN
    * (ref: RemoveEmptyStage.java:26-31). */
  def removeEmpty(df: DataFrame): DataFrame = {
    val keep = df.groupBy(S.SeriesId)
      .agg(sum(when(col(S.Value).isNotNull && !isnan(col(S.Value)), 1).otherwise(0)).as("_n"))
      .where(col("_n") > 0)
      .select(S.SeriesId)
    df.join(keep, Seq(S.SeriesId), "left_semi")
  }

  /** `fallbackSeries <const>` — if the input has no series, emit one constant
    * series over the query range (ref: FallbackSeriesUnaryStage.java:27-38).
    * Its id derives from its labels, like every synthesized series. */
  def fallbackSeries(spark: SparkSession, df: DataFrame, grid: QueryGrid, const: Double): DataFrame = {
    import org.apache.spark.sql.types._
    val labels = map(lit("fallback"), lit("true"))
      .cast(MapType(StringType, StringType, valueContainsNull = false))
    fallbackSeriesBinary(df, grid.gridDF(spark).select(
      S.seriesId(labels).as(S.SeriesId), labels.as(S.LabelsCol), col(S.Ts), lit(const).as(S.Value)))
  }

  /** `fallbackSeries <pipeline>` — binary form: left result if non-empty, else
    * the right pipeline's result (ref: FallbackSeriesBinaryStage.java:22-32).
    * Decided inside the plan, so building it runs no job: the right rows
    * pass only through [[whenEmpty]]. */
  def fallbackSeriesBinary(left: DataFrame, right: DataFrame): DataFrame =
    left.unionByName(whenEmpty(left)(right))

  /** `df` gated on "`left` has no row": crossed with a broadcast flag that
    * holds one row when left's limit-1 probe finds nothing, and none
    * otherwise. A non-empty left materializes the flag empty, and AQE's
    * empty-relation propagation then drops `df`'s plan — a gate on a
    * pipeline's SOURCE stops its scan before it runs. */
  def whenEmpty(left: DataFrame)(df: DataFrame): DataFrame =
    df.crossJoin(broadcast(left.limit(1).agg((count(lit(1)) === 0).as("_empty"))
      .where(col("_empty")))).drop("_empty")
}
