package graft.streaming

import graft.core.{QueryGrid, TsSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** ROLLUP (downsampling) tier — the aggregated-resolution stage of the
  * storage lifecycle (hot day partitions → retention → compaction →
  * bucketed optimize → ROLLUP), the Spark analogue of a TSDB's aggregated
  * namespaces: long-retention queries read pre-aggregated buckets instead
  * of raw samples.
  *
  * Each rollup row carries the LOSSLESS mergeable moments of its bucket —
  * decimal sum (NOT cast to double: decimal addition is associative, so
  * re-aggregating buckets to any coarser step is bit-identical to
  * aggregating the raw samples), count, min, max, and the last sample by
  * timestamp. Every summarize flavor the grid query path supports
  * (sum/avg/min/max/count/last) reconstructs exactly from those moments as
  * long as the query step is a multiple of the rollup resolution and the
  * grid start is bucket-aligned — enforced, not assumed.
  *
  * At 100 TB this is the decisive read-path win: a 1h rollup of 10s samples
  * is a 360× smaller scan for any query whose step divides into hours, and
  * the rollup write is one hash aggregation per sweep (map-side partials,
  * shuffle ∝ series × buckets, not samples).
  */
object Rollup {
  private val S = TsSchema
  private val Dec = DecimalType(38, 9)

  /** Aggregate canonical samples (series_id, labels, timestamp, value) to
    * `bucketMs` resolution. Null values (dense-grid gaps) don't exist on
    * the storage path. NaN/Inf samples follow the ENGINE's summarize
    * convention exactly (OracleSafe.dSum): the decimal cast nulls them out
    * of the sum while count still counts them — so a rollup-answered
    * sum/avg equals the raw `summarize` answer bit-for-bit, NaN data
    * included; min/max/last keep Spark's NaN-is-largest ordering, also
    * matching the raw path. */
  def rollup(samples: DataFrame, bucketMs: Long): DataFrame =
    samples
      // floor-div, not cast-truncation: pre-1970 (negative) timestamps must
      // round DOWN to match QueryGrid.bucket's floor on the raw path
      .withColumn("bucket_ts",
        floor(col(S.Ts) / lit(bucketMs.toDouble)).cast("long") * bucketMs)
      .groupBy(col(S.SeriesId), col(S.LabelsCol), col("bucket_ts"))
      .agg(
        sum(col(S.Value).cast(Dec)).as("rsum"),   // decimal — stays mergeable
        count(col(S.Value)).as("rcount"),
        min(col(S.Value)).as("rmin"),
        max(col(S.Value)).as("rmax"),
        expr(s"max_by(${S.Value}, ${S.Ts})").as("rlast"),
        max(col(S.Ts)).as("rlast_ts"))

  /** Sweep form: roll up a day-partitioned samples table into a rollup
    * table at `bucketMs`, partitioned the same way (day pruning keeps
    * working on the rollup read path). */
  def rollupSweep(spark: SparkSession, tablePath: String, rollupPath: String,
                  bucketMs: Long): Unit =
    rollup(spark.read.parquet(tablePath), bucketMs)
      .withColumn("day", date_trunc("day", timestamp_millis(col("bucket_ts"))))
      .write.mode("overwrite").partitionBy("day").parquet(rollupPath)

  /** Answer a summarize-shaped grid query from the ROLLUP ONLY: re-merge
    * bucket moments onto the grid step. Exact for sum/avg/min/max/count/
    * last when the grid aligns to the rollup resolution `bucketMs` (raises
    * otherwise — a misaligned read must fall back to raw samples, never
    * silently approximate). The caller passes the resolution it swept with;
    * inferring it from the data would cost a driver-side probe at plan
    * build, which this engine never does. */
  def summarizeFromRollup(rolled: DataFrame, bucketMs: Long, grid: QueryGrid,
                          agg: String): DataFrame = {
    // endMs must align too: a straddling trailing bucket would smuggle in
    // samples at ts >= endMs (serve-path grids ending at "now" hit this)
    require(grid.stepMs % bucketMs == 0 && grid.startMs % bucketMs == 0 &&
      grid.endMs % bucketMs == 0,
      s"grid (start=${grid.startMs}, end=${grid.endMs}, step=${grid.stepMs}) " +
        s"is not aligned to the rollup resolution $bucketMs — query raw samples instead")
    val v = agg match {
      case "sum"   => sum(col("rsum")).cast(DoubleType)
      case "avg"   => sum(col("rsum")).cast(DoubleType) / sum(col("rcount"))
      case "min"   => min(col("rmin"))
      case "max"   => max(col("rmax"))
      case "count" => sum(col("rcount")).cast(DoubleType)
      case "last"  => expr("max_by(rlast, rlast_ts)")
      case other   => throw new IllegalArgumentException(
        s"summarize '$other' is not reconstructable from rollup moments")
    }
    rolled
      .where(col("bucket_ts") >= grid.startMs && col("bucket_ts") < grid.endMs)
      .withColumn(S.Ts, grid.bucket(col("bucket_ts")))
      .groupBy(col(S.SeriesId), col(S.LabelsCol), col(S.Ts))
      .agg(v.as(S.Value))
  }

  /** The aggregates [[summarizeFromRollup]] can reconstruct exactly. */
  val Reconstructable: Set[String] = Set("sum", "avg", "min", "max", "count", "last")

  /** Maintain the rollup INCREMENTALLY from the ingest stream: every moment
    * is algebraic, so one watermarked tumbling-window aggregation keeps
    * (series, bucket) rows current — the serving tier no longer depends on
    * a batch sweep cadence. Input is the canonical (post-dedup) sample
    * stream; late samples within the watermark merge into their bucket,
    * mirroring the raw ingest path's late-data rule. Output schema is
    * exactly [[rollup]]'s, so stream-maintained and swept tiers are
    * interchangeable (StreamingIngestSpec proves equality on the same
    * data). */
  def streamingRollup(samples: DataFrame, bucketMs: Long, lateMs: Long): DataFrame =
    samples
      .withColumn("_event_time", timestamp_millis(col(S.Ts)))
      .withWatermark("_event_time", s"$lateMs milliseconds")
      .groupBy(col(S.SeriesId), col(S.LabelsCol),
        window(col("_event_time"), s"$bucketMs milliseconds").as("_w"))
      .agg(
        sum(col(S.Value).cast(Dec)).as("rsum"),
        count(col(S.Value)).as("rcount"),
        min(col(S.Value)).as("rmin"),
        max(col(S.Value)).as("rmax"),
        expr(s"max_by(${S.Value}, ${S.Ts})").as("rlast"),
        max(col(S.Ts)).as("rlast_ts"))
      .select(col(S.SeriesId), col(S.LabelsCol),
        unix_millis(col("_w.start")).as("bucket_ts"),
        col("rsum"), col("rcount"), col("rmin"), col("rmax"),
        col("rlast"), col("rlast_ts"))

  /** Session-registered rollup tier consulted by the M3QL compiler: when a
    * pipeline is `fetch … | summarize …` whose grid aligns to `bucketMs`
    * and whose aggregate is reconstructable, the compiler reads the rollup
    * scan instead of raw samples (plan-time decision, no driver job).
    *
    * Dataset identity is ENFORCED (registerTier records the source frame's
    * plan; routing checks `sameResult` against the query's samples). The
    * remaining PRECONDITION the caller owns is resolution: the tier must be
    * rolled AT THE SERVING RESOLUTION (≤ 1 sample per query-step slot —
    * e.g. the OPTIMIZE tier output). With coarser raw data the
    * fetch-unfold's last-wins rebucket would see different values than the
    * rollup's direct aggregation. */
  private val tiers = scala.collection.concurrent.TrieMap
    .empty[SparkSession,
           (DataFrame, Long, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]
  // the registry strongly pins the session + tier plan, so it must drop with
  // the session like every other session-scoped cache (Memo.clearSession is
  // what Bench/Verify call before spark.stop())
  graft.core.Memo.onClearSession(clearTier)
  /** Register `rolled` as the serving tier for queries over `source` — the
    * samples frame it was rolled from. The routing paths verify the query's
    * samples against `source` with `sameResult`, so a tier rolled from a
    * DIFFERENT dataset can never silently substitute its data for a query's
    * (the analytic analogue of Memo's plan-verified cache hits). */
  def registerTier(spark: SparkSession, rolled: DataFrame, bucketMs: Long,
                   source: DataFrame): Unit =
    tiers.put(spark, (rolled, bucketMs, source.queryExecution.analyzed))
  def clearTier(spark: SparkSession): Unit = { tiers.remove(spark); () }
  /** The session's tier, ONLY if it was registered for `samples` (plan
    * identity via `sameResult`) — queries over any other frame fall back
    * to their raw path. */
  def tierFor(spark: SparkSession, samples: DataFrame): Option[(DataFrame, Long)] =
    tiers.get(spark).collect {
      case (rolled, bucketMs, src) if src.sameResult(samples.queryExecution.analyzed) =>
        (rolled, bucketMs)
    }
}
