package graft.streaming

import graft.core.TsSchema
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming ingest — the Spark replacement for the reference's
  * engine write path (TSDBEngine.index → Appender → Head → MemChunk,
  * org/opensearch/index/engine/TSDBEngine.java:341,436-466).
  *
  * Mapping of reference behaviors:
  *  - wire doc {labels: "k v k v …", timestamp: epoch_millis, value: double}
  *    (core/mapping/Constants.java:84-116, README "flat-json format")
  *  - out-of-order rejection beyond head tolerance (TSDBOutOfOrderException,
  *    TSDBEngine.java:466) → `withWatermark(tolerance)`: late rows are dropped
  *    by the engine rather than erroring, with metrics on the query progress.
  *  - refresh interval (~1s visibility) → micro-batch trigger interval.
  *  - chunk flush / Live→Closed index rotation (core/head/Head.java:52,
  *    LiveSeriesIndex.java:132) → time-partitioned parquet commits per batch;
  *    partition column = day bucket, giving query-time partition pruning
  *    (replaces TimeRangePruningQuery).
  *
  * At scale: the sink is hash-distributed by series via the natural shuffle-free
  * append; files per partition bounded by maxRecordsPerFile; retention is a
  * partition-drop job (core/retention/TimeBasedRetention.java equivalent).
  */
object Ingest {

  /** Wire schema for JSON ingest lines. */
  val wireSchema: StructType = StructType(Seq(
    StructField("labels", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** Parse the space-separated "k v k v …" label string into the canonical
    * label map + series_id (ref: README "Index some metrics"). */
  def parseWire(df: DataFrame): DataFrame = {
    val toks = split(col("labels"), "\\s+")
    val n = size(toks)
    // odd positions are keys, the following token is the value
    val idx = sequence(lit(1), n - 1, lit(2))
    val labelMap = map_from_entries(
      transform(idx, i => struct(
        element_at(toks, i).as("key"),
        element_at(toks, i + 1).as("value"))))
    df.select(
      labelMap.as(TsSchema.LabelsCol),
      col("timestamp").as(TsSchema.Ts),
      col("value").as(TsSchema.Value))
      .transform(TsSchema.relabel(_))
      .select(TsSchema.SeriesId, TsSchema.LabelsCol, TsSchema.Ts, TsSchema.Value)
  }

  /** JSON-lines stream source → canonical samples stream. */
  def readJsonStream(spark: SparkSession, path: String): DataFrame =
    parseWire(spark.readStream.schema(wireSchema).json(path))

  /** Apply the out-of-order tolerance (the head's OOO window) and derive the
    * time partition column. Dedup of exact duplicate samples within the
    * watermark mirrors the reference's DedupIterator FIRST policy
    * (TimeSeriesUnfoldAggregator.java:270-276). */
  def withIngestSemantics(samples: DataFrame, oooToleranceMs: Long): DataFrame =
    samples
      .withColumn("_event_time", timestamp_millis(col(TsSchema.Ts)))
      .withWatermark("_event_time", s"$oooToleranceMs milliseconds")
      .dropDuplicatesWithinWatermark(TsSchema.SeriesId, TsSchema.Ts)
      .withColumn("day", date_trunc("day", col("_event_time")))
      .drop("_event_time")

  /** Write the canonical stream to a day-partitioned parquet table.
    * trigger interval ≈ the reference's refresh interval (~1s visibility).
    *
    * Ingestion-lag metering is ON BY DEFAULT, the way the reference meters
    * every bulk request: the query is named
    * [[graft.serve.IngestLag.streamName]]`(tablePath)` and the session's one
    * lag listener records per-batch lag under source = `tablePath` — read
    * it back with `IngestLag.batches(tablePath)` /
    * `TsdbStats.renderGroupedWithLag`. The name is derived from the table,
    * so a second active writer to the same table fails at `start()` with
    * Spark's duplicate-name error instead of sharing its `_spark_metadata`
    * log; a restart after `stop()` starts normally. */
  def writer(samples: DataFrame, tablePath: String, checkpoint: String,
             triggerMs: Long = 1000L): DataStreamWriter[Row] = {
    graft.serve.IngestLag.listen(samples.sparkSession)
    samples.writeStream
      .queryName(graft.serve.IngestLag.streamName(tablePath))
      .format("parquet")
      .option("path", tablePath)
      .option("checkpointLocation", checkpoint)
      .option("maxRecordsPerFile", 5000000)
      .partitionBy("day")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .outputMode("append")
  }

  def start(spark: SparkSession, sourcePath: String, tablePath: String,
            checkpoint: String, oooToleranceMs: Long = 60000L): StreamingQuery =
    writer(withIngestSemantics(readJsonStream(spark, sourcePath), oooToleranceMs),
      tablePath, checkpoint).start()

  /** One-shot ingest of everything currently in `sourcePath`, blocking
    * until the sink commits — the batch face of [[start]], used by the
    * verify harness to drive the full parse → watermark → dedup →
    * partitioned-parquet path deterministically. */
  def runOnce(spark: SparkSession, sourcePath: String, tablePath: String,
              checkpoint: String, oooToleranceMs: Long = 60000L): Unit =
    drain(spark, writer(withIngestSemantics(readJsonStream(spark, sourcePath),
      oooToleranceMs), tablePath, checkpoint), RunOnceStateParts)

  /** [[runOnce]]'s dedup state shuffle width. That state is the one-shot
    * ingest's fixed cost: at the default 32 partitions every micro-batch
    * commits 32 state-store deltas for a few thousand rows. A sweep of
    * 1/2/4/8 on `streaming_ingest_roundtrip` (min-of-2 warm: 3.26/2.92/
    * 2.93/3.41 s) put 4 at the measured minimum while keeping parallel
    * headroom for the per-trigger row work. */
  private val RunOnceStateParts = 4

  /** Run a stream to completion — the one place a stream is drained. Starts
    * `writer` under `Trigger.AvailableNow` (every file in the source, in as
    * many micro-batches as the source's `maxFilesPerTrigger` makes) with
    * the state shuffle at `stateParts` partitions, blocks until it
    * terminates and returns the stopped query, whose `recentProgress`
    * stays readable.
    *
    * Every stateful micro-batch commits one state-store delta PER SHUFFLE
    * PARTITION, and at registry data sizes those commits — not row work —
    * are the wall clock, so each caller sizes `stateParts` to its stateful
    * key cardinality instead of taking the session default (the measured
    * curve is in OPERATORS.md). Partition count never changes results.
    * `start()` clones the session, and the stream keeps the clone's value
    * for its whole life (it is recorded in the checkpoint), so the
    * session's own `spark.sql.shuffle.partitions` is restored right after
    * `start()` — batch work meanwhile keeps the session's parallelism. */
  def drain(spark: SparkSession, writer: DataStreamWriter[Row],
            stateParts: Int): StreamingQuery = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, stateParts.toString)
    val q = try writer.trigger(Trigger.AvailableNow()).start()
      finally spark.conf.set(key, prev)
    try q.awaitTermination() finally q.stop()
    q
  }

  /** Retention: drop whole day partitions older than the horizon — the
    * TimeBasedRetention equivalent, metadata-only at scale. */
  def retentionSweep(spark: SparkSession, tablePath: String, keepDays: Int,
                     nowMs: Long): Seq[String] = {
    val cutoff = java.time.Instant.ofEpochMilli(nowMs)
      .minus(java.time.Duration.ofDays(keepDays))
    val base = new org.apache.hadoop.fs.Path(tablePath)
    // resolve the FS from the table path itself — FileSystem.get(conf) would
    // return the DEFAULT filesystem, wrong whenever the table lives elsewhere
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Nil
    val dropped = fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        // dir names are URL-escaped ("day=2023-01-01 00%3A00%3A00"); the
        // leading yyyy-MM-dd prefix is all the comparison needs
        p.getName.startsWith("day=") && {
          val d = java.time.LocalDate.parse(p.getName.stripPrefix("day=").take(10))
          d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.isBefore(cutoff)
        }
      }
    dropped.foreach(fs.delete(_, true))
    dropped.map(_.toString)
  }

  /** Name of the per-partition compaction commit marker. The leading dot
    * keeps it invisible to parquet readers (Spark skips `.`/`_` files). */
  private val PendingMarker = ".compact-pending"

  /** Compaction: rewrite day partitions whose parquet file count exceeds
    * `maxFiles` into `targetFiles` files — the reference's size-tiered
    * compaction (core/compaction/SizeTieredCompaction.java) re-expressed as a
    * partition rewrite job. Micro-batch ingest accretes a file per trigger;
    * periodic compaction keeps scan task counts bounded; driver-side work is
    * one directory listing per partition (metadata-scale only).
    *
    * Swap protocol (single compactor assumed; readers — and the streaming
    * ingest sink appending new trigger files — may act at any time. A raw
    * filesystem has no atomic multi-file commit, so the guarantees are made
    * explicit instead of claimed away):
    *  1. the OLD file set is snapshotted first, and the rewrite reads
    *     exactly that snapshot — a trigger file landing during the rewrite
    *     is neither compacted nor deleted
    *  2. compacted files are written to a `_compact_` sibling temp dir
    *  3. a `.compact-pending` marker naming BOTH the new files (`+name`
    *     lines) and the snapshotted old files (`-name` lines) is committed
    *     into the partition (temp-write + atomic rename) — recovery must
    *     never have to guess which files the swap owns
    *  4. the new files MOVE INTO the live partition, then exactly the
    *     snapshotted old files are deleted — the partition is never empty;
    *     a concurrent listing sees the old set, or briefly old+new (a
    *     bounded transient over-count during the swap), never neither
    *  5. the marker is removed
    * Every rename's boolean is checked; a failure rolls that partition back
    * (new files out, old set intact). [[recoverPartition]] runs first each
    * sweep: a marker whose `+` files all exist rolls FORWARD (delete the
    * `-` files), anything else rolls BACK (delete the `+` files) — files in
    * neither list (concurrent ingest output) are untouched in both
    * directions, so a crash at ANY step leaves every row present exactly
    * once after the next sweep. Returns the rewritten partition paths. */
  def compactionSweep(spark: SparkSession, tablePath: String,
                      maxFiles: Int = 8, targetFiles: Int = 1): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val base = new Path(tablePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Nil

    def parquets(dir: Path): Seq[Path] =
      fs.listStatus(dir).toSeq.map(_.getPath).filter(_.getName.endsWith(".parquet"))

    // ---- recovery + stale-state cleanup from a previous dead run -----------
    val parts = fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      .map(_.getPath)
    parts.foreach(p => recoverPartition(fs, p))
    fs.listStatus(base).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("_compact_"))
      .foreach(fs.delete(_, true))

    parts
      .filter(p => parquets(p).size > maxFiles)
      .flatMap { part =>
        val tmp = new Path(base, s"_compact_${part.getName}")
        // snapshot the old set FIRST and rewrite exactly it — a streaming
        // trigger file landing after this listing is neither compacted nor
        // (since only snapshotted names are ever deleted) lost
        val olds = parquets(part)
        spark.read.parquet(olds.map(_.toString): _*)
          .repartition(targetFiles)
          .write.mode("overwrite").parquet(tmp.toString)
        val runId = java.util.UUID.randomUUID().toString.take(8)
        val tmpFiles = parquets(tmp)
        val newNames = tmpFiles.indices.map(i => f"compacted-$runId-$i%05d.parquet")
        // commit point: the marker names the incoming (+) AND outgoing (-)
        // files (temp + rename — readers never see a half-written marker)
        val markerTmp = new Path(part, s"$PendingMarker.tmp")
        val out = fs.create(markerTmp, true)
        out.write((newNames.map("+" + _) ++ olds.map("-" + _.getName))
          .mkString("\n").getBytes("UTF-8"))
        out.close()
        val marker = new Path(part, PendingMarker)
        if (!fs.rename(markerTmp, marker)) {
          fs.delete(markerTmp, false); fs.delete(tmp, true)
          None
        } else {
          val movedAll = tmpFiles.zip(newNames).forall { case (src, name) =>
            fs.rename(src, new Path(part, name))
          }
          if (!movedAll) {
            // roll back: old set is still complete (olds are only deleted
            // after every new file arrived)
            newNames.foreach(n => fs.delete(new Path(part, n), false))
            fs.delete(marker, false); fs.delete(tmp, true)
            None
          } else {
            olds.foreach(fs.delete(_, false))
            fs.delete(marker, false)
            fs.delete(tmp, true)
            Some(part.toString)
          }
        }
      }
  }

  /** Offline OPTIMIZE tier: rewrite the streamed day-partitioned table as a
    * catalog table BUCKETED by series_id and sorted within buckets by
    * (series_id, timestamp). Structured Streaming sinks cannot write
    * bucketed output, so the layout upgrade is the natural second stage of
    * the compaction story: the hot path appends small day-partition files
    * (1s visibility), this pass rewrites cold days into the layout every
    * per-series temporal stage wants — a window over series_id then reads
    * co-located buckets with NO exchange (the same co-location trick as the
    * shingle index; `BucketedSamplesSpec` pins the exchange-free plan).
    * Bucket count ≈ cluster parallelism at the target scale; each bucket
    * holds |series|/buckets series regardless of corpus size, so the layout
    * survives any scale-up that hash partitioning itself survives. */
  def optimizeToBucketed(spark: SparkSession, tablePath: String, table: String,
                         buckets: Int = 64): Unit =
    optimizeToBucketed(spark.read.parquet(tablePath), table, buckets)

  /** [[optimizeToBucketed]] from an in-session frame (same layout contract). */
  def optimizeToBucketed(samples: DataFrame, table: String, buckets: Int): Unit =
    graft.core.Dist.writeBucketed(samples, table, "overwrite", buckets,
      TsSchema.SeriesId, TsSchema.Ts)

  /** Finish or undo a compaction swap that died mid-flight. With the pending
    * marker present: all `+` files on disk → roll forward (delete exactly
    * the marker's `-` files, then the marker); any `+` file missing → roll
    * back (delete the `+` files that did arrive — the old set is still
    * complete). Files named in NEITHER list — e.g. a trigger file the
    * streaming sink appended while the swap was in flight — are never
    * touched in either direction. No marker → nothing to do (committed
    * `compacted-` files are real data). */
  private def recoverPartition(fs: org.apache.hadoop.fs.FileSystem,
                               part: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(part, PendingMarker)
    fs.delete(new Path(part, s"$PendingMarker.tmp"), false)
    if (!fs.exists(marker)) return
    val in = fs.open(marker)
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
    in.close()
    val newNames = lines.collect { case l if l.startsWith("+") => l.substring(1) }.toSet
    val oldNames = lines.collect { case l if l.startsWith("-") => l.substring(1) }.toSet
    val present = fs.listStatus(part).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    if (newNames.subsetOf(present.map(_.getName).toSet))
      present.filter(p => oldNames(p.getName)).foreach(fs.delete(_, false))
    else
      present.filter(p => newNames(p.getName)).foreach(fs.delete(_, false))
    fs.delete(marker, false)
  }

  /** Per-series activity sessions with an inactivity gap — Spark's native
    * `session_window` over the watermarked stream (merging is Spark-managed
    * state, one shuffle on the series key; the identical expression runs in
    * batch mode, which is what the `events_sessionize` oracle replays). */
  def streamingSessionize(samples: DataFrame, gapMs: Long, lateMs: Long): DataFrame =
    samples
      .withColumn("_event_time", timestamp_millis(col(TsSchema.Ts)))
      .withWatermark("_event_time", s"$lateMs milliseconds")
      .groupBy(col(TsSchema.SeriesId),
        session_window(col("_event_time"), s"$gapMs milliseconds").as("sw"))
      .agg(count(col(TsSchema.Value)).as("n"),
        sum(col(TsSchema.Value)).as("sum_value"))
      .select(col(TsSchema.SeriesId),
        unix_millis(col("sw.start")).as("session_start"),
        unix_millis(col("sw.end")).as("session_end"),
        col("n"), col("sum_value"))
}
