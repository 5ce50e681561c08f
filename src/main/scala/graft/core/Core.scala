package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Query-time evaluation grid — the one owner of the series path's time
  * axis: the floor bucket, the end-exclusive clip, the grid points and the
  * per-series consolidation onto buckets are each written once, here.
  *
  * The reference carries (minTimestamp, maxTimestamp, step) on every series and
  * defines "null" as absence from the sample list; all dense-fill / temporal
  * stages are evaluated against this grid, not against the data
  * (ref: query/aggregator/TimeSeries.java:68,83-90), and every bucket goes
  * through one mapper (SummarizeStage's bucketMapper.mapToBucket; the same
  * rule in TimeSeriesNormalizer and the unfold rebucket).
  *
  * Timestamps are epoch millis; the grid is `[startMs, alignedEndMs]` inclusive,
  * points every `stepMs` (ref: TimeSeries.calculateAlignedMaxTimestamp,
  * query/aggregator/TimeSeries.java:241).
  */
final case class QueryGrid(startMs: Long, endMs: Long, stepMs: Long) {
  require(stepMs > 0, s"stepMs must be positive, got $stepMs")
  /** Last grid point: the range is END-EXCLUSIVE `[startMs, endMs)` —
    * the reference's truncate clips to [min, max) and its dense stages
    * enumerate the same half-open grid (ref: TruncateStage.java:25-31;
    * golden corpus dense-fill cases). */
  def alignedEndMs: Long =
    if (endMs <= startMs) startMs
    else startMs + ((endMs - startMs - 1) / stepMs) * stepMs
  def numPoints: Long = (alignedEndMs - startMs) / stepMs + 1

  /** The end-exclusive clip: `ts` lies in `[startMs, endMs)`. */
  def contains(ts: Column): Column = ts >= startMs && ts < endMs

  /** The grid points `[startMs, alignedEndMs]` as one array column; exploded
    * per row, so a 100TB-scale densify never materializes on the driver. */
  def points: Column = sequence(lit(startMs), lit(alignedEndMs), lit(stepMs))

  /** One row per grid point: (timestamp LONG). */
  def gridDF(spark: SparkSession): DataFrame =
    spark.range(1).select(explode(points).as(TsSchema.Ts))

  /** Bucket an arbitrary timestamp onto this grid: [[QueryGrid.bucket]] with
    * origin `startMs`. */
  def bucket(ts: Column): Column = QueryGrid.bucket(ts, stepMs, startMs)

  /** Per-series consolidation onto this grid's buckets: bucket column `ts`,
    * group by (series_id, labels, bucket) and reduce each group with `agg`
    * (which may read the raw `timestamp`, as `last` does), giving canonical
    * (series_id, labels, timestamp, value) rows stamped with their bucket. */
  def consolidate(df: DataFrame, agg: Column, ts: String = TsSchema.Ts): DataFrame =
    df.withColumn("_slot", bucket(col(ts)))
      .groupBy(col(TsSchema.SeriesId), col(TsSchema.LabelsCol), col("_slot").as(TsSchema.Ts))
      .agg(agg.as(TsSchema.Value))
      .select(TsSchema.SeriesId, TsSchema.LabelsCol, TsSchema.Ts, TsSchema.Value)
}

object QueryGrid {
  /** The one floor bucket: `originMs + floor((ts - originMs) / stepMs) * stepMs`.
    * Floor, not truncation, so pre-1970 (negative) timestamps round down —
    * matches DuckDB's `//` integer division for oracle parity. */
  def bucket(ts: Column, stepMs: Long, originMs: Long): Column =
    lit(originMs) + floor((ts - lit(originMs)) / lit(stepMs)).cast(LongType) * lit(stepMs)

  /** [[bucket]] of one driver-side instant, for plan-time grid arithmetic. */
  def bucketOf(ms: Long, stepMs: Long, originMs: Long): Long =
    originMs + Math.floorDiv(ms - originMs, stepMs) * stepMs
}

/** Per-operand grid metadata threaded through the M3QL compiler: the nominal
  * step and bucket origin of a pipeline's current output. The reference keeps
  * (minTimestamp, step) on every TimeSeries and normalizes operands of a
  * binary projection when they disagree (query/aggregator/TimeSeriesNormalizer
  * .java:16-45); we track the same facts at plan time — the step only changes
  * at `summarize`, so it is statically known per pipeline. */
final case class StepMeta(stepMs: Long, startMs: Long)

/** Canonical storage/query schema for samples.
  *
  * Mirrors the reference's persisted doc model — labels (sorted k:v set),
  * timestamp epoch_millis, double value (ref: core/mapping/Constants.java:25-116)
  * — as an exploded one-row-per-sample DataFrame, which is the layout Catalyst
  * optimizes best (columnar parquet + whole-stage codegen).
  */
object TsSchema {
  val SeriesId = "series_id"
  val LabelsCol = "labels"
  val Ts = "timestamp"
  val Value = "value"

  val samples: StructType = StructType(Seq(
    StructField(SeriesId, LongType, nullable = false),
    StructField(LabelsCol, MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField(Ts, LongType, nullable = false),
    StructField(Value, DoubleType, nullable = true)))

  /** Canonical sorted "k:v,k:v" string for a label map — the series identity.
    * (ref: core/model/Labels.java:20-155 keeps labels sorted; toIndexSet emits
    * "key:value" strings.) Codegen-friendly: pure builtin functions. */
  def seriesKey(labels: Column): Column =
    concat_ws(",", transform(array_sort(map_entries(labels)),
      e => concat(e.getField("key"), lit(":"), e.getField("value"))))

  /** 64-bit stable series id (ref: Labels.stableHash, core/model/Labels.java:96). */
  def seriesId(labels: Column): Column = xxhash64(seriesKey(labels))

  /** Set `labels` to a new label set and re-derive `series_id` from it — the
    * one way a stage changes a series' identity (ref: the copy-on-write
    * `Labels.withLabel` + `stableHash`). With no label set given, the frame
    * keeps its own and only gains `series_id`. */
  def relabel(df: DataFrame, labels: Column = col(LabelsCol)): DataFrame =
    df.withColumn(LabelsCol, labels).withColumn(SeriesId, seriesId(col(LabelsCol)))

  /** The empty label set, typed like the `labels` column. */
  def noLabels: Column = map().cast(samples(LabelsCol).dataType)

  /** `labels` without `keys`. */
  def dropLabels(keys: Seq[String], labels: Column = col(LabelsCol)): Column =
    if (keys.isEmpty) labels
    else map_filter(labels, (k, _) => keys.map(x => k =!= lit(x)).reduce(_ && _))

  /** `labels` with `key` set to `value`: drop `key`, then add `key` → `value`. */
  def putLabel(key: String, value: Column, labels: Column = col(LabelsCol)): Column =
    map_concat(dropLabels(Seq(key), labels), map(lit(key), value))

  /** Match-key parts: \u0001 joins them, \u0000 stands for a missing label —
    * neither occurs in a real label value, so a missing label never matches
    * `""`. */
  private val Sep = "\u0001"
  private val MissingV = "\u0000"

  /** One label's match value: its value, or the missing marker. */
  def labelValue(key: String): Column = coalesce(col(LabelsCol).getItem(key), lit(MissingV))

  /** The match key of the label set projected onto `keys` — the one key for
    * explicit tag matching (M3 `divide`/`asPercent`/`diff … keys`,
    * `intersect … keys`, PromQL `on(…)`). */
  def labelKey(keys: Seq[String]): Column = concat_ws(Sep, keys.map(labelValue): _*)

  /** The match key of the label set projected onto a per-row array of label
    * names (the common keys of two operands); each part names its key. */
  def labelKey(keys: Column): Column =
    concat_ws(Sep, transform(keys,
      k => concat(k, lit(":"), coalesce(element_at(col(LabelsCol), k), lit(MissingV)))))
}

/** Helpers producing bit-identical aggregates across engines (Spark vs a
  * DuckDB oracle): double summation is order-dependent, so cross-row sums are
  * computed in exact decimal and only then converted back to double.
  *
  * `over` places each aggregate of an expression: identity (the default) for
  * a grouped aggregate, `_.over(frame)` for a window aggregate — one
  * definition serves groups, buckets and windows alike. */
object OracleSafe {
  private val Dec = DecimalType(38, 9)

  /** Exact sum of a double column: decimal(38,9) accumulate, then one double cast. */
  def dSum(c: Column, over: Column => Column = identity): Column =
    over(sum(c.cast(Dec))).cast(DoubleType)

  /** Exact mean: decimal sum / count, single double division at the end. */
  def dAvg(c: Column, over: Column => Column = identity): Column =
    dSum(c, over) / over(count(c))

  /** The value aggregates of the series path over canonical samples, each
    * written once: `sum`, `avg` (decimal-exact), `min`, `max`, `count` (of
    * non-null values, as a double), `last` (the value at the newest
    * timestamp), `stddev` (the SAMPLE form from decimal moments, null below
    * two values — the manual formula keeps Spark and a SQL oracle
    * bit-identical, see [[sqlStddev]]), and Spark's `stddev_pop` and
    * `var_pop` (their partial buffers merge in shuffle order, so a grouped
    * and a windowed form of one series may differ in the last ulp). */
  def seriesAgg(fn: String, over: Column => Column = identity): Column = {
    val v = col(TsSchema.Value)
    fn match {
      case "sum"   => dSum(v, over)
      case "avg"   => dAvg(v, over)
      case "min"   => over(min(v))
      case "max"   => over(max(v))
      case "count" => over(count(v)).cast(DoubleType)
      case "last"  => over(expr(s"max_by(${TsSchema.Value}, ${TsSchema.Ts})"))
      case "stddev" =>
        val n = over(count(v)).cast(DoubleType)
        val s1 = dSum(v, over)
        val s2 = dSum(v * v, over)
        when(n > 1, sqrt((s2 - s1 * s1 / n) / (n - lit(1.0))))
      case "stddev_pop" => over(stddev_pop(v))
      case "var_pop"    => over(var_pop(v))
      case other => throw new IllegalArgumentException(s"series aggregate: $other")
    }
  }

  /** DuckDB SQL fragments mirroring the above, for oracle queries. */
  def sqlSum(expr: String): String =
    s"CAST(sum(CAST(($expr) AS DECIMAL(38,9))) AS DOUBLE)"
  def sqlAvg(expr: String): String =
    s"CAST(sum(CAST(($expr) AS DECIMAL(38,9))) AS DOUBLE) / count($expr)"
  def sqlStddev(expr: String): String =
    s"""CASE WHEN count($expr) > 1 THEN
       | sqrt((${sqlSum(s"$expr * $expr")} - ${sqlSum(expr)} * ${sqlSum(expr)} / CAST(count($expr) AS DOUBLE))
       |      / (CAST(count($expr) AS DOUBLE) - 1.0)) END""".stripMargin

  /** Deterministic [0,1) fraction of a string key: first 8 hex chars of its
    * md5, scaled by 2^32 — reproducible in any engine (DuckDB mirror:
    * `CAST(('0x' || substr(md5(k),1,8)) AS BIGINT) / 4294967296.0`). The
    * one hash-fraction used by every sampling operator (limit_ratio,
    * train/val/test splits), so engine and oracles can never drift apart
    * one copy at a time. */
  def hashFraction(key: Column): Column =
    conv(substring(md5(key), 1, 8), 16, 10).cast(LongType) / lit(4294967296.0)

  /** The integer form of [[hashFraction]]: the same first-8-hex-chars md5
    * value as a nonnegative 32-bit integer in a LONG — for bucket/shard
    * assignment (`hashLong(k) % n`) where a double fraction could straddle
    * a bucket boundary after rounding. DuckDB mirror:
    * `CAST(('0x' || substr(md5(k),1,8)) AS BIGINT)`. */
  def hashLong(key: Column): Column =
    conv(substring(md5(key), 1, 8), 16, 10).cast(LongType)
}

/** Distributed-scan primitives shared across the engine. */
object Dist {
  import org.apache.spark.sql.expressions.Window

  /** Window partition key that puts every row in ONE partition, for windows
    * over an already-bounded frame (a k-row top-k tail, per-partition
    * offsets). It is 0 on every row, whatever the type or nullness of `c`
    * (xxhash64 of null is its seed), yet not foldable, so
    * EliminateWindowPartitions keeps the spec and WindowExec doesn't log
    * "No Partition Defined". A bare `pmod(c, 1)` is neither: a null `c`
    * opens a second partition, and a string `c` casts to a null key (or
    * fails under ANSI). */
  def singleWindowKey(c: Column): Column = pmod(xxhash64(c), lit(1))

  /** TWO-PHASE distributed prefix sum: the inclusive running total of
    * `value` over the global order `rangeOrd ++ localOrd` (within each
    * `keyNames` group), without ever funnelling the data through a
    * single-partition `Window.orderBy`.
    *
    * Phase 1 range-partitions on `rangeOrd` and computes a per-partition
    * local running sum; phase 2 aggregates one row per (partition × keys) —
    * bounded by partition count, not row count — windows THAT tiny frame for
    * the per-partition starting offsets, and broadcasts it back. The result
    * is byte-identical to a serial pass regardless of partition count.
    * (The phase-2 window moves only the per-partition totals — one row per
    * range partition × key group, never the data — to a single task; with
    * empty `keyNames` it partitions by a constant so WindowExec doesn't log
    * its scary-but-irrelevant "No Partition Defined" warning for a frame
    * this size. PrefixScanSpec pins the boundedness.)
    * Callers: the M3 `sort` rank, sequence packing, weighted source
    * mixing, running sums (`SeriesStats`, histogram quantiles) and the other
    * ranks that every row keeps. A rank that keeps only k rows is [[topK]].
    *
    * Returns the input plus `_scan` (the running total, in `value`'s summed
    * type). `localOrd` must be a total order within each range partition ×
    * key group (ties would share a frame otherwise). */
  def prefixScan(df: DataFrame, rangeOrd: Seq[Column], value: Column,
                 localOrd: Seq[Column], keyNames: Seq[String] = Nil): DataFrame = {
    val keyCols = keyNames.map(col)
    val parted = df.repartitionByRange(rangeOrd: _*)
      .withColumn("_pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("_pid") +: keyCols: _*)
      .orderBy(localOrd: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("_scan0", sum(value).over(wLocal))
    // r15 (VERDICT r14 item 7): with no keys this phase-2 window is global —
    // WindowExec logged "No Partition Defined ... single partition" once per
    // consumer query (the burst in the Verify tail), alarming for a frame
    // that is in fact BOUNDED at one row per range partition × key group
    // (never the data; see the scaladoc above). Partitioning by a constant
    // executes identically (all offset rows to one task, as before) and
    // keeps the log channel clean for warnings that mean something. The
    // constant must not be FOLDABLE (EliminateWindowPartitions strips
    // literals and the warning returns): see singleWindowKey.
    val offKeys: Seq[Column] =
      if (keyCols.isEmpty) Seq(singleWindowKey(col("_pid"))) else keyCols
    val wOff = Window.partitionBy(offKeys: _*).orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    // partition totals aggregate the VALUE directly — max of the running
    // sum only equals the total for non-negative values, and this primitive
    // must hold for signed scans too
    val offsets = local.groupBy(col("_pid") +: keyCols: _*)
      .agg(sum(value).as("_ptot"))
      .withColumn("_off", coalesce(sum(col("_ptot")).over(wOff), lit(0)))
      .select(col("_pid") +: keyCols :+ col("_off"): _*)
    local.join(broadcast(offsets), "_pid" +: keyNames)
      .withColumn("_scan", col("_off") + col("_scan0"))
      .drop("_pid", "_scan0", "_off")
  }

  /** Bounded top-k: at most `k` rows per `groups` group, ranked 1..k in
    * `rankCol` (an int, like `row_number`) over `ord`, which must be a TOTAL
    * order (end it with a unique tiebreaker), or ranks are
    * partition-dependent. The plan follows from the input:
    *  - no groups: `orderBy(ord).limit(k)`, which Spark plans as a
    *    distributed TakeOrderedAndProject (each partition keeps its own k,
    *    one task merges them — the reference's shard-local top-k plus
    *    coordinator merge, TopKStage.java:33-47), then `row_number` over
    *    the <= k survivors in one [[singleWindowKey]] window keyed by the
    *    tiebreaker;
    *  - groups: `row_number` over `partitionBy(groups)` filtered to `<= k`,
    *    which Spark plans with a partial WindowGroupLimit below the shuffle.
    * No sort ever sees more than partitions·k rows per group. */
  def topK(df: DataFrame, ord: Seq[Column], k: Int, groups: Seq[Column] = Nil,
           rankCol: String = "_rn"): DataFrame = {
    require(k >= 0, s"top-k needs k >= 0, got $k")
    if (groups.isEmpty) {
      val tie = org.apache.spark.sql.graft.ColumnBridge.unsorted(ord.last)
      df.orderBy(ord: _*).limit(k)
        .withColumn(rankCol, row_number().over(
          Window.partitionBy(singleWindowKey(tie)).orderBy(ord: _*)))
    } else
      df.withColumn(rankCol, row_number().over(
          Window.partitionBy(groups: _*).orderBy(ord: _*)))
        .where(col(rankCol) <= k)
  }

  /** Save `df` as catalog table `table`, bucketed by `key` into `buckets`
    * buckets and sorted within each bucket by `key` then `thenBy`. `mode`
    * "append" adds files per bucket, so the co-located (exchange-free) join
    * property survives without a rebuild.
    *
    * The frame is repartitioned ON the bucket key into bucket-count
    * partitions first: repartition's HashPartitioning and the writer's
    * bucket-id formula are the same pmod(murmur3, n), so each task holds
    * exactly one bucket and writes ONE file — without it every input task
    * writes a file per bucket it touches (W·B tiny files; measured 2000+
    * per build at 32 tasks × 64 buckets, and the file-open/commit overhead
    * dominated the build). */
  def writeBucketed(df: DataFrame, table: String, mode: String, buckets: Int,
                    key: String, thenBy: String*): Unit =
    df.repartition(buckets, col(key))
      .write.mode(mode)
      .bucketBy(buckets, key)
      .sortBy(key, thenBy: _*)
      .saveAsTable(table)

  /** Test/bench utility: place each row in partition `firstLongCol mod n`
    * via an EXPLICIT partitioner. `repartition(n, pmod(col, n))` does NOT
    * do this — it re-hashes the residue, and residue-hash collisions
    * co-locate rows the construction needs separated. Used to build the
    * connected-components hostile case (adjacent chain edges never share
    * a partition, so every edge is a partition crossing) identically in
    * the soak and the spec; the first column must be a non-null Long
    * (negative ids are valid: floorMod keeps the partition in [0, n)). */
  def scatterByMod(df: DataFrame, n: Int): DataFrame =
    df.sparkSession.createDataFrame(
      df.rdd.map(r => (r.getLong(0), r))
        .partitionBy(new org.apache.spark.Partitioner {
          override def numPartitions: Int = n
          override def getPartition(key: Any): Int =
            java.lang.Math.floorMod(key.asInstanceOf[Long], n.toLong).toInt
        }).values,
      df.schema)

  /** Drop the block-manager storage behind a `localCheckpoint(eager=true)`d
    * frame. A local checkpoint truncates lineage, so Spark itself only frees
    * the blocks when the driver GCs the RDD handle — on a large driver heap
    * that can be NEVER within a run, and an iterative loop that checkpoints
    * per round accumulates dead rounds' blocks until the store evicts live
    * caches. Call this only on frames no later computation reads: the
    * checkpointed RDD cannot be recomputed once its blocks are gone. */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Release a RELIABLY-checkpointed frame (`df.checkpoint(eager=true)`):
    * unpersist its blocks and delete its checkpoint files. Same caveat as
    * [[freeLocalCheckpoint]] — once the files are gone the frame cannot be
    * read again, so call only on frames no later computation touches. */
  def freeReliableCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}

/** The one session cache: a value built once per (session, caller key) and,
  * for frame-keyed callers, per source plan — persisted derived frames,
  * driver-side index arrays, staged stream-source directories. `free`
  * releases a value when its entry leaves the cache.
  *
  * Identity: an entry is keyed by the session, the caller's `K` and, for
  * frame-keyed calls (`apply(src, key)`), the source's analyzed plan —
  * hashed by `semanticHash`, compared by `sameResult`, so a hash
  * collision between two plans costs at most a second build and never
  * serves the wrong value. A stamped call (`apply(spark, key, stamp)`)
  * keeps one entry per key and replaces it when the stamp changes (the
  * table schemas of [[Tables.parquet]]).
  *
  * Builds run OUTSIDE any lock (they can launch multi-job Spark work, e.g.
  * IVF k-means); two concurrent first callers of one key may both build,
  * the loser's value is freed and the winner's is shared from then on.
  *
  * STANDING-SET BUDGET: every entry is its own token in the process-wide
  * [[Memo.Ledger]], which caps the live entries per session
  * (`graft.memo.maxEntries`, default 128) and frees the least-recently-used
  * entry past the cap. A token is the entry object itself (reference
  * identity), so entries of two instances with equal keys never alias.
  * Eviction is safe by construction — a cached value is a pure derivation
  * of its inputs, so the next request rebuilds a `sameResult`-identical
  * plan (MemoSpec pins this) — it only trades recompute for memory. Without
  * the cap a long-lived session (a serving process, a 291-query bench)
  * accumulates every family's caches until the block manager thrashes:
  * wall time explodes while spill metrics stay flat, because block-manager
  * eviction is not task spill. [[Memo.clearSession]] frees every entry of a
  * session through the same ledger; [[Memo.stats]] counts a session's hits,
  * misses and cap evictions. */
final class Memo[K, V] private (keep: V => V, free: V => Unit) {
  def this(free: V => Unit) = this(v => v, free)

  private final class Entry(val value: V, val stamp: Any)
  private val m = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, K, Option[Memo.PlanKey]), Entry]

  def apply(spark: SparkSession, key: K)(build: => V): V =
    get((spark, key, None), (), build)

  /** Keyed by `key`, and valid while `stamp` stays equal: a call with
    * another stamp frees the entry and builds anew, so a key holds at most
    * one entry. */
  def apply(spark: SparkSession, key: K, stamp: Any)(build: => V): V =
    get((spark, key, None), stamp, build)

  /** Keyed by `src`'s analyzed plan as well as `key`. */
  def apply(src: DataFrame, key: K)(build: => V): V =
    get((src.sparkSession, key, Some(new Memo.PlanKey(src.queryExecution.analyzed))), (), build)

  private def get(k: (SparkSession, K, Option[Memo.PlanKey]), stamp: Any, build: => V): V = {
    val spark = k._1
    m.get(k) match {
      case Some(e) if e.stamp == stamp =>
        Memo.counts(spark).hits.incrementAndGet()
        Memo.Ledger.touch(e); e.value
      case _ =>
        Memo.maxEntries(spark)
        Memo.counts(spark).misses.incrementAndGet()
        install(k, new Entry(keep(build), stamp)).value
    }
  }

  /** Puts the built `e` under `k`: an equal-stamped entry already there
    * (a lost build race) wins, a stale-stamped one is freed and replaced. */
  @scala.annotation.tailrec
  private def install(k: (SparkSession, K, Option[Memo.PlanKey]), e: Entry): Entry =
    m.putIfAbsent(k, e) match {
      case Some(w) if w.stamp == e.stamp => free(e.value); Memo.Ledger.touch(w); w
      case Some(w) => Memo.Ledger.drop(w); m.remove(k, w); install(k, e)
      case None =>
        // remove(k, e) is conditional: a rebuilt entry under the same
        // key is never dropped by the evicted one's closure
        Memo.Ledger.add(e, k._1, () => if (m.remove(k, e)) free(e.value))
        e
    }
}

object Memo {
  private val hooks = new java.util.concurrent.ConcurrentLinkedQueue[SparkSession => Unit]()

  /** A memo of frames: each built frame is persisted MEMORY_AND_DISK and
    * unpersisted, non-blocking, when freed. */
  def frames[K]: Memo[K, DataFrame] = new Memo[K, DataFrame](
    _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
    _.unpersist(blocking = false))

  /** A source plan as a map key: `semanticHash` buckets, `sameResult`
    * decides (both read the canonicalized plan, so equal keys hash alike). */
  private final class PlanKey(val plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) {
    private val h = plan.semanticHash()
    override def hashCode: Int = h
    override def equals(o: Any): Boolean = o match {
      case p: PlanKey => plan.sameResult(p.plan)
      case _ => false
    }
  }

  /** Process-wide LRU ledger of LIVE entries across every [[Memo]]
    * instance — the structural budget on the standing cache set. Each
    * session keeps at most `graft.memo.maxEntries` (session conf, default
    * 128) entries; inserting past the cap evicts the least-recently-USED
    * entries (access-ordered), whose owner then frees them. Eviction trades
    * recompute for memory and can never change results — MemoSpec proves a
    * re-derived frame is `sameResult`-identical to the evicted one. Evict
    * closures run with no ledger lock held (victims are detached under the
    * lock, freed after). */
  private[core] object Ledger {
    private final case class Slot(session: SparkSession, evict: () => Unit)
    // access-order LinkedHashMap: iteration order is least-recently-used first
    private val order = new java.util.LinkedHashMap[AnyRef, Slot](64, 0.75f, true)
    import scala.jdk.CollectionConverters._
    // iterator (NOT a Set view) — LinkedHashMap's access order is the
    // whole point, and a scala Set filter would hash-scramble it
    private def slotsOf(session: SparkSession): List[(AnyRef, Slot)] =
      order.entrySet.iterator.asScala
        .filter(_.getValue.session eq session)
        .map(e => (e.getKey, e.getValue)).toList // LRU-first
    private def detach(slots: List[(AnyRef, Slot)]): List[() => Unit] = {
      slots.foreach(e => order.remove(e._1))
      slots.map(_._2.evict)
    }
    private def run(victims: List[() => Unit]): Unit =
      victims.foreach(f => try f() catch { case scala.util.control.NonFatal(_) => () })
    def touch(token: AnyRef): Unit =
      order.synchronized { order.get(token); () }
    def add(token: AnyRef, session: SparkSession, evict: () => Unit): Unit = {
      val max = maxEntries(session)
      run(order.synchronized {
        order.put(token, Slot(session, evict))
        val mine = slotsOf(session)
        val victims = mine.take(mine.size - max)
        counts(session).evictions.addAndGet(victims.size.toLong)
        detach(victims)
      })
    }
    /** Free one entry now (a stale stamp) if it is still live. */
    def drop(token: AnyRef): Unit =
      run(order.synchronized(Option(order.remove(token)).map(_.evict).toList))
    /** Free every entry of `session`. */
    def clear(session: SparkSession): Unit =
      run(order.synchronized(detach(slotsOf(session))))
    /** Live-entry count for one session (telemetry/tests). */
    def size(session: SparkSession): Int = order.synchronized {
      order.values.asScala.count(_.session eq session)
    }
  }
  /** The session's ledger cap, `graft.memo.maxEntries` (default 128).
    * A memo reads it before building on a miss, so a malformed or
    * non-positive value fails by name and leaves nothing persisted. */
  def maxEntries(spark: SparkSession): Int = {
    val raw = spark.conf.get("graft.memo.maxEntries", "128")
    raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"graft.memo.maxEntries must be a positive integer, got '$raw'"))
  }
  /** Live memoized-entry count for `spark` — bench/serving telemetry. */
  def liveEntries(spark: SparkSession): Int = Ledger.size(spark)

  /** A session's memo lookups since it began: `hits` served a live entry,
    * `misses` built one (a first call, a stale stamp or a key evicted
    * before), `evictions` counts entries the ledger cap freed. Entries
    * [[clearSession]] frees are not evictions. */
  final case class Stats(hits: Long, misses: Long, evictions: Long)
  private[core] final class Counts {
    val hits, misses, evictions = new java.util.concurrent.atomic.AtomicLong
  }
  // weak keys: a stopped, unreferenced session takes its counts with it
  private val sessionCounts =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, Counts]())
  private[core] def counts(spark: SparkSession): Counts =
    sessionCounts.computeIfAbsent(spark, _ => new Counts)
  def stats(spark: SparkSession): Stats = {
    val c = counts(spark)
    Stats(c.hits.get, c.misses.get, c.evictions.get)
  }
  /** Per-session hook for a session-scoped registry that is registered,
    * not built on a miss (Rollup's serving tier) — it must not outlive its
    * session any more than a memo entry does. */
  def onClearSession(f: SparkSession => Unit): Unit = hooks.add(f)
  /** Free every memo entry built under `spark`, then run the registered
    * per-session hooks. */
  def clearSession(spark: SparkSession): Unit = {
    Ledger.clear(spark)
    hooks.forEach(_(spark))
  }
}

/** Test-data table loaders (driver-provided parquet, TESTDATA.md). */
object Tables {
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** The schema rule: `spark.read.parquet(path)` without its schema
    * inference. Spark infers a parquet schema with one job per read
    * (`mergeSchemasInParallel`), so a plain read makes every query build
    * launch a job. Here a table's schema is inferred once per session, kept
    * as a [[Memo]] entry, and handed to `spark.read.schema(s).parquet(path)`,
    * whose plan is the plain read's. The entry is keyed by the path and
    * stamped with the path's leaf files (name, length, modification time;
    * a single-file table is its own leaf) and the session's
    * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` settings: an
    * overwritten table or a changed inference setting is inferred again and
    * replaces the entry, so a path holds one entry. A missing path reads
    * plainly, raising Spark's own error. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path)
    else {
      // listStatus, not listFiles: listFiles also fetches block locations
      // (15 ms against 0.3 ms for a 4-file table on a local disk)
      def files(f: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
        if (f.isDirectory) fs.listStatus(f.getPath).toSeq.flatMap(files) else Seq(f)
      val leaves = files(fs.getFileStatus(p))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
      val conf = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.toSeq.sorted
      spark.read.schema(schemas(spark, path, (leaves, conf))(spark.read.parquet(path).schema))
        .parquet(path)
    }
  }
  private val schemas = new Memo[String, StructType](_ => ())

  /** Memoize + persist derived inputs shared by many queries in one session
    * (the Verify/Bench mains run 60+ queries over the same derived series).
    * MEMORY_AND_DISK: under memory pressure a partition spills to local disk
    * instead of being silently recomputed from the 6h-bucket decimal
    * aggregation — repeated recomputation is exactly what skews a long bench
    * run (and a 100× production run). */
  private val memo = Memo.frames[(String, String)]
  private def cached(spark: SparkSession, sfDir: String, key: String)
                    (build: => DataFrame): DataFrame =
    memo(spark, (sfDir, key))(build)

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "region")
  /** Not shipped by the driver testdata yet — the partsupp TPC-H family
    * (q2/q9/q11/q16/q20) registers only when the file exists (Tpch.all). */
  def partsupp(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "partsupp")
  /** events.parquet's ts physical type has varied across data generations:
    * TIMESTAMP(NANOS) (which vanilla Spark rejects — nanosAsLong reads it as
    * LONG nanos) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark 4
    * reads as TIMESTAMP_NTZ). `tsMillis` below normalizes every
    * representation to epoch millis (== DuckDB epoch_ms). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    read(spark, sfDir, "events")
  }

  private def tsMillis(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("ts div 1000000")   // nanos → millis, exact integer div
    // NTZ wall-clock == the stored instant under the UTC session timezone
    // every entry point sets, so the cast is value-preserving
    case TimestampNTZType => unix_millis(col("ts").cast(TimestampType))
    case _        => unix_millis(col("ts"))
  }

  /** `events` with a canonical epoch-millis column — the ONE place that
    * knows the ts column's physical representation (LONG nanos vs
    * TIMESTAMP); query packs must use this instead of re-deriving millis. */
  def eventsMillis(spark: SparkSession, sfDir: String,
                   colName: String = "tm"): DataFrame = {
    val ev = events(spark, sfDir)
    ev.withColumn(colName, tsMillis(ev))
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")

  /** `events` viewed as canonical TSDB samples: series identity = the event_type
    * label plus a low-cardinality user bucket (mirrors the reference ingest doc
    * {labels, timestamp epoch_millis, value} — core/mapping/Constants.java:84-116).
    */
  def eventSamples(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "eventSamples") {
      val ev = events(spark, sfDir)
      val labels = map(
        lit("name"), col("event_type"),
        lit("user"), (col("user_id") % 10).cast(StringType))
      TsSchema.relabel(
        ev.select(
          labels.as(TsSchema.LabelsCol),
          tsMillis(ev).as(TsSchema.Ts),   // == DuckDB epoch_ms(ts)
          col("value").as(TsSchema.Value)))
    }

  /** The events table's time extent at any SF (data is 2024-01-01 .. 2024-01-31). */
  val EventsGrid6h: QueryGrid = QueryGrid(
    startMs = 1704067200000L,               // 2024-01-01T00:00:00Z
    endMs = 1706745600000L,                 // 2024-02-01T00:00:00Z
    stepMs = 6L * 3600 * 1000)

  /** Regularized per-series grid: mean value per 6h bucket (oracle-exact).
    * This is the reference's `summarize 6h avg` producing an aligned grid the
    * temporal stages can run on (ref: lang/m3/stage/SummarizeStage.java:39-62). */
  def griddedEventSamples(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "griddedEventSamples") {
      EventsGrid6h.consolidate(eventSamples(spark, sfDir), OracleSafe.dAvg(col(TsSchema.Value)))
    }
}
