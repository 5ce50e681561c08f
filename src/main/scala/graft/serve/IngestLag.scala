package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingestion-lag observability — the Spark analogue of the reference's
  * ingestion-lag metrics (metrics/TSDBIngestionLagMetrics.java:17-27:
  * coordinatorLag / appendLag histograms per index;
  * action/TSDBIngestionLagActionFilter.java:92-106 computes
  * `now − minSampleTimestamp` per bulk request at coordinator entry).
  *
  * Mapping: the reference meters each BULK REQUEST as it enters the
  * coordinator and as its shard appends complete; the Structured-Streaming
  * unit of arrival is the MICRO-BATCH, so this meters each micro-batch:
  *  - coordinator lag = batch arrival instant − min sample event-time in
  *    the batch (how stale the freshest view is when data lands),
  *  - append lag     = sink commit instant − min sample event-time (when
  *    the rows became queryable — the reference's "appended and queryable"),
  *  - per-row lag sum (arrival − event-time summed over the batch), so
  *    avg lag is derivable without a second pass.
  *
  * The clock is an injectable seam: production meters wall time
  * ([[meteredSink]]'s defaults — exactly the filter's
  * `System.currentTimeMillis()`), while tests and the oracle-checked
  * registry query inject a deterministic batch clock, which is what lets a
  * LAG metric be hash-compared against DuckDB at all. State is a bounded
  * per-source ring (latest [[MaxBatches]] batches) plus running max —
  * the same shape as the reference's histogram-with-tags registry, driver
  * memory O(sources × MaxBatches).
  */
object IngestLag {

  /** One micro-batch's lag measurements for one ingest source. */
  final case class BatchLag(source: String, batchId: Long, rows: Long,
                            minEventMs: Long, maxEventMs: Long,
                            arrivalMs: Long, commitMs: Long,
                            lagSumMs: Long) {
    /** ref coordinatorLag: arrival − min sample ts (ActionFilter.java:101). */
    def coordinatorLagMs: Long = arrivalMs - minEventMs
    /** ref appendLag: queryable − min sample ts. */
    def appendLagMs: Long = commitMs - minEventMs
    /** Mean per-row arrival lag, floor-divided (exact integer both engines). */
    def avgLagMs: Long = if (rows == 0) 0L else lagSumMs / rows
  }

  /** Batches retained per source (newest kept) — bounds driver state the
    * way the reference bounds its pending-bulk tracking map. Overflow
    * increments the per-source dropped counter, the analogue of the
    * reference's `pendingDropped` metric ("pending bulk requests dropped
    * due to per-shard tracking map being full",
    * TSDBIngestionLagMetrics.java:28-29). The reference's third histogram,
    * refreshLag (new series discoverable after a Lucene REFRESH), has no
    * separate instant here: a parquet-sink batch is discoverable at
    * commit, so appendLag covers it — documented n/a rather than faked. */
  val MaxBatches = 256

  /** Distinct sources retained (FIFO-evicted beyond this) — needed since
    * metering went default-on in `Ingest.writer`: every ingest stream
    * records under source = tablePath, and a long-lived session writing to
    * per-run paths (the soak, per-test temp tables) would otherwise grow
    * the ledger map monotonically. */
  val MaxSources = 256

  private val reg =
    scala.collection.concurrent.TrieMap.empty[String, Vector[BatchLag]]
  private val droppedCtr =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  // least-recently-RECORDED source order (LinkedHashMap accessOrder): a
  // long-lived production stream keeps touching its entry and is never
  // the eviction victim — only sources that stopped recording age out
  // (dead per-run temp paths, exactly what the bound is for). Guarded by
  // its own lock: the admission sequence (touch → evict eldest) is
  // check-then-act and two streams' first batches may race.
  private val sourceLru =
    new java.util.LinkedHashMap[String, java.lang.Boolean](64, 0.75f, true)

  def record(b: BatchLag): Unit = {
    // the reg insert happens INSIDE the LRU lock: were it outside, a
    // concurrent eviction could remove this source between the LRU touch
    // and the reg write, re-inserting a reg entry the LRU no longer tracks
    // — an entry that then escapes the MaxSources bound until the source
    // happens to record again. reg stays a TrieMap so READERS never take
    // the lock; only the per-batch write path does (cheap: one batch per
    // trigger per stream).
    sourceLru.synchronized {
      sourceLru.put(b.source, java.lang.Boolean.TRUE) // touch: moves to tail
      val it = sourceLru.keySet.iterator
      while (sourceLru.size > MaxSources && it.hasNext) {
        val old = it.next() // eldest first; b.source was just touched to tail
        it.remove()
        reg.remove(old); droppedCtr.remove(old)
      }
      reg.updateWith(b.source) {
        case Some(v) =>
          if (v.size >= MaxBatches)
            droppedCtr.updateWith(b.source) {
              case Some(n) => Some(n + (v.size - MaxBatches + 1))
              case None    => Some((v.size - MaxBatches + 1).toLong)
            }
          Some((v :+ b).takeRight(MaxBatches))
        case None    => Some(Vector(b))
      }
    }
    ()
  }

  /** Ring-evicted batch count for one source (the `pendingDropped`
    * analogue); summaries (max lag, row totals) only cover retained
    * batches, and this counter says how many fell off. */
  def dropped(source: String): Long = droppedCtr.getOrElse(source, 0L)

  def batches(source: String): Vector[BatchLag] =
    reg.getOrElse(source, Vector.empty)

  def clear(source: String): Unit = sourceLru.synchronized {
    reg.remove(source); droppedCtr.remove(source)
    sourceLru.remove(source); ()
  }

  /** Wrap a per-batch sink with lag metering: computes the batch's
    * event-time extent and per-row lag sum (one aggregate over the
    * already-materialized micro-batch), runs the real sink, and records a
    * [[BatchLag]]. `tsCol` must be epoch millis. Clocks default to wall
    * time (production); inject deterministic ones for oracle replay.
    *
    * `batchKey` (optional) makes batch IDENTITY data-derived: a long-valued
    * column, constant within each micro-batch, whose value replaces the
    * streaming `batchId` in the ledger row AND as the argument to both
    * injected clocks. Without it, the ledger is keyed by the engine's batch
    * id, which for a file source is an ARRIVAL-ORDER artifact (listing
    * order, scheduler) — fine for wall-clock observability, but an oracle
    * replay that assumes "batch i == logical unit i" silently depends on
    * it. With `batchKey`, a replay is order-independent: however the
    * source interleaves the files, each batch self-identifies from its
    * rows. The key must be constant per batch (min==max enforced) —
    * the natural fit is a partitioning column the writer batched by. */
  def meteredSink(source: String, tsCol: String = graft.core.TsSchema.Ts,
                  arrivalClock: Long => Long = _ => System.currentTimeMillis(),
                  commitClock: Long => Long = _ => System.currentTimeMillis(),
                  batchKey: Option[org.apache.spark.sql.Column] = None)
                 (sink: (DataFrame, Long) => Unit)
                 : (DataFrame, Long) => Unit = { (df, batchId) =>
    // production path (no batchKey): stamp arrival at batch ENTRY, before
    // the stats aggregate spends time. With a batchKey the id isn't known
    // until the aggregate returns, so arrival is stamped immediately AFTER
    // it and — critically — BEFORE the real sink runs: coordinator lag may
    // carry the (small) aggregate cost but never the sink's write time,
    // which belongs only to appendLag.
    val entryArrival = if (batchKey.isEmpty) Some(arrivalClock(batchId)) else None
    // persist: the stats aggregate AND the real sink both consume the
    // micro-batch — without it the source plan (file read, parse) executes
    // twice per batch, inflating the very appendLag being metered
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keyAggs = batchKey.toSeq.flatMap(k =>
        Seq(min(k.cast("long")), max(k.cast("long")), count(k.cast("long"))))
      // Σt as decimal(38,0): raw epoch-millis sums overflow Long around
      // 5M rows/batch (1.7e12 each); the final lag sum is small again
      val stats = df.agg(count(lit(1)),
        (Seq(min(col(tsCol)), max(col(tsCol)),
          sum(col(tsCol).cast("decimal(38,0)")), count(col(tsCol))) ++
          keyAggs): _*)
        .collect()(0)
      val rows = stats.getLong(0)
      // a null event-time is invalid wire data, not a zero-lag row: the
      // lag-sum identity Σ(arrival − t) = n·arrival − Σt assumes every row
      // contributes a t, and min/max would NPE on an all-null batch. Fail
      // loudly BEFORE the sink commits, exactly like the batchKey checks.
      if (rows > 0) require(stats.getLong(4) == rows,
        s"event-time column '$tsCol' must be non-null for every row; " +
          s"batch $batchId has ${rows - stats.getLong(4)} null timestamps")
      // derive identity and stamp arrival BEFORE the sink commits: an
      // invalid batch (non-constant or null key) must fail before its side
      // effect, or a restart would re-append the rows and crash-loop
      val (id, arrival) =
        if (rows == 0) (batchId, 0L)
        else if (batchKey.isEmpty) (batchId, entryArrival.get)
        else {
          require(stats.getLong(7) == rows,
            s"batchKey must be non-null for every row; batch $batchId has " +
              s"${rows - stats.getLong(7)} null keys")
          val (lo, hi) = (stats.getLong(5), stats.getLong(6))
          require(lo == hi,
            s"batchKey must be constant within a micro-batch; batch $batchId spans [$lo, $hi]")
          (lo, arrivalClock(lo))
        }
      sink(df, batchId)
      if (rows > 0) {
        // Σ(arrival − t) = n·arrival − Σt, exact in decimal then narrowed
        val sumTs = stats.getDecimal(3)
        val lagSum = java.math.BigDecimal.valueOf(rows)
          .multiply(java.math.BigDecimal.valueOf(arrival))
          .subtract(sumTs).longValueExact()
        record(BatchLag(source, id, rows,
          stats.getLong(1), stats.getLong(2),
          arrival, commitClock(id), lagSum))
      }
    } finally df.unpersist(blocking = false)
  }

  /** Query-name prefix that marks a stream for listener metering. */
  private val StreamPrefix = "graft_ingest:"

  /** The query name that meters a stream under `source`:
    * [[graft.streaming.Ingest.writer]] names its query
    * `streamName(tablePath)`. Spark rejects a second ACTIVE query with the
    * same name, so a table has at most one ingest stream at a time. */
  def streamName(source: String): String = StreamPrefix + source

  /** Meters streaming queries from their progress events — the path for
    * sinks this module doesn't wrap, e.g. the production day-partitioned
    * parquet writer. Any query named `streamName(source)` is recorded under
    * `source`. Spark populates the progress `eventTime` stats only for
    * watermarked queries (the ingest path always is), and the per-row lag
    * sum falls out of the average: Σ(arrival − t) = n·(arrival − avg).
    * Arrival = trigger start; commit = trigger start + triggerExecution —
    * the same two instants the metered sink stamps. It holds no per-query
    * state, so one instance serves every session and a writer that never
    * starts leaves nothing behind. */
  private object LagListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val et = p.eventTime
      if (p.name != null && p.name.startsWith(StreamPrefix) &&
          p.numInputRows > 0 && et != null &&
          et.containsKey("min") && et.containsKey("avg")) {
        def ms(s: String): Long = java.time.Instant.parse(s).toEpochMilli
        val arrival = ms(p.timestamp)
        val commit = arrival +
          Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(0L)
        record(BatchLag(p.name.stripPrefix(StreamPrefix), p.batchId,
          p.numInputRows, ms(et.get("min")), ms(et.get("max")), arrival,
          commit, p.numInputRows * (arrival - ms(et.get("avg")))))
      }
    }
  }

  /** Installs the lag listener on `spark`'s streams once — one listener
    * per session, whatever the number of streams; later calls are no-ops.
    * [[graft.streaming.Ingest.writer]] calls it, so ingest streams are
    * metered by default. */
  def listen(spark: org.apache.spark.sql.SparkSession): Unit =
    LagListener.synchronized {
      if (!spark.streams.listListeners().contains(LagListener))
        spark.streams.addListener(LagListener)
    }

  import JsonEsc.esc

  /** `ingestionLag` stats JSON — the `/_tsdb/stats` companion section
    * (rendered alongside [[TsdbStats]]): per source the batch count, row
    * count, worst/last coordinator and append lag, and the latest batches'
    * detail. All longs, no floats to wobble. */
  def render(source: String): String = {
    val bs = batches(source)
    val detail = bs.takeRight(16).map(b =>
      s"""{"batchId":${b.batchId},"rows":${b.rows},""" +
        s""""coordinatorLagMs":${b.coordinatorLagMs},""" +
        s""""appendLagMs":${b.appendLagMs},"avgLagMs":${b.avgLagMs}}""")
      .mkString("[", ",", "]")
    val maxCoord = if (bs.isEmpty) 0L else bs.map(_.coordinatorLagMs).max
    val maxApp = if (bs.isEmpty) 0L else bs.map(_.appendLagMs).max
    val last = bs.lastOption
    s"""{"source":"${esc(source)}","numBatches":${bs.size},""" +
      s""""numRows":${bs.map(_.rows).sum},""" +
      s""""droppedBatches":${dropped(source)},""" +
      s""""maxCoordinatorLagMs":$maxCoord,"maxAppendLagMs":$maxApp,""" +
      s""""lastCoordinatorLagMs":${last.map(_.coordinatorLagMs).getOrElse(0L)},""" +
      s""""lastAppendLagMs":${last.map(_.appendLagMs).getOrElse(0L)},""" +
      s""""batches":$detail}"""
  }
}
