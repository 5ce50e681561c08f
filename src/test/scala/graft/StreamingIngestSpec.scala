package graft

import graft.core.TsSchema
import graft.streaming.Ingest
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end Structured Streaming ingest: json-lines → watermark+dedup →
  * day-partitioned parquet; then query the table back. */
class StreamingIngestSpec extends SparkTestBase {

  test("wire format parses to canonical samples") {
    import spark.implicits._
    val df = Seq(
      ("host a region x", 1704067200000L, 1.5),
      ("host b region x", 1704067260000L, 2.5))
      .toDF("labels", "timestamp", "value")
    val out = Ingest.parseWire(df).collect()
    assert(out.length == 2)
    val m = out.head.getMap[String, String](1)
    assert(m("host") == "a" && m("region") == "x")
  }

  test("ingestion lag meters a deliberately-late stream on the wall clock " +
       "and renders through the stats surface") {
    // the PRODUCTION clock path (System.currentTimeMillis defaults): events
    // stamped 5 minutes in the past must meter a coordinator lag >= that
    // floor, and the lag must be visible in the /_tsdb/stats render —
    // matching the reference's coordinatorLag histogram semantics
    // (action/TSDBIngestionLagActionFilter.java:101: now - minSampleTs)
    val dir = tempDir("lag").toString
    val src = s"$dir/src"; val tbl = s"$dir/tbl"; val ckp = s"$dir/ckp"
    new java.io.File(src).mkdirs()
    val now = System.currentTimeMillis()
    val late = now - 300000L // 5 min stale
    val lines = Seq(
      s"""{"labels":"host a","timestamp":$late,"value":1.0}""",
      s"""{"labels":"host b","timestamp":${late + 1000},"value":2.0}""")
    Files.write(java.nio.file.Paths.get(s"$src/batch1.json"),
      lines.mkString("\n").getBytes)
    val source = s"lag-test:$dir"
    val sink = graft.serve.IngestLag.meteredSink(source) {
      (df, _) => df.write.mode("append").parquet(tbl)
    }
    val q = Ingest.readJsonStream(spark, src)
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(); q.stop()

    val bs = graft.serve.IngestLag.batches(source)
    assert(bs.size == 1, s"expected one metered batch, got ${bs.size}")
    val b = bs.head
    assert(b.rows == 2)
    assert(b.minEventMs == late && b.maxEventMs == late + 1000)
    assert(b.coordinatorLagMs >= 300000L,
      s"coordinator lag ${b.coordinatorLagMs} below the 5-min staleness floor")
    assert(b.appendLagMs >= b.coordinatorLagMs,
      "append (queryable) lag can never undercut coordinator lag")
    assert(b.avgLagMs >= 299500L && b.avgLagMs <= b.coordinatorLagMs)

    // surfaced through the stats render, next to the cardinality sections
    val stats = graft.serve.TsdbStats.renderGroupedWithLag(
      spark.read.parquet(tbl), source)
    assert(stats.contains("\"ingestionLag\""), stats.take(200))
    assert(stats.contains("\"maxCoordinatorLagMs\""))
    assert(stats.contains(s""""numBatches":1"""))
    assert(stats.contains("\"headStats\""), "lag section must join, not replace")
    graft.serve.IngestLag.clear(source)
  }

  test("listener-based lag metering covers the production parquet-writer path") {
    // the real Ingest.writer sink (day-partitioned parquet, watermark set)
    // metered WITHOUT wrapping it: the progress-event listener derives the
    // same three instants the metered sink stamps
    val dir = tempDir("lagl").toString
    val src = s"$dir/src"; val tbl = s"$dir/tbl"; val ckp = s"$dir/ckp"
    new java.io.File(src).mkdirs()
    val late = System.currentTimeMillis() - 300000L
    Files.write(java.nio.file.Paths.get(s"$src/batch1.json"),
      Seq(
        s"""{"labels":"host a","timestamp":$late,"value":1.0}""",
        s"""{"labels":"host b","timestamp":${late + 2000},"value":2.0}""")
        .mkString("\n").getBytes)
    val source = s"lag-listener:$dir"
    try {
      val q = Ingest.writer(
          Ingest.withIngestSemantics(Ingest.readJsonStream(spark, src), 60000L),
          tbl, ckp)
        .queryName(graft.serve.IngestLag.streamName(source))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(); q.stop()
      // listener events are delivered async — poll briefly
      val deadline = System.currentTimeMillis() + 15000
      while (graft.serve.IngestLag.batches(source).isEmpty &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      val bs = graft.serve.IngestLag.batches(source)
      assert(bs.nonEmpty, "listener recorded no batches")
      val b = bs.head
      assert(b.rows == 2)
      assert(b.minEventMs == late && b.maxEventMs == late + 2000)
      assert(b.coordinatorLagMs >= 300000L,
        s"coordinator lag ${b.coordinatorLagMs} below the staleness floor")
      assert(b.appendLagMs >= b.coordinatorLagMs)
      // avg from Σ(arrival − t) = n·(arrival − avg): between the extremes
      assert(b.avgLagMs >= b.coordinatorLagMs - 2000 &&
             b.avgLagMs <= b.coordinatorLagMs)
    } finally graft.serve.IngestLag.clear(source)
  }

  test("listener-derived lag equals metered-sink lag on the SAME stream " +
       "within trigger skew") {
    // r12 verdict item 7: the metered sink is oracle-checked, but the
    // default-on LISTENER path derives its lag from progress-event
    // eventTime stats (n·(arrival − avg)) — arithmetic DuckDB can never
    // face because progress timestamps are wall time. Parity with the
    // metered sink ON ONE STREAM is the strongest available check: one
    // query, one micro-batch, metered simultaneously both ways. Exact
    // equality holds for rows and event extents; the lag columns differ
    // only by (a) the instants sampled (trigger start vs batch entry —
    // both inside the same trigger, so bounded by its wall time) and
    // (b) ±1ms rounding in the progress avg.
    val dir = tempDir("lagp").toString
    val src = s"$dir/src"; val tbl = s"$dir/tbl"; val ckp = s"$dir/ckp"
    new java.io.File(src).mkdirs()
    val late = System.currentTimeMillis() - 300000L
    Files.write(java.nio.file.Paths.get(s"$src/b1.json"),
      Seq(
        s"""{"labels":"host a","timestamp":$late,"value":1.0}""",
        s"""{"labels":"host b","timestamp":${late + 2000},"value":2.0}""",
        s"""{"labels":"host c","timestamp":${late + 7000},"value":3.0}""")
        .mkString("\n").getBytes)
    val sinkSrc = s"parity-sink:$dir"; val lisSrc = s"parity-listener:$dir"
    graft.serve.IngestLag.listen(spark)
    try {
      val sink = graft.serve.IngestLag.meteredSink(sinkSrc) {
        (df, _) => df.write.mode("append").parquet(tbl)
      }
      // watermark via the ingest path so the progress event carries
      // eventTime stats; foreachBatch drops the day/grouping like prod
      val wallStart = System.currentTimeMillis()
      val q = Ingest.withIngestSemantics(
          Ingest.readJsonStream(spark, src), 60000L)
        .drop("day")
        .writeStream.queryName(graft.serve.IngestLag.streamName(lisSrc))
        .foreachBatch(sink)
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(); q.stop()
      val drainWallMs = System.currentTimeMillis() - wallStart
      val deadline = System.currentTimeMillis() + 15000
      while (graft.serve.IngestLag.batches(lisSrc).isEmpty &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      val sb = graft.serve.IngestLag.batches(sinkSrc)
      val lb = graft.serve.IngestLag.batches(lisSrc)
      assert(sb.size == 1 && lb.size == 1,
        s"both channels must meter the one batch: sink=${sb.size} listener=${lb.size}")
      val (s0, l0) = (sb.head, lb.head)
      assert(l0.rows == s0.rows, "row counts must agree exactly")
      assert(l0.minEventMs == s0.minEventMs && l0.maxEventMs == s0.maxEventMs,
        "event-time extents must agree exactly")
      // instants: trigger start (listener) precedes batch entry (sink),
      // both inside the one drain — bound the skew by the WALL time around
      // start→awaitTermination, not the recorded trigger durations: on a
      // loaded host the listener instants drift past any bound derived
      // from durationMs (scheduler stalls land between the samples but
      // outside the recorded trigger work), making a correct channel look
      // flaky
      val skew = math.max(2000L, drainWallMs)
      def close(a: Long, b: Long, what: String): Unit =
        assert(math.abs(a - b) <= skew + 2,
          s"$what diverges beyond trigger skew: listener=$a sink=$b (skew bound $skew)")
      close(l0.coordinatorLagMs, s0.coordinatorLagMs, "coordinatorLag")
      close(l0.appendLagMs, s0.appendLagMs, "appendLag")
      close(l0.avgLagMs, s0.avgLagMs, "avgLag")
      // structural floor both channels must clear: the staleness injected
      assert(l0.coordinatorLagMs >= 293000L && s0.coordinatorLagMs >= 293000L)
    } finally {
      graft.serve.IngestLag.clear(sinkSrc); graft.serve.IngestLag.clear(lisSrc)
    }
  }

  test("ingest lag meters by default — no explicit attach — and the " +
       "listener count is unchanged across streams") {
    // r11 verdict item 3: Ingest.writer users must get the ingestionLag
    // stats section populated without any opt-in; the session's one lag
    // listener must also not accumulate with the streams it meters
    val dir = tempDir("laga").toString
    val src = s"$dir/src"; val tbl = s"$dir/tbl"; val ckp = s"$dir/ckp"
    new java.io.File(src).mkdirs()
    val late = System.currentTimeMillis() - 300000L
    Files.write(java.nio.file.Paths.get(s"$src/b1.json"),
      Seq(
        s"""{"labels":"host a","timestamp":$late,"value":1.0}""",
        s"""{"labels":"host b","timestamp":${late + 2000},"value":2.0}""")
        .mkString("\n").getBytes)
    val tbl2 = s"$dir/tbl2"
    Ingest.runOnce(spark, src, tbl, ckp)   // plain production entry point
    val listeners = spark.streams.listListeners().length
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (graft.serve.IngestLag.batches(tbl).isEmpty &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      val bs = graft.serve.IngestLag.batches(tbl)
      assert(bs.nonEmpty, "default-on metering recorded no batches")
      assert(bs.head.rows == 2)
      assert(bs.head.coordinatorLagMs >= 300000L)
      // a second stream reuses the session's listener
      Ingest.runOnce(spark, src, tbl2, s"$dir/ckp2")
      assert(spark.streams.listListeners().length == listeners,
        "a further ingest stream must not add a listener to the session")
    } finally Seq(tbl, tbl2).foreach(graft.serve.IngestLag.clear)
  }

  test("Ingest.drain runs a stream to completion at its own state shuffle " +
       "and leaves the session conf unchanged") {
    val src = tempDir("drain").toString + "/src"
    new java.io.File(src).mkdirs()
    // two files => two data batches under maxFilesPerTrigger=1; key 2 in
    // both, so its count must carry across the triggers in state
    Seq("a.json" -> Seq(1, 2, 3), "b.json" -> Seq(2, 4)).foreach { case (f, ks) =>
      Files.write(java.nio.file.Paths.get(s"$src/$f"),
        ks.map(k => s"""{"k":$k}""").mkString("\n").getBytes)
    }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val counts = spark.readStream.option("maxFilesPerTrigger", 1)
      .schema("k BIGINT").json(src).groupBy("k").count()
    val q = Ingest.drain(spark, counts.writeStream.format("memory")
      .queryName("drainz").outputMode("update"), stateParts = 3)
    assert(!q.isActive)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    val data = q.recentProgress.filter(_.numInputRows > 0)
    assert(data.length == 2, s"data batches: ${data.length}")
    assert(q.lastProgress.stateOperators.head.numShufflePartitions == 3)
    val got = spark.table("drainz").groupBy("k").agg(max("count"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("a second active writer to one table fails at start by name; " +
       "a restart after stop still starts") {
    // the query name is derived from the table, so two live streams can
    // never share one table's _spark_metadata log
    val dir = tempDir("dupw").toString
    val src = s"$dir/src"; val tbl = s"$dir/tbl"
    new java.io.File(src).mkdirs()
    Files.write(java.nio.file.Paths.get(s"$src/b1.json"),
      """{"labels":"host a","timestamp":1704067200000,"value":1.0}""".getBytes)
    def writer(ckp: String) = Ingest.writer(
      Ingest.withIngestSemantics(Ingest.readJsonStream(spark, src), 60000L),
      tbl, ckp)
    val first = writer(s"$dir/ckp1").start()
    try {
      val e = intercept[IllegalArgumentException](writer(s"$dir/ckp2").start())
      assert(e.getMessage.contains(
        s"Cannot start query with name ${graft.serve.IngestLag.streamName(tbl)}"), e.getMessage)
      assert(e.getMessage.contains("already active"), e.getMessage)
      first.processAllAvailable()
    } finally first.stop()
    val again = writer(s"$dir/ckp1").start()
    try again.processAllAvailable() finally again.stop()
    assert(spark.read.parquet(tbl).count() == 1)
    graft.serve.IngestLag.clear(tbl)
  }

  test("streaming ingest writes day-partitioned parquet with dedup") {
    val dir = tempDir("ingest").toString
    val src = s"$dir/src"; val tbl = s"$dir/tbl"; val ckp = s"$dir/ckp"
    new java.io.File(src).mkdirs()
    val lines = Seq(
      """{"labels":"host a","timestamp":1704067200000,"value":1.0}""",
      """{"labels":"host a","timestamp":1704067200000,"value":1.0}""",   // dup
      """{"labels":"host a","timestamp":1704153600000,"value":2.0}""",   // next day
      """{"labels":"host b","timestamp":1704067200000,"value":3.0}""")
    Files.write(java.nio.file.Paths.get(s"$src/batch1.json"),
      lines.mkString("\n").getBytes)

    val q = Ingest.start(spark, src, tbl, ckp, oooToleranceMs = 60000L)
    q.processAllAvailable()
    q.stop()

    val back = spark.read.parquet(tbl)
    assert(back.count() == 3, "duplicate sample within watermark must be dropped")
    // partition column materialized per day
    val days = back.select(date_format(col("day"), "yyyy-MM-dd"))
      .distinct().collect().map(_.getString(0)).sorted
    assert(days.toSeq == Seq("2024-01-01", "2024-01-02"))
    // canonical columns round-trip
    assert(back.columns.toSet ==
      Set(TsSchema.SeriesId, TsSchema.LabelsCol, TsSchema.Ts, TsSchema.Value, "day"))
  }

  test("ingest restart from checkpoint: no replays, no loss, cross-run dedup semantics") {
    // the fault-tolerance contract of the sink: stop after batch 1, restart
    // from the SAME checkpoint with new files — the result equals a single
    // uninterrupted run over all files (committed batches never re-emit;
    // watermark state survives the restart)
    def ingestInTwoRuns(dir: String): Long = {
      val src = s"$dir/src"; val tbl = s"$dir/tbl"; val ckp = s"$dir/ckp"
      new java.io.File(src).mkdirs()
      Files.write(java.nio.file.Paths.get(s"$src/b1.json"), Seq(
        """{"labels":"host a","timestamp":1704067200000,"value":1.0}""",
        """{"labels":"host b","timestamp":1704067260000,"value":2.0}""")
        .mkString("\n").getBytes)
      Ingest.runOnce(spark, src, tbl, ckp)
      val afterFirst = spark.read.parquet(tbl).count()
      assert(afterFirst == 2)
      Files.write(java.nio.file.Paths.get(s"$src/b2.json"), Seq(
        // exact replay of an already-committed sample: a NEW batch after
        // restart — the FIRST-dedup state is watermark-scoped, so this is
        // the documented cross-batch semantics (late duplicate admitted
        // only if inside the tolerance; here it is, and first-wins applies
        // within the restarted run's state)
        """{"labels":"host c","timestamp":1704067320000,"value":3.0}""",
        """{"labels":"host c","timestamp":1704067320000,"value":4.0}""")
        .mkString("\n").getBytes)
      Ingest.runOnce(spark, src, tbl, ckp)
      spark.read.parquet(tbl).count()
    }
    val dir = tempDir("restart").toString
    val n = ingestInTwoRuns(dir)
    // run 1 committed 2 rows; run 2 must process ONLY b2 (b1 is in the
    // checkpoint's committed offsets) and dedup its internal duplicate:
    // 2 + 1 = 3 — a replay of b1 would give 5, losing b2 would give 2
    assert(n == 3, s"restart must resume exactly after the committed batch, got $n")
  }

  test("streaming rollup aggregates tumbling windows") {
    val dir = tempDir("sumz").toString
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    val lines = (0 until 10).map { i =>
      s"""{"labels":"host a","timestamp":${1704067200000L + i * 60000L},"value":$i.0}"""
    }
    Files.write(java.nio.file.Paths.get(s"$src/b.json"), lines.mkString("\n").getBytes)
    val agg = graft.streaming.Rollup.streamingRollup(
      Ingest.readJsonStream(spark, src), bucketMs = 300000L, lateMs = 60000L)
    val q = agg.writeStream.format("memory").queryName("sumz")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sumz").collect()
    assert(rows.length == 2)   // 10 minutes / 5-minute windows
    val ns = rows.map(_.getAs[Long]("rcount")).sorted.toSeq
    assert(ns == Seq(5L, 5L))
    assert(rows.map(_.getAs[Long]("bucket_ts")).sorted.toSeq ==
      Seq(1704067200000L, 1704067500000L))
  }

  test("streaming sessionize merges events within the gap and splits across it") {
    val dir = tempDir("sess").toString
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    val t0 = 1704067200000L
    // three events 1min apart (one session), a 10-min silence, two more
    // events (second session); gap = 5min
    val lines = Seq(0L, 60000L, 120000L, 720000L, 780000L).zipWithIndex.map {
      case (off, i) =>
        s"""{"labels":"host a","timestamp":${t0 + off},"value":$i.0}"""
    }
    Files.write(java.nio.file.Paths.get(s"$src/b.json"), lines.mkString("\n").getBytes)
    val sess = Ingest.streamingSessionize(
      Ingest.readJsonStream(spark, src), gapMs = 300000L, lateMs = 60000L)
    val q = sess.writeStream.format("memory").queryName("sessz")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sessz").collect()
      .map(r => (r.getAs[Long]("session_start"), r.getAs[Long]("session_end"),
        r.getAs[Long]("n"))).sortBy(_._1).toSeq
    assert(rows == Seq(
      (t0, t0 + 120000L + 300000L, 3L),
      (t0 + 720000L, t0 + 780000L + 300000L, 2L)))
  }

  test("streaming exact dedup drops later copies across micro-batch files") {
    val dir = tempDir("sdedup").toString
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    val t0 = 1704067200000L
    // file a: two docs, one internal duplicate pair (ids 0/1 same text);
    // file b: a cross-file duplicate of id 0's text plus one fresh doc —
    // within the 60s watermark, so state must drop it
    Files.write(java.nio.file.Paths.get(s"$src/a.json"), Seq(
      s"""{"doc_id":0,"text":"same text here","ingest_ts":$t0}""",
      s"""{"doc_id":1,"text":"same text here","ingest_ts":${t0 + 10}}""",
      s"""{"doc_id":2,"text":"other text","ingest_ts":${t0 + 20}}""")
      .mkString("\n").getBytes)
    Files.write(java.nio.file.Paths.get(s"$src/b.json"), Seq(
      s"""{"doc_id":3,"text":"same text here","ingest_ts":${t0 + 1000}}""",
      s"""{"doc_id":4,"text":"fresh text","ingest_ts":${t0 + 2000}}""")
      .mkString("\n").getBytes)
    val stream = spark.readStream
      .option("maxFilesPerTrigger", 1)   // force a:then:b micro-batches
      .schema("doc_id BIGINT, text STRING, ingest_ts BIGINT").json(src)
    val out = graft.pipelines.Dedup.streamingExactDedup(stream, lateMs = 60000L)
    val q = out.writeStream.format("memory").queryName("sdedupz")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val texts = spark.table("sdedupz").select("text")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(texts == Seq("fresh text", "other text", "same text here"))
    // batch mode degenerates to a plain content dropDuplicates
    val batch = graft.pipelines.Dedup.streamingExactDedup(
      spark.read.schema("doc_id BIGINT, text STRING, ingest_ts BIGINT").json(src),
      lateMs = 60000L)
    assert(batch.select("text").collect().map(_.getString(0)).sorted.toSeq == texts)
  }

  test("streaming sessionize equals the batch sessionizer at a second gap") {
    // same session_window expression, two execution modes, gap = 2m (a
    // SECOND parameter beside the 5m case above, chosen so the split points
    // differ). An event arriving EXACTLY at a session's end (delta == gap)
    // MERGES: Spark merges touching sessions — empirically pinned here,
    // because the DuckDB oracle mirror must break on `delta > gap`, not
    // `>=`. Streaming state-merged sessions must equal the batch run row
    // for row.
    val dir = tempDir("sess2").toString
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    val t0 = 1704067200000L
    // 0,1m,2m (one session) | 3m silence | 5m,6m,8m (the exactly-2m gap
    // between 6m and 8m merges — touching sessions)
    val offs = Seq(0L, 60000L, 120000L, 300000L, 360000L, 480000L)
    val lines = offs.zipWithIndex.map { case (off, i) =>
      s"""{"labels":"host a","timestamp":${t0 + off},"value":$i.0}"""
    }
    Files.write(java.nio.file.Paths.get(s"$src/b.json"), lines.mkString("\n").getBytes)
    val sess = Ingest.streamingSessionize(
      Ingest.readJsonStream(spark, src), gapMs = 120000L, lateMs = 60000L)
    val q = sess.writeStream.format("memory").queryName("sessz2")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("session_start"), r.getAs[Long]("session_end"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).sortBy(_._1).toSeq
    val streamed = rows(spark.table("sessz2"))
    val batch = rows(Ingest.streamingSessionize(
      Ingest.parseWire(spark.read.schema(Ingest.wireSchema).json(src)),
      gapMs = 120000L, lateMs = 60000L))
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed == Seq(
      (t0, t0 + 240000L, 3L, 3.0),
      (t0 + 300000L, t0 + 600000L, 3L, 12.0)))
  }

  test("streaming range join pairs two live streams within [t-w, t]") {
    val dir = tempDir("ssjoin").toString
    val (lsrc, rsrc) = (s"$dir/l", s"$dir/r")
    new java.io.File(lsrc).mkdirs(); new java.io.File(rsrc).mkdirs()
    val t0 = 1704067200000L
    // left purchases at +10m and +40m; right clicks at +2m, +35m, +50m;
    // w=15m → purchase@10m pairs with click@2m, purchase@40m with click@35m
    // (click@50m is in the future for both)
    Files.write(java.nio.file.Paths.get(s"$lsrc/a.json"), Seq(
      s"""{"k":"u1","ts":${t0 + 600000},"tag":"p1"}""",
      s"""{"k":"u1","ts":${t0 + 2400000},"tag":"p2"}""").mkString("\n").getBytes)
    Files.write(java.nio.file.Paths.get(s"$rsrc/b.json"), Seq(
      s"""{"k":"u1","ts":${t0 + 120000},"v":1.0}""",
      s"""{"k":"u1","ts":${t0 + 2100000},"v":2.0}""",
      s"""{"k":"u1","ts":${t0 + 3000000},"v":3.0}""").mkString("\n").getBytes)
    import org.apache.spark.sql.types._
    val lSchema = StructType(Seq(StructField("k", StringType), StructField("ts", LongType),
      StructField("tag", StringType)))
    val rSchema = StructType(Seq(StructField("k", StringType), StructField("ts", LongType),
      StructField("v", DoubleType)))
    val joined = graft.stages.TimeJoins.streamingRangeJoin(
      spark.readStream.schema(lSchema).json(lsrc),
      spark.readStream.schema(rSchema).json(rsrc),
      keys = Seq("k"), windowMs = 900000L, lateMs = 60000L)
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssjoin")
      .select("k", "tag", "r_v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sortBy(_._2).toSeq
    assert(rows == Seq(("u1", "p1", 1.0), ("u1", "p2", 2.0)))
  }

  test("retention sweep drops old day partitions") {
    val dir = tempDir("ret").toString
    import spark.implicits._
    Seq((1L, "2023-01-01 00:00:00"), (2L, "2024-01-01 00:00:00"))
      .toDF("x", "day_s")
      .withColumn("day", col("day_s").cast("timestamp"))
      .write.partitionBy("day").parquet(s"$dir/tbl")
    val dropped = Ingest.retentionSweep(spark, s"$dir/tbl", keepDays = 30,
      nowMs = 1704067200000L)
    assert(dropped.length == 1 && dropped.head.contains("2023"))
    assert(spark.read.parquet(s"$dir/tbl").count() == 1)
  }

  test("compaction sweep rewrites fragmented day partitions losslessly") {
    val dir = tempDir("cmp").toString
    import spark.implicits._
    // 12 files in one day partition (micro-batch accretion), 1 in the other
    (1L to 120L).map(i => (i, "2024-01-01 00:00:00")).toDF("x", "day_s")
      .withColumn("day", col("day_s").cast("timestamp"))
      .repartition(12)
      .write.partitionBy("day").parquet(s"$dir/tbl")
    Seq((999L, "2024-01-02 00:00:00")).toDF("x", "day_s")
      .withColumn("day", col("day_s").cast("timestamp"))
      .write.mode("append").partitionBy("day").parquet(s"$dir/tbl")
    val before = spark.read.parquet(s"$dir/tbl").select("x").collect().map(_.getLong(0)).sorted
    val rewritten = Ingest.compactionSweep(spark, s"$dir/tbl", maxFiles = 4)
    assert(rewritten.length == 1 && rewritten.head.contains("2024-01-01"),
      s"only the fragmented partition rewrites: $rewritten")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/tbl"))
      .filter(_.getPath.getName.startsWith("day="))
    val fileCounts = parts.map(p =>
      fs.listStatus(p.getPath).count(_.getPath.getName.endsWith(".parquet")))
    assert(fileCounts.forall(_ <= 4), s"file counts after compaction: ${fileCounts.toSeq}")
    val after = spark.read.parquet(s"$dir/tbl").select("x").collect().map(_.getLong(0)).sorted
    assert(after.toSeq == before.toSeq, "compaction must be lossless")
    // the partition was live through the whole swap: no pending marker left,
    // and a reader listing NOW sees exactly the committed file set
    val p2024 = parts.find(_.getPath.getName.contains("2024-01-01")).get.getPath
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p2024, ".compact-pending")))
  }

  test("compaction recovery rolls a died-mid-delete swap forward") {
    val dir = tempDir("cmp_fwd").toString
    import spark.implicits._
    (1L to 60L).map(i => (i, "2024-01-01 00:00:00")).toDF("x", "day_s")
      .withColumn("day", col("day_s").cast("timestamp"))
      .repartition(6)
      .write.partitionBy("day").parquet(s"$dir/tbl")
    val base = new org.apache.hadoop.fs.Path(s"$dir/tbl")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(base).map(_.getPath).find(_.getName.startsWith("day=")).get
    // simulate a run that moved its new files in and wrote the marker, then
    // died BEFORE deleting the old files: duplicate "compacted" copy + marker
    val olds = fs.listStatus(part).map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
    spark.read.parquet(part.toString).repartition(1)
      .write.parquet(s"$dir/stage")
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/stage"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
    val newName = "compacted-deadrun-00000.parquet"
    assert(fs.rename(staged.head, new org.apache.hadoop.fs.Path(part, newName)))
    // a streaming trigger file that landed AFTER the dead run snapshotted
    // its olds: named in neither marker list → recovery must not touch it
    val concurrent = new org.apache.hadoop.fs.Path(part, "part-concurrent.parquet")
    spark.read.parquet(part.toString).limit(0)
      .write.parquet(s"$dir/stage2")
    val staged2 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/stage2"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
    assert(fs.rename(staged2.head, concurrent))
    val out = fs.create(new org.apache.hadoop.fs.Path(part, ".compact-pending"), true)
    out.write((Seq("+" + newName) ++ olds.map("-" + _.getName))
      .mkString("\n").getBytes("UTF-8")); out.close()
    // next sweep rolls forward: old files deleted, rows present exactly once
    Ingest.compactionSweep(spark, s"$dir/tbl", maxFiles = 100)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(part, ".compact-pending")))
    val names = fs.listStatus(part).map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq
    assert(names.sorted == Seq(newName, "part-concurrent.parquet").sorted,
      s"roll-forward keeps the new set and the concurrent-ingest file: $names")
    assert(spark.read.parquet(s"$dir/tbl").count() == 60L)
    assert(olds.forall(!fs.exists(_)))
  }

  test("compaction recovery rolls a died-mid-move swap back") {
    val dir = tempDir("cmp_back").toString
    import spark.implicits._
    (1L to 60L).map(i => (i, "2024-01-01 00:00:00")).toDF("x", "day_s")
      .withColumn("day", col("day_s").cast("timestamp"))
      .repartition(6)
      .write.partitionBy("day").parquet(s"$dir/tbl")
    val base = new org.apache.hadoop.fs.Path(s"$dir/tbl")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(base).map(_.getPath).find(_.getName.startsWith("day=")).get
    // simulate a run that committed a 2-file marker but moved only ONE new
    // file in before dying: the old set is still complete → roll back
    val bogus = new org.apache.hadoop.fs.Path(part, "compacted-deadrun-00000.parquet")
    val bo = fs.create(bogus, true); bo.write(Array[Byte](0, 1, 2)); bo.close()
    val mk = fs.create(new org.apache.hadoop.fs.Path(part, ".compact-pending"), true)
    mk.write("+compacted-deadrun-00000.parquet\n+compacted-deadrun-00001.parquet"
      .getBytes("UTF-8")); mk.close()
    Ingest.compactionSweep(spark, s"$dir/tbl", maxFiles = 100)
    assert(!fs.exists(bogus), "partial new files must be rolled back")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(part, ".compact-pending")))
    assert(spark.read.parquet(s"$dir/tbl").count() == 60L, "old set intact after rollback")
  }
}
