package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-scale soak: generate a deterministic documents/embeddings set N×
  * the sf0.1 bench size (same schemas as /root/testdata — 5000·N docs,
  * 2000·N 64-dim vectors), write it to parquet, and run one representative
  * query per dedup/ANN/retrieval family against the parquet — the first
  * direct wall-clock datapoint for the 100 TB posture claims beyond plan
  * shape. Results (wall seconds, output rows, storage gauge after each op)
  * print as a markdown table for OPERATORS.md.
  *
  * Generation is pure column expressions over `spark.range` (distributed,
  * no driver loop, no randomness — xxhash64 of the row id seeds tokens):
  * every 20th document is an exact duplicate of its predecessor and every
  * 20th-minus-3 a near-duplicate (suffix appended), so dedup output sizes
  * scale predictably with N. Embeddings are the sin(id·k) family the specs
  * use. Usage: `runMain graft.tools.Soak [mult] [workDir]` (default 10).
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val work = if (args.length > 1) args(1) else "/tmp/graft_soak"
    val spark = graft.core.Session()

    val nDocs = 5000L * mult
    val nVecs = 2000L * mult
    val gen0 = System.nanoTime()
    val docs0 = spark.range(nDocs).toDF("doc_id")
      .withColumn("base_id",
        when(col("doc_id") % 20 === 19, col("doc_id") - 1)       // exact dup
          .when(col("doc_id") % 20 === 17, col("doc_id") - 1)    // near dup
          .otherwise(col("doc_id")))
      .withColumn("_len",
        (pmod(xxhash64(lit("len"), col("base_id")), lit(120)) + 40).cast("int"))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), col("_len")),
          j => concat(lit("w"),
            pmod(xxhash64(lit("tok"), col("base_id") * 131 + j.cast("long")),
              lit(2000))))))
      .withColumn("text",
        when(col("doc_id") % 20 === 17,
          concat(col("text"), lit(" novel tail marker sequence")))
          .otherwise(col("text")))
      .withColumn("lang", lit("en"))
      .withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(5))))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    val emb0 = spark.range(nVecs).toDF("vec_id")
      .withColumn("embedding", transform(sequence(lit(0), lit(63)),
        k => sin((col("vec_id") * 7 + k) * lit(0.37)).cast("float")))
      .withColumn("label", pmod(col("vec_id"), lit(8)).cast("int"))
    docs0.write.mode("overwrite").parquet(s"$work/documents.parquet")
    emb0.write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    val genSecs = (System.nanoTime() - gen0) / 1e9

    val docs = spark.read.parquet(s"$work/documents.parquet")
    val emb = spark.read.parquet(s"$work/embeddings.parquet")
    val probeIds = Seq(1L, 7L, 21L, 42L, 99L, 123L, 500L, 777L,
      1001L, 1500L, 1999L, 2500L, 5000L, 7777L, 11111L, 19999L)
      .filter(_ < nVecs)

    def f2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    println(s"| scale | docs | vectors | generate (s) |")
    println(s"|---|---|---|---|")
    println(s"| ${mult}x sf0.1 | $nDocs | $nVecs | ${f2(genSecs)} |")
    println()
    println("| operator | output rows | wall (s) | storage after (MB) |")
    println("|---|---|---|---|")
    def op(name: String)(build: => DataFrame): Unit = {
      graft.core.Memo.clearSession(spark)
      val t0 = System.nanoTime()
      val rows = build.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val (sm, _, _) = graft.core.MetricsTap.storageGauge(spark)
      println(s"| $name | $rows | ${f2(secs)} | ${f2(sm / 1e6)} |")
      // RDD-level leftovers (e.g. a returned localCheckpoint the op dropped
      // by reference) are no memo entries and would otherwise wait for a JVM
      // GC — at 100x that standing set is real heap the next op needs
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    op("exact dedup (full text key)") {
      graft.pipelines.Dedup.exact(docs, Seq("text"))
    }
    op("MinHash+LSH pairs (n=3, 32 hashes, 8 bands, τ=0.7)") {
      graft.pipelines.Dedup.minhashLshPairs(docs, 3, 32, 8, 0.7)
    }
    op("winnowing pairs (k=4, w=4)") {
      graft.pipelines.Dedup.winnowingPairs(docs, 4, 4)
    }
    op("novelty gate (2nd half vs 1st half, n=3)") {
      graft.pipelines.Dedup.noveltyScores(
        docs.where(col("doc_id") < nDocs / 2),
        docs.where(col("doc_id") >= nDocs / 2), 3)
    }
    op(s"PQ batched ANN (${probeIds.size} probes, k=10)") {
      graft.pipelines.Pq.pqTopK(emb, probeIds, 10)
    }
    op(s"IVF batched ANN (${probeIds.size} probes, k=10)") {
      graft.pipelines.Similarity.ivfTopK(emb, probeIds, 10)
    }
    op("BM25 top-10 (ad-hoc, doc 42 as query)") {
      graft.pipelines.Retrieval.bm25TopK(docs, 42L, 10)
    }
    // the CC worst case — one path component as long as the corpus: the
    // local union-find contraction must keep the distributed loop at
    // O(log partition-crossings) rounds regardless of mult (per-round
    // logs go to stderr), where the uncontracted loop would need
    // log4(5000·mult) synchronized shuffle rounds
    spark.conf.set("graft.clusterPairs.log", "true")
    op(s"connected components (single ${nDocs}-link path)") {
      val chain = spark.range(nDocs).toDF("doc_id_a")
        .withColumn("doc_id_b", col("doc_id_a") + 1L)
      graft.pipelines.Dedup.clusterPairs(chain)
    }
    println(s"|   └ loop rounds | ${graft.pipelines.Dedup.lastLoopRounds} | | |")
    // HOSTILE partitioning (r11 verdict item 5): the same path scattered so
    // every edge is a partition crossing — an EXPLICIT partitioner pins
    // edge (i, i+1) to partition i mod n (a repartition by pmod would
    // re-hash the residue and collisions would co-locate some adjacent
    // edges), so the local union-find collapses nothing and the boundary
    // graph is the full chain. The pin: cost degrades to the PLAIN
    // pointer-doubling bound, never worse — contraction only removes rounds.
    op(s"connected components (same path, hostile scatter — every edge crosses)") {
      val base = spark.range(nDocs).toDF("doc_id_a")
        .withColumn("doc_id_b", col("doc_id_a") + 1L)
      graft.pipelines.Dedup.clusterPairs(
        graft.core.Dist.scatterByMod(base, spark.sparkContext.defaultParallelism))
    }
    println(s"|   └ loop rounds | ${graft.pipelines.Dedup.lastLoopRounds} | | |")
    // the restated memory claim (24–49 B/node at capacity) as a MEASURED
    // row: the per-task union-find table footprint for a component of this
    // scale row's node count (r12 verdict item 6)
    locally {
      val (bytes, nodes, perNode) =
        graft.pipelines.Dedup.unionFindMemory(nDocs.toInt)
      println(f"|   └ union-find table | $bytes B @ $nodes nodes | $perNode%.1f B/node | claim 24-49 |")
    }
    spark.conf.unset("graft.clusterPairs.log")

    // ---- series family at the reference's own JMH envelopes ---------------
    // BASELINE.md design targets: HeadAppendBenchmark appends against 1M
    // UNIQUE series; MovingStageBenchmark windows 1000 series × 7200 samples
    // (10s step, 2h moving window). The cardinality axis scales with mult
    // (10k·mult series → 1M at mult=100); the window envelope scales its
    // series count (100·mult → the exact JMH shape at mult=10).
    import graft.core.{QueryGrid, TsSchema}
    val S = TsSchema
    val base = 1700000000000L

    val nSeries = 10000L * mult
    val ingestStage = s"$work/series_src"
    val ingestTable = s"$work/series_table"
    // a re-run in the same workDir must not resume the old checkpoint over
    // freshly-named stage files (it would APPEND the new rows onto the old
    // table and report a double-counted ingest): start the op from zero
    Seq(ingestTable, s"$work/series_ckpt").foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    }
    val ingestRows = spark.range(nSeries).toDF("sid")
      .crossJoin(spark.range(4).toDF("k"))
      .select(
        map(lit("name"), lit("cpu"),
          lit("host"), concat(lit("h"), col("sid"))).as(S.LabelsCol),
        (lit(base) + col("k") * 10000L + (col("sid") % 60) * 1000L).as(S.Ts),
        (col("sid") % 97).cast("double").as(S.Value))
      .transform(TsSchema.relabel(_))
      .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
    // HeadAppendBenchmark's high-dup config (duplicate-sample ratio 0.5):
    // every row re-sent once, so the within-watermark FIRST-dedup state
    // does real eviction work at full cardinality
    ingestRows.unionAll(ingestRows)
      .write.mode("overwrite").parquet(ingestStage)
    op(s"streaming ingest (${nSeries} unique series × 4 samples, " +
       "dup ratio 0.5, watermark+dedup+day partition)") {
      val stream = spark.readStream
        .schema(spark.read.parquet(ingestStage).schema).parquet(ingestStage)
      // the dedup state keeps the session's shuffle width
      graft.streaming.Ingest.drain(spark, graft.streaming.Ingest.writer(
          graft.streaming.Ingest.withIngestSemantics(stream, 60000L),
          ingestTable, s"$work/series_ckpt"),
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
      spark.read.parquet(ingestTable)
    }

    val nWinSeries = 100L * mult
    val winStage = s"$work/series_win"
    val wgrid = QueryGrid(base, base + 7200L * 10000L, 10000L)
    spark.range(nWinSeries).toDF("sid")
      .crossJoin(spark.range(7200).toDF("k"))
      .select(
        map(lit("name"), lit("cpu"),
          lit("host"), concat(lit("h"), col("sid"))).as(S.LabelsCol),
        (lit(base) + col("k") * 10000L).as(S.Ts),
        sin(col("sid") * lit(0.7) + col("k") * lit(0.01)).as(S.Value))
      .transform(TsSchema.relabel(_))
      .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
      .write.mode("overwrite").parquet(winStage)
    val winSamples = spark.read.parquet(winStage)
    op(s"moving 2h avg ($nWinSeries series × 7200 samples, 10s grid)") {
      graft.stages.Temporal.moving(winSamples, wgrid, 7200000L, "avg")
    }
    op(s"perSecondRate 2m lookback ($nWinSeries series × 7200)") {
      graft.stages.Temporal.perSecondRate(winSamples, 120000L)
    }
    // the OTHER MovingStageBenchmark axis: 2m window with the median fn —
    // the worst-case per-window aggregate (exact percentile over every
    // 12-sample frame) where the 2h row exercises the widest frame
    op(s"moving 2m median ($nWinSeries series × 7200)") {
      graft.stages.Temporal.moving(winSamples, wgrid, 120000L, "median")
    }
    op(s"grid densify to 10s ($nWinSeries series × 7200)") {
      graft.stages.GridOps.densify(winSamples, wgrid)
    }

    // UnfoldAggregationBenchmark envelope (BASELINE.md: >=10k series × 100
    // samples fanned into ONE query, stage = scale): the full parse →
    // compile → fetch → mapper → grouping-agg path at query fan-in scale
    val nUnfold = 1000L * mult
    val unfStage = s"$work/series_unfold"
    val ugrid = QueryGrid(base, base + 100L * 10000L, 10000L)
    spark.range(nUnfold).toDF("sid")
      .crossJoin(spark.range(100).toDF("k"))
      .select(
        map(lit("name"), lit("cpu"),
          lit("host"), concat(lit("h"), col("sid"))).as(S.LabelsCol),
        (lit(base) + col("k") * 10000L).as(S.Ts),
        (col("sid") % 13).cast("double").as(S.Value))
      .transform(TsSchema.relabel(_))
      .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
      .write.mode("overwrite").parquet(unfStage)
    val unfSamples = spark.read.parquet(unfStage)
    op(s"unfold aggregation: fetch | scale 2 | sum ($nUnfold series × 100)") {
      graft.lang.m3.M3QL.query(spark, unfSamples, ugrid,
        "fetch name:cpu | scale 2 | sum")
    }

    // ---- STREAMING stateful family at scale (r13 verdict item 6) ----------
    // The only family without a scale row: state-store size and per-trigger
    // latency vs KEY CARDINALITY, at mult× the sf0.1 events table (100k
    // rows → 1M at 10×, 10M at 100×). Three rows isolate the two axes:
    //   (a) per-key state at SCALING cardinality (1k·mult funnel keys) —
    //       state rows must track distinct keys, bytes per key flat;
    //   (b) the SAME events folded to a FIXED 1k keys — state flat at any
    //       mult, isolating per-trigger cost from state growth;
    //   (c) a global sketch (KMV bottom-k) — O(buckets·k) state,
    //       independent of BOTH axes.
    // Events stage as 4 parquet files + maxFilesPerTrigger=1 → 4 real
    // triggers, so per-trigger wall and end-of-drain state both measure.
    // State shuffle fixed at 8 partitions (the registry's per-user sizing).
    val nEv = 100000L * mult
    val nEvUsers = 1000L * mult
    val evSpanMs = 6L * 3600 * 1000 // constant span: density scales, not range
    val evStage = s"$work/events_stream"
    spark.range(nEv).toDF("event_id")
      .select(
        col("event_id"),
        (lit(base) + (col("event_id") * evSpanMs / nEv)).as("tm"),
        pmod(xxhash64(lit("u"), col("event_id")), lit(nEvUsers)).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase")),
          (pmod(xxhash64(lit("t"), col("event_id")), lit(3)) + 1).cast("int"))
          .as("event_type"))
      .repartition(4)
      .write.mode("overwrite").parquet(evStage)
    val evSchema = spark.read.parquet(evStage).schema
    def evStream = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", 1).parquet(evStage)
    // same re-run hazard as the series ingest above: a stale checkpoint
    // over freshly-named stage files would replay nothing — start clean
    Seq("ckpt_funnel_scale", "ckpt_funnel_fixed", "ckpt_kmv").foreach { c =>
      val path = new org.apache.hadoop.fs.Path(s"$work/$c")
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    }

    println()
    println("| streaming operator | state rows | state (MB) | per-trigger (s) | total (s) |")
    println("|---|---|---|---|---|")
    def opStream(name: String)
                (writer: => org.apache.spark.sql.streaming.DataStreamWriter[
                  org.apache.spark.sql.Row]): Unit = {
      graft.core.Memo.clearSession(spark)
      val t0 = System.nanoTime()
      val q = graft.streaming.Ingest.drain(spark, writer, stateParts = 8)
      val secs = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      val trig = progs.map(p =>
        Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L) / 1000.0)
      // last progress carries the final committed state-store totals
      val st = progs.lastOption.flatMap(_.stateOperators.headOption)
      val rows = st.map(_.numRowsTotal).getOrElse(-1L)
      val mb = st.map(_.memoryUsedBytes / 1e6).getOrElse(-1.0)
      println(s"| $name | $rows | ${f2(mb)} | " +
        s"[${trig.map(f2).mkString(", ")}] | ${f2(secs)} |")
    }
    opStream(s"funnel view→click→purchase ($nEv events, $nEvUsers keys — scaling)") {
      graft.streaming.StreamingFunnel.funnel(
          evStream, Seq("view", "click", "purchase"), 3600000L)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt_funnel_scale")
    }
    opStream(s"funnel, same $nEv events folded to FIXED 1k keys") {
      graft.streaming.StreamingFunnel.funnel(
          evStream.withColumn("user_id", pmod(col("user_id"), lit(1000L))),
          Seq("view", "click", "purchase"), 3600000L)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt_funnel_fixed")
    }
    opStream(s"KMV bottom-k distinct sketch ($nEv events, 32 shards × k=256)") {
      graft.streaming.KmvStream.kmvBuckets(evStream, col("user_id"))
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt_kmv")
    }

    graft.core.Memo.clearSession(spark)
    spark.stop()
  }
}
