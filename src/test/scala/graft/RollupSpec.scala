package graft

import graft.core.QueryGrid
import graft.streaming.Rollup
import org.apache.spark.sql.functions._

/** The rollup tier must reconstruct every supported summarize flavor
  * EXACTLY from bucket moments — same values as aggregating raw samples. */
class RollupSpec extends SparkTestBase {

  // 2 series × 10 points at 60s spacing (grid g), values 1..10 / 2..20
  private def fx = samplesDF(
    series("name:a", (1 to 10).map(i => Some(i.toDouble))) ++
    series("name:b", (1 to 10).map(i => Some(i * 2.0))))

  // rollup at 2m, query at 120s step (aligned: g.startMs = 60000 is NOT a
  // multiple of 120000 — use a 60s-aligned grid starting at 120000)
  private val g2 = QueryGrid(120000L, 600000L, 120000L)

  private def direct(agg: String): Map[(String, Long), Double] = {
    val in = fx.where(col("timestamp") >= g2.startMs && col("timestamp") < g2.endMs)
      .withColumn("ts2", g2.bucket(col("timestamp")))
    val v = agg match {
      case "sum"   => sum("value")
      case "avg"   => avg("value")
      case "min"   => min("value")
      case "max"   => max("value")
      case "count" => count("value").cast("double")
      case "last"  => expr("max_by(value, timestamp)")
    }
    in.groupBy(col("series_id"), col("labels"), col("ts2")).agg(v.as("v"))
      .select(graft.core.TsSchema.seriesKey(col("labels")).as("k"), col("ts2"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
  }

  test("every summarize flavor reconstructs exactly from rollup moments") {
    val rolled = Rollup.rollup(fx, bucketMs = 120000L)
    for (agg <- Seq("sum", "avg", "min", "max", "count", "last")) {
      val fromRollup = Rollup.summarizeFromRollup(rolled, 120000L, g2, agg)
        .select(graft.core.TsSchema.seriesKey(col("labels")).as("k"),
          col("timestamp"), col("value"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(fromRollup == direct(agg), s"rollup mismatch for $agg")
    }
  }

  test("misaligned grids raise instead of silently approximating") {
    val rolled = Rollup.rollup(fx, bucketMs = 120000L)
    // step not a multiple of the resolution
    intercept[IllegalArgumentException] {
      Rollup.summarizeFromRollup(rolled, 120000L, QueryGrid(120000L, 600000L, 90000L), "avg")
    }
    // start not bucket-aligned
    intercept[IllegalArgumentException] {
      Rollup.summarizeFromRollup(rolled, 120000L, QueryGrid(60000L, 600000L, 120000L), "avg")
    }
    intercept[IllegalArgumentException] {
      Rollup.summarizeFromRollup(rolled, 120000L, g2, "stddev")
    }
  }

  test("stream-maintained rollup equals the batch rollup of the same data") {
    import graft.streaming.Ingest
    val dir = java.nio.file.Files.createTempDirectory("graft_sroll").toFile.getAbsolutePath
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    val recs = for (h <- Seq("a", "b"); i <- 1 to 10)
      yield (s"host $h", 60000L * i, if (h == "a") i.toDouble else i * 2.0)
    val lines = recs.map { case (l, t, v) =>
      s"""{"labels":"$l","timestamp":$t,"value":$v}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$src/b.json"),
      lines.mkString("\n").getBytes)

    val streamed = Rollup.streamingRollup(
      Ingest.readJsonStream(spark, src), bucketMs = 120000L, lateMs = 60000L)
    val q = streamed.writeStream.format("memory").queryName("sroll")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()

    def toMap(df: org.apache.spark.sql.DataFrame) = df
      .select(graft.core.TsSchema.seriesKey(col("labels")).as("k"), col("bucket_ts"),
        col("rsum").cast("double"), col("rcount"), col("rmin"), col("rmax"),
        col("rlast"), col("rlast_ts"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getLong(7))).toMap
    import spark.implicits._
    val batchSamples = Ingest.parseWire(
      recs.toDF("labels", "timestamp", "value"))
    val batch = toMap(Rollup.rollup(batchSamples, 120000L))
    val stream = toMap(spark.table("sroll"))
    assert(stream == batch, "stream-maintained tier must equal the batch sweep")
  }

  test("registered tier routes fetch|summarize to the rollup scan at plan time") {
    import graft.lang.m3.M3QL
    val dir = java.nio.file.Files.createTempDirectory("graft_route").toFile.getAbsolutePath
    // ONE bound frame for rollup, registration and queries: the tier is
    // registered FOR a samples frame (plan identity via sameResult), so a
    // fresh fixture per call would — correctly — never route
    val src = fx
    Rollup.rollup(src, bucketMs = 120000L).write.mode("overwrite").parquet(s"$dir/rollup")
    val rolled = spark.read.parquet(s"$dir/rollup")
    // interval-aligned query grid (start/end multiples of 2m)
    val gq = QueryGrid(120000L, 600000L, 60000L)
    val query = "fetch name:a | summarize 2m sum"
    val raw = M3QL.query(spark, src, gq, query)   // no tier yet — raw path
    Rollup.registerTier(spark, rolled, 120000L, src)
    try {
      val routed = M3QL.query(spark, src, gq, query)
      assert(routed.queryExecution.executedPlan.toString.contains(s"$dir/rollup"),
        "aligned fetch|summarize must read the rollup parquet scan")
      def m(df: org.apache.spark.sql.DataFrame) = df
        .select(graft.core.TsSchema.seriesKey(col("labels")).as("k"),
          col("timestamp"), col("value"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(m(routed) == m(raw), "routed answer must equal the raw-path answer")
      // a DIFFERENT samples frame (fresh fixture) must not hit this tier,
      // even though its data is identical — tier/query dataset mismatch
      val other = M3QL.query(spark, fx, gq, query)
      assert(!other.queryExecution.executedPlan.toString.contains(s"$dir/rollup"),
        "a tier registered for another samples frame must not serve this query")
      // misaligned start (60000 % 120000 != 0) must silently fall back to raw
      val fallback = M3QL.query(spark, src, g, "fetch name:a | summarize 2m sum")
      assert(!fallback.queryExecution.executedPlan.toString.contains(s"$dir/rollup"),
        "misaligned grid must not read the rollup tier")
      // non-reconstructable aggregate falls back too
      val med = M3QL.query(spark, src, gq, "fetch name:a | summarize 2m median")
      assert(!med.queryExecution.executedPlan.toString.contains(s"$dir/rollup"))
    } finally Rollup.clearTier(spark)
  }

  test("registered tier routes aligned PromQL sum_over_time to the rollup scan") {
    import graft.lang.prom.PromQL
    val dir = java.nio.file.Files.createTempDirectory("graft_promroute").toFile.getAbsolutePath
    // bucket = the 60s sample spacing, so the tier holds one sample per
    // bucket stamped at the bucket start — the serving-resolution
    // precondition under which the rollup answer is exact
    val src = fx
    Rollup.rollup(src, bucketMs = 60000L).write.mode("overwrite").parquet(s"$dir/rollup")
    val rolled = spark.read.parquet(s"$dir/rollup")
    val gq = QueryGrid(120000L, 600000L, 60000L)
    def m(df: org.apache.spark.sql.DataFrame) = df
      .select(graft.core.TsSchema.seriesKey(col("labels")).as("k"),
        col("timestamp"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val raw = PromQL.query(spark, src, gq, "sum_over_time(a[2m])")   // no tier yet
    Rollup.registerTier(spark, rolled, 60000L, src)
    try {
      val routed = PromQL.query(spark, src, gq, "sum_over_time(a[2m])")
      assert(routed.queryExecution.executedPlan.toString.contains(s"$dir/rollup"),
        "aligned sum_over_time must read the rollup parquet scan")
      assert(m(routed) == m(raw), "routed answer must equal the raw-path answer")
      // a query over a DIFFERENT samples frame must not read this tier
      val other = PromQL.query(spark, fx, gq, "sum_over_time(a[2m])")
      assert(!other.queryExecution.executedPlan.toString.contains(s"$dir/rollup"),
        "a tier registered for another samples frame must not serve this query")
      // avg and count merge from the same moments
      for (q <- Seq("avg_over_time(a[2m])", "count_over_time(a[3m])")) {
        Rollup.clearTier(spark)
        val rawQ = m(PromQL.query(spark, src, gq, q))
        Rollup.registerTier(spark, rolled, 60000L, src)
        val routedQ = PromQL.query(spark, src, gq, q)
        assert(routedQ.queryExecution.executedPlan.toString.contains(s"$dir/rollup"))
        assert(m(routedQ) == rawQ, s"$q: routed ≠ raw")
      }
      // a misaligned window (90s % 60s != 0) must fall back to raw samples
      val fb = PromQL.query(spark, src, gq, "sum_over_time(a[90s])")
      assert(!fb.queryExecution.executedPlan.toString.contains(s"$dir/rollup"),
        "misaligned window must not read the rollup tier")
      // stddev has no mergeable moment in the tier — raw path too
      val sd = PromQL.query(spark, src, gq, "stddev_over_time(a[2m])")
      assert(!sd.queryExecution.executedPlan.toString.contains(s"$dir/rollup"))
    } finally Rollup.clearTier(spark)
  }

  test("registered tier routes aligned increase/rate to the rollup scan") {
    import graft.lang.prom.PromQL
    val dir = java.nio.file.Files.createTempDirectory("graft_ctrroute").toFile.getAbsolutePath
    // serving resolution: one sample per 60s bucket stamped at the bucket
    // start, so tier rows ARE the samples and the counter math over them is
    // bit-identical to the raw path
    val src = fx
    Rollup.rollup(src, bucketMs = 60000L).write.mode("overwrite").parquet(s"$dir/rollup")
    val rolled = spark.read.parquet(s"$dir/rollup")
    val gq = QueryGrid(120000L, 600000L, 60000L)
    def m(df: org.apache.spark.sql.DataFrame) = df
      .select(graft.core.TsSchema.seriesKey(col("labels")).as("k"),
        col("timestamp"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val queries = Seq("increase(a[2m])", "rate(a[2m])", "delta(a[2m])")
    val raws = queries.map(q => q -> m(PromQL.query(spark, src, gq, q))).toMap
    Rollup.registerTier(spark, rolled, 60000L, src)
    try {
      for (q <- queries) {
        val routed = PromQL.query(spark, src, gq, q)
        assert(routed.queryExecution.executedPlan.toString.contains(s"$dir/rollup"),
          s"aligned $q must read the rollup parquet scan")
        assert(m(routed) == raws(q), s"$q: routed ≠ raw")
      }
      // a misaligned window (90s % 60s != 0) must fall back to raw samples
      val fb = PromQL.query(spark, src, gq, "increase(a[90s])")
      assert(!fb.queryExecution.executedPlan.toString.contains(s"$dir/rollup"),
        "misaligned window must not read the rollup tier")
      // a subquery argument computes per instant — raw path
      val sq = PromQL.query(spark, src, gq, "increase(a[2m:1m])")
      assert(!sq.queryExecution.executedPlan.toString.contains(s"$dir/rollup"))
    } finally Rollup.clearTier(spark)
  }

  test("rollupSweep writes a day-partitioned rollup table that reads back") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup").toFile.getAbsolutePath
    fx.write.mode("overwrite").parquet(s"$dir/raw")
    Rollup.rollupSweep(spark, s"$dir/raw", s"$dir/rollup", bucketMs = 120000L)
    val back = spark.read.parquet(s"$dir/rollup")
    assert(back.columns.contains("day"), "rollup table must be day-partitioned")
    val out = Rollup.summarizeFromRollup(back, 120000L, g2, "sum")
      .select(graft.core.TsSchema.seriesKey(col("labels")).as("k"),
        col("timestamp"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out == direct("sum"))
  }
}
