package graft

import graft.core.TsSchema
import graft.lang.m3.M3QL
import graft.stages.{GridOps, SeriesSet}
import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

/** Reference-exact binary projection semantics
  * (AbstractBinaryProjectionStage + SubtractStage/DivideStage overrides). */
class BinaryProjectionSpec extends SparkTestBase {
  private val S = Some(_: Double)
  private val N = Option.empty[Double]

  test("diff default zero-fills the absent side over the timestamp union") {
    // ref SubtractStage.processSampleValues: keepNans=false → null becomes 0.0
    val l = samplesDF(series("name:m,dc:a", Seq(S(10), S(20), N, N, N, N, N, N, N, N)))
    val r = samplesDF(series("name:e,dc:a", Seq(N, S(5), S(7), N, N, N, N, N, N, N)))
    assertSeries(SeriesSet.diff(l, r, Seq("dc")),
      Map("name:m,dc:a".split(",").sorted.mkString(",") ->
        Seq(S(10), S(15), S(-7), N, N, N, N, N, N, N)))
  }

  test("diff keepNans drops points where either side is absent") {
    val l = samplesDF(series("name:m,dc:a", Seq(S(10), S(20), N, N, N, N, N, N, N, N)))
    val r = samplesDF(series("name:e,dc:a", Seq(N, S(5), S(7), N, N, N, N, N, N, N)))
    assertSeries(SeriesSet.diff(l, r, Seq("dc"), keepNans = true),
      Map("dc:a,name:m" -> Seq(N, S(15), N, N, N, N, N, N, N, N)))
  }

  test("diff treats NaN samples as absent") {
    val l = samplesDF(series("name:m,dc:a",
      Seq(Some(Double.NaN), S(20), Some(Double.NaN), N, N, N, N, N, N, N)))
    val r = samplesDF(series("name:e,dc:a",
      Seq(S(5), S(5), Some(Double.NaN), N, N, N, N, N, N, N)))
    // ts0: left NaN→null, keepNans=false → 0-5; ts2: both NaN → no point
    assertSeries(SeriesSet.diff(l, r, Seq("dc")),
      Map("dc:a,name:m" -> Seq(S(-5), S(15), N, N, N, N, N, N, N, N)))
  }

  test("diff sums multiple right series sharing a match group") {
    // ref SubtractStage.mergeMatchingSeries: Double::sum per timestamp
    val l = samplesDF(
      series("name:m,dc:a", Seq(S(100), N, N, N, N, N, N, N, N, N)) ++
      series("name:m,dc:b", Seq(S(200), N, N, N, N, N, N, N, N, N)))
    val r = samplesDF(
      series("name:e1,dc:a", Seq(S(1), N, N, N, N, N, N, N, N, N)) ++
      series("name:e2,dc:a", Seq(S(2), N, N, N, N, N, N, N, N, N)) ++
      series("name:e3,dc:b", Seq(S(10), N, N, N, N, N, N, N, N, N)))
    assertSeries(SeriesSet.diff(l, r, Seq("dc")),
      Map("dc:a,name:m" -> Seq(S(97), N, N, N, N, N, N, N, N, N),
          "dc:b,name:m" -> Seq(S(190), N, N, N, N, N, N, N, N, N)))
  }

  test("diff with empty right operand yields empty output") {
    val l = samplesDF(series("name:m,dc:a", Seq(S(1), N, N, N, N, N, N, N, N, N)))
    val r = samplesDF(series("name:e,dc:a", Seq(S(1), N, N, N, N, N, N, N, N, N)))
      .where("value > 100")
    assert(SeriesSet.diff(l, r, Seq("dc")).count() == 0)
  }

  test("divide raises when a match group holds more than one divisor") {
    // ref DivideStage.mergeMatchingSeries: IllegalArgumentException
    val l = samplesDF(
      series("name:m,dc:a", Seq(S(1), N, N, N, N, N, N, N, N, N)) ++
      series("name:m,dc:b", Seq(S(1), N, N, N, N, N, N, N, N, N)))
    val r = samplesDF(
      series("name:e1,dc:a", Seq(S(1), N, N, N, N, N, N, N, N, N)) ++
      series("name:e2,dc:a", Seq(S(2), N, N, N, N, N, N, N, N, N)) ++
      series("name:e3,dc:b", Seq(S(3), N, N, N, N, N, N, N, N, N)))
    val e = intercept[Exception](SeriesSet.divide(l, r, Seq("dc")).collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("must have exactly one divisor")),
      s"unexpected error: $e")
  }

  test("no-tag matching uses the common label keys of both operands") {
    // left series carry `host` which the right side lacks → common keys
    // across every series = {dc} (ref: extractCommonTagKeys /
    // Labels.findCommonLabelNames); full-label matching would pair nothing
    val l = samplesDF(
      series("dc:a,host:h1", Seq(S(10), N, N, N, N, N, N, N, N, N)) ++
      series("dc:b,host:h2", Seq(S(20), N, N, N, N, N, N, N, N, N)))
    val r = samplesDF(
      series("dc:a", Seq(S(2), N, N, N, N, N, N, N, N, N)) ++
      series("dc:b", Seq(S(4), N, N, N, N, N, N, N, N, N)))
    // common keys across every series = {dc}; full-label matching would match
    // nothing, common-key matching pairs dc:a with dc:a
    assertSeries(SeriesSet.divide(l, r),
      Map("dc:a,host:h1,type:ratios" -> Seq(S(5), N, N, N, N, N, N, N, N, N),
          "dc:b,host:h2,type:ratios" -> Seq(S(5), N, N, N, N, N, N, N, N, N)))
  }

  test("a single right series matches everything even when it lacks the key") {
    // ref process() right.size()==1 short-circuits BEFORE key extraction
    val l = samplesDF(series("name:m,dc:a", Seq(S(10), N, N, N, N, N, N, N, N, N)))
    val r = samplesDF(series("name:total", Seq(S(2), N, N, N, N, N, N, N, N, N)))
    assertSeries(SeriesSet.divide(l, r, Seq("dc")),
      Map("dc:a,name:m,type:ratios" -> Seq(S(5), N, N, N, N, N, N, N, N, N)))
  }

  test("a single right group projects left series that lack the key") {
    // ref processWithoutLabelMatching takes ALL left series, no key filter
    val l = samplesDF(
      series("name:m,dc:a", Seq(S(10), N, N, N, N, N, N, N, N, N)) ++
      series("name:m2", Seq(S(20), N, N, N, N, N, N, N, N, N))) // no dc
    val r = samplesDF(
      series("name:e1,dc:x", Seq(S(2), N, N, N, N, N, N, N, N, N)) ++
      series("name:e2,dc:x", Seq(N, S(9), N, N, N, N, N, N, N, N))) // same group
    assertSeries(SeriesSet.diff(l, r, Seq("dc")),
      Map("dc:a,name:m" -> Seq(S(8), S(-9), N, N, N, N, N, N, N, N),
          "name:m2"     -> Seq(S(18), S(-9), N, N, N, N, N, N, N, N)))
  }

  test("explicit-key matching drops series missing the key") {
    val l = samplesDF(
      series("name:m,dc:a", Seq(S(10), N, N, N, N, N, N, N, N, N)) ++
      series("name:m2", Seq(S(99), N, N, N, N, N, N, N, N, N))) // no dc → dropped
    val r = samplesDF(
      series("name:e,dc:a", Seq(S(2), N, N, N, N, N, N, N, N, N)) ++
      series("name:e,dc:b", Seq(S(4), N, N, N, N, N, N, N, N, N)))
    assertSeries(SeriesSet.divide(l, r, Seq("dc")),
      Map("dc:a,name:m,type:ratios" -> Seq(S(5), N, N, N, N, N, N, N, N, N)))
  }

  test("divideSeries is an alias of divide (ref M3ASTConverter:45,299)") {
    val fx = samplesDF(series("name:m,dc:a", Seq(S(4), S(6), N, N, N, N, N, N, N, N)))
    assertSeries(
      M3QL.query(spark, fx, g, "b = fetch name:m; fetch name:m | divideSeries(b)"),
      Map("dc:a,name:m,type:ratios" -> Seq(S(1), S(1), N, N, N, N, N, N, N, N)))
  }

  test("keepNans flag parses strictly through the language") {
    val fx = samplesDF(series("name:m,dc:a", Seq(S(1), S(2), N, N, N, N, N, N, N, N)))
    // boolean accepted
    assert(M3QL.query(spark, fx, g,
      "b = fetch name:m; fetch name:m | diff(b) true").count() > 0)
    // non-boolean first arg after the ref is an error (ref
    // M3ASTConverter.extractKeepNansParameter → parseBooleanStrict)
    val e = intercept[IllegalArgumentException](
      M3QL.query(spark, fx, g, "b = fetch name:m; fetch name:m | diff(b) dc"))
    assert(e.getMessage.contains("expects argument 1 of type bool"))
  }

  test("fallbackSeries keeps a non-empty input and falls back only when it is empty") {
    val l = samplesDF(series("name:m", Seq(S(1), S(2), N, N, N, N, N, N, N, N)))
    val r = samplesDF(series("name:e", Seq(N, S(5), N, N, N, N, N, N, N, N)))
    assertSeries(GridOps.fallbackSeriesBinary(l, r),
      Map("name:m" -> Seq(S(1), S(2), N, N, N, N, N, N, N, N)))
    assertSeries(GridOps.fallbackSeriesBinary(l.where("value > 100"), r),
      Map("name:e" -> Seq(N, S(5), N, N, N, N, N, N, N, N)))
    assertSeries(M3QL.query(spark, l, g, "fetch name:nothing | fallbackSeries 7"),
      Map("fallback:true" -> Seq.fill(10)(S(7))))
    assertSeries(M3QL.query(spark, l, g, "fetch name:m | fallbackSeries 7"),
      Map("name:m" -> Seq(S(1), S(2), N, N, N, N, N, N, N, N)))
    // the synthesized series' id derives from its labels, like every other
    val fb = M3QL.query(spark, l, g, "fetch name:nothing | fallbackSeries 7")
      .select(col("series_id") === TsSchema.seriesId(col("labels"))).distinct().collect()
    assert(fb.map(_.getBoolean(0)).toSeq == Seq(true))
    // a non-empty left gates the right pipeline's source: once the flag's
    // broadcast materializes empty, AQE drops the right scan before it runs,
    // so the query reads no more rows than a fallback that scans nothing
    // (AQE's final plan drops a pruned scan whether or not it ran, so rows
    // are counted per task, not from the executed plan)
    val path = tempDir("fallback").resolve("samples").toString
    l.unionByName(r).write.parquet(path)
    def rowsRead(q: String): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) n.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val out = M3QL.query(spark, spark.read.parquet(path), g, q).collect()
        assert(out.map(_.getAs[Map[String, String]]("labels")("name")).toSet == Set("m"), q)
        Thread.sleep(500)   // let the listener bus deliver the last task ends
        n.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val scansNothing = rowsRead("fetch name:m | fallbackSeries(mockFetch 9)")
    assert(scansNothing > 0)
    assert(rowsRead("fetch name:m | fallbackSeries(fetch name:e | summarize 2m sum)") ==
      scansNothing, "the right pipeline scanned")
  }

  test("building a binary projection plan runs no Spark job (no driver probe)") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    val l = samplesDF(series("name:m,dc:a", Seq(S(1), N, N, N, N, N, N, N, N, N)))
    val r = samplesDF(series("name:e,dc:a", Seq(S(2), N, N, N, N, N, N, N, N, N)))
    spark.sparkContext.addSparkListener(listener)
    try {
      SeriesSet.divide(l, r, Seq("dc"))
      SeriesSet.diff(l, r, Seq("dc"), keepNans = true)
      SeriesSet.asPercent(l, r, Seq("dc"))
      GridOps.fallbackSeries(spark, l, g, 1.0)
      GridOps.fallbackSeriesBinary(l.where("value > 100"), r)
      M3QL.query(spark, l, g, "fetch name:nothing | fallbackSeries 1")
      // plan construction is synchronous; a probe job would have fired its
      // listener event by the time the stages returned — allow a short drain
      Thread.sleep(500)
      assert(counter.get() == 0,
        s"plan construction launched ${counter.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
