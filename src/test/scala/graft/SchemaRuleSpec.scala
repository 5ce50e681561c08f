package graft

import graft.core.{Memo, MetricsTap, Tables}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The schema rule of [[Tables.parquet]]: a table's parquet schema is
  * inferred once per session and reused while its files and the session's
  * parquet settings stay the same, so building a registry query launches no
  * Spark job once its inputs are built. The reused read's plan is the plain
  * `spark.read.parquet` plan, an overwritten table or a changed setting is
  * inferred again, and a missing path fails as the plain read fails. */
class SchemaRuleSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  private lazy val available = new java.io.File(sf).isDirectory

  private def jobs[A](s: SparkSession)(f: => A): (A, Int) = {
    val (a, n) = MetricsTap.countJobs(s)(f)
    (a, n())
  }

  /** Reads `path` through the rule twice: the first read infers the schema
    * (one job), the second reuses it (no job, one memo hit). Checks the
    * reused read against the plain read and returns it. */
  private def readTwice(s: SparkSession, path: String): DataFrame = {
    val (_, first) = jobs(s)(Tables.parquet(s, path))
    assert(first >= 1, s"$path: the first read infers its schema")
    val hits = Memo.stats(s).hits
    val (df, second) = jobs(s)(Tables.parquet(s, path))
    assert(second == 0, s"$path: the second read launched $second job(s)")
    assert(Memo.stats(s).hits == hits + 1)
    val plain = s.read.parquet(path)
    assert(df.schema == plain.schema)
    assert(df.queryExecution.analyzed.sameResult(plain.queryExecution.analyzed),
      s"$path: the reused read's plan differs from the plain read's")
    df
  }

  test("a directory table is inferred once, and its read is the plain read") {
    val s = spark.newSession()
    val path = tempDir("schema_dir").resolve("t.parquet").toString
    s.range(0, 30, 1, 3).select(col("id"), (col("id") * 0.5).as("x")).write.parquet(path)
    val df = readTwice(s, path)
    assert(df.agg(sum("id")).collect().head.getLong(0) == 435L)
    Memo.clearSession(s)
  }

  test("single-file testdata tables are keyed on their one file") {
    if (!available) cancel(s"testdata not available at $sf")
    val s = spark.newSession()
    // the setting Tables.events reads with
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (t <- Seq("lineitem", "events", "region")) readTwice(s, s"$sf/$t.parquet")
    Memo.clearSession(s)
  }

  test("a table overwritten at the same path is read with its new schema") {
    val s = spark.newSession()
    val path = tempDir("schema_overwrite").resolve("t.parquet").toString
    s.range(5).toDF("a").write.parquet(path)
    assert(Tables.parquet(s, path).schema.fieldNames.toSeq == Seq("a"))
    val live = Memo.liveEntries(s)
    s.range(3).select(col("id").cast("string").as("b"), lit(1.5).as("c"))
      .write.mode("overwrite").parquet(path)
    val df = Tables.parquet(s, path)
    assert(df.schema == s.read.parquet(path).schema)
    assert(df.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2"))
    assert(Memo.liveEntries(s) == live, "a path holds one entry")
    Memo.clearSession(s)
  }

  test("a changed parquet setting infers the schema again") {
    val s = spark.newSession()
    val path = tempDir("schema_conf").resolve("t.parquet").toString
    // two files of different schemas: a plain read infers from one of them
    s.range(2).toDF("a").write.parquet(path)
    s.range(2).toDF("b").write.mode("append").parquet(path)
    val one = Tables.parquet(s, path).schema
    assert(one.size == 1 && one == s.read.parquet(path).schema)
    s.conf.set("spark.sql.parquet.mergeSchema", "true")
    val merged = Tables.parquet(s, path).schema
    assert(merged.fieldNames.toSeq.sorted == Seq("a", "b") && merged == s.read.parquet(path).schema)
    Memo.clearSession(s)
  }

  test("a missing path raises the plain read's AnalysisException") {
    val path = tempDir("schema_missing").resolve("none.parquet").toString
    val plain = intercept[AnalysisException](spark.read.parquet(path))
    val ruled = intercept[AnalysisException](Tables.parquet(spark, path))
    assert(ruled.getCondition == plain.getCondition && ruled.getMessage == plain.getMessage,
      s"${ruled.getMessage} vs ${plain.getMessage}")
  }

  test("building a registry query launches no Spark job after one run") {
    if (!available) cancel(s"testdata not available at $sf")
    val s = spark.newSession()
    for (q <- Seq("dedup_minhash_portable", "text_langid", "corpus_mix_sources",
                  "ann_batch_topk", "retrieval_bm25", "events_sessionize", "tpch_q1_pricing",
                  "tpch_q5_multijoin")) {
      val fn = graft.queries.Registry.queries(q)
      Memo.clearSession(s)
      fn(s, sf).write.format("noop").mode("overwrite").save()
      val hits = Memo.stats(s).hits
      val (_, n) = jobs(s)(fn(s, sf))
      assert(n == 0, s"$q: building the query launched $n Spark job(s)")
      assert(Memo.stats(s).hits > hits, s"$q: the build reused no memo entry")
    }
    Memo.clearSession(s)
  }
}
