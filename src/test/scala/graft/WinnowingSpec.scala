package graft

import org.apache.spark.sql.functions._

/** Winnowing contract the oracle doesn't pin: the coverage GUARANTEE
  * (any shared run of >= w+k-1 tokens yields a shared fingerprint),
  * the short-document rule, and selection determinism. */
class WinnowingSpec extends SparkTestBase {

  private val k = 3
  private val w = 4

  private def docsOf(texts: (Long, String)*) =
    spark.createDataFrame(texts).toDF("doc_id", "text")

  private def fps(texts: (Long, String)*): Map[Long, Set[Long]] =
    graft.pipelines.Dedup.winnowingFingerprints(docsOf(texts: _*), k, w)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getLong(2)).toSet }

  test("docs sharing a >= w+k-1 token run share a fingerprint") {
    // shared run of w+k-1 = 6 tokens, embedded at different offsets
    val shared = "alpha beta gamma delta epsilon zeta"
    val m = fps(
      1L -> s"one two three $shared x y z",
      2L -> s"$shared p q r s t u v")
    assert(m(1L).intersect(m(2L)).nonEmpty,
      s"guarantee violated: ${m(1L)} vs ${m(2L)}")
  }

  test("short document (fewer than w windows) emits exactly one fingerprint") {
    // 4 tokens -> 2 grams of k=3 < w=4 windows -> the overall minimum only
    val m = fps(1L -> "a b c d")
    assert(m(1L).size == 1, s"short-doc rule: ${m(1L)}")
  }

  test("identical documents select identical fingerprint sets") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val m = fps(1L -> t, 2L -> t)
    assert(m(1L) == m(2L))
  }

  test("density: selection keeps at most one fingerprint per window position") {
    val t = (1 to 40).map(i => s"tok${i % 17}").mkString(" ")
    val grams = 40 - k + 1
    val m = fps(1L -> t)
    assert(m(1L).nonEmpty && m(1L).size <= grams - w + 1,
      s"selected ${m(1L).size} of ${grams - w + 1} windows")
  }

  test("incremental probe through the index equals batch over the union") {
    val base = (1 to 25).map(i => s"b$i").mkString(" ")
    val prior = docsOf(
      1L -> base,
      2L -> (base + " extra tail tokens"),
      3L -> (1 to 20).map(i => s"p$i").mkString(" "))
    val incoming = docsOf(
      10L -> base,                                   // dup of prior 1/2
      11L -> ((21 to 40).map(i => s"b$i") ++ (1 to 10).map(i => s"b$i")).mkString(" "),
      12L -> (1 to 20).map(i => s"q$i").mkString(" "))
    val table = s"graft_winnow_spec_${System.nanoTime()}"
    graft.pipelines.Dedup.writeWinnowIndex(prior, k, w, table)
    graft.pipelines.Dedup.appendWinnowIndex(
      docsOf(4L -> (base + " appended snapshot")), k, w, table)
    val inc = graft.pipelines.Dedup
      .winnowingPairsIncremental(spark, table, incoming, k, w)
      .collect().map(_.toString).sorted.toSeq
    val union = prior
      .unionByName(docsOf(4L -> (base + " appended snapshot")))
      .unionByName(incoming)
    val incIds = Set(10L, 11L, 12L)
    val batch = graft.pipelines.Dedup.winnowingPairs(union, k, w)
      .collect()
      .filter(r => incIds(r.getLong(0)) || incIds(r.getLong(1)))
      .map(_.toString).sorted.toSeq
    assert(inc == batch, s"incremental:\n$inc\nbatch:\n$batch")
    assert(inc.nonEmpty, "split fixture should produce cross-crawl pairs")
  }

  test("disjoint documents emit no pairs") {
    val pairs = graft.pipelines.Dedup.winnowingPairs(
      docsOf(
        1L -> "a b c d e f g h i j",
        2L -> "k l m n o p q r s t"), k, w).collect()
    assert(pairs.isEmpty)
  }

  test("containment flags a quoted subset that jaccard misses") {
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val filler = (1 to 80).map(i => s"f$i").mkString(" ")
    val docs = docsOf(1L -> quote, 2L -> s"$filler $quote")
    val c = graft.pipelines.Dedup.containmentPairs(docs, n = 3, threshold = 0.9)
      .collect()
    assert(c.length == 1 && c.head.getLong(0) == 1L && c.head.getLong(1) == 2L,
      s"containment rows: ${c.toSeq}")
    assert(c.head.getDouble(2) == 1.0)
    val j = graft.pipelines.Dedup.ngramJaccardPairs(docs, n = 3,
      threshold = 0.5).collect()
    assert(j.isEmpty, "jaccard should dilute the quote below 0.5")
  }

  test("near-identical documents pair with jaccard near 1") {
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val row = graft.pipelines.Dedup.winnowingPairs(
      docsOf(1L -> base, 2L -> (base + " tail")), k, w, minShared = 2,
      maxDf = 1000).collect()
    assert(row.length == 1)
    assert(row.head.getDouble(3) > 0.8, s"jaccard ${row.head.getDouble(3)}")
  }

  test("row-local staged fingerprints equal the window-formulated selection") {
    // spans the short-doc rule (< w windows), exact-w, and long documents,
    // plus within-doc repetition (duplicate fps must collapse identically)
    val texts = Seq(
      1L -> "a b c d",
      2L -> "a b c d e f",
      3L -> (1 to 40).map(i => s"t${i % 7}").mkString(" "),
      4L -> ((1 to 12).map(i => s"w$i").mkString(" ") + " " +
             (1 to 12).map(i => s"w$i").mkString(" ")),
      5L -> "only two")
    val batch = fps(texts: _*)
    // the staged generator formulation (the bulk/streaming path)
    val staged = graft.pipelines.Dedup.winnowFpRows(
        docsOf(texts: _*), k, w, "doc_id", "text", "doc_id")
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
    assert(staged == batch.filter(_._2.nonEmpty),
      s"staged $staged vs window $batch")
    // doc 5 is shorter than k tokens: no fingerprint in either
    assert(!staged.contains(5L) && !batch.contains(5L))
  }

  test("streaming winnow probe equals the static probe against the index") {
    val old = docsOf(
      10L -> (1 to 30).map(i => s"word$i").mkString(" "),
      11L -> (1 to 30).map(i => s"other$i").mkString(" "),
      12L -> "completely different tokens here nothing shared at all")
    // ensureTable clears stale warehouse locations a previous JVM left
    graft.queries.Registry.ensureTable(spark, "graft_test_stream_winnow",
      companions = Seq("graft_test_stream_winnow_sz")) {
      graft.pipelines.Dedup.writeWinnowIndex(old, k, w,
        table = "graft_test_stream_winnow", buckets = 4)
    }
    val fresh = docsOf(
      20L -> ((1 to 30).map(i => s"word$i").mkString(" ") + " tail"),
      21L -> "nothing in common with anything indexed either",
      22L -> (1 to 30).map(i => s"other$i").mkString(" "))
    val src = tempDir("swin").toString + "/src"
    fresh.coalesce(2).write.mode("overwrite").json(src)
    val stream = spark.readStream.option("maxFilesPerTrigger", 1)
      .schema("doc_id BIGINT, text STRING").json(src)
    val out = graft.pipelines.Dedup.streamingWinnowProbe(spark,
      "graft_test_stream_winnow", stream, k, w)
    val q = out.writeStream.format("memory").queryName("swin_out")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("swin_out")
      .groupBy("doc_id_new", "doc_id_old")
      .agg(max("shared_fp").as("shared_fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val static = graft.pipelines.Dedup.streamingWinnowProbe(spark,
      "graft_test_stream_winnow", fresh, k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == static, s"stream $streamed vs batch $static")
    // the near-copies pair with their indexed originals; the stranger doesn't
    val pairedNew = streamed.map(_._1)
    assert(pairedNew.contains(20L) && pairedNew.contains(22L) &&
      !pairedNew.contains(21L), s"pairs: $streamed")
  }
}
