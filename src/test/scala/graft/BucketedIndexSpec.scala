package graft

import graft.pipelines.Dedup
import org.apache.spark.sql.functions._

/** The bucketed-index contract: a shingle index written with bucketBy makes
  * the shingle-keyed candidate join exchange-free — both sides read
  * pre-hashed buckets, so the plan shows SortMergeJoin over two bucketed
  * scans with NO Exchange between scan and join. This is the co-located-join
  * technique the 100TB dedup pipeline rests on.
  */
class BucketedIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val table = "graft_test_shingle_idx"

  test("bucketed shingle index joins without a shuffle and matches inline dedup") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different text with no overlap here at all"),
      (4L, "completely different text with no overlap here at all indeed"),
      (5L, "unrelated content entirely")).toDF("doc_id", "text")

    spark.sql(s"DROP TABLE IF EXISTS $table")
    Dedup.writeShingleIndex(docs, n = 3, table = table, buckets = 4)

    // file-count contract: the writer repartitions on the bucket key with
    // bucket-count partitions, so each task holds exactly one bucket and
    // the table has AT MOST one data file per bucket — without the
    // repartition it's one file per (task, bucket), 2000+ tiny files per
    // sf0.1 index build, and open/commit overhead dominates the build
    val loc = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    val dataFiles = new java.io.File(new java.io.File(loc.getPath), table)
      .listFiles().count(f => f.getName.startsWith("part-"))
    assert(dataFiles <= 4, s"expected <= 4 bucket files, found $dataFiles")

    // the candidate join over the persisted index must be exchange-free on
    // the join key: bucketed scans satisfy the join's hash distribution
    val sh = spark.table(table)
    val joined = sh.as("a").join(sh.as("b"), "shingle")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(shingle"),
      s"bucketed self-join must not re-shuffle on shingle:\n$plan")

    // same answers as the inline (session-persisted) pair generator
    val fromIndex = Dedup.ngramJaccardPairsFromIndex(spark, table, threshold = 0.3, maxDf = 100)
      .select("doc_id_a", "doc_id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.3, maxDf = 100)
      .select("doc_id_a", "doc_id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromIndex == inline && fromIndex.contains((1L, 2L)) && fromIndex.contains((3L, 4L)),
      s"index pairs $fromIndex != inline pairs $inline")

    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("the index-build row rebuilds over a stale warehouse location") {
    // the catalog forgot the table but its location survives (an earlier
    // JVM's warehouse): a plain saveAsTable fails LOCATION_ALREADY_EXISTS
    val sf = java.nio.file.Files.createTempDirectory("graft_idx_sf").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy cat"),
        (3L, "unrelated content entirely")).toDF("doc_id", "text")
      .write.parquet(s"$sf/documents.parquet")
    val t = "graft_shingle_idx_" + sf.replaceAll("[^A-Za-z0-9]", "_")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
    assert(loc.mkdirs())
    java.nio.file.Files.writeString(loc.toPath.resolve("stray.txt"), "x")
    val row = graft.queries.Registry.queries("dedup_ngram_index_build")(spark, sf)
      .collect().head
    assert(row.getAs[Long]("n_docs") == 3L, row)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("append-maintained shingle index equals rebuild and dedups incrementally") {
    val t1 = "graft_test_incr_idx"
    val t2 = "graft_test_incr_rebuilt"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    val snap1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text with no overlap here at all"),
      (5L, "unrelated content entirely about databases and engines")).toDF("doc_id", "text")
    val snap2 = Seq(
      (10L, "the quick brown fox jumps over the lazy cat"),    // near-dup of 1 → dropped
      (11L, "fresh new document about distributed query planning"),
      (12L, "fresh new document about distributed query planning too"), // near-dup of 11 → dropped
      (13L, "entirely novel third topic nothing shared")).toDF("doc_id", "text")

    Dedup.writeShingleIndex(snap1, n = 3, table = t1, buckets = 4)
    // index-probing incremental dedup ≡ the full-recompute form
    val indexed = Dedup.dedupIncrementalIndexed(spark, t1, snap2,
        n = 3, threshold = 0.4, maxDf = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = Dedup.dedupIncremental(snap1, snap2, n = 3, threshold = 0.4, maxDf = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed == full, s"indexed $indexed != full $full")
    assert(indexed == Set(11L, 13L))

    // appending the survivors' shingles reproduces a from-scratch rebuild
    val survivors = snap2.where(col("doc_id").isin(indexed.toSeq.map(x => x: Any): _*))
    Dedup.appendShingleIndex(survivors, n = 3, table = t1, buckets = 4)
    Dedup.writeShingleIndex(snap1.unionByName(survivors), n = 3, table = t2, buckets = 4)
    def rows(t: String) = spark.table(t).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")), r.getString(r.fieldIndex("shingle")))).toSet
    assert(rows(t1) == rows(t2), "append-maintained index must equal the rebuilt index")

    // and the maintained index serves the NEXT snapshot identically
    val snap3 = Seq(
      (20L, "fresh new document about distributed query planning"),  // dup of kept 11
      (21L, "genuinely unseen content for the third crawl")).toDF("doc_id", "text")
    val kept3 = Dedup.dedupIncrementalIndexed(spark, t1, snap3,
        n = 3, threshold = 0.4, maxDf = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept3 == Set(21L), s"got $kept3")

    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
  }

  test("appendShingleIndex equals a full rebuild under out-of-order snapshot arrival") {
    // the maintained index is a SET of (doc_id, shingle) rows, so append
    // order must not matter: for three snapshots landed in any arrival
    // order, base + appends == writeShingleIndex(union). Deterministic
    // pseudo-random doc texts; every permutation of the append pair checked.
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def doc(id: Long) =
      (id, Seq.fill(6 + rnd.nextInt(5))(words(rnd.nextInt(words.size))).mkString(" "))
    val snaps = Seq(
      (0L until 4L).map(doc), (10L until 13L).map(doc), (20L until 24L).map(doc))
      .map(rows => rows.toDF("doc_id", "text"))
    val union = snaps.reduce(_ unionByName _)
    def rows(t: String) = spark.table(t).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")), r.getString(r.fieldIndex("shingle")))).toSet
    spark.sql(s"DROP TABLE IF EXISTS graft_test_ooo_exp")
    Dedup.writeShingleIndex(union, n = 3, table = "graft_test_ooo_exp", buckets = 4)
    val expect = rows("graft_test_ooo_exp")
    for ((perm, k) <- Seq(Seq(0, 1, 2), Seq(0, 2, 1), Seq(1, 0, 2), Seq(2, 1, 0)).zipWithIndex) {
      val t = s"graft_test_ooo_$k"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Dedup.writeShingleIndex(snaps(perm.head), n = 3, table = t, buckets = 4)
      perm.tail.foreach(i => Dedup.appendShingleIndex(snaps(i), n = 3, table = t, buckets = 4))
      assert(rows(t) == expect, s"arrival order $perm diverged from the rebuild")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    spark.sql(s"DROP TABLE IF EXISTS graft_test_ooo_exp")
  }
}
