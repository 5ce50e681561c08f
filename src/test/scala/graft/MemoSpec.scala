package graft

import graft.core.Memo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pins the standing-cache budget: the process-wide Memo ledger caps live
  * memoized frames per session (`graft.memo.maxEntries`), evicts
  * least-recently-USED first, and an evicted entry rebuilds into a
  * `sameResult`-identical plan with identical rows — eviction can only ever
  * trade recompute for memory, never results. This is the structural fix
  * for the r9 bench collapse (unbounded session caches thrashing a default
  * heap); Bench.scala additionally evicts between families. `Memo` is the
  * one session cache: frames, index values and staged stream sources all
  * ride the same ledger. */
class MemoSpec extends SparkTestBase {

  // isolated session: its own conf (cap) and its own ledger partition, so
  // the cap-2 budget here can never evict the shared test session's caches
  private def freshSession(cap: Int) = {
    val s = spark.newSession()
    s.conf.set("graft.memo.maxEntries", cap.toString)
    s
  }

  test("memo evicts LRU past the cap and keeps recently-touched entries") {
    val s = freshSession(2)
    val memo = Memo.frames[Int]
    def build(i: Int): DataFrame =
      s.range(10).select((col("id") + i).as("v"))
    val d1 = memo(s, 1)(build(1)); d1.count()
    val d2 = memo(s, 2)(build(2)); d2.count()
    // touch 1 so 2 becomes the LRU victim
    memo(s, 1)(fail("key 1 must still be memoized"))
    val d3 = memo(s, 3)(build(3)); d3.count()
    assert(d1.storageLevel != StorageLevel.NONE, "recently-touched entry survived")
    assert(d3.storageLevel != StorageLevel.NONE, "newest entry survived")
    assert(d2.storageLevel == StorageLevel.NONE, "LRU entry was unpersisted")
    assert(Memo.liveEntries(s) == 2)

    // the evicted key rebuilds: sameResult-identical plan, identical rows
    var rebuilt = false
    val d2b = memo(s, 2) { rebuilt = true; build(2) }
    assert(rebuilt, "evicted entry must rebuild on next request")
    assert(d2b.queryExecution.analyzed.sameResult(d2.queryExecution.analyzed),
      "re-derived frame must be sameResult-identical to the evicted one")
    assert(d2b.collect().map(_.getLong(0)).sorted
      .sameElements(d2.collect().map(_.getLong(0)).sorted))
    Memo.clearSession(s)
    assert(Memo.liveEntries(s) == 0)
  }

  test("stats count hits, misses and ledger evictions per session") {
    val s = freshSession(2)
    val memo = new Memo[Int, String](_ => ())
    def stats = Memo.stats(s)
    assert(stats == Memo.Stats(0, 0, 0))
    memo(s, 1)("a"); memo(s, 2)("b")
    assert(stats == Memo.Stats(0, 2, 0))
    memo(s, 1)(fail("key 1 must hit"))
    assert(stats == Memo.Stats(1, 2, 0))
    memo(s, 3)("c") // over the cap: evicts key 2 (LRU)
    assert(stats == Memo.Stats(1, 3, 1))
    // a changed stamp is a miss that replaces the entry, not an eviction
    memo(s, 1, "v1")("a1"); memo(s, 1, "v1")(fail("same stamp must hit"))
    assert(memo(s, 1, "v2")("a2") == "a2")
    assert(stats == Memo.Stats(2, 5, 1) && Memo.liveEntries(s) == 2)
    val other = freshSession(2)
    memo(other, 1)("x")
    assert(Memo.stats(other) == Memo.Stats(0, 1, 0), "counts are per session")
    val before = stats
    Memo.clearSession(s); Memo.clearSession(other)
    assert(stats == before, "clearSession frees without evicting")
  }

  test("a malformed or non-positive maxEntries fails by name and persists nothing") {
    for (bad <- Seq("abc", "0")) {
      val s = spark.newSession()
      s.conf.set("graft.memo.maxEntries", bad)
      val (live, rdds) = (Memo.liveEntries(s), spark.sparkContext.getPersistentRDDs.size)
      // builds that would persist and materialize a frame if they ran
      def build(): DataFrame = {
        val d = s.range(10).select((col("id") + 7).as("v")).persist()
        d.count(); d
      }
      val memo = Memo.frames[Int]
      val pm = new Memo[Int, DataFrame](_.unpersist(blocking = false))
      val errs = Seq(
        intercept[IllegalArgumentException](memo(s, 1)(build())),
        intercept[IllegalArgumentException](pm(s.range(3).toDF("id"), 1)(build())))
      errs.foreach(e => assert(e.getMessage.contains("graft.memo.maxEntries") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage))
      assert(Memo.liveEntries(s) == live)
      assert(spark.sparkContext.getPersistentRDDs.size == rdds)
    }
  }

  test("a frame-keyed memo frees evicted values and rebuilds sameResult-identical") {
    val s = freshSession(2)
    var freed = List.empty[String]
    val pm = new Memo[String, DataFrame](df => {
      freed ::= df.columns.head; df.unpersist(blocking = false)
    })
    val src = s.range(100).toDF("id")
    // distinct literals per entry: alias names canonicalize away, so three
    // `sum(id) AS x` frames would share ONE CacheManager entry and
    // unpersisting any would blank all three — not what this test pins
    def build(name: String, shift: Int): DataFrame =
      src.select(sum(col("id") + shift).as(name)).persist(StorageLevel.MEMORY_AND_DISK)
    val a = pm(src, "a")(build("a", 0))
    val b = pm(src, "b")(build("b", 1))
    val c = pm(src, "c")(build("c", 2)) // over cap: evicts "a" (LRU)
    assert(freed == List("a"), s"expected a freed, got $freed")
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel != StorageLevel.NONE && c.storageLevel != StorageLevel.NONE)

    var rebuilt = false
    val a2 = pm(src, "a") { rebuilt = true; build("a", 0) }
    assert(rebuilt, "evicted frame-keyed entry must rebuild")
    assert(a2.queryExecution.analyzed.sameResult(a.queryExecution.analyzed))
    assert(a2.collect().head.getLong(0) == 4950L)
    Memo.clearSession(s)
    assert(Memo.liveEntries(s) == 0)
  }

  test("distinct memos with EQUAL keys never alias in the ledger") {
    // chainMemo/clusterMemo/portablePairsMemo are all Memo[String] keyed by
    // the same sf string — their ledger tokens must be per-entry, or the
    // later add() replaces the earlier memo's slot (that frame escaping the
    // LRU cap and liveEntries) and one memo's eviction drops the other's
    // distinct literals per frame: aliases canonicalize away, so two
    // `range(n)` frames would share ONE CacheManager entry and unpersisting
    // either would blank both — same discipline as the frame-keyed test above
    val s = freshSession(100)
    val m1 = Memo.frames[String]
    val m2 = Memo.frames[String]
    val d1 = m1(s, "sf0.01")(s.range(10).select((col("id") + 1).as("a"))); d1.count()
    val d2 = m2(s, "sf0.01")(s.range(10).select((col("id") + 2).as("b"))); d2.count()
    assert(Memo.liveEntries(s) == 2,
      "two memos with the same key must occupy two ledger slots")
    assert(d1.storageLevel != StorageLevel.NONE)
    assert(d2.storageLevel != StorageLevel.NONE)
    // cap-overflow eviction in one memo must never free the other's frame
    val s2 = freshSession(1)
    val e1 = m1(s2, "k")(s2.range(3).select((col("id") + 1).as("a"))); e1.count()
    val e2 = m2(s2, "k")(s2.range(3).select((col("id") + 2).as("b"))); e2.count() // evicts e1 (LRU)
    assert(e1.storageLevel == StorageLevel.NONE, "LRU slot (m1) evicted")
    assert(e2.storageLevel != StorageLevel.NONE, "m2's frame must survive")
    assert(Memo.liveEntries(s2) == 1)
    Memo.clearSession(s); Memo.clearSession(s2)
    assert(Memo.liveEntries(s) == 0 && Memo.liveEntries(s2) == 0)
  }

  test("clearSession releases every entry and hook-registered value") {
    val s = freshSession(100)
    val memo = Memo.frames[String]
    val df = memo(s, "x")(s.range(5).toDF("id"))
    df.count()
    assert(df.storageLevel != StorageLevel.NONE)
    assert(Memo.liveEntries(s) == 1)
    Memo.clearSession(s)
    assert(df.storageLevel == StorageLevel.NONE)
    assert(Memo.liveEntries(s) == 0)
  }

  test("clearSession unlinks a symlink in a staged dir and keeps its target") {
    import java.nio.file.{Files, LinkOption}
    val s = spark.newSession()
    val outside = tempDir("memo_outside")
    val kept = Files.writeString(outside.resolve("keep.txt"), "x")
    val staged = java.nio.file.Paths.get(
      graft.queries.StreamingQ.stagedSrc(s, "sf", "symlink") { dir =>
        val d = Files.createDirectories(java.nio.file.Paths.get(dir))
        Files.writeString(d.resolve("part.json"), "{}")
        Files.createSymbolicLink(d.resolve("link"), outside)
      })
    assert(Files.isSymbolicLink(staged.resolve("link")))
    Memo.clearSession(s)
    assert(!Files.exists(staged.resolve("link"), LinkOption.NOFOLLOW_LINKS),
      "the link is unlinked")
    assert(!Files.exists(staged.getParent), "the staged dir is deleted")
    assert(Files.exists(kept), "the link target's files remain")
  }

  test("separately built sources with sameResult plans hit one entry") {
    val s = freshSession(100)
    val memo = Memo.frames[String]
    def src(n: Int): DataFrame = s.range(n).select((col("id") * 3).as("x"))
    val a = memo(src(50), "k")(src(50).select(sum("x").as("t")))
    var rebuilt = false
    val b = memo(src(50), "k") { rebuilt = true; src(50).select(sum("x").as("t")) }
    assert(!rebuilt, "a sameResult source plan must hit the existing entry")
    assert(b eq a)
    assert(Memo.liveEntries(s) == 1)
    // a different source plan under the same key is a different entry
    val c = memo(src(51), "k")(src(51).select((sum("x") + 1).as("t")))
    assert(!(c eq a) && Memo.liveEntries(s) == 2)
    Memo.clearSession(s)
    assert(Memo.liveEntries(s) == 0)
  }

  test("a staged stream source is a live entry, deleted when evicted and staged again") {
    import java.nio.file.{Files, Paths}
    val s = freshSession(2)
    var writes = 0
    def stage(): java.nio.file.Path = Paths.get(
      graft.queries.StreamingQ.stagedSrc(s, "sf", "evict") { dir =>
        writes += 1
        val d = Files.createDirectories(Paths.get(dir))
        Files.writeString(d.resolve("part.json"), "{}")
      })
    val first = stage()
    assert(Memo.liveEntries(s) == 1, "the staged dir counts toward the cap")
    assert(stage() == first && writes == 1, "a second call reuses the staged dir")
    val memo = Memo.frames[Int]
    memo(s, 1)(s.range(3).select((col("id") + 11).as("a"))).count()
    memo(s, 2)(s.range(3).select((col("id") + 12).as("b"))).count() // evicts the staged dir (LRU)
    assert(Memo.liveEntries(s) == 2)
    assert(!Files.exists(first.getParent), "an evicted staged dir is deleted")
    val again = stage()
    assert(writes == 2 && Files.exists(again.resolve("part.json")),
      "the next call stages the source again")
    Memo.clearSession(s)
    assert(!Files.exists(again.getParent))
  }

  test("src/main has one session cache: no PlanMemo, no session-keyed map outside core and Rollup") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, "source tree not found from the test working directory")
    def hits(re: String): Seq[String] = files.filter(p =>
      re.r.findFirstIn(Files.readString(p)).isDefined).map(_.getFileName.toString)
    assert(hits("""\bPlanMemo\b""").isEmpty)
    val sessionMaps = files.filter(p => !p.toString.contains("/core/") &&
        """TrieMap\s*(?:\.empty)?\[\s*\(?\s*SparkSession""".r
          .findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    assert(sessionMaps == Seq("Rollup.scala"), sessionMaps)
    assert(hits("""Memo\.onClearSession\(""") == Seq("Rollup.scala"))
  }

  private def cached(s: org.apache.spark.sql.SparkSession): Int =
    org.apache.spark.sql.graft.CacheBridge.cachedEntries(s)

  test("pair dedups over many corpora stay under the ledger cap, in the ledger and the CacheManager") {
    val s = freshSession(2)
    val before = cached(s)
    for (c <- 0 until 3) {
      val docs = s.createDataFrame(Seq(
        (1L, s"corpus $c shares this whole line of text"),
        (2L, s"corpus $c shares this whole line of text too"),
        (3L, s"an unrelated document number $c"))).toDF("doc_id", "text")
      assert(graft.pipelines.Dedup.ngramJaccardPairs(docs, 3, 0.5).count() == 1)
    }
    assert(Memo.liveEntries(s) == 2, "one shingle index per corpus, LRU-capped at 2")
    assert(cached(s) - before <= 2, "no frame outlives its call outside the ledger")
    Memo.clearSession(s)
    assert(cached(s) == before)
  }

  test("an M3 macro read twice and a mixed-step divide are memo entries, freed by clearSession") {
    val s = freshSession(100)
    def row(labels: String) = series(labels, (1 to 10).map(i => Some(i.toDouble)))
    val samples = samplesDF(Seq("name:click,user:1", "name:view,user:1", "name:error,user:1")
      .flatMap(row), s)
    val q = "b = fetch name:error; " +
      "fetch name:click | b | (fetch name:view | summarize 2m sum) | divide(b) user"
    def run(grid: graft.core.QueryGrid): Seq[org.apache.spark.sql.Row] =
      graft.lang.m3.M3QL.query(s, samples, grid, q).collect().toSeq.sortBy(_.toString)
    val first = run(g)
    val one = Memo.liveEntries(s)
    assert(one >= 2, s"the macro and the fused divide are memoized, got $one")
    assert(run(g) == first && Memo.liveEntries(s) == one, "a recompile on the same grid reuses them")
    run(g.copy(endMs = g.endMs - g.stepMs))
    assert(Memo.liveEntries(s) == 2 * one, "another grid adds its own entries")
    Memo.clearSession(s)
    assert(Memo.liveEntries(s) == 0)
    assert(run(g) == first, "a rebuilt compile gives the same rows")
    Memo.clearSession(s)
  }

  test("clearSession empties the CacheManager") {
    val s = freshSession(100)
    val docs = s.createDataFrame(Seq((1L, "one two three four"), (2L, "one two three four")))
      .toDF("doc_id", "text")
    graft.pipelines.Dedup.prefixJaccardPairs(docs, 2, 0.5).count()
    graft.pipelines.TextAnalysis.rakeKeywords(docs, 2).count()
    assert(cached(s) > 0)
    Memo.clearSession(s)
    Memo.clearSession(spark)
    assert(org.apache.spark.sql.graft.CacheBridge.cachedEntries(spark) == 0,
      "every frame kept past its call is a memo entry of some session")
  }

  test("src/main persists only through Memo: no .cache() and no catalog.clearCache") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, "source tree not found from the test working directory")
    def hits(re: String): Seq[String] = files.filter(p =>
      re.r.findFirstIn(Files.readString(p)).isDefined).map(_.getFileName.toString)
    assert(hits("""\.cache\(\)""").isEmpty)
    assert(hits("""catalog\.clearCache""").isEmpty)
  }
}
