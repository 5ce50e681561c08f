package graft

import graft.serve.IngestLag
import graft.serve.IngestLag.BatchLag
import graft.streaming.Ingest

/** Bounds of default-on lag metering: the ledger's source map is
  * LRU-bounded, and a session carries one lag listener however many
  * writers it builds. These are driver-memory contracts for long-lived
  * sessions ingesting to per-run table paths. */
class IngestLagRegistrySpec extends SparkTestBase {

  private def lag(src: String, batch: Long = 0L) =
    BatchLag(src, batch, rows = 1, minEventMs = 1000L, maxEventMs = 1000L,
      arrivalMs = 2000L, commitMs = 2500L, lagSumMs = 1000L)

  test("source registry evicts least-recently-RECORDED, never an active source") {
    val pre = "ilagreg:active"
    IngestLag.record(lag(pre))
    // churn MaxSources fresh sources, touching the active one between
    // batches — the way a production stream keeps recording while
    // per-run temp paths come and go
    for (i <- 0 until IngestLag.MaxSources) {
      IngestLag.record(lag(s"ilagreg:churn$i"))
      if (i % 16 == 0) IngestLag.record(lag(pre, batch = i + 1))
    }
    assert(IngestLag.batches(pre).nonEmpty,
      "an actively-recording source must survive arbitrary source churn")
    // the total stays bounded, and the evicted ones are the stale churners
    val live = (0 until IngestLag.MaxSources)
      .count(i => IngestLag.batches(s"ilagreg:churn$i").nonEmpty)
    assert(live < IngestLag.MaxSources,
      "older churn sources must have been evicted")
    assert(IngestLag.batches(s"ilagreg:churn${IngestLag.MaxSources - 1}").nonEmpty,
      "the most recent source is never the victim")
    // cleanup
    IngestLag.clear(pre)
    (0 until IngestLag.MaxSources).foreach(i => IngestLag.clear(s"ilagreg:churn$i"))
  }

  test("one lag listener per session: streams and unstarted writers add at most one") {
    // the listener holds no per-writer state: three metered streams and ten
    // writers that never start (the failed-start retry-loop shape) leave at
    // most the session's one listener behind, and every stream is metered
    import java.nio.file.{Files, Paths}
    val s = spark.newSession()
    val before = s.streams.listListeners().length
    val dir = tempDir("onelis").toString
    val src = s"$dir/src"
    Files.createDirectories(Paths.get(src))
    val late = System.currentTimeMillis() - 300000L
    Files.write(Paths.get(s"$src/b1.json"), Seq(
      s"""{"labels":"host a","timestamp":$late,"value":1.0}""",
      s"""{"labels":"host b","timestamp":${late + 2000},"value":2.0}""")
      .mkString("\n").getBytes)
    val tables = (0 until 3).map(i => s"$dir/tbl$i")
    try {
      tables.zipWithIndex.foreach { case (t, i) => Ingest.runOnce(s, src, t, s"$dir/ckp$i") }
      (0 until 10).foreach(i => Ingest.writer(
        Ingest.withIngestSemantics(Ingest.readJsonStream(s, src), 60000L),
        s"$dir/never$i", s"$dir/never_ckp$i"))
      val grew = s.streams.listListeners().length - before
      assert(grew <= 1, s"one listener per session, the session gained $grew")
      // listener events are delivered async — poll briefly
      val deadline = System.currentTimeMillis() + 15000
      while (tables.exists(IngestLag.batches(_).isEmpty) &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      tables.foreach { t =>
        assert(IngestLag.batches(t).map(_.rows) == Vector(2L),
          s"the runOnce batch into $t must be recorded once")
      }
    } finally tables.foreach(IngestLag.clear)
  }
}
