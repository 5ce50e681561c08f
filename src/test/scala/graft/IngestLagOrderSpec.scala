package graft

import graft.queries.StreamingQ

/** Pins the r12 fix for the one red r11 driver-gate row: the
  * `tsdb_ingest_lag` ledger must be a pure function of the DATA, never of
  * the file source's listing/arrival order. The query writes one file per
  * user bucket and used to rely on "batch i == bucket i" via mtime-ordered
  * listing; here the mtimes are REVERSED (bucket 2 oldest → processed
  * first) and also scrambled, and the ledger must not move, because batch
  * identity now comes from the rows themselves (`meteredSink` batchKey).
  * It also pins the temp-dir bound of the two ingest registry rows. */
class IngestLagOrderSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def available = new java.io.File(s"$sf/events.parquet").exists()

  private def ledger(mtimeOf: Int => Long): Seq[Seq[Any]] =
    StreamingQ.ingestLagLedger(spark, sf, mtimeOf)
      .collect().map(_.toSeq).toSeq

  test("ingest-lag ledger is invariant under file-source processing order") {
    if (!available) cancel(s"testdata not available at $sf")
    val forward = ledger(b => 1000000000000L + b * 60000L)
    assert(forward.size == 3, s"three buckets expected, got ${forward.size}")
    // batch_id column is the bucket, ordered 0..2 regardless of arrival
    assert(forward.map(_.head) == Seq(0L, 1L, 2L))
    // coordinator/append lag are keyed off the BUCKET's injected clock
    forward.foreach { r =>
      val (bid, minEv, coord, app) =
        (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long],
          r(4).asInstanceOf[Long], r(5).asInstanceOf[Long])
      assert(coord == 2000000000000L + bid * 1000L - minEv)
      assert(app == coord + 500L)
    }
    val reversed = ledger(b => 1000000000000L + (2 - b) * 60000L)
    assert(reversed == forward,
      "reversing which file arrives first must not change the ledger")
    val scrambled = ledger(b => 1000000000000L + Seq(1, 2, 0)(b) * 60000L)
    assert(scrambled == forward,
      "an arbitrary arrival permutation must not change the ledger")
  }

  test("streaming runs leave no ledger dir and one roundtrip dir, removed by clearSession") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    if (!available) cancel(s"testdata not available at $sf")
    val s = spark.newSession()
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    // base dirs only: staged sources are named graft_<tag><n>
    def dirs(re: String): Set[Path] = {
      val st = Files.list(tmp)
      try st.iterator.asScala.filter(p => p.getFileName.toString.matches(re)).toSet
      finally st.close()
    }
    val (ledger0, roundtrip0) = (dirs("""graft_ilag\d+"""), dirs("""graft_stream\d+"""))
    for (_ <- 0 until 2) {
      graft.queries.Registry.queries("tsdb_ingest_lag")(s, sf).collect()
      graft.queries.Registry.queries("streaming_ingest_roundtrip")(s, sf).collect()
    }
    assert(dirs("""graft_ilag\d+""") -- ledger0 == Set.empty,
      "the ledger run deletes its table and checkpoint once the stream stops")
    val roundtrip = dirs("""graft_stream\d+""") -- roundtrip0
    assert(roundtrip.size == 1, s"one roundtrip dir per (session, sf), got $roundtrip")
    graft.core.Memo.clearSession(s)
    assert(!Files.exists(roundtrip.head), "clearSession deletes the roundtrip dir")
  }

  test("meteredSink rejects a batch whose batchKey is not constant") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, 100L), (2L, 200L)).toDF("k", "timestamp")
    val sink = graft.serve.IngestLag.meteredSink("ilag-mixed",
      arrivalClock = _ => 0L, commitClock = _ => 0L,
      batchKey = Some(col("k"))) { (_, _) => () }
    val e = intercept[IllegalArgumentException] { sink(df, 0L) }
    assert(e.getMessage.contains("constant within a micro-batch"))
    graft.serve.IngestLag.clear("ilag-mixed")
  }
}
