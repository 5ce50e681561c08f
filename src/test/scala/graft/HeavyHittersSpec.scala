package graft

import graft.streaming.HeavyHitters
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Space-saving heavy-hitters sketch: bounded-state guarantee in batch
  * mode, and exactness + state carry across streaming triggers. */
class HeavyHittersSpec extends SparkTestBase {
  import spark.implicits._

  test("bounded capacity keeps every guaranteed heavy hitter with count bounds") {
    // one shard, N = 100 tokens, capacity 5 → any token with true count
    // > N/capacity = 20 MUST be in the summary; counts overestimate by at
    // most `error`
    val text = (Seq.fill(50)("aa") ++ Seq.fill(30)("bb") ++
      (1 to 20).map(i => s"r$i")).mkString(" ")
    val out = HeavyHitters.heavyHitters(
        Seq((1L, text)).toDF("doc_id", "text"),
        capacity = 5, shards = 1, minCount = 1L)
      .select("token", "count", "error")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size <= 5, s"state must stay bounded: $out")
    val truth = Map("aa" -> 50L, "bb" -> 30L)
    truth.foreach { case (t, n) =>
      assert(out.contains(t), s"guaranteed hitter $t missing: $out")
      val (c, e) = out(t)
      assert(c >= n && c - e <= n, s"$t bounds violated: count=$c error=$e true=$n")
    }
  }

  test("exact mode across streaming triggers equals plain token counts") {
    val dir = tempDir("hh_spec").toString
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    // two micro-batch files; 'aa' spans both so its count must CARRY
    Files.write(java.nio.file.Paths.get(s"$src/a.json"), Seq(
      """{"doc_id":0,"text":"aa aa bb cc"}""",
      """{"doc_id":1,"text":"aa bb"}""").mkString("\n").getBytes)
    Files.write(java.nio.file.Paths.get(s"$src/b.json"), Seq(
      """{"doc_id":2,"text":"aa cc dd"}""").mkString("\n").getBytes)
    val stream = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema("doc_id BIGINT, text STRING").json(src)
    val out = HeavyHitters.heavyHitters(stream, capacity = 1024, shards = 4,
      minCount = 1L)
    val q = out.writeStream.format("memory").queryName("hh_spec")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("hh_spec")
      .groupBy("token").agg(max(col("count")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == Map("aa" -> 4L, "bb" -> 2L, "cc" -> 2L, "dd" -> 1L))
    // exact mode: nothing evicted, so every error is 0
    val errs = spark.table("hh_spec").agg(max(col("error"))).head().getLong(0)
    assert(errs == 0L)
  }
}
