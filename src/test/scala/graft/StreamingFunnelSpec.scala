package graft

import graft.streaming.StreamingFunnel
import org.apache.spark.sql.functions._

/** The streaming funnel's defining property: a LATE earlier step-1 event
  * re-derives the whole cascade (first-touch moves, the window moves, later
  * steps can be disabled) — snapshots are not append-only in the value, only
  * the n_seen counter is monotone. */
class StreamingFunnelSpec extends SparkTestBase {
  import spark.implicits._

  private def run(batches: Seq[Seq[(Long, String, Long)]]): Seq[(Long, Long, Int)] = {
    val dir = tempDir("sfunnel_spec")
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("user_id", "event_type", "tm").coalesce(1)
        .write.json(s"$dir/src/b$i")
    }
    // one file per trigger, in batch order (file mtime ordering is not
    // guaranteed, so write each batch to its own subdir and glob them)
    val stream = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema("user_id BIGINT, event_type STRING, tm BIGINT")
      .json(s"$dir/src/*")
    val name = s"sfunnel_spec_${System.nanoTime()}"
    val q = StreamingFunnel.funnel(stream, Seq("view", "click"), windowMs = 100L)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
      .groupBy("user_id")
      .agg(expr("max_by(struct(ts, reached), n_seen)").as("f"),
        max("n_seen").as("n"))
      .select(col("user_id"), col("n"), col("f.reached"))
      .as[(Long, Long, Int)].collect().sorted.toSeq
  }

  test("a late earlier first-touch re-derives and can DISABLE a completed funnel") {
    // trigger 1: view@100, click@150 -> reached 2.
    // trigger 2: a LATE view@0 arrives -> first touch moves to 0, window
    // [0,100]; the click@150 is now outside -> reached drops to 1.
    val out = run(Seq(
      Seq((1L, "view", 100L), (1L, "click", 150L)),
      Seq((1L, "view", 0L))))
    assert(out == Seq((1L, 3L, 1)))
  }

  test("a late click can COMPLETE a funnel opened in an earlier trigger") {
    val out = run(Seq(
      Seq((2L, "view", 100L)),
      Seq((2L, "click", 160L))))
    assert(out == Seq((2L, 2L, 2)))
  }

  test("a BELOW-anchor click survives state pruning: a later, earlier " +
       "first-touch resurrects it") {
    // trigger 1: view@100 (window [100,200]) and click@60 — the click is
    // BEFORE the first touch, so reached 1. The r14 state bound prunes
    // timestamps above anchor+window (they can never match again, the
    // anchor only decreases) — but below-anchor events like this click
    // must STAY in state:
    // trigger 2: a LATE view@50 moves the window to [50,150] and the
    // retained click@60 completes the funnel. Over-pruning the low side
    // would leave reached at 1.
    val out = run(Seq(
      Seq((3L, "view", 100L), (3L, "click", 60L)),
      Seq((3L, "view", 50L))))
    assert(out == Seq((3L, 3L, 2)))
  }

  test("an ABOVE-window click is pruned from state AND stays immaterial: " +
       "anchor moves keep it out forever") {
    // trigger 1: view@100, click@250 — click is past window [100,200],
    // reached 1, and the state bound drops it (anchor+window can only
    // decrease, so it can never match).
    // trigger 2: late view@0 → window [0,100]; click@250 still outside
    // (as it must be — upper edges only move DOWN). reached stays 1.
    val out = run(Seq(
      Seq((4L, "view", 100L), (4L, "click", 250L)),
      Seq((4L, "view", 0L))))
    assert(out == Seq((4L, 3L, 1)))
  }

  test("streaming cohorts: a late earlier event re-assigns the cohort") {
    val dir = tempDir("scohort_spec")
    // trigger A: periods 5 and 7 seen -> cohort 5, offsets {0, 2}
    // trigger B: a LATE period-2 event -> cohort moves to 2, offsets {0,3,5}
    Seq((1L, 520L), (1L, 790L)).toDF("user_id", "tm")
      .coalesce(1).write.json(s"$dir/src/a")
    Seq((1L, 250L)).toDF("user_id", "tm")
      .coalesce(1).write.json(s"$dir/src/b")
    val stream = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema("user_id BIGINT, tm BIGINT")
      .json(s"$dir/src/*")
    val name = s"scohort_spec_${System.nanoTime()}"
    val q = graft.streaming.StreamingCohorts.cohorts(stream, periodMs = 100L)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    val fin = spark.table(name)
      .groupBy("user_id")
      .agg(expr("max_by(struct(cohort, periods), n_seen)").as("s"))
      .select(col("s.cohort"), col("s.periods"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    assert(fin == Seq((2L, Seq(2L, 5L, 7L))))
  }

  test("streaming transitions: a late inserted event SPLITS an existing pair") {
    val dir = tempDir("strans_spec")
    // trigger A: a@10 -> c@30 pairs as (a,c)
    // trigger B: a LATE b@20 arrives between them -> (a,b),(b,c)
    Seq((1L, 10L, 1L, "a"), (1L, 30L, 3L, "c"))
      .toDF("user_id", "tm", "event_id", "event_type")
      .coalesce(1).write.json(s"$dir/src/a")
    Seq((1L, 20L, 2L, "b"))
      .toDF("user_id", "tm", "event_id", "event_type")
      .coalesce(1).write.json(s"$dir/src/b")
    val stream = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema("user_id BIGINT, tm BIGINT, event_id BIGINT, event_type STRING")
      .json(s"$dir/src/*")
    val name = s"strans_spec_${System.nanoTime()}"
    val q = graft.streaming.StreamingTransitions.transitions(stream)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    val fin = spark.table(name)
      .groupBy("user_id")
      .agg(expr("max_by(struct(froms, tos), n_seen)").as("s"))
      .select(col("s.froms"), col("s.tos"))
      .collect().map(r => (r.getSeq[String](0), r.getSeq[String](1))).toSeq
    assert(fin == Seq((Seq("a", "b"), Seq("b", "c"))), s"got $fin")
  }
}
