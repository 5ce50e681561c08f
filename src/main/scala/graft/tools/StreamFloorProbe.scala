package graft.tools

import org.apache.spark.sql.functions._

/** Measures the streaming family's FIXED FLOOR (r12 verdict item 5): how
  * much of a registry streaming query's ~1.8s isolated-warm cost is Spark's
  * own start/trigger/commit machinery versus our row work or sizing.
  *
  * Probes, each drained min-of-N on a 2-file / 20-row json source (so row
  * work is ~zero and ONLY the machinery is on the clock):
  *   - `floor_stateless`: readStream → memory sink, append — stream start
  *     + 2 offset/commit log round-trips, no state store.
  *   - `floor_stateful_8` / `floor_stateful_4`: the same source through an
  *     update-mode groupBy count at 8 / 4 shuffle partitions — adds
  *     per-trigger state-store commits (the registry drain's default 8 and
  *     the small-key queries' 4).
  *   - `floor_nodata_off`: stateful_4 with
  *     `spark.sql.streaming.noDataMicroBatches.enabled=false` — AvailableNow
  *     appends a final NO-DATA micro-batch (one more offset+commit+state
  *     round-trip) that update-mode monotone-snapshot queries never need.
  *
  * Then three real registry queries (timed by [[graft.Bench.timeFamily]])
  * for the comparison line. Run: `runMain graft.tools.StreamFloorProbe`
  * (sf: [[graft.Bench.sfDir]]).
  * Findings land in OPERATORS.md next to the state-shuffle sweep. */
object StreamFloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Bench.sfDir(None)
    val spark = graft.core.Session()

    // GRAFT_FLOOR_DIR relocates the staging/checkpoint dirs (e.g. to
    // /dev/shm) to isolate how much of the floor is checkpoint-log fsync
    val base = sys.env.get("GRAFT_FLOOR_DIR") match {
      case Some(d) => java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(d), "graft_floor")
      case None => java.nio.file.Files.createTempDirectory("graft_floor")
    }
    val src = s"$base/src"
    // two files => two triggers under maxFilesPerTrigger=1, the registry
    // queries' standard multi-trigger state-carry shape
    spark.range(20).selectExpr("id AS k", "id * 2 AS v")
      .coalesce(2).write.mode("overwrite").json(src)

    var ckptSeq = 0
    def drainOnce(parts: Int, stateful: Boolean, noData: Boolean): Double = {
      ckptSeq += 1
      val ckpt = s"$base/ckpt$ckptSeq"
      val prevNoData =
        spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        noData.toString)
      val t0 = System.nanoTime()
      try {
        val in = spark.readStream.option("maxFilesPerTrigger", 1)
          .schema("k BIGINT, v BIGINT").json(src)
        val out = if (stateful) in.groupBy(pmod(col("k"), lit(8)).as("g"))
          .agg(count(lit(1)).as("n"), max("v").as("mv")) else in
        graft.streaming.Ingest.drain(spark, out.writeStream.format("memory")
          .queryName(s"floor_out$ckptSeq")
          .outputMode(if (stateful) "update" else "append")
          .option("checkpointLocation", ckpt), parts)
      } finally {
        prevNoData match {
          case Some(v) =>
            spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
          case None =>
            spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
        }
        spark.sql(s"DROP TABLE IF EXISTS floor_out$ckptSeq")
      }
      (System.nanoTime() - t0) / 1e9
    }
    def minOf(n: Int)(f: => Double): Double = Seq.fill(n)(f).min

    // one untimed warm-up so codegen/JIT/parquet-free JSON paths are hot
    drainOnce(8, stateful = true, noData = true)

    val floors = Seq(
      "floor_stateless" -> minOf(3)(drainOnce(8, stateful = false, noData = true)),
      "floor_stateful_8" -> minOf(3)(drainOnce(8, stateful = true, noData = true)),
      "floor_stateful_4" -> minOf(3)(drainOnce(4, stateful = true, noData = true)),
      // r14: the 4-vs-8 sweep never probed BELOW 4 — for the handful-of-keys
      // sketch streams the remaining commit fan-out at 4 may still dominate
      "floor_stateful_2" -> minOf(3)(drainOnce(2, stateful = true, noData = true)),
      "floor_stateful_1" -> minOf(3)(drainOnce(1, stateful = true, noData = true)),
      "floor_nodata_off_4" -> minOf(3)(drainOnce(4, stateful = true, noData = false)))

    // the registry queries under the suite bench's own setup and rule
    val queries = Seq("streaming_hll_distinct", "streaming_ingest_roundtrip",
      "streaming_kmv_distinct").map(n => n -> graft.SparkEntry.queries(n))
    graft.Bench.timingSession(spark)
    val regTimes = graft.Bench.timeFamily(spark, sfDir, queries)((n, time) =>
      n -> time().fold(Double.NaN)(_.map(_._1).min))

    println("| probe | min sec |")
    println("|---|---|")
    (floors ++ regTimes).foreach { case (n, s) => println(f"| $n | $s%.2f |") }
    graft.core.Memo.clearSession(spark)
    spark.stop()
  }
}
