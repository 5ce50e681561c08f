package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming maintenance of the KMV bottom-k (theta) sketch
  * ([[graft.pipelines.Sketches.kmvSketch]]) — the distinct-count-with-
  * set-algebra sketch kept live over an ingest stream, so crawl-overlap /
  * union estimates never need a batch rescan of what already streamed in.
  *
  * State shape: the hash space is split into `buckets` shards and each
  * shard's custom state is its own bottom-k hash set (`flatMapGroups-
  * WithState`, hard-bounded at k longs per shard — state size is
  * buckets·k, independent of stream length). Each trigger a shard folds
  * its new hashes in and emits its refreshed set.
  *
  * Why the emitted rows reduce WITHOUT a version counter: every emitted
  * hash is a true member of the stream's hash set, and any hash h that
  * belongs to the GLOBAL bottom-k has fewer than k smaller hashes
  * globally — so fewer than k smaller hashes in its own shard, so h
  * enters its shard's state on arrival and is never evicted (eviction
  * requires k smaller same-shard hashes). The union of ALL emitted rows
  * therefore contains the exact global bottom-k, and stale rows (hashes
  * later evicted) are harmless: they rank below it. Bottom-k of the
  * union IS the batch sketch, bit for bit.
  */
object KmvStream {

  /** Per-shard bottom-k state. */
  case class KState(hashes: Seq[Long])

  /** Maintain per-shard bottom-k over `valueCol` of a streaming (or
    * batch) frame; emits `(bucket, _h)` snapshot rows each trigger.
    * Reduce an Update-mode sink with [[finalize]] to the batch sketch. */
  def kmvBuckets(values: DataFrame, valueCol: Column, k: Int = 256,
                 buckets: Int = 32): DataFrame = {
    val spark = values.sparkSession
    import spark.implicits._
    val hashed = values
      .select(graft.core.OracleSafe.hashLong(
        concat(lit("kmv:"), valueCol.cast("string"))).as("_h"))
      .select(pmod(col("_h"), lit(buckets.toLong)).cast("int").as("bucket"),
        col("_h"))
      .as[(Int, Long)]
    hashed.groupByKey(_._1)
      .flatMapGroupsWithState[KState, (Int, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (b: Int, rows: Iterator[(Int, Long)], st: GroupState[KState]) =>
          val cur = st.getOption.map(_.hashes).getOrElse(Seq.empty)
          val merged = (cur.iterator ++ rows.map(_._2))
            .toSeq.distinct.sorted.take(k)
          st.update(KState(merged))
          merged.iterator.map(h => (b, h))
      }
      .toDF("bucket", "_h")
  }

  /** Reduce accumulated snapshot rows to the sketch: distinct hashes,
    * global bottom-k (`Dist.topK` — the snapshot table is small but the
    * distributed TakeOrdered holds at any size), ready for
    * [[graft.pipelines.Sketches.kmvEstimate]]. */
  def finalizeSketch(snapshots: DataFrame, k: Int = 256): DataFrame =
    graft.core.Dist.topK(snapshots.select("_h").distinct(), Seq(col("_h").asc), k)
}
