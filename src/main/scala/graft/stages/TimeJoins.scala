package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-aware joins for event/sample streams — the two classic operators a
  * time-series engine needs that vanilla SQL joins express only as
  * scale-killing inequality joins.
  *
  * Both are implemented shuffle-minimal:
  *
  *  - [[asofJoin]] never builds a join at all: both sides are unioned and a
  *    single keyed window scan carries the most recent right-side payload
  *    forward onto each left row ("last value at-or-before"). One shuffle on
  *    the key, zero row amplification, linear at any scale — the standard
  *    distributed as-of shape (a sort-merge as-of without the merge pass).
  *  - [[rangeJoin]] buckets time to the window width and equi-joins on
  *    (key, bucket): each left row probes exactly two candidate buckets, so
  *    the shuffle is ∝ 2·|left| + |right| and the exact `[t-w, t]` predicate
  *    filters inside the hash join — never a BroadcastNestedLoop/cartesian.
  */
object TimeJoins {

  /** AS-OF JOIN (left semantics): each left row picks the latest right row
    * with `rightTs <= leftTs` per `keys` — or, with `forward = true`, the
    * EARLIEST right row with `rightTs >= leftTs` (pandas merge_asof's
    * direction="forward") — or nulls when none exists (or the match is
    * further than `toleranceMs`). Right payload columns appear prefixed
    * with `rightPrefix`; the matched right timestamp as
    * `rightPrefix + rightTs`.
    *
    * Ordering is total: at equal timestamps the right row sorts first (so a
    * same-instant sample IS visible, inclusive in both directions), and
    * right rows tie-break on timestamp only — callers wanting a
    * deterministic pick among same-key-same-ts right duplicates should
    * dedup first.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String = "ts", rightTs: String = "ts",
               toleranceMs: Option[Long] = None,
               rightPrefix: String = "r_",
               forward: Boolean = false): DataFrame = {
    val payload = right.columns.filterNot(c => keys.contains(c) || c == rightTs).toSeq
    val leftCols = left.columns.filterNot(c => keys.contains(c) || c == leftTs).toSeq
    // common shape: keys, _ats, _side, left payload (null on right rows),
    // right payload (null on left rows), _rts (right rows' own ts)
    val l = left.select(
      keys.map(col) ++
        Seq(col(leftTs).cast("long").as("_ats"), lit(1).as("_side"),
          lit(null).cast("long").as("_rts")) ++
        leftCols.map(col) ++
        payload.map(c => lit(null).cast(right.schema(c).dataType).as(s"_r_$c")): _*)
    val r = right.select(
      keys.map(col) ++
        Seq(col(rightTs).cast("long").as("_ats"), lit(0).as("_side"),
          col(rightTs).cast("long").as("_rts")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payload.map(c => col(c).as(s"_r_$c")): _*)
    // forward = scan the timeline in reverse: the nearest right AT-OR-AFTER
    // each left row is the last right seen in descending-ts order
    val tsOrd = if (forward) col("_ats").desc else col("_ats").asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tsOrd, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the matched right row is carried as ONE struct (null on left rows) —
    // per-column last(ignoreNulls) windows would backfill a NULL payload
    // field from an OLDER right row, producing a row that never existed
    val rrec = struct(
      col("_rts").as("rts") +: payload.map(c => col(s"_r_$c").as(c)): _*)
    val carried = l.unionByName(r)
      .withColumn("_m",
        last(when(col("_side") === 0, rrec), ignoreNulls = true).over(w))
    val gap = if (forward) col("_m.rts") - col("_ats") else col("_ats") - col("_m.rts")
    val fresh = toleranceMs match {
      case Some(t) => col("_m").isNotNull && (gap <= t)
      case None    => col("_m").isNotNull
    }
    carried.where(col("_side") === 1)
      .select(
        keys.map(col) ++ Seq(col("_ats").as(leftTs)) ++ leftCols.map(col) ++
          Seq(when(fresh, col("_m.rts")).as(s"$rightPrefix$rightTs")) ++
          payload.map(c => when(fresh, col(s"_m.$c")).as(s"$rightPrefix$c")): _*)
  }

  /** RANGE JOIN: every (left, right) pair per `keys` with
    * `rightTs ∈ [leftTs - windowMs, leftTs]`, as a bucketed equi-join.
    * Output = all left columns + prefixed right payload columns, one row per
    * matching pair (inner semantics — lefts with no match drop out; wrap
    * with a left join on the caller side if presence is needed). */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                windowMs: Long, leftTs: String = "ts", rightTs: String = "ts",
                rightPrefix: String = "r_"): DataFrame = {
    require(windowMs > 0, "rangeJoin window must be positive")
    val payload = right.columns.filterNot(c => keys.contains(c) || c == rightTs).toSeq
    // a [t-w, t] window spans at most two w-wide buckets: probe both
    val lb = left.withColumn("_bkt",
      explode(array(floor(col(leftTs) / windowMs) - 1, floor(col(leftTs) / windowMs))))
    val rb = right.select(
      keys.map(col) ++ Seq(floor(col(rightTs) / windowMs).as("_bkt"),
        col(rightTs).as(s"$rightPrefix$rightTs")) ++
        payload.map(c => col(c).as(s"$rightPrefix$c")): _*)
    lb.join(rb, keys :+ "_bkt")
      .where(col(s"$rightPrefix$rightTs") >= col(leftTs) - windowMs &&
        col(s"$rightPrefix$rightTs") <= col(leftTs))
      .drop("_bkt")
  }

  /** STREAMING range join: the same `[t-w, t]` pairing over two live
    * streams — Spark's stream-stream inner join with watermarks on BOTH
    * sides, so join state is bounded: a buffered row is dropped as soon as
    * the other stream's watermark passes the end of its match interval.
    * Inner semantics; results emit as matches arrive (no output delay).
    * Epoch-millis `ts` columns, like the batch form. */
  def streamingRangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                         windowMs: Long, lateMs: Long,
                         leftTs: String = "ts", rightTs: String = "ts",
                         rightPrefix: String = "r_"): DataFrame = {
    require(windowMs > 0, "rangeJoin window must be positive")
    val payload = right.columns.filterNot(c => keys.contains(c) || c == rightTs).toSeq
    val l = left
      .withColumn("_lt", timestamp_millis(col(leftTs)))
      .withWatermark("_lt", s"$lateMs milliseconds")
    val r = right.select(
        keys.map(c => col(c).as(s"_rk_$c")) ++
          Seq(col(rightTs).as(s"$rightPrefix$rightTs")) ++
          payload.map(c => col(c).as(s"$rightPrefix$c")): _*)
      .withColumn("_rt", timestamp_millis(col(s"$rightPrefix$rightTs")))
      .withWatermark("_rt", s"$lateMs milliseconds")
    val cond = keys.map(k => col(k) === col(s"_rk_$k")).reduce(_ && _) &&
      col("_rt") >= col("_lt") - expr(s"INTERVAL $windowMs MILLISECONDS") &&
      col("_rt") <= col("_lt")
    l.join(r, cond, "inner")
      .drop("_lt" +: "_rt" +: keys.map(k => s"_rk_$k"): _*)
  }

  /** FUNNEL analysis: for each key (user), the earliest first-touch
    * completion of an ordered step sequence within `windowMs` of step 1 —
    * the product-analytics staple (view → click → purchase). Semantics are
    * the deterministic cascading minimum: t₁ = the key's earliest step-1
    * event; tᵢ = the earliest step-i event with tᵢ ≥ tᵢ₋₁ and
    * tᵢ ≤ t₁ + window. A missing step leaves every later step null (null
    * comparisons drop all candidates), `reached` counts the contiguous
    * prefix attained. Only keys that enter the funnel (have step 1) are
    * emitted.
    *
    * Distributed shape: ONE shuffle — groupBy key collecting a sorted
    * per-step timestamp array (state bounded by a single key's activity,
    * like sessionization) — then the cascade is per-row array arithmetic:
    * no self-joins, no per-step scans, no inequality join. Steps emit as
    * `ts_1 … ts_n` (epoch millis) plus `reached`. */
  def funnel(events: DataFrame, steps: Seq[String], windowMs: Long,
             keyCol: String = "user_id", typeCol: String = "event_type",
             tsCol: String = "tm"): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    require(windowMs > 0, "funnel window must be positive")
    val arrs = steps.zipWithIndex.map { case (s, i) =>
      sort_array(collect_list(when(col(typeCol) === s, col(tsCol))))
        .as(s"_a$i")
    }
    // the step filter is an IN-list the scan can prune on — the funnel
    // reads only its own event types, not the stream
    val byKey = events.where(col(typeCol).isin(steps: _*))
      .groupBy(col(keyCol)).agg(arrs.head, arrs.tail: _*)
    // try_: an empty step-1 array must yield null (ANSI element_at throws)
    val t0 = try_element_at(col("_a0"), lit(1))
    val ts = steps.indices.tail.scanLeft(t0) { (prev, i) =>
      array_min(filter(col(s"_a$i"),
        x => x >= prev && x <= t0 + lit(windowMs)))
    }
    val withTs = ts.zipWithIndex.foldLeft(byKey) { case (df, (t, i)) =>
      df.withColumn(s"ts_${i + 1}", t)
    }
    // ascending fold nests the HIGHEST step as the outermost test:
    // reached = max i with ts_i non-null
    val reached = steps.indices
      .foldLeft(lit(0)) { (acc, i) =>
        when(col(s"ts_${i + 1}").isNotNull, lit(i + 1)).otherwise(acc)
      }
    withTs
      .where(col("ts_1").isNotNull)
      .withColumn("reached", reached)
      .select(col(keyCol) +: steps.indices.map(i => col(s"ts_${i + 1}")) :+
        col("reached"): _*)
  }

  /** RETENTION COHORTS: group keys (users) by the period of their FIRST
    * event, then count how many of each cohort are active again N periods
    * later — the other product-analytics staple next to [[funnel]]. Emits
    * `(cohort, period_offset, n_active)` for every offset ≥ 0 observed
    * (offset 0 = the cohort's size: every member is active in its own
    * first period by definition).
    *
    * Distributed shape: first-touch is one groupBy-key min; activity
    * periods dedupe per (key, period) in the same aggregation pass; the
    * cohort join broadcasts nothing wider than the first-touch frame keyed
    * by the user — two keyed shuffles total, no window, no self-join of
    * the raw events. */
  def retentionCohorts(events: DataFrame, periodMs: Long,
                       keyCol: String = "user_id",
                       tsCol: String = "tm"): DataFrame = {
    require(periodMs > 0, "retention period must be positive")
    // floor division (not integer DIV, which truncates toward zero) so
    // pre-epoch timestamps land in the right period
    val periodFloor = floor(col(tsCol) / lit(periodMs.toDouble))
      .cast(org.apache.spark.sql.types.LongType)
    val active = events
      .select(col(keyCol), periodFloor.as("_p")).distinct()
    val cohorts = active.groupBy(col(keyCol)).agg(min(col("_p")).as("cohort"))
    active.join(cohorts, Seq(keyCol))
      .groupBy(col("cohort"), (col("_p") - col("cohort")).as("period_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** First-order Markov TRANSITION MATRIX of the event stream: for every
    * consecutive pair of events of the same key (time order, `tieCol`
    * breaking equal timestamps deterministically), count (from → to) and
    * normalize per from-state. The per-key lead is a key-partitioned
    * window (bounded partitions); the matrix itself is |types|² rows, so
    * the normalizing window is negligible at any corpus size. */
  def transitionMatrix(events: DataFrame, keyCol: String = "user_id",
                       tsCol: String = "tm", typeCol: String = "event_type",
                       tieCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events.select(col(keyCol), col(tsCol), col(tieCol), col(typeCol))
      .withColumn("_to", lead(col(typeCol), 1).over(w))
      .where(col("_to").isNotNull)
    pairs.groupBy(col(typeCol).as("from_type"), col("_to").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
  }

  /** Top-N most common user PATHS: each key's first `pathLen` event types
    * in time order joined with '>', counted across keys. Per-key window →
    * one row per key → distributed TakeOrdered for the top-N (no global
    * sort materialization). `collect_list` order is non-deterministic, so
    * the path is rebuilt from an `array_sort` over (rank, type) structs. */
  def topPaths(events: DataFrame, pathLen: Int, topN: Int,
               keyCol: String = "user_id", tsCol: String = "tm",
               typeCol: String = "event_type",
               tieCol: String = "event_id"): DataFrame = {
    require(pathLen >= 1 && topN >= 1, "pathLen and topN must be >= 1")
    val paths = graft.core.Dist.topK(
        events.select(col(keyCol), col(tsCol), col(tieCol), col(typeCol)),
        Seq(col(tsCol), col(tieCol)), pathLen, Seq(col(keyCol)))
      .groupBy(col(keyCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("_rn"), col(typeCol).as("_t")))),
          x => x.getField("_t")),
        ">").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(topN)
  }
}
