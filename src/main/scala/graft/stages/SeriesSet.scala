package graft.stages

import graft.core.{OracleSafe, TsSchema}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Whole-series-set operators: sort / head / tail / topK, union, and the binary
  * label-matched projections (divide/diff/asPercent).
  *
  * These are the reference's coordinator-only stages (PipelineStage.isCoordinatorOnly,
  * query/stage/PipelineStage.java:82) — the ones that need a global view. In
  * Spark they are the stages that introduce a shuffle; topK/head/tail rank
  * through [[graft.core.Dist.topK]], a TakeOrderedAndProject that keeps k
  * series per partition and merges them in one task — the reference's
  * shard-local-topK + coordinator re-merge (ref: TopKStage.java:33-47,108,172).
  *
  * All decisions that depend on the data (single right group, common label
  * keys, divisor cardinality) are folded into the lazy plan as 1-row broadcast
  * joins / window aggregates — no driver-side probe runs while the plan is
  * being built, so a binary projection is one job end-to-end at any scale.
  */
object SeriesSet {
  private val S = TsSchema
  /** Unambiguous separators for label match keys: \u0001 joins key/value
    * parts, \u0000 marks a missing value, \u0002 is the single-right-group
    * sentinel join key — none can occur in real label values. */
  private val Sep = "\u0001"
  private val MissingV = "\u0000"
  private val SingleKey = "\u0002"

  /** Per-series ranking key (ref: stage/util/SortComparatorUtil.java;
    * SortByType avg,current,max,min,sum,stddev,name —
    * lang/m3/common/SortByType.java:14-43; `current` = last non-null value). */
  private def seriesKeyAgg(by: String): Column = by match {
    case "avg"     => OracleSafe.dAvg(col(S.Value))
    case "sum"     => OracleSafe.dSum(col(S.Value))
    case "max"     => max(col(S.Value))
    case "min"     => min(col(S.Value))
    case "current" => expr(s"max_by(${S.Value}, ${S.Ts})")
    case "stddev" =>
      val n = count(col(S.Value)).cast(DoubleType)
      val s1 = OracleSafe.dSum(col(S.Value))
      val s2 = OracleSafe.dSum(col(S.Value) * col(S.Value))
      when(n > 1, sqrt((s2 - s1 * s1 / n) / (n - lit(1.0))))
    case other => throw new IllegalArgumentException(s"sort by: $other")
  }

  /** One row per series: `series_id`, `_key` (the sort key by `by`) and
    * `_skey` (the series key string, the tiebreaker that makes the order
    * total, so every rank is layout-independent). */
  private def seriesKeys(df: DataFrame, by: String): DataFrame =
    if (by == "name") df.select(col(S.SeriesId), TsSchema.seriesKey(col(S.LabelsCol)).as("_skey"))
      .distinct().withColumn("_key", col("_skey").cast(StringType))
    else df.groupBy(S.SeriesId)
      .agg(seriesKeyAgg(by).as("_k0"), first(TsSchema.seriesKey(col(S.LabelsCol))).as("_skey"))
      // NaN sorts BELOW any number (ref: SortComparatorUtil.java:52-63 —
      // "NaN < any number"); Spark natively orders NaN above every double,
      // so map NaN keys to null and pin nulls to the small end
      .withColumn("_key", when(isnan(col("_k0")), lit(null)).otherwise(col("_k0")))
      .drop("_k0")

  /** The series order over [[seriesKeys]]; `reverse` flips every key, so
    * the first n of the reversed order are the last n of the order. */
  private def seriesOrder(desc: Boolean, reverse: Boolean = false): Seq[Column] = {
    val key = if (desc != reverse) col("_key").desc_nulls_last else col("_key").asc_nulls_first
    Seq(key, if (reverse) col("_skey").desc else col("_skey").asc)
  }

  /** Attach `_rank` = the full series rank 1..N by the key, for `sort`.
    *
    * Scale design: the rank is [[graft.core.Dist.prefixScan]] (two-phase
    * distributed scan — running count of 1) over the tiny per-series key
    * frame. No single-partition `Window.orderBy` and no forced broadcast of
    * the rank table (AQE picks a broadcast join while it fits), so sorting
    * holds past the former ~1M-series coordinator ceiling; the reference's
    * analogous structure is shard-local partials + coordinator merge
    * (SortStage). */
  private def ranked(df0: DataFrame, by: String, desc: Boolean): DataFrame = {
    val df = df0.drop("_rank")
    val ord = seriesOrder(desc)
    val rk = graft.core.Dist.prefixScan(seriesKeys(df, by), ord, lit(1L), ord)
      // int like row_number() — the rank's public type across the engine
      .withColumn("_rank", col("_scan").cast(IntegerType))
      .select(S.SeriesId, "_rank")
    df.join(rk, Seq(S.SeriesId))
  }

  /** Keep the first `n` series by the key (the last `n` when `fromEnd`),
    * with `_rank` 1..n in the order. Bounded: [[graft.core.Dist.topK]] over
    * the per-series key frame (the reversed order for `fromEnd`), and the
    * <= n-row rank frame is broadcast back onto the series — no full rank
    * and no total count. */
  private def firstN(df0: DataFrame, n: Int, by: String, desc: Boolean,
                     fromEnd: Boolean): DataFrame = {
    val df = df0.drop("_rank")
    // a negative count keeps no series, like a rank filter `_rank <= n`
    val top = graft.core.Dist.topK(seriesKeys(df, by), seriesOrder(desc, fromEnd),
      math.max(n, 0), rankCol = "_rank")
    // the tail's survivors renumbered in the forward order (<= n rows)
    val rk = if (!fromEnd) top else top.withColumn("_rank", row_number().over(
      Window.partitionBy(graft.core.Dist.singleWindowKey(col("_skey")))
        .orderBy(seriesOrder(desc): _*)))
    df.join(broadcast(rk.select(S.SeriesId, "_rank")), Seq(S.SeriesId))
  }

  /** `sort [by] [asc|desc]` — order the series list (ref: SortStage.java:27-41).
    * Emits `_rank` so a downstream formatter can emit series in order. */
  def sortSeries(df: DataFrame, by: String = "avg", desc: Boolean = true): DataFrame =
    ranked(df, by, desc).orderBy(col("_rank"), col(S.Ts))

  /** `head n` / `tail n` — first/last n series by rank (ref: SliceStage.java:30-44),
    * with `_rank` renumbered 1..n, so a following slice takes the head of the
    * CURRENT order. A preceding `sort` stage's ranking is honored; on that
    * path the tail cutoff is a 1-row broadcast join, not a driver action, so
    * empty input yields an empty result (the reference returns empty, not an
    * error). */
  def slice(df: DataFrame, n: Int, by: String = "avg", desc: Boolean = true,
            tail: Boolean = false): DataFrame =
    if (!df.columns.contains("_rank")) firstN(df, n, by, desc, fromEnd = tail)
    else if (!tail) df.where(col("_rank") <= n)
    else {
      val cut = df.agg(greatest(coalesce(max("_rank"), lit(0)) - n, lit(0)).as("_cut"))
      df.crossJoin(broadcast(cut)).where(col("_rank") > col("_cut"))
        .withColumn("_rank", col("_rank") - col("_cut")).drop("_cut")
    }

  /** `topK k by order` (ref: TopKStage.java:33-47; defaults k=10, by=current). */
  def topK(df: DataFrame, k: Int = 10, by: String = "current", desc: Boolean = true): DataFrame =
    firstN(df, k, by, desc, fromEnd = false)

  /** `union <ref…>` — concatenate series sets, duplicates retained
    * (ref: UnionStage.java:23-30). */
  def union(dfs: Seq[DataFrame]): DataFrame =
    dfs.map(_.select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)).reduce(_ unionByName _)

  // ------------------------------------------------------------------------
  // binary projections (ref: AbstractBinaryProjectionStage)
  // ------------------------------------------------------------------------

  /** How multiple right series sharing one match group combine
    * (ref: mergeMatchingSeries overrides). */
  private sealed trait RightMerge
  /** subtract: same-group right series merge by per-timestamp SUM, a NaN
    * operand poisons the sum (ref: SubtractStage.mergeMatchingSeries:88-118). */
  private case object MergeSum extends RightMerge
  /** divide/asPercent: a group with more than one right series is an error
    * (ref: DivideStage.mergeMatchingSeries:94-104). */
  private final case class MergeSingle(op: String) extends RightMerge

  private def hasAllKeys(keys: Seq[String]): Column =
    keys.map(k => col(S.LabelsCol).getItem(k).isNotNull).reduce(_ && _)

  private def explicitKey(keys: Seq[String]): Column =
    concat_ws(Sep, keys.map(k => coalesce(col(S.LabelsCol).getItem(k), lit(MissingV))): _*)

  /** 1-row DF with `_ck` = sorted label keys present in EVERY series of both
    * operands — the reference's common-tag-key extraction when no explicit
    * keys are given (ref: AbstractBinaryProjectionStage.extractCommonTagKeys
    * :376-403, Labels.findCommonLabelNames:128-154; empty intersection falls
    * back to full label matching). Every row of a series carries identical
    * labels, so the per-row intersection equals the per-series one; the two
    * aggregations prune to the labels column only. */
  private[graft] def commonKeysDF(left: DataFrame, right: DataFrame): DataFrame = {
    val lab = left.select(col(S.LabelsCol)).unionAll(right.select(col(S.LabelsCol)))
    val tot = lab.agg(count(lit(1)).as("_tot"))
    lab.select(explode(map_keys(col(S.LabelsCol))).as("_k"))
      .groupBy("_k").agg(count(lit(1)).as("_c"))
      .crossJoin(broadcast(tot))
      .where(col("_c") === col("_tot"))
      .agg(sort_array(collect_list(col("_k"))).as("_ck"))
  }

  /** Match key from the (cross-joined) `_ck` common-key array: project the
    * label map onto the common keys; empty intersection → full label identity. */
  private def commonKeyExpr: Column =
    when(size(col("_ck")) === 0, TsSchema.seriesKey(col(S.LabelsCol)))
      .otherwise(concat_ws(Sep, transform(col("_ck"),
        k => concat(k, lit(":"), coalesce(element_at(col(S.LabelsCol), k), lit(MissingV))))))

  /** Shared prologue of every binary projection: attach the match key to both
    * sides, merge right series per group, and resolve the single-right-group
    * rule branch-free.
    *
    * Returns (left rows with `_jk`, right rows (`_jk`, timestamp, `_rv`)).
    *
    *  - a lone right SERIES matches everything even without the match keys
    *    (ref process() right.size()==1, :389-399 — before key extraction)
    *  - otherwise, explicit keys drop series missing any key on the right
    *    (grouping, ref extractGroupLabels:436-471) and, on the matching path
    *    only, on the left; no keys → the common-key projection (commonKeysDF)
    *  - a single right GROUP matches every left series with no label check
    *    (ref :341-346)
    *
    * Every data-dependent decision above reads ONE 1-row aggregate over the
    * keyed right side (`rStats`), broadcast-cross-joined where needed — the
    * plan stays shallow (the right subtree appears a bounded number of times
    * and no decision spawns nested self-joins), which keeps AQE stage count,
    * and therefore small-scale latency, flat.
    */
  private def keyed(left: DataFrame, right: DataFrame, keys: Seq[String],
                    merge: RightMerge, ckOverride: Option[DataFrame] = None,
                    extra: Seq[String] = Nil): (DataFrame, DataFrame) = {
    // `extra` columns (present on BOTH inputs) join the match key — the
    // fused mixed-step path tags rows with their branch grid so one
    // join/group/raise pass serves every branch. With `extra` present the
    // series/group counts are computed PER extra-group over the ALIGNED
    // right rows (not once over the unaligned operand): alignment can drop
    // a right series entirely (all-NaN samples are skipped, out-of-grid
    // rows clipped — Normalizer.resample), and the lone-series bypass must
    // see what each branch's divide actually joins against, exactly as the
    // unfused per-branch path would.
    val valid: Column = if (keys.isEmpty) lit(true) else hasAllKeys(keys)
    def withMk(df: DataFrame): DataFrame =
      if (keys.nonEmpty) df.withColumn("_mk", explicitKey(keys))
      else {
        val ck = broadcast(ckOverride.getOrElse(commonKeysDF(left, right)))
        df.crossJoin(ck).withColumn("_mk", commonKeyExpr).drop("_ck")
      }
    val (l0, r0) = (withMk(left), withMk(right))
    // series identity rides the ALREADY-COMPUTED series_id (64-bit hash of
    // the canonical label set) — no per-row label-string canonicalization;
    // min_by determinism is unaffected because a >1-series group raises
    // before any chosen value becomes observable
    val rKeyed = r0.withColumn("_sk", col(S.SeriesId))
    // ONE pass: the right series-id extent + the VALID group-key extent —
    // one global row, or one row per extra-group (per branch grid) in the
    // fused path. "Exactly one" is an extent whose ends are equal (and so
    // non-null: an empty side reads as not single). min/max, not
    // count_distinct: two distinct aggregates plan as an Expand whose
    // argument order is not stable from run to run.
    val extraCols = extra.map(col)
    val statAggs = Seq(
      min(col("_sk")).as("_sklo"), max(col("_sk")).as("_skhi"),
      min(when(valid, col("_mk"))).as("_mklo"), max(when(valid, col("_mk"))).as("_mkhi"))
    val rStats = broadcast(
      if (extra.isEmpty) rKeyed.agg(statAggs.head, statAggs.tail: _*)
      else rKeyed.groupBy(extraCols: _*).agg(statAggs.head, statAggs.tail: _*))
    def withStats(df: DataFrame): DataFrame =
      if (extra.isEmpty) df.crossJoin(rStats) else df.join(rStats, extra)
    val oneSeries = col("_sklo") === col("_skhi")
    val single = oneSeries || col("_mklo") === col("_mkhi")
    // rows feeding the groups: a lone series passes whole; else valid only
    val rIn = withStats(rKeyed)
      .where(oneSeries || valid)
      .withColumn("_jk", when(single, lit(SingleKey)).otherwise(col("_mk")))
    val rGrouped = merge match {
      case MergeSum =>
        rIn.groupBy(col("_jk") +: extraCols :+ col(S.Ts): _*).agg(
          when(max(when(isnan(col(S.Value)), 1).otherwise(0)) === 1, lit(Double.NaN))
            .otherwise(OracleSafe.dSum(col(S.Value))).as("_rv"))
      case MergeSingle(op) =>
        val g = rIn.groupBy(col("_jk") +: extraCols :+ col(S.Ts): _*).agg(
          expr(s"min_by(${S.Value}, _sk)").as("_rv"),
          count(lit(1)).as("_nAtTs"),
          min(col("_sk")).as("_skmin"), max(col("_sk")).as("_skmax"))
        // >1 distinct series in a group ⇔ the series-id extent differs
        // somewhere in the group; a cheap unbounded-frame window over the
        // ALREADY-REDUCED rows (no per-row buffers, no self-join)
        val w = Window.partitionBy(col("_jk") +: extraCols: _*)
        g.withColumn("_dup",
            min(col("_skmin")).over(w) =!= max(col("_skmax")).over(w))
          .withColumn("_rv",
            when(col("_dup"),
              raise_error(concat(
                lit(s"bucket for $op must have exactly one divisor, got "),
                greatest(max(col("_nAtTs")).over(w), lit(2L)).cast(StringType)))
                .cast(DoubleType))
              .otherwise(col("_rv")))
          .select(col("_jk") +: extraCols :+ col(S.Ts) :+ col("_rv"): _*)
    }
    val rj = rGrouped.select(col("_jk") +: extraCols :+ col(S.Ts) :+ col("_rv"): _*)
    // left series are label-filtered only on the matching path: with a single
    // right series/group they all project with no key check (ref :341-346)
    val lj = withStats(l0)
      .where(single || valid)
      .withColumn("_jk", when(single, lit(SingleKey)).otherwise(col("_mk")))
      .drop("_mk", "_sklo", "_skhi", "_mklo", "_mkhi")
    (lj, rj)
  }

  /** Replace/add the type label on the output (left) labels
    * (ref: DivideStage/AsPercentStage.transformLabels add type:ratios). */
  private def typed(df: DataFrame, typeLabel: Option[String]): DataFrame = typeLabel match {
    case Some(t) =>
      df.withColumn(S.LabelsCol,
          map_concat(map_filter(col(S.LabelsCol), (k, _) => k =!= "type"),
            map(lit("type"), lit(t))))
        .withColumn(S.SeriesId, TsSchema.seriesId(col(S.LabelsCol)))
    case None => df
  }

  /** Inner-timestamp binary projection (divide/asPercent: mismatched
    * timestamps are skipped — ref alignTimestampsAndProcess :152-170 with
    * hasKeepNansOption=false). */
  private def binaryInner(left: DataFrame, right: DataFrame, keys: Seq[String],
                          op: String, typeLabel: Option[String],
                          ck: Option[DataFrame] = None,
                          extra: Seq[String] = Nil)
                         (f: (Column, Column) => Column): DataFrame = {
    val (l, r) = keyed(left, right, keys, MergeSingle(op), ck, extra)
    typed(
      l.join(r, "_jk" +: extra :+ S.Ts, "inner")
        .withColumn(S.Value, f(col(S.Value), col("_rv")))
        .drop("_jk", "_rv"),
      typeLabel)
  }

  /** `divide <ref> [tags]` — 0 denominator and NaN operands yield NaN; output
    * tagged type:ratios (ref: DivideStage.processSampleValues:129-141). */
  def divide(left: DataFrame, right: DataFrame, keys: Seq[String] = Nil,
             ck: Option[DataFrame] = None): DataFrame =
    binaryInner(left, right, keys, "divide", Some("ratios"), ck)((l, r) =>
      when(r === 0.0, lit(Double.NaN)).otherwise(l / r))

  /** Mixed-step `divide`: every left branch (tagged `_bk` = branch ordinal,
    * `_stp` = its aligned grid identity "step:start") joins the matching
    * per-grid re-alignment of the ONE logical right operand (tagged `_stp`)
    * in a single fused join/group/raise pass — B branches pay one divide's
    * worth of stages instead of B. The tag must carry BOTH step and origin:
    * two branches with equal LCM step but different startMs (e.g.
    * timeshifted union arms) align onto different grids, and collapsing them
    * to one tag would pair a branch's left rows with another branch's right
    * re-alignment. Right series/group stats are computed per `_stp` inside
    * `keyed`, matching the unfused per-branch semantics exactly. */
  def divideStepped(leftAll: DataFrame, rightByGrid: DataFrame, keys: Seq[String],
                    ck: Option[DataFrame]): DataFrame =
    binaryInner(leftAll, rightByGrid, keys, "divide", Some("ratios"), ck,
      extra = Seq("_stp"))((l, r) =>
      when(r === 0.0, lit(Double.NaN)).otherwise(l / r))

  /** `asPercent <ref> [tags]` — 100*left/right, tagged type:ratios
    * (ref: AsPercentStage.processSampleValues:100-107). */
  def asPercent(left: DataFrame, right: DataFrame, keys: Seq[String] = Nil): DataFrame =
    binaryInner(left, right, keys, "asPercent/ratio", Some("ratios"))((l, r) =>
      when(r === 0.0, lit(Double.NaN)).otherwise(l * lit(100.0) / r))

  // ------------------------------------------------------------------------
  // PromQL vector matching — `on(…)` / `ignoring(…)` with optional
  // `group_left` / `group_right` many-to-one expansion. The default (no
  // clause) matching of `a <op> b` is `ignoring()` — all labels except the
  // metric name, which Prometheus excludes from every matching signature.
  // ------------------------------------------------------------------------

  /** How a PromQL binary op pairs the two vectors: match on exactly `labels`
    * (on=true) or on all labels except `labels` (on=false); groupLeft/
    * groupRight allow many-to-one with the many side on that flank, `include`
    * copies extra labels from the one side onto the output. */
  final case class VectorMatching(on: Boolean, labels: Seq[String],
                                  groupLeft: Boolean = false, groupRight: Boolean = false,
                                  include: Seq[String] = Nil)

  /** Prometheus's default matching for `a <op> b` with no clause: all labels
    * except the metric name. */
  val DefaultMatching: VectorMatching = VectorMatching(on = false, Nil)

  /** Match-key column for a VectorMatching over the labels map. Prometheus
    * appends `__name__` to the excluded set of every ignoring-mode signature
    * (promql signatureFunc), so `a / b` and `a and b` pair across metric
    * names; an `on(…)` list matches exactly what it names (including `name`
    * when written). */
  private def promMatchKey(m: VectorMatching): Column =
    if (m.on)
      concat_ws(Sep, m.labels.map(k => coalesce(col(S.LabelsCol).getItem(k), lit(MissingV))): _*)
    else {
      val excluded = m.labels :+ "name"
      TsSchema.seriesKey(map_filter(col(S.LabelsCol),
        (k, _) => excluded.map(ex => k =!= lit(ex)).reduce(_ && _)))
    }

  /** Output labels of a matched binary op — Prometheus's resultMetric
    * (promql engine): start from the many side's labels; drop the metric
    * name when the op rewrites the value (`dropName` — arithmetic and `bool`
    * comparisons; plain filter comparisons keep it); one-to-one `on(…)`
    * keeps ONLY the on-labels, one-to-one `ignoring(…)` deletes the ignored
    * labels; `include` labels copy from the one side afterwards. */
  private def promResultLabels(m: VectorMatching, dropName: Boolean): Column = {
    val oneToOne = !m.groupLeft && !m.groupRight
    val base =
      if (dropName) map_filter(col(S.LabelsCol), (k, _) => k =!= "name")
      else col(S.LabelsCol)
    if (oneToOne && m.on)
      map_filter(base, (k, _) =>
        m.labels.map(k === lit(_)).reduceOption(_ || _).getOrElse(lit(false)))
    else if (oneToOne && m.labels.nonEmpty)
      map_filter(base, (k, _) => m.labels.map(k =!= lit(_)).reduce(_ && _))
    else base
  }

  /** Prometheus-exact binary-op matching: inner join on (match key, ts); the
    * "one" side must be unique per key (duplicate → runtime error, like
    * Prometheus's "found duplicate series"), and without group_left/right the
    * many side must be unique too ("many-to-one matching must use group_…").
    * The one-side check raises as the side is scanned (matched or not —
    * Prometheus errors on a signature collision while building the one-side
    * map); the many-side check is raised only on joined rows (Prometheus
    * reports many-to-one only for match groups that actually matched).
    * Output labels follow [[promResultLabels]]. All cardinality checks are
    * window flags folded into the lazy plan — no driver-side probe. */
  def promMatch(left: DataFrame, right: DataFrame, m: VectorMatching,
                dropName: Boolean = true)
               (f: (Column, Column) => Column): DataFrame = {
    val manyIsLeft = !m.groupRight
    val (manySide, oneSide) = if (manyIsLeft) (left, right) else (right, left)
    val w = Window.partitionBy("_mk", S.Ts)
    // the ONE-side duplicate check raises while the side is scanned,
    // matched or not — Prometheus errors on a signature collision while
    // building the one-side map, before any matching happens. The raise
    // rides the JOIN KEY, not the value: join codegen defers non-key
    // columns until a probe row matches, so a value-embedded raise would
    // silently vanish for unmatched duplicates (and did, depending on
    // which side AQE picked for the hash build) — keys are hashed for
    // EVERY row on either side. The MANY-side check stays match-scoped
    // (raised on joined rows only): Prometheus reports "many-to-one" only
    // for groups that actually matched.
    val oneG = oneSide.withColumn("_mk", promMatchKey(m))
      .withColumn("_nOne", count(lit(1)).over(w))
      .withColumn("_mk",
        when(col("_nOne") > 1,
          raise_error(lit("vector matching: found duplicate series on the one side"))
            .cast(StringType))
        .otherwise(col("_mk")))
      .select(col("_mk"), col(S.Ts), col(S.Value).as("_ov"),
        col(S.LabelsCol).as("_olab"))
    val manyKeyed = manySide.withColumn("_mk", promMatchKey(m))
    val manyChecked =
      if (m.groupLeft || m.groupRight) manyKeyed.withColumn("_nMany", lit(1L))
      else manyKeyed.withColumn("_nMany", count(lit(1)).over(w))
    val joined = manyChecked.join(oneG, Seq("_mk", S.Ts), "inner")
      .withColumn("_ov",
        when(col("_nMany") > 1,
          raise_error(lit("many-to-one matching must use group_left/group_right"))
            .cast(DoubleType))
        .otherwise(col("_ov")))
    val (lv, rv) =
      if (manyIsLeft) (col(S.Value), col("_ov")) else (col("_ov"), col(S.Value))
    val out = joined.withColumn(S.Value, f(lv, rv))
      .withColumn(S.LabelsCol, promResultLabels(m, dropName))
    val withInc =
      if (m.include.isEmpty) out
      else out.withColumn(S.LabelsCol, map_concat(
          map_filter(col(S.LabelsCol),
            (k, _) => m.include.map(inc => k =!= lit(inc)).reduce(_ && _)),
          map_filter(
            map(m.include.flatMap(inc =>
              Seq(lit(inc), element_at(col("_olab"), inc))): _*),
            (_, v) => v.isNotNull)))
    withInc
      .withColumn(S.SeriesId, TsSchema.seriesId(col(S.LabelsCol)))
      .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
  }

  // ------------------------------------------------------------------------
  // PromQL set operators — match on the full label set EXCLUDING the metric
  // name at each timestamp (an instant vector is a set of (labelset → point)
  // entries; `and`/`or`/`unless` operate on labelset identity per evaluation
  // timestamp, and Prometheus's matching signature never includes
  // `__name__` — so `a and b` pairs across metric names), or on the
  // on/ignoring projection when a matching clause is given. Result labels
  // are the inputs' own, untouched (set ops never rewrite labels).
  // ------------------------------------------------------------------------

  private def withVKey(df: DataFrame, m: Option[VectorMatching] = None): DataFrame =
    df.withColumn("_vk", promMatchKey(m.getOrElse(DefaultMatching)))

  /** `l and r` — left points whose label set also has a right point at the
    * same timestamp. Semi join: no right values ever shuffle. */
  def vectorAnd(left: DataFrame, right: DataFrame,
                m: Option[VectorMatching] = None): DataFrame =
    withVKey(left, m)
      .join(withVKey(right, m).select(col("_vk"), col(S.Ts)).distinct(), Seq("_vk", S.Ts), "left_semi")
      .drop("_vk")

  /** `l unless r` — left points whose label set has NO right point at the
    * same timestamp (anti join). */
  def vectorUnless(left: DataFrame, right: DataFrame,
                   m: Option[VectorMatching] = None): DataFrame =
    withVKey(left, m)
      .join(withVKey(right, m).select(col("_vk"), col(S.Ts)).distinct(), Seq("_vk", S.Ts), "left_anti")
      .drop("_vk")

  /** `l or r` — all left points plus right points whose label set is absent
    * from the left vector at that timestamp. */
  def vectorOr(left: DataFrame, right: DataFrame,
               m: Option[VectorMatching] = None): DataFrame = {
    val sel = Seq(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
    val rOnly = withVKey(right, m)
      .join(withVKey(left, m).select(col("_vk"), col(S.Ts)).distinct(), Seq("_vk", S.Ts), "left_anti")
      .drop("_vk")
    left.select(sel.head, sel.tail: _*).unionByName(rOnly.select(sel.head, sel.tail: _*))
  }

  /** Prometheus `topk(k, v)` / `bottomk` — the k largest/smallest SAMPLES per
    * (by-group, timestamp), labels untouched. Unlike M3's topK (a per-SERIES
    * rank over the whole range), this ranks within each instant vector; the
    * per-(group, ts) row_number shuffles once on the group hash — no global
    * ordering bottleneck. Ties break on the series key for determinism; NaN
    * samples rank below every number (Prometheus sorts NaN last). */
  def topKAtTimestamp(df: DataFrame, k: Int, by: Seq[String] = Nil,
                      bottom: Boolean = false): DataFrame = {
    val grpCols = by.map(kk => coalesce(col(S.LabelsCol).getItem(kk), lit(MissingV))) :+ col(S.Ts)
    val key = when(isnan(col(S.Value)), lit(null)).otherwise(col(S.Value))
    val ord =
      if (bottom) Seq(key.asc_nulls_last, TsSchema.seriesKey(col(S.LabelsCol)).asc)
      else Seq(key.desc_nulls_last, TsSchema.seriesKey(col(S.LabelsCol)).asc)
    graft.core.Dist.topK(df, ord, k, grpCols).drop("_rn")
  }

  /** Prometheus experimental `limitk(k, v)` — at most k series per
    * (by-group, timestamp). Prometheus keeps an arbitrary-but-stable subset;
    * we keep the k smallest series keys, which is deterministic and therefore
    * oracle-checkable (documented divergence: same cardinality contract,
    * different member choice). One row_number per (group, ts) — shuffles once
    * on the group hash, no global ordering. */
  def limitKAtTimestamp(df: DataFrame, k: Int, by: Seq[String] = Nil): DataFrame = {
    val grpCols = by.map(kk => coalesce(col(S.LabelsCol).getItem(kk), lit(MissingV))) :+ col(S.Ts)
    graft.core.Dist.topK(df, Seq(TsSchema.seriesKey(col(S.LabelsCol)).asc), k, grpCols)
      .drop("_rn")
  }

  /** Prometheus experimental `limit_ratio(r, v)` — a deterministic hash
    * sample of SERIES (whole series survive or not; no per-sample flicker).
    * The fraction is the first 8 hex chars of md5(series key) scaled to
    * [0,1): reproducible in any engine, so the DuckDB oracle mirrors it
    * verbatim. Prometheus hashes labels with its own function, so the chosen
    * subset differs engine-to-engine, but the complement law holds here as
    * there: limit_ratio(r, v) ∪ limit_ratio(r-1, v) == v for r in (0,1).
    * Pure per-row predicate — no shuffle at all. */
  def limitRatio(df: DataFrame, r: Double): DataFrame = {
    val frac = graft.core.OracleSafe.hashFraction(TsSchema.seriesKey(col(S.LabelsCol)))
    if (r >= 0) df.where(frac < lit(r))
    else df.where(frac >= lit(1.0 + r))
  }

  /** Prometheus experimental `sort_by_label(v, "l1", ...)` /
    * `sort_by_label_desc` — presentation order only, values untouched.
    * A missing label sorts first (Prometheus treats it as ""). */
  def sortByLabel(df: DataFrame, labels: Seq[String], desc: Boolean): DataFrame = {
    val keys = labels.map { l =>
      val c = coalesce(col(S.LabelsCol).getItem(l), lit(""))
      if (desc) c.desc else c.asc
    } :+ (if (desc) TsSchema.seriesKey(col(S.LabelsCol)).desc
          else TsSchema.seriesKey(col(S.LabelsCol)).asc)
    df.orderBy(keys :+ col(S.Ts).asc: _*)
  }

  /** `diff <ref> [keepNans] [tags]` — left minus right over the UNION of the
    * matched pair's timestamps (ref: SubtractStage.processSampleValues:120-143
    * + alignTimestampsAndProcess :140-176):
    *  - NaN samples count as absent
    *  - both absent → no output point
    *  - keepNans=true: one side absent → no output point
    *  - keepNans=false: the absent side is 0 (left-only ts → l, right-only → -r)
    *  - left series with no matching right group emit nothing; empty right
    *    operand → empty output (ref process():389-392)
    */
  def diff(left: DataFrame, right: DataFrame, keys: Seq[String] = Nil,
           keepNans: Boolean = false): DataFrame = {
    val (l, r) = keyed(left, right, keys, MergeSum)
    // one row per (left series, join key) so right-only timestamps can be
    // attributed to each matched left series with the LEFT labels
    val lSeries = l.groupBy(col(S.SeriesId), col("_jk"))
      .agg(first(col(S.LabelsCol)).as(S.LabelsCol))
    val rExp = lSeries.join(r, Seq("_jk"))
      .select(col(S.SeriesId), col("_jk"), col(S.LabelsCol).as("_rlab"),
        col(S.Ts), col("_rv"), lit(1).as("_rm"))
    val joined = l.select(col(S.SeriesId), col("_jk"), col(S.LabelsCol), col(S.Ts), col(S.Value))
      .join(rExp, Seq(S.SeriesId, "_jk", S.Ts), "full_outer")
    // left series with no matching right group emit nothing (ref process()
    // :389-392). A matched series has ≥1 rExp row — every right group has at
    // least one sample — so one unbounded max over the series partition
    // detects it; this replaces a former left-semi join that re-evaluated the
    // whole keyed-right subtree a third time (the diff plan's cost ceiling).
    val matched = max(col("_rm")).over(Window.partitionBy(S.SeriesId)) === 1
    val lv = when(isnan(col(S.Value)), lit(null)).otherwise(col(S.Value))
    val rv = when(isnan(col("_rv")), lit(null)).otherwise(col("_rv"))
    val keep = if (keepNans) lv.isNotNull && rv.isNotNull
               else lv.isNotNull || rv.isNotNull
    joined
      .withColumn("_matched", matched)
      .withColumn(S.LabelsCol, coalesce(col(S.LabelsCol), col("_rlab")))
      .where(col("_matched") && keep)
      .withColumn(S.Value, coalesce(lv, lit(0.0)) - coalesce(rv, lit(0.0)))
      .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
  }
}
