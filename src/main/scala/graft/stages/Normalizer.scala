package graft.stages

import graft.core.{OracleSafe, QueryGrid, StepMeta, TsSchema}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Step normalization for combining series with different resolutions —
  * the reference's TimeSeriesNormalizer (query/aggregator/
  * TimeSeriesNormalizer.java:16-45): before a binary projection, series are
  * resampled onto a common grid whose step is the LCM (or MAX) of the input
  * steps; samples falling into one target slot are merged by a consolidation
  * function (ConsolidationFunction.java:22-123 — AVG default, SUM, MAX, MIN,
  * LAST; TYPE_AWARE = SUM for `type:counter` series else AVG).
  */
object Normalizer {
  private val S = TsSchema

  def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
  def lcm(a: Long, b: Long): Long = a / gcd(a, b) * b

  /** Resample a canonical samples DF onto the slots of `targetGrid` inside
    * its range, merging the samples of each slot with `agg` — an
    * [[OracleSafe.seriesAgg]] aggregate or [[typeAware]]. One shuffle on
    * (series, slot). With `skipNaN=true` (the TimeSeriesNormalizer behavior — NaN samples skipped,
    * an all-NaN slot emits nothing; ref: TimeSeriesNormalizer.java:330-371);
    * the fetch-unfold path passes `skipNaN=false` because the unfold keeps
    * the latest sample per slot NaN included (TimeSeriesUnfoldAggregator
    * :305-320 has no NaN filter). */
  def resample(df: DataFrame, targetGrid: QueryGrid,
               agg: Column = OracleSafe.seriesAgg("avg"), skipNaN: Boolean = true): DataFrame = {
    val in = if (skipNaN) df.where(col(S.Value).isNotNull && !isnan(col(S.Value))) else df
    targetGrid.consolidate(in, agg).where(targetGrid.contains(col(S.Ts)))
  }

  /** TYPE_AWARE consolidation: SUM for series labeled type:counter or
    * type:counts (case-insensitive), AVG otherwise
    * (ref: ConsolidationFunction.TYPE_AWARE, ConsolidationStrategy). */
  def typeAware: Column =
    when(first(lower(col(S.LabelsCol).getItem("type")).isin("counter", "counts")),
      OracleSafe.dSum(col(S.Value))).otherwise(OracleSafe.dAvg(col(S.Value)))

  /** Normalize N operands onto their common grid the way the reference runs
    * TimeSeriesNormalizer (LCM step, AVG consolidation — ref:
    * TimeSeriesNormalizer.java:16-45,188-268): common step = LCM of all
    * steps, or their MAX when the LCM exceeds the query range (60 s and
    * 77 s steps over 200 s align on 77 s, not on one 4620 s slot), bucket
    * origin = min of the operand origins. An operand already on the
    * target grid (same step, origin a step-multiple away) is passed through
    * untouched, like the reference's already-aligned check
    * (AbstractBinaryProjectionStage.java:295-298). */
  def alignAll(ops: Seq[(DataFrame, StepMeta)], endMs: Long): (Seq[DataFrame], StepMeta) = {
    val metas = ops.map(_._2)
    val start = metas.map(_.startMs).min
    val step0 = metas.head.stepMs
    if (metas.forall(m => m.stepMs == step0 && (m.startMs - start) % step0 == 0))
      (ops.map(_._1), StepMeta(step0, start))
    else {
      val steps = metas.map(_.stepMs)
      val lcmStep = steps.reduce(lcm)
      val step = if (lcmStep > endMs - start) steps.max else lcmStep
      val end = start + ((endMs - start + step - 1) / step) * step
      val target = QueryGrid(start, end, step)
      (ops.map { case (df, m) =>
        if (m.stepMs == step && (m.startMs - start) % step == 0) df
        else resample(df, target)
      }, StepMeta(step, start))
    }
  }

  /** Normalize the two operands of a binary projection when their compile-time
    * steps differ (PAIRWISE/BATCH inside AbstractBinaryProjectionStage
    * .java:266-317). */
  def alignOperands(left: DataFrame, lm: StepMeta, right: DataFrame, rm: StepMeta,
                    endMs: Long): (DataFrame, DataFrame, StepMeta) = {
    val (dfs, m) = alignAll(Seq((left, lm), (right, rm)), endMs)
    (dfs(0), dfs(1), m)
  }

  /** Collapse union branches to one DataFrame WITHOUT resampling — the
    * reference's UnionStage concatenates series keeping each one's own step
    * (UnionStage.java:23-30). When branch steps disagree the combined meta is
    * the conservative LCM/min-origin pair, so a later step-sensitive stage
    * that cannot see per-branch metas still makes a sane decision. */
  def collapse(bs: Seq[(DataFrame, StepMeta)]): (DataFrame, StepMeta) =
    if (bs.lengthCompare(1) == 0) bs.head
    else {
      val metas = bs.map(_._2)
      val meta =
        if (metas.distinct.lengthCompare(1) == 0) metas.head
        else StepMeta(metas.map(_.stepMs).reduce(lcm), metas.map(_.startMs).min)
      (SeriesSet.union(bs.map(_._1)), meta)
    }

  /** Collapse union branches for a grouping aggregation: the reference's
    * coordinator normalizes each group's series with MAX step strategy and
    * TYPE_AWARE consolidation before aggregating (AbstractGroupingStage
    * .java:122-123,208-222). Branch-level approximation of the per-group
    * normalize: every series of a branch shares the branch's step, so
    * resampling whole branches is exact whenever a group draws from all
    * branches (the common case); a group fed by a strict subset of branches
    * would see a slightly coarser grid than the reference's per-group MAX. */
  def collapseGrouping(bs: Seq[(DataFrame, StepMeta)], endMs: Long): (DataFrame, StepMeta) = {
    val metas = bs.map(_._2)
    if (bs.lengthCompare(1) == 0 || metas.distinct.lengthCompare(1) == 0) collapse(bs)
    else {
      val step = metas.map(_.stepMs).max
      val start = metas.map(_.startMs).min
      val target = QueryGrid(start, start + ((endMs - start + step - 1) / step) * step, step)
      val dfs = bs.map { case (df, m) =>
        if (m.stepMs == step && (m.startMs - start) % step == 0) df
        else resample(df, target, typeAware)
      }
      (SeriesSet.union(dfs), StepMeta(step, start))
    }
  }
}
