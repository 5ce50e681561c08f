package graft.lang.m3

import graft.core.{QueryGrid, StepMeta}
import graft.stages._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** M3QL → DataFrame compiler.
  *
  * Mirrors the reference's translate path (M3OSTranslator → plan →
  * SourceBuilderVisitor, lang/m3/dsl/M3OSTranslator.java:38-63) collapsed to a
  * single fold: the reference's shard/coordinator stage split, partial states
  * and buckets_path wiring all disappear into Catalyst. What is kept is the
  * plan-time **time-buffer arithmetic** (Context.timeBuffer/timeShift,
  * SourceBuilderVisitor.java:192-227): moving/perSecondRate widen the scan
  * range backwards, timeshift shifts it, and a final truncate clips back to
  * the query grid (TruncateStage injection, SourceBuilderVisitor.java:329-339).
  *
  * Each pipeline also carries compile-time StepMeta (step + bucket origin) —
  * the step only changes at `summarize` — so binary projections can
  * step-normalize mismatched operands exactly where the reference runs
  * TimeSeriesNormalizer (AbstractBinaryProjectionStage PAIRWISE/BATCH; diff
  * is NormalizationStrategy.NONE and is left unnormalized).
  *
  * Macros become named DataFrames, memoized when referenced more than once
  * — the reference's unfold-cache CSE (SourceBuilderVisitor.java:372-394).
  */
final class Compiler(spark: SparkSession, samples: DataFrame, grid: QueryGrid) {

  /** A pipeline value: one entry per union branch, each with its own step
    * metadata — the reference carries step on every TimeSeries and a union
    * preserves per-series steps (UnionStage.java:23-30). Branches stay
    * separate until a step-sensitive stage consumes them: binary projections
    * normalize PAIRWISE/BATCH (AbstractBinaryProjectionStage.java:266-317),
    * grouping aggregations normalize MAX/TYPE_AWARE
    * (AbstractGroupingStage.java:122,208-222), everything else collapses to a
    * plain union. */
  private type Branches = Seq[(DataFrame, StepMeta)]

  /** Parser-recognized but unimplemented in the reference — parity demands the
    * same failure (lang/m3/common/Constants.java:39-70). */
  private val unimplemented = Set(
    "aliasSub", "aliasByDistinctTags", "aliasByBucket", "aliasByHistogramBucket",
    "anomalies", "asBurnRate", "asMultiBurnRate", "burnRate", "burnRateMultiplier",
    "constantLine", "divideWhen", "histogramCDF", "jainCP", "mockFetchLine",
    "mockFetchLinear", "mockFetchPeriodic", "multiBurnRate", "nonNegativeDerivative",
    "nPercentile", "promHistogramPercentile", "removeAbovePercentile",
    "removeBelowPercentile", "setDiff", "showAnomalyThresholds", "stdev",
    "sustainedAbove")

  private var macroNames: Set[String] = Set.empty

  def compile(q: Query): DataFrame = {
    val macroDefs = q.macros.toMap
    macroNames = macroDefs.keySet
    // count references for cache decisions
    val refCounts = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def countRefs(p: Pipeline): Unit = {
      p.source match { case MacroSource(n) => refCounts(n) += 1; case _ => }
      p.stages.foreach(_.args.foreach {
        case RefArg(n) => refCounts(n) += 1
        case _         =>
      })
    }
    (q.macros.map(_._2) :+ q.main).foreach(countRefs)

    val compiled = collection.mutable.Map.empty[String, Branches]
    def macroDF(name: String): Branches =
      compiled.getOrElseUpdate(name, {
        val p = macroDefs.getOrElse(name,
          throw new IllegalArgumentException(s"undefined macro: $name"))
        val bs = compilePipeline(p, macroDF)
        if (refCounts(name) > 1) bs.map { case (df, m) => (Compiler.shared(df), m) } else bs
      })

    Normalizer.collapse(compilePipeline(q.main, macroDF))._1
  }

  /** (extra scan lookback, accumulated timeshift) for a stage list
    * (ref: SourceBuilderVisitor.java:192-227,522-556,780-792). */
  private def buffers(stages: List[StageCall]): (Long, Long) =
    stages.foldLeft((0L, 0L)) { case ((buf, shift), st) =>
      st.name match {
        case "moving" | "movingAverage" | "movingMax" | "movingMedian" |
             "movingMin" | "movingSum" | "perSecondRate" =>
          val w = st.args.collectFirst { case DurArg(ms) => ms }.getOrElse(grid.stepMs)
          (buf + w, shift)
        case "timeshift" =>
          val s = st.args.collectFirst { case DurArg(ms) => ms }.getOrElse(0L)
          (buf, shift + s)
        case _ => (buf, shift)
      }
    }

  private def compilePipeline(p: Pipeline, macroDF: String => Branches,
                              extraBuf: Long = 0L, extraShift: Long = 0L,
                              clip: Boolean = true,
                              gate: DataFrame => DataFrame = identity): Branches = {
    val (buf0, shift0) = buffers(p.stages)
    val buf = buf0 + extraBuf
    val shift = shift0 + extraShift
    val widened = QueryGrid(grid.startMs - buf - shift, grid.endMs - shift, grid.stepMs)
    val src: Branches = p.source match {
      case FetchSource(filters) =>
        // unfold rebucket: fetched samples are floor-aligned onto the query
        // step grid keeping the LATEST sample per aligned timestamp —
        // last-wins, not an average (ref: TimeSeriesUnfoldAggregator
        // :305-320 "only keep the latest sample for each aligned timestamp";
        // validated by m3ql_step_size_from_index_settings_rest_it.yaml)
        Seq((Normalizer.resample(Fetch.fetch(gate(samples), filters, widened), widened,
          graft.core.OracleSafe.seriesAgg("last"), skipNaN = false),
          StepMeta(grid.stepMs, widened.startMs)))
      case MockFetchSource(values, tags) =>
        Seq((Fetch.mockFetch(spark, widened, values, tags),
          StepMeta(grid.stepMs, widened.startMs)))
      case GroupSource(gp) =>
        compilePipeline(gp, macroDF, buf, shift, clip = false, gate)
      case MacroSource(n) => macroDF(n)
    }
    // ROLLUP TIER ROUTING: `fetch … | summarize …` whose grid aligns to a
    // session-registered rollup tier (streaming.Rollup.registerTier) reads
    // the pre-aggregated moments scan instead of raw samples — plan-time
    // arithmetic only, with fallback to the raw path on any misalignment
    // or non-reconstructable aggregate
    val (src2, stages2) = (p.source, p.stages) match {
      case (FetchSource(filters), st :: rest) if st.name == "summarize" =>
        routedSummarize(filters, st, widened, gate) match {
          case Some(branch) => (Seq(branch), rest)
          case None         => (src, p.stages)
        }
      case _ => (src, p.stages)
    }
    // stages run against the WIDENED grid; a union-group at position k inherits
    // the buffers of the stages AFTER it (its branch feeds the same tail); the
    // final truncate clips back (ref: SourceBuilderVisitor.java:329-339)
    val out = stages2.zipWithIndex.foldLeft(src2) {
      case (bs, (StageCall("__group", List(PipeArg(inner))), k)) =>
        val (sb, ss) = buffers(stages2.drop(k + 1))
        bs ++ compilePipeline(inner, macroDF, sb + extraBuf, ss + extraShift, clip = false, gate)
      case (bs, (st, _)) => applyStage(bs, st, widened, macroDF)
    }
    if (clip && (buf > 0 || shift > 0))
      out.map { case (df, m) => (Temporal.truncate(df, grid), m) }
    else out
  }

  /** The rollup-tier branch for `fetch … | summarize interval agg`, when a
    * tier is registered for this session AND the routing is exact: the
    * interval is a multiple of the rollup resolution, the (widened) scan
    * bounds are interval multiples (so epoch-floored buckets equal
    * origin-aligned ones and no partial bucket straddles an edge), buckets
    * are epoch-aligned (no alignToFrom), and the aggregate reconstructs
    * losslessly from the stored moments. Label filters push onto the rollup
    * scan the same way fetch pushes them onto the raw scan. */
  /** The ONE summarize argument parse — (intervalMs, agg, alignToFrom) —
    * shared by the raw stage and the rollup-tier routing, so the two paths
    * cannot drift on defaults or argument positions. Raises on a missing
    * interval exactly like the other duration args. */
  private def summarizeArgs(st: StageCall): (Long, String, Boolean) = {
    val interval = st.args.headOption.collect {
      case DurArg(ms) => ms
      case NumArg(v)  => v.toLong
    }.getOrElse(
      throw new IllegalArgumentException(s"${st.name}: missing duration arg 0"))
    (interval,
      if (st.args.length > 1) str(st.args(1)) else "avg",
      st.args.length > 2 && str(st.args(2)) == "true")
  }

  private def routedSummarize(filters: Seq[Fetch.LabelFilter], st: StageCall,
                              widened: QueryGrid,
                              gate: DataFrame => DataFrame): Option[(DataFrame, StepMeta)] = {
    import graft.streaming.Rollup
    Rollup.tierFor(spark, samples).flatMap { case (rolled, bucketMs) =>
      val (interval, agg, alignToFrom) = summarizeArgs(st)
      // the scan bounds on the interval grid too: epoch-floored buckets then
      // equal the routed grid's start-aligned ones
      val aligned = Rollup.aligned(bucketMs, interval) &&
        Rollup.aligned(interval, widened.startMs, widened.endMs)
      if (!alignToFrom && aligned && Rollup.Reconstructable.contains(agg)) {
        val filtered = filters.foldLeft(gate(rolled))((df, f) => df.where(f.predicate))
        Some((Rollup.summarizeFromRollup(filtered, bucketMs,
          QueryGrid(widened.startMs, widened.endMs, interval), agg),
          StepMeta(interval, widened.startMs)))
      } else None
    }
  }

  private def str(a: Arg): String = a match {
    case StrArg(s) => s
    case NumArg(v) => if (v == v.floor) v.toLong.toString else v.toString
    case DurArg(m) => m.toString
    case RefArg(n) => n
    case PipeArg(_) => throw new IllegalArgumentException(
      "a parenthesized pipeline is not valid in string-argument position")
  }
  private def strings(args: List[Arg]): Seq[String] = args.map(str)

  /** Order tokens accepted by sort/topK (ref: SortOrderType.fromString,
    * lang/m3/common/SortOrderType.java:37-43 — anything else raises). */
  private def sortOrderDesc(tok: Option[String]): Boolean = tok match {
    case None                            => true
    case Some("asc") | Some("ascending") => false
    case Some("desc") | Some("descending") => true
    case Some(other) => throw new IllegalArgumentException(
      s"Invalid sort order type: $other, Supported: asc, ascending, desc, descending")
  }

  private def applyStage(bs: Branches, st: StageCall, g: QueryGrid,
                         macroDF: String => Branches): Branches = {
    lazy val (df, meta) = Normalizer.collapse(bs)
    // grouping aggregations get the coordinator-side MAX/TYPE_AWARE
    // normalization when branch steps differ (AbstractGroupingStage.java:122)
    lazy val (gdf, gmeta) = Normalizer.collapseGrouping(bs, grid.endMs)
    def num(i: Int, dflt: Double = Double.NaN): Double =
      st.args.lift(i) match {
        case Some(NumArg(v)) => v
        case Some(DurArg(m)) => m.toDouble
        case Some(StrArg(s)) => s.toDouble
        case _ if !dflt.isNaN => dflt
        case _ => throw new IllegalArgumentException(s"${st.name}: missing numeric arg $i")
      }
    def dur(i: Int, dflt: Long = -1L): Long =
      st.args.lift(i) match {
        case Some(DurArg(m)) => m
        case Some(NumArg(v)) => v.toLong
        case _ if dflt >= 0  => dflt
        case _ => throw new IllegalArgumentException(s"${st.name}: missing duration arg $i")
      }
    def refB: Branches = st.args.collectFirst {
        case RefArg(n)  => macroDF(n)
        case PipeArg(p) => compilePipeline(p, macroDF)
      }
      .getOrElse(throw new IllegalArgumentException(s"${st.name}: missing pipeline ref"))
    def refM: (DataFrame, StepMeta) = Normalizer.collapse(refB)
    def ref: DataFrame = refM._1
    def tagArgs(from: Int): Seq[String] =
      strings(st.args.drop(from)).filterNot(_.isEmpty)
    def groupTags: Seq[String] = st.args.collect { case StrArg(s) => s }
    def groupKey: Grouping.GroupKey = Grouping.GroupKey.By(groupTags)
    /** Trailing tag args after the pipeline ref (ref: M3ASTConverter
      * .extractGroupByTags — binary-op tags start at child index `from`). */
    def refTags(from: Int): Seq[String] =
      st.args.drop(from).collect { case StrArg(s) => s }
    def same(d: DataFrame): Branches = Seq((d, meta))
    def sameG(d: DataFrame): Branches = Seq((d, gmeta))

    st.name match {
      // grouping aggregations
      case "sum" | "sumSeries"              => sameG(Grouping.sum(gdf, groupKey))
      case "avg" | "average" | "averageSeries" => sameG(Grouping.avg(gdf, groupKey))
      case "min" | "minimum" | "minSeries"  => sameG(Grouping.min(gdf, groupKey))
      case "max" | "maximum" | "maxSeries"  => sameG(Grouping.max(gdf, groupKey))
      case "count" | "countSeries"          => sameG(Grouping.count(gdf, g, groupKey))
      case "multiply" | "multiplySeries"    => sameG(Grouping.multiplyExact(gdf, groupKey))
      case "range" | "rangeOfSeries"        => sameG(Grouping.range(gdf, groupKey))
      case "median" | "medianOfSeries"      =>
        sameG(Grouping.percentileM3(gdf, Seq(50.0), groupKey, interpolate = false))
      case "percentileOfSeries" | "percentile_of_series" =>
        // grammar: percentileOfSeries p… [true|false] [tags] — leading
        // consecutive in-range numerics are percentiles, then an optional
        // interpolate flag, then group-by tags
        // (ref: PercentileOfSeriesPlanNode.createPercentileOfSeriesPlanNode)
        val argStrs = strings(st.args)
        def isBool(s: String) = s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false")
        def asPercentileArg(s: String): Option[Double] =
          if (isBool(s)) None
          else scala.util.Try(s.toDouble).toOption.filter(p => p >= 0 && p <= 100)
        val ps = argStrs.iterator.map(asPercentileArg).takeWhile(_.isDefined).flatten.toSeq
        if (ps.isEmpty)
          throw new IllegalArgumentException(
            "percentileOfSeries requires at least one percentile value")
        var i = ps.length
        val interpolate =
          if (i < argStrs.length && isBool(argStrs(i))) { i += 1; argStrs(i - 1).toBoolean }
          else false
        sameG(Grouping.percentileM3(gdf, ps, Grouping.GroupKey.By(argStrs.drop(i)), interpolate))
      case "histogramPercentile" =>
        // grammar: histogramPercentile bucketIdKey bucketRangeKey p…
        // (ref: HistogramPercentilePlanNode.of:85-120)
        if (st.args.length < 3)
          throw new IllegalArgumentException(
            "histogramPercentile function must have at least three arguments: " +
              "bucketId, bucketRange, and percentile(s)")
        val ps = st.args.drop(2).map { a =>
          val s = str(a)
          val p = try s.toDouble catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(s"Invalid percentile value: $s")
          }
          if (p < 0 || p > 100)
            throw new IllegalArgumentException(
              s"Percentiles must be between 0 and 100 (inclusive), got: $p")
          p
        }
        sameG(Grouping.histogramPercentile(gdf, str(st.args(0)), str(st.args(1)), ps))

      // mappers
      case "abs" | "absolute"      => same(Mappers.absStage(df))
      case "logarithm" | "log"     => same(Mappers.logarithm(df))
      case "sqrt" | "squareRoot"   => same(Mappers.sqrtStage(df))
      case "round"                 => same(Mappers.roundStage(df, num(0, 0).toInt))
      case "scale"                 => same(Mappers.scale(df, num(0)))
      case "divideScalar"          => same(Mappers.divideScalar(df, num(0)))
      case "offset"                => same(Mappers.offsetStage(df, num(0)))
      case "scaleToSeconds"        => same(Mappers.scaleToSeconds(df, g, num(0)))

      // temporal
      case "derivative"     => same(Temporal.derivative(df, g))
      case "perSecond"      => same(Temporal.perSecond(df))
      case "perSecondRate"  => same(Temporal.perSecondRate(df, dur(0, g.stepMs * 10)))
      case "integral"       => same(Temporal.integral(df, g,
        st.args.headOption.exists(a => str(a) == "true")))
      case "changed"        => same(Temporal.changed(df, g))
      case "timeshift"      =>
        if (st.args.length != 1)
          throw new IllegalArgumentException("Timeshift function expects exactly one argument")
        same(Temporal.timeshift(df, dur(0)))
      case "moving"         => same(Temporal.moving(df, g, dur(0), str(st.args(1))))
      case "movingAverage"  => same(Temporal.moving(df, g, dur(0), "avg"))
      case "movingSum"      => same(Temporal.moving(df, g, dur(0), "sum"))
      case "movingMin"      => same(Temporal.moving(df, g, dur(0), "min"))
      case "movingMax"      => same(Temporal.moving(df, g, dur(0), "max"))
      case "movingMedian"   => same(Temporal.moving(df, g, dur(0), "median"))
      case "keepLastValue"  => same(Temporal.keepLastValue(df, g,
        st.args.headOption.map(a => dur(0))))
      case "sustain"        => same(Temporal.sustain(df, g, dur(0)))
      case "summarize"      =>
        // the only step-changing stage: output step = interval, bucket origin
        // = the current origin when alignToFrom, else epoch-floored
        // (ref: SummarizeStage.processSeries:205-261 — newStep = interval,
        // newMinTimestamp = bucketMapper.mapToBucket(minTimestamp))
        val (interval, agg, alignToFrom) = summarizeArgs(st)
        val newStart =
          if (alignToFrom) meta.startMs
          else QueryGrid.bucketOf(meta.startMs, interval, 0L)
        Seq((Temporal.summarize(df, interval, agg,
          if (alignToFrom) meta.startMs else 0L),
          StepMeta(interval, newStart)))

      // grid / null semantics
      case "transformNull"  => same(GridOps.transformNull(df, g, num(0, 0.0)))
      case "isNonNull"      => same(GridOps.isNonNull(df, g))
      case "removeEmpty"    => same(GridOps.removeEmpty(df))
      case "fallbackSeries" =>
        st.args.collectFirst {
          // a shared macro is computed anyway: only its output is gated
          case RefArg(n)  => Normalizer.collapse(macroDF(n))._1
          // a pipeline's sources are gated too, so a non-empty left never
          // scans for the fallback it discards
          case PipeArg(p) => Normalizer.collapse(
            compilePipeline(p, macroDF, gate = GridOps.whenEmpty(df)))._1
        } match {
          case Some(right) => same(GridOps.fallbackSeriesBinary(df, right))
          case None        => same(GridOps.fallbackSeries(spark, df, g, num(0)))
        }

      // filters
      case "valueFilter"      =>
        val op = str(st.args(0)) match {
          case "eq" => "=="; case "ne" => "!="; case "ge" => ">="
          case "gt" => ">"; case "le" => "<="; case "lt" => "<"
          case sym  => sym
        }
        same(Filters.valueFilter(df, op, num(1)))
      case "removeBelowValue" => same(Filters.valueFilter(df, ">=", num(0)))
      case "removeAboveValue" => same(Filters.valueFilter(df, "<=", num(0)))
      // word-form value-filter stages: `| eq 12`
      // (ref: Constants.Functions.ValueFilter, M3PlanNodeFactory value-filter cases)
      case "eq" => same(Filters.valueFilter(df, "==", num(0)))
      case "ne" => same(Filters.valueFilter(df, "!=", num(0)))
      case "ge" => same(Filters.valueFilter(df, ">=", num(0)))
      case "gt" => same(Filters.valueFilter(df, ">", num(0)))
      case "le" => same(Filters.valueFilter(df, "<=", num(0)))
      case "lt" => same(Filters.valueFilter(df, "<", num(0)))
      case "excludeByTag"     => same(Filters.excludeByTag(df, str(st.args(0)), tagArgs(1)))
      case "tagCompare"       =>
        if (st.args.length == 2) {
          // combined form: tagCompare "<=" "key:value"
          val kv = str(st.args(1))
          val i = kv.indexOf(':')
          same(Filters.tagCompare(df, str(st.args(0)), kv.substring(0, i), kv.substring(i + 1)))
        } else same(Filters.tagCompare(df, str(st.args(0)), str(st.args(1)), str(st.args(2))))
      case "where"            => same(Filters.whereTags(df, str(st.args(0)), str(st.args(1)), str(st.args(2))))
      case "intersect"        => same(Filters.intersect(df, ref,
        refTags(1)))

      // label ops
      case "alias"       => same(LabelOps.alias(df, str(st.args(0))))
      case "aliasByTags" => same(LabelOps.aliasByTags(df, groupTags))
      case "showTags"    =>
        val inc = st.args.headOption.forall(a => str(a) != "false")
        same(LabelOps.showTags(df, inc, tagArgs(1)))
      case "mapKey"      => same(LabelOps.mapKey(df, str(st.args(0)), str(st.args(1))))
      case "tagSub"      => same(LabelOps.tagSub(df, str(st.args(0)), str(st.args(1)), str(st.args(2))))

      // series-set ops
      case "sort" | "sortSeries" =>
        val by = st.args.headOption.map(str).getOrElse("avg")
        val desc = sortOrderDesc(st.args.lift(1).map(str))
        same(SeriesSet.sortSeries(df, by, desc))
      case "head" => same(SeriesSet.slice(df, num(0, 10).toInt))
      case "tail" => same(SeriesSet.slice(df, num(0, 10).toInt, tail = true))
      case "topK" =>
        val k = num(0, 10).toInt
        val by = st.args.lift(1).map(str).getOrElse("current")
        val desc = sortOrderDesc(st.args.lift(2).map(str))
        same(SeriesSet.topK(df, k, by, desc))
      case "union"     => bs ++ refB
      case "divide" | "divideSeries" =>
        // PAIRWISE step normalization before the projection (ref: DivideStage
        // .getNormalizationStrategy; divideSeries is the same plan node and
        // tags start at child index 1 — M3ASTConverter:45,299-302)
        val (rdf, rmeta) = refM
        val keys = refTags(1)
        if (bs.map(_._2).distinct.lengthCompare(1) == 0) {
          val (l2, r2, m2) = Normalizer.alignOperands(df, meta, rdf, rmeta, grid.endMs)
          Seq((SeriesSet.divide(l2, r2, keys), m2))
        } else {
          // mixed-step union on the left: PAIRWISE means every matched pair
          // normalizes with the LEFT SERIES' own step; all series of a branch
          // share a step, so branch-wise alignment against the right operand
          // is exact. Common keys still come from the FULL operand sets
          // (ref: extractCommonTagKeys runs over all series, :376-403), so
          // one shared 1-row aggregate is passed into every branch.
          // every branch re-plans the right subtree — memoize it once so B
          // branches read the computed right operand instead of executing it
          // ~2B times (same policy as multi-reference macros)
          val rdfC = if (bs.lengthCompare(1) > 0) Compiler.shared(rdf) else rdf
          val ck = if (keys.isEmpty) Some(SeriesSet.commonKeysDF(df, rdfC)) else None
          val aligned = bs.map { case (ldf, lm) =>
            Normalizer.alignOperands(ldf, lm, rdfC, rmeta, grid.endMs)
          }
          // FUSE the branch joins: the divide machinery (stats pass, group +
          // duplicate-divisor raise, hash join) costs a near-constant number
          // of stages per invocation at dashboard row counts, so B per-branch
          // divides cost ~B× one divide. Tag every left branch with its
          // ordinal + aligned grid IDENTITY (step AND origin — two branches
          // with equal LCM step but different startMs align onto different
          // grids and must not share a right re-alignment), re-align the
          // right once per DISTINCT grid, run ONE stepped divide, and split
          // branches back off a shared cached result.
          def gridTag(m: graft.core.StepMeta): String = s"${m.stepMs}:${m.startMs}"
          val lAll = aligned.zipWithIndex.map { case ((l2, _, m2), i) =>
            l2.withColumn("_bk", F.lit(i)).withColumn("_stp", F.lit(gridTag(m2)))
          }.reduce(_ unionByName _)
          val rAll = aligned.groupBy(_._3).map { case (m2, as) =>
            as.head._2.withColumn("_stp", F.lit(gridTag(m2)))
          }.reduce(_ unionByName _)
          val fused = Compiler.shared(SeriesSet.divideStepped(lAll, rAll, keys, ck))
          aligned.zipWithIndex.map { case ((_, _, m2), i) =>
            (fused.where(F.col("_bk") === i).drop("_bk", "_stp"), m2)
          }
        }
      case "diff" | "subtract" =>
        // arg 1 (right after the ref) is a strict boolean keepNans when
        // present; tags start at arg 2. NormalizationStrategy.NONE — no
        // step alignment (ref: SubtractStage:59-77,
        // M3ASTConverter.extractKeepNansParameter:330-346)
        val (rdf, _) = refM
        val rest = st.args.drop(1)
        val keepNans = rest.headOption match {
          case None => false
          case Some(a) => str(a) match {
            case "true"  => true
            case "false" => false
            case other   => throw new IllegalArgumentException(
              s"function ${st.name} expects argument 1 of type bool, received '$other'")
          }
        }
        same(SeriesSet.diff(df, rdf, strings(rest.drop(1)), keepNans))
      case "asPercent" | "ratio" =>
        // BATCH step normalization (ref: AsPercentStage.getNormalizationStrategy
        // — ALL left series and the right operand normalize together onto one
        // common grid, AbstractBinaryProjectionStage.java:265-289)
        val (rdf, rmeta) = refM
        val keys = refTags(1)
        if (bs.map(_._2).distinct.lengthCompare(1) == 0) {
          val (l2, r2, m2) = Normalizer.alignOperands(df, meta, rdf, rmeta, grid.endMs)
          Seq((SeriesSet.asPercent(l2, r2, keys), m2))
        } else {
          val (aligned, m2) = Normalizer.alignAll(bs :+ ((rdf, rmeta)), grid.endMs)
          Seq((SeriesSet.asPercent(SeriesSet.union(aligned.init), aligned.last, keys), m2))
        }

      case n if unimplemented(n) =>
        throw new UnsupportedOperationException(s"M3QL function not implemented: $n")
      case n if macroNames(n) && st.args.isEmpty =>
        // bare macro reference in pipe position unions its series in,
        // keeping the macro's own step metadata as a separate branch
        bs ++ macroDF(n)
      case other =>
        throw new IllegalArgumentException(s"unknown M3QL stage: $other")
    }
  }
}

object Compiler {
  /** Compiled frames read more than once in one plan. A frame keys itself:
    * its plan holds samples, grid and stage arguments (the schema joins the
    * key, as canonicalization erases alias names), so a recompile on the
    * same grid reuses the entry and a new grid adds one the ledger bounds. */
  private val memo = graft.core.Memo.frames[org.apache.spark.sql.types.StructType]
  private def shared(df: DataFrame): DataFrame = memo(df, df.schema)(df)
}

object M3QL {
  /** Parse + compile an M3QL query over a canonical samples DataFrame. */
  def query(spark: SparkSession, samples: DataFrame, grid: QueryGrid, q: String): DataFrame =
    new Compiler(spark, samples, grid).compile(Parser.parse(q))

  /** Entry point mirroring the reference REST surface: date-math start/end and
    * default step resolve to the evaluation grid
    * (ref: RestM3QLAction.java:56-140 via serve.QueryParams). */
  def query(spark: SparkSession, samples: DataFrame, params: graft.serve.QueryParams,
            nowMs: Long): DataFrame =
    query(spark, samples, params.grid(nowMs), params.query)

  /** `explain=true` equivalent: return the compiled plan instead of running it
    * (ref: RestM3QLAction explain param — the translated DSL; here, the
    * optimized logical + physical Spark plan). */
  def explain(spark: SparkSession, samples: DataFrame, grid: QueryGrid, q: String): String = {
    val df = query(spark, samples, grid, q)
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }
}
