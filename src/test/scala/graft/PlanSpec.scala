package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Physical-plan assertions for the headline queries: locks in the plans the
  * bench (and the 100TB posture) depends on — broadcast joins for small dims,
  * filter pushdown to the parquet scan, TakeOrderedAndProject for top-N.
  * Runs only when the driver-generated testdata is present. */
class PlanSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val available = new java.io.File(sf).isDirectory
  private lazy val spark = SparkTestBase.session

  private def planOf(name: String): String = {
    val df = graft.queries.Registry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  private def check(name: String)(asserts: String => Unit): Unit =
    test(s"plan: $name") {
      if (!available) cancel(s"testdata not available at $sf")
      asserts(planOf(name))
    }

  check("tpch_q3_topn_join") { p =>
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-N must not global-sort")
  }

  check("tpch_q5_multijoin") { p =>
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
  }

  check("tpch_q6_scan_agg") { p =>
    assert(p.contains("PushedFilters: [IsNotNull") || p.contains("PushedFilters: [GreaterThan")
      || p.contains("PushedFilters: [And"), s"scan filters must push down:\n$p")
  }

  check("m3_fetch") { p =>
    // the label + time filters must reach the scan: a raw parquet read shows
    // them as PushedFilters; the shared cached samples view shows them as
    // InMemoryTableScan predicates (the time bound below is the fetch range)
    val pushedToParquet = p.contains("PushedFilters: [") && !p.contains("PushedFilters: []")
    val pushedToCache = p.contains("InMemoryTableScan") && p.contains("1704672000000")
    assert(pushedToParquet || pushedToCache, s"fetch filters must push to the scan:\n$p")
  }

  check("tpch_topk_parts") { p =>
    assert(p.contains("TakeOrderedAndProject"), "top-K must be a distributed TakeOrdered")
  }

  check("m3_divide_series") { p =>
    // the single-right-group decision is a 1-row broadcast fold, never a
    // cartesian product over data rows
    assert(!p.contains("CartesianProduct"), s"no cartesian product in binary ops:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the right-extent stats must ride a broadcast")
  }

  check("m3_diff_series") { p =>
    assert(!p.contains("CartesianProduct"), s"no cartesian product in diff:\n$p")
  }

  private def count(p: String, re: String): Int = re.r.findAllIn(p).length

  /** The physical nodes of a query: its own plan, plus each persisted
    * input's cached plan counted once. AQE plans are read at their initial
    * plan, which stays the same once a cache is built, so the counts do not
    * depend on which earlier query warmed a memo. */
  private def nodesOf(name: String): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case s: InMemoryTableScanExec =>
        val cache = s.relation.cacheBuilder
        s +: (if (seen.add(cache)) walk(cache.cachedPlan) else Nil)
      case o => o +: (o.children ++ o.subqueries).flatMap(walk)
    }
    walk(graft.queries.Registry.queries(name)(spark, sf).queryExecution.executedPlan)
  }

  private def joins(ns: Seq[SparkPlan]): Int = ns.count(_.nodeName.endsWith("Join"))
  private def exchanges(ns: Seq[SparkPlan]): Int = ns.count(_.isInstanceOf[Exchange])

  /** Exchange nodes (shuffles and broadcasts) of a query's own physical
    * plan. A persisted input's cached plan is left out: its string form
    * doubles once the cache is built (AQE prints the initial and the final
    * plan), so a count over the plan string would depend on test order. */
  private def ownExchanges(name: String): Seq[String] =
    ownNodes(name).filter(_.isInstanceOf[Exchange]).map(_.nodeName)

  private def ownNodes(name: String): Seq[SparkPlan] =
    (graft.queries.Registry.queries(name)(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case n => n }

  for (name <- Seq("m3_topk", "m3_head", "m3_tail")) check(name) { p =>
    // bounded series rank: a TakeOrdered over the per-series key frame, its
    // <= k rows broadcast back — no range-partitioned prefix scan (the one
    // range partitioning is the verify harness's output orderBy) and, for
    // tail, no total-count join
    assert(p.contains("TakeOrderedAndProject"), s"$name must rank via TakeOrdered:\n$p")
    assert(count(p, "rangepartitioning") == 1, s"$name must not range-partition to rank:\n$p")
    val ex = ownExchanges(name)
    assert(ex.size <= 5, s"$name exchange count regressed: $ex\n$p")
  }

  check("corpus_sample_weighted") { p =>
    // the k smallest keys are one distributed TakeOrdered: no range
    // partitioning, and no exchange at all (the dump's orderBy over the
    // single-partition TakeOrdered output needs none)
    assert(p.contains("TakeOrderedAndProject"), s"weighted sample must TakeOrdered:\n$p")
    assert(count(p, "rangepartitioning") == 0, s"no range-partitioned rank:\n$p")
    val ex = ownExchanges("corpus_sample_weighted")
    assert(ex.isEmpty, s"weighted sample exchanges regressed: $ex\n$p")
  }

  check("sketch_kmv_overlap") { p =>
    // both sketches are checkpointed TakeOrdereds; the combined bottom-k
    // is a third TakeOrdered over <= 2k rows — no range-partitioned scan
    assert(p.contains("TakeOrderedAndProject"), s"combined bottom-k must TakeOrdered:\n$p")
    assert(count(p, "rangepartitioning") == 0, s"no range-partitioned rank:\n$p")
    // the 6: the full join's two shuffles, each sketch's count to one
    // partition, and the two 1-row count broadcasts
    val ex = ownExchanges("sketch_kmv_overlap")
    assert(ex.size <= 6, s"kmv overlap exchange count regressed: $ex\n$p")
  }

  check("m3_is_non_null") { p =>
    // densify = ONE full-outer join of grid points against samples (labels
    // ride along both sides); the old union+distinct+2-join shape would show
    // 3 joins and 2 more exchanges
    val ns = nodesOf("m3_is_non_null")
    assert(joins(ns) == 1, s"densify must be a single join:\n$p")
    assert(exchanges(ns) <= 5, s"densify exchange count regressed:\n$p")
  }

  check("m3_diff_keepnans") { p =>
    // the keyed right subtree is evaluated for rStats + the group reduction +
    // one join into rExp; the former left-semi pass is gone (window flag on
    // the full-outer join instead). Bounds lock the round-4 join shape.
    // Both operands read from the binSide memo, so cheap InMemoryTableScan
    // reads replace the filter-over-grid chains; the regression guard
    // splits into corpus (file) scans and a total bound against runaway
    // subtree duplication. Node counts, each memo's plan counted once.
    val ns = nodesOf("m3_diff_keepnans")
    assert(joins(ns) <= 5, s"diff join count regressed:\n$p")
    assert(ns.count(_.isInstanceOf[FileSourceScanExec]) <= 1,
      s"diff file scan count regressed:\n$p")
    assert(ns.count(_.nodeName.contains("Scan")) <= 10,
      s"diff total scan count regressed:\n$p")
  }

  check("promql_topk_instant") { p =>
    // per-instant rank: ONE hash shuffle on the (group, ts) key feeding a
    // partitioned Window, with the rank limit pushed below the shuffle
    // (WindowGroupLimit = per-partition partial top-k, the shard-local-topK
    // analogue); the only global sort is the verify harness's output orderBy
    assert(p.contains("Window"), s"topk must rank via a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in topk:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank limit must push below the shuffle:\n$p")
  }

  check("promql_group_left") { p =>
    // many-to-one matching = equi-join on (match key, ts) + window cardinality
    // flags; the one side must never expand via a cartesian product
    assert(!p.contains("CartesianProduct"), s"no cartesian in group_left:\n$p")
    assert(count(p, "Join ") <= 2, s"group_left join count regressed:\n$p")
  }

  check("ann_brute_force") { p =>
    // brute-force ANN: codegen'd dot product + distributed top-k merge — the
    // scan must not funnel into a global sort before the limit
    assert(p.contains("TakeOrderedAndProject"), s"ANN top-k must be TakeOrdered:\n$p")
  }

  // the probe count picks the plan: one probe ranks through a distributed
  // TakeOrdered, a batch through the per-probe WindowGroupLimit
  // (own tree only: the persisted IVF index ranks cells per vector)
  for (name <- Seq("ann_brute_force", "ann_lsh", "ann_ivf", "ann_sq8", "ann_pq"))
    test(s"plan: one-probe $name ranks through a TakeOrdered") {
      if (!available) cancel(s"testdata not available at $sf")
      val own = ownNodes(name).map(_.nodeName)
      assert(own.contains("TakeOrderedAndProject"), s"$name must rank via TakeOrdered: $own")
      assert(!own.contains("WindowGroupLimit"), s"one probe needs no per-probe rank: $own")
    }

  for (name <- Seq("ann_batch_topk", "ann_sq8_batch", "ann_pq_batch"))
    test(s"plan: multi-probe $name ranks per probe") {
      if (!available) cancel(s"testdata not available at $sf")
      val own = ownNodes(name).map(_.nodeName)
      assert(own.contains("WindowGroupLimit"), s"$name must rank per probe: $own")
    }

  // the right-side "exactly one series / group" tests are min/max extents:
  // two distinct aggregates plan as an Expand whose argument order changes
  // from run to run, so a dumped binary-projection plan would too
  for (name <- Seq("m3_divide_series", "m3_as_percent", "m3_diff_series",
                   "m3_divide_mixed_step"))
    test(s"plan: $name plans no Expand") {
      if (!available) cancel(s"testdata not available at $sf")
      val expands = nodesOf(name).map(_.nodeName).filter(_ == "Expand")
      assert(expands.isEmpty, s"$name must not plan an Expand: $expands")
    }

  test("src/main has one probe path per ANN index") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, "source tree not found from the test working directory")
    def hits(re: scala.util.matching.Regex): Seq[String] = files
      .filter(p => re.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    assert(hits("TopKBatch".r).isEmpty)
    assert(hits("""batched\s*=""".r).isEmpty)
  }

  check("dedup_incremental") { p =>
    // the inverted-index candidate join must stay an equi-join — no
    // cross product anywhere in the snapshot-over-snapshot dedup
    assert(!p.contains("CartesianProduct"), s"no cartesian in incremental dedup:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no nested-loop join in incremental dedup:\n$p")
  }

  check("promql_limit_ratio") { p =>
    // the md5-fraction sample is a pure per-row predicate — the only
    // exchange allowed is the verify harness's output ordering
    assert(!p.contains("Window"), s"limit_ratio must not rank or window:\n$p")
  }

  check("events_asof_join") { p =>
    // the as-of is a union + ONE keyed window scan — there must be NO join
    // operator at all (an inequality join would be a nested loop at scale);
    // the right-side dedup agg is the only other exchange on the key
    assert(!p.contains("Join"), s"asof must be join-free (union + window):\n$p")
    assert(p.contains("Window"), s"asof must carry matches via a window:\n$p")
  }

  check("rollup_summarize_avg") { p =>
    // the rollup read path is PURE aggregation — two hash aggs (rollup +
    // re-merge), no join anywhere
    assert(!p.contains("Join"), s"rollup summarize must be join-free:\n$p")
  }

  check("dedup_paragraphs") { p =>
    // winner election + reassembly are hash equi-joins on ids only — never
    // a cross product, and paragraph text must not ride the winner shuffle
    assert(!p.contains("CartesianProduct"), s"no cartesian in paragraph dedup:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no nested loop in paragraph dedup:\n$p")
  }

  check("events_range_join") { p =>
    // bucketed range join: the [t-w, t] predicate must ride INSIDE a hash
    // equi-join on (key, bucket) — never a BroadcastNestedLoopJoin or
    // cartesian over data rows
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join must not be a nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in range join:\n$p")
    assert(p.contains("HashJoin"), s"range join must be a hash equi-join:\n$p")
  }

  test("plan: corpus_decontaminate filters the gram stream before any shuffle") {
    // the corpus gram stream must hit the BROADCAST semi-join (a map-side
    // filter) with NO shuffle below it on the streamed side — a shuffle
    // there means the corpus grams were deduplicated BEFORE the filter,
    // the full-corpus exchange this plan exists to avoid. (The benchmark
    // side's distinct shuffles, but that side is the small one.) Checked on
    // the physical tree, not the plan string: both formulations print one
    // gram-keyed exchange, only its position differs.
    if (!available) cancel(s"testdata not available at $sf")
    val plan = graft.queries.Registry.queries("corpus_decontaminate")(spark, sf)
      .queryExecution.sparkPlan
    val semis = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.nonEmpty, s"benchmark grams must broadcast into a semi join:\n$plan")
    semis.foreach { j =>
      val shuffles = j.left.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"corpus gram stream must reach the semi join unshuffled:\n$j")
    }
  }

  check("corpus_sample_stratified") { p =>
    // a stateless per-row keep decision: the sampling itself must add NO
    // exchange (the one in the plan is the orderBy for the dump's
    // deterministic row order)
    assert(count(p, "Exchange ") <= 1,
      s"stratified sampling must not shuffle the corpus:\n$p")
    assert(!p.contains("Join"), s"no join in hash-rate sampling:\n$p")
  }

  check("text_chunk_overlap") { p =>
    // per-row explode arithmetic: no join, and no exchange beyond the
    // dump-order sort
    assert(p.contains("Generate explode"), s"chunking must explode per row:\n$p")
    assert(!p.contains("Join"), s"no join in overlap chunking:\n$p")
    assert(count(p, "Exchange ") <= 1,
      s"overlap chunking must not shuffle the corpus:\n$p")
  }

  check("cluster_topics_kmeans") { p =>
    // assignment = k centroid ARRAYS on a broadcast against the corpus scan;
    // a CartesianProduct or a SortMergeJoin there would be the N x k x dim
    // blow-up this plan exists to avoid
    assert(!p.contains("CartesianProduct"), s"no cartesian in kmeans:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroids must ride a broadcast:\n$p")
  }

  check("dedup_semantic") { p =>
    // the pair search must be a cluster-keyed equi-join, never an all-pairs
    // nested loop over the corpus
    assert(!p.contains("CartesianProduct"), s"no cartesian in semantic dedup:\n$p")
  }

  check("text_classify_nb") { p =>
    // the class table (priors, totals, vocab size) rides a broadcast; the
    // only non-broadcast joins are keyed by token / doc id
    assert(!p.contains("CartesianProduct"), s"no cartesian in naive bayes:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"class table must broadcast:\n$p")
  }

  check("events_funnel") { p =>
    // the step IN-list must reach the parquet scan: the funnel reads only
    // its own event types (3 of 5 here), never the whole stream
    assert(p.contains("PushedFilters: [In(event_type") ||
      p.contains("PushedFilters: [IsNotNull(event_type), In(event_type"),
      s"funnel step filter must push to the scan:\n$p")
    assert(!p.contains("Join"), s"the funnel cascade has no join:\n$p")
  }

  check("events_retention_cohorts") { p =>
    assert(!p.contains("CartesianProduct"), s"no cartesian in cohorts:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"cohort join must be keyed:\n$p")
  }

  check("events_cusum_changepoint") { p =>
    // the running sum is the two-phase prefix scan: the only unkeyed window
    // is the per-range-partition offset fold over the tiny totals frame
    assert(!p.contains("CartesianProduct"), s"no cartesian in cusum:\n$p")
  }

  check("dedup_graph_stats") { p =>
    // triangle counting must stay an equi-join of the edge list
    assert(!p.contains("CartesianProduct"), s"no cartesian in graph stats:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"wedge joins must be hash equi-joins:\n$p")
  }

  check("dedup_prefix_join") { p =>
    // every join is keyed (shingle / pair ids) — the exactness comes from
    // prefix-filter completeness, never from an all-pairs comparison
    assert(!p.contains("CartesianProduct"), s"no cartesian in prefix join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"candidate and verify joins must be hash equi-joins:\n$p")
  }

  check("ann_pq") { p =>
    // the serving scan rides the codegen'd kernels (not an unrolled
    // literal-tree fold) and the candidate cut is a distributed TakeOrdered
    assert(p.contains("pq_adc"), s"ADC must be the native kernel:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate cut must be a TakeOrdered:\n$p")
  }

  check("ann_ivfpq_rerank") { p =>
    // the refine step re-scores ONLY the ADC top-(k·rerank) candidates: the
    // float fetch must ride an id equi-join below the candidate limit, never
    // a second full-corpus float pass, and the ADC scan stays on the kernel
    assert(p.contains("pq_adc"), s"ADC must be the native kernel:\n$p")
    assert(p.contains("float_dot"), s"re-rank must use the exact float kernel:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate cut + final k must be TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"spill dedup and candidate fetch must stay equi-joins:\n$p")
  }

  check("retrieval_bm25") { p =>
    // scoring aggregates per doc with partial (map-side) combine before the
    // shuffle, and the final ranking is a distributed TakeOrdered
    assert(p.contains("partial_"), s"doc-score agg must map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"BM25 ranking must be a TakeOrdered:\n$p")
  }

  check("retrieval_rrf_hybrid") { p =>
    // the fusion never materializes a global sort over either corpus —
    // both pools are TakeOrdereds, the fuse is a pool-sized join
    assert(p.contains("TakeOrderedAndProject"), s"pools must TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the fuse:\n$p")
  }

  check("sketch_hll_distinct") { p =>
    // register max must partial-aggregate before the shuffle (the whole
    // point: group×64 register rows move, not values)
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"register max must map-side combine:\n$p")
  }

  check("events_seasonal_decompose") { p =>
    // the trend window is a keyed equi-join (range predicate post-join),
    // never a cartesian or single-partition window over the data
    assert(!p.contains("CartesianProduct"), s"no cartesian in the trend join:\n$p")
  }

  check("dedup_edit_distance") { p =>
    // the verify consumes candidate PAIRS through hash joins on doc ids —
    // never a cartesian over documents; the thresholded DP appears as the
    // 3-arg levenshtein so the kernel early-exits past the bound
    assert(!p.contains("CartesianProduct"), s"no all-pairs DP:\n$p")
    assert(p.toLowerCase.contains("levenshtein"), s"thresholded kernel:\n$p")
  }

  check("retrieval_bm25_prf") { p =>
    // LIMITATION: this inspects only the final pass-2 frame — pass 1 and
    // the expansion-term selection run eagerly (collect()) while the query
    // is CONSTRUCTED, so their plans never reach this string. Pass 1 is the
    // same scorePass shape as retrieval_bm25, which has its own plan
    // check above; what this pins is that the feedback-expanded pass-2
    // query stays broadcast-pruned and never goes doc x doc.
    assert(p.contains("BroadcastHashJoin"), s"df/term joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no doc x doc:\n$p")
  }

  check("dedup_source_matrix") { p =>
    // two id-keyed joins + one tiny groupBy beyond the pair generator; the
    // documents scan reads only (doc_id, source) for the matrix joins
    assert(!p.contains("CartesianProduct"), s"id-keyed joins only:\n$p")
  }

  check("text_novelty") { p =>
    // one gram-proportional left join; no window, no cartesian
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"novelty is one left join + count:\n$p")
  }

  check("promql_subquery_mixed") { p =>
    // the mixed-inner path (carried selector + re-gridded range-function
    // output) combines via hash joins on (label signature, instant) —
    // never a cartesian — and every window (re-grid arg-max, staleness
    // carry, the outer trailing max) partitions by series
    assert(!p.contains("CartesianProduct"), s"no cartesian in the combine:\n$p")
  }
}
