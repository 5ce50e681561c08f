package graft

import graft.pipelines.Similarity

/** Recall + mechanism checks for the approximate ANN paths (IVF cell pruning,
  * multiprobe banded LSH) against the exact brute-force baseline on the real
  * synthetic embeddings corpora (uniform random 64-dim float vectors — the
  * structure-free WORST case for any ANN index: neighbors are barely closer
  * than random, so pruning buys recall only through the directional
  * correlation of near neighbors).
  *
  * Operating points come from the measured sweep (tools/AnnSweep; curve
  * recorded in OPERATORS.md §similarity). The quality bar asserted here is
  * the round-6 target: mean recall@10 ≥ 0.8 for BOTH approximate variants on
  * the largest corpus.
  */
class IvfRecallSpec extends SparkTestBase {
  private val sfDir = "/root/testdata/sf0.001"

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  private def top(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("vec_id", "cosine").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("ivf probing every cell degenerates to the exact scan (sf0.001)") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    // sf0.001 has 500 vectors → ~22 cells; the default nProbe=32 covers all
    // of them, so the candidate set IS the corpus and recall must be exact —
    // this pins the probe/re-rank mechanism, not an approximation quality
    val queries = Seq(0L, 7L, 42L)
    queries.foreach { q =>
      val exact = ids(Similarity.bruteForceTopK(emb, Seq(q), 10))
      val approx = top(Similarity.ivfTopK(emb, Seq(q), 10))
      assert(approx.size == 10)
      // sorted descending, full k
      assert(approx.map(_._2) == approx.map(_._2).sorted.reverse)
      assert(approx.map(_._1).toSet == exact,
        s"query $q: all-cell probe must equal brute force")
    }
  }

  test("persisted IVF index probes are partition-pruned and all-cell-exact") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists)
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val table = "graft_test_ivf_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_cents")
    Similarity.writeIvfIndex(emb, table, nCentroids = 8)

    // the probe scan must prune to the probed cells' partitions: the literal
    // cell filter reaches the file scan as a PartitionFilter (no data files
    // outside those cells are opened), and only nProbe distinct cells survive
    val pruned = spark.table(table).where(col("cent_id").isin(0L, 1L))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("expected a FileSourceScan over the index table"))
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cent_id")),
      s"cell filter must be a partition filter, got: ${scan.partitionFilters}")
    assert(scan.dataFilters.isEmpty || !scan.dataFilters.exists(
        _.references.exists(_.name == "cent_id")),
      "cell filter must not degrade to a post-scan data filter")

    // probing every cell (nProbe >= nCells) degenerates to the exact scan —
    // the same mechanism pin as the in-session variant
    for (q <- Seq(0L, 7L)) {
      val exact = ids(Similarity.bruteForceTopK(emb, Seq(q), 10))
      val viaIndex = Similarity.ivfTopKFromIndex(spark, table, emb, q, 10, nProbe = 8)
      assert(ids(viaIndex) == exact, s"query $q: all-cell index probe must equal brute force")
    }
    // and a narrow probe emits only rows from its probed cells, all ranked
    val narrow = Similarity.ivfTopKFromIndex(spark, table, emb, 0L, 10, nProbe = 2)
    val got = top(narrow)
    assert(got.size == 10 && got.map(_._2) == got.map(_._2).sorted.reverse)

    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_cents")
  }

  test("sq8_cosine codegen expression equals interpreted decode-and-cosine") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    val df = Seq(
      (Seq(10, 20, 30), Seq(0.5f, 1f, -2f),
        Seq((-1.0, 0.02), (-2.0, 0.05), (0.0, 0.01))),
      (Seq(0, 255, 128), Seq(1f, 0f, 3f),
        Seq((0.0, 0.004), (-1.0, 0.008), (2.0, 0.0))))
      .toDF("codes", "q_emb", "raw_stats")
      .withColumn("dim_stats", expr(
        "transform(raw_stats, s -> named_struct('mn', s._1, 'step', s._2))"))
    val decoded = zip_with(col("codes"), col("dim_stats"),
      (c, s) => s.getField("mn") + c.cast(DoubleType) * s.getField("step"))
    val rows = df.select(
        graft.functions.VectorExprs.sq8Cosine(col("codes"), col("q_emb"), col("dim_stats"))
          .as("fast"),
        graft.pipelines.Vectors.cosine(decoded, col("q_emb")).as("ref"))
      .as[(Double, Double)].collect()
    rows.foreach { case (f, r) => assert(math.abs(f - r) < 1e-12, s"$f vs $r") }
  }

  test("sq8 approximate scan rides whole-stage codegen (plan pinned)") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val out = Similarity.sq8TopK(emb, Seq(0L), 10)
    // collect() executes THIS plan (count() would compile a separate one);
    // AQE materializes WholeStageCodegen spans in the FINAL plan only. In
    // the plan string a codegen'd operator prints with a `*(n)` stage
    // prefix — pin that the sq8_cosine projection carries one (a fallback
    // to interpreted projection would print a bare `Project`).
    assert(out.collect().length == 10)
    val plan = out.queryExecution.executedPlan.toString
    val codegen = raw"\*\(\d+\) Project \[[^\n]*sq8_cosine".r
    assert(codegen.findFirstIn(plan).isDefined,
      s"sq8_cosine must sit inside a WholeStageCodegen span:\n$plan")
  }

  test("batched ivf probes equal per-query ivf (sf0.001)") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val queries = Seq(0L, 7L, 42L)
    val batch = Similarity.ivfTopK(emb, queries, 10)
      .select("probe_id", "vec_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val single = queries.flatMap { q =>
      Similarity.ivfTopK(emb, Seq(q), 10).select("vec_id", "rnk")
        .collect().map(r => (q, r.getLong(0), r.getInt(1)))
    }.toSet
    assert(batch == single)
  }

  test("batched lsh probes equal per-query lsh (sf0.001)") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val queries = Seq(0L, 7L, 42L)
    val batch = Similarity.lshTopK(emb, queries, 10)
      .select("probe_id", "vec_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val single = queries.flatMap { q =>
      Similarity.lshTopK(emb, Seq(q), 10).select("vec_id", "rnk")
        .collect().map(r => (q, r.getLong(0), r.getInt(1)))
    }.toSet
    assert(batch == single)
  }

  test("batched sq8 probes equal per-query sq8 (sf0.001)") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val queries = Seq(0L, 7L, 42L)
    val batch = Similarity.sq8TopK(emb, queries, 10)
      .select("probe_id", "vec_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val single = queries.flatMap { q =>
      Similarity.sq8TopK(emb, Seq(q), 10).select("vec_id", "rnk")
        .collect().map(r => (q, r.getLong(0), r.getInt(1)))
    }.toSet
    assert(batch == single)
  }

  test("lsh and ivf mean recall@10 >= 0.8 at the largest corpus (sf0.1)") {
    // the measured-quality bar for the approximate variants at their default
    // operating points (ivf nProbe=32 + 2 Lloyd iters; lsh 16 bands × 8
    // planes, multiprobe hamming<=1). Same 5-query panel as tools/AnnSweep.
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, big)
    val queries = Seq(0L, 7L, 42L, 100L, 499L)
    def recallOf(fn: Long => org.apache.spark.sql.DataFrame): Double = {
      val rs = queries.map { q =>
        val exact = ids(Similarity.bruteForceTopK(emb, Seq(q), 10))
        exact.intersect(ids(fn(q))).size / 10.0
      }
      rs.sum / rs.size
    }
    val lsh = recallOf(q => Similarity.lshTopK(emb, Seq(q), 10))
    val ivf = recallOf(q => Similarity.ivfTopK(emb, Seq(q), 10))
    info(f"sf0.1 recall@10: lsh=$lsh%.2f ivf=$ivf%.2f")
    // sweep-measured: lsh 0.92 (0.42 candidate fraction), ivf 0.92 (32/45
    // cells on this small corpus; the fraction shrinks as √N grows)
    assert(lsh >= 0.8, s"lsh recall@10 $lsh below the 0.8 operating point")
    assert(ivf >= 0.8, s"ivf recall@10 $ivf below the 0.8 operating point")
  }

  test("sq8 quantized scoring + exact re-rank recalls >= 0.9 (sf0.1)") {
    // SQ8 per-dimension distortion is <= step/2, so the asymmetric approx
    // ranking is near-exact and the 4x rerank buffer absorbs residual
    // swaps — a much tighter bar than the bucketed variants
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, big)
    val queries = Seq(0L, 7L, 42L, 100L, 499L)
    val rs = queries.map { q =>
      val exact = ids(Similarity.bruteForceTopK(emb, Seq(q), 10))
      exact.intersect(ids(Similarity.sq8TopK(emb, Seq(q), 10))).size / 10.0
    }
    val sq8 = rs.sum / rs.size
    info(f"sf0.1 recall@10: sq8=$sq8%.2f")
    assert(sq8 >= 0.9, s"sq8 recall@10 $sq8 below the 0.9 bar")
  }

  test("batched pq probes equal per-query pq (sf0.001)") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val queries = Seq(0L, 7L, 42L)
    val batch = graft.pipelines.Pq.pqTopK(emb, queries, 10)
      .select("probe_id", "vec_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val single = queries.flatMap { q =>
      graft.pipelines.Pq.pqTopK(emb, Seq(q), 10).select("vec_id", "rnk")
        .collect().map(r => (q, r.getLong(0), r.getInt(1)))
    }.toSet
    assert(batch == single)
  }

  test("persisted pq index equals ad-hoc pq; adc scan reads codes only") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists)
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val table = "graft_test_pq_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_books")
    graft.pipelines.Pq.writePqIndex(emb, table)

    for (q <- Seq(0L, 7L)) {
      val adhoc = graft.pipelines.Pq.pqTopK(emb, Seq(q), 10).select("vec_id", "cosine", "rnk")
        .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      val viaIdx = graft.pipelines.Pq.pqTopKFromIndex(spark, table, emb, q, 10)
        .select("vec_id", "cosine", "rnk").collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      assert(viaIdx == adhoc, s"query $q: index path diverged")
    }
    // the approximate pass must scan the CODE table (ints), never the
    // embedding floats: its file scan reads exactly (vec_id, codes)
    val cand = spark.table(table).where(col("vec_id") =!= 0L)
    val scan = cand.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("expected a FileSourceScan over the code table"))
    val readCols = scan.schema.fieldNames.toSet
    assert(readCols == Set("vec_id", "codes"),
      s"adc scan must read codes only, got $readCols")

    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_books")
  }

  test("pq adc + exact re-rank recall@10 at the largest corpus (sf0.1)") {
    // PQ on the uniform corpus is the coarsest quantizer here (8 subspaces
    // × 16 codes ≈ 32 bits/vector vs SQ8's 512): the ADC ranking carries
    // real distortion and the rerank buffer does the recovering. Bar set
    // from the measured panel below (see info line).
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, big)
    val queries = Seq(0L, 7L, 42L, 100L, 499L)
    // measured panel: m=8/rerank=4 → 0.40, m=8/16 → 0.62, m=16/8 → 0.80,
    // m=16/16 → 0.86 — the defaults sit at the last point (64-bit codes,
    // 8% rerank scan fraction at this corpus size)
    val rs = queries.map { q =>
      val exact = ids(Similarity.bruteForceTopK(emb, Seq(q), 10))
      exact.intersect(ids(graft.pipelines.Pq.pqTopK(emb, Seq(q), 10))).size / 10.0
    }
    val pq = rs.sum / rs.size
    info(f"sf0.1 recall@10: pq=$pq%.2f (per-query ${rs.mkString(",")})")
    assert(pq >= 0.7, s"pq recall@10 $pq below the operating point")
  }

  test("ivf-pq: all-cell probe equals plain pq; pruned probes measured (sf0.1)") {
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, big)
    // nProbe >= nCells (45 here): the cell filter is a no-op, so the
    // composed path must equal plain PQ exactly — the registered query's
    // oracle-sharing precondition (cheap-index point: spill=1/rerank=16,
    // passed explicitly since the r12 default flip to the refine path)
    for (q <- Seq(0L, 7L)) {
      val full = graft.pipelines.Pq.ivfPqTopK(emb, q, 10, nProbe = 64,
          rerank = 16, spill = 1).select("vec_id", "cosine", "rnk")
        .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      val plain = graft.pipelines.Pq.pqTopK(emb, Seq(q), 10).select("vec_id", "cosine", "rnk")
        .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      assert(full == plain, s"query $q: all-cell ivf-pq diverged from pq")
    }
    // genuine pruning at the SIGNATURE DEFAULTS (spill=2, rerank=32):
    // the default config must hold the 0.95 operating point at its own
    // default probe width — the r12 contract for flipping the default
    val queries = Seq(0L, 7L, 42L, 100L, 499L)
    val byProbe = Seq(16, 32).map { np =>
      val rs = queries.map { q =>
        val exact = ids(Similarity.bruteForceTopK(emb, Seq(q), 10))
        exact.intersect(ids(graft.pipelines.Pq.ivfPqTopK(emb, q, 10,
          nProbe = np))).size / 10.0
      }
      val r = rs.sum / rs.size
      info(f"sf0.1 recall@10: ivfpq-default(nProbe=$np)=$r%.2f (45 cells)")
      np -> r
    }.toMap
    assert(byProbe(32) >= 0.95,
      s"default ivf-pq config must hold recall >= 0.95 at default nProbe=32, got ${byProbe(32)}")
  }

  test("ivf-pq refine levers: all-cell spill+rerank equals pq(rerank); " +
       "spill lifts pruned recall past the coverage ceiling (sf0.1)") {
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, big)
    // nProbe >= nCells: spill only duplicates members (deduped) and the
    // bigger refine buffer matches pq at the same rerank — the
    // ann_ivfpq_rerank oracle-sharing precondition
    for (q <- Seq(0L, 7L)) {
      val lev = graft.pipelines.Pq.ivfPqTopK(emb, q, 10, nProbe = 64,
          rerank = 32, spill = 2).select("vec_id", "cosine", "rnk")
        .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      val plain = graft.pipelines.Pq.pqTopK(emb, Seq(q), 10, rerank = 32)
        .select("vec_id", "cosine", "rnk").collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      assert(lev == plain, s"query $q: all-cell spill ivf-pq diverged from pq(rerank=32)")
    }
    // pruned regime (nProbe=16 of 45 cells): single-assignment recall is
    // cell-coverage-bound (~0.76-0.80 on this uniform corpus, exact-IVF's
    // own ceiling); multi-assignment must buy recall the rerank buffer
    // alone cannot
    val queries = Seq(0L, 7L, 42L, 100L, 499L)
    val bySpill = Seq(1, 2, 3).map { sp =>
      val rs = queries.map { q =>
        val exact = ids(Similarity.bruteForceTopK(emb, Seq(q), 10))
        exact.intersect(ids(graft.pipelines.Pq.ivfPqTopK(emb, q, 10,
          nProbe = 16, rerank = 32, spill = sp))).size / 10.0
      }
      val r = rs.sum / rs.size
      info(f"sf0.1 recall@10: ivfpq(nProbe=16, rerank=32, spill=$sp)=$r%.2f (45 cells)")
      sp -> r
    }.toMap
    assert(bySpill(2) > bySpill(1),
      s"spill=2 must lift pruned recall: ${bySpill(2)} vs ${bySpill(1)}")
    // measured (deterministic corpus + deterministic training): 0.80 →
    // 0.94 → 0.96 — spill=3 crosses the 0.95 operating point at a 16/45
    // probe, which no rerank size can reach under single assignment
    assert(bySpill(3) >= 0.95,
      s"spill=3 must reach the 0.95 operating point, got ${bySpill(3)}")
  }

  test("jl projected-space recall@10 measured; exact in projected space (sf0.001)") {
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val queries = Seq(0L, 7L, 42L)
    def recallAt(dOut: Int): Double = {
      val rs = queries.map { q =>
        val exact = ids(Similarity.bruteForceTopK(emb, Seq(q), 10))
        val jl = top(Similarity.jlTopK(emb, q, 10, dOut = dOut))
        assert(jl.size == 10)
        assert(jl.map(_._2) == jl.map(_._2).sorted.reverse)
        (jl.map(_._1).toSet & exact).size / 10.0
      }
      rs.sum / rs.size
    }
    // 64→dOut on the uniform worst-case corpus: JL distortion
    // ~sqrt(ln n / dOut) is large and neighbors barely separated, so
    // absolute recall is modest — the properties pinned are (a) projected
    // search is far above random (recall@10 for k=10/n=500 random picks
    // ≈ 0.02) and (b) recall improves as dOut buys distortion back
    val r16 = recallAt(16)
    val r32 = recallAt(32)
    assert(r16 >= 0.1, s"jl dOut=16 mean recall@10 $r16")
    assert(r32 >= r16, s"recall must not degrade with dOut: $r32 < $r16")
    info(f"sf0.001 recall@10: jl(dOut=16)=$r16%.2f jl(dOut=32)=$r32%.2f")
  }
}
