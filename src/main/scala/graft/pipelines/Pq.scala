package graft.pipelines

import graft.functions.VectorExprs.fastCosine
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Product-quantization ANN: split each unit-normalized vector into `m`
  * subspaces, train a `ks`-centroid codebook per subspace (the same
  * hash-seeded Lloyd loop as [[Similarity.kmeansCentroids]]), encode every
  * vector as m small codes, and serve top-k by an asymmetric-distance scan
  * over the codes plus an exact re-rank of the survivors.
  *
  * Why it scales: the serving scan reads the CODE table — m dense ints per
  * row instead of the float vector — so at 100 TB the approximate pass is
  * I/O-bound on a table m·4/(dim·4) the size of the corpus (1/8 here), with
  * the codebooks riding the plan as literals (no join, no shuffle; the only
  * shuffle is the k·rerank TakeOrdered). Training cost is m bounded Lloyd
  * runs; codebooks are m·ks·(dim/m) doubles — driver-bounded like the
  * k-means centroid loop.
  *
  * Everything is oracle-replayable: normalization is an index-order norm
  * fold; training reuses the nano-quantized-mean Lloyd discipline the
  * `cluster_topics_kmeans` oracle already replays (same md5 seeding, same
  * tie-to-smaller-cluster argmin); the ADC sum adds subspace distances in
  * subspace order; candidates order by (approx asc, id) and the re-rank by
  * exact cosine desc. [[pqTopKSql]] replays the full chain — m Lloyd
  * trainings included — in one DuckDB query.
  */
object Pq {

  /** Trained codebooks per (corpus plan, params) — driver-side arrays, so
    * nothing to unpersist on eviction. */
  private val booksCache =
    new graft.core.Memo[(String, String, Int, Int, Int),
      Seq[Array[Array[Double]]]](_ => ())

  /** Index-order squared-distance fold over two double arrays. */
  private def sqd(v: Column, c: Column): Column =
    aggregate(zip_with(v, c, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, t) => acc + t)

  /** Train ALL m codebooks in one Lloyd loop: the corpus explodes ONCE into
    * (id, s, sub-vector) rows, each round is one assignment scan (per-row
    * fold against the broadcast per-subspace centroid pack) plus one
    * recenter shuffle grouped by (s, cluster, pos) — so a round reads each
    * vector once for all m codebooks instead of m sequential passes, and
    * the job count is O(iters), not O(m·iters). Values are bit-identical
    * to m independent [[Similarity.kmeansCentroids]] runs: the seeding
    * hashes ids only (shared across subspaces), the assignment fold uses
    * the same tie-to-smaller-cluster rule (order-free on exact doubles),
    * and the recenter is the same nano-quantized mean per group. */
  private def trainBooks(unit: DataFrame, m: Int, dsub: Int, ks: Int,
                         iters: Int, idCol: String): Seq[Array[Array[Double]]] = {
    val subs = unit.select(col(idCol), posexplode(
        array((0 until m).map(s => slice(col("nv"), s * dsub + 1, dsub)): _*))
      .as(Seq("s", "sv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hv = graft.core.OracleSafe.hashLong(
      concat(lit("km:"), col(idCol).cast("string")))
    val seedIds = unit.withColumn("_h", hv)
      .orderBy(col("_h"), col(idCol)).limit(ks)
      .select(col(idCol).as("_sid"))
    def assignAll(cents: DataFrame): DataFrame = {
      val packed = cents.groupBy("s")
        .agg(collect_list(struct(col("cluster"), col("_carr"))).as("_cs"))
      val best = aggregate(col("_cs"),
        struct(lit(Double.MaxValue).as("d2"), lit(Long.MaxValue).as("cluster")),
        (acc, c) => {
          val d = sqd(col("sv"), c.getField("_carr"))
          when(d < acc.getField("d2") ||
              (d === acc.getField("d2") &&
                c.getField("cluster") < acc.getField("cluster")),
            struct(d.as("d2"), c.getField("cluster").as("cluster")))
            .otherwise(acc)
        })
      subs.join(broadcast(packed), Seq("s"))
        .withColumn("_b", best)
        .select(col(idCol), col("s"), col("_b.cluster").as("cluster"))
    }
    var cents: DataFrame = subs
      .join(broadcast(seedIds), col(idCol) === col("_sid"))
      .select(col("s"), col(idCol).as("cluster"), col("sv").as("_carr"))
    for (_ <- 1 to iters)
      cents = assignAll(cents).join(subs, Seq(idCol, "s"))
        .select(col("s"), col("cluster"),
          posexplode(col("sv")).as(Seq("_pos", "_val")))
        .groupBy("s", "cluster", "_pos")
        .agg((sum(floor(col("_val") * lit(1e9))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast(DoubleType) /
          count(col("_val")) / lit(1e9)).as("_m"))
        .groupBy("s", "cluster")
        .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_m")))),
          x => x.getField("_m")).as("_carr"))
    val rows = cents.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    subs.unpersist(blocking = false)
    (0 until m).map(s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3): Array[Array[Double]])
  }

  /** PQ top-k for each probe in `queryIds`: one-loop training (cached per
    * corpus+params), then encode + ADC scan in ONE pass over the corpus for
    * the whole probe set — the probe set broadcasts, the
    * [[graft.functions.PqAdc]] kernel scores every (row, probe) pair — and
    * the [[exactRerank]] tail over each probe's `k*rerank` candidates (top
    * by (approx asc, id)). Result contract matches the other ANN variants:
    * (probe_id, idCol, cosine, rnk). */
  def pqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int, m: Int = 16, ks: Int = 16,
             iters: Int = 2, rerank: Int = 16, dim: Int = 64,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dsub = dim / m
    val unit = unitize(emb, idCol, vecCol)
    val books = trainCodebooks(emb, m, ks, iters, dim, idCol, vecCol)
    val probes = Similarity.probeRows(unit, idCol, queryIds, col("nv").as("qn"))
    // ADC: per subspace, distance from the query's sub-vector to the row's
    // assigned centroid (codebook literal lookup), summed in subspace order.
    // Encoding and scan share one pass here; [[writePqIndex]] persists the
    // codes so the offline form scans only those.
    val approx = unit
      .withColumn("_codes", codesArr(books, col("nv"), dsub))
      .crossJoin(broadcast(probes))
      .where(col(idCol) =!= col("probe_id"))
      .withColumn("approx", adcFromCodes(books, col("qn"), col("_codes"), dsub))
    val candIds = graft.core.Dist.topK(approx, Seq(col("approx").asc, col(idCol)),
        k * rerank, Similarity.probeGroups(queryIds), "arnk")
      .select(col("probe_id"), col(idCol))
    exactRerank(emb, candIds, queryIds, k, idCol, vecCol)
  }

  /** IVF-PQ: the production ANN composition — IVF cells prune the corpus
    * to the query's `nProbe` nearest cells, then the PQ ADC kernel scores
    * only the surviving members' codes and the exact re-rank touches
    * k·rerank floats. At 100 TB the two levers stack: partition pruning
    * cuts the rows scanned (nProbe/nCells of the corpus), the code table
    * cuts the bytes per row scanned (1/16) — the FAISS IVFPQ shape as two
    * already-indexed Spark structures joined by cell id. With
    * `nProbe ≥ nCells` the cell filter is a no-op and the result is
    * provably identical to [[pqTopK]] at the same `rerank` (the registered
    * queries' oracle — `spill` also cannot change the all-cells member set
    * beyond duplication, which the dedup removes); the genuine pruning
    * regime is recall-gated in `IvfRecallSpec`. `rerank` sizes the exact
    * refine buffer (the FAISS refine step: ADC keeps k·rerank candidates,
    * float re-scoring orders them); `spill` ≥ 2 multi-assigns each vector
    * to its `spill` nearest cells — the recall lever that moves the CELL
    * COVERAGE bound, which `rerank` alone cannot (at nProbe=16/45 cells the
    * single-assignment ceiling is exact-IVF's own ~0.80).
    *
    * DEFAULTS are the refine path (r11 verdict item 4): `spill = 2,
    * rerank = 32` — the measured sweep (IvfRecallSpec, OPERATORS.md) puts
    * the unrefined single-assignment config at recall 0.80 under a 16/45
    * probe while the default crosses the 0.95 operating point at the
    * signature's own `nProbe = 32`, for a 2× index footprint and a 2×
    * refine buffer. Callers optimizing index size down pass
    * `spill = 1, rerank = 16` explicitly (the `ann_ivfpq` registry entry
    * keeps that point measured as the cheap-index anchor). */
  def ivfPqTopK(emb: DataFrame, queryId: Long, k: Int, nProbe: Int = 32,
                nCentroids: Int = 0, m: Int = 16, ks: Int = 16,
                iters: Int = 2, rerank: Int = 32, dim: Int = 64,
                spill: Int = 2,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dsub = dim / m
    val (cents, assigned, _) =
      Similarity.ivfCells(emb, idCol, nCentroids, lloydIters = 2, spill = spill)
    val books = trainCodebooks(emb, m, ks, iters, dim, idCol, vecCol)
    // under spill >= 2 the query id has `spill` assignment rows — one
    // embedding row is all the cell ranking needs
    val qCells = assigned.where(col(idCol) === queryId)
      .select(col("embedding").as("q_emb")).limit(1)
      .crossJoin(broadcast(cents))
      .withColumn("sim",
        fastCosine(col("q_emb"), col("cent_emb")))
      .orderBy(col("sim").desc, col("cent_id")).limit(nProbe)
      .select(col("cent_id"))
    // spilled members reachable through two probed cells dedup by id
    // (duplicate rows are bit-identical — same id, same embedding);
    // single-assignment keeps the exchange-free join, nothing to dedup
    val members0 = assigned.join(broadcast(qCells), Seq("cent_id"))
      .where(col(idCol) =!= queryId)
      .select(col(idCol), col("embedding").as(vecCol))
    val members =
      if (spill > 1) members0.dropDuplicates(Seq(idCol)) else members0
    val q = unitize(emb.where(col(idCol) === queryId), idCol, vecCol)
      .select(lit(queryId).as("probe_id"), col("nv").as("qn"))
    val unitM = unitize(members, idCol, vecCol)
    val codes = codesArr(books, col("nv"), dsub)
    val candIds = unitM.crossJoin(broadcast(q))
      .withColumn("approx", adcFromCodes(books, col("qn"), codes, dsub))
      .orderBy(col("approx").asc, col(idCol))
      .limit(k * rerank)
      .select(col("probe_id"), col(idCol))
    exactRerank(emb, candIds, Seq(queryId), k, idCol, vecCol)
  }

  /** Per-probe oracles unioned — a multi-probe [[pqTopK]] equals the same
    * probes run one at a time (spec-pinned), so its oracle is the
    * single-probe replay repeated. */
  def pqTopKPerProbeSql(queryIds: Seq[Long], k: Int, m: Int = 16, ks: Int = 16,
                        iters: Int = 2, rerank: Int = 16,
                        dim: Int = 64): String =
    queryIds.map(q =>
      s"SELECT $q AS probe_id, vec_id, rnk FROM (\n${pqTopKSql(q, k, m, ks, iters, rerank, dim)})")
      .mkString("", "\nUNION ALL\n", "\nORDER BY probe_id, rnk")

  /** All m dense codes of a normalized vector, as one int array column —
    * the codegen'd [[graft.functions.PqEncode]] kernel (codebooks ride as a
    * referenced flat array, not literal trees: the literal form's ~1024
    * unrolled doubles made codegen compilation dominate the scan). Argmin
    * keeps the FIRST minimum (strict <): smallest dense index == smallest
    * cluster id — the oracle's (dist2, cluster) tie rule. */
  private def codesArr(books: Seq[Array[Array[Double]]], nv: Column,
                       dsub: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val (flat, off, cnt) = graft.functions.PqLayout.flatten(books, dsub)
    column(graft.functions.PqEncode(expression(nv), flat, off, cnt, dsub))
  }

  /** Subspace-ordered ADC sum from stored codes: Σ_s d²(q_s, book_s[code_s]),
    * as the codegen'd [[graft.functions.PqAdc]] kernel. */
  private def adcFromCodes(books: Seq[Array[Array[Double]]], qn: Column,
                           codes: Column, dsub: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val (flat, off, _) = graft.functions.PqLayout.flatten(books, dsub)
    column(graft.functions.PqAdc(
      expression(codes), expression(qn), flat, off, dsub))
  }

  /** Unit-normalized projection `(idCol, nv)` — the shared front half.
    * All-zero vectors stay all-zero instead of tripping ANSI divide-by-zero. */
  private def unitize(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.withColumn("_n", Vectors.norm(col(vecCol)))
      .select(col(idCol),
        transform(col(vecCol), x => when(col("_n") === 0d, 0d)
          .otherwise(x.cast(DoubleType) / col("_n"))).as("nv"))

  /** Train (or fetch cached) codebooks for a corpus — the public handle for
    * serving paths that encode elsewhere (a stream, a later snapshot). */
  def trainCodebooks(emb: DataFrame, m: Int = 16, ks: Int = 16,
                     iters: Int = 2, dim: Int = 64,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Seq[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    booksCache(emb, (idCol, vecCol, m, ks, iters)) {
      trainBooks(unitize(emb, idCol, vecCol), m, dim / m, ks, iters, idCol)
    }
  }

  /** Dense-encode a frame with trained codebooks: `(idCol, codes)`. Every
    * expression is stateless per-row (norm fold, literal-codebook argmin),
    * so the same call encodes a batch corpus or a `readStream` in append
    * mode — the stream-static serving shape, parity-pinned by the
    * `streaming_pq_encode` oracle. */
  def encode(df: DataFrame, books: Seq[Array[Array[Double]]], dim: Int = 64,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dsub = dim / books.length
    unitize(df, idCol, vecCol)
      .select(col(idCol), codesArr(books, col("nv"), dsub).as("codes"))
  }

  /** Exact-cosine re-rank of `(probe_id, idCol)` candidates — the one PQ
    * tail: one id-join fetches the candidate floats, the raw probe vectors
    * broadcast, and the final rank runs per [[Similarity.probeGroups]]. */
  private def exactRerank(emb: DataFrame, candIds: DataFrame, queryIds: Seq[Long],
                          k: Int, idCol: String, vecCol: String): DataFrame = {
    val probesRaw = Similarity.probeRows(emb, idCol, queryIds, col(vecCol).as("q_emb"))
    val scored = emb.join(candIds, idCol)
      .join(broadcast(probesRaw), Seq("probe_id"))
      .withColumn("cosine",
        fastCosine(col(vecCol), col("q_emb")))
    Similarity.cosineTopK(scored, k, idCol, queryIds)
  }

  /** Materialize the offline serving index: `<table>` = (idCol, codes) —
    * m dense ints per vector, 1/(dim/m) the bytes of the float corpus —
    * plus `<table>_books` = (s, di, carr) codebook rows. At 100 TB this is
    * the one job that reads the embeddings; every probe afterwards scans
    * only the code table. */
  def writePqIndex(emb: DataFrame, table: String, m: Int = 16, ks: Int = 16,
                   iters: Int = 2, dim: Int = 64,
                   idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val spark = emb.sparkSession
    val books = trainCodebooks(emb, m, ks, iters, dim, idCol, vecCol)
    import spark.implicits._
    books.zipWithIndex
      .flatMap { case (book, s) => book.zipWithIndex.map { case (arr, di) =>
        (s, di, arr.toSeq) } }
      .toDF("s", "di", "carr")
      .write.mode("overwrite").saveAsTable(s"${table}_books")
    encode(emb, books, dim, idCol, vecCol)
      .write.mode("overwrite").saveAsTable(table)
  }

  /** Append a new snapshot to a [[writePqIndex]] table under FROZEN
    * codebooks: the standard incremental-index contract (retraining would
    * re-code the whole corpus; frozen books keep old codes valid, at the
    * price of codebooks drifting from the corpus distribution over many
    * appends — rebuild cadence is the operator's call). Only the new rows
    * are normalized and encoded; the append is one write. */
  def appendPqIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                    newEmb: DataFrame, dim: Int = 64,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val bookRows = spark.table(s"${table}_books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = bookRows.map(_._1).max + 1
    val books: Seq[Array[Array[Double]]] =
      (0 until m).map(s => bookRows.filter(_._1 == s).sortBy(_._2).map(_._3))
    encode(newEmb, books, dim, idCol, vecCol)
      .write.mode("append").saveAsTable(table)
  }

  /** Probe a [[writePqIndex]] table: the ADC pass scans ONLY the code
    * table (m ints per row — the plan's ReadSchema shows no embedding
    * column), with the codebooks collected bounded from the companion
    * table and riding as literals; only the k·rerank candidate ids touch
    * the float corpus for the exact re-rank. Identical results to
    * [[pqTopK]] at the same params (spec-pinned). */
  def pqTopKFromIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                      emb: DataFrame, queryId: Long, k: Int,
                      rerank: Int = 16, dim: Int = 64,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val bookRows = spark.table(s"${table}_books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = bookRows.map(_._1).max + 1
    val dsub = dim / m
    val books: Seq[Array[Array[Double]]] =
      (0 until m).map(s => bookRows.filter(_._1 == s).sortBy(_._2).map(_._3))
    val q = emb.where(col(idCol) === queryId)
      .withColumn("_n", Vectors.norm(col(vecCol)))
      .select(lit(queryId).as("probe_id"), transform(col(vecCol),
        x => when(col("_n") === 0d, 0d)
          .otherwise(x.cast(DoubleType) / col("_n"))).as("qn"))
    val candIds = spark.table(table)
      .where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("approx", adcFromCodes(books, col("qn"), col("codes"), dsub))
      .orderBy(col("approx").asc, col(idCol))
      .limit(k * rerank)
      .select(col("probe_id"), col(idCol))
    exactRerank(emb, candIds, Seq(queryId), k, idCol, vecCol)
  }

  /** DuckDB replay of [[pqTopK]]: normalization, the m hash-seeded Lloyd
    * trainings (shared seed CTE — seeding hashes ids only), dense-code
    * assignment, the subspace-ordered ADC sum, and the exact re-rank. */
  def pqTopKSql(queryId: Long, k: Int, m: Int = 16, ks: Int = 16,
                iters: Int = 2, rerank: Int = 16, dim: Int = 64,
                trainPred: String = "TRUE"): String = {
    val dsub = dim / m
    def fold(terms: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $terms), (acc, x) -> acc + x)"
    def d2(x: String, y: String) = fold(
      s"list_transform(generate_series(1, $dsub), i -> ($x[i] - $y[i]) * ($x[i] - $y[i]))")
    def dotRaw(x: String, y: String) = fold(
      s"list_transform(generate_series(1, $dim), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))")
    def cosRaw(x: String, y: String) =
      s"${dotRaw(x, y)} / (sqrt(${dotRaw(x, x)}) * sqrt(${dotRaw(y, y)}))"

    def apCte(s: Int): String = {
      val lo = s * dsub + 1
      val hi = lo + dsub - 1
      s"""ap_$s AS (SELECT cd.vec_id, ${d2("q.svq", "c.carr")} AS d
         |  FROM code_$s cd JOIN c${iters}_$s c ON c.cluster = cd.cluster
         |  CROSS JOIN (SELECT nv[$lo:$hi] AS svq FROM en WHERE vec_id = $queryId) q)""".stripMargin
    }

    val adcJoin = (1 until m).map(s => s"JOIN ap_$s a$s USING (vec_id)").mkString(" ")
    val adcSum = (0 until m).map(s => s"a$s.d").mkString(" + ")
    s"""WITH ${trainCtes(m, ks, iters, dim, trainPred)},
       |${(0 until m).map(apCte).mkString(",\n")},
       |adc AS (SELECT a0.vec_id, $adcSum AS approx FROM ap_0 a0 $adcJoin),
       |cand AS (SELECT vec_id FROM adc WHERE vec_id <> $queryId
       |         ORDER BY approx, vec_id LIMIT ${k * rerank}),
       |sc AS (SELECT c.vec_id, ${cosRaw("e.embedding", "q.qe")} AS cosine
       |       FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
       |       CROSS JOIN (SELECT embedding AS qe FROM embeddings
       |                   WHERE vec_id = $queryId) q)
       |SELECT vec_id, CAST(rn AS INT) AS rnk FROM (
       |  SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rn
       |  FROM sc) WHERE rn <= $k ORDER BY rnk""".stripMargin
  }

  /** Shared oracle prefix: normalization, the md5 seed set, and per
    * subspace the Lloyd CTEs ending in `code_$s` (vec_id → cluster) and
    * the final codebook `c<iters>_$s`. `trainPred` restricts which rows
    * TRAIN the codebooks (seeding + Lloyd); codes always cover every row
    * — the frozen-codebook incremental-index semantics. */
  private def trainCtes(m: Int, ks: Int, iters: Int, dim: Int,
                        trainPred: String = "TRUE"): String = {
    val dsub = dim / m
    def fold(terms: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $terms), (acc, x) -> acc + x)"
    def d2(x: String, y: String) = fold(
      s"list_transform(generate_series(1, $dsub), i -> ($x[i] - $y[i]) * ($x[i] - $y[i]))")
    def dotRaw(x: String, y: String) = fold(
      s"list_transform(generate_series(1, $dim), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))")
    def subspace(s: Int): String = {
      val lo = s * dsub + 1
      val hi = lo + dsub - 1
      def assign(cents: String, out: String, src: String) =
        s"""${out}_a AS (SELECT e.vec_id, c.cluster, ${d2("e.sv", "c.carr")} AS dist2
           |  FROM $src e CROSS JOIN $cents c),
           |$out AS (SELECT vec_id, cluster FROM (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
           |  FROM ${out}_a) WHERE rn = 1)""".stripMargin
      def recenter(asg: String, out: String) =
        s"""${out}_m AS (SELECT b.cluster, p.i AS pos,
           |    CAST(sum(CAST(floor(e.sv[p.i] * 1000000000.0) AS BIGINT)) AS DOUBLE)
           |      / count(*) / 1000000000.0 AS cval
           |  FROM $asg b JOIN subt$s e USING (vec_id) CROSS JOIN possub p
           |  GROUP BY 1, 2),
           |$out AS (SELECT cluster, list(cval ORDER BY pos) AS carr
           |         FROM ${out}_m GROUP BY cluster)""".stripMargin
      val lloyd = (1 to iters).map { t =>
        assign(s"c${t - 1}_$s", s"b${t}_$s", s"subt$s") + ",\n" +
          recenter(s"b${t}_$s", s"c${t}_$s")
      }.mkString(",\n")
      s"""sub$s AS (SELECT vec_id, nv[$lo:$hi] AS sv FROM en),
         |subt$s AS (SELECT vec_id, nv[$lo:$hi] AS sv FROM ent),
         |c0_$s AS (SELECT s.cluster, e.nv[$lo:$hi] AS carr
         |          FROM seed s JOIN en e ON e.vec_id = s.cluster),
         |$lloyd,
         |${assign(s"c${iters}_$s", s"code_$s", s"sub$s")}""".stripMargin
    }
    s"""en AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) / n) AS nv
       |  FROM (SELECT vec_id, embedding,
       |          sqrt(${dotRaw("embedding", "embedding")}) AS n
       |        FROM embeddings)),
       |ent AS (SELECT e.* FROM en e JOIN embeddings t ON t.vec_id = e.vec_id
       |        WHERE $trainPred),
       |possub AS (SELECT unnest(generate_series(1, $dsub)) AS i),
       |seed AS (SELECT vec_id AS cluster FROM (
       |    SELECT vec_id,
       |      CAST(('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
       |    FROM embeddings t WHERE $trainPred) ORDER BY hv, vec_id LIMIT $ks),
       |${(0 until m).map(subspace).mkString(",\n")}""".stripMargin
  }

  /** DuckDB replay of [[encode]] output as `(vec_id, codes_str)`: the
    * subspace cluster assignments densified (rank of the cluster id within
    * the subspace's surviving codebook — exactly the cluster-id-sorted
    * dense index the Scala side uses) and joined into one comma string. */
  def encodeSql(m: Int = 16, ks: Int = 16, iters: Int = 2,
                dim: Int = 64): String = {
    val dense = (0 until m).map(s =>
      s"""dr_$s AS (SELECT cluster,
         |  row_number() OVER (ORDER BY cluster) - 1 AS di FROM c${iters}_$s),
         |dc_$s AS (SELECT cd.vec_id, d.di FROM code_$s cd
         |          JOIN dr_$s d ON d.cluster = cd.cluster)""".stripMargin)
      .mkString(",\n")
    val joins = (1 until m).map(s => s"JOIN dc_$s x$s USING (vec_id)").mkString(" ")
    val codeList = (0 until m).map(s => s"x$s.di").mkString(", ")
    s"""WITH ${trainCtes(m, ks, iters, dim)},
       |$dense
       |SELECT x0.vec_id,
       |  array_to_string([$codeList], ',') AS codes_str
       |FROM dc_0 x0 $joins
       |ORDER BY x0.vec_id""".stripMargin
  }
}
