package graft.pipelines

import graft.functions.VectorExprs.{fastCosine, floatDot, sq8Cosine}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector helpers over ARRAY<FLOAT> embedding columns — pure builtin
  * `zip_with`/`aggregate` expressions (codegen'd, no UDF). */
object Vectors {
  /** Elementwise dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Zero-norm operands yield 0.0 (no similarity) rather than an ANSI
    * divide-by-zero — real corpora do contain all-zero embeddings. */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0d, 0d).otherwise(dot(a, b) / denom)
  }

  /** Deterministic +-1 hyperplane for sign-LSH (seeded; same plane set on every
    * call → signatures are reproducible across jobs). `private[graft]` so the
    * oracle generator embeds the IDENTICAL plane literals — one source of
    * truth for engine and oracle, like portableHashParams. */
  private[graft] def planes(numPlanes: Int, dim: Int, seed: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Append `lsh_sig` (LONG bitmask of hyperplane signs). dim inferred=64.
    *
    * The plane dot products run through the codegen'd `float_dot` expression
    * (functions.FloatDotProduct), not the interpreted `aggregate(zip_with)`
    * form — the signature is computed for EVERY row of the corpus, so this is
    * the scan-wide hot loop of every LSH variant. Planes ride along as a
    * broadcast 1-row cross join of ARRAY<FLOAT> literal columns. */
  def withLshSignature(emb: DataFrame, vecCol: String, numPlanes: Int, seed: Int,
                       dim: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    val ps = planes(numPlanes, dim, seed)
    val planeCols = ps.zipWithIndex.map { case (p, i) =>
      typedlit(p.map(_.toFloat)).as(s"_lshpl$i")
    }
    val withPlanes = emb.crossJoin(
      broadcast(spark.range(1).select(planeCols: _*)))
    val sig = (0 until numPlanes).map { i =>
      when(floatDot(col(vecCol), col(s"_lshpl$i")) >= 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    withPlanes.withColumn("lsh_sig", sig)
      .drop((0 until numPlanes).map(i => s"_lshpl$i"): _*)
  }

  /** Append `bkeys` — ARRAY<INT> of `bands` band keys, each the sign bitmask
    * of `planesPerBand` hyperplanes (bands × planesPerBand distinct planes).
    * The banded form drives the multiprobe LSH top-k: a neighbor is a
    * candidate when ANY band key matches one of the query's probed keys
    * (OR-amplification), which reaches high recall without the single-band
    * form's huge hamming radius. Same codegen'd float_dot hot loop. */
  def withBandedKeys(emb: DataFrame, vecCol: String, bands: Int, planesPerBand: Int,
                     seed: Int, dim: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    val ps = planes(bands * planesPerBand, dim, seed)
    val planeCols = ps.zipWithIndex.map { case (p, i) =>
      typedlit(p.map(_.toFloat)).as(s"_lshpl$i")
    }
    val withPlanes = emb.crossJoin(
      broadcast(spark.range(1).select(planeCols: _*)))
    val keys = (0 until bands).map { bi =>
      (0 until planesPerBand).map { pi =>
        val idx = bi * planesPerBand + pi
        when(floatDot(col(vecCol), col(s"_lshpl$idx")) >= 0, lit(1 << pi)).otherwise(0)
      }.reduce(_ + _)
    }
    withPlanes.withColumn("bkeys", array(keys: _*))
      .drop((0 until bands * planesPerBand).map(i => s"_lshpl$i"): _*)
  }
}

/** Similarity search over an embedding column: brute-force cosine top-k as the
  * exact baseline, and an LSH-bucketed variant as the scale path (candidates
  * from near buckets only, then exact re-rank).
  */
object Similarity {

  /** FEATURE-HASHED document embeddings (the hashing trick, Weinberger et
    * al. 2009): tokens scatter into a fixed `dim`-bucket vector with a ±1
    * sign hash to debias collisions, L2-normalized — the model-free text →
    * vector bridge that lets the ANN and embedding-near-dup operators run
    * on corpora that have no learned embeddings yet. Entirely per-document
    * arithmetic after one (doc, bucket) aggregation; vectors are
    * reproducible from the text alone (no fitted state, so snapshots
    * embed identically across runs and engines). Buckets and signs come
    * from the base-31/mod-p rolling hash family the DuckDB oracle replays
    * ([[Dedup.PortableP]]); weights are integer counts over a
    * correctly-rounded sqrt, so even the normalized values are bit-exact
    * cross-engine. Empty or fully-cancelled documents (zero norm) are
    * omitted. */
  def hashedEmbedding(docs: DataFrame, dim: Int, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    val toks = docs.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .where(length(col("token")) > 0)
    val x = Dedup.polyHash(col("token"))
    val (a, b) = Dedup.portableHashParams(1).head
    val bucket = pmod(x, lit(dim.toLong))
    val sign = when(pmod(pmod(x * lit(a) + lit(b), lit(Dedup.PortableP)), lit(2L)) === 1L,
      lit(1L)).otherwise(lit(-1L))
    val comps = toks
      .groupBy(col(idCol), bucket.as("_b"))
      .agg(sum(sign).as("_w"))
      .where(col("_w") =!= 0L)
    comps.groupBy(idCol)
      .agg(map_from_entries(collect_list(struct(col("_b"), col("_w")))).as("_m"),
        sqrt(sum(col("_w") * col("_w")).cast(DoubleType)).as("_n"))
      .where(col("_n") > 0.0)
      .select(col(idCol),
        expr(s"transform(sequence(0, ${dim - 1}), " +
          "i -> CAST(coalesce(element_at(_m, CAST(i AS BIGINT)), 0L) / _n AS FLOAT))")
          .as("embedding"))
  }

  /** The result contract shared by every ANN variant: the k best rows by
    * (cosine desc, id), ranked 1..k in `rnk` through
    * [[graft.core.Dist.topK]]. A probe-keyed search passes its `queryIds`:
    * `probe_id` then leads the output, and the rank runs per
    * [[probeGroups]]. */
  private[pipelines] def cosineTopK(scored: DataFrame, k: Int, idCol: String,
                                    queryIds: Seq[Long] = Nil): DataFrame = {
    val probe = if (queryIds.isEmpty) Nil else Seq(col("probe_id"))
    graft.core.Dist.topK(scored, Seq(col("cosine").desc, col(idCol)), k,
        probeGroups(queryIds), "rnk")
      .select(probe ++ Seq(col(idCol), col("cosine"), col("rnk")): _*)
  }

  /** The rank groups a probe set needs, read off the input: none for one
    * distinct probe (a distributed TakeOrdered), `probe_id` for a batch (a
    * per-probe WindowGroupLimit — the rank filter pushed into the shuffle,
    * so the ranking stays distributed at any batch size). */
  private[pipelines] def probeGroups(queryIds: Seq[Long]): Seq[Column] =
    if (queryIds.distinct.size > 1) Seq(col("probe_id")) else Nil

  /** The probe rows of `df`, keyed `probe_id`, with `cols`. For one distinct
    * probe the key is a literal: Catalyst then folds the self-exclusion into
    * a scan filter and each probe-keyed join into a cross join against the
    * one broadcast probe row — the plan of a single-probe search. */
  private[pipelines] def probeRows(df: DataFrame, idCol: String, queryIds: Seq[Long],
                                   cols: Column*): DataFrame = {
    require(queryIds.nonEmpty, "an ANN search needs at least one probe id")
    val key = if (probeGroups(queryIds).isEmpty) lit(queryIds.head) else col(idCol)
    df.where(col(idCol).isin(queryIds.map(x => x: Any): _*))
      .select(key.as("probe_id") +: cols: _*)
  }

  /** Exact top-k by cosine for each probe in `queryIds` against ONE corpus
    * scan — the production shape (probes arrive in batches, and the corpus
    * scan is the dominant cost, so it must amortize across them). The probe
    * set rides as a broadcast; no global sort is materialized. */
  def bruteForceTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
                     idCol: String = "vec_id"): DataFrame = {
    val probes = probeRows(emb, idCol, queryIds, col("embedding").as("q_emb"))
    val scored = emb.crossJoin(broadcast(probes))
      .where(col(idCol) =!= col("probe_id"))
      .withColumn("cosine", fastCosine(col("embedding"), col("q_emb")))
    cosineTopK(scored, k, idCol, queryIds)
  }

  /** This object's persisted derived frames (LSH index, k-means
    * centroids), keyed by the corpus plan, a tag and the parameters. */
  private val memo = graft.core.Memo.frames[Product]

  /** Banded-signature LSH index for one corpus — (id, embedding, bkeys),
    * built ONCE and persisted like [[ivfIndex]]: the bands×planes plane dots
    * run corpus-wide exactly once, every probe reuses them. Keyed by the
    * corpus's analyzed plan (sameResult-verified — a semanticHash collision
    * can never alias two corpora) plus params, and evicted with the session
    * via [[graft.core.Memo.clearSession]]. */
  private def lshIndex(emb: DataFrame, idCol: String, bands: Int,
                       planesPerBand: Int): DataFrame =
    memo(emb, ("lshIndex", idCol, bands, planesPerBand))(
      Vectors.withBandedKeys(emb, "embedding", bands, planesPerBand, seed = 7))

  /** Approximate top-k via MULTIPROBE banded sign-LSH: `bands` bands of
    * `planesPerBand` planes each; a corpus vector is a candidate when any of
    * its band keys equals one of the query's probed keys — the query probes,
    * per band, its own key plus every key within `probeHamming` bits (the
    * standard multiprobe trick: near-miss buckets are probed on the QUERY
    * side only, so the index stays one key per band per vector). Candidates
    * then get an exact cosine re-rank.
    *
    * Scale path: the bucket probe is an ids-only equi-join on (band, key)
    * against a broadcast ~bands·C(planes,≤h) probe-key set keyed by
    * probe_id — embeddings are joined back by id only for the candidate
    * fraction, and N probes resolve in ONE pass over the banded signature
    * index. Defaults measured on the UNIFORM sf0.1 corpus (the
    * structure-free worst case — see tools/AnnSweep, curve in
    * OPERATORS.md): recall@10 = 0.92 at 0.42 candidate fraction; real
    * clustered corpora recall the same neighbors at a far smaller
    * fraction. */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int, bands: Int = 16,
              planesPerBand: Int = 8, probeHamming: Int = 1,
              idCol: String = "vec_id"): DataFrame = {
    val idx = lshIndex(emb, idCol, bands, planesPerBand)
    val masks = (0 until (1 << planesPerBand))
      .filter(m => Integer.bitCount(m) <= probeHamming)
    val probes = probeRows(idx, idCol, queryIds,
      col("embedding").as("q_emb"), col("bkeys").as("q_bkeys"))
    val qKeys = probes
      .select(col("probe_id"), posexplode(col("q_bkeys")).as(Seq("band", "_qk")))
      .withColumn("_m", explode(typedlit(masks)))
      .select(col("probe_id"), col("band"),
        col("_qk").bitwiseXOR(col("_m")).as("bkey"))
    val candIds = idx
      .select(col(idCol), posexplode(col("bkeys")).as(Seq("band", "bkey")))
      .join(broadcast(qKeys), Seq("band", "bkey"))
      .where(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol)).distinct()
    val scored = idx.join(candIds, idCol)
      .join(broadcast(probes.select("probe_id", "q_emb")), Seq("probe_id"))
      .withColumn("cosine", fastCosine(col("embedding"), col("q_emb")))
    cosineTopK(scored, k, idCol, queryIds)
  }

  /** Top-k by cosine in the Johnson–Lindenstrauss PROJECTED space
    * ([[Pca.jlProjectVec]], 64→`dOut` dims): the reduce-then-search scale
    * path — at 100 TB the scan reads and folds dOut doubles per vector
    * instead of 64 floats, and the projection itself is a data-independent
    * narrow map (no training pass, nothing shipped but a seed string).
    * Candidates are ranked directly by projected cosine; because every op
    * on the path (hash-drawn signs, index-order folds, sqrt, one divide)
    * is basic IEEE arithmetic with no transcendental, the scores — not
    * just the ids — are oracle-exact bit for bit. Zero-norm projections
    * score 0 (mirrors every other cosine path). */
  def jlTopK(emb: DataFrame, queryId: Long, k: Int, dOut: Int = 16,
             dim: Int = 64, idCol: String = "vec_id"): DataFrame = {
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, t) => acc + t)
    val proj = Pca.jlProjectVec(emb, dOut, dim, idCol)
    val q = proj.where(col(idCol) === queryId).select(col("yv").as("qv"))
    val scored = proj.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("_na", sqrt(dot(col("yv"), col("yv"))))
      .withColumn("_nb", sqrt(dot(col("qv"), col("qv"))))
      .withColumn("cosine",
        when(col("_na") === 0.0 || col("_nb") === 0.0, lit(0.0))
          .otherwise(dot(col("yv"), col("qv")) / (col("_na") * col("_nb"))))
    cosineTopK(scored, k, idCol)
  }

  /** IVF index for one corpus: centroids + the per-vector cell assignment,
    * built ONCE per corpus and persisted (MEMORY_AND_DISK) — queries reuse it
    * the way a real IVF index is built offline and probed many times, instead
    * of recomputing the full corpus×centroid assignment per query. Keyed by
    * the corpus plan's semantic hash. `nCentroids` scales with corpus size
    * (~√N, the standard IVF cell-count heuristic: ~√N cells × ~√N vectors per
    * cell balances probe cost against scan cost) with a floor of 16; the one
    * `count()` here is index-build work, not per-query driver logic. */
  private final case class IvfIndex(cents: DataFrame, assigned: DataFrame, nCentroids: Int)
  // plan-keyed (sameResult-verified) like lshMemo — two frames per entry,
  // so it frees both
  private val ivfCache = new graft.core.Memo[(String, Int, Int, Int), IvfIndex]({ i =>
    i.cents.unpersist(blocking = false); i.assigned.unpersist(blocking = false)
  })

  /** `spill` >= 2 is MULTI-ASSIGNMENT: each vector is indexed under its
    * `spill` nearest cells (Lloyd training itself stays single-assignment —
    * only the final membership spills). The standard recall lever for
    * cell-pruned probing (the ScaNN/SOAR-family trade): coverage of a true
    * neighbor needs ANY of its `spill` cells probed, not its single nearest,
    * at the price of an index `spill`× the rows — probes must dedup members
    * reachable through two probed cells. */
  private def ivfIndex(emb: DataFrame, idCol: String, nCentroidsOverride: Int,
                       lloydIters: Int, spill: Int = 1): IvfIndex = {
    require(spill >= 1, s"spill must be >= 1, got $spill")
    ivfCache(emb, (idCol, nCentroidsOverride, lloydIters, spill))({
      val nc =
        if (nCentroidsOverride > 0) nCentroidsOverride
        else math.max(16, math.sqrt(emb.count().toDouble).round.toInt)
      def assign(c: DataFrame, keep: Int) = graft.core.Dist.topK(
          emb.crossJoin(broadcast(c))
            .withColumn("sim", fastCosine(col("embedding"), col("cent_emb"))),
          Seq(col("sim").desc, col("cent_id")), keep, Seq(col(idCol)), "rn")
        .select(col(idCol), col("embedding"), col("cent_id"))
      // seed centroids = deterministic sample of the corpus (ids hashed),
      // then `lloydIters` rounds of assign → per-cell elementwise mean
      // (kmeans): refined centroids even out cell populations and tighten
      // cells around their members, which is what nProbe recall rides on.
      // Index-build-only cost — probes never pay it.
      var cents: DataFrame = emb
        .withColumn("_h", xxhash64(col(idCol)))
        .orderBy("_h").limit(nc)
        .select(col(idCol).as("cent_id"), col("embedding").as("cent_emb"))
      for (_ <- 1 to lloydIters)
        cents = assign(cents, 1)
          .select(col("cent_id"), posexplode(col("embedding")).as(Seq("_pos", "_v")))
          .groupBy("cent_id", "_pos").agg(avg("_v").as("_m"))
          .groupBy("cent_id")
          .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_m")))),
            s => s.getField("_m").cast(FloatType)).as("cent_emb"))
      val centsP = cents.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val assigned = assign(centsP, spill)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      IvfIndex(centsP, assigned, nc)
    })
  }

  /** PRE-FILTERED exact top-k: cosine ranking restricted to the ids in
    * `allowed` (an ids-only frame from any predicate — language, source,
    * license). Pre-filtering keeps recall exact by construction — the
    * filter lands BEFORE the ranking, so k survivors always exist if the
    * corpus has them (post-filtering an ANN result can starve); at scale
    * the filter rides the scan (predicate pushdown / a semi-join on ids)
    * and the ranking is the same distributed TakeOrdered. */
  def filteredTopK(emb: DataFrame, allowed: DataFrame, queryId: Long, k: Int,
                   idCol: String = "vec_id"): DataFrame = {
    val q = emb.where(col(idCol) === queryId)
      .select(col("embedding").as("q_emb"))
    val scored = emb.join(allowed.select(col(idCol)).distinct(), Seq(idCol),
        "left_semi")
      .where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cosine",
        fastCosine(col("embedding"), col("q_emb")))
    cosineTopK(scored, k, idCol)
  }

  /** The IVF cell structures for composition by other ANN paths (IVF-PQ):
    * (centroids, assignments, nCells) — cached/persisted like every probe
    * through [[ivfTopK]]. */
  private[pipelines] def ivfCells(emb: DataFrame, idCol: String,
                                  nCentroids: Int, lloydIters: Int,
                                  spill: Int = 1): (DataFrame, DataFrame, Int) = {
    val idx = ivfIndex(emb, idCol, nCentroids, lloydIters, spill)
    (idx.cents, idx.assigned, idx.nCentroids)
  }

  /** SQ8 scalar-quantization index: per-dimension [min, max] over the corpus
    * (one posexplode aggregate), then every vector stored as ARRAY<INT> byte
    * codes — 4× smaller than FLOAT, which at 100TB is the difference between
    * an index that fits executor memory and one that spills. `stats` is the
    * 1-row per-dimension (min, step) table; `codes` deliberately does NOT
    * carry the float embeddings — candidates fetch floats by id at re-rank,
    * exactly like a production codes-in-RAM / floats-on-disk split. Cached
    * per (session, corpus plan, idCol) — plan-keyed with sameResult
    * verification — and evicted with the session, like the LSH/IVF
    * indexes. */
  private final case class Sq8Index(stats: DataFrame, codes: DataFrame)
  private val sq8Cache = new graft.core.Memo[String, Sq8Index]({ i =>
    i.stats.unpersist(blocking = false); i.codes.unpersist(blocking = false)
  })

  private def sq8Index(emb: DataFrame, idCol: String): Sq8Index = {
    sq8Cache(emb, idCol)({
      val stats = emb
        .select(posexplode(col("embedding")).as(Seq("_pos", "_v")))
        .groupBy("_pos").agg(
          min(col("_v")).cast(DoubleType).as("_min"),
          max(col("_v")).cast(DoubleType).as("_max"))
        .groupBy().agg(
          transform(
            array_sort(collect_list(struct(col("_pos"),
              struct(col("_min").as("mn"),
                ((col("_max") - col("_min")) / 255.0).as("step")).as("st")))),
            e => e.getField("st")).as("dim_stats"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val codes = emb.crossJoin(broadcast(stats))
        .withColumn("codes", zip_with(col("embedding"), col("dim_stats"),
          (v, s) => when(s.getField("step") > 0,
              round((v.cast(DoubleType) - s.getField("mn")) / s.getField("step"))
                .cast(IntegerType))
            .otherwise(lit(0))))
        .select(col(idCol), col("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Sq8Index(stats, codes)
    })
  }

  /** Approximate top-k over the SQ8 codes with asymmetric scoring (ADC: the
    * float query against decoded corpus codes), keeping `k × rerank`
    * candidates per probe, then an exact float re-rank of just those ids.
    * N probes share ONE pass over the code table: the probe set
    * broadcasts, and one id-join fetches the candidate floats. SQ8
    * distortion is per-dimension ≤ step/2, so the approximate ranking is
    * nearly exact and the rerank buffer absorbs the residual swaps —
    * measured recall@10 in IvfRecallSpec alongside the LSH/IVF variants. */
  def sq8TopK(emb: DataFrame, queryIds: Seq[Long], k: Int, rerank: Int = 4,
              idCol: String = "vec_id"): DataFrame = {
    val idx = sq8Index(emb, idCol)
    val probes = probeRows(emb, idCol, queryIds, col("embedding").as("q_emb"))
    // the approximate pass scans every code row — it rides the codegen'd
    // sq8_cosine (decode + dot + norms in one primitive loop), the same
    // fast path every other ANN variant's scan uses
    val approx = idx.codes
      .crossJoin(broadcast(probes)).crossJoin(broadcast(idx.stats))
      .where(col(idCol) =!= col("probe_id"))
      .withColumn("approx",
        sq8Cosine(col("codes"), col("q_emb"), col("dim_stats")))
    val candIds = graft.core.Dist.topK(approx,
        Seq(col("approx").desc, col(idCol)), k * rerank, probeGroups(queryIds), "arnk")
      .select(col("probe_id"), col(idCol))
    val scored = emb.join(candIds, idCol)
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("cosine", fastCosine(col("embedding"), col("q_emb")))
    cosineTopK(scored, k, idCol, queryIds)
  }

  /** IVF-style variant: kmeans — partition vectors by nearest of the index's
    * centroids (hash-sample seed + Lloyd refinement, ~√N cells), probe the
    * query's nearest `nProbe` cells only. The 100TB path: cells are the
    * partition pruning unit, and the assignment is a persisted index shared
    * across queries. All probes' cell selections resolve in one broadcast
    * round, then ONE pass over the assignment table serves the whole set —
    * a row is scored once per probe whose cells contain it (the per-probe
    * candidate fractions are unchanged; only the scan amortizes).
    *
    * Recall@10 vs [[bruteForceTopK]] is data-dependent: on a clustered
    * corpus a handful of probes recall the in-cell neighbors; the
    * synthetic corpus is UNIFORM random (no structure — the ANN worst case),
    * where recall tracks the probed fraction plus the directional
    * correlation of near neighbors. Defaults picked from the measured
    * sweep (tools/AnnSweep, curve in OPERATORS.md): recall@10 ≥ 0.8 at
    * sf0.1. Tune nProbe down for speed, up for recall. */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int, nCentroids: Int = 0,
              nProbe: Int = 32, idCol: String = "vec_id",
              lloydIters: Int = 2): DataFrame = {
    val idx = ivfIndex(emb, idCol, nCentroids, lloydIters)
    val probes = probeRows(idx.assigned, idCol, queryIds, col("embedding").as("q_emb"))
    val sims = probes.crossJoin(broadcast(idx.cents))
      .withColumn("sim", fastCosine(col("q_emb"), col("cent_emb")))
    val qCells = graft.core.Dist.topK(sims, Seq(col("sim").desc, col("cent_id")),
        nProbe, probeGroups(queryIds), "rn")
      .select(col("probe_id"), col("cent_id"), col("q_emb"))
    val scored = idx.assigned
      .join(broadcast(qCells), Seq("cent_id"))
      .where(col(idCol) =!= col("probe_id"))
      .withColumn("cosine", fastCosine(col("embedding"), col("q_emb")))
    cosineTopK(scored, k, idCol, queryIds)
  }

  /** Persist the IVF index as TABLES — the offline form of the in-session
    * [[ivfIndex]], the way [[Dedup.writeShingleIndex]] is the offline form
    * of the shingle persist: `table` holds (idCol, embedding, cent_id)
    * PARTITIONED BY `cent_id`, and `table_cents` holds the ~√N centroids.
    * A probe then reads ONLY its nProbe cells' files — partition pruning is
    * the scan-cost unit at 100 TB: a 10k-cell index probed at nProbe=32
    * opens 0.3% of the data files and nothing else, across every job that
    * ever probes it, with no session cache to warm. */
  def writeIvfIndex(emb: DataFrame, table: String, nCentroids: Int = 0,
                    lloydIters: Int = 2, idCol: String = "vec_id"): Unit = {
    val idx = ivfIndex(emb, idCol, nCentroids, lloydIters)
    idx.cents.write.mode("overwrite").saveAsTable(s"${table}_cents")
    idx.assigned.select(col(idCol), col("embedding"), col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").saveAsTable(table)
  }

  /** Append a new snapshot to a [[writeIvfIndex]] table under FROZEN
    * centroids — the incremental-index contract, exactly like
    * [[Pq.appendPqIndex]]: re-clustering would move every existing row's
    * cell and invalidate old postings; frozen cells keep them valid at the
    * price of centroids drifting from the corpus distribution over many
    * appends (rebuild cadence is the operator's call). Only the NEW rows
    * are scored against the broadcast centroid table (one pass, no
    * shuffle beyond the write), and the append touches only the new rows'
    * cell partitions. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                     newEmb: DataFrame, idCol: String = "vec_id"): Unit = {
    val cents = spark.table(s"${table}_cents")
    val sims = newEmb.crossJoin(broadcast(cents))
      .withColumn("sim",
        fastCosine(col("embedding"), col("cent_emb")))
    graft.core.Dist.topK(sims, Seq(col("sim").desc, col("cent_id")), 1, Seq(col(idCol)))
      .select(col(idCol), col("embedding"), col("cent_id"))
      .write.mode("append").partitionBy("cent_id").saveAsTable(table)
  }

  /** Top-k probe against a persisted [[writeIvfIndex]] table. The probed
    * cell ids must be LITERALS for Catalyst to prune partitions at plan
    * time, so the centroid ranking runs eagerly and collects exactly
    * `nProbe` ids — the driver-side step is bounded by the centroid count
    * (~√N rows; ~2.5 MB of floats at 100M vectors), which is precisely the
    * centroids-in-RAM posture of production IVF serving (FAISS/ScaNN keep
    * the coarse quantizer resident and route to posting lists). The scan
    * itself is partition-pruned (pinned in `IvfRecallSpec`): only the
    * probed cells' files are opened. `sourceEmb` supplies the query vector
    * by id (a pushed-filter columnar read of one row — at serving time the
    * vector usually arrives with the request instead). */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                       sourceEmb: DataFrame, queryId: Long, k: Int,
                       nProbe: Int = 32, idCol: String = "vec_id"): DataFrame = {
    val q = sourceEmb.where(col(idCol) === queryId)
      .select(col("embedding").as("q_emb"))
    val cells = spark.table(s"${table}_cents").crossJoin(broadcast(q))
      .withColumn("sim", fastCosine(col("cent_emb"), col("q_emb")))
      .orderBy(col("sim").desc, col("cent_id")).limit(nProbe)
      .select("cent_id").collect().map(_.getLong(0))
    val scanned = spark.table(table)
      .where(col("cent_id").isin(cells.map(x => x: Any): _*))
    val scored = scanned.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cosine", fastCosine(col("embedding"), col("q_emb")))
    cosineTopK(scored, k, idCol)
  }

  /** Seeded PORTABLE K-MEANS over the embedding column — the topic/domain
    * clustering pass of corpus curation (cluster-then-balance à la
    * DSIR/SemDeDup cluster stages), built so an independent engine replays
    * it bit-for-bit, unlike [[ivfTopK]]'s engine-internal kmeans:
    *
    *  - seeds = the `k` vectors ranked first by portable md5 hash (cluster
    *    id = the seed's own `idCol`, no synthetic dense ids — and no
    *    single-partition window);
    *  - `iters` Lloyd rounds of { assign to nearest centroid by squared
    *    euclidean, re-center as the per-position mean }, then the final
    *    assignment is emitted;
    *  - distances are SEQUENTIAL double folds in array-index order over the
    *    broadcast centroid array (the engine-wide fold-replay discipline —
    *    the oracle reproduces the accumulator bit-exactly with an ordered
    *    `list_reduce`); re-centering means quantize addends through
    *    DECIMAL(38,9) so the per-position means are partition-order-free;
    *    distance ties break to the smallest cluster id. A cluster that
    *    loses all members simply drops out (standard Lloyd; deterministic
    *    on both sides).
    *
    * Distributed shape: assignment is a broadcast of k centroid ARRAYS and
    * one per-(vector × cluster) row-local fold — no dim-explosion, no
    * shuffle; only re-centering shuffles (members exploded to position
    * rows, reduced per (cluster, position)) — one narrow shuffle per
    * round. No driver action, no global window. Plan depth grows with
    * `iters`; at production scale checkpoint between rounds like
    * `clusterPairs`. */
  def kmeansTopics(emb: DataFrame, k: Int, iters: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    assignToCentroids(emb, kmeansCentroids(emb, k, iters, idCol, vecCol),
      idCol, vecCol)

  /** Squared euclidean distance as a SEQUENTIAL double fold in array-index
    * order (fold-replay oracle discipline). */
  private def sqDist(v: Column, c: Column): Column =
    aggregate(
      zip_with(v, c, (x, y) =>
        (x.cast(DoubleType) - y) * (x.cast(DoubleType) - y)),
      lit(0.0), (acc, t) => acc + t)

  /** The refined centroids of [[kmeansTopics]]: `(cluster, _carr)` — cluster
    * is the seeding vector's own id, `_carr` the double centroid array.
    * Exposed so scoring can run where clustering didn't (a later snapshot, a
    * stream).
    *
    * MEMOIZED per (corpus plan, params) like [[lshPlanes]]/[[ivfIndex]]
    * (r14, guide §2.4 "remove shuffles outright"): six registry queries —
    * topics, purity, silhouette, outliers, SemDeDup, the streaming topic
    * scorer — share this exact clustering, and before the memo each one
    * re-ran both Lloyd rounds (2 corpus assignment passes + 2 recenter
    * shuffles) on EVERY action. The persisted frame is k rows; eviction
    * rides the session ledger, results are unchanged by construction
    * (a re-derived frame is sameResult-identical — the Memo contract). */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && iters >= 1, "k and iters must be >= 1")
    memo(emb, ("kmeansCentroids", idCol, vecCol, k, iters))(
      buildKmeansCentroids(emb, k, iters, idCol, vecCol))
  }

  private def buildKmeansCentroids(emb: DataFrame, k: Int, iters: Int,
                                   idCol: String, vecCol: String): DataFrame = {
    val hv = graft.core.OracleSafe.hashLong(
      concat(lit("km:"), col(idCol).cast("string")))
    val seeds = emb.withColumn("_h", hv)
      .orderBy(col("_h"), col(idCol)).limit(k)
      .select(col(idCol).as("cluster"),
        transform(col(vecCol), x => x.cast(DoubleType)).as("_carr"))
    def recenter(assigned: DataFrame): DataFrame =
      assigned.join(emb, Seq(idCol))
        .select(col("cluster"), posexplode(col(vecCol)).as(Seq("_pos", "_val")))
        .groupBy(col("cluster"), col("_pos"))
        // nano-quantized INTEGER mean (floor(v·1e9), scale-0 decimal sum,
        // two double divisions): a double→DECIMAL(38,9) cast of raw floats
        // TIES at scale and the JVM (HALF_UP) and DuckDB round ties
        // differently — floor is the same double op in both engines
        .agg((sum(floor(col("_val").cast(DoubleType) * lit(1e9))
            .cast(DecimalType(38, 0))).cast(DoubleType) /
          count(col("_val")) / lit(1e9)).as("_m"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_m")))),
          s => s.getField("_m")).as("_carr"))
    var cents = seeds
    for (_ <- 1 to iters)
      cents = recenter(assignToCentroids(emb, cents, idCol, vecCol))
    cents
  }

  /** Nearest-centroid scoring: the centroid set rides a 1-row broadcast as
    * an array of (cluster, centroid) structs and the argmin is a PER-ROW
    * fold — no shuffle, no window, so the same expression scores a batch
    * corpus or a `readStream` in append mode (stateless stream-static
    * join). Ties break to the smallest cluster id; the fold-min is
    * order-independent, so the packing order of the centroid array never
    * matters. */
  def assignToCentroids(df: DataFrame, cents: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val packed = cents
      .agg(collect_list(struct(col("cluster"), col("_carr"))).as("_cents"))
    val best = aggregate(col("_cents"),
      struct(lit(Double.MaxValue).as("dist2"), lit(Long.MaxValue).as("cluster")),
      (acc, c) => {
        val d = sqDist(col(vecCol), c.getField("_carr"))
        when(d < acc.getField("dist2") ||
            (d === acc.getField("dist2") &&
              c.getField("cluster") < acc.getField("cluster")),
          struct(d.as("dist2"), c.getField("cluster").as("cluster")))
          .otherwise(acc)
      })
    df.crossJoin(broadcast(packed))
      .withColumn("_best", best)
      .select(col(idCol), col("_best.cluster").as("cluster"),
        col("_best.dist2").as("dist2"))
  }

  /** Embedding OUTLIERS: each cluster's farthest `frac` of members by
    * centroid distance — the data-cleaning pass that surfaces mislabeled /
    * corrupt / off-distribution vectors after topic clustering (an
    * embedding far from every centroid is exactly what encoder failures
    * and garbage documents produce). Per-cluster EXACT rank, not a z-score:
    * rank and count are integers, so the cut is engine-portable with no
    * derived-moment float surface (a distance-variance oracle would ride
    * the DECIMAL→DOUBLE 1-ulp hazard under cancellation).
    *
    * Shape: the assignment broadcast-fold plus one window per cluster
    * partition and a broadcast of cluster counts — same cost family as
    * assignment itself. Ties break to the smaller id. */
  def embeddingOutliers(emb: DataFrame, k: Int, iters: Int, frac: Double,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    val asg = assignToCentroids(emb,
      kmeansCentroids(emb, k, iters, idCol, vecCol), idCol, vecCol)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("dist2").desc, col(idCol).asc)
    val n = asg.groupBy("cluster")
      .agg(count(lit(1)).cast(DoubleType).as("_n"))
    asg.withColumn("_rn", row_number().over(w))
      .join(broadcast(n), Seq("cluster"))
      .where(col("_rn") <= floor(lit(frac) * col("_n")).cast(LongType))
      .select(col(idCol), col("cluster"), col("dist2"))
  }

  /** STREAMING ANN serving: probe vectors arrive as a stream
    * `(probe_id, q_emb)`, each micro-batch joins the STATIC corpus and the
    * per-probe exact top-k emerges from one update-mode aggregation — the
    * sorted-prefix trick replaces the rank window (windows are not
    * stream-safe): collect (−cosine, id) structs, array_sort, slice k.
    * A probe's result is complete in the trigger that carries it (the
    * static side never changes), so Update-mode snapshots are one-per-
    * probe. The −0.0/+0.0 sort edge is normalized by adding +0.0 (IEEE
    * compare treats them equal in SQL ORDER BY; array_sort's struct
    * compare does not).
    *
    * Scale note: this exact form joins each probe to the whole corpus —
    * right for a broadcastable corpus or a re-rank tier; for a 100 TB
    * corpus put the IVF cell assignment in front (fold over broadcast
    * centroids, equi-join on cell) so the join is cell-pruned, exactly as
    * [[ivfTopK]] does in batch. Scoring is the same codegen'd
    * [[graft.functions.VectorExprs.fastCosine]] as every batch path. */
  def streamingAnnProbe(emb: DataFrame, probes: DataFrame, k: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        probeIdCol: String = "probe_id",
                        probeVecCol: String = "q_emb"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    probes.join(emb, col(idCol) =!= col(probeIdCol))
      .withColumn("cosine",
        fastCosine(col(vecCol), col(probeVecCol)))
      .groupBy(probeIdCol)
      .agg(slice(array_sort(collect_list(struct(
        ((lit(0.0) - col("cosine")) + lit(0.0)).as("nc"),
        col(idCol).as("vid")))), 1, k).as("topk"))
  }

  /** Cluster PURITY against a ground-truth label: per k-means cluster the
    * majority label's share of members — the external counterpart of
    * [[clusterSilhouette]]'s internal score (purity says whether topic
    * clusters recover the annotation; silhouette says whether they're
    * geometrically tight). All-integer counts and one exact division;
    * majority ties break to the smallest label. One label-keyed count per
    * cluster plus a per-cluster window — nothing corpus-global. */
  def clusterPurity(emb: DataFrame, k: Int, iters: Int,
                    labelCol: String = "label", idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val asg = assignToCentroids(emb,
      kmeansCentroids(emb, k, iters, idCol, vecCol), idCol, vecCol)
    val counts = asg
      .join(emb.select(col(idCol), col(labelCol).as("_lbl")), Seq(idCol))
      .groupBy(col("cluster"), col("_lbl")).agg(count(lit(1)).as("_c"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("_c").desc, col("_lbl").asc)
    counts.withColumn("_rn", row_number().over(w))
      .withColumn("_n", sum(col("_c")).over(Window.partitionBy("cluster")))
      .where(col("_rn") === 1)
      .select(col("cluster"), col("_n").as("n_vecs"),
        col("_lbl").as("majority_label"),
        (col("_c").cast(DoubleType) / col("_n")).as("purity"))
  }

  /** Per-cluster SIMPLIFIED silhouette over [[kmeansTopics]]' clustering —
    * the standard scalable variant (Hruschka et al.): for each vector
    * `a = dist(v, own centroid)`, `b = min dist(v, other centroid)`,
    * `s = (b - a) / max(a, b)` (0.0 when both are 0) — full silhouette's
    * O(n²) pairwise distances replaced by k centroid distances, so the
    * whole score rides the SAME broadcast-fold shape as assignment: no
    * extra shuffle beyond the per-cluster mean.
    *
    * Determinism discipline: distances are the sequential index-order folds
    * the k-means oracle replays; `s` is IEEE sqrt/divide of those (exact
    * cross-engine); the per-cluster mean floor-quantizes addends to integer
    * nanos (the [[kmeansCentroids]] re-center rule) so partition order can
    * never move the mean. Requires k >= 2 (b is undefined for a single
    * cluster). Returns (cluster, n_vecs, mean_silhouette). */
  def clusterSilhouette(emb: DataFrame, k: Int, iters: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(k >= 2, "silhouette needs k >= 2")
    val cents = kmeansCentroids(emb, k, iters, idCol, vecCol)
    val packed = cents
      .agg(collect_list(struct(col("cluster"), col("_carr"))).as("_cents"))
    val best = aggregate(col("_cents"),
      struct(lit(Double.MaxValue).as("dist2"), lit(Long.MaxValue).as("cluster")),
      (acc, c) => {
        val d = sqDist(col(vecCol), c.getField("_carr"))
        when(d < acc.getField("dist2") ||
            (d === acc.getField("dist2") &&
              c.getField("cluster") < acc.getField("cluster")),
          struct(d.as("dist2"), c.getField("cluster").as("cluster")))
          .otherwise(acc)
      })
    val b2 = aggregate(
      filter(col("_cents"), c => c.getField("cluster") =!= col("_best.cluster")),
      lit(Double.MaxValue),
      (acc, c) => least(acc, sqDist(col(vecCol), c.getField("_carr"))))
    val aD = sqrt(col("_best.dist2"))
    val bD = sqrt(col("_b2"))
    val sil = when(greatest(aD, bD) === 0d, 0d)
      .otherwise((bD - aD) / greatest(aD, bD))
    emb.crossJoin(broadcast(packed))
      .withColumn("_best", best)
      .withColumn("_b2", b2)
      .withColumn("_s", sil)
      .groupBy(col("_best.cluster").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(floor(col("_s") * lit(1e9)).cast(LongType)).cast(DoubleType) /
          count(lit(1)) / lit(1e9)).as("mean_silhouette"))
  }

  /** Maximal-marginal-relevance diversified top-k: greedily pick the item
    * maximizing `lambda * rel(query, c) - (1 - lambda) * max_{s in S} sim(c, s)`
    * — the classic redundancy-penalized reranker for retrieval-augmented
    * training-data selection (a plain cosine top-k returns k near-copies of
    * the best hit; MMR spends the budget on coverage).
    *
    * Two-phase: the CORPUS-wide part is [[bruteForceTopK]]'s distributed
    * TakeOrdered (top `poolSize` by relevance — any ANN variant could stand
    * in at scale), then the greedy selection runs on the collected pool —
    * driver work is bounded by poolSize² doubles (the pool is a top-k
    * result, never corpus-proportional; same bounded-collect contract as
    * the k-means centroid loop). Pairwise pool similarities are computed
    * distributed BEFORE the collect, with the same codegen'd cosine as the
    * relevance pass.
    *
    * Determinism: cosines fold in index order ([[graft.functions.FloatDotProduct]]),
    * the MMR combination is two IEEE multiplies and a subtract (identical
    * in any engine given identical inputs — `1.0 - lambda` is computed ONCE
    * here and embedded by the oracle generator, never re-derived as a
    * literal), and every argmax ties to the smaller id, so the whole greedy
    * replays exactly in the DuckDB oracle ([[mmrTopKSql]]). Zero-norm
    * vectors would make cosine NaN and are the caller's contract to exclude.
    */
  def mmrTopK(emb: DataFrame, queryId: Long, k: Int, lambda: Double = 0.7,
              poolSize: Int = 50, idCol: String = "vec_id"): DataFrame = {
    val spark = emb.sparkSession
    val q = emb.where(col(idCol) === queryId).select(col("embedding").as("q_emb"))
    val pool = emb.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("rel", fastCosine(col("embedding"), col("q_emb")))
      .orderBy(col("rel").desc, col(idCol))
      .limit(poolSize)
      .select(col(idCol).as("id"), col("rel"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = pool.select(col("id").as("ia"), col("embedding").as("va"))
    val b = pool.select(col("id").as("ib"), col("embedding").as("vb"))
    val simRows = a.join(b, col("ia") =!= col("ib"))
      .withColumn("s", fastCosine(col("va"), col("vb")))
      .select("ia", "ib", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rels = pool.select("id", "rel").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
    pool.unpersist(blocking = false)

    val oneMinusLambda = 1.0 - lambda
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.Map(rels: _*)
    var step = 0
    while (step < k && remaining.nonEmpty) {
      val best = remaining.iterator.map { case (id, rel) =>
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.iterator.map(s => simRows((id, s._1))).max
        (id, lambda * rel - oneMinusLambda * maxSim)
      }.reduce((x, y) =>
        if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x)
      selected += best
      remaining.remove(best._1)
      step += 1
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, mmr), i) => (id, mmr, i + 1) }.toSeq
      .toDF(idCol, "mmr", "rnk")
  }

  /** k-center greedy coreset (farthest-point sampling): start from `seedId`,
    * then k-1 times pick the point maximizing its min squared-euclidean
    * distance to the already-selected set — the classic diverse-subset
    * selector for training-data curation (maximizes coverage radius, 2-approx
    * of the optimal k-center cost).
    *
    * Scale shape: each round is ONE full scan — the selected centers ride a
    * 1-row broadcast as a packed array, the per-candidate min-distance is a
    * per-row fold (no shuffle, no window), and the farthest point is a
    * distributed TakeOrdered of one row. Driver state is the k selected ids,
    * never corpus-proportional. Rounds cost O(n·|selected|) distance folds;
    * for large k an incremental min-distance column (persisted per round,
    * Pregel-style) halves the arithmetic at the price of per-round
    * materialization — at coreset-sized k the stateless rescan wins.
    *
    * Determinism: distances are index-order IEEE folds ((x−y)·(x−y), exact
    * cast float→double), mins and the per-round argmax are rounding-free
    * comparisons with ties to the smaller id — no cross-row sums anywhere,
    * so the greedy replays bit-exactly in DuckDB ([[kcenterCoresetSql]]).
    * Output: (idCol, dist2, rnk) where dist2 is the covering distance at
    * selection time (0.0 for the seed). */
  def kcenterCoreset(emb: DataFrame, k: Int, seedId: Long = 0L,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val pts = emb.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast(DoubleType)).as("v"))
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Double)](
      (seedId, 0.0))
    while (selected.size < k) {
      val selIds = selected.map(_._1).toSeq
      val packed = pts.where(col("id").isin(selIds: _*))
        .agg(collect_list(col("v")).as("_cs"))
      val mind = aggregate(col("_cs"), lit(Double.MaxValue),
        (acc, c) => least(acc, sqDist(col("v"), c)))
      val far = pts.where(!col("id").isin(selIds: _*))
        .crossJoin(broadcast(packed))
        .withColumn("_mind", mind)
        .orderBy(col("_mind").desc, col("id"))
        .limit(1).select(col("id"), col("_mind")).collect()
      if (far.isEmpty) return selected.zipWithIndex
        .map { case ((id, d), i) => (id, d, i + 1) }.toSeq
        .toDF(idCol, "dist2", "rnk")
      selected += ((far(0).getLong(0), far(0).getDouble(1)))
    }
    selected.zipWithIndex
      .map { case ((id, d), i) => (id, d, i + 1) }.toSeq
      .toDF(idCol, "dist2", "rnk")
  }

  /** DuckDB replay of [[kcenterCoreset]]: the same greedy unrolled into
    * chained CTE steps; each step's min-distance is a correlated min over
    * the selected set with the identical index-order (x−y)·(x−y) fold. */
  def kcenterCoresetSql(k: Int, seedId: Long = 0L): String = {
    def d2(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, 64),
         |        i -> ($x[i] - $y[i]) * ($x[i] - $y[i]))),
         |      (acc, v) -> acc + v)""".stripMargin
    val steps = (2 to k).map { i =>
      val prev = i - 1
      s"""c$i AS (SELECT p.id, min(${d2("p.v", "q.v")}) AS mind
         |  FROM p JOIN p q ON q.id IN (SELECT id FROM sel$prev)
         |  WHERE p.id NOT IN (SELECT id FROM sel$prev)
         |  GROUP BY p.id),
         |s$i AS (SELECT id, mind AS dist2, $i AS rnk FROM c$i
         |        ORDER BY mind DESC, id LIMIT 1),
         |sel$i AS (SELECT * FROM sel$prev UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    val tail = if (k == 1) "" else s",\n$steps"
    s"""WITH p AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sel1 AS (SELECT id, CAST(0.0 AS DOUBLE) AS dist2, 1 AS rnk
       |         FROM p WHERE id = $seedId)$tail
       |SELECT id AS vec_id, dist2, CAST(rnk AS INT) AS rnk
       |FROM sel$k ORDER BY rnk""".stripMargin
  }

  /** DuckDB replay of [[mmrTopK]]: identical index-order dot folds, the
    * greedy unrolled into k chained CTE steps (the Lloyd-round replay
    * pattern), constants embedded from the SAME Scala doubles. */
  def mmrTopKSql(queryId: Long, k: Int, lambda: Double = 0.7,
                 poolSize: Int = 50): String = {
    val lam = lambda.toString
    val oml = (1.0 - lambda).toString
    def dot(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, 64),
         |        i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |      (acc, v) -> acc + v)""".stripMargin
    def cos(x: String, y: String) =
      s"${dot(x, y)} / (sqrt(${dot(x, x)}) * sqrt(${dot(y, y)}))"
    val steps = (2 to k).map { i =>
      val prev = i - 1
      s"""c$i AS (SELECT p.id, $lam * p.rel - $oml *
         |    (SELECT max(m.s) FROM sims m JOIN sel$prev t ON m.ib = t.id
         |     WHERE m.ia = p.id) AS mmr
         |  FROM pool p WHERE p.id NOT IN (SELECT id FROM sel$prev)),
         |s$i AS (SELECT id, mmr, $i AS rnk FROM c$i ORDER BY mmr DESC, id LIMIT 1),
         |sel$i AS (SELECT * FROM sel$prev UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $queryId),
       |scored AS (SELECT e.vec_id AS id, ${cos("e.embedding", "q.qv")} AS rel,
       |    e.embedding AS v
       |  FROM embeddings e, q WHERE e.vec_id <> $queryId),
       |pool AS (SELECT id, rel, v FROM (
       |    SELECT id, rel, v, row_number() OVER (ORDER BY rel DESC, id) AS prnk
       |    FROM scored) WHERE prnk <= $poolSize),
       |sims AS (SELECT a.id AS ia, b.id AS ib, ${cos("a.v", "b.v")} AS s
       |         FROM pool a JOIN pool b ON a.id <> b.id),
       |s1 AS (SELECT id, $lam * rel AS mmr, 1 AS rnk FROM pool
       |       ORDER BY mmr DESC, id LIMIT 1),
       |sel1 AS (SELECT * FROM s1),
       |$steps
       |SELECT id AS vec_id, mmr, CAST(rnk AS INT) AS rnk FROM sel$k ORDER BY rnk""".stripMargin
  }
}
