package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Cardinality sketches over arbitrary columns, built for cross-engine
  * replay: the bucket/rank hash is the portable md5 pattern
  * ([[graft.core.OracleSafe.hashLong]]), the register state is integer all
  * the way (Z accumulates as Σ 2^(33−M_j) in BIGINT — no float sums), and
  * the only floating-point op in the raw estimate is ONE IEEE division of
  * an embedded double literal by that integer. The small-range branch is
  * the lone transcendental (ln), quantized through DECIMAL(38,9) on both
  * sides per the oracle discipline.
  *
  * Scale shape: a sketch group-by shuffles at most (groups × m) register
  * rows with map-side partial max — constant in corpus size per group,
  * mergeable across partitions/snapshots by construction (register-wise
  * max), which is the whole point of HLL at 100 TB: count distincts
  * without a distinct shuffle.
  */
object Sketches {

  /** Raw HLL register table per group: `groupCols :+ (_b, _mr)` — one row
    * per nonempty register. This IS the sketch: registers merge across
    * tables/partitions/snapshots with a plain `max` ([[hllMerge]]), which
    * is what makes the sketch worth persisting at scale. */
  def hllRegisters(df: DataFrame, valueCol: Column, groupCols: Seq[Column],
                   b: Int = 6): DataFrame = {
    val m = 1 << b
    val h = md5(concat(lit("hll:"), valueCol.cast("string")))
    val h1 = conv(substring(h, 1, 8), 16, 10).cast(LongType)
    val h2 = conv(substring(h, 9, 8), 16, 10).cast(LongType)
    val bucket = h1 % m
    // rank = leading zeros of the 32-bit h2, +1 == 33 - bitlength(h2);
    // bin() prints without leading zeros in BOTH engines
    val rho = when(h2 === 0, lit(33)).otherwise(lit(33) - length(bin(h2)))
    df.select(groupCols ++ Seq(bucket.as("_b"), rho.as("_r")): _*)
      .groupBy(groupCols :+ col("_b"): _*).agg(max(col("_r")).as("_mr"))
  }

  /** Merge register tables (or collapse groups of one) by register-wise
    * max — the union-of-sets sketch. `groupCols` are the SURVIVING keys. */
  def hllMerge(regs: DataFrame, groupCols: Seq[Column]): DataFrame =
    regs.groupBy(groupCols :+ col("_b"): _*).agg(max(col("_mr")).as("_mr"))

  /** Estimate from a register table: `groupCols :+ (estimate: double)`. */
  def hllEstimate(regs: DataFrame, groupCols: Seq[Column],
                  b: Int = 6): DataFrame = {
    val m = 1 << b
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    // the whole numerator folds into ONE driver-computed literal: the
    // estimate is literal / integer — a single deterministic division
    val amc = alpha * m * m * math.pow(2.0, 33)
    val zPresent = sum(expr("shiftleft(CAST(1 AS BIGINT), 33 - _mr)"))
    val grouped = regs.groupBy(groupCols: _*)
      .agg(zPresent.as("_zp"), count(lit(1)).as("_nb"))
      .withColumn("_v", lit(m.toLong) - col("_nb"))
      .withColumn("_z", col("_zp") + col("_v") * lit(1L << 33))
    val raw = lit(amc) / col("_z")
    val corrected = expr(
      s"CAST(CAST($m.0 * ln($m.0 / _v) AS DECIMAL(38,9)) AS DOUBLE)")
    grouped.withColumn("estimate",
        when(raw <= lit(2.5 * m) && col("_v") > 0, corrected).otherwise(raw))
      .select(groupCols :+ col("estimate"): _*)
  }

  /** HyperLogLog distinct-count estimate per group (2^b registers,
    * default 64 → ~13% standard error; raise b for precision).
    * Output: groupCols :+ (estimate: double). */
  def hllDistinct(df: DataFrame, valueCol: Column, groupCols: Seq[Column],
                  b: Int = 6): DataFrame =
    hllEstimate(hllRegisters(df, valueCol, groupCols, b), groupCols, b)

  /** DuckDB replay of [[hllDistinct]] for one value/group expression pair.
    * `table`, `valueExpr`, `groupExpr` are SQL fragments; the constants are
    * embedded from the SAME Scala doubles. */
  def hllDistinctSql(table: String, valueExpr: String, groupExpr: String,
                     b: Int = 6, outName: String = ""): String = {
    val m = 1 << b
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val amc = (alpha * m * m * math.pow(2.0, 33)).toString
    val out = if (outName.nonEmpty) outName else groupExpr
    s"""SELECT g AS $out, CASE WHEN $amc / zz <= ${2.5 * m} AND v > 0
       |         THEN CAST(CAST($m.0 * ln($m.0 / v) AS DECIMAL(38,9)) AS DOUBLE)
       |         ELSE $amc / zz END AS estimate
       |FROM (
       |  SELECT g, zp + v * (CAST(1 AS BIGINT) << 33) AS zz, v FROM (
       |    SELECT g, sum(CAST(1 AS BIGINT) << (33 - mr)) AS zp,
       |           $m - count(*) AS v
       |    FROM (
       |      SELECT g, bkt, max(r) AS mr FROM (
       |        SELECT $groupExpr AS g,
       |          CAST(('0x' || substr(hh, 1, 8)) AS BIGINT) % $m AS bkt,
       |          CASE WHEN CAST(('0x' || substr(hh, 9, 8)) AS BIGINT) = 0 THEN 33
       |               ELSE 33 - length(bin(CAST(('0x' || substr(hh, 9, 8)) AS BIGINT)))
       |          END AS r
       |        FROM (SELECT *, md5('hll:' || CAST($valueExpr AS VARCHAR)) AS hh
       |              FROM $table))
       |      GROUP BY g, bkt)
       |    GROUP BY g))""".stripMargin
  }

  /** Count-min sketch counters over weighted values: `(j, b, cnt)` for
    * `d` hash rows × `w` buckets — a fixed d·w-cell frequency table that
    * merges across partitions/snapshots by plain addition, with every
    * estimate an over-count (never under). Hash j of value v is the
    * portable md5 of `"cms:<j>:<v>"`, so the oracle replays the counters
    * cell for cell (integer-exact end to end). */
  def cmsCounters(df: DataFrame, valueCol: Column, weightCol: Column,
                  d: Int = 4, w: Int = 256): DataFrame = {
    def bucket(j: Int): Column =
      conv(substring(md5(concat(lit(s"cms:$j:"), valueCol.cast("string"))),
        1, 8), 16, 10).cast(LongType) % w
    df.select(weightCol.as("_wt"),
        posexplode(array((0 until d).map(bucket): _*)).as(Seq("j", "b")))
      .groupBy("j", "b").agg(sum(col("_wt")).as("cnt"))
  }

  /** Point estimates from a counter table: for each probe value, the min
    * over the d hashed cells — `probes.cols :+ (est: long)`. */
  def cmsEstimate(counters: DataFrame, probes: DataFrame, valueCol: Column,
                  d: Int = 4, w: Int = 256): DataFrame = {
    def bucket(j: Int): Column =
      conv(substring(md5(concat(lit(s"cms:$j:"), valueCol.cast("string"))),
        1, 8), 16, 10).cast(LongType) % w
    val probeCols = probes.columns.map(col).toSeq
    probes
      .select(probeCols :+ posexplode(array((0 until d).map(bucket): _*))
        .as(Seq("j", "b")): _*)
      .join(counters, Seq("j", "b"), "left")
      .groupBy(probeCols: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Fixed-boundary histogram sketch: bucket = floor(value·scale) —
    * integer counts, mergeable across partitions/snapshots by plain
    * addition, quantile error bounded by the bucket width 1/scale. The
    * whole sketch is integers plus ONE final division per quantile, so the
    * oracle replays it exactly. Bucket count is value-range·scale, not
    * row count — pick `scale` for the precision/size trade. */
  def histCounts(df: DataFrame, valueCol: Column, scale: Double): DataFrame =
    df.select(floor(valueCol.cast("double") * lit(scale)).cast(LongType).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cnt"))

  /** Nearest-rank quantile estimates from a histogram: for each p, the
    * LOWER BOUNDARY of the first bucket whose cumulative count reaches
    * `ceil(p·N)`. The cumulative runs through [[graft.core.Dist.prefixScan]]
    * (two-phase — no single-partition window over the buckets), and the
    * per-p probe is a broadcast threshold join + min. Output (p, est). */
  def histQuantiles(counts: DataFrame, ps: Seq[Double],
                    scale: Double): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val cum = graft.core.Dist.prefixScan(
      counts, Seq(col("b")), col("cnt"), Seq(col("b")))
    val total = cum.agg(sum(col("cnt")).as("n"))
    val probes = ps.toDF("p")
    cum.crossJoin(broadcast(total)).crossJoin(broadcast(probes))
      .where(col("_scan") >= ceil(col("p") * col("n")))
      .groupBy("p").agg(min(col("b")).as("_qb"))
      .select(col("p"), (col("_qb").cast("double") / lit(scale)).as("est"))
      .orderBy("p")
  }

  /** Global (ungrouped) replay: registers of disjoint groups merge by max
    * into exactly the direct global registers, so the oracle for a merged
    * sketch IS the direct global sketch. */
  def hllDistinctGlobalSql(table: String, valueExpr: String,
                           b: Int = 6): String =
    s"""SELECT estimate FROM (
       |${hllDistinctSql(table, valueExpr, "0", b, outName = "grp")})""".stripMargin

  /** KMV ("k minimum values" / bottom-k theta) sketch: the k smallest
    * distinct 32-bit portable hashes of `valueCol` per group, as rows
    * `groupCols :+ _h`. The payoff over HLL is SET ALGEBRA: two sketches
    * intersect ([[kmvOverlap]]) because any hash below the union's k-th
    * minimum is a uniform sample of the union, and membership of a sampled
    * hash in both input sketches is decidable from the sketches alone —
    * so crawl-vs-crawl overlap at 100 TB costs two sketch scans and a
    * 2k-row combine, not a join of the crawls. Integer state end to end.
    *
    * Scale shape: one distinct shuffle on (group, hash) — two longs a
    * row — then the min-k through [[graft.core.Dist.topK]] (`_rn` = the
    * 1-based rank): a distributed TakeOrdered with no groups, a partial
    * WindowGroupLimit below the group shuffle otherwise. No sort ever sees
    * more than partitions·k rows per group.
    */
  def kmvSketch(df: DataFrame, valueCol: Column, groupCols: Seq[Column],
                k: Int = 256): DataFrame = {
    val h = graft.core.OracleSafe.hashLong(
      concat(lit("kmv:"), valueCol.cast("string")))
    val hashed = df.select(groupCols :+ h.as("_h"): _*).distinct()
    val groups = hashed.columns.dropRight(1).toSeq.map(col)
    // localCheckpoint the ≤ groups·k sketch rows: [[kmvOverlap]] reads each
    // sketch twice (the combine and its own estimate), and without the cut
    // each reference replays the corpus scan + distinct (measured 24
    // parquet scans in the two-sketch overlap plan). One corpus pass, then
    // everything downstream reads the sketch-sized checkpoint.
    graft.core.Dist.topK(hashed, Seq(col("_h")), k, groups).localCheckpoint(true)
  }

  /** Distinct estimate from a KMV sketch: (k−1)·2^32 / h₍k₎ — the numerator
    * an exact driver-side double literal, ONE IEEE division per group — or
    * the exact count when the group never filled its k slots. */
  def kmvEstimate(sketch: DataFrame, groupCols: Seq[Column],
                  k: Int = 256): DataFrame =
    sketch.groupBy(groupCols: _*)
      .agg(max(col("_h")).as("_hk"), count(lit(1)).as("_n"))
      .withColumn("estimate",
        when(col("_n") < k, col("_n").cast("double"))
          .otherwise(lit((k - 1).toDouble * 4294967296.0) / col("_hk")))
      .select(groupCols :+ col("estimate"): _*)

  /** Overlap estimates from two KMV sketches (each `(_h, _rn)` rows): one
    * row `(est_a, est_b, est_union, est_inter)`. The combined bottom-k of
    * the two sketches' hashes samples the union; θ = its k-th minimum;
    * est_union = (k−1)·2^32/θ and est_inter = |{h < θ : h ∈ A ∧ h ∈ B}|
    * ·2^32/θ — sound because θ ≤ either input's own k-th minimum, so a
    * hash below θ present in a set is necessarily IN that set's sketch.
    * Degenerate exact branch: if the combined distinct hashes never fill
    * k slots, both inputs are complete hash sets and every output is the
    * exact cardinality. All frames after the inputs are ≤ 2k rows. */
  def kmvOverlap(skA: DataFrame, skB: DataFrame, k: Int = 256): DataFrame = {
    val ha = skA.select(col("_h")).withColumn("_ina", lit(1L))
    val hb = skB.select(col("_h")).withColumn("_inb", lit(1L))
    val comb0 = ha.join(hb, Seq("_h"), "full")
      .select(col("_h"), coalesce(col("_ina"), lit(0L)).as("_ina"),
        coalesce(col("_inb"), lit(0L)).as("_inb"))
    // the combined bottom-k by hash (distinct hashes ⇒ a total order)
    val comb = graft.core.Dist.topK(comb0, Seq(col("_h")), k)
    val stats = comb.agg(
      max(col("_h")).as("_theta"), count(lit(1)).as("_nu"),
      sum(when(col("_ina") + col("_inb") === 2L && col("_rn") < k, 1L)
        .otherwise(0L)).as("_common"),
      sum(when(col("_ina") + col("_inb") === 2L, 1L).otherwise(0L))
        .as("_commonAll"))
    val sa = skA.agg(count(lit(1)).as("_na"), max(col("_h")).as("_hka"))
    val sb = skB.agg(count(lit(1)).as("_nb"), max(col("_h")).as("_hkb"))
    def est(n: Column, hk: Column): Column =
      when(n < k, n.cast("double"))
        .otherwise(lit((k - 1).toDouble * 4294967296.0) / hk)
    stats.crossJoin(broadcast(sa)).crossJoin(broadcast(sb)).select(
      est(col("_na"), col("_hka")).as("est_a"),
      est(col("_nb"), col("_hkb")).as("est_b"),
      est(col("_nu"), col("_theta")).as("est_union"),
      when(col("_nu") < k, col("_commonAll").cast("double"))
        .otherwise(col("_common") * lit(4294967296.0) / col("_theta"))
        .as("est_inter"))
  }
}
