package graft.tools

import graft.core.Tables
import graft.pipelines.Similarity

/** Measure the ANN recall-vs-cost curve on the synthetic embeddings corpus —
  * the tuning evidence behind the lshTopK/ivfTopK defaults (results recorded
  * in OPERATORS.md §similarity).
  *
  * Usage: runMain graft.tools.AnnSweep [sfDir] [multiplier]
  *
  * `multiplier` > 1 scales the corpus deterministically beyond the largest
  * generated sf (whose embeddings table is tiny): replica k rotates each
  * vector's coordinates by k and flips a k-keyed sign pattern — unit norms
  * and the uniform distribution are preserved, and each replica is
  * decorrelated from the original, so it behaves as fresh corpus mass. This
  * exists to measure recall at a cell count where nProbe/nCells is small
  * (the 100 TB regime), not to fabricate test data — no oracle reads it.
  *
  * Recall@10 is against the exact brute-force baseline over a fixed query
  * panel; candidate fraction is the share of the corpus the approximate
  * variant exact-rescored (the probe's real cost driver at 100 TB).
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Bench.sfDir(args.headOption)
    val mult = args.lift(1).map(_.toInt).getOrElse(1)
    val spark = graft.core.Session()
    import org.apache.spark.sql.functions._

    val emb0 = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val n0 = emb0.count()
    val emb = (if (mult <= 1) emb0
    else (0 until mult).map { k =>
      if (k == 0) emb0
      else emb0.select(
        (col("vec_id") + lit(k * n0)).as("vec_id"),
        expr(s"""transform(embedding, (v, i) ->
                |  element_at(embedding, CAST((i + $k) % size(embedding) AS INT) + 1)
                |    * CASE WHEN (i + $k) % 3 = 0 THEN CAST(-1.0 AS FLOAT)
                |           ELSE CAST(1.0 AS FLOAT) END)""".stripMargin)
          .as("embedding"))
    }.reduce(_ unionByName _))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = emb.count()
    val queries = Seq(0L, 7L, 42L, 100L, 499L)
    val exact = queries.map { q =>
      q -> Similarity.bruteForceTopK(emb, Seq(q), 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }.toMap

    def recall(fn: Long => org.apache.spark.sql.DataFrame): Double = {
      val rs = queries.map { q =>
        val ids = fn(q).select("vec_id").collect().map(_.getLong(0)).toSet
        exact(q).intersect(ids).size / 10.0
      }
      rs.sum / rs.size
    }

    println(s"corpus $sfDir n=$n queries=${queries.mkString(",")}")
    for (np <- Seq(4, 8, 16, 24, 32, 48, 64)) {
      val t0 = System.nanoTime()
      val r = recall(q => Similarity.ivfTopK(emb, Seq(q), 10, nProbe = np))
      val dt = (System.nanoTime() - t0) / 1e9
      val nc = math.max(16, math.sqrt(n.toDouble).round.toInt)
      println(f"ivf  nProbe=$np%-3d nCells=$nc recall@10=$r%.2f  fraction~${np.toDouble / nc}%.2f  (${dt}%.1fs all-queries)")
    }
    for ((m, rr) <- Seq((8, 4), (8, 16), (16, 8), (16, 16), (16, 32))) {
      val t0 = System.nanoTime()
      val r = recall(q => graft.pipelines.Pq.pqTopK(emb, Seq(q), 10, m = m, rerank = rr))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"pq   m=$m%-3d rerank=$rr%-3d bits=${m * 4} recall@10=$r%.2f  fraction=${10.0 * rr / n}%.3f  (${dt}%.1fs all-queries)")
    }
    // the refine levers: rerank sizes the exact re-score buffer, spill >= 2
    // multi-assigns members to lift the cell-coverage ceiling (index grows
    // spill x) — the OPERATORS.md ivf-pq curve rows
    for ((np, rr, sp) <- Seq((16, 32, 1), (16, 32, 2), (16, 32, 3), (32, 32, 2))) {
      val t0 = System.nanoTime()
      val r = recall(q => graft.pipelines.Pq.ivfPqTopK(emb, q, 10,
        nProbe = np, rerank = rr, spill = sp))
      val dt = (System.nanoTime() - t0) / 1e9
      val nc = math.max(16, math.sqrt(n.toDouble).round.toInt)
      println(f"ivfpq nProbe=$np%-3d rerank=$rr spill=$sp nCells=$nc recall@10=$r%.2f  codeFraction~${math.min(1.0, sp * np.toDouble / nc)}%.2f floatFraction=${10.0 * rr / n}%.3f  (${dt}%.1fs all-queries)")
    }
    for ((b, ppb, h) <- Seq((8, 10, 2), (8, 10, 1), (12, 10, 1), (8, 12, 2), (16, 8, 1))) {
      val t0 = System.nanoTime()
      val r = recall(q => Similarity.lshTopK(emb, Seq(q), 10,
        bands = b, planesPerBand = ppb, probeHamming = h))
      val dt = (System.nanoTime() - t0) / 1e9
      // candidate fraction for one probe = distinct bucket-mates / corpus
      val frac = {
        val q = queries.head
        val idx = Similarity.lshTopK(emb, Seq(q), n.toInt,
          bands = b, planesPerBand = ppb, probeHamming = h).count()
        idx.toDouble / n
      }
      println(f"lsh  bands=$b%-3d planes=$ppb h<=$h recall@10=$r%.2f  fraction=$frac%.2f  (${dt}%.1fs all-queries)")
    }
    emb.unpersist(blocking = false)
    spark.stop()
  }
}
