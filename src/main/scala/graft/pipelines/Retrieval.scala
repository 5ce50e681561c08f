package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Lexical (term-based) retrieval over the document corpus: inverted
  * postings, Okapi BM25 scoring, and a bucketed on-disk postings index for
  * the repeated-probe serving path.
  *
  * Counterpart of the reference's text search surface re-expressed
  * Spark-first (the reference's per-field Lucene scoring lives in its index
  * engine, e.g. index/mapper/TextFieldMapper.java — here the postings ARE a
  * DataFrame and the ranking is one aggregation), and the lexical sibling of
  * [[Similarity]]'s dense-vector retrieval: the same `documents` corpus,
  * the same top-k contract (`(id, score, rnk)`), so hybrid lexical+dense
  * reranking composes by joining the two outputs on id.
  *
  * == Cross-engine determinism ==
  * BM25's idf is a transcendental (`ln`), and JVM vs libm `ln` can disagree
  * in the last ulp, so the score is FLOOR-QUANTIZED to integer nano-units:
  * `idf_units = floor(idf · 1e9)` (a 1-ulp input wobble only matters within
  * ~1e-7 of an integer boundary), each per-term contribution is again
  * floored to a LONG, and the per-document score is an exact integer sum —
  * ranking compares longs, never rounding-mode-exposed doubles (the
  * scale-0-integer discipline from the k-means/CUSUM oracles). The reported
  * `bm25` column is `units / 1e9`, one final exact division.
  *
  * == 100 TB posture ==
  * Ad-hoc scoring is two narrow aggregations over the token stream (postings
  * and doc lengths) plus one broadcast semi-join that prunes the postings to
  * the query's terms BEFORE any wide work; nothing joins doc×doc. The
  * serving path ([[writeBm25Index]] / [[bm25TopKFromIndex]]) tokenizes the
  * corpus exactly once into a term-bucketed table with df/dl/corpus stats
  * denormalized onto each posting, so a probe is: IN-list filter on the
  * bucket key (pushed to the parquet scan — reads only the query's terms'
  * row groups), one partial-aggregated groupBy(doc), and a distributed
  * TakeOrdered. No shuffle touches the corpus at probe time.
  */
object Retrieval {
  import graft.core.Tables

  /** Okapi BM25 defaults. */
  val K1 = 1.2
  val B = 0.75

  /** Inverted postings: one row per (doc, term) with the term frequency.
    * Tokenization is the corpus-wide rule shared with langid / vocabulary
    * ([[TextAnalysis]]): lowercase, trim, split on runs of whitespace. */
  def postings(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast(LongType).as("tf"))

  /** [[postings]] memoized + persisted per (corpus plan, id, text) — the
    * retrieval family's shared derived input (r14, guide §2.4/§1.2: the
    * tokenize+count pass is the same frame in bm25TopK's postings/dl/stats/
    * dfq subtrees, both PRF passes, RRF's lexical arm, lexical diversity
    * and the CMS term stream; before the memo one bm25TopK plan re-derived
    * it FOUR times — 4 Generate+HashAggregate chains over the same scan).
    * Batch inputs only (a stream cannot persist); the session ledger owns
    * eviction, rebuild is sameResult-identical. */
  def postingsCached(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    postingsMemo(docs, (idCol, textCol))(postings(docs, idCol, textCol))

  private val postingsMemo = graft.core.Memo.frames[(String, String)]

  /** Per-term BM25 contribution in integer nano-units (see class doc).
    * All inputs are integer columns; the only transcendental is quantized
    * immediately. Column math is written in the exact op order the DuckDB
    * oracle mirrors — changing association changes the floored value. */
  private def scoreUnits(tf: Column, df: Column, dl: Column, nDocs: Column,
                         sumLen: Column, k1: Double, b: Double): Column = {
    val idfUnits = floor(
      log(lit(1.0) + (nDocs.cast(DoubleType) - df + lit(0.5)) /
        (df.cast(DoubleType) + lit(0.5))) * lit(1e9)).cast(LongType)
    val lenRatio = dl.cast(DoubleType) * nDocs / sumLen
    val tff = tf.cast(DoubleType) * lit(k1 + 1.0) /
      (tf.cast(DoubleType) + lit(k1) * (lit(1.0 - b) + lit(b) * lenRatio))
    floor(idfUnits.cast(DoubleType) * tff).cast(LongType)
  }

  private def rankUnits(unitsByDoc: DataFrame, k: Int, idCol: String): DataFrame =
    graft.core.Dist.topK(unitsByDoc, Seq(col("units").desc, col(idCol)), k, rankCol = "rnk")
      .select(col(idCol), (col("units") / lit(1e9)).as("bm25"), col("rnk"))

  /** Top-k documents by BM25 against the DISTINCT terms of document
    * `queryId` (the query doc itself is excluded from results but counts
    * toward df / corpus stats — it is part of the corpus). Repeated query
    * terms score once: classic BM25 query-term saturation is per-term, and
    * a distinct-term query keeps the oracle replay exact. */
  def bm25TopK(docs: DataFrame, queryId: Long, k: Int,
               k1: Double = K1, b: Double = B,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val post = postingsCached(docs, idCol, textCol)
    val dl = post.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_len"))
    val qTerms = post.where(col(idCol) === queryId).select("term")
    // df over query terms only — the full-vocabulary df is never built
    val dfq = post.join(broadcast(qTerms), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val units = post.where(col(idCol) =!= queryId)
      .join(broadcast(dfq), Seq("term"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("s_units",
        scoreUnits(col("tf"), col("df"), col("dl"), col("n_docs"),
          col("sum_len"), k1, b))
      .groupBy(col(idCol)).agg(sum(col("s_units")).as("units"))
    rankUnits(units, k, idCol)
  }

  /** DuckDB oracle for [[bm25TopK]] — identical token rule, identical op
    * order, identical floor-quantization; constants are embedded from the
    * SAME Scala doubles the Spark plan uses (Double.toString round-trips). */
  def bm25TopKSql(queryId: Long, k: Int, k1: Double = K1, b: Double = B): String = {
    val k3 = (k1 + 1.0).toString
    s"""WITH toks AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |         FROM toks WHERE len(term) > 0 GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(dl) AS BIGINT) AS sum_len FROM dl),
       |qt AS (SELECT term FROM post WHERE doc_id = $queryId),
       |dfq AS (SELECT p.term, CAST(count(*) AS BIGINT) AS df
       |        FROM post p JOIN qt USING (term) GROUP BY 1),
       |sc AS (SELECT p.doc_id,
       |    CAST(floor(
       |      CAST(floor(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - f.df + 0.5) /
       |                          (CAST(f.df AS DOUBLE) + 0.5)) * 1e9) AS DOUBLE)
       |      * (CAST(p.tf AS DOUBLE) * $k3 /
       |         (CAST(p.tf AS DOUBLE) + $k1 *
       |          (${1.0 - b} + $b * (CAST(d.dl AS DOUBLE) * s.n_docs / s.sum_len))))
       |    ) AS BIGINT) AS s_units
       |  FROM post p JOIN dfq f USING (term)
       |  JOIN dl d ON d.doc_id = p.doc_id CROSS JOIN stats s
       |  WHERE p.doc_id <> $queryId),
       |agg AS (SELECT doc_id, sum(s_units) AS units FROM sc GROUP BY 1),
       |r AS (SELECT doc_id, units / 1e9 AS bm25,
       |        CAST(row_number() OVER (ORDER BY units DESC, doc_id) AS INT) AS rnk
       |      FROM agg)
       |SELECT doc_id, bm25, rnk FROM r WHERE rnk <= $k ORDER BY rnk""".stripMargin
  }

  /** BM25 with PSEUDO-RELEVANCE-FEEDBACK query expansion (Rocchio-style
    * two-pass): pass 1 ranks by the query document's distinct terms; the
    * top `feedbackK` hits are assumed relevant; the `expandM` best terms
    * of that feedback set — ranked by an offer weight `feedback-tf × idf`,
    * excluding terms already in the query — join the query; pass 2 ranks
    * the corpus under the expanded term set. The classic recall lift for
    * short/narrow queries, as one lazy plan.
    *
    * Determinism: the offer weight is an exact LONG product (summed
    * feedback tf × the same floor-quantized idf nano-units BM25 scores
    * with), expansion ties break on the term string, and both passes are
    * the [[bm25TopK]] integer-unit scoring — the oracle replays every
    * stage including the expansion choice. Scale: the term sets stay
    * bounded (one document's vocabulary + m) and ride scan-pushed
    * IN-lists, df counts broadcast, and the feedback set is a top-k
    * result — nothing corpus×corpus anywhere. */
  def bm25PrfTopK(docs: DataFrame, queryId: Long, k: Int,
                  feedbackK: Int = 5, expandM: Int = 5,
                  k1: Double = K1, b: Double = B,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && feedbackK >= 1 && expandM >= 0, "k, feedbackK >= 1")
    // postings feed both passes, both df counts, dl and the expansion —
    // the memoized session frame (r14; the per-call .persist this replaces
    // piled up one cache entry per invocation and re-tokenized per session)
    val post = postingsCached(docs, idCol, textCol)
    val dl = post.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_len"))
    // the pass-1 result, feedback ids and expansion terms pin lineage
    // barriers as BOUNDED collects (one document's vocabulary, feedbackK
    // ids, expandM terms — the bm25TopKFromIndex contract): left lazy,
    // every broadcast subtree of pass 2 re-executes the whole pass-1 DAG,
    // and the IN-lists push to the postings scan instead of joining
    val qts = post.where(col(idCol) === queryId).select("term")
      .collect().map(_.getString(0)).toSeq
    def dfOf(terms: Seq[String]): DataFrame =
      post.where(col("term").isin(terms: _*))
        .groupBy("term").agg(count(lit(1)).as("df"))
    def scorePass(terms: Seq[String]): DataFrame =
      post.where(col(idCol) =!= queryId && col("term").isin(terms: _*))
        .join(broadcast(dfOf(terms)), Seq("term"))
        .join(dl, Seq(idCol))
        .crossJoin(broadcast(stats))
        .withColumn("s_units",
          scoreUnits(col("tf"), col("df"), col("dl"), col("n_docs"),
            col("sum_len"), k1, b))
        .groupBy(col(idCol)).agg(sum(col("s_units")).as("units"))
    val fbIds = rankUnits(scorePass(qts), feedbackK, idCol)
      .select(col(idCol)).collect().map(_.getLong(0)).toSeq
    val cand = post.where(col(idCol).isin(fbIds: _*) && !col("term").isin(qts: _*))
      .groupBy("term").agg(sum(col("tf")).as("fb_tf"))
    val candTerms = cand.select("term").collect().map(_.getString(0)).toSeq
    val expTerms =
      if (candTerms.isEmpty || expandM == 0) Seq.empty[String]
      else cand.join(broadcast(dfOf(candTerms)), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("ow_units", col("fb_tf") *
          floor(log(lit(1.0) + (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
            (col("df").cast(DoubleType) + lit(0.5))) * lit(1e9)).cast(LongType))
        .orderBy(col("ow_units").desc, col("term").asc)
        .limit(expandM).select("term").collect().map(_.getString(0)).toSeq
    rankUnits(scorePass((qts ++ expTerms).distinct), k, idCol)
  }

  /** DuckDB oracle for [[bm25PrfTopK]] — both passes, the feedback cut and
    * the offer-weight expansion replayed stage for stage. */
  def bm25PrfTopKSql(queryId: Long, k: Int, feedbackK: Int = 5,
                     expandM: Int = 5, k1: Double = K1, b: Double = B): String = {
    val k3 = (k1 + 1.0).toString
    def sc(dfCte: String, out: String): String =
      s"""$out AS (SELECT p.doc_id, sum(CAST(floor(
         |      CAST(floor(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - f.df + 0.5) /
         |                          (CAST(f.df AS DOUBLE) + 0.5)) * 1e9) AS DOUBLE)
         |      * (CAST(p.tf AS DOUBLE) * $k3 /
         |         (CAST(p.tf AS DOUBLE) + $k1 *
         |          (${1.0 - b} + $b * (CAST(d.dl AS DOUBLE) * s.n_docs / s.sum_len))))
         |    ) AS BIGINT)) AS units
         |  FROM post p JOIN $dfCte f USING (term)
         |  JOIN dl d ON d.doc_id = p.doc_id CROSS JOIN stats s
         |  WHERE p.doc_id <> $queryId GROUP BY 1)""".stripMargin
    s"""WITH toks AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |         FROM toks WHERE len(term) > 0 GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(dl) AS BIGINT) AS sum_len FROM dl),
       |qt AS (SELECT term FROM post WHERE doc_id = $queryId),
       |dfq AS (SELECT p.term, CAST(count(*) AS BIGINT) AS df
       |        FROM post p JOIN qt USING (term) GROUP BY 1),
       |${sc("dfq", "agg1")},
       |fb AS (SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY units DESC, doc_id) AS rn
       |    FROM agg1) WHERE rn <= $feedbackK),
       |cand AS (SELECT p.term, CAST(sum(p.tf) AS BIGINT) AS fb_tf
       |         FROM post p JOIN fb USING (doc_id)
       |         WHERE p.term NOT IN (SELECT term FROM qt)
       |         GROUP BY 1),
       |dfc AS (SELECT p.term, CAST(count(*) AS BIGINT) AS df
       |        FROM post p JOIN cand USING (term) GROUP BY 1),
       |ow AS (SELECT c.term, c.fb_tf *
       |         CAST(floor(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - f.df + 0.5) /
       |                             (CAST(f.df AS DOUBLE) + 0.5)) * 1e9) AS BIGINT)
       |         AS ow_units
       |       FROM cand c JOIN dfc f USING (term) CROSS JOIN stats s),
       |expt AS (SELECT term FROM ow ORDER BY ow_units DESC, term LIMIT $expandM),
       |at AS (SELECT term FROM qt UNION SELECT term FROM expt),
       |dfa AS (SELECT p.term, CAST(count(*) AS BIGINT) AS df
       |        FROM post p JOIN at USING (term) GROUP BY 1),
       |${sc("dfa", "agg2")},
       |r AS (SELECT doc_id, units / 1e9 AS bm25,
       |        CAST(row_number() OVER (ORDER BY units DESC, doc_id) AS INT) AS rnk
       |      FROM agg2)
       |SELECT doc_id, bm25, rnk FROM r WHERE rnk <= $k ORDER BY rnk""".stripMargin
  }

  /** Materialize the serving-path index: postings bucketed+sorted by `term`
    * with df, dl DENORMALIZED onto each row (a probe never joins), plus a
    * one-row `<table>_stats` companion holding (n_docs, sum_len). Built once
    * per corpus snapshot; at 100 TB this is the only job that reads the
    * text. */
  def writeBm25Index(docs: DataFrame, table: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     buckets: Int = 64): Unit = {
    val post = postingsCached(docs, idCol, textCol)
    val dl = post.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val dfAll = post.groupBy("term").agg(count(lit(1)).as("df"))
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_len"))
      .write.mode("overwrite").saveAsTable(s"${table}_stats")
    post
      .join(dfAll, Seq("term"))
      .join(dl, Seq(idCol))
      // one file per bucket (repartition's HashPartitioning == the
      // writer's bucket-id formula) — see Dedup.writeShingleIndex
      .repartition(buckets, col("term"))
      .write.mode("overwrite")
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(table)
  }

  /** Probe a [[writeBm25Index]] table with the distinct terms of document
    * `queryId`. The term list is collected to the driver (bounded by ONE
    * document's vocabulary — the same bounded-collect contract as the
    * funnel's step list) and pushed as an IN-list into the parquet scan, so
    * the probe reads only the matching term buckets' row groups: scan →
    * partial-agg groupBy(doc) → TakeOrdered, zero corpus-wide shuffle. */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                        queryId: Long, k: Int,
                        k1: Double = K1, b: Double = B,
                        idCol: String = "doc_id"): DataFrame = {
    val idx = spark.table(table)
    val stats = spark.table(s"${table}_stats")
    val terms = idx.where(col(idCol) === queryId)
      .select("term").collect().map(_.getString(0)).toSeq
    val units = idx
      .where(col("term").isin(terms: _*) && col(idCol) =!= queryId)
      .crossJoin(broadcast(stats))
      .withColumn("s_units",
        scoreUnits(col("tf"), col("df"), col("dl"), col("n_docs"),
          col("sum_len"), k1, b))
      .groupBy(col(idCol)).agg(sum(col("s_units")).as("units"))
    rankUnits(units, k, idCol)
  }

  /** Reciprocal-rank-fusion hybrid retrieval: fuse the BM25 lexical top-pool
    * with the exact-cosine semantic top-pool by
    * `rrf = Σ 1/(kf + rank)` (Cormack et al.'s rank-only fusion — immune to
    * the two scorers' incomparable scales). A doc missing from one list
    * contributes 0 for that list.
    *
    * Scale shape: both inputs are already distributed TakeOrdereds of
    * `pool` rows, so the fusion is a pool-sized full-outer join — constant
    * work after the two scans. Determinism: ranks are ints, the two
    * reciprocal terms add left-to-right, ties break to the smaller id —
    * replays exactly in [[rrfHybridTopKSql]] (which embeds both existing
    * oracles as subqueries).
    *
    * Requires the corpus convention that `docs.idCol` and `emb.idCol` share
    * the id space (as the documents/embeddings tables do). */
  def rrfHybridTopK(docs: DataFrame, emb: DataFrame, queryId: Long, k: Int,
                    pool: Int = 20, kf: Int = 60,
                    idCol: String = "doc_id",
                    embIdCol: String = "vec_id"): DataFrame = {
    val lex = bm25TopK(docs, queryId, pool, idCol = idCol)
      .select(col(idCol).as("id"), col("rnk").as("lrnk"))
    val sem = Similarity.bruteForceTopK(emb, Seq(queryId), pool, idCol = embIdCol)
      .select(col(embIdCol).as("id"), col("rnk").as("srnk"))
    val fused = lex.join(sem, Seq("id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kf.toDouble) + col("lrnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kf.toDouble) + col("srnk")), lit(0.0)))
    graft.core.Dist.topK(fused, Seq(col("rrf").desc, col("id")), k, rankCol = "rnk")
      .select(col("id").as(idCol), col("rrf"), col("rnk"))
  }

  /** DuckDB replay of [[rrfHybridTopK]]: the BM25 oracle and a cosine
    * rank subquery fused with the identical reciprocal-rank arithmetic. */
  def rrfHybridTopKSql(queryId: Long, k: Int, pool: Int = 20,
                       kf: Int = 60): String = {
    val kfd = kf.toDouble.toString
    def dot(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, 64),
         |        i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |      (acc, v) -> acc + v)""".stripMargin
    def cos(x: String, y: String) =
      s"${dot(x, y)} / (sqrt(${dot(x, x)}) * sqrt(${dot(y, y)}))"
    s"""WITH lex AS (SELECT doc_id AS id, rnk AS lrnk
       |  FROM (${bm25TopKSql(queryId, pool)}) bm),
       |sem AS (SELECT vec_id AS id, rnk AS srnk FROM (
       |  SELECT e.vec_id, row_number() OVER (
       |      ORDER BY ${cos("e.embedding", "q.embedding")} DESC, e.vec_id) AS rnk
       |  FROM embeddings e CROSS JOIN
       |    (SELECT embedding FROM embeddings WHERE vec_id = $queryId) q
       |  WHERE e.vec_id <> $queryId) WHERE rnk <= $pool),
       |f AS (SELECT coalesce(l.id, s.id) AS id,
       |    coalesce(1.0 / ($kfd + l.lrnk), 0.0) +
       |    coalesce(1.0 / ($kfd + s.srnk), 0.0) AS rrf
       |  FROM lex l FULL OUTER JOIN sem s ON l.id = s.id)
       |SELECT id AS doc_id, rrf, CAST(rn AS INT) AS rnk FROM (
       |  SELECT id, rrf, row_number() OVER (ORDER BY rrf DESC, id) AS rn
       |  FROM f) WHERE rn <= $k ORDER BY rnk""".stripMargin
  }
}
