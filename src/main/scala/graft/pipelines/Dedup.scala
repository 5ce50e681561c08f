package graft.pipelines

import graft.functions.TextExprs.wordNgramsCol
import graft.functions.VectorExprs.fastCosine
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant avoids the O(n^2) cross product — exact dedup is
  * a hash groupBy; MinHash/SimHash/n-gram variants build an inverted index
  * (explode → equi-join on bucket key) so the shuffle is proportional to
  * candidate pairs, not all pairs. Hot keys (stop-grams shared by >maxDf docs)
  * are dropped, which is both the standard LSH trick and the skew guard.
  */
object Dedup {

  /** Session-scoped persisted reference shingle sets for [[streamingNovelty]]
    * — one frame per (reference plan, n, idCol), released on
    * [[graft.core.Memo.clearSession]]. */
  private val refShingleMemo = graft.core.Memo.frames[(Int, String)]

  /** Exact dedup: keep the first row (lowest doc_id) per distinct key set.
    * One hash-shuffle; at 100TB this is the cheapest possible full dedup. */
  def exact(docs: DataFrame, keys: Seq[String], idCol: String = "doc_id"): DataFrame =
    graft.core.Dist.topK(docs, Seq(col(idCol)), 1, keys.map(col)).drop("_rn")

  /** PARAGRAPH-level dedup (the Dolma/RefinedWeb pass): across the whole
    * corpus, each distinct paragraph survives only at its FIRST occurrence
    * — ordered by (doc id, paragraph position) — and every later copy is
    * deleted in place; documents are reassembled from their surviving
    * paragraphs in order. Kills boilerplate headers/footers shared by many
    * pages without dropping whole documents.
    *
    * Scale shape: the winner election shuffles only (paragraph-hash,
    * doc id, position) — never paragraph text; the one text-carrying
    * operation is the per-document reassembly, whose collect_list is
    * bounded by a single document's size. Two hash shuffles total.
    * Returns (idCol, clean_text, n_paras, n_kept). */
  def dedupParagraphs(docs: DataFrame, idCol: String = "doc_id",
                      sep: String = "\n\n"): DataFrame = {
    val paras = docs
      .select(col(idCol), posexplode(split(col("text"), java.util.regex.Pattern.quote(sep))))
      .withColumnRenamed("pos", "_idx").withColumnRenamed("col", "_para")
    // winner per distinct paragraph content: min (doc, position); only the
    // hash and the coordinates shuffle
    val winners = paras
      .select(col(idCol), col("_idx"), md5(col("_para")).as("_h"))
      .groupBy("_h")
      .agg(expr(s"min_by(struct($idCol, _idx), struct($idCol, _idx))").as("_w"))
      .select(col("_w").getField(idCol).as(idCol), col("_w._idx").as("_idx"))
    val kept = paras.join(winners, Seq(idCol, "_idx"), "left_semi")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("_idx"), col("_para")))),
          x => x.getField("_para")), sep).as("clean_text"))
    docs.select(col(idCol),
        size(split(col("text"), java.util.regex.Pattern.quote(sep))).cast(LongType).as("n_paras"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_paras"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Normalized word shingles of size n: (doc_id, shingle) distinct. */
  /** Exploded (doc, shingle) stream, duplicates INCLUDED — no shuffle; pair
    * with a narrow filter before any distinct so the dedup shuffle only
    * carries surviving grams. */
  private def rawShingles(docs: DataFrame, n: Int, idCol: String): DataFrame = {
    // codegen'd gram kernel — value-identical to the builtin
    // transform/slice/concat_ws chain (TextExprsSpec) but one compiled
    // pass per document instead of interpreted per-gram lambdas; shingling
    // is the floor under every dedup/decontamination/novelty query
    docs.select(col(idCol),
        explode(wordNgramsCol(col("text"), n)).as("shingle"))
      .where(length(col("shingle")) > 0)
  }

  private def shingles(docs: DataFrame, n: Int, idCol: String): DataFrame =
    rawShingles(docs, n, idCol).distinct()

  /** N-gram Jaccard near-dup pairs: inverted index on shingles, count common
    * shingles per candidate pair, exact Jaccard >= threshold.
    * `maxDf` drops stop-shingles (skew + noise guard at scale). */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        idCol: String = "doc_id", maxDf: Int = 1000): DataFrame = {
    // the shingle index feeds sizes, document frequencies, AND both join
    // sides — materialize it once instead of re-tokenizing the corpus per
    // branch (at 100TB you'd write this index to storage; MEMORY_AND_DISK is
    // the single-job equivalent). The cache lives until the session evicts
    // it — callers running many dedups in one session can release it with
    // spark.catalog.clearCache() between corpora.
    val sh = shingles(docs, n, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val filtered = sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("df")).where(col("df") <= maxDf && col("df") >= 2),
      Seq("shingle"), "left_semi")
    val a = filtered.select(col(idCol).as("doc_id_a"), col("shingle"))
    val b = filtered.select(col(idCol).as("doc_id_b"), col("shingle"))
    val common = a.join(b, Seq("shingle"))
      .where(col("doc_id_a") < col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b").agg(count(lit(1)).as("inter"))
    common
      .join(sizes.select(col(idCol).as("doc_id_a"), col("sz").as("sz_a")), Seq("doc_id_a"))
      .join(sizes.select(col(idCol).as("doc_id_b"), col("sz").as("sz_b")), Seq("doc_id_b"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  /** DIRECTIONAL containment pairs: C(a→b) = |S(a) ∩ S(b)| / |S(a)| over
    * n-gram shingle sets — the asymmetric overlap measure symmetric
    * Jaccard misses (a short document quoted whole inside a long one has
    * tiny Jaccard but containment 1.0). Emits every ORDERED pair with
    * containment >= threshold; `doc_id_a` is the contained (quoted) side.
    * Same inverted-index shape and `maxDf` stop-shingle guard as
    * [[ngramJaccardPairs]] — candidate-proportional shuffle, nothing
    * quadratic in corpus size. */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       idCol: String = "doc_id", maxDf: Int = 1000): DataFrame = {
    val sh = shingles(docs, n, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val filtered = sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("df")).where(col("df") <= maxDf && col("df") >= 2),
      Seq("shingle"), "left_semi")
    val a = filtered.select(col(idCol).as("doc_id_a"), col("shingle"))
    val b = filtered.select(col(idCol).as("doc_id_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .where(col("doc_id_a") =!= col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("doc_id_a"), col("sz").as("sz_a")), Seq("doc_id_a"))
      .withColumn("containment", col("inter").cast(DoubleType) / col("sz_a"))
      .where(col("containment") >= threshold)
      .select("doc_id_a", "doc_id_b", "containment")
  }

  /** CHARACTER-level edit-distance verification of candidate near-dup
    * pairs: keeps every candidate whose Levenshtein distance is <= maxDist
    * and scores it `edit_similarity = 1 - dist / max(len_a, len_b)` — the
    * per-character measure token-set Jaccard can't see (transpositions,
    * small in-word edits, punctuation churn).
    *
    * Candidates come from any pair generator (MinHash/LSH, PPJoin,
    * winnowing); the verify is EXACT within them, so overall recall is the
    * generator's. Never run this all-pairs: the DP is O(len·maxDist) per
    * pair (Spark's thresholded `levenshtein` abandons a row once the
    * distance provably exceeds the bound), so cost is candidate-
    * proportional. Two cheap prunes run before any DP: the length bound
    * (|len_a - len_b| > maxDist implies dist > maxDist) and the thresholded
    * kernel's own early exit. Texts join in by id — only candidate rows
    * ever carry text through the shuffle.
    *
    * Ref semantics: near-dup verification pass of dedup pipelines
    * (reference: opensearch-tsdb has no text dedup; this follows the
    * RefinedWeb/MassiveText recipe over the shared candidate machinery). */
  def editDistancePairs(docs: DataFrame, pairs: DataFrame, maxDist: Int,
                        idCol: String = "doc_id"): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val a = docs.select(col(idCol).as("doc_id_a"), col("text").as("_ta"))
    val b = docs.select(col(idCol).as("doc_id_b"), col("text").as("_tb"))
    pairs.select("doc_id_a", "doc_id_b")
      .join(a, Seq("doc_id_a")).join(b, Seq("doc_id_b"))
      .where(abs(length(col("_ta")) - length(col("_tb"))) <= maxDist)
      .withColumn("edit_distance", levenshtein(col("_ta"), col("_tb"), maxDist))
      .where(col("edit_distance") >= 0) // thresholded kernel emits -1 past the bound
      .withColumn("edit_similarity",
        lit(1.0) - col("edit_distance").cast(DoubleType) /
          greatest(length(col("_ta")), length(col("_tb"))).cast(DoubleType))
      .select("doc_id_a", "doc_id_b", "edit_distance", "edit_similarity")
  }

  /** Per-document n-gram NOVELTY against a reference corpus: the fraction
    * of each incoming document's distinct word shingles never seen anywhere
    * in the reference — the document-level selection signal complementing
    * the corpus-level bigram OOV rate (novelty-weighted sampling keeps the
    * genuinely new material of a fresh crawl instead of re-ingesting what
    * the corpus already says).
    *
    * One shingle equi-join (left, null-flagged) + one per-doc count — the
    * reference set is distinct shingles only, never text; at 100 TB both
    * sides are hash-partitioned on the shingle, so the shuffle is
    * gram-proportional and skew-bounded by shingle frequency. Counts are
    * integers and novelty one long/long IEEE division — oracle-exact. */
  def noveltyScores(reference: DataFrame, incoming: DataFrame, n: Int,
                    idCol: String = "doc_id"): DataFrame = {
    val refSh = shingles(reference, n, idCol).select("shingle").distinct()
    val incSh = shingles(incoming, n, idCol)
    incSh.join(refSh.withColumn("_seen", lit(1)), Seq("shingle"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_shingles"))
  }

  /** STREAMING novelty gate: [[noveltyScores]] with the incoming side a
    * stream — each arriving document's shingles compute ROW-LOCALLY (the
    * same tokenization as the batch path, per-row array ops + one explode,
    * no distinct-shuffle), left-join the static reference shingle set, and
    * the per-document novelty emerges from one update-mode count — the
    * keep/drop signal available the trigger a crawl document lands.
    * A document's counts are complete in its own trigger (the reference
    * never changes), so Update-mode snapshots are one-per-doc.
    *
    * Cache lifetime: the reference shingle set persists once per
    * (reference plan, n, idCol) through a session-scoped memo — repeated
    * gates against the same reference in one session share a single
    * MEMORY_AND_DISK frame instead of accumulating copies, and
    * [[graft.core.Memo.clearSession]] releases it with everything else.
    * The set is memoized when the gate is built, so a caller can build the
    * gate before staging the stream it applies it to. */
  def streamingNovelty(reference: DataFrame, n: Int,
                       idCol: String = "doc_id"): DataFrame => DataFrame = {
    val refSh = refShingleMemo(reference, (n, idCol))(
      shingles(reference, n, idCol).select("shingle").distinct())
    val sh = array_distinct(filter(wordNgramsCol(col("text"), n),
      s => length(s) > 0))
    incoming => incoming
      .select(col(idCol).cast(LongType).as(idCol), explode(sh).as("shingle"))
      .join(refSh.withColumn("_seen", lit(1)), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_shingles"))
  }

  /** Cross-SOURCE contamination matrix: how much each pair of corpus
    * sources duplicates each other — near-dup pair counts and mean
    * similarity bucketed by unordered source pair (`source_a <= source_b`;
    * the diagonal is within-source duplication). The first dashboard a
    * multi-crawl corpus needs: it tells you which feeds to dedup against
    * which BEFORE paying the full cross-corpus pass, and whether a new
    * source is mostly a re-crawl of an old one.
    *
    * Input is any scored pair set (MinHash/LSH, PPJoin, winnowing) with a
    * `simCol` score. Cost: two id-keyed joins to fetch sources (only ids
    * and the score shuffle) + one tiny groupBy — nothing beyond the pair
    * generator itself. The mean floor-quantizes addends to integer nanos
    * (partition-order-free, engine-portable). */
  def sourcePairMatrix(docs: DataFrame, pairs: DataFrame,
                       simCol: String = "jaccard",
                       idCol: String = "doc_id",
                       srcCol: String = "source"): DataFrame = {
    val a = docs.select(col(idCol).as("doc_id_a"), col(srcCol).as("_sa"))
    val b = docs.select(col(idCol).as("doc_id_b"), col(srcCol).as("_sb"))
    pairs.join(a, Seq("doc_id_a")).join(b, Seq("doc_id_b"))
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"),
        col(simCol).as("_sim"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        (sum(floor(col("_sim") * lit(1e9)).cast(LongType)).cast(DoubleType) /
          count(lit(1)) / lit(1e9)).as("mean_sim"))
  }

  /** PPJoin-style EXACT set-similarity join: every pair with shingle
    * Jaccard >= threshold — no document-frequency band, no approximation.
    * The scalable exact alternative to [[ngramJaccardPairs]] (whose maxDf
    * heuristic drops true pairs sharing only frequent shingles) and to
    * MinHash (probabilistic). Prefix filtering (SSJoin/PPJoin): under one
    * global shingle order — ascending document frequency, rarest first,
    * ties by text — any pair with Jaccard >= t must collide inside both
    * docs' first `sz - ceil(t*sz) + 1` shingles, so only those short
    * prefixes enter the candidate equi-join. Frequent shingles sort LAST
    * and almost never reach a prefix, so the hot-bucket skew the df band
    * capped disappears structurally instead of by dropping data.
    * Shuffles: df count, per-doc rank window (doc-bounded partitions), the
    * prefix join (prefix-proportional), and the exact verify
    * (candidate-proportional) — nothing quadratic in corpus size, nothing
    * dropped. Prefer an exactly-representable threshold (0.5, 0.75):
    * `ceil(t*sz)` on a repeating-binary t can round a prefix one short on
    * pathological sizes. */
  def prefixJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                         idCol: String = "doc_id"): DataFrame = {
    val sh = shingles(docs, n, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(idCol).orderBy(col("df").asc, col("shingle").asc)
    // both sides of the candidate self-join read this frame — persist it
    // or the df-count shuffle and the rank window run twice
    val prefix = sh.join(dfreq, Seq("shingle"))
      .withColumn("pos", row_number().over(w))
      .join(sizes, Seq(idCol))
      .where(col("pos") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col(idCol), col("shingle"), col("pos"), col("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = prefix.select(col(idCol).as("doc_id_a"), col("shingle"),
      col("pos").as("_pa"), col("sz").as("sz_a"))
    val b = prefix.select(col(idCol).as("doc_id_b"), col("shingle"),
      col("pos").as("_pb"), col("sz").as("sz_b"))
    // Two further LOSSLESS prunes before the expensive verify (both keep a
    // 1e-6 slack under the integer grid so float rounding can only ever
    // keep an extra candidate, never drop a true pair):
    //  - length: J >= t forces t·max(sz) <= min(sz);
    //  - positional: positions are order-consistent across docs, so the
    //    FIRST shared shingle (the collision row maximizing this bound)
    //    caps the overlap at 1 + min(sz_a - pa, sz_b - pb), and
    //    J >= t needs overlap >= t/(1+t)·(sz_a + sz_b).
    val cands = a.join(b, Seq("shingle"))
      .where(col("doc_id_a") < col("doc_id_b") &&
        col("sz_a") >= col("sz_b") * threshold - 1e-6 &&
        col("sz_b") >= col("sz_a") * threshold - 1e-6)
      .groupBy("doc_id_a", "doc_id_b")
      .agg(max(lit(1) + least(col("sz_a") - col("_pa"),
          col("sz_b") - col("_pb"))).as("_ub"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      .where(col("_ub").cast(DoubleType) >=
        lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b")) - 1e-6)
    val inter = cands
      .join(sh.select(col(idCol).as("doc_id_a"), col("shingle")), Seq("doc_id_a"))
      .join(sh.select(col(idCol).as("doc_id_b"), col("shingle")),
        Seq("doc_id_b", "shingle"))
      .groupBy("doc_id_a", "doc_id_b").agg(count(lit(1)).as("inter"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
    inter
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  // ---- MinHash / SimHash / span hash family ---------------------------------

  /** Modulus of the one hash family every MinHash, SimHash, span, winnowing
    * and hashed-embedding operator derives from — the same p = 1e9+7 as
    * [[TextAnalysis.fingerprint]]'s rolling hash. All arithmetic stays below
    * p² < 2⁶³, so every step is overflow-free under ANSI mode and exactly
    * replayable in any engine with 64-bit integer SQL (the DuckDB oracles
    * replay each operator bit for bit).
    *
    * The trade-off: hash values live in [0, p), a ~30-bit range. Distinct
    * shingles, tokens or k-token windows collide with probability ~1/p per
    * pair, so n distinct windows expect ~n²/2p aliased pairs — about 5 at
    * n = 10⁵, but ~5·10⁸ at n = 10⁹, where false duplicated spans become
    * common. A collision only ever adds a span or a candidate pair, never
    * loses one, and MinHash-LSH candidates are re-verified with exact
    * Jaccard. The price buys exact, oracle-checkable results. */
  val PortableP = 1000000007L

  /** Base-31 polynomial rolling hash mod [[PortableP]] over a string column
    * (per-character codepoints) — the SQL-replicable base hash the
    * minhash/simhash families derive from. Codegen'd kernel
    * ([[graft.functions.PolyHash]]); value-identical to the builtin fold
    * `aggregate(transform(split(s,""), ch => ascii(ch)), 0L,
    * (acc,c) => pmod(acc*31+c, p))` (TextExprsSpec) — one compiled loop
    * per string instead of an interpreted lambda per CHARACTER. */
  def polyHash(s: Column): Column = graft.functions.TextExprs.polyHashCol(s)

  /** Deterministic (a_s, b_s) parameters of the classic universal family
    * h_s(x) = (a_s·x + b_s) mod p (Carter–Wegman; the textbook MinHash
    * construction) — generated by a fixed-seed splitmix64 walk in plain
    * Scala, so the operator Columns and the DuckDB oracle SQL embed the
    * IDENTICAL constants from one source of truth. a_s ∈ [1, p-1] (nonzero),
    * b_s ∈ [0, p-1]. */
  def portableHashParams(numHashes: Int): Seq[(Long, Long)] = {
    var st = 0x106689D45497FDB5L
    def next(): Long = {
      st += 0x9E3779B97F4A7C15L
      var z = st
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Seq.fill(numHashes)(
      (Math.floorMod(next(), PortableP - 1) + 1, Math.floorMod(next(), PortableP)))
  }

  /** h_s applied to a base-hash column (value already in [0, p)). */
  private def portableHash(x: Column, ab: (Long, Long)): Column =
    pmod(x * lit(ab._1) + lit(ab._2), lit(PortableP))

  /** `numHashes` min-hashes h_s(polyHash(shingle)) per document over a
    * `(idCol, shingle)` frame. Pure builtins, partial-aggregated. */
  private def signatures(sh: DataFrame, numHashes: Int, idCol: String): DataFrame = {
    val mins = portableHashParams(numHashes).zipWithIndex.map { case (ab, s) =>
      min(portableHash(col("_x"), ab)).as(s"h$s")
    }
    sh.withColumn("_x", polyHash(col("shingle")))
      .groupBy(idCol).agg(mins.head, mins.tail: _*)
  }

  /** MinHash signatures: `numHashes` independent min-hashes of the shingle
    * set, bit-identical in any engine that can run the same integer SQL, so
    * the whole signature (not just a downstream exact-Jaccard verify) is
    * oracle-checkable — and a corpus migrates between engines without
    * re-fingerprinting. */
  def minhashSignatures(docs: DataFrame, shingleN: Int, numHashes: Int,
                        idCol: String = "doc_id"): DataFrame =
    signatures(shingles(docs, shingleN, idCol), numHashes, idCol)

  /** Per-band fold of signature columns into a band hash, mod p (base
    * 10007): acc = (acc·10007 + h_i) mod p — shared by the Spark side and
    * the oracle generator. */
  private val BandR = 10007L
  /** Base of the k-token window fold (duplicated-span hashing): acc =
    * (acc·GramR + tokenHash) mod p — distinct from [[BandR]] so band and
    * window structures never alias. acc·GramR < p·2²⁰ stays far below 2⁶³
    * (ANSI-mode safe). */
  private val GramR = 1000003L
  private def portableBandHash(cols: Seq[Column]): Column =
    cols.foldLeft(lit(0L): Column)((acc, h) => pmod(acc * lit(BandR) + h, lit(PortableP)))

  /** MinHash + LSH banding: split the signature into `bands`, fold each band
    * into a band hash, equi-join on (band, bandHash) for candidates, then
    * verify with exact Jaccard (ref technique: Broder'97 / MMDS ch.3). Every
    * stage — signatures, band hashes, candidate set, Jaccard — is
    * deterministic integer math an oracle can replay, so the END-TO-END pair
    * set is exactly checkable. The shuffle is proportional to candidate
    * pairs, never all pairs. */
  def minhashLshPairs(docs: DataFrame, shingleN: Int, numHashes: Int,
                      bands: Int, threshold: Double,
                      idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // one shingle index shared by the signature build and the verify joins
    // (see ngramJaccardPairs for the 100TB rationale)
    val sh = shingles(docs, shingleN, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = signatures(sh, numHashes, idCol)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        portableBandHash((b * rows until (b + 1) * rows).map(i => col(s"h$i"))).as("bh"))
    }
    val buckets = sig.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.bh"))
    val cand = buckets.as("x").join(buckets.as("y"), Seq("band", "bh"))
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("doc_id_a"), col(s"y.$idCol").as("doc_id_b"))
      .distinct()
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    // equi-join on (doc, shingle) both sides — intersection size per pair
    // without the |a|x|b| cross-shingle blowup
    val inter = cand
      .join(sh.select(col(idCol).as("doc_id_a"), col("shingle")), Seq("doc_id_a"))
      .join(sh.select(col(idCol).as("doc_id_b"), col("shingle")), Seq("doc_id_b", "shingle"))
      .groupBy("doc_id_a", "doc_id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("doc_id_a"), col("sz").as("sz_a")), Seq("doc_id_a"))
      .join(sizes.select(col(idCol).as("doc_id_b"), col("sz").as("sz_b")), Seq("doc_id_b"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  /** SimHash: a `numBits`-bit signature where bit s is set iff the ±1 token
    * votes of h_s(token) mod 2 sum positive — simhash over an EXPLICIT
    * universal hash family, so the signature is oracle-replayable. Tokens
    * vote as a multiset (duplicates count). Near-dups share most bits;
    * `band8` is the top 8 bits — the bucketing key of the scale path. */
  def simhashBuckets(docs: DataFrame, numBits: Int = 32,
                     idCol: String = "doc_id"): DataFrame = {
    require(numBits >= 9 && numBits <= 62, "numBits must be in [9, 62]")
    val params = portableHashParams(numBits)
    val toks = docs.select(col(idCol),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)
      .withColumn("_x", polyHash(col("tok")))
    val bitSums = params.zipWithIndex.map { case (ab, s) =>
      sum(when(pmod(portableHash(col("_x"), ab), lit(2L)) === 1L, 1L).otherwise(-1L)).as(s"b$s")
    }
    val agg = toks.groupBy(idCol).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until numBits).map { s =>
      when(col(s"b$s") > 0, lit(1L << s)).otherwise(0L)
    }.reduce(_ + _)
    agg.withColumn("simhash", sim).select(col(idCol), col("simhash"))
      .withColumn("band8", shiftrightunsigned(col("simhash"), numBits - 8))
  }

  /** Persist the shingle inverted index as a BUCKETED table — the offline
    * form of the in-session `persist` the pair generators use. Bucketing by
    * `shingle` means the candidate self-join (and any doc↔shingle probe)
    * co-locates: both sides arrive pre-hashed into the same buckets, so the
    * join plan has NO Exchange — at 100TB that deletes the single biggest
    * shuffle of the dedup pipeline and makes the index reusable across jobs.
    * Works with the built-in catalog (no Hive); `BucketedIndexSpec` pins the
    * exchange-free plan. */
  def writeShingleIndex(docs: DataFrame, n: Int, table: String,
                        idCol: String = "doc_id", buckets: Int = 64): Unit =
    shingles(docs, n, idCol)
      // repartition ON the bucket key with bucket-count partitions:
      // repartition's HashPartitioning and the writer's bucket-id formula
      // are the same pmod(murmur3, n), so each task holds exactly one
      // bucket and writes ONE file — without it every input task writes a
      // file per bucket it touches (W·B tiny files; measured 2000+ per
      // build at 32 tasks × 64 buckets, and the file-open/commit overhead
      // dominated the build)
      .repartition(buckets, col("shingle"))
      .write.mode("overwrite")
      .bucketBy(buckets, "shingle")
      .sortBy("shingle")
      .saveAsTable(table)

  /** Append a snapshot's shingles into an existing bucketed index table —
    * the maintenance half of the incremental crawl-over-crawl loop: dedup
    * snapshot N against the index ([[dedupIncrementalIndexed]]), then append
    * only the SURVIVORS' shingles. Spark appends bucketed files per bucket,
    * so the co-located join property is preserved without a rebuild. */
  def appendShingleIndex(docs: DataFrame, n: Int, table: String,
                         idCol: String = "doc_id", buckets: Int = 64): Unit =
    shingles(docs, n, idCol)
      .repartition(buckets, col("shingle")) // one file per bucket, see writeShingleIndex
      .write.mode("append")
      .bucketBy(buckets, "shingle")
      .sortBy("shingle")
      .saveAsTable(table)

  /** Candidate pairs + exact Jaccard from a persisted bucketed index (the
    * offline two-job form of [[ngramJaccardPairs]]): same math, but the
    * shingle-keyed joins read co-located buckets. */
  def ngramJaccardPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                                 table: String, threshold: Double,
                                 idCol: String = "doc_id", maxDf: Int = 1000): DataFrame = {
    val sh = spark.table(table)
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val filtered = sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("df")).where(col("df") <= maxDf && col("df") >= 2),
      Seq("shingle"), "left_semi")
    val a = filtered.select(col(idCol).as("doc_id_a"), col("shingle"))
    val b = filtered.select(col(idCol).as("doc_id_b"), col("shingle"))
    val common = a.join(b, Seq("shingle"))
      .where(col("doc_id_a") < col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b").agg(count(lit(1)).as("inter"))
    common
      .join(sizes.select(col(idCol).as("doc_id_a"), col("sz").as("sz_a")), Seq("doc_id_a"))
      .join(sizes.select(col(idCol).as("doc_id_b"), col("sz").as("sz_b")), Seq("doc_id_b"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  /** Near-dup CLUSTERING: fold candidate pairs into connected components —
    * the final step of a training-data dedup pipeline, turning pairwise
    * matches into groups so all-but-one member can be dropped.
    *
    * Distributed min-label propagation with POINTER DOUBLING: each round every
    * node takes the smallest cluster id among itself and its direct
    * neighbors, then follows its cluster pointer two hops through the
    * PREVIOUS round's materialized label map (cluster := labels(cluster),
    * twice). Jumping against the previous generation is the textbook
    * pointer-doubling recurrence p' = p∘p: a path component of length L
    * converges in O(log L) rounds, not O(L), and — because the pointer map
    * is already materialized — the whole round is ONE linear join chain
    * with a SINGLE eager checkpoint at its end. (The earlier formulation
    * jumped through the freshly-stepped frame, which self-joins its own
    * unmaterialized output and therefore forced three checkpoints per
    * round; under a memory-pressured host that tripled materialization
    * traffic was the dominant cost of the loop.)
    * Cost controls (the loop's price is rounds × materializations, not the
    * join math): labels are SEEDED with the neighborhood minimum
    * (min of self and direct neighbors — one aggregate over the edge set),
    * which collapses clique-shaped components (the typical LSH bucket
    * output) to their final label before the loop even starts; the
    * convergence flag rides INSIDE the checkpointed frame so the
    * `limit(1).count()` probe is a local-block scan, not a recomputation —
    * a clique graph exits after the single round that confirms the seed.
    *
    * Durability: by default rounds materialize via `localCheckpoint`
    * (executor-local blocks — fastest, but NOT fault-tolerant: losing an
    * executor after a round completes loses blocks no lineage can rebuild,
    * killing the job). Pass `checkpointDir` to switch every round to a
    * reliable `checkpoint` into that directory: each round's labels are
    * written to (replicated/remote) storage and survive executor loss, at
    * the price of a filesystem round-trip per round — the right trade on
    * preemptible 100TB clusters. Superseded rounds are freed either way
    * (blocks unpersisted / checkpoint files deleted) so the loop holds at
    * most one live round.
    *
    * Per-round wall time and shuffle/spill byte deltas are printed to stderr
    * when the session conf `graft.clusterPairs.log` is `true` (Bench sets
    * it), so a slow run attributes its cost round by round.
    *
    * Phase 0 — LOCAL CONTRACTION (on by default): before any distributed
    * round, each edge partition runs an in-memory union-find over just its
    * own edges (no shuffle — the pass reads the pairs wherever they already
    * sit) and emits a (node → local root) map, where the local root is the
    * minimum node id of the node's within-partition component. The
    * distributed loop then runs only on the BOUNDARY graph — for every node
    * seen by several partitions with different local roots, clique edges
    * connecting those roots — which collapses the effective diameter from
    * the component's path length to the number of PARTITION CROSSINGS. On a
    * 100TB corpus this is the difference between O(log longest-chain)
    * synchronized shuffle rounds and O(log partitions-touched): a 15k-link
    * chain that costs 7 pointer-doubling rounds raw costs 2 after
    * contraction, and each avoided round is a full-cluster barrier. The
    * final label map composes loop(localRoot(node)) with a left join;
    * components that never cross a partition skip the loop entirely.
    * Contraction applies when both id columns share an integral or string
    * type (string roots compare in UTF-8 byte order, matching Spark's
    * `min`/`least`); any other type falls back to the uncontracted loop.
    * Null ids never label a component — no caller emits them (candidate
    * pairs come from joins) — but a half-null pair's non-null endpoint
    * still surfaces as a singleton, keeping the returns-every-node
    * contract identical across the contracted and fallback paths.
    *
    * `maxIters` INCLUDES the confirming round: convergence is only
    * detected by a round that changes nothing, so the budget buys
    * `maxIters − 1` productive rounds — a run whose labels reach fixpoint
    * exactly on its last permitted round still needs one more to prove it.
    * Callers tuning `maxIters` tightly (the default 25 is ~log₂ of any
    * realistic crossing count, with room) should budget that extra round.
    *
    * Returns (node, cluster) for every node that appears in a pair; cluster
    * is the component's minimum node id. */
  def clusterPairs(pairs: DataFrame, aCol: String = "doc_id_a", bCol: String = "doc_id_b",
                   maxIters: Int = 25, checkpointDir: Option[String] = None,
                   localContract: Boolean = true): DataFrame = {
    val spark = pairs.sparkSession
    val logRounds = spark.conf.getOption("graft.clusterPairs.log").contains("true")
    val contracted =
      if (localContract) localContraction(pairs, aCol, bCol) else None
    contracted match {
      case None =>
        // coalesce half-null pairs into self-edges so the fallback loop
        // keeps the non-null endpoint as a singleton — exactly what the
        // contracted path does — instead of leaking a null-keyed label row
        propagateLabels(
          pairs.select(
              coalesce(col(aCol), col(bCol)).as("a"),
              coalesce(col(bCol), col(aCol)).as("b"))
            .where(col("a").isNotNull),
          maxIters, checkpointDir, logRounds)
      case Some(nodeRoot0) =>
        val t0 = System.nanoTime()
        // durable mode (the preemptible-cluster contract): the contraction
        // map must be RELIABLY checkpointed, not merely persisted —
        // MEMORY_AND_DISK falls back to lineage recompute on executor
        // loss, and if the boundary loop and the final compose observed
        // differently-recomputed partitions (nondeterministic upstream,
        // e.g. a sampled candidate set) the composed labels could be
        // inconsistent. Freed in the finally, after sealedOut materializes.
        val durable = checkpointDir.isDefined
        checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
        val nodeRoot =
          if (durable) {
            // persist first: a reliable checkpoint otherwise recomputes
            // every partition a second time to write its files — i.e. the
            // full edge scan + union-find pass, the exact cost the
            // contraction exists to pay once. The cache is dropped as soon
            // as the checkpoint files own the data.
            val cached = nodeRoot0
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val ck = cached.checkpoint(eager = true)
            cached.unpersist(blocking = false)
            ck
          }
          else nodeRoot0
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // one shuffle keyed by node: the minimum local root each node saw
        // across partitions, and — for multi-root nodes — clique edges
        // stitching those roots together. Only boundary nodes contribute
        // edges; interior components never reach the loop. Persisted: two
        // separately-materialized plans consume it (the boundary loop and
        // the composed output), and without the persist the node-keyed
        // aggregation — the widest shuffle of the phase — would run twice.
        val minRoot = nodeRoot.groupBy("node").agg(min("root").as("mroot"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val boundary = nodeRoot.join(minRoot, Seq("node"))
            .where(col("root") =!= col("mroot"))
            .select(col("mroot").as("a"), col("root").as("b"))
            .distinct()
          val loop = propagateLabels(boundary, maxIters, checkpointDir, logRounds)
          val out = minRoot
            .join(loop.select(col("node").as("mroot"), col("cluster")), Seq("mroot"), "left")
            .select(col("node"), coalesce(col("cluster"), col("mroot")).as("cluster"))
          if (logRounds) {
            Console.err.println(f"[clusterPairs] contraction wall=${(System.nanoTime - t0) / 1e9}%.2fs")
          }
          // the composed frame still reads the persisted node→root map; hand
          // the caller a materialized result so the unpersist below is safe.
          // Durable mode materializes reliably — the caller's fault-tolerance
          // contract covers the returned frame, not just the loop rounds.
          val sealedOut =
            if (checkpointDir.isDefined) out.checkpoint(eager = true)
            else out.localCheckpoint(eager = true)
          // the loop's final round (boundary-graph labels) is consumed by the
          // composed frame: free it so durable runs hold one checkpoint, not two
          if (checkpointDir.isDefined) graft.core.Dist.freeReliableCheckpoint(loop)
          else graft.core.Dist.freeLocalCheckpoint(loop)
          sealedOut
        } finally {
          // also on the loop's non-convergence throw: these two frames are
          // internal, nothing downstream can reach them after an abort
          minRoot.unpersist(blocking = false)
          if (durable) graft.core.Dist.freeReliableCheckpoint(nodeRoot)
          else nodeRoot.unpersist(blocking = false)
        }
    }
  }

  /** Open-addressed long→long union-find (power-of-2 table, linear
    * probing, path-compressing find, union-by-min): 17 bytes per SLOT
    * (8 key + 8 value + 1 used flag) against ~100 per boxed HashMap
    * entry. Sized at CAPACITY, not node count: the ≤0.7 load factor plus
    * power-of-2 rounding puts slots-per-node in [1.43, 2.86), i.e.
    * 24–49 bytes per node worst case (the high end lands right after a
    * doubling). The contraction's only per-task memory is this table, so
    * the Long-id fast path — every registry pipeline keys documents by a
    * LONG — keeps partition-local union-find inside executor task memory
    * at 100TB partition sizes: an 8M-edge/16M-node parquet split is 32M
    * slots × 17 B ≈ 544 MB of table worst case, vs ~1.6 GB of boxed
    * HashMap — still a fraction of a task's heap share, and the split
    * size is the tuning lever when it isn't. */
  private final class LongUnionFind(initialCap: Int) {
    private var mask = {
      var c = 16; while (c < initialCap * 2) c <<= 1; c - 1
    }
    private var keys = new Array[Long](mask + 1)
    private var vals = new Array[Long](mask + 1)
    private var used = new Array[Boolean](mask + 1)
    private var n = 0

    private def slotOf(k: Long): Int = {
      // Stafford mix constant spreads sequential ids across the table
      var i = java.lang.Long.hashCode(k * -7046029254386353131L) & mask
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      i
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals; val ou = used
      mask = mask * 2 + 1
      keys = new Array[Long](mask + 1)
      vals = new Array[Long](mask + 1)
      used = new Array[Boolean](mask + 1)
      var i = 0
      while (i < ok.length) {
        if (ou(i)) {
          val s = slotOf(ok(i)); keys(s) = ok(i); vals(s) = ov(i); used(s) = true
        }
        i += 1
      }
    }
    /** parent(k), registering k as its own root on first sight */
    private def parentOf(k: Long): Long = {
      val i = slotOf(k)
      if (!used(i)) {
        keys(i) = k; vals(i) = k; used(i) = true; n += 1
        if (n.toLong * 10 > (mask.toLong + 1) * 7) grow()
        k
      } else vals(i)
    }
    private def setParent(k: Long, p: Long): Unit = vals(slotOf(k)) = p
    def find(x: Long): Long = {
      var r = x
      var p = parentOf(r)
      while (p != r) { r = p; p = parentOf(r) }
      var c = x
      while (c != r) { val nx = parentOf(c); setParent(c, r); c = nx }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) setParent(rb, ra) else setParent(ra, rb) }
    }
    /** registered node count / table footprint — the memory-claim
      * observation channel (17 B per slot: 8 key + 8 value + 1 used). */
    def size: Int = n
    def tableBytes: Long = (mask.toLong + 1) * 17L
    /** one (node, root) pair per registered node; keys snapshot first —
      * find() only rewrites parents for keys already present */
    def entries: Iterator[(Long, Long)] = {
      val ks = new Array[Long](n)
      var i = 0; var j = 0
      while (i < keys.length) { if (used(i)) { ks(j) = keys(i); j += 1 }; i += 1 }
      ks.iterator.map(k => (k, find(k)))
    }
  }

  /** Partition-local union-find over the pair list, zero-shuffle: returns a
    * (node, root) frame with one row per (partition, node) occurrence —
    * root = min id of the node's within-partition component — or None when
    * the id type has no Spark-order-compatible JVM ordering. Long ids take
    * the primitive [[LongUnionFind]] path; other orderable types share a
    * boxed-map implementation. */
  private def localContraction(pairs: DataFrame, aCol: String,
                               bCol: String): Option[DataFrame] = {
    val dt = pairs.schema(aCol).dataType
    if (pairs.schema(bCol).dataType != dt) return None
    if (dt == LongType) {
      val spark = pairs.sparkSession
      val rdd = pairs.select(col(aCol), col(bCol)).rdd.mapPartitions { it =>
        val uf = new LongUnionFind(1 << 12)
        it.foreach { row =>
          val aNull = row.isNullAt(0)
          val bNull = row.isNullAt(1)
          if (!aNull && !bNull) uf.union(row.getLong(0), row.getLong(1))
          else if (!aNull) { uf.find(row.getLong(0)); () }
          else if (!bNull) { uf.find(row.getLong(1)); () }
        }
        uf.entries.map { case (k, r) => org.apache.spark.sql.Row(k, r) }
      }
      return Some(spark.createDataFrame(rdd, StructType(Seq(
        StructField("node", dt, nullable = false),
        StructField("root", dt, nullable = false)))))
    }
    nodeOrdering(dt).map { ord =>
      val spark = pairs.sparkSession
      val rdd = pairs.select(col(aCol), col(bCol)).rdd.mapPartitions { it =>
        val parent = new java.util.HashMap[Any, Any]()
        def find(x: Any): Any = {
          var r = x
          var p = parent.get(r)
          if (p == null) { parent.put(r, r); p = r }
          while (p != r) { r = p; p = parent.get(r) }
          // path compression: point the whole chain at the root
          var c = x
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        it.foreach { row =>
          val aNull = row.isNullAt(0)
          val bNull = row.isNullAt(1)
          if (!aNull && !bNull) {
            val ra = find(row.get(0))
            val rb = find(row.get(1))
            if (ra != rb) {
              if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
            }
          } else if (!aNull) {
            // half-null pair: the non-null endpoint still appears in a pair,
            // so it must surface (as a singleton) per the contract
            find(row.get(0)); ()
          } else if (!bNull) {
            find(row.get(1)); ()
          }
        }
        // copy the key set first: find()'s path compression rewrites values,
        // which is safe, but iterating the live keySet while compressing is
        // fragile if a find ever inserts
        val keys = new java.util.ArrayList[Any](parent.keySet())
        import scala.jdk.CollectionConverters._
        keys.asScala.iterator.map(k => org.apache.spark.sql.Row(k, find(k)))
      }
      spark.createDataFrame(rdd, StructType(Seq(
        StructField("node", dt, nullable = false),
        StructField("root", dt, nullable = false))))
    }
  }

  /** JVM ordering matching Spark's `min`/`least` for the id types the dedup
    * pipelines use. Strings compare as unsigned UTF-8 bytes — exactly
    * UTF8String's binary order (Java String.compareTo would diverge on
    * supplementary-plane characters). */
  private def nodeOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    // LongType never reaches here — localContraction short-circuits it
    // into the primitive LongUnionFind path
    case IntegerType => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
    case ShortType   => Some(Ordering.by((x: Any) => x.asInstanceOf[Short]))
    case ByteType    => Some(Ordering.by((x: Any) => x.asInstanceOf[Byte]))
    case StringType => Some(new Ordering[Any] {
      def compare(a: Any, b: Any): Int = java.util.Arrays.compareUnsigned(
        a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
    })
    case _ => None
  }

  /** Rounds the most recent [[propagateLabels]] loop on this driver took to
    * converge (including the zero-change confirming round). Diagnostics
    * only — single value per driver, racy under concurrent clusterPairs
    * calls — read by the contraction soak and the hostile-partitioning
    * spec to pin "scattered input never exceeds the pointer-doubling
    * bound" as an assertion rather than a stderr log. */
  @volatile private[graft] var lastLoopRounds: Int = -1

  /** MEASURED union-find footprint at `nodes` registered nodes (a single
    * path component, the contraction soak's shape): (tableBytes, nodes,
    * bytesPerNode). This is the 24–49 B/node capacity claim
    * (ARCHITECTURE.md) as an observation instead of arithmetic — the soak
    * prints it per scale row and `ClusterContractionSpec` asserts the
    * band. Only meaningful once `nodes` has outgrown the initial table —
    * `LongUnionFind(1 << 12)` doubles its requested capacity
    * (`while (c < initialCap * 2)`), so the floor is 8192 slots and the
    * band reflects load factor (not the floor) from ≥ ~6k nodes; below
    * that the fixed floor dominates B/node. */
  private[graft] def unionFindMemory(nodes: Int): (Long, Int, Double) = {
    val uf = new LongUnionFind(1 << 12)
    var i = 0L
    while (i < nodes - 1) { uf.union(i, i + 1); i += 1 }
    if (nodes == 1) uf.find(0L)
    (uf.tableBytes, uf.size, uf.tableBytes.toDouble / uf.size)
  }

  /** The distributed min-label pointer-doubling loop over an (a, b) edge
    * frame — see [[clusterPairs]] for the full semantics and cost notes. */
  private def propagateLabels(edgesIn: DataFrame, maxIters: Int,
                              checkpointDir: Option[String],
                              logRounds: Boolean): DataFrame = {
    val spark = edgesIn.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def materialize(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    def release(df: DataFrame): Unit =
      if (checkpointDir.isDefined) graft.core.Dist.freeReliableCheckpoint(df)
      else graft.core.Dist.freeLocalCheckpoint(df)
    val edges = edgesIn
    // persisted HASH-PARTITIONED on the per-round join key: the cached scan
    // reports hashpartitioning(b), so every round's sym⋈labels join reuses it
    // and only the (small) label frame shuffles — at 100TB the edge set is
    // the big side and would otherwise re-exchange once per round
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .repartition(col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // neighborhood-min seed: every node of sym appears on the `a` side
    // (sym is symmetric), so one aggregate covers the whole node set
    var labels = materialize(
      sym.groupBy("a").agg(min("b").as("_nmin"))
        .select(col("a").as("node"), least(col("a"), col("_nmin")).as("cluster")))
    var it = 0
    var done = false
    while (!done && it < maxIters) {
      val t0 = System.nanoTime()
      val m0 = if (logRounds) graft.core.MetricsTap.snapshot(spark) else null
      val nbrMin = sym
        .join(labels.select(col("node").as("b"), col("cluster")), Seq("b"))
        .groupBy("a").agg(min("cluster").as("_nmin"))
        .withColumnRenamed("a", "node")
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("cluster").as("_old"),
          least(col("cluster"), coalesce(col("_nmin"), col("cluster"))).as("cluster"))
      // two pointer hops through the materialized `labels` map: each hop is
      // one more hash join against local blocks, far cheaper than another
      // round (which pays the nbrMin join + a checkpoint + scheduling), and
      // together they quarter the pointer chains on path-shaped components —
      // the label-propagation worst case. Cluster ids are node ids, so the
      // map covers every pointer value; the left join + coalesce is belt and
      // braces for the (impossible) miss.
      def hop(df: DataFrame, n: Int): DataFrame = {
        val p = labels.select(col("node").as(s"_p$n"), col("cluster").as(s"_pc$n"))
        df.join(p, df("cluster") === p(s"_p$n"), "left")
          .select(df("node"), df("_old"),
            least(df("cluster"), coalesce(p(s"_pc$n"), df("cluster"))).as("cluster"))
      }
      // the convergence flag rides INSIDE the checkpointed frame, so the
      // probe below is a short-circuit scan of local blocks — not a
      // shuffle join against the previous labels
      val next = materialize(
        hop(hop(stepped, 1), 2)
          .select(col("node"), col("cluster"),
            (col("cluster") =!= col("_old")).as("_chg")))
      done = next.where(col("_chg")).limit(1).count() == 0
      // the previous round's checkpoint is dead once `next` is materialized
      release(labels)
      labels = next
      it += 1
      if (logRounds) {
        val d = graft.core.MetricsTap.settled(spark) - m0
        Console.err.println(f"[clusterPairs] round=$it%d wall=${(System.nanoTime - t0) / 1e9}%.2fs " +
          f"shuffleMB=${d.shuffleBytes / 1e6}%.1f spillMB=${d.spillBytes / 1e6}%.1f converged=$done%b")
      }
    }
    sym.unpersist()
    lastLoopRounds = it
    // a non-fixpoint label map silently mislabels components downstream
    // (survivor selection would drop the wrong docs) — fail loudly instead.
    // Unreachable at the default 25 with contraction on (rounds track
    // partition crossings), but maxIters is caller-tunable. The abandoned
    // round is released first: nothing can consume it after the throw, and
    // in durable mode its reliable-checkpoint files would otherwise orphan.
    if (!done) {
      release(labels)
      throw new IllegalStateException(
        s"clusterPairs: label propagation did not converge within $maxIters " +
          "rounds (the budget includes the zero-change confirming round, " +
          "so this bought " + (maxIters - 1) + " productive rounds); raise maxIters")
    }
    labels.select("node", "cluster")
  }

  /** Keep one canonical document per near-dup cluster (the minimum id) plus
    * every document not involved in any pair — `docs` minus the non-canonical
    * cluster members. The anti join never moves document payloads for the
    * dropped side. */
  def keepCanonical(docs: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id"): DataFrame =
    keepCanonicalLabeled(docs, clusterPairs(pairs), idCol)

  /** [[keepCanonical]] over a precomputed (node, cluster) assignment — a real
    * pipeline materializes the clustering once and every survivor policy
    * joins against it rather than re-running the component loop. */
  def keepCanonicalLabeled(docs: DataFrame, labels: DataFrame,
                           idCol: String = "doc_id"): DataFrame = {
    val nonCanonical = labels
      .where(col("node") =!= col("cluster"))
      .select(col("node").as(idCol))
    docs.join(nonCanonical, Seq(idCol), "left_anti")
  }

  /** Per-cluster GRAPH DIAGNOSTICS over the near-dup pair graph: node and
    * edge counts, triangle count and edge density — the audit that tells a
    * curation pipeline whether a "cluster" is a tight duplicate clique
    * (density → 1, triangle-rich: safe to keep one survivor) or a strung-out
    * transitive chain (density → 0: the threshold is linking near-misses and
    * survivors should be reviewed).
    *
    * Triangles count each undirected triangle once via the oriented
    * a<b<c wedge join — two self-joins of the (a<b) edge list plus a
    * semi-join closing the wedge; all joins are keyed by vertex, no
    * enumeration of non-edges. Density = 2E/(n(n−1)), quantized through
    * DECIMAL(38,9). */
  def clusterGraphStats(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("doc_id_a").as("_a"), col("doc_id_b").as("_b"))
    val labels = clusterPairs(pairs)
      .select(col("node").as("_a"), col("cluster").as("cluster_id"))
    val nNodes = clusterPairs(pairs).groupBy(col("cluster").as("cluster_id"))
      .agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.join(labels, Seq("_a"))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_edges"))
    val wedges = e.select(col("_a"), col("_b").as("_m"))
      .join(e.select(col("_a").as("_m"), col("_b").as("_c")), Seq("_m"))
    val tris = wedges
      .join(e.select(col("_a"), col("_b").as("_c")), Seq("_a", "_c"), "left_semi")
      .join(labels, Seq("_a"))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_triangles"))
    nNodes.join(nEdges, Seq("cluster_id"), "left")
      .join(tris, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        (lit(2.0) * coalesce(col("n_edges"), lit(0L)) /
          (col("n_nodes") * (col("n_nodes") - lit(1.0))))
          .cast(DecimalType(38, 9)).cast(DoubleType).as("density"))
  }

  /** Keep the most CENTRAL document of each near-dup cluster: PageRank
    * power iteration over the (undirected) pair graph, survivor = the
    * cluster member with the highest rank (ties → lowest id) — the
    * "representative = the doc most similar to the rest" policy, where
    * [[keepCanonical]] is positional and [[keepBest]] needs an external
    * score. Documents in no pair survive unchanged.
    *
    * `iters` fixed power-iteration rounds with damping 0.85 from a uniform
    * start; per-edge contributions quantize through DECIMAL(38,9) before
    * the neighbor sum, so ranks — and the argmax — replay bit-for-bit in
    * the SQL oracle (the same fold discipline as the k-means replay).
    * Distributed shape: each round is one join of the edge list against the
    * rank frame plus one dst-keyed reduction — Pregel-shaped like
    * [[clusterPairs]], with the edge list reused across rounds; no
    * driver action, no window over the graph. */
  def keepCentral(docs: DataFrame, pairs: DataFrame, iters: Int = 2,
                  damping: Double = 0.85,
                  idCol: String = "doc_id",
                  labels: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val Dec = DecimalType(38, 9)
    // r14 (guide §3.3 "very large plans" / §7.3): left lazy, round i's rank
    // frame embedded round i−1's ENTIRE tree at every reference, and sym/deg
    // re-derived per reference — the 2-round plan reached 466 Exchange nodes
    // and planning itself became a cost. localCheckpoint each bounded frame
    // once (sym = 2·|pairs| ids, deg/pr = one row per node) — the same
    // per-round lineage cut clusterPairs' loop uses; values unchanged (the
    // checkpoint materializes the identical deterministic frame).
    val sym = pairs.select(col("doc_id_a").as("_src"), col("doc_id_b").as("_dst"))
      .union(pairs.select(col("doc_id_b").as("_src"), col("doc_id_a").as("_dst")))
      .localCheckpoint(true)
    val deg = sym.groupBy(col("_src")).agg(count(lit(1)).as("_deg"))
      .localCheckpoint(true)
    var pr = deg.select(col("_src").as("_node"), lit(1.0).as("_pr"))
    for (_ <- 1 to iters)
      pr = sym.join(deg, Seq("_src"))
        .join(pr, col("_src") === col("_node"))
        .groupBy(col("_dst"))
        .agg((lit(1.0 - damping) + lit(damping) *
          sum((col("_pr") / col("_deg")).cast(Dec)).cast(DoubleType))
          .cast(Dec).cast(DoubleType).as("_pr"))
        .select(col("_dst").as("_node"), col("_pr"))
        .localCheckpoint(true)
    // r15 (guide §2.4, VERDICT r14 item 3): callers that already hold the
    // (node, cluster) assignment — e.g. a session-shared memo of the same
    // clustering other survivor-selection queries consume — pass it in and
    // skip re-running the CC loop here; the PageRank loop (the operator this
    // policy adds) still runs in full. Default behavior unchanged.
    val lbl = labels.getOrElse(clusterPairs(pairs))
    val winners = lbl.join(pr, col("node") === col("_node"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("_pr").desc, col("node").asc)))
      .where(col("_rn") === 1)
      .select(col("node").as(idCol))
    val singletons = docs
      .join(lbl.select(col("node").as(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol))
    singletons.unionByName(winners)
  }

  /** Keep the highest-scoring document per near-dup cluster (ties → lowest
    * id), plus every document not involved in any pair — the quality-aware
    * variant of [[keepCanonical]]: a real pipeline keeps the longest or
    * cleanest member of a duplicate cluster, not the smallest id. Scores
    * travel as an (id, score) projection, so document payloads never enter
    * the cluster loop; the per-cluster rank windows over clusters (small,
    * skew-bounded by cluster size), and the final anti join moves ids only. */
  def keepBest(docs: DataFrame, pairs: DataFrame, scoreCol: String,
               idCol: String = "doc_id"): DataFrame =
    keepBestLabeled(docs, clusterPairs(pairs), scoreCol, idCol)

  /** [[keepBest]] over a precomputed (node, cluster) assignment. */
  def keepBestLabeled(docs: DataFrame, labels: DataFrame, scoreCol: String,
                      idCol: String = "doc_id"): DataFrame = {
    val scores = docs.select(col(idCol).as("node"), col(scoreCol).as("_score"))
    val losers = labels
      .join(scores, Seq("node"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("cluster").orderBy(col("_score").desc, col("node").asc)))
      .where(col("_rn") =!= 1)
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental snapshot dedup: the survivors of `incoming` against an
    * already-clean `existing` corpus — the snapshot-over-snapshot reality of
    * corpus construction, where each new crawl is deduplicated against
    * everything previously kept. One shingle index over existing ∪ incoming
    * feeds one candidate join; an incoming document is dropped when it
    * near-matches ANY existing document (existing always wins) or a
    * smaller-id incoming document (pairwise first-wins — use
    * [[clusterPairs]] + [[keepCanonicalLabeled]]/[[keepBestLabeled]] when a
    * component-level survivor policy is wanted instead). Only ids travel in
    * the drop set; incoming payloads move once, in the final anti join. */
  def dedupIncremental(existing: DataFrame, incoming: DataFrame, n: Int,
                       threshold: Double, idCol: String = "doc_id",
                       maxDf: Int = 1000,
                       allDocs: Option[DataFrame] = None): DataFrame = {
    // r15 (guide §2.4): when existing/incoming are two filters PARTITIONING
    // one corpus frame the caller already holds (existing ∩ incoming = ∅,
    // existing ∪ incoming = allDocs — the caller must guarantee both, e.g.
    // `isin`/`!isin` on a non-null column), passing that frame keeps the
    // shingle-index subplan byte-identical to a direct
    // [[ngramJaccardPairs]](allDocs) call, so Spark's CacheManager shares
    // ONE persisted shingle index across this and the whole-corpus pair
    // queries instead of building a second, sameResult-distinct copy of
    // the same rows from the union-of-filters plan. Pair semantics are
    // unchanged: ngramJaccardPairs sees the same (id, text) row set.
    val all = allDocs.getOrElse(
      existing.select(col(idCol), col("text"))
        .unionByName(incoming.select(col(idCol), col("text"))))
    val pairs = ngramJaccardPairs(all, n, threshold, idCol, maxDf)
    val flags = existing.select(col(idCol), lit(true).as("_old"))
    val withFlags = pairs
      .join(flags.select(col(idCol).as("doc_id_a"), col("_old").as("_oa")),
        Seq("doc_id_a"), "left")
      .join(flags.select(col(idCol).as("doc_id_b"), col("_old").as("_ob")),
        Seq("doc_id_b"), "left")
      .select(col("doc_id_a"), col("doc_id_b"),
        coalesce(col("_oa"), lit(false)).as("_oa"),
        coalesce(col("_ob"), lit(false)).as("_ob"))
    val dropped = withFlags
      .where(!(col("_oa") && col("_ob")))   // existing-existing pairs are inert
      .select(when(col("_oa"), col("doc_id_b"))
        .when(col("_ob"), col("doc_id_a"))
        .otherwise(col("doc_id_b"))         // within incoming: a < b, first wins
        .as(idCol))
      .distinct()
    incoming.join(dropped, Seq(idCol), "left_anti")
  }

  /** [[dedupIncremental]] with the existing side read from the PERSISTED
    * bucketed shingle index instead of re-shingling the whole prior corpus —
    * with [[appendShingleIndex]] the crawl-over-crawl loop becomes
    * end-to-end incremental: per snapshot, only the new documents are
    * shingled, the index-side candidate join reads co-located buckets, and
    * the index grows by the survivors' shingles. Semantics match
    * [[dedupIncremental]] exactly: maxDf over the union's document
    * frequency, existing always wins, within-incoming pairwise first-wins
    * (a < b drops b). */
  def dedupIncrementalIndexed(spark: org.apache.spark.sql.SparkSession,
                              table: String, incoming: DataFrame, n: Int,
                              threshold: Double, idCol: String = "doc_id",
                              maxDf: Int = 1000): DataFrame = {
    val exSh = spark.table(table)
    val inSh = shingles(incoming, n, idCol)
    val keep = exSh.unionByName(inSh)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf && col("df") >= 2)
      .select("shingle")
    val ex = exSh.join(keep, Seq("shingle"), "left_semi")
    val inn = inSh.join(keep, Seq("shingle"), "left_semi")
    val exSizes = exSh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val inSizes = inSh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    def jaccardAtLeast(inter: Column, szA: Column, szB: Column): Column =
      inter.cast(DoubleType) / (szA + szB - inter) >= threshold
    // incoming × index candidates — existing always wins, drop the incoming id
    val cross = inn.select(col(idCol).as("in_id"), col("shingle"))
      .join(ex.select(col(idCol).as("ex_id"), col("shingle")), Seq("shingle"))
      .groupBy("in_id", "ex_id").agg(count(lit(1)).as("inter"))
      .join(inSizes.select(col(idCol).as("in_id"), col("sz").as("sz_a")), Seq("in_id"))
      .join(exSizes.select(col(idCol).as("ex_id"), col("sz").as("sz_b")), Seq("ex_id"))
      .where(jaccardAtLeast(col("inter"), col("sz_a"), col("sz_b")))
      .select(col("in_id").as(idCol))
    // within-incoming candidates — smaller id wins, drop b
    val within = inn.select(col(idCol).as("doc_id_a"), col("shingle"))
      .join(inn.select(col(idCol).as("doc_id_b"), col("shingle")), Seq("shingle"))
      .where(col("doc_id_a") < col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b").agg(count(lit(1)).as("inter"))
      .join(inSizes.select(col(idCol).as("doc_id_a"), col("sz").as("sz_a")), Seq("doc_id_a"))
      .join(inSizes.select(col(idCol).as("doc_id_b"), col("sz").as("sz_b")), Seq("doc_id_b"))
      .where(jaccardAtLeast(col("inter"), col("sz_a"), col("sz_b")))
      .select(col("doc_id_b").as(idCol))
    incoming.join(cross.unionByName(within).distinct(), Seq(idCol), "left_anti")
  }

  /** Benchmark DECONTAMINATION: drop every training document sharing at
    * least `minHits` word n-grams with the benchmark corpus — the standard
    * eval-leakage guard of a training-data pipeline (the n-gram-overlap
    * method popularized by GPT-3 appendix C / Dolma's decontamination pass).
    *
    * Scale design: the benchmark side is the small one (eval sets are
    * thousands of docs, the corpus is billions), so its distinct shingle set
    * broadcast-joins against the training shingle index; the contaminated-id
    * set is smaller still, and the final anti join moves ids only — document
    * payloads never shuffle. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 5,
                    minHits: Int = 1, idCol: String = "doc_id"): DataFrame = {
    val benchGrams = broadcast(
      shingles(benchmark, n, idCol).select(col("shingle")).distinct())
    // the corpus side stays UN-deduplicated into the broadcast semi-join —
    // a map-side filter — so the only wide operation is the distinct-hit
    // count over grams that actually matched the benchmark. Deduplicating
    // first (the former formulation) shuffled the ENTIRE corpus gram
    // stream to serve a filter that discards almost all of it.
    val contaminated = rawShingles(docs, n, idCol)
      .join(benchGrams, Seq("shingle"), "left_semi")
      .groupBy(idCol).agg(countDistinct(col("shingle")).as("_hits"))
      .where(col("_hits") >= minHits)
      .select(idCol)
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Per-source contamination REPORT against a benchmark corpus — the
    * observability companion of [[decontaminate]]: instead of dropping
    * contaminated documents it reports, per training source, how many
    * documents share at least `minHits` distinct word n-grams with the
    * benchmark, the contamination rate, and the total/max hit counts —
    * the dashboard a pipeline team reads BEFORE deciding a drop policy
    * (a source at 40% overlap is a scrape of the eval set; one at 0.2%
    * is incidental phrase reuse).
    *
    * Same scale shape as decontaminate: benchmark grams broadcast into a
    * map-side semi-join, per-document distinct-hit counts are the only
    * wide operation, and the report aggregates one row per source. All
    * integer counts + one exact int/int IEEE division — oracle-exact. */
  def contaminationReport(docs: DataFrame, benchmark: DataFrame, n: Int = 5,
                          minHits: Int = 1, idCol: String = "doc_id",
                          srcCol: String = "source"): DataFrame = {
    val benchGrams = broadcast(
      shingles(benchmark, n, idCol).select(col("shingle")).distinct())
    val hits = rawShingles(docs, n, idCol)
      .join(benchGrams, Seq("shingle"), "left_semi")
      .groupBy(idCol).agg(countDistinct(col("shingle")).as("_hits"))
    docs.select(col(idCol), col(srcCol))
      .join(hits, Seq(idCol), "left")
      .groupBy(srcCol).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("_hits") >= minHits, 1L).otherwise(0L)).as("n_contaminated"),
        coalesce(sum(when(col("_hits") >= minHits, col("_hits"))), lit(0L))
          .as("total_hits"),
        coalesce(max(col("_hits")), lit(0L)).as("max_hits"))
      .withColumn("contamination_rate",
        col("n_contaminated").cast(DoubleType) / col("n_docs"))
  }

  /** Bloom-filter DECONTAMINATION — [[decontaminate]]'s shape with the
    * benchmark gram set folded into a fixed-size Bloom filter instead of a
    * broadcast hash set. At a benchmark suite of hundreds of millions of
    * grams the exact broadcast stops fitting in executor memory; the Bloom
    * bitmap is `numBits/8` bytes regardless, built DISTRIBUTED (partial
    * sketches merged by Spark's `BloomFilterAggregate`, delivered through
    * a scalar subquery — materialized once at execution, no job at
    * plan-build) and probed by the codegen'd `BloomFilterMightContain` on
    * xxhash64 values. A Bloom filter has NO false negatives, so every
    * truly contaminated document is still dropped; false positives (rate
    * set by numBits/items) can only OVER-drop — the conservative
    * direction for decontamination. Spec-gated against the exact operator
    * (drops are always a superset; equal at generous numBits). */
  def decontaminateBloom(docs: DataFrame, benchmark: DataFrame, n: Int,
                         expectedItems: Long, numBits: Long,
                         minHits: Int = 1, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val h = xxhash64(col("shingle"))
    // might_contain requires its filter as a constant or SCALAR SUBQUERY —
    // the subquery form keeps the whole thing one lazy plan (no job at
    // plan-build, filter materialized once at execution and reused)
    val bloom = shingles(benchmark, n, idCol).agg(column(
      new BloomFilterAggregate(expression(h), Literal(expectedItems), Literal(numBits))
        .toAggregateExpression())).scalar()
    val contaminated = rawShingles(docs, n, idCol)
      .where(column(BloomFilterMightContain(expression(bloom), expression(h))))
      .groupBy(idCol).agg(countDistinct(col("shingle")).as("_hits"))
      .where(col("_hits") >= minHits)
    docs.join(contaminated.select(idCol), Seq(idCol), "left_anti")
  }

  /** EXACT all-pairs embedding near-dup — the correctness baseline the banded
    * LSH variant approximates. Deliberately O(n²): one side broadcasts and
    * the codegen'd float dot product runs inside the nested-loop join, so it
    * is usable as an oracle anchor up to ~10⁵ vectors; beyond that use
    * [[embeddingNearDupPairs]] (the scale path). Emits pair ids only — the
    * cosine itself stays float on the engine side and would not byte-match a
    * double-precision oracle. */
  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): bucket the corpus by
    * [[Similarity.kmeansTopics]] cluster, verify cosine similarity ONLY
    * within each cluster, and drop the higher id of every qualifying pair
    * (first-wins, the engine-wide survivor convention). The all-pairs
    * near-dup search becomes candidate-proportional: one cluster-keyed
    * equi-join instead of a corpus cross-join — with k ≈ √N cells the pair
    * space shrinks from N² to ~N^1.5, and the miss risk is exactly
    * SemDeDup's (a near-dup pair straddling a cluster boundary), which the
    * portable seeded clustering makes deterministic and oracle-replayable.
    * Cosine verification is the codegen'd [[graft.functions.VectorExprs]]
    * scan, same as [[embeddingExactPairs]]. Returns the surviving ids. */
  def semanticDedup(emb: DataFrame, k: Int, iters: Int,
                    cosineThreshold: Double,
                    idCol: String = "vec_id"): DataFrame = {
    // both pair-join sides read the same clustered frame — materialize the
    // Lloyd rounds once instead of twice (the ngramJaccardPairs caching
    // rationale; the session evicts it like every other derived index)
    val assigned = Similarity.kmeansTopics(emb, k, iters, idCol)
      .select(col(idCol), col("cluster"))
    val withVec = assigned.join(emb, Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = withVec.select(col("cluster"), col(idCol).as("vec_id_a"),
      col("embedding").as("ea"))
    val b = withVec.select(col("cluster"), col(idCol).as("vec_id_b"),
      col("embedding").as("eb"))
    val dropped = a.join(b, Seq("cluster"))
      .where(col("vec_id_a") < col("vec_id_b"))
      .withColumn("cosine", fastCosine(col("ea"), col("eb")))
      .where(col("cosine") >= cosineThreshold)
      .select(col("vec_id_b").as(idCol)).distinct()
    emb.join(dropped, Seq(idCol), "left_anti").select(idCol)
  }

  def embeddingExactPairs(emb: DataFrame, cosineThreshold: Double,
                          idCol: String = "vec_id"): DataFrame = {
    val a = emb.select(col(idCol).as("vec_id_a"), col("embedding").as("ea"))
    val b = emb.select(col(idCol).as("vec_id_b"), col("embedding").as("eb"))
    a.join(broadcast(b), col("vec_id_a") < col("vec_id_b"))
      .withColumn("cosine", fastCosine(col("ea"), col("eb")))
      .where(col("cosine") >= cosineThreshold)
      .select("vec_id_a", "vec_id_b")
  }

  /** Embedding near-dup pairs: BANDED sign-LSH — `numBands` independent
    * signatures of `planesPerBand` hyperplanes each (distinct seeds), a
    * candidate pair is any two vectors sharing ANY band's bucket, then exact
    * cosine verification >= threshold.
    *
    * Scale design vs a single signature: one 8-plane signature yields only
    * 256 buckets, so per-bucket pairing degenerates toward O(n²/256) on a
    * large corpus. Banding keeps per-band buckets fine (`planesPerBand` bits
    * ⇒ 2^p buckets per band) while recall comes from the OR over bands
    * (P[candidate] = 1-(1-s^p)^b for sign-agreement rate s). `maxBucket`
    * caps any still-hot bucket (dropped entirely — the standard LSH skew
    * guard; a dropped bucket's true pairs can still surface via the other
    * bands). Shuffle stays proportional to candidate pairs, never all pairs.
    */
  def embeddingNearDupPairs(emb: DataFrame, cosineThreshold: Double,
                            planesPerBand: Int = 12, numBands: Int = 4,
                            maxBucket: Int = 1000, idCol: String = "vec_id"): DataFrame = {
    val withSigs = (0 until numBands).foldLeft(emb) { (d, b) =>
      Vectors.withLshSignature(d, "embedding", planesPerBand, seed = 7 + b)
        .withColumnRenamed("lsh_sig", s"_sig$b")
    }
    val bandCols = (0 until numBands).map(b =>
      struct(lit(b).as("band"), col(s"_sig$b").as("sig")))
    val buckets = withSigs
      .select(col(idCol), col("embedding"), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("embedding"), col("bk.band"), col("bk.sig"))
    // hot-bucket cap: count per (band, sig), drop oversized buckets
    val kept = buckets.join(
      buckets.groupBy("band", "sig").agg(count(lit(1)).as("n"))
        .where(col("n") >= 2 && col("n") <= maxBucket),
      Seq("band", "sig"), "left_semi")
    val a = kept.select(col("band"), col("sig"),
      col(idCol).as("vec_id_a"), col("embedding").as("ea"))
    val b = kept.select(col("band"), col("sig"),
      col(idCol).as("vec_id_b"), col("embedding").as("eb"))
    a.join(b, Seq("band", "sig"))
      .where(col("vec_id_a") < col("vec_id_b"))
      .select("vec_id_a", "vec_id_b", "ea", "eb")
      .dropDuplicates("vec_id_a", "vec_id_b")
      .withColumn("cosine", fastCosine(col("ea"), col("eb")))
      .where(col("cosine") >= cosineThreshold)
      .select("vec_id_a", "vec_id_b", "cosine")
  }

  // ---- streaming exact dedup ----------------------------------------------

  /** STREAMING exact dedup over a document stream (crawl shards arriving
    * continuously): first arrival of each content hash survives, later
    * copies are dropped by Spark's watermark-bounded dedup state
    * (`dropDuplicatesWithinWatermark`). State is bounded by the watermark —
    * a key is remembered for `lateMs` past the max seen event time, which is
    * the crawl-burst window where duplicates actually cluster; the long
    * tail (a page recrawled months later) is the BATCH index's job
    * ([[dedupIncrementalIndexed]]) — the standard two-tier posture, because
    * unbounded streaming dedup state grows with corpus cardinality and
    * cannot run forever at 100 TB/day.
    *
    * The input must carry an event-time column `tsCol` (epoch millis).
    * Works identically over `readStream` (stateful, incremental) and a
    * batch frame (degenerates to a plain content-hash dropDuplicates). */
  def streamingExactDedup(docs: DataFrame, lateMs: Long,
                          textCol: String = "text",
                          tsCol: String = "ingest_ts"): DataFrame = {
    val hashed = docs
      .withColumn("_event_time", timestamp_millis(col(tsCol)))
      .withColumn("_content_hash", xxhash64(col(textCol)))
    val deduped =
      if (docs.isStreaming)
        hashed.withWatermark("_event_time", s"$lateMs milliseconds")
          .dropDuplicatesWithinWatermark("_content_hash")
      else hashed.dropDuplicates("_content_hash")
    deduped.drop("_event_time", "_content_hash")
  }

  // ---- cross-document duplicated spans (exact-substring dedup) -------------

  /** Cross-document duplicated k-token spans — the exact-substring pass of
    * training-data dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"), reshaped for Spark: every k-token
    * window whose case-folded text occurs in >= `minDocs` DISTINCT documents
    * is flagged, and per document the flagged window positions merge into
    * maximal spans `[span_start, span_end]` (inclusive token indices into
    * the whitespace-token sequence).
    *
    * Scale design: the exact tool is a distributed suffix array; this is the
    * shuffle-friendly standard approximation — one groupBy over window
    * hashes (shuffle proportional to TOTAL TOKENS, the same O(corpus) cost
    * as any shingle pass), one semi-join back, then a per-document window
    * for interval merging (partitioned by doc_id — fully parallel, bounded
    * by one document's token count). Windows hash with the base-31
    * mod-[[PortableP]] rolling hash the DuckDB oracle replays bit-exactly
    * (see [[PortableP]] for the collision trade-off). */
  /** (idCol, pos, _x) window-hash stream — window hashes are built INSIDE
    * arrays (transform → posexplode) so the token array is never replicated
    * per window position. The window hash is a k-element fold over
    * PER-TOKEN rolling hashes — each token's characters are walked once per
    * document, not once per covering window (the joined-gram-string
    * formulation cost k·|token| interpreted lambda steps per window and
    * dominated the whole pass). */
  private def spanGrams(docs: DataFrame, k: Int, idCol: String,
                        textCol: String): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    // codegen'd window fold (TextExprsSpec pins identity with the
    // interpreted aggregate-over-slice formulation this replaced)
    val gramArr = graft.functions.TextExprs.rollingWindowHashesCol(
      col("_th"), k, GramR, PortableP)
    docs.select(col(idCol), toks.as("_t"))
      .where(size(col("_t")) >= k)
      .withColumn("_th", transform(col("_t"), t => polyHash(lower(t))))
      .select(col(idCol), posexplode(gramArr))
      .select(col(idCol), col("pos").cast(LongType).as("pos"), col("col").as("_x"))
  }

  /** [[spanGrams]] memoized + persisted per (corpus plan, k, id, text): the
    * (doc, pos, windowHash) stream is the shared derived input of the whole
    * span/winnowing family (duplicatedSpans consumes it TWICE in one plan —
    * dup-hash aggregate + semi-join back; selfRepeatedSpans twice;
    * winnowing once; the span index writers once), and without the memo
    * every consumer would re-tokenize and re-hash the corpus per subtree per
    * action. Streams bypass the memo (a stream cannot persist); eviction
    * rides the session ledger. */
  private val spanGramsMemo = graft.core.Memo.frames[(Int, String, String)]
  private def spanGramsCached(docs: DataFrame, k: Int, idCol: String,
                              textCol: String): DataFrame =
    if (docs.isStreaming) spanGrams(docs, k, idCol, textCol)
    else spanGramsMemo(docs, (k, idCol, textCol))(spanGrams(docs, k, idCol, textCol))

  /** Gaps-and-islands merge of flagged window positions into maximal spans:
    * windows all span k tokens, so sorted by pos the running span end is
    * lag(pos)+k-1 and a new island starts exactly when pos > lag(pos)+k
    * (no overlap, no adjacency). Per-document window — fully parallel. */
  private def mergeSpans(dupPos: DataFrame, k: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("pos")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dupPos
      .withColumn("_lag", lag("pos", 1).over(w))
      .withColumn("_brk",
        when(col("_lag").isNull || col("pos") > col("_lag") + k, lit(1)).otherwise(lit(0)))
      .withColumn("_isl", sum("_brk").over(wRun))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k.toLong - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  def duplicatedSpans(docs: DataFrame, k: Int, minDocs: Int = 2,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val grams = spanGramsCached(docs, k, idCol, textCol)
    // df >= 2 ⟺ min(doc) != max(doc): one combinable aggregation with O(1)
    // state per gram. The countDistinct rewrite shuffles one row per
    // distinct (gram, doc) into the gram's reducer — a web-scale
    // boilerplate gram appearing in millions of documents would funnel
    // them all to one core; min/max never fans out. minDocs > 2 falls back
    // to the exact distinct count (rare setting; AQE skew-split applies).
    val dupX =
      if (minDocs <= 2)
        grams.groupBy("_x")
          .agg(min(col(idCol)).as("_mn"), max(col(idCol)).as("_mx"))
          .where(col("_mn") =!= col("_mx"))
          .select("_x")
      else
        grams.groupBy("_x")
          .agg(countDistinct(col(idCol)).as("_df"))
          .where(col("_df") >= minDocs)
          .select("_x")
    mergeSpans(grams.join(dupX, Seq("_x"), "left_semi").select(idCol, "pos"),
      k, idCol)
  }

  /** Persist a corpus' DISTINCT window hashes as a bucketed table — the
    * span-dedup analogue of [[writeShingleIndex]]: the cross-crawl
    * membership probe then reads co-located buckets with no exchange on
    * the hash key, and old crawls are never re-scanned. */
  def writeSpanIndex(docs: DataFrame, k: Int, table: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     buckets: Int = 64): Unit =
    spanGramsCached(docs, k, idCol, textCol)
      .select(col("_x").as("x")).distinct()
      .repartition(buckets, col("x")) // one file per bucket, see writeShingleIndex
      .write.mode("overwrite")
      .bucketBy(buckets, "x").sortBy("x")
      .saveAsTable(table)

  /** Append a snapshot's window hashes into the span index (bucketed files
    * append per bucket, so co-location survives without a rebuild).
    * Cross-snapshot repeats of a hash are harmless — every consumer probes
    * with a semi-join — at the cost of index growth; compact by rebuilding
    * when it matters. */
  def appendSpanIndex(docs: DataFrame, k: Int, table: String,
                      idCol: String = "doc_id", textCol: String = "text",
                      buckets: Int = 64): Unit =
    spanGramsCached(docs, k, idCol, textCol)
      .select(col("_x").as("x")).distinct()
      .repartition(buckets, col("x")) // one file per bucket, see writeShingleIndex
      .write.mode("append")
      .bucketBy(buckets, "x").sortBy("x")
      .saveAsTable(table)

  /** Cross-CRAWL duplicated spans without re-scanning prior crawls: a
    * window in `incoming` is flagged when its hash exists in the persisted
    * span index (it appeared in ANY earlier crawl) or repeats across
    * incoming documents — exactly [[duplicatedSpans]](minDocs=2) over
    * (prior ∪ incoming) restricted to incoming, proven by the spec's
    * equivalence test, but the prior corpus costs one bucketed semi-join
    * instead of a full re-shingle. (minDocs is pinned at 2: the index
    * stores membership, not counts.) */
  def duplicatedSpansIncremental(spark: org.apache.spark.sql.SparkSession,
                                 table: String, incoming: DataFrame, k: Int,
                                 idCol: String = "doc_id",
                                 textCol: String = "text"): DataFrame = {
    val grams = spanGramsCached(incoming, k, idCol, textCol)
    val inIndex = grams
      .join(spark.table(table).select(col("x").as("_x")), Seq("_x"), "left_semi")
      .select(idCol, "pos")
    val withinDup = grams.groupBy("_x")
      .agg(min(col(idCol)).as("_mn"), max(col(idCol)).as("_mx"))
      .where(col("_mn") =!= col("_mx"))
      .select("_x")
    val withinPos = grams.join(withinDup, Seq("_x"), "left_semi")
      .select(idCol, "pos")
    mergeSpans(inIndex.unionByName(withinPos).distinct(), k, idCol)
  }

  /** Rebuild each document with every cross-document duplicated span removed
    * ([[duplicatedSpans]] discovery): `clean_text` is the surviving tokens
    * joined by single spaces (whitespace is normalized — the token sequence,
    * not the raw bytes, is the unit of this operator) and `n_removed` the
    * dropped token count (0 for untouched documents, which pass through).
    * The per-doc span list rides a collect_list struct — bounded by the
    * document's own span count, never corpus-sized. */
  /** Rebuild documents without the tokens covered by `spans`
    * (doc_id, span_start, span_end): surviving tokens joined by single
    * spaces, plus the removed-token count. The per-doc span list rides a
    * collect_list struct — bounded by the document's own span count, never
    * corpus-sized. */
  private def removeSpans(docs: DataFrame, spans: DataFrame,
                          idCol: String, textCol: String): DataFrame = {
    val byDoc = spans.groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    docs.select(col(idCol), split(trim(col(textCol)), "\\s+").as("_t"))
      .join(byDoc, Seq(idCol), "left")
      .withColumn("_kept", expr(
        "filter(transform(_t, (tok, i) -> named_struct('tok', tok, 'i', i)), " +
          "p -> _spans IS NULL OR NOT exists(_spans, " +
          "s -> p.i >= s.span_start AND p.i <= s.span_end))"))
      .select(col(idCol),
        expr("array_join(transform(_kept, p -> p.tok), ' ')").as("clean_text"),
        (size(col("_t")) - size(col("_kept"))).cast(LongType).as("n_removed"))
  }

  def removeDuplicatedSpans(docs: DataFrame, k: Int, minDocs: Int = 2,
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    removeSpans(docs, duplicatedSpans(docs, k, minDocs, idCol, textCol), idCol, textCol)

  /** WITHIN-document repeated k-token spans — the intra-doc counterpart of
    * [[duplicatedSpans]] (boilerplate menus, chorus lines, copy-pasted
    * paragraphs inside one page): every window whose hash already occurred
    * EARLIER in the same document is flagged (the first occurrence always
    * survives), and flagged positions merge into maximal spans. One
    * (doc, hash) aggregate — grouped by document, so there is no cross-doc
    * hot key at all — plus the per-document island merge. */
  def selfRepeatedSpans(docs: DataFrame, k: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val grams = spanGramsCached(docs, k, idCol, textCol)
    val firsts = grams.groupBy(col(idCol), col("_x")).agg(min("pos").as("_p0"))
    val rep = grams.join(firsts, Seq(idCol, "_x"))
      .where(col("pos") > col("_p0"))
      .select(idCol, "pos")
    mergeSpans(rep, k, idCol)
  }

  /** Rebuild documents without their self-repeated spans — first
    * occurrences survive, later copies are cut. */
  def removeSelfRepetition(docs: DataFrame, k: Int,
                           idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    removeSpans(docs, selfRepeatedSpans(docs, k, idCol, textCol), idCol, textCol)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS selection rule): over the per-position k-token window hashes of
    * [[spanGrams]], every run of `w` consecutive hashes
    * contributes its MINIMUM, so any match of at least `w + k - 1` tokens
    * between two documents is guaranteed to share a fingerprint while only
    * ~2/(w+1) of all hashes are kept. Tie-break is leftmost-position via
    * key packing `hash * 2^32 + pos` (hash < 2^30 under [[PortableP]]; pos
    * < 2^32 covers any real document), which turns selection into one
    * trailing-window `min` — a per-document partitioned window, fully
    * parallel, no cross-document traffic. Documents with fewer than `w`
    * windows contribute their single overall minimum (the short-document
    * rule). Returns `(idCol, pos, fp)` — distinct selected positions with
    * the fingerprint hash.
    *
    * Reference analogue: the span index stores EVERY window hash
    * ([[writeSpanIndex]]); winnowing is the sublinear-storage variant of
    * the same guarantee, the right trade at 100 TB where a full gram
    * index is larger than the corpus. */
  def winnowingFingerprints(docs: DataFrame, k: Int, w: Int,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(w >= 1, "w must be >= 1")
    val grams = spanGramsCached(docs, k, idCol, textCol)
    val win = Window.partitionBy(idCol).orderBy("pos")
    val trail = win.rowsBetween(-(w - 1), 0)
    val keyed = grams
      .withColumn("_key", shiftleft(col("_x"), 32) + col("pos"))
      .withColumn("_rn", row_number().over(win))
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy(idCol)))
      .withColumn("_m", min(col("_key")).over(trail))
    keyed
      .where(col("_rn") >= least(lit(w.toLong), col("_cnt")))
      .select(col(idCol),
        col("_m").bitwiseAND(lit(0xFFFFFFFFL)).as("pos"),
        shiftright(col("_m"), 32).as("fp"))
      .distinct()
  }

  /** ROW-LOCAL winnowing fingerprint set — the [[winnowingFingerprints]]
    * selection (rolling window hash, leftmost-min trailing window,
    * short-document rule) computed as one array expression over a single
    * text value: no explode, no per-document window, so it runs on a
    * STREAMING DataFrame (append mode, stateless) and as a narrow batch
    * projection. Returns the DISTINCT fp array (positions dropped — pair
    * probing joins on fp alone); empty array for documents shorter than k
    * tokens. Selection-identical to the window formulation (spec-pinned per
    * document in WinnowingSpec). */
  def winnowFingerprintArray(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val toks = split(trim(text), "\\s+")
    val th = transform(toks, t => polyHash(lower(t)))
    // codegen'd window fold; evaluated only under the size >= k guard below
    val grams = graft.functions.TextExprs.rollingWindowHashesCol(
      th, k, GramR, PortableP)
    // key packing = hash·2^32 + pos: one long min is the leftmost-smallest-
    // hash rule (identical to the batch window's `_key`)
    val keys = transform(grams, (x, i) => shiftleft(x, 32) + i.cast(LongType))
    val m = size(keys)
    val sel = transform(sequence(least(lit(w), m) - 1, m - 1),
      j => array_min(slice(keys, greatest(j - w + lit(2), lit(1)),
        least(lit(w), j + 1))))
    when(size(toks) >= k,
        array_distinct(transform(sel, key => shiftright(key, 32))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Staged (doc, fp) stream of [[winnowFingerprintArray]] — selection-
    * identical, but each intermediate array (token hashes, then packed
    * gram keys) materializes ONCE per row behind an `explode(array(...))`
    * generator boundary. The single-Column form nests its lambdas, and
    * interpreted higher-order functions re-evaluate a referenced subtree
    * at every outer element (no common-subexpression sharing inside
    * lambdas): the trailing-window pass re-derives the whole key array per
    * window, O(m²·k) per document where this is O(m·(k+w)) — a measured
    * ~3000× per-row gap on real documents. Generators are stream-safe, so
    * this is the form every bulk path (and the streaming probe) uses; the
    * one-Column variant remains for single-expression contexts. */
  private[graft] def winnowFpRows(df: DataFrame, k: Int, w: Int,
                                  idCol: String, textCol: String,
                                  outId: String): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val th = when(size(toks) >= k, transform(toks, t => polyHash(lower(t))))
      .otherwise(array().cast("array<bigint>"))
    val s1 = df.select(col(idCol).cast(LongType).as(outId),
      explode(array(th)).as("_th"))
    val m1 = size(col("_th"))
    // codegen'd window fold, guarded exactly like the interpreted form
    val grams = when(m1 >= k, graft.functions.TextExprs.rollingWindowHashesCol(
        col("_th"), k, GramR, PortableP))
      .otherwise(array().cast("array<bigint>"))
    val keys = transform(grams, (x, i) => shiftleft(x, 32) + i.cast(LongType))
    val s2 = s1.select(col(outId), explode(array(keys)).as("_keys"))
    val m = size(col("_keys"))
    val sel = transform(sequence(least(lit(w), m) - 1, m - 1),
      j => array_min(slice(col("_keys"), greatest(j - w + lit(2), lit(1)),
        least(lit(w), j + 1))))
    s2.where(m > 0)
      .select(col(outId),
        explode(array_distinct(transform(sel, key => shiftright(key, 32))))
          .as("fp"))
  }

  /** STREAMING winnowing probe: dedup the crawl AS IT LANDS. Each arriving
    * document fingerprints row-locally ([[winnowFingerprintArray]] — no
    * window, stream-safe), joins the persisted postings index (stream-
    * static equi-join on fp), and emits (new doc, indexed doc, shared
    * fingerprint count) pairs with at least `minShared` overlap — the
    * online counterpart of [[winnowingPairsIncremental]], restricted to
    * new-vs-indexed pairs (new-vs-new pairs belong to the next index
    * append). The document-frequency cull uses the INDEX's df (static,
    * computable without cross-trigger state); boilerplate fingerprints
    * shared by more than `maxDf` indexed documents never join.
    *
    * State shape: the only stateful operator is the final pair-count
    * aggregation; a document's rows all arrive in its own trigger, so each
    * pair's count is complete in the snapshot that first contains it
    * (reduce Update-mode sinks with max — the count never changes after).
    * At scale the static side stays a bucketed table: the join shuffles
    * only the stream's fingerprints. */
  def streamingWinnowProbe(spark: org.apache.spark.sql.SparkSession,
                           table: String, incoming: DataFrame,
                           k: Int, w: Int, minShared: Int = 2,
                           maxDf: Int = 1000, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val fps = winnowFpRows(incoming, k, w, idCol, textCol, "doc_id_new")
    val idx = spark.table(table)
    val kept = idx.join(
      idx.groupBy("fp").agg(count(lit(1)).as("_df")).where(col("_df") <= maxDf),
      Seq("fp"), "left_semi")
    fps.join(kept.select(col("fp"), col("doc_id").as("doc_id_old")), Seq("fp"))
      .where(col("doc_id_new") =!= col("doc_id_old"))
      .groupBy("doc_id_new", "doc_id_old")
      .agg(count(lit(1)).as("shared_fp"))
      .where(col("shared_fp") >= minShared)
  }

  /** Near-dup candidate pairs by SHARED WINNOWING FINGERPRINTS: inverted
    * join on the selected hashes, overlap counted per pair, Jaccard over
    * the two fingerprint SETS. `maxDf` drops boilerplate fingerprints
    * selected in more than that many documents (MOSS's over-common-hash
    * cull — the skew guard that keeps a site-wide footer from fanning a
    * single hash into millions of pairs); `minShared` floors the overlap.
    * Shuffles: the per-document selection window, one df aggregation, the
    * fingerprint equi-join (candidate-proportional after the cull), and
    * the pair count — nothing quadratic in corpus size. */
  def winnowingPairs(docs: DataFrame, k: Int, w: Int,
                     minShared: Int = 2, maxDf: Int = 1000,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val fp = winnowingFingerprints(docs, k, w, idCol, textCol)
      .select(col(idCol), col("fp")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = fp.join(
      fp.groupBy("fp").agg(count(lit(1)).as("_df"))
        .where(col("_df") <= maxDf && col("_df") >= 2),
      Seq("fp"), "left_semi")
    val sizes = fp.groupBy(idCol).agg(count(lit(1)).as("_sz"))
    val a = kept.select(col(idCol).as("doc_id_a"), col("fp"))
    val b = kept.select(col(idCol).as("doc_id_b"), col("fp"))
    a.join(b, Seq("fp"))
      .where(col("doc_id_a") < col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b").agg(count(lit(1)).as("shared_fp"))
      .where(col("shared_fp") >= minShared)
      .join(sizes.select(col(idCol).as("doc_id_a"), col("_sz").as("_sa")), Seq("doc_id_a"))
      .join(sizes.select(col(idCol).as("doc_id_b"), col("_sz").as("_sb")), Seq("doc_id_b"))
      .withColumn("jaccard_fp",
        col("shared_fp").cast(DoubleType) / (col("_sa") + col("_sb") - col("shared_fp")))
      .select("doc_id_a", "doc_id_b", "shared_fp", "jaccard_fp")
  }

  /** Persist a corpus' winnowing fingerprints as a bucketed POSTINGS table
    * `(fp, doc_id)` plus a `<table>_sz` companion of per-document
    * fingerprint-set sizes. Unlike the span index (membership only), the
    * postings let cross-crawl candidate PAIRS come out of one co-located
    * equi-join — and at ~2/(w+1) of the gram count the index stays
    * sublinear in the corpus where a full gram index does not. */
  def writeWinnowIndex(docs: DataFrame, k: Int, w: Int, table: String,
                       idCol: String = "doc_id", textCol: String = "text",
                       buckets: Int = 64): Unit = {
    val fp = winnowingFingerprints(docs, k, w, idCol, textCol)
      .select(col("fp"), col(idCol).cast(LongType).as("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fp.repartition(buckets, col("fp")) // one file per bucket, see writeShingleIndex
      .write.mode("overwrite")
      .bucketBy(buckets, "fp").sortBy("fp").saveAsTable(table)
    fp.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      .write.mode("overwrite").saveAsTable(table + "_sz")
    fp.unpersist()
  }

  /** Append a crawl's fingerprints into the winnowing index (bucketed
    * files append per bucket, so co-location survives without a rebuild;
    * sizes append to the companion — per-document counts are static, so
    * appended crawls must carry NEW doc ids). */
  def appendWinnowIndex(docs: DataFrame, k: Int, w: Int, table: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        buckets: Int = 64): Unit = {
    val fp = winnowingFingerprints(docs, k, w, idCol, textCol)
      .select(col("fp"), col(idCol).cast(LongType).as("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fp.repartition(buckets, col("fp")) // one file per bucket, see writeShingleIndex
      .write.mode("append")
      .bucketBy(buckets, "fp").sortBy("fp").saveAsTable(table)
    fp.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      .write.mode("append").saveAsTable(table + "_sz")
    fp.unpersist()
  }

  /** Cross-CRAWL winnowing near-dup pairs WITHOUT re-fingerprinting prior
    * crawls: incoming documents' fingerprints probe the persisted postings
    * — prior postings are read only for fingerprints the incoming crawl
    * actually touches (a semi-join the bucketed scan serves), which is
    * also exactly the set that can form pairs, so the document-frequency
    * cull computed over (probed ∪ incoming) EQUALS the global cull for
    * every candidate fingerprint. Emits every pair with at least one
    * incoming side — provably [[winnowingPairs]] over (prior ∪ incoming)
    * restricted to pairs touching incoming (spec-pinned equivalence);
    * per-document set sizes for the Jaccard come from the `_sz` companion,
    * never from re-reading prior text. */
  def winnowingPairsIncremental(spark: org.apache.spark.sql.SparkSession,
                                table: String, incoming: DataFrame,
                                k: Int, w: Int, minShared: Int = 2,
                                maxDf: Int = 1000, idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame = {
    val inc = winnowingFingerprints(incoming, k, w, idCol, textCol)
      .select(col("fp"), col(idCol).cast(LongType).as("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probed = spark.table(table)
      .join(inc.select("fp").distinct(), Seq("fp"), "left_semi")
    // persisted: the table-scan -> semi-join -> union -> distinct chain
    // feeds the df count, the df cull, and BOTH sides of the pair join —
    // without the cache it re-executes once per consumer (4x the probe I/O;
    // mirrors the batch path persisting `fp`)
    val allp = probed.unionByName(inc).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = allp.join(
      allp.groupBy("fp").agg(count(lit(1)).as("_df"))
        .where(col("_df") <= maxDf && col("_df") >= 2),
      Seq("fp"), "left_semi")
    val aSide = kept.join(inc.select("doc_id").distinct(),
      Seq("doc_id"), "left_semi")
    val pairs = aSide.select(col("doc_id").as("_da"), col("fp"))
      .join(kept.select(col("doc_id").as("_db"), col("fp")), Seq("fp"))
      .where(col("_da") =!= col("_db"))
      .select(least(col("_da"), col("_db")).as("doc_id_a"),
        greatest(col("_da"), col("_db")).as("doc_id_b"), col("fp"))
      .distinct()
      .groupBy("doc_id_a", "doc_id_b").agg(count(lit(1)).as("shared_fp"))
      .where(col("shared_fp") >= minShared)
    val sizes = spark.table(table + "_sz")
      .unionByName(inc.groupBy("doc_id").agg(count(lit(1)).as("sz")))
      .groupBy("doc_id").agg(max("sz").as("sz"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_id_a"), col("sz").as("_sa")), Seq("doc_id_a"))
      .join(sizes.select(col("doc_id").as("doc_id_b"), col("sz").as("_sb")), Seq("doc_id_b"))
      .withColumn("jaccard_fp",
        col("shared_fp").cast(DoubleType) / (col("_sa") + col("_sb") - col("shared_fp")))
      .select("doc_id_a", "doc_id_b", "shared_fp", "jaccard_fp")
  }
}
