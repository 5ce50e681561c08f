package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline over `documents`
  * (doc_id, text, lang, source, n_chars). All pure builtin expressions —
  * whole-stage-codegen'd, no UDFs, embarrassingly parallel (no shuffle).
  */
object TextAnalysis {

  /** GPT-style coarse token pattern: letter runs | digit runs | punct runs. */
  private val BpeIsh = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  private def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token counting: whitespace tokens + BPE-ish regex tokens + word stats. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = wsTokens(col("text"))
    docs
      .withColumn("n_tokens", size(toks).cast(LongType))
      .withColumn("n_words", size(toks).cast(LongType))
      .withColumn("n_bpe_tokens",
        size(expr(s"regexp_extract_all(text, '${BpeIsh.replace("\\", "\\\\")}', 0)")).cast(LongType))
      .withColumn("avg_word_len",
        length(regexp_replace(col("text"), "\\s+", "")).cast(DoubleType) / col("n_tokens"))
  }

  /** Corpus vocabulary: the `topK` tokens by total term frequency with their
    * document frequency and stopword flag — the first thing a corpus audit
    * looks at. One explode + one hash aggregation; the top-k is a
    * TakeOrdered over the (tiny) per-token aggregate, never a global sort of
    * the token stream. */
  def vocabulary(docs: DataFrame, topK: Int = 100): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .where(length(col("token")) > 0)
    toks.groupBy("token")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .withColumn("is_stopword", col("token").isin(Stopwords: _*))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(topK)
  }

  /** Per-document TF-IDF top terms — the keyword-extraction face of
    * [[vocabulary]]: tfidf = tf · ln(N / df) with N the document count and
    * df the term's document frequency, top `topK` terms per document by
    * (tfidf desc, token asc) — the token tiebreak keeps ranks deterministic
    * cross-engine. JVM and libm `ln` disagree in the last ulp on some
    * inputs, so the score is QUANTIZED through DECIMAL(38,9) (the engine's
    * standard cross-engine float discipline) before ranking and output —
    * rank and value are then oracle-checkable. Shuffles: one (doc, token)
    * count, one token-level df aggregate, the per-doc rank window
    * (partitioned by doc_id — bounded by a document's vocabulary, fully
    * parallel). N rides a 1-row broadcast, never a driver action. */
  def tfidfTopTerms(docs: DataFrame, topK: Int,
                    idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .where(length(col("token")) > 0)
    val tf = toks.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count_distinct(col(idCol)).as("_n"))
    val scored = tf.join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", (col("tf") * log(col("_n").cast(DoubleType) / col("df")))
        .cast(DecimalType(38, 9)).cast(DoubleType))
    graft.core.Dist.topK(scored, Seq(col("tfidf").desc, col("token").asc), topK,
        Seq(col(idCol)))
      .select(idCol, "token", "tf", "df", "tfidf")
  }

  /** Sequence packing: assign documents (ordered by `idCol`) to training
    * shards of ~`budgetTokens` whitespace tokens — each doc lands in the shard
    * containing its START offset (shard = floor(startOffset / budget)), the
    * deterministic fill-to-crossing packing.
    *
    * The start offset is a GLOBAL prefix sum, which must never become a
    * single-partition `Window.orderBy` (the classic driver-funnel mistake —
    * Spark warns "No Partition Defined"). [[graft.core.Dist.prefixScan]]
    * computes it two-phase (decimal accumulate — no long overflow at corpus
    * scale); result is byte-identical to a serial pass regardless of
    * partition count (DifferentialSpec holds it to that). */
  def packSequences(docs: DataFrame, budgetTokens: Long,
                    idCol: String = "doc_id"): DataFrame = {
    val Dec = DecimalType(38, 0)
    val withTok = tokenStats(docs).select(col(idCol), col("n_tokens"))
    graft.core.Dist.prefixScan(withTok, Seq(col(idCol)),
        col("n_tokens").cast(Dec), Seq(col(idCol)))
      .withColumn("_start", (col("_scan") - col("n_tokens")).cast(LongType))
      .withColumn("shard_id", floor(col("_start") / budgetTokens))
      .select(col(idCol), col("n_tokens"), col("_start").as("start_offset"), col("shard_id"))
  }

  /** Global QUALITY FLOOR by exact fraction: keep the top `frac` of
    * documents by `scoreCol` — the quantile-threshold cut of C4/Gopher
    * pipelines as an EXACT distributed rank (an approx_percentile threshold
    * drifts run to run; the exact rank is deterministic, resumable, and
    * oracle-checkable). Ties break by ascending id. The rank is
    * [[graft.core.Dist.prefixScan]] over (score desc, id) — never a
    * single-partition global window — and the corpus size rides a 1-row
    * broadcast, not a driver action. */
  def keepTopFraction(docs: DataFrame, frac: Double, scoreCol: String,
                      idCol: String = "doc_id"): DataFrame = {
    require(frac >= 0.0 && frac <= 1.0, "frac must be in [0, 1]")
    val ord = Seq(col(scoreCol).desc, col(idCol).asc)
    val n = docs.agg(count(lit(1)).cast(DoubleType).as("_n"))
    graft.core.Dist.prefixScan(docs, ord, lit(1L), ord)
      .crossJoin(broadcast(n))
      .where(col("_scan") <= floor(lit(frac) * col("_n")).cast(LongType))
      .drop("_scan", "_n")
  }

  /** SOURCE-FAIR quality floor: [[keepTopFraction]] applied WITHIN each
    * group — every source keeps its own top `frac` by score, so a noisy
    * feed can't crowd out a clean one's tail the way a single global floor
    * does (the per-source calibration step of mixture curation; global and
    * per-source floors select visibly different sets on heterogeneous
    * corpora).
    *
    * Distributed shape: one window partitioned by the group column — each
    * partition is a single source's rows (bounded by the largest source,
    * the natural unit here; salt upstream if one source dominates the
    * corpus), plus a broadcast of per-group counts. Ties break by id, so
    * the cut is deterministic and engine-portable. */
  def keepTopFractionPerGroup(docs: DataFrame, frac: Double, scoreCol: String,
                              groupCol: String,
                              idCol: String = "doc_id"): DataFrame = {
    require(frac >= 0.0 && frac <= 1.0, "frac must be in [0, 1]")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val n = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).cast(DoubleType).as("_n"))
    docs.withColumn("_rn", row_number().over(w))
      .join(broadcast(n), Seq(groupCol))
      .where(col("_rn") <= floor(lit(frac) * col("_n")).cast(LongType))
      .drop("_rn", "_n")
  }

  /** Fixed-length SEQUENCE CHUNKING: concatenate documents in ascending
    * `idCol` order into one global token stream (the same deterministic
    * prefix-sum offsets as [[packSequences]]) and cut it into training
    * sequences of exactly `seqLen` tokens — the GPT-style contiguous-stream
    * chunking where documents SPLIT across sequence boundaries instead of
    * padding. Emits one row per (document × overlapping sequence): seq_id,
    * the doc-local half-open token slice [tok_start, tok_end), and the
    * position of that slice inside the sequence (seq_offset).
    *
    * Distributed shape: after the two-phase prefix scan, each document's
    * overlapping sequence range is plain row-local arithmetic exploded to
    * ≤ ceil(n_d/seqLen)+1 rows — no window over the global stream, no
    * skew (a huge document fans out to its own sequence count, nothing
    * more). Row order and values are partition-invariant. */
  def chunkSequences(docs: DataFrame, seqLen: Long,
                     idCol: String = "doc_id"): DataFrame = {
    require(seqLen >= 1, "seqLen must be >= 1")
    val Dec = DecimalType(38, 0)
    val withTok = tokenStats(docs).select(col(idCol), col("n_tokens"))
    graft.core.Dist.prefixScan(withTok, Seq(col(idCol)),
        col("n_tokens").cast(Dec), Seq(col(idCol)))
      .withColumn("_start", (col("_scan") - col("n_tokens")).cast(LongType))
      .where(col("n_tokens") > 0)
      // integer DIV, not floor(double /): past 2^53 stream tokens a double
      // quotient would misplace sequence boundaries
      .withColumn("seq_id", explode(sequence(
        expr(s"_start DIV $seqLen"),
        expr(s"(_start + n_tokens - 1) DIV $seqLen"))))
      .withColumn("tok_start",
        greatest(col("seq_id") * seqLen - col("_start"), lit(0L)))
      .withColumn("tok_end",
        least((col("seq_id") + 1) * seqLen - col("_start"), col("n_tokens")))
      .withColumn("seq_offset",
        greatest(col("_start") - col("seq_id") * seqLen, lit(0L)))
      .select(col(idCol), col("seq_id"), col("tok_start"), col("tok_end"),
        col("seq_offset"))
  }

  /** Weighted SOURCE MIXING: compose a training corpus with per-source
    * document quotas — keep the first `quotas(source)` documents of each
    * source in ascending `idCol` order (deterministic and resumable; sources
    * absent from `quotas` are dropped). The domain-reweighting step of
    * corpus construction (the DoReMi/Pile-style mixture), exact rather than
    * rate-sampled.
    *
    * The per-source rank is [[graft.core.Dist.prefixScan]] grouped by the
    * source label (running count of 1 per source in ascending id order) —
    * never a single-partition global window, so the quota cut scales to any
    * corpus size. */
  def mixSources(docs: DataFrame, quotas: Map[String, Long],
                 sourceCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qdf = broadcast(quotas.toSeq.toDF(sourceCol, "_quota"))
    graft.core.Dist.prefixScan(docs, Seq(col(idCol)), lit(1L), Seq(col(idCol)),
        keyNames = Seq(sourceCol))
      .join(qdf, Seq(sourceCol))
      .where(col("_scan") <= col("_quota"))
      .drop("_scan", "_quota")
  }

  /** TEMPERATURE-based source mixing — the multinomial reweighting of
    * multi-source pre-training corpora (p_i ∝ n_i^alpha; alpha=1 keeps
    * natural proportions, alpha→0 flattens toward uniform, the mT5/XLM-R
    * recipe): per-source quotas are computed from the corpus' own source
    * counts, capped at availability, then filled deterministically in
    * doc-id order via the distributed prefix scan (same fill as
    * [[mixSources]] — a resumed or re-partitioned run selects the identical
    * documents). Quota arithmetic is floor(target · w_i / Σw) with the
    * weight sum in DECIMAL(38,9), so the oracle replays it bit-exactly;
    * undershoot from flooring is deliberate (never oversample a source).
    * Shuffle cost: one count per source + the prefix scan — both O(corpus),
    * no skew (quota frame is a broadcast of |sources| rows). */
  def temperatureMix(docs: DataFrame, targetTotal: Long, alpha: Double,
                     sourceCol: String = "source",
                     idCol: String = "doc_id"): DataFrame = {
    val counts = docs.groupBy(sourceCol).agg(count(lit(1)).as("_n"))
    val weights = counts.withColumn("_w", pow(col("_n").cast(DoubleType), lit(alpha)))
    val tot = weights.agg(graft.core.OracleSafe.dSum(col("_w")).as("_tw"))
    val quotas = weights.crossJoin(broadcast(tot))
      .withColumn("_quota",
        least(col("_n"), floor(lit(targetTotal.toDouble) * col("_w") / col("_tw"))
          .cast("long")))
      .select(col(sourceCol), col("_quota"))
    graft.core.Dist.prefixScan(docs, Seq(col(idCol)), lit(1L), Seq(col(idCol)),
        keyNames = Seq(sourceCol))
      .join(broadcast(quotas), Seq(sourceCol))
      .where(col("_scan") <= col("_quota"))
      .drop("_scan", "_quota")
  }

  /** Deterministic train/validation/test split: each document's fraction is
    * the first 8 hex chars of md5(seed ":" id) scaled to [0,1) — stable
    * across engines, partitionings and reruns (a resumed pipeline must never
    * reassign a document), and mirrored verbatim by the SQL oracle. Pure
    * per-row expression: zero shuffle at any corpus size, and the split is
    * reproducible from (seed, id) alone — no stored assignment table. */
  def assignSplit(docs: DataFrame, trainFrac: Double, valFrac: Double,
                  seed: String = "graft", idCol: String = "doc_id"): DataFrame = {
    val frac = graft.core.OracleSafe.hashFraction(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    docs.withColumn("split",
      when(frac < trainFrac, "train")
        .when(frac < trainFrac + valFrac, "validation")
        .otherwise("test"))
  }

  /** PII scrubbing — regex redaction of emails, IPv4 addresses and phone-like
    * digit runs, with per-document redaction counts (the rule-based privacy
    * pass of a pre-training pipeline, C4/Dolma-style). Redactions apply
    * sequentially (email → ip → phone) so an earlier placeholder is never
    * re-matched; counts are per class over the ORIGINAL text. Pure per-row
    * regex builtins — zero shuffle, codegen'd; the patterns stay in the
    * RE2-compatible subset so the DuckDB oracle matches byte-for-byte. */
  def scrubPii(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
    val phone = "\\+?\\d[\\d\\- ]{7,}\\d"
    val t = col("text")
    docs.select(col(idCol),
      regexp_replace(regexp_replace(regexp_replace(t,
        email, "<EMAIL>"), ipv4, "<IP>"), phone, "<PHONE>").as("clean_text"),
      regexp_count(t, lit(email)).as("n_emails"),
      regexp_count(t, lit(ipv4)).as("n_ips"),
      regexp_count(t, lit(phone)).as("n_phones"))
  }

  /** Within-document repetition stats — the Gopher/C4 boilerplate filters:
    * the fraction of duplicated word n-grams and of duplicated words. High
    * values flag spam/boilerplate for the quality gate. Pure per-row
    * builtins (the n-gram list is built and folded inside one projection) —
    * zero shuffle at any corpus size. */
  def repetitionStats(docs: DataFrame, n: Int = 3,
                      idCol: String = "doc_id"): DataFrame = {
    // NULL text behaves like "" (the kernel returns NULL for NULL input
    // where the builtin transform-over-sequence chain produced [""]; here
    // the gram array is consumed UNEXPLODED by dupFrac, so without the
    // coalesce a NULL-text row would flip dup_gram_frac from 0 to NULL)
    val t = coalesce(col("text"), lit(""))
    val toks = wsTokens(lower(trim(t)))
    // codegen'd gram kernel; trim∘lower∘trim ≡ lower∘trim (lowercasing
    // never creates edge whitespace), so values match wsTokens' grams
    val grams = graft.functions.TextExprs.wordNgramsCol(t, n)
    def dupFrac(arr: Column): Column =
      (lit(1.0) - size(array_distinct(arr)).cast(DoubleType)
        / size(arr).cast(DoubleType))
    docs.select(col(idCol),
      size(grams).as("n_grams"),
      dupFrac(grams).as("dup_gram_frac"),
      dupFrac(toks).as("dup_word_frac"))
  }

  /** C4-style LINE-LEVEL cleaning: keep only lines that look like prose —
    * at least `minWords` whitespace words, terminal punctuation, no
    * boilerplate marker phrase (javascript/cookie/policy/lorem-ipsum), no
    * curly brace (code). Returns the cleaned text plus line counts so the
    * doc-level gate can drop documents that lost most of their lines.
    * Pure per-row array builtins (split → filter → join) — zero shuffle,
    * codegen'd; predicates stay in the RE2 subset for the DuckDB mirror. */
  def cleanLines(docs: DataFrame, minWords: Int = 3,
                 idCol: String = "doc_id"): DataFrame = {
    val lines = split(col("text"), "\n")
    def keep(l: Column): Column =
      (size(split(trim(l), "\\s+")) >= minWords) &&
        rtrim(l).rlike("[.!?\"]$") &&
        !lower(l).rlike(BoilerplateRe) &&
        !l.contains("{")
    val kept = filter(lines, keep _)
    docs.select(col(idCol),
      array_join(kept, "\n").as("clean_text"),
      size(lines).cast(LongType).as("n_lines"),
      size(kept).cast(LongType).as("n_kept"))
  }

  /** Boilerplate marker phrases for [[cleanLines]] (C4's blocklist spirit). */
  val BoilerplateRe: String =
    "javascript|cookie|privacy policy|terms of use|lorem ipsum"

  /** Corpus-trained BIGRAM language-model scoring — the CCNet-style
    * perplexity/quality filter: P(w2|w1) with add-one smoothing estimated
    * from the corpus itself, each document scored by its mean bigram
    * log-likelihood (higher = more typical of the corpus; spam and
    * boilerplate score low).
    *
    * Scale shape: ONE hash aggregation over the exploded bigram stream
    * builds the bigram counts (map-side partial combine, shuffle ∝
    * vocabulary size, not corpus size); the unigram counts and the
    * smoothing vocabulary derive from that already-aggregated frame
    * (c1 = Σ c2 over w1; v = distinct w2) — the corpus is scanned exactly
    * twice (model + probe), never once per statistic. Scoring is one hash
    * join from the bigram stream back to the model; the "model" is never
    * collected — it stays a DataFrame joined distributively, so
    * train-then-apply holds at 100 TB (the count tables are the small side
    * and AQE broadcast-joins them while they fit). Only documents with
    * ≥2 tokens appear in the output. The mean folds in decimal
    * (OracleSafe) for cross-engine parity. */
  def lmScore(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    lmScoreAgainst(docs, docs, idCol)

  /** The document's bigram stream: one row per adjacent (w1, w2) pair. */
  private def bigramPairs(docs: DataFrame, idCol: String): DataFrame = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    val nBi = greatest(size(toks) - 1, lit(0))
    docs.select(col(idCol),
        explode(zip_with(
          slice(toks, lit(1), nBi), slice(toks, lit(2), nBi),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("_bg"))
      .select(col(idCol), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
  }

  /** Score `probe` documents under an add-one-smoothed bigram LM trained on
    * `train` (train == probe is the self-trained [[lmScore]]). Bigrams the
    * model never saw take the smoothed floor — LEFT joins with zero
    * coalesce, so a cross-domain probe is penalized, never dropped. Same
    * distributed shape as [[lmScore]]: the model stays a DataFrame, joined
    * by bigram key; vocab is a 1-row broadcast. */
  def lmScoreAgainst(train: DataFrame, probe: DataFrame,
                     idCol: String = "doc_id"): DataFrame = {
    val pairs = bigramPairs(probe, idCol)
    val model = bigramPairs(train, idCol)
    val biCounts = model.groupBy("w1", "w2").agg(count(lit(1)).as("_c2"))
    val uniCounts = biCounts.groupBy("w1").agg(sum(col("_c2")).as("_c1"))
    // the smoothing event space: distinct successor words
    val vocab = biCounts.agg(count_distinct(col("w2")).as("_v"))
    pairs
      .join(biCounts, Seq("w1", "w2"), "left")
      .join(uniCounts, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("_lp",
        log((coalesce(col("_c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("_c1"), lit(0L)) + col("_v"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.core.OracleSafe.dAvg(col("_lp")).as("lm_score"))
  }

  /** DSIR-style IMPORTANCE RESAMPLING (Xie et al. 2023, simplified to the
    * bigram feature space): estimate per-document importance weights
    * exp(log p_target − log p_corpus) from two add-one-smoothed bigram LMs
    * — one trained on the `targetPred` subset (the domain to match), one on
    * the whole corpus — and keep each document independently with
    * probability min(weight, 1) via the portable hash fraction. Documents
    * that look like the target survive; out-of-domain documents keep a
    * smoothed (never zero) chance. `exp` quantizes through DECIMAL(38,9)
    * (transcendental last-ulp discipline) so the keep decision is
    * engine-portable. Documents with <2 tokens have no bigram evidence and
    * are dropped. Two model scans + one probe scan, all joins keyed by
    * bigram or id — no driver action, no unkeyed shuffle. */
  def importanceResample(docs: DataFrame, targetPred: Column,
                         seed: String = "graft",
                         idCol: String = "doc_id"): DataFrame = {
    val Dec = DecimalType(38, 9)
    val tScore = lmScoreAgainst(docs.where(targetPred), docs, idCol)
      .select(col(idCol), col("lm_score").as("_t"))
    val sScore = lmScoreAgainst(docs, docs, idCol)
      .select(col(idCol), col("lm_score").as("_s"))
    val frac = graft.core.OracleSafe.hashFraction(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    tScore.join(sScore, Seq(idCol))
      .withColumn("weight",
        exp(col("_t") - col("_s")).cast(Dec).cast(DoubleType))
      .where(frac < least(col("weight"), lit(1.0)))
      .select(col(idCol), col("weight"))
  }

  /** COLLOCATION extraction by pointwise mutual information over adjacent
    * word pairs: PMI(a,b) = ln(c_ab · N / (cₗ(a) · cᵣ(b))) with N the total
    * bigram count and the marginals taken from the bigram table itself
    * (left-position and right-position counts). The corpus-phrase detector
    * (word2vec's phrase pass, NLTK's collocation finder) as two hash
    * aggregations plus two marginal joins; `minCount` suppresses the
    * low-frequency PMI explosion; ln is DECIMAL(38,9)-quantized so the
    * ranking replays cross-engine. Top `topK` by (pmi desc, pair). */
  def collocations(docs: DataFrame, minCount: Long = 5L, topK: Int = 50,
                   idCol: String = "doc_id"): DataFrame = {
    val pairs = bigramPairs(docs, idCol)
    val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val left = bi.groupBy("w1").agg(sum("c2").as("cl"))
    val right = bi.groupBy("w2").agg(sum("c2").as("cr"))
    val n = bi.agg(sum("c2").as("_n"))
    bi.where(col("c2") >= minCount)
      .join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("pmi",
        // marginal product in DOUBLE: two long marginals can overflow int64
        // at corpus scale under ANSI
        log(col("c2").cast(DoubleType) * col("_n") /
            (col("cl").cast(DoubleType) * col("cr").cast(DoubleType)))
          .cast(DecimalType(38, 9)).cast(DoubleType))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
      .select("w1", "w2", "c2", "pmi")
  }

  /** Corpus-level PERPLEXITY of the self-trained bigram LM — the one-number
    * health readout of [[lmScore]]: ppl = exp(−Σ lp / n) over every bigram
    * token in the corpus. Decimal-quantized fold, exp quantized. */
  def lmPerplexity(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val Dec = DecimalType(38, 9)
    lmScoreAgainst(docs, docs, idCol)
      .agg(sum(col("n_bigrams")).as("n_bigrams"),
        (graft.core.OracleSafe.dSum(col("lm_score") * col("n_bigrams")) /
          sum(col("n_bigrams"))).cast(Dec).cast(DoubleType).as("avg_logprob"))
      .withColumn("perplexity",
        exp(-col("avg_logprob")).cast(Dec).cast(DoubleType))
  }

  /** ZIPF-LAW FIT over the corpus vocabulary: least squares of
    * ln(freq) against ln(rank) (rank = exact frequency rank, ties by
    * token), slope ≈ −1 for natural text — the classic corpus-health
    * diagnostic, computed distributed: the rank is a
    * [[graft.core.Dist.prefixScan]] over the (small) per-token aggregate,
    * the regression moments are decimal-quantized sums, and the closed-form
    * slope/intercept arithmetic is a fixed parenthesization both engines
    * replay bit-for-bit. */
  def zipfFit(docs: DataFrame): DataFrame = {
    val Dec = DecimalType(38, 9)
    val qln: Column => Column =
      x => ln(x).cast(Dec).cast(DoubleType)
    val vocab = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val ord = Seq(col("freq").desc, col("token").asc)
    val xy = graft.core.Dist.prefixScan(vocab, ord, lit(1L), ord)
      .select(qln(col("_scan").cast(DoubleType)).as("_x"),
        qln(col("freq").cast(DoubleType)).as("_y"))
    import graft.core.OracleSafe.dSum
    xy.agg(count(lit(1)).cast(DoubleType).as("_n"),
        dSum(col("_x")).as("_sx"), dSum(col("_y")).as("_sy"),
        dSum((col("_x") * col("_y"))).as("_sxy"),
        dSum((col("_x") * col("_x"))).as("_sxx"))
      .select(col("_n").cast(LongType).as("n_types"),
        ((col("_n") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_n") * col("_sxx") - col("_sx") * col("_sx")))
          .cast(Dec).cast(DoubleType).as("slope"),
        ((col("_sy") - ((col("_n") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_n") * col("_sxx") - col("_sx") * col("_sx"))) * col("_sx")) /
          col("_n")).cast(Dec).cast(DoubleType).as("intercept"))
  }

  /** Distributed BPE MERGE TRAINING (Sennrich et al. 2016, the first
    * `rounds` merge rules): start from characters, repeatedly count adjacent
    * symbol pairs across the corpus (weighted by word frequency) and merge
    * the most frequent pair (ties → lexicographically smallest). Exactly
    * the tokenizer-induction loop of a pre-training pipeline, run as
    * DataFrame plans.
    *
    * Symbol sequences live as unit-separator-joined strings (`chr(31)`,
    * assumed absent from the corpus), so applying a merge is ONE builtin
    * `replace` — whose left-to-right non-overlapping scan is exactly the
    * BPE pass rule ("aaaa" + (a,a) → "aa","aa") and is engine-portable.
    * Per round: one pair-count aggregation over the DISTINCT-word table
    * (bounded by vocabulary, not corpus size), a 1-row broadcast argmax,
    * and a per-row replace — no driver action. The round chain is lazy;
    * at production vocabulary sizes checkpoint between rounds like
    * `clusterPairs`. Returns (round, lhs, rhs, cnt) — one merge rule per
    * round. */
  def bpeMerges(docs: DataFrame, rounds: Int): DataFrame =
    bpeTrain(docs, rounds)._1

  /** The training loop shared by [[bpeMerges]] (the learned rules) and
    * [[bpeTokenize]] (the post-merge segmented word table `(word, freq,
    * _s)`). */
  private def bpeTrain(docs: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, "rounds must be >= 1")
    val US = "\u001f"
    val words = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var st = words.select(col("word"), col("freq"),
      array_join(split(col("word"), ""), US).as("_s"))
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val arr = split(col("_s"), US)
      val pairs = st
        .select(col("freq"), explode(zip_with(
          slice(arr, lit(1), size(arr) - 1),
          slice(arr, lit(2), size(arr) - 1),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("_p"))
        .groupBy(col("_p.lhs").as("lhs"), col("_p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1)
        .select(col("lhs").as("_ml"), col("rhs").as("_mr"), col("cnt").as("_mc"))
      st = st.crossJoin(broadcast(top))
        .withColumn("_s", expr(
          "replace(_s, concat(_ml, chr(31), _mr), concat(_ml, _mr))"))
        .drop("_ml", "_mr", "_mc")
      val rule = top.select(lit(r).as("round"), col("_ml").as("lhs"),
        col("_mr").as("rhs"), col("_mc").as("cnt"))
      merges = if (merges == null) rule else merges.unionByName(rule)
    }
    (merges, st)
  }

  /** APPLY the learned BPE merges: per-document token counts under the
    * `rounds`-rule vocabulary (the compression-ratio readout of tokenizer
    * training). Segmented forms are computed ONCE per distinct word and
    * joined back to the document word stream — the corpus text is never
    * re-segmented per occurrence. Returns (idCol, n_words, n_bpe). */
  def bpeTokenize(docs: DataFrame, rounds: Int,
                  idCol: String = "doc_id"): DataFrame = {
    val US = "\u001f"
    val seg = bpeTrain(docs, rounds)._2
      .select(col("word"),
        size(split(col("_s"), US)).cast(LongType).as("_nsym"))
    docs.select(col(idCol),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .join(seg, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_nsym")).as("n_bpe"))
  }

  /** [[rakeKeywords]]' stopword-split phrase member rows, persisted per
    * (corpus plan, idCol) on the session ledger. */
  private val rakeIslands = graft.core.Memo.frames[String]

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are the
    * maximal stopword-free token runs of each document; a word's score is
    * degree/frequency over those phrases (degree = the summed length of
    * every phrase containing it — co-occurrence weight favoring words that
    * live in long multi-word terms); a phrase scores the sum of its words.
    * Per-document and corpus-stat-free — the complement of TF-IDF (which
    * needs global document frequencies) for keyword/term mining.
    *
    * Distributed shape: one running-count window per document partition
    * (island ids for the stopword-split runs), then three doc-keyed
    * hash aggregations — nothing corpus-global, skew bounded by the
    * longest document. Determinism: word scores floor-quantize to integer
    * nanos before the phrase sum (partition-order-free), ranks tie-break
    * on the phrase text. Duplicate phrase instances in one document count
    * toward word stats (standard RAKE) and emit one output row. */
  def rakeKeywords(docs: DataFrame, topK: Int,
                   idCol: String = "doc_id"): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val toks = docs.select(col(idCol),
        posexplode(wsTokens(lower(col("text")))).as(Seq("_pos", "_w")))
      .where(length(col("_w")) > 0)
      .withColumn("_st", when(col("_w").isin(Stopwords: _*), 1L).otherwise(0L))
    val wRun = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // phrase member rows feed phrases, word stats AND phrase scores —
    // materialize once per corpus (it re-tokenizes per consumer otherwise)
    val isl = rakeIslands(docs, idCol)(toks.withColumn("_g", sum(col("_st")).over(wRun))
      .where(col("_st") === 0)
      .select(col(idCol), col("_g"), col("_pos"), col("_w")))
    val ph = isl.groupBy(col(idCol), col("_g"))
      .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("_pos"), col("_w")))),
            s => s.getField("_w"))).as("phrase"),
        count(lit(1)).as("n_words"))
    val wstat = isl
      .join(ph.select(col(idCol), col("_g"), col("n_words").as("_plen")),
        Seq(idCol, "_g"))
      .groupBy(col(idCol), col("_w"))
      .agg(count(lit(1)).as("_freq"), sum(col("_plen")).as("_deg"))
      .withColumn("_snano",
        floor(col("_deg").cast(DoubleType) / col("_freq") * lit(1e9))
          .cast(LongType))
    val psc = isl
      .join(wstat.select(col(idCol), col("_w"), col("_snano")), Seq(idCol, "_w"))
      .groupBy(col(idCol), col("_g"))
      .agg(sum(col("_snano")).as("_nano"))
    val pd = ph.join(psc, Seq(idCol, "_g"))
      .select(col(idCol), col("phrase"), col("n_words"),
        (col("_nano").cast(DoubleType) / lit(1e9)).as("score"))
      .distinct()
    graft.core.Dist.topK(pd, Seq(col("score").desc, col("phrase").asc), topK,
      Seq(col(idCol)), "rnk")
  }

  val Stopwords = Seq(
    "the", "a", "an", "of", "to", "in", "and", "or", "is", "are", "was", "for",
    "on", "with", "as", "by", "at", "it", "this", "that", "be", "from")

  /** Quality scoring: length / punctuation / stopword-ratio heuristics
    * (the usual C4/Gopher-style filters). */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast(DoubleType)
    val stopHits = size(filter(toks, t => t.isin(Stopwords: _*))).cast(DoubleType)
    val punct = length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast(DoubleType)
    docs
      .withColumn("n_chars_m", length(col("text")).cast(LongType))
      .withColumn("n_tokens", nTok.cast(LongType))
      .withColumn("stopword_ratio", stopHits / nTok)
      // empty text (possible after span removal empties a document) must
      // score 0.0, not throw: ANSI division by a zero length is an error,
      // and this ratio column is materialized for every row regardless of
      // the quality CASE's short-circuit
      .withColumn("punct_ratio",
        when(length(col("text")) > 0,
          punct / length(col("text")).cast(DoubleType)).otherwise(lit(0.0)))
      .withColumn("mean_word_len",
        length(regexp_replace(col("text"), "\\s+", "")).cast(DoubleType) / nTok)
      .withColumn("quality",
        when(col("n_chars_m") < 10, 0.0).otherwise(
          least(lit(1.0), col("n_chars_m") / lit(500.0)) * lit(0.4)
            + least(lit(1.0), col("stopword_ratio") * lit(5.0)) * lit(0.4)
            + (lit(1.0) - least(lit(1.0), col("punct_ratio") * lit(4.0))) * lit(0.2)))
  }

  /** SQL list literal of the stopwords, for the DuckDB oracle. */
  def StopwordsSql: String = Stopwords.map(w => s"'$w'").mkString(", ")

  /** The Gopher rules' "essential English words" — a document must contain
    * at least two DISTINCT ones to pass the stop-word rule. */
  val GopherEssential: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021, appendix A — the
    * text-only subset, thresholds adapted to the short synthetic corpus):
    * hard bounds on word count and mean word length, a symbol-to-word ratio
    * cap (# and …), bullet-start / ellipsis-end line-fraction caps, an
    * alphabetic-word floor and a minimum distinct-essential-word presence.
    * Each rule emits its own flag column — a pipeline wants to know WHY a
    * document dropped, and the flags aggregate into per-rule drop rates for
    * corpus dashboards — with `gopher_pass` as the conjunction. Pure per-row
    * column expressions: no UDF, no shuffle, scan-parallel at any corpus
    * size. */
  def gopherRules(docs: DataFrame, minWords: Int = 20,
                  maxWords: Int = 100000,
                  essential: Seq[String] = GopherEssential): DataFrame = {
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast(DoubleType)
    val lines = split(col("text"), "\n")
    val nLines = size(lines).cast(DoubleType)
    def occurrences(pat: String, widthDiv: Int): Column =
      ((length(col("text")) - length(regexp_replace(col("text"), pat, "")))
        / widthDiv).cast(DoubleType)
    val symbols = occurrences("#", 1) + occurrences("\\.\\.\\.", 3)
    val bulletLines = size(filter(lines, l => ltrim(l).rlike("^[•*-]")))
      .cast(DoubleType)
    val ellipsisLines = size(filter(lines, l => rtrim(l).endsWith("...")))
      .cast(DoubleType)
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast(DoubleType)
    val essentialHits = size(array_intersect(
      transform(toks, t => lower(t)),
      array(essential.map(lit): _*)))
    // Every flag coalesces to false: null text (or any degenerate input that
    // nulls a ratio via divide-by-zero) must deterministically FAIL a rule,
    // never produce a null flag — a null gopher_pass would slip past both
    // where(gopher_pass) and where(!gopher_pass), so n_docs would stop
    // equaling pass + attributable drops in the rate dashboard.
    def rule(c: Column): Column = coalesce(c, lit(false))
    docs
      .withColumn("r_word_count",
        rule(size(toks) >= minWords && size(toks) <= maxWords))
      .withColumn("r_mean_word_len",
        rule((length(regexp_replace(col("text"), "\\s+", "")).cast(DoubleType) / nTok)
          .between(3.0, 10.0)))
      .withColumn("r_symbol_ratio", rule(symbols / nTok <= 0.1))
      .withColumn("r_bullet_lines", rule(bulletLines / nLines <= 0.9))
      .withColumn("r_ellipsis_lines", rule(ellipsisLines / nLines <= 0.3))
      .withColumn("r_alpha_words", rule(alphaWords / nTok >= 0.8))
      .withColumn("r_essential_words", rule(essentialHits >= 2))
      .withColumn("gopher_pass",
        col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
          col("r_bullet_lines") && col("r_ellipsis_lines") &&
          col("r_alpha_words") && col("r_essential_words"))
  }

  /** Per-language marker words for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "value", "table", "row"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "es", "un"))

  /** LangMarkers as (lang, SQL word-list literal) for the DuckDB oracle. */
  def LangMarkersSql: Seq[(String, String)] =
    LangMarkers.map { case (l, ws) => l -> ws.map(w => s"'$w'").mkString(", ") }

  /** Language ID: count marker-word hits per language, pick the argmax by
    * (hits, lang) tuple order (no hits → "und"). */
  def languageId(docs: DataFrame): DataFrame = {
    val toks = wsTokens(lower(col("text")))
    val scored = LangMarkers.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("hits"), lit(lang).as("lang"))
    }
    // argmax by (hits, reverse insertion order): array_max on struct compares fieldwise
    val best = greatest(scored: _*)
    docs
      .withColumn("lang_hits", best.getField("hits"))
      .withColumn("lang_guess",
        when(best.getField("hits") > 0, best.getField("lang")).otherwise("und"))
  }

  /** Document fingerprint: polynomial rolling hash (base 31, mod 1e9+7) over
    * the normalized text (whitespace-collapsed, lowercased) — deterministic,
    * overflow-free under ANSI mode, and SQL-replicable. */
  def fingerprint(docs: DataFrame): DataFrame = {
    // codegen'd kernel (graft.functions.PolyHash) — value-identical to the
    // per-character aggregate fold it replaced (TextExprsSpec)
    val norm = lower(regexp_replace(col("text"), "\\s+", " "))
    docs.withColumn("fingerprint", graft.functions.TextExprs.polyHashCol(norm))
  }

  /** Deterministic seeded GLOBAL SHUFFLE into training shards: every
    * document gets a shard (its portable 32-bit hash mod `numShards` —
    * near-uniform shard sizes at any scale) and a dense 0-based position
    * within that shard in hash order (the shuffled read order an epoch
    * iterates). Reshuffling is a seed change, not a data move decision; the
    * assignment is reproducible across runs, partitionings and engines.
    *
    * Distributed shape: the hash is a per-row expression; the within-shard
    * position is [[graft.core.Dist.prefixScan]] grouped by shard over
    * (hash, id) — never a single-partition window, so an epoch-shuffle of a
    * 100 TB corpus is two shuffles (range partition + the tiny offset
    * broadcast), both bounded by the data, not the driver. */
  def shuffleShards(docs: DataFrame, numShards: Int, seed: String = "graft",
                    idCol: String = "doc_id"): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    val h = graft.core.OracleSafe.hashLong(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val keyed = docs.withColumn("_h", h)
      .withColumn("shard", (col("_h") % numShards).cast(IntegerType))
    val ord = Seq(col("_h").asc, col(idCol).asc)
    graft.core.Dist.prefixScan(keyed, ord, lit(1L), ord, Seq("shard"))
      .withColumn("pos", col("_scan") - 1)
      .drop("_h", "_scan")
  }

  /** STRATIFIED hash-rate sampling: keep each document independently with
    * its source's configured rate (sources absent from `rates` are
    * dropped). The per-domain downsampling step of corpus construction
    * when exact quotas ([[mixSources]]) are too rigid — rate-based keeps
    * compose across snapshots (a document's keep decision never changes as
    * the corpus grows) and need no counting pass at all: one stateless
    * per-row hash comparison, zero shuffle, any scale. */
  def sampleStratified(docs: DataFrame, rates: Map[String, Double],
                       seed: String = "graft", idCol: String = "doc_id",
                       sourceCol: String = "source"): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    val frac = graft.core.OracleSafe.hashFraction(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(null).cast(DoubleType)) {
      case (acc, (s, r)) => when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    docs.where(frac < rate)
  }

  /** EXACT-k per-group sample: each group keeps exactly min(k, |group|)
    * members, chosen by seeded portable-hash rank — the balanced-subset
    * cut (per-language eval sets, per-source audit samples) where
    * rate-based sampling ([[sampleStratified]]) can only hit k in
    * expectation. Deterministic and replayable: same seed → same sample on
    * any engine; a NEW member changes a group's sample only if it hash-
    * ranks inside the top k. One window per group partition, nothing
    * global. */
  def sampleExactKPerGroup(docs: DataFrame, k: Int, seed: String = "graft",
                           idCol: String = "doc_id",
                           groupCol: String = "source"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val h = graft.core.OracleSafe.hashLong(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    graft.core.Dist.topK(docs.withColumn("_h", h),
        Seq(col("_h").asc, col(idCol).asc), k, Seq(col(groupCol)))
      .drop("_h", "_rn")
  }

  /** WEIGHTED sampling WITHOUT replacement (Efraimidis–Spirakis by
    * exponential keys): the k survivors are distributed exactly as k
    * sequential weighted draws, each without replacement — keyᵢ =
    * −ln(1−uᵢ)/wᵢ with uᵢ the portable hash fraction of (seed, id), keep
    * the k SMALLEST keys. This is how a quality-weighted subcorpus is cut
    * when independent rate sampling ([[sampleStratified]]) can't hit a
    * size target and unweighted top-k would ignore quality entirely.
    *
    * Cross-engine determinism: ln is the one transcendental, and the
    * RANKED value must not ride a raw double (last-ulp ln divergence could
    * reorder the boundary), so the sort key is floor(key·1e9) — one floor,
    * identical in both engines — with `idCol` breaking ties. Zero/negative
    * weights are excluded up front (they can never be drawn; keeping them
    * would divide by zero under ANSI).
    *
    * Distributed shape: a per-row key then [[graft.core.Dist.topK]] — a
    * distributed TakeOrdered (each partition keeps its k smallest keys, one
    * task merges them); nothing global ever sorts the corpus. Output: the
    * surviving rows + `rnk` (1-based draw order, BIGINT). */
  def sampleWeighted(docs: DataFrame, k: Int, weightCol: Column,
                     seed: String = "graft",
                     idCol: String = "doc_id"): DataFrame = {
    val u = graft.core.OracleSafe.hashFraction(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val key = -log(lit(1.0) - u) / weightCol.cast(DoubleType)
    val keyed = docs.where(weightCol > 0)
      .withColumn("_sk", floor(key * lit(1e9)).cast(LongType))
    graft.core.Dist.topK(keyed, Seq(col("_sk").asc, col(idCol).asc), k, rankCol = "rnk")
      .withColumn("rnk", col("rnk").cast(LongType)).drop("_sk")
  }

  /** Sliding-window OVERLAP CHUNKING (the RAG/embedding-index splitter):
    * cut each document's whitespace-token stream into chunks of
    * `sizeTokens` advancing by `sizeTokens - overlapTokens`, the final
    * chunk being the first one whose window reaches the document's end
    * (shorter than `sizeTokens` when the tail is short — never an extra
    * chunk fully contained in the previous one). Unlike [[chunkSequences]]
    * documents never split across chunks and consecutive chunks share
    * `overlapTokens` tokens of context.
    *
    * Pure per-row arithmetic: chunk count and slices are expressions over
    * the token array, exploded to one row per chunk — zero shuffle, no
    * window, a document's fan-out bounded by its own length. */
  def chunkOverlap(docs: DataFrame, sizeTokens: Int, overlapTokens: Int,
                   idCol: String = "doc_id"): DataFrame = {
    require(sizeTokens >= 1, "sizeTokens must be >= 1")
    require(overlapTokens >= 0 && overlapTokens < sizeTokens,
      "overlapTokens must be in [0, sizeTokens)")
    val stride = sizeTokens - overlapTokens
    docs.withColumn("_toks", wsTokens(col("text")))
      .withColumn("n_tokens", size(col("_toks")).cast(LongType))
      .where(col("n_tokens") > 0)
      // last chunk index: first i with i*stride + size >= n (0 when n <= size)
      .withColumn("chunk_id", explode(sequence(lit(0L),
        when(col("n_tokens") <= sizeTokens, lit(0L))
          .otherwise(expr(s"(n_tokens - $sizeTokens + $stride - 1) DIV $stride")))))
      .withColumn("tok_start", col("chunk_id") * stride)
      .withColumn("n_chunk_tokens",
        least(lit(sizeTokens.toLong), col("n_tokens") - col("tok_start")))
      .withColumn("chunk_text",
        concat_ws(" ", slice(col("_toks"),
          (col("tok_start") + 1).cast(IntegerType), lit(sizeTokens))))
      .select(col(idCol), col("chunk_id"), col("tok_start"),
        col("n_chunk_tokens"), col("chunk_text"))
  }

  /** Multinomial NAIVE BAYES classifier, trained distributed and scored
    * in the same plan — the classic fasttext-shaped quality/language/topic
    * gate of a pre-training pipeline, here with the corpus's own labels as
    * supervision. Laplace-smoothed:
    *
    *   score(d, c) = ln(N_c / N)
    *               + Σ_{t ∈ d} tf_dt · ln(cnt_tc + 1)
    *               − len_d · ln(T_c + V)
    *
    * (the Σ needs only OBSERVED (t, c) pairs — an unseen pair's smoothed
    * numerator is cnt+1 = 1 whose ln is 0). Predicted class = argmax, ties
    * to the lexicographically smallest class.
    *
    * Distributed shape: token↔class-count join shuffles on token, the
    * per-(doc, class) reduction shuffles on the doc id, and the class
    * table (priors, totals, vocab size — rows = #classes) rides a
    * broadcast; no driver action, no per-class scan of the corpus. Every
    * ln is quantized through DECIMAL(38,9) BEFORE entering products/sums so
    * scores and the argmax reproduce bit-for-bit across engines (JVM and
    * libm ln disagree in the last ulp on some inputs). */
  def naiveBayes(docs: DataFrame, classCol: String = "lang",
                 idCol: String = "doc_id"): DataFrame = {
    val qln: Column => Column =
      x => ln(x).cast(DecimalType(38, 9)).cast(DoubleType)
    val toks = docs.select(col(idCol), col(classCol).as("_cls"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .where(length(col("token")) > 0)
    val tf = toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val counts = toks.groupBy(col("_cls"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    // class table: priors and smoothing denominators; N and V are 1-row
    // broadcast folds, never driver actions
    val nDocs = docs.agg(count(lit(1)).as("_n"))
    val vocab = counts.select("token").distinct()
      .agg(count(lit(1)).as("_v"))
    val classes = docs.groupBy(col(classCol).as("_cls"))
      .agg(count(lit(1)).as("_ndc"))
      .crossJoin(nDocs).crossJoin(vocab)
      .join(counts.groupBy("_cls").agg(sum("cnt").as("_tc")), Seq("_cls"))
      .withColumn("_prior", qln(col("_ndc").cast(DoubleType) / col("_n")))
      .withColumn("_denom", qln((col("_tc") + col("_v")).cast(DoubleType)))
      .select("_cls", "_prior", "_denom")
    val termSums = tf.join(counts, Seq("token"))
      .groupBy(col(idCol), col("_cls"))
      .agg(graft.core.OracleSafe.dSum(col("tf") * qln(col("cnt") + 1))
        .as("_tsum"))
    val docLen = tf.groupBy(col(idCol)).agg(sum("tf").as("_len"))
    val scored = docLen.crossJoin(broadcast(classes))
      .join(termSums, Seq(idCol, "_cls"), "left")
      .withColumn("score",
        (col("_prior") + coalesce(col("_tsum"), lit(0.0)) -
          col("_len") * col("_denom"))
          .cast(DecimalType(38, 9)).cast(DoubleType))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("_cls").asc)
    scored.withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
      .select(col(idCol), col("_cls").as("predicted"), col("score"))
  }

  /** OUT-OF-VOCABULARY rate of a new corpus against a reference crawl's
    * vocabulary — the drift/coverage check run before pointing a trained
    * tokenizer or LM at fresh data: vocabulary = reference tokens with
    * frequency ≥ `minFreq`, then per-source token OOV fraction on the new
    * corpus. Integer counts and ONE division per source, so the oracle
    * replays exactly.
    *
    * Scale shape: two token aggregations plus one anti join on the token
    * key; nothing is collected and the vocabulary never leaves the
    * cluster. Output (sourceCol, n_tokens, n_oov, oov_rate). */
  def oovRate(reference: DataFrame, fresh: DataFrame, minFreq: Long = 3,
              bigrams: Boolean = false,
              sourceCol: String = "source"): DataFrame = {
    def toks(df: DataFrame) =
      if (bigrams)
        bigramPairs(df, sourceCol).select(col(sourceCol),
          concat_ws(" ", col("w1"), col("w2")).as("token"))
      else df
        .select(col(sourceCol),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
    val vocab = toks(reference).groupBy("token")
      .agg(count(lit(1)).as("_f")).where(col("_f") >= minFreq)
      .select("token")
    val t = toks(fresh)
    val tot = t.groupBy(sourceCol).agg(count(lit(1)).as("n_tokens"))
    val oov = t.join(vocab, Seq("token"), "left_anti")
      .groupBy(sourceCol).agg(count(lit(1)).as("n_oov"))
    tot.join(oov, Seq(sourceCol), "left")
      .na.fill(0L, Seq("n_oov"))
      .select(col(sourceCol), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast(DoubleType) / col("n_tokens")).as("oov_rate"))
  }

  /** Binary LOGISTIC-REGRESSION classifier trained by full-batch gradient
    * descent, entirely inside the plan — the trained-on-features
    * complement to the word-count [[naiveBayes]] (the shape of a
    * fastText-style quality filter: small dense features, linear model,
    * one pass per iteration). Features are exact integer-derived ratios
    * (bias, token count, type-token ratio, mean token length); each
    * iteration is ONE corpus aggregate: zᵢ = w·xᵢ (fixed-order sum),
    * pᵢ = σ(zᵢ), and the gradient Σ(pᵢ−yᵢ)xᵢⱼ accumulated as
    * floor(·1e9) BIGINTs — the one transcendental (exp) is quantized
    * through the floor before any cross-row sum, so the weight path
    * reproduces bit for bit cross-engine. Weights ride 1-row broadcasts;
    * no driver action anywhere.
    *
    * Scale shape: `iters` passes over the corpus, each a map + one
    * 4-long aggregate — gradient descent at 100 TB is exactly as
    * expensive as `iters` scans, nothing else shuffles.
    * Output 1 row: (w0..w3, acc) — final weights and training accuracy. */
  def logisticRegression(docs: DataFrame, iters: Int = 2, lr: Double = 1.0,
                         positiveLang: String = "en"): DataFrame = {
    val toksE = split(trim(col("text")), "\\s+")
    val feat = docs
      .select(
        when(col("lang") === positiveLang, lit(1.0)).otherwise(lit(0.0))
          .as("y"),
        size(toksE).cast(DoubleType).as("_nt"),
        size(array_distinct(toksE)).cast(DoubleType).as("_dt"),
        col("n_chars").cast(DoubleType).as("_nc"))
      .where(col("_nt") > 0)
      .select(col("y"), lit(1.0).as("x0"), (col("_nt") / 32.0).as("x1"),
        (col("_dt") / col("_nt")).as("x2"),
        (col("_nc") / col("_nt") / 8.0).as("x3"))
    logisticRegressionOn(feat, iters, lr)
  }

  /** The gradient-descent core of [[logisticRegression]] over an already-
    * built feature frame `(y, x0..x3)` — exposed so specs (and other
    * feature sets) can drive the same trainer. */
  def logisticRegressionOn(feat: DataFrame, iters: Int,
                           lr: Double): DataFrame = {
    def z: Column =
      col("w0") * col("x0") + col("w1") * col("x1") +
        col("w2") * col("x2") + col("w3") * col("x3")
    // the weight frame re-enters its own next-iteration plan TWICE (the
    // gradient aggregate and the update), so an unchecked loop doubles the
    // lineage per round — localCheckpoint the 1-row state each iteration
    // (the clusterPairs discipline) and free the previous round's blocks
    var w = feat.sparkSession.range(1).select(
      (0 to 3).map(j => lit(0.0).as(s"w$j")): _*)
    for (_ <- 1 to iters) {
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val gCols = (0 to 3).map(j =>
        sum(floor((p - col("y")) * col(s"x$j") * lit(1e9))
          .cast(LongType)).as(s"_g$j")) :+ count(lit(1)).as("_n")
      val grads = feat.crossJoin(broadcast(w)).agg(gCols.head, gCols.tail: _*)
      val prev = w
      w = grads.crossJoin(broadcast(w)).select(
        (0 to 3).map(j => (col(s"w$j") -
          lit(lr) * (col(s"_g$j").cast(DoubleType) / lit(1e9) / col("_n")))
          .as(s"w$j")): _*)
        .localCheckpoint(true)
      graft.core.Dist.freeLocalCheckpoint(prev)
    }
    val acc = feat.crossJoin(broadcast(w)).agg(
      sum(when((z > 0) === (col("y") === 1.0), lit(1L)).otherwise(lit(0L)))
        .as("_c"),
      count(lit(1)).as("_n"))
    w.crossJoin(broadcast(acc)).select(
      (0 to 3).map(j => col(s"w$j")) :+
        (col("_c").cast(DoubleType) / col("_n")).as("acc"): _*)
  }

  /** Per-document CHARACTER ENTROPY H = −Σ p·ln p over the raw character
    * distribution — the compression-style quality signal (gibberish and
    * boilerplate sit at the distribution's extremes). Computed in integer
    * units: per (doc, char), `cnt · floor(ln(cnt/n)·1e9)` — the BM25
    * floored-ln discipline, so the single transcendental is quantized once
    * and every sum is exact integer arithmetic; the result is two double
    * divisions at the end. Output `(idCol, n_chars, entropy)`.
    *
    * Distributed shape: the explode is per-character but collapses
    * immediately into the per-(doc, char) count — the shuffle carries at
    * most |alphabet| rows per doc, not the text. */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val chars = docs
      .select(col(idCol), length(col(textCol)).cast(LongType).as("_n"),
        col(textCol).as("_txt"))
      .where(col("_n") > 0)
      .select(col(idCol), col("_n"),
        explode(sequence(lit(1), col("_n").cast("int"))).as("_i"), col("_txt"))
      .select(col(idCol), col("_n"),
        expr("substring(_txt, _i, 1)").as("_ch"))
    chars.groupBy(col(idCol), col("_n"), col("_ch"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_lnU",
        floor(log(col("_c").cast(DoubleType) / col("_n")) * lit(1e9))
          .cast(LongType))
      .groupBy(col(idCol), col("_n"))
      .agg(sum(col("_c") * col("_lnU")).as("_units"))
      .select(col(idCol), col("_n").as("n_chars"),
        ((-col("_units")).cast(DoubleType) / col("_n") / lit(1e9))
          .as("entropy"))
  }
}
