package graft

import graft.pipelines.{Dedup, Multimodal, Similarity, TextAnalysis, Vectors}
import org.apache.spark.sql.functions._

/** Unit specs for the training-data pipeline operators. */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s", 43L),
    (1L, "the quick brown fox jumps over the lazy cat", "en", "s", 43L),  // near-dup of 0
    (2L, "the quick brown fox jumps over the lazy dog", "en", "s", 43L),  // exact dup of 0
    (3L, "completely different text about spark engines and parquet files", "en", "s", 63L),
    (4L, "der hund und die katze sind nicht ein tier das ist", "de", "s", 50L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup keeps first doc per distinct text") {
    val kept = Dedup.exact(docs, Seq("text")).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 3L, 4L))
  }

  test("ngram jaccard finds near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)))   // identical
    assert(pairs.contains((0L, 1L)))   // one word differs
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prefix-filtered exact join equals brute force over every pair") {
    // 5 shifted groups: docs at word-shift distance d share 10-d of their
    // 10 shingles (J = (10-d)/(10+d): d=0..3 pass 0.5, d=4 fails), plus an
    // empty doc (no shingles) and two one-word docs (whole-text shingle).
    val corpus = (0L until 40L).map { i =>
      (i, (0 until 12).map(j => s"w${j + (i % 5)}").mkString(" "))
    } ++ Seq((40L, ""), (41L, "w3"), (42L, "w3"))
    val df = corpus.toDF("doc_id", "text")
    def shingleSet(text: String): Set[String] = {
      val toks = text.trim.toLowerCase.split("\\s+").toSeq
      (0 to math.max(toks.length - 3, 0))
        .map(i => toks.slice(i, i + 3).mkString(" ")).filter(_.nonEmpty).toSet
    }
    val sets = corpus.map { case (i, t) => i -> shingleSet(t) }.toMap
    val ids = corpus.map(_._1)
    val expected = (for {
      a <- ids; b <- ids if a < b
      inter = (sets(a) & sets(b)).size
      if inter > 0
      j = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if j >= 0.5
    } yield (a, b, j)).toSet
    val got = Dedup.prefixJaccardPairs(df, n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.nonEmpty && got == expected)
  }

  test("minhash LSH recovers the same near-dups") {
    val pairs = Dedup.minhashLshPairs(docs, shingleN = 2, numHashes = 32, bands = 16,
      threshold = 0.5)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)))
  }

  test("portable minhash/simhash are layout-invariant and structurally sound") {
    // the hash family's whole point is bit-determinism: the signature
    // must not depend on partitioning, and the end-to-end LSH pair set must
    // only ever emit verified pairs (jaccard >= threshold)
    val sig1 = Dedup.minhashSignatures(docs, shingleN = 2, numHashes = 8)
      .orderBy("doc_id").collect().map(_.toSeq)
    val sig2 = Dedup.minhashSignatures(docs.repartition(7), shingleN = 2, numHashes = 8)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(sig1.toSeq == sig2.toSeq)
    // identical docs share the full signature; near-dups share some mins
    val byId = sig1.map(r => r.head -> r.tail).toMap
    assert(byId(0L) == byId(2L))
    val pairs = Dedup.minhashLshPairs(docs, shingleN = 2, numHashes = 16,
        bands = 8, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(pairs.map(_._1).contains((0L, 2L)))
    assert(pairs.forall(_._2 >= 0.5))
    val sim = Dedup.simhashBuckets(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sim2 = Dedup.simhashBuckets(docs.repartition(5)).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sim.toSeq == sim2.toSeq)
    assert(sim.forall { case (_, h, b) => h >= 0L && h < (1L << 32) && b == (h >>> 24) })
    assert(sim.find(_._1 == 0L).map(_._2) == sim.find(_._1 == 2L).map(_._2))
  }

  test("banded sign-LSH recovers planted near-duplicates") {
    // 40 random base vectors plus a jittered copy of each (cosine ≥ ~0.98):
    // the regime sign-LSH is built for. With 4 bands × 12 planes the
    // per-pair candidate probability is ~1-(1-s^12)^4 ≈ 0.9 at s≈0.94;
    // fixed data + fixed plane seeds make the outcome deterministic.
    val rnd = new scala.util.Random(42)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows = (0 until 40).flatMap { i =>
      val base = vec()
      val jitter = base.map(v => v + 0.05f * rnd.nextGaussian().toFloat)
      Seq((i.toLong, base), (i.toLong + 1000L, jitter))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, cosineThreshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 40).map(i => (i.toLong, i.toLong + 1000L)).toSet
    val recall = planted.count(pairs.contains).toDouble / planted.size
    assert(recall >= 0.8, s"planted near-dup recall $recall below 0.8: found ${pairs.size}")
  }

  test("connected components fold a path and pick the min label") {
    // path 1-2-3-4-5 (diameter 4: exercises multi-round pointer jumping),
    // pair 10-11, and an isolated edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (20L, 21L))
      .toDF("doc_id_a", "doc_id_b")
    val out = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("local contraction composes with the boundary loop across partitions") {
    // a 200-link path scattered over 13 partitions: the per-partition
    // union-find collapses local runs to stars, and the distributed loop
    // must stitch the partition-crossing roots back into one component —
    // the exact composition the contraction fast path relies on
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
      .repartition(13)
    val expected = (0L to 200L).map(i => (i, 0L)).toSet
    val on = Dedup.clusterPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(on == expected)
    val off = Dedup.clusterPairs(pairs, localContract = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(off == expected)
  }

  test("clusterPairs fails loudly when maxIters can't reach the fixpoint") {
    // a 40-link path can't converge in one round of the raw loop; silent
    // non-fixpoint labels would mislabel components downstream
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.clusterPairs(pairs, maxIters = 1, localContract = false).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("half-null pairs still register their non-null endpoint") {
    // no pipeline emits null ids, but the contract is every node that
    // appears in a pair: the null side is dropped, the other survives as
    // a singleton component
    val pairs = Seq((Some(5L), None), (None, Some(7L)), (Some(1L), Some(2L)))
      .toDF("doc_id_a", "doc_id_b")
    val expected = Set(5L -> 5L, 7L -> 7L, 1L -> 1L, 2L -> 1L)
    val out = Dedup.clusterPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == expected, s"$out")
    // the fallback loop must agree — no null-keyed label row either
    val rowsOff = Dedup.clusterPairs(pairs, localContract = false).collect()
    assert(rowsOff.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    assert(rowsOff.map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
  }

  test("clusterPairs string ids pick the min in UTF-8 byte order") {
    // the local union-find must order strings exactly like Spark's min/least
    // (UTF8String binary order): 'Z' < 'a' < 'b' < 'é' by UTF-8 bytes
    val pairs = Seq(("b", "é"), ("é", "a"), ("Z", "b"))
      .toDF("doc_id_a", "doc_id_b").repartition(3)
    val out = Dedup.clusterPairs(pairs).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set("a" -> "Z", "b" -> "Z", "Z" -> "Z", "é" -> "Z"), s"$out")
  }

  test("clusterPairs with a reliable checkpointDir yields identical clusters") {
    // the durable mode (reliable checkpoint per round, for preemptible
    // clusters where localCheckpoint's executor-local blocks would die with
    // a lost executor) must be a pure materialization-strategy swap: same
    // labels, and superseded rounds' checkpoint files deleted as it runs
    val dir = tempDir("ckpt").toFile
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_id_a", "doc_id_b")
    val local = Dedup.clusterPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val durable = Dedup.clusterPairs(pairs, checkpointDir = Some(dir.getAbsolutePath))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(durable == local)
    // every superseded round was freed; only the final round's files remain
    def rddDirs(f: java.io.File): Seq[java.io.File] =
      if (!f.isDirectory) Nil
      else if (f.getName.startsWith("rdd-")) Seq(f)
      else f.listFiles().toSeq.flatMap(rddDirs)
    assert(rddDirs(dir).size <= 1,
      s"superseded checkpoint rounds not cleaned: ${rddDirs(dir)}")
  }

  test("keepCanonical drops all but one doc per cluster") {
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_id_a", "doc_id_b")
    val kept = Dedup.keepCanonical(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }

  test("keepCentral picks the hub of a star, not the lowest id") {
    // star: 5 is connected to 1,2,3 — PageRank makes the hub the survivor
    // even though keepCanonical would pick 1; 4 is a singleton and survives
    val docs = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("doc_id_a", "doc_id_b")
    val kept = Dedup.keepCentral(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(4L, 5L))
  }

  test("clusterGraphStats counts triangles once and computes density") {
    // cluster A: triangle {1,2,3} plus pendant 4 — 4 nodes, 4 edges, 1 tri,
    // density 4/6; cluster B: a bare edge {7,8} — density 1, no triangle
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (7L, 8L))
      .toDF("doc_id_a", "doc_id_b")
    val out = Dedup.clusterGraphStats(pairs).orderBy("cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    // density is DECIMAL(38,9)-quantized (the cross-engine discipline)
    assert(out == Seq(
      (1L, 4L, 4L, 1L, 0.666666667),
      (7L, 2L, 1L, 0L, 1.0)))
  }

  test("keepCentral is partition-invariant and ties break to the lowest id") {
    val docs = (1L to 4L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // symmetric pair: 1-2 have identical rank -> 1 survives
    val pairs = Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b")
    val a = Dedup.keepCentral(docs.repartition(1), pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    val b = Dedup.keepCentral(docs.repartition(7), pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b && a == Seq(1L, 3L, 4L))
  }

  test("dedupIncremental: existing wins, within-incoming resolves first-wins") {
    // existing = {0}; incoming = {1 (near-dup of 0), 2 (exact dup of 0),
    // 3, 4 (unrelated)} → 1 and 2 drop against the existing corpus
    val existing = docs.where(col("doc_id") === 0L)
    val incoming = docs.where(col("doc_id") =!= 0L)
    val kept = Dedup.dedupIncremental(existing, incoming, n = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 4L))
    // no existing corpus → within-incoming first-wins keeps the smallest id
    val keptAll = Dedup.dedupIncremental(docs.limit(0), docs, n = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(keptAll.toSeq == Seq(0L, 3L, 4L))
  }

  test("dedupIncremental allDocs fast path equals the union-of-filters path") {
    // r15: when existing/incoming PARTITION one frame, passing that frame as
    // allDocs must be result-identical (it only swaps the shingle subplan's
    // input from union-of-filters to the frame itself)
    val existing = docs.where(col("doc_id") === 0L)
    val incoming = docs.where(col("doc_id") =!= 0L)
    val viaUnion = Dedup.dedupIncremental(existing, incoming, n = 3,
        threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaAll = Dedup.dedupIncremental(existing, incoming, n = 3,
        threshold = 0.5, allDocs = Some(docs))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaAll == viaUnion)
  }

  test("keepCentral with precomputed labels equals the internal CC loop") {
    // r15: the labels override must be a pure plumbing change — same
    // survivors whether the (node, cluster) assignment is computed inside
    // or passed from a shared memo
    val kcDocs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 6L))
      .toDF("doc_id_a", "doc_id_b")
    val internal = Dedup.keepCentral(kcDocs, pairs, iters = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val external = Dedup.keepCentral(kcDocs, pairs, iters = 2,
        labels = Some(Dedup.clusterPairs(pairs)))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(external == internal)
  }

  test("decontaminate drops docs sharing an n-gram with the benchmark") {
    // benchmark = doc 0; docs 1 and 2 share 5-grams with it, 3 and 4 do not
    val bench = docs.where(col("doc_id") === 0L)
    val train = docs.where(col("doc_id") =!= 0L)
    val kept = Dedup.decontaminate(train, bench, n = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 4L))
    // a stricter hit threshold lets light overlap through: doc 1 shares
    // exactly 4 of its 5-grams with doc 0 (one word differs at the tail)
    val keptLoose = Dedup.decontaminate(train, bench, n = 5, minHits = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(keptLoose.toSeq == Seq(1L, 3L, 4L))
  }

  test("scrubPii redacts emails, ips and phone runs with counts") {
    val pii = Seq(
      (0L, "contact bob@example.com or alice@corp.io thanks", "en", "s", 1L),
      (1L, "server at 192.168.0.1 and call +1 555-123-4567 now", "en", "s", 1L),
      (2L, "nothing sensitive here", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.scrubPii(pii)
      .select("doc_id", "clean_text", "n_emails", "n_ips", "n_phones")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .sortBy(_._1)
    assert(out(0)._2 == "contact <EMAIL> or <EMAIL> thanks")
    assert(out(0)._3 == 2 && out(0)._4 == 0 && out(0)._5 == 0)
    assert(out(1)._2 == "server at <IP> and call <PHONE> now")
    assert(out(1)._4 == 1 && out(1)._5 == 1)
    assert(out(2) == ((2L, "nothing sensitive here", 0, 0, 0)))
  }

  test("dedupParagraphs keeps only the first occurrence of each paragraph") {
    val pd = Seq(
      (0L, "alpha beta\n\nshared footer", "en", "s", 1L),
      (1L, "shared footer\n\ngamma delta", "en", "s", 1L),
      (2L, "shared footer", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.dedupParagraphs(pd).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // doc 0 owns both its paragraphs (first occurrence of "shared footer");
    // docs 1 and 2 lose their copies
    assert(out(0) == ((0L, "alpha beta\n\nshared footer", 2L, 2L)))
    assert(out(1) == ((1L, "gamma delta", 2L, 1L)))
    assert(out(2) == ((2L, "", 1L, 0L)))
  }

  test("cleanLines keeps prose lines and drops short/unpunctuated/boilerplate/code") {
    val multi = Seq(
      (0L, "This is a clean prose line.\nshort one\n" +
        "This site uses cookie banners everywhere today.\n" +
        "function f() { return 1; }\n" +
        "no terminal punctuation on this line\n" +
        "Another good sentence stays right here!", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.cleanLines(multi).collect().head
    assert(out.getLong(2) == 6L, "n_lines")
    assert(out.getLong(3) == 2L, "n_kept")
    assert(out.getString(1) ==
      "This is a clean prose line.\nAnother good sentence stays right here!")
  }

  test("lmScore ranks corpus-typical docs above out-of-distribution ones") {
    val corpus = (0L until 20L).map(i => (i, "the cat sat on the mat", "en", "s", 1L)) ++
      Seq((99L, "zq qx jw wv vk kp", "en", "s", 1L))
    val out = TextAnalysis.lmScore(corpus.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .select("doc_id", "n_bigrams", "lm_score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.length == 21 && out.forall(_._2 == 5L))
    // every "the cat..." doc shares one (typical) score; the gibberish doc
    // has singleton bigrams only and must score strictly lower
    val typical = out.filter(_._1 < 99L).map(_._3).distinct
    assert(typical.size == 1)
    assert(out.last._3 < typical.head)
  }

  test("mixSources takes exact per-source quotas in id order") {
    val many = (0L until 30L).map(i =>
        (i, s"text $i", "en", if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(7) // quota cut must not depend on physical layout
    val mixed = TextAnalysis.mixSources(many, Map("a" -> 3L, "b" -> 99L))
      .select("doc_id", "source").as[(Long, String)].collect().sortBy(_._1)
    // source a: first 3 ids (0,3,6); b: all 10; c absent from the quota map
    assert(mixed.filter(_._2 == "a").map(_._1).toSeq == Seq(0L, 3L, 6L))
    assert(mixed.count(_._2 == "b") == 10)
    assert(!mixed.exists(_._2 == "c"))
  }

  test("simhash identical docs share signature") {
    val sigs = Dedup.simhashBuckets(docs).select("doc_id", "simhash")
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(2L))
    assert(sigs(0L) != sigs(3L))
  }

  test("language id separates en from de") {
    val langs = TextAnalysis.languageId(docs).select("doc_id", "lang_guess")
      .as[(Long, String)].collect().toMap
    assert(langs(0L) == "en" && langs(4L) == "de")
  }

  test("token stats count whitespace and bpe-ish tokens") {
    val r = TextAnalysis.tokenStats(docs).where($"doc_id" === 0)
      .select("n_tokens", "n_bpe_tokens").as[(Long, Long)].head()
    assert(r._1 == 9 && r._2 == 9)
  }

  test("cosine similarity math") {
    val df = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.6f, 0.8f, 0f)),
      (2L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val sims = df.as("a").crossJoin(df.as("b"))
      .where($"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id",
        Vectors.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(math.abs(sims((0L, 2L)) - 1.0) < 1e-9)
    assert(math.abs(sims((0L, 1L)) - 0.6) < 1e-6)
  }

  test("brute-force topk ranks identical vector first") {
    val df = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.6f, 0.8f, 0f)),
      (2L, Array(1f, 0.01f, 0f)),
      (3L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, queryIds = Seq(0L), k = 2)
      .select("vec_id", "rnk").as[(Long, Int)].collect().toMap
    assert(top(2L) == 1)
    assert(top(1L) == 2)
  }

  test("batched probes equal per-query brute force") {
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 13) % 19 - 9).toFloat)))
      .toDF("vec_id", "embedding")
    val batch = Similarity.bruteForceTopK(emb, Seq(0L, 5L), k = 3)
      .select("probe_id", "vec_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val single = Seq(0L, 5L).flatMap { q =>
      Similarity.bruteForceTopK(emb, Seq(q), 3).select("vec_id", "rnk")
        .collect().map(r => (q, r.getLong(0), r.getInt(1)))
    }.toSet
    assert(batch == single)
  }

  test("codegen float_dot matches builtin dot") {
    import graft.functions.VectorExprs
    val df = Seq(
      (0L, Array(1.5f, -2f, 3f), Array(2f, 0.5f, 1f)),
      (1L, Array(0f, 0f, 0f), Array(1f, 1f, 1f))).toDF("id", "a", "b")
    // names that need back-quoting in SQL ("emb a"): the kernel takes
    // Columns, so no column name is ever spliced into a SQL string
    for ((a, b) <- Seq(("a", "b"), ("emb a", "emb b"))) {
      val named = df.withColumnRenamed("a", a).withColumnRenamed("b", b)
      val rows = named.select(
          VectorExprs.floatDot(named.col(s"`$a`"), named.col(s"`$b`")).as("fast"),
          graft.pipelines.Vectors.dot(named.col(s"`$a`"), named.col(s"`$b`")).as("ref"))
        .as[(Double, Double)].collect()
      assert(rows.length == 2)
      rows.foreach { case (f, r) => assert(f == r, s"($a, $b): $f vs $r") }
    }
  }

  test("gopher rules flag short, symbol-heavy, and stopword-free docs") {
    val corpus = Seq(
      // passes every rule: 22 english words with essentials
      (0L, ("the data " * 10).trim + " and that of"),
      // too short (3 words)
      (1L, "the and that"),
      // symbol-heavy: hashes outnumber the 10% cap over 22 words
      (2L, ("word " * 19).trim + " the and ### ###"),
      // no essential words at all, though long enough
      (3L, ("alpha beta gamma delta " * 6).trim),
      // bullet-lines: every line starts with a bullet -> fraction 1.0 > 0.9
      (4L, (Seq.fill(5)("- item line with the and of that padding words here now")
        .mkString("\n"))))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    val out = TextAnalysis.gopherRules(corpus)
      .select("doc_id", "gopher_pass", "r_word_count", "r_symbol_ratio",
        "r_essential_words", "r_bullet_lines")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getBoolean(1), "clean doc must pass")
    assert(!out(1L).getBoolean(2), "3 words fails the word-count rule")
    assert(!out(2L).getBoolean(3), "hash-heavy doc fails the symbol rule")
    assert(!out(3L).getBoolean(4), "no essential words fails that rule")
    assert(!out(4L).getBoolean(5), "all-bullet doc fails the bullet rule")
  }

  test("gopher flags are never null: empty/whitespace/null text fails, not null") {
    val corpus = Seq((0L, ""), (1L, "   \n  "), (2L, null: String))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.gopherRules(corpus).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val pass = r.getAs[Any]("gopher_pass")
      assert(pass == false, s"doc ${r.getAs[Long]("doc_id")}: gopher_pass=$pass")
      Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio", "r_bullet_lines",
        "r_ellipsis_lines", "r_alpha_words", "r_essential_words").foreach { c =>
        assert(r.getAs[Any](c) != null, s"$c must be boolean, got null")
      }
    }
  }

  test("clusterPairs equals a serial union-find on random graphs") {
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val byRoot = touched.groupBy(id => find(id.toInt))
      val expected = byRoot.values.flatMap { members =>
        val cl = members.min
        members.map(_ -> cl)
      }.toMap
      // random partition counts sweep the contraction's boundary-graph
      // shapes (1 partition = everything local, 11 = heavy crossings);
      // contraction off must produce the identical labels
      val parts = 1 + rnd.nextInt(11)
      val df = edges.toDF("doc_id_a", "doc_id_b").repartition(parts)
      val got = Dedup.clusterPairs(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"trial $trial parts=$parts: ${got.toSeq.sorted.take(8)}… vs expected")
      val gotOff = Dedup.clusterPairs(df, localContract = false)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotOff == expected, s"trial $trial parts=$parts contraction-off")
    }
  }

  test("multimodal feature extraction decodes real PPM/WAV payloads") {
    val media = Multimodal.syntheticMedia(docs)
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(media)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    // doc_id % 3 routes the modality; image/audio payloads are REAL formats
    val img = feats(0L)
    assert(img.getAs[String]("format_detected") == "ppm")
    assert(img.getAs[Int]("px_width") == 8 && img.getAs[Int]("px_height") == 6)
    assert(img.getAs[Long]("n_samples") == 48L)
    val aud = feats(1L)
    assert(aud.getAs[String]("format_detected") == "wav")
    assert(aud.getAs[Int]("sample_rate") == 16000)
    assert(aud.getAs[Long]("n_samples") == 64L)
    val vid = feats(2L)
    // even video ids carry a REAL multi-frame GVID: 3 frames of 4x4 RGB,
    // frame-sampled at stride 2 -> frames {0, 2} decoded
    assert(vid.getAs[String]("format_detected") == "gvid")
    assert(vid.getAs[Long]("n_bytes") == 7L + 3 * 48)
    assert(vid.getAs[Int]("px_width") == 4 && vid.getAs[Int]("px_height") == 4)
    assert(vid.getAs[Long]("n_samples") == 2L)
    feats.values.foreach(r => assert(r.getSeq[Float](r.fieldIndex("feature")).length == 8))
    // deterministic: rebuilding the media table reproduces the features
    val again = Multimodal.extractFeatures(Multimodal.syntheticMedia(docs))
      .where($"media_id" === 0).select("level").head().getDouble(0)
    assert(again == feats(0L).getAs[Double]("level"))
  }

  test("multimodal decoders parse hand-built fixture bytes exactly") {
    // PPM: 4×2 RGB ramp through the public encoder, decoded header + pixels
    val rgb = Array.tabulate(4 * 2 * 3)(i => (i * 21).toByte)
    val ppm = Multimodal.encodePpm(4, 2, rgb)
    // WAV: 16 PCM samples of a known ramp at 8 kHz
    val wav = Multimodal.encodeWavPcm16(8000,
      Array.tabulate[Short](16)(i => (i * 1000).toShort))
    val raw = "just some plain text".getBytes("UTF-8")
    val media = Seq((0L, "image", ppm), (1L, "audio", wav), (2L, "video", raw))
      .toDF("media_id", "modality", "payload")
    val f = Multimodal.extractFeatures(media)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    val img = f(0L)
    assert(img.getAs[String]("format_detected") == "ppm")
    assert(img.getAs[Int]("px_width") == 4 && img.getAs[Int]("px_height") == 2)
    assert(img.getAs[Long]("n_samples") == 8L)
    // luminance mean of the known ramp, reproduced exactly
    val lums = (0 until 8).map { p =>
      val (r, g, b) = (rgb(p * 3) & 0xff, rgb(p * 3 + 1) & 0xff, rgb(p * 3 + 2) & 0xff)
      0.299 * r + 0.587 * g + 0.114 * b
    }
    assert(math.abs(img.getAs[Double]("level") - lums.sum / 8) < 1e-12)
    val aud = f(1L)
    assert(aud.getAs[String]("format_detected") == "wav")
    assert(aud.getAs[Int]("sample_rate") == 8000)
    assert(aud.getAs[Long]("n_samples") == 16L)
    val rms = math.sqrt((0 until 16).map(i => math.pow(i * 1000 / 32768.0, 2)).sum / 16)
    assert(math.abs(aud.getAs[Double]("level") - rms) < 1e-12)
    assert(f(2L).getAs[String]("format_detected") == "raw")
    // GVID: 4 frames of 2x1 RGB with known pixels; stride-2 sampling reads
    // frames 0 and 2 only
    val fr = (0 until 4).map(k => Array.tabulate(2 * 1 * 3)(i => (k * 60 + i).toByte))
    val gvid = Multimodal.encodeGvid(2, 1, fr)
    val gv = Multimodal.extractFeatures(
        Seq((7L, "video", gvid)).toDF("media_id", "modality", "payload"))
      .head()
    assert(gv.getAs[String]("format_detected") == "gvid")
    assert(gv.getAs[Long]("n_samples") == 2L)
    def lum(frame: Array[Byte], p: Int): Double =
      0.299 * (frame(p * 3) & 0xff) + 0.587 * (frame(p * 3 + 1) & 0xff) +
        0.114 * (frame(p * 3 + 2) & 0xff)
    val m0 = (lum(fr(0), 0) + lum(fr(0), 1)) / 2
    val m2 = (lum(fr(2), 0) + lum(fr(2), 1)) / 2
    assert(math.abs(gv.getAs[Double]("level") - (m0 + m2) / 2) < 1e-12)
    // a truncated GVID decodes the frames present: cutting into frame 3
    // leaves 3 full frames -> sampled {0, 2} unchanged
    val gcut = Multimodal.extractFeatures(
        Seq((8L, "video", gvid.take(7 + 3 * 6 + 2))).toDF("media_id", "modality", "payload"))
      .head()
    assert(gcut.getAs[String]("format_detected") == "gvid")
    assert(gcut.getAs[Long]("n_samples") == 2L)
    // a truncated PPM (post-samplePayload) still decodes the pixels present
    val cut = Multimodal.extractFeatures(
        Seq((9L, "image", ppm.take(ppm.length - 6))).toDF("media_id", "modality", "payload"))
      .head()
    assert(cut.getAs[String]("format_detected") == "ppm")
    assert(cut.getAs[Long]("n_samples") == 6L)
    // malformed RIFF sizes (huge/negative chunk length) must fall back to
    // raw, never crash or walk a negative cursor
    val evil = wav.clone()
    evil(4) = 0xff.toByte; evil(5) = 0xff.toByte; evil(6) = 0xff.toByte; evil(7) = 0x7f.toByte
    evil(16) = 0xff.toByte; evil(17) = 0xff.toByte
    evil(18) = 0xff.toByte; evil(19) = 0x7f.toByte  // fmt chunk size = Int.MaxValue-ish
    val mal = Multimodal.extractFeatures(
        Seq((8L, "audio", evil)).toDF("media_id", "modality", "payload"))
      .head()
    assert(mal.getAs[String]("format_detected") == "raw")
  }

  // ---- cross-document duplicated spans --------------------------------------

  // A and B share the 10-token run a..j (case-folded in B); C is clean;
  // D is shorter than k and must be ignored by gram discovery entirely.
  private def spanDocs = Seq(
    (0L, "a b c d e f g h i j u1 u2 u3"),
    (1L, "p q A B C D E F G H I J s1"),
    (2L, "x y z w v t r m n o"),
    (3L, "s t"))
    .toDF("doc_id", "text")

  test("duplicatedSpans merges flagged windows into maximal per-doc spans") {
    val spans = Dedup.duplicatedSpans(spanDocs, k = 4, minDocs = 2)
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    // windows of the shared run: starts 0..6 in A (span [0,9]) and 2..8 in B
    // (span [2,11]) — ends extend k-1 past the last duplicated window start
    assert(spans == Set((0L, 0L, 9L, 10L), (1L, 2L, 11L, 10L)))
  }

  test("removeDuplicatedSpans drops exactly the spanned tokens, keeps the rest") {
    val out = Dedup.removeDuplicatedSpans(spanDocs, k = 4, minDocs = 2)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (0L, "u1 u2 u3", 10L),
      (1L, "p q s1", 10L),            // original case of kept tokens preserved
      (2L, "x y z w v t r m n o", 0L),
      (3L, "s t", 0L)))
  }

  test("duplicated spans: separated shared runs stay distinct spans") {
    // E and F share run1 (E pos 0-4) and run2 (E pos 6-10) around a
    // non-shared token at pos 5: windows at 3,4,5 cross the gap and are
    // unique, so the islands must NOT merge and token 5 must survive
    val docs = Seq(
      (0L, "r1a r1b r1c r1d r1e GAP r2a r2b r2c r2d r2e"),
      (1L, "r1a r1b r1c r1d r1e OTHER r2a r2b r2c r2d r2e"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, k = 3, minDocs = 2)
      .where(col("doc_id") === 0L)
      .select("span_start", "span_end").as[(Long, Long)].collect().toSet
    assert(spans == Set((0L, 4L), (6L, 10L)))
    val clean = Dedup.removeDuplicatedSpans(docs, k = 3, minDocs = 2)
      .where(col("doc_id") === 0L).select("clean_text").as[String].head()
    assert(clean == "GAP")
  }

  test("hashed embeddings are unit vectors that separate near-dups from strangers") {
    val emb = Similarity.hashedEmbedding(docs, dim = 32)
    val vecs = emb.select("doc_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    // identical texts (docs 0 and 2) embed identically; all unit norm
    assert(vecs(0L) == vecs(2L))
    vecs.values.foreach { v =>
      val n2 = v.map(x => x.toDouble * x).sum
      assert(math.abs(n2 - 1.0) < 1e-6, s"norm2=$n2")
    }
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    // near-dup (0 vs 1, one word differs) beats unrelated (0 vs 3)
    assert(cos(vecs(0L), vecs(1L)) > cos(vecs(0L), vecs(3L)))
  }

  test("bloom decontamination never under-drops and matches exact when generous") {
    val train = Seq(
      (0L, "alpha beta gamma delta shared contaminated phrase here now"),
      (1L, "totally clean text with nothing from the benchmark at all"),
      (2L, "another shared contaminated phrase here now appears again"),
      (3L, "more clean words that overlap nothing whatsoever today"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "shared contaminated phrase here now"))
      .toDF("doc_id", "text")
    val exact = Dedup.decontaminate(train, bench, n = 5)
      .select("doc_id").as[Long].collect().toSet
    // generous sizing → FP rate ~0 → identical to the exact operator
    val bloomBig = Dedup.decontaminateBloom(train, bench, n = 5,
        expectedItems = 1000L, numBits = 1L << 20)
      .select("doc_id").as[Long].collect().toSet
    assert(bloomBig == exact)
    // no false negatives even when absurdly undersized: survivors of the
    // bloom pass are always a SUBSET of the exact survivors (FPs only
    // over-drop, never under-drop)
    val bloomTiny = Dedup.decontaminateBloom(train, bench, n = 5,
        expectedItems = 2L, numBits = 64L)
      .select("doc_id").as[Long].collect().toSet
    assert(bloomTiny.subsetOf(exact))
  }

  test("keepTopFraction keeps exactly the floored top fraction by score") {
    val scored = Seq(
      (0L, 0.9), (1L, 0.1), (2L, 0.7), (3L, 0.7), (4L, 0.3))
      .toDF("doc_id", "score")
    // frac 0.5 of 5 docs → floor(2.5) = 2 survivors: 0.9 then the 0.7 tie
    // broken by ascending id (doc 2)
    val kept = TextAnalysis.keepTopFraction(scored, frac = 0.5, scoreCol = "score")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 2L))
    // partition-invariant
    val kept2 = TextAnalysis.keepTopFraction(scored.repartition(5),
        frac = 0.5, scoreCol = "score")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept2 == kept)
  }

  test("chunkSequences splits docs across fixed sequence boundaries exactly") {
    // stream: doc0 [0,3) doc1 [3,9) doc2 [9,11); sequences of 4 tokens —
    // doc1 spans three sequences, doc2 starts mid-sequence at offset 1
    val cdocs = Seq(
      (0L, "a b c"), (1L, "d e f g h i"), (2L, "j k"))
      .toDF("doc_id", "text")
    val expect = Set(
      (0L, 0L, 0L, 3L, 0L),
      (1L, 0L, 0L, 1L, 3L),
      (1L, 1L, 1L, 5L, 0L),
      (1L, 2L, 5L, 6L, 0L),
      (2L, 2L, 0L, 2L, 1L))
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.chunkSequences(df, seqLen = 4L)
        .select("doc_id", "seq_id", "tok_start", "tok_end", "seq_offset")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(run(cdocs) == expect)
    // partition-invariant: the prefix sum must not depend on layout
    assert(run(cdocs.repartition(7)) == expect)
  }

  test("tfidfTopTerms ranks rare repeated terms above ubiquitous ones") {
    // 'zebra' appears twice in doc 0 only (tf=2, df=1 → tfidf = 2·ln 3);
    // 'common' is in every doc (df=3 → tfidf = 0, ln 1); 'shared' df=2
    val docs = Seq(
      (0L, "zebra zebra common shared"),
      (1L, "common shared other"),
      (2L, "common alone words")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, topK = 2)
      .select("doc_id", "token").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(out(0L).contains("zebra"))
    assert(!out(0L).contains("common"))   // tfidf 0 ranks below both others
    val z = TextAnalysis.tfidfTopTerms(docs, topK = 10)
      .where(col("token") === "zebra")
      .select("tf", "df", "tfidf").as[(Long, Long, Double)].head()
    assert(z._1 == 2L && z._2 == 1L)
    // tfidf is quantized through DECIMAL(38,9) (cross-engine ln discipline),
    // so compare at that precision; exact equality is the oracle's job
    assert(math.abs(z._3 - 2.0 * math.log(3.0)) < 1e-9)
  }

  test("temperatureMix flattens source proportions and caps at availability") {
    // sources: big=8 docs, small=2 docs. alpha=0.5 → weights √8:√2 = 2:1,
    // target 6 → quotas floor(4):floor(2) = 4 and 2 (small capped at its 2)
    val docs = (0L until 8L).map(i => (i, s"t$i", "big")) ++
      Seq((8L, "t8", "small"), (9L, "t9", "small"))
    val df = docs.toDF("doc_id", "text", "source")
    val out = TextAnalysis.temperatureMix(df, targetTotal = 6L, alpha = 0.5)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    assert(out == Set((0L, "big"), (1L, "big"), (2L, "big"), (3L, "big"),
      (8L, "small"), (9L, "small")))
    // alpha=1 keeps natural proportions: quotas 4.8→4 and 1.2→1
    val nat = TextAnalysis.temperatureMix(df, targetTotal = 6L, alpha = 1.0)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(nat == Map("big" -> 4L, "small" -> 1L))
  }

  test("self-repetition spans flag later copies only, removal keeps the first") {
    // doc 0: "a b c" repeats at positions 4-6 (k=3 window at pos 4) — the
    // first copy at 0-2 must SURVIVE; doc 1 has no internal repeats even
    // though it shares text with doc 0 (cross-doc is not self-repetition)
    val docs = Seq(
      (0L, "a b c X a b c Y"),
      (1L, "a b c Z W V Q R"))
      .toDF("doc_id", "text")
    val spans = Dedup.selfRepeatedSpans(docs, k = 3)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(spans == Set((0L, 4L, 6L)))
    val out = Dedup.removeSelfRepetition(docs, k = 3)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (0L, "a b c X Y", 3L),
      (1L, "a b c Z W V Q R", 0L)))
  }

  test("incremental span dedup equals the full run restricted to the snapshot") {
    val prior = Seq((0L, "p1 p2 c1 c2 c3 c4 p3")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "z1 c1 c2 c3 c4 z2"),       // cross-crawl dup against the index
      (11L, "w1 w2 q1 q2 q3 w3"),       // within-incoming dup pair...
      (12L, "v1 q1 q2 q3 v2"),          // ...with doc 11
      (13L, "u1 u2 u3 u4 u5"))          // clean
      .toDF("doc_id", "text")
    val later = Seq(
      (20L, "y1 q1 q2 q3 y2"),          // dup against the APPENDED snapshot
      (21L, "y3 y4 y5 y6"))             // clean
      .toDF("doc_id", "text")
    val t = "graft_span_idx_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Dedup.writeSpanIndex(prior, k = 3, table = t, buckets = 4)
    def spans(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    def fullRestricted(all: org.apache.spark.sql.DataFrame, minId: Long) = spans(
      Dedup.duplicatedSpans(all, k = 3, minDocs = 2)
        .where(col("doc_id") >= minId))
    val inc1 = spans(Dedup.duplicatedSpansIncremental(spark, t, incoming,
      k = 3))
    assert(inc1 == fullRestricted(prior.unionByName(incoming), 10L))
    assert(inc1.map(_._1) == Set(10L, 11L, 12L))
    // append maintenance: after folding the snapshot in, the NEXT crawl's
    // incremental pass must equal the three-corpus full run
    Dedup.appendSpanIndex(incoming, k = 3, table = t, buckets = 4)
    val inc2 = spans(Dedup.duplicatedSpansIncremental(spark, t, later,
      k = 3))
    assert(inc2 == fullRestricted(
      prior.unionByName(incoming).unionByName(later), 20L))
    assert(inc2.map(_._1) == Set(20L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("duplicatedSpans equals a serial reference on random corpora") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val k = 3
    val rdocs = (0L until 24L).map { i =>
      val n = 1 + rnd.nextInt(22)   // includes docs shorter than k
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // serial reference: gram → doc set, flag positions with df >= 2, merge
    // overlapping/adjacent [p, p+k-1] intervals per doc
    val toks = rdocs.map { case (id, t) => id -> t.split("\\s+").toSeq }
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    for ((id, ts) <- toks; i <- 0 to ts.size - k) {
      val g = ts.slice(i, i + k).mkString(" ").toLowerCase
      gramDocs(g) = gramDocs.getOrElse(g, Set.empty) + id
    }
    val expect = (for {
      (id, ts) <- toks
      ps = (0 to ts.size - k)
        .filter(i => gramDocs(ts.slice(i, i + k).mkString(" ").toLowerCase).size >= 2)
      if ps.nonEmpty
      span <- ps.tail.foldLeft(List((ps.head, ps.head + k - 1))) {
        case ((s0, e0) :: rest, p) =>
          if (p > s0.max(e0 - k + 1) + k) (p, p + k - 1) :: (s0, e0) :: rest
          else (s0, p + k - 1) :: rest
        case (Nil, p) => List((p, p + k - 1))
      }
    } yield (id, span._1.toLong, span._2.toLong)).toSet
    val df = rdocs.toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(df, k = k, minDocs = 2)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expect)
  }

  test("charEntropy: ln(k) for uniform alphabets, 0 for a single repeated char") {
    val docs = Seq(
      (1L, "aaaa"),                    // 1 symbol → H = 0
      (2L, "abababab"),                // 2 uniform → H = ln 2
      (3L, "abcdabcdabcdabcd"),        // 4 uniform → H = ln 4
      (4L, "")).toDF("doc_id", "text") // empty → dropped
    val got = TextAnalysis.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!got.contains(4L))
    assert(got(1L)._1 == 4L && got(1L)._2 == 0.0)
    assert(math.abs(got(2L)._2 - math.log(2.0)) < 1e-8)
    assert(math.abs(got(3L)._2 - math.log(4.0)) < 1e-8)
    // skewed beats uniform at the same alphabet: aab < abc-uniform entropy
    val skew = TextAnalysis.charEntropy(
        Seq((9L, "aab"), (10L, "abc")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(skew(9L) < skew(10L))
  }
}
