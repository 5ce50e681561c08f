package graft

import org.apache.spark.sql.functions._

/** Pins the codegen'd `word_ngrams` kernel to VALUE IDENTITY with the
  * builtin chain every shingling operator originally used:
  * `transform(sequence(0, greatest(size(toks)-n, 0)),
  *    i => concat_ws(" ", slice(toks, i+1, n)))`
  * over `toks = split(lower(trim(text)), "\s+")` — on adversarial edge
  * strings, on the real document corpus when present, and on BOTH the
  * generated and interpreted expression paths (the oracle gate runs the
  * codegen-off differential over the same kernel). */
class TextExprsSpec extends SparkTestBase {
  import graft.functions.TextExprs.{polyHashCol, rollingWindowHashesCol, wordNgramsCol}

  private def builtin(n: Int) = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
  }

  private val edges = Seq(
    "", " ", "   ", "\t", "\n", " \t \n ",
    "one", "one two", "one two three", "one two three four",
    "  leading", "trailing  ", "  both  ",
    "\tTAB\tSEP\t", "line\nbreak\nhere",
    "MIXED Case TOKENS", "ÜBER Straße ÇA İ",
    "a  double   spaces    here", "ends with space ",
    "exactly five tokens right here now",
    "punct, stays. as-is! (unchanged)?")

  test("word_ngrams equals the builtin chain on edge strings, n=1..6") {
    import spark.implicits._
    val df = edges.toDF("text")
    for (n <- 1 to 6) {
      val diffs = df.select(builtin(n).as("a"),
          wordNgramsCol(col("text"), n).as("b"))
        .where(not(col("a") <=> col("b")))
        .collect()
      assert(diffs.isEmpty, s"n=$n diverged: ${diffs.mkString("; ")}")
    }
  }

  test("word_ngrams on NULL text: null array, identical exploded stream") {
    // the builtin chain returns [""] for NULL text (concat_ws swallows the
    // null slice) where the kernel returns NULL — but every operator
    // explodes and filters length > 0, and on THAT surface the two are
    // identical: zero shingles either way. Pin both facts.
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("a b c")).toDF("text")
    val nullRow = df.where(col("text").isNull)
      .select(wordNgramsCol(col("text"), 2).as("b")).head()
    assert(nullRow.isNullAt(0), "NULL text must yield a NULL gram array")
    def stream(c: org.apache.spark.sql.Column) =
      df.select(explode(c).as("s")).where(length(col("s")) > 0)
        .collect().map(_.getString(0)).sorted.toSeq
    assert(stream(builtin(2)) == stream(wordNgramsCol(col("text"), 2)))
    assert(stream(builtin(2)) == Seq("a b", "b c"))
  }

  test("word_ngrams equals the builtin chain on the real corpus (codegen on AND off)") {
    val sf = "/root/testdata/sf0.001"
    if (!new java.io.File(sf).isDirectory) cancel(s"testdata not available at $sf")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      withSQLConf("spark.sql.codegen.factoryMode" -> codegen) {
        val diffs = docs.select(builtin(5).as("a"),
            wordNgramsCol(col("text"), 5).as("b"))
          .where(not(col("a") <=> col("b"))).count()
        assert(diffs == 0L, s"$codegen: $diffs docs diverged")
      }
    }
  }

  test("poly_hash equals the builtin per-character fold") {
    import spark.implicits._
    val P = 1000000007L
    val builtinPoly = {
      val c = col("text")
      aggregate(transform(split(c, ""), ch => ascii(ch).cast("long")),
        lit(0L), (acc, ch) => pmod(acc * lit(31L) + ch, lit(P)))
    }
    // supplementary-plane cases: Spark 4.x `ascii` decodes the FULL code
    // point (128512 for U+1F600, not the 0xD83D surrogate), and poly_hash
    // folds codePointAt the same way — identity must hold beyond the BMP
    val emoji = new String(Character.toChars(0x1F600))   // 😀
    val math_u = new String(Character.toChars(0x1D518))  // 𝔘
    val df = (edges ++ Seq("w42", "The Quick BROWN fox", "ümlaut tökens",
      "€uro sign", "abc" * 300,
      emoji, s"a${emoji}b", s"$emoji $math_u mixed", math_u * 5)).toDF("text")
    val diffs = df.select(builtinPoly.as("a"), polyHashCol(col("text")).as("b"))
      .where(not(col("a") <=> col("b"))).collect()
    assert(diffs.isEmpty, s"poly_hash diverged: ${diffs.mkString("; ")}")
    // the split("","")=[""], ascii("")=0 edge: empty string hashes to 0
    assert(Seq("").toDF("text").select(polyHashCol(col("text")))
      .head().getLong(0) == 0L)
    // pin the decoded-code-point fact itself, so a future Spark reverting
    // ascii to charAt(0) semantics fails HERE and not deep in an index probe
    assert(Seq(emoji).toDF("text").select(ascii(col("text"))).head().getInt(0)
      == 0x1F600, "Spark ascii must decode the full supplementary code point")
  }

  test("rolling_window_hashes equals the builtin aggregate-over-slice fold") {
    import spark.implicits._
    val (r, p) = (1000003L, 1000000007L)
    for (k <- Seq(1, 2, 8)) {
      val builtinFold = transform(sequence(lit(0), size(col("hs")) - k),
        i => aggregate(slice(col("hs"), i + 1, lit(k)), lit(0L),
          (acc, h) => pmod(acc * lit(r) + h, lit(p))))
      val df = Seq(
          Seq.tabulate(1)(i => (i * 7919L + 13) % p),
          Seq.tabulate(8)(i => (i * 7919L + 13) % p),
          Seq.tabulate(9)(i => (i * 104729L + 7) % p),
          Seq.tabulate(200)(i => (i * 15485863L + 3) % p))
        .filter(_.length >= k) // builtin sequence() misbehaves below k; callers pre-filter
        .toDF("hs")
      val diffs = df.select(builtinFold.as("a"),
          rollingWindowHashesCol(col("hs"), k, r, p).as("b"))
        .where(not(col("a") <=> col("b"))).collect()
      assert(diffs.isEmpty, s"k=$k diverged: ${diffs.mkString("; ")}")
    }
  }

  test("rolling_window_hashes: null elements poison their windows to null") {
    // no current caller builds nullable hash arrays, but the type accepts
    // them — a null element must propagate null for every covering window
    // (the builtin fold's pmod-of-null), never silently hash as 0
    import spark.implicits._
    val (r, p, k) = (1000003L, 1000000007L, 2)
    val df = Seq(Seq[Option[Long]](Some(5L), None, Some(7L), Some(11L)))
      .toDF("hs")
    val builtinFold = transform(sequence(lit(0), size(col("hs")) - k),
      i => aggregate(slice(col("hs"), i + 1, lit(k)), lit(0L),
        (acc, h) => pmod(acc * lit(r) + h, lit(p))))
    val row = df.select(builtinFold.as("a"),
      rollingWindowHashesCol(col("hs"), k, r, p).as("b")).head()
    assert(row.getSeq[Any](0) == row.getSeq[Any](1),
      s"null-poisoning diverged: ${row.getSeq[Any](0)} vs ${row.getSeq[Any](1)}")
    assert(row.getSeq[Any](1)(0) == null && row.getSeq[Any](1)(1) == null
      && row.getSeq[Any](1)(2) != null)
  }

  test("word_ngrams and poly_hash equal the builtin chains on FUZZED strings") {
    // property sweep beyond the curated edges: random strings over a
    // whitespace-heavy alphabet (plus some unicode), n in 1..5
    import spark.implicits._
    val rnd = new scala.util.Random(0x5eed)
    val alphabet = "ab c\td\ne  éß€."
    val fuzz = Seq.fill(300)(
      (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString)
    val df = fuzz.toDF("text")
    val P = 1000000007L
    val builtinPoly = aggregate(
      transform(split(col("text"), ""), ch => ascii(ch).cast("long")),
      lit(0L), (acc, ch) => pmod(acc * lit(31L) + ch, lit(P)))
    for (n <- 1 to 5) {
      val d1 = df.select(builtin(n).as("a"), wordNgramsCol(col("text"), n).as("b"))
        .where(not(col("a") <=> col("b"))).count()
      assert(d1 == 0L, s"word_ngrams n=$n diverged on fuzz")
    }
    val d2 = df.select(builtinPoly.as("a"), polyHashCol(col("text")).as("b"))
      .where(not(col("a") <=> col("b"))).count()
    assert(d2 == 0L, "poly_hash diverged on fuzz")
  }

  private def withSQLConf(kv: (String, String))(f: => Unit): Unit = {
    val prev = try Some(spark.conf.get(kv._1)) catch { case _: Throwable => None }
    spark.conf.set(kv._1, kv._2)
    try f finally prev match {
      case Some(v) => spark.conf.set(kv._1, v)
      case None    => spark.conf.unset(kv._1)
    }
  }
}
