package graft.tools

/** Isolated-warm bench: time ONE query family in a fresh JVM — the
  * suite-interaction-free counterpart of [[graft.Bench]], so a per-query
  * diff between `BENCH_r{N}.json` and `BENCH_r{N}_isolated.json` separates
  * "this query's plan regressed" from "the suite's standing caches pressed
  * on it" (the r9 adjudication had to re-measure live to tell them apart).
  *
  * Usage: `runMain graft.tools.BenchFamily <family> [sfDir]` where family
  * is a name from [[graft.Bench.familyNames]] (tpch, series, vector,
  * corpus, dedup, events, retrieval, text, streaming) or `all`.
  * Emits ONE JSON line per family on stdout:
  * `{"family":"...","queries":{name:secs,...},"total":N,"failed":[...]}` —
  * each query's WARM time (untimed first pass, then min of 2 timed
  * passes), the same measurement rule as the suite bench. A query that
  * throws is listed in `failed` and left out of `queries` and `total`.
  * An unknown family name is an error. `scripts/bench_isolated.sh` runs
  * one JVM per family and merges the lines.
  */
object BenchFamily {
  def main(args: Array[String]): Unit = {
    val famName = args.headOption.getOrElse("all")
    val wanted = graft.Bench.familyNames.collect {
      case (id, n) if famName == "all" || famName == n => id
    }.toSet
    require(wanted.nonEmpty, s"unknown bench family '$famName'; expected one of " +
      graft.Bench.familyNames.values.toSeq.sorted.mkString(", ") + " or all")
    val sfDir = if (args.length > 1) args(1) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session()
    // diagnostics cost stays off the isolated clock too (see Bench)
    spark.conf.set("graft.ingestlag.diag", "false")
    def f2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val byFam = graft.SparkEntry.queries.toSeq
      .map { case (n, fn) => (graft.Bench.family(n), n, fn) }
      .filter(q => wanted(q._1))
      .groupBy(_._1).toSeq.sortBy(_._1)
    for ((famId, qs) <- byFam) {
      graft.core.Memo.clearSession(spark)
      spark.catalog.clearCache()
      val sorted = qs.sortBy(_._2)
      sorted.headOption.foreach { case (_, _, fn) =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
      val runs = sorted.map { case (_, name, fn) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        // warm pass per query (family warmup only covers shared inputs)
        name -> (try { once(); Some(math.min(once(), once())) }
                 catch { case _: Throwable => None })
      }
      val timed = runs.collect { case (n, Some(t)) => n -> t }
      val qsJson = timed.map { case (n, t) => s""""$n":${f2(t)}""" }
        .mkString("{", ",", "}")
      val failedJson = runs.collect { case (n, None) => s""""$n"""" }
        .mkString("[", ",", "]")
      Console.out.println(
        s"""{"family":"${graft.Bench.familyNames(famId)}","sf":"$sfDir",""" +
          s""""queries":$qsJson,"total":${f2(timed.map(_._2).sum)},"failed":$failedJson}""")
      Console.out.flush()
    }
    graft.core.Memo.clearSession(spark)
    spark.stop()
  }
}
