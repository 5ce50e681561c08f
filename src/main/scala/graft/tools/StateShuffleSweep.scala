package graft.tools

/** Measured commit-fan-out curve for stateful streaming (r11 verdict item
  * 6): every stateful micro-batch commits one state-store delta PER
  * SHUFFLE PARTITION, so at small per-trigger row counts the partition
  * count — not row work — is the wall clock, and production should size
  * `spark.sql.shuffle.partitions` (i.e. the state-store count) to key
  * cardinality per query. This sweep turns that advice into a table:
  * two stateful registry queries (the ingest roundtrip's
  * dropDuplicatesWithinWatermark state, and the KMV sketch's
  * flatMapGroupsWithState) run at 4/8/16/32 state partitions via the
  * `graft.stream.statePartitions` knob the registry drain respects.
  * Results can NEVER move — each query's oracle/parity spec pins
  * partition-count invariance — only the wall clock does.
  *
  * Usage: `runMain graft.tools.StateShuffleSweep [sfDir]`. Prints a
  * markdown table for OPERATORS.md; each cell is min-of-2 warm passes.
  */
object StateShuffleSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.core.Session()
    def f2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    // r14: swept below 4 for the first time (the floor probe's stateful_1
    // is 0.2s under stateful_4) over every handful-of-keys sketch stream
    val queries = Seq("streaming_ingest_roundtrip", "streaming_kmv_distinct",
      "streaming_hll_distinct", "streaming_cms_terms",
      "streaming_heavy_hitters", "streaming_ann_probe")
    val parts = Seq(1, 2, 4, 8)
    println(s"| query | " + parts.map(p => s"$p parts (s)").mkString(" | ") + " |")
    println("|---|" + parts.map(_ => "---").mkString("|") + "|")
    for (q <- queries) {
      val fn = graft.SparkEntry.queries(q)
      // untimed warm at the default: JIT + parquet footers out of the way
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      val cells = parts.map { p =>
        spark.conf.set("graft.stream.statePartitions", p.toString)
        def once(): Double = {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        math.min(once(), once())
      }
      spark.conf.unset("graft.stream.statePartitions")
      println(s"| $q | " + cells.map(f2).mkString(" | ") + " |")
    }
    spark.stop()
  }
}
