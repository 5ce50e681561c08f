package graft.tools

/** Dev utility: run one named query and show result/plan.
  * usage: runMain graft.tools.RunOne <queryName> [sfDir] [explain|show|count|time[:N]|save:dir]
  *
  * `time[:N]` (default N = 3) times N `count()` evaluations in one session —
  * the bench's warm-run shape without the full suite — printing one line
  * per run and then the min. Session confs come from [[graft.core.Session]]
  * (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_EXTRA_CONF` for conf A/B).
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val mode = if (args.length > 2) args(2) else "show"
    val spark = graft.core.Session()
    val fn = graft.SparkEntry.queries(name)
    val df = fn(spark, sfDir)
    mode match {
      case "explain" => df.explain("formatted")
      case "count"   => println(s"rows=${df.count()}")
      case s if s == "time" || s.startsWith("time:") =>
        val n = if (s == "time") 3 else s.stripPrefix("time:").toInt
        val secs = (1 to n).map { i =>
          val t0 = System.nanoTime()
          val rows = fn(spark, sfDir).count()
          val t = (System.nanoTime() - t0) / 1e9
          println(f"[runone] $name run $i: $t%.2f s (rows=$rows)")
          t
        }
        println(f"secs_min=${secs.min}%.2f")
      case s if s.startsWith("save:") =>
        // dump result parquet for ad-hoc DuckDB oracle comparison
        df.coalesce(1).write.mode("overwrite").parquet(s.stripPrefix("save:"))
        println(s"saved rows=${spark.read.parquet(s.stripPrefix("save:")).count()}")
      case _         => df.show(30, truncate = false); println(s"rows=${df.count()}")
    }
    graft.core.Memo.clearSession(spark)
    spark.stop()
  }
}
