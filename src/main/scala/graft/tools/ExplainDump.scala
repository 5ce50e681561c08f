package graft.tools

/** Optimization-round measurement utility: dump `.explain("formatted")` for a
  * list of registry queries into one file each, from a single JVM (a per-query
  * `RunOne explain` pays the sbt+Spark launch ~40s per plan).
  *
  * usage: runMain graft.tools.ExplainDump <outDir> <suffix> <name> [<name> ...]
  * writes <outDir>/<name>_<suffix>.txt
  *
  * Building a query's DataFrame can itself run Spark jobs (streaming drains,
  * driver-collected centroids/Gram); failures are written into the file so a
  * sweep over many names never dies half way. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val text =
        try {
          val df = graft.SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch {
          case e: Throwable => s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Console.err.println(s"[explain] wrote $name")
    }
    graft.core.Memo.clearSession(spark)
    spark.stop()
  }
}
