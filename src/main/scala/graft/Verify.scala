package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing names restrict the dump (local check.py iteration);
    // the driver always calls with exactly (sfDir, outDir) = full dump
    val only = args.drop(2).toSet
    val spark = graft.core.Session(logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // every control char is escaped: a tab or CR in an oracle's SQL would
    // otherwise leave oracle_sql.json unreadable to the DuckDB compare
    def q(s: String): String = "\"" + graft.serve.JsonEsc.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.core.Memo.clearSession(spark)
    spark.stop()
  }
}
