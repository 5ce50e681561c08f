package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** One session factory, and graft kernels that need nothing installed in
  * the session they run on. */
class SessionSpec extends SparkTestBase {
  import spark.implicits._

  test("the factory returns the running session with the shared confs set") {
    val s = graft.core.Session(cpus = 4)
    assert(s eq graft.core.Session(cpus = 4))
    assert(s eq spark)
    assert(s.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    // the factory leaves AQE to Spark's defaults, which must keep it on
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  /** (file name, count) of every src/main Scala file containing `needle`. */
  private def hits(needle: String): Seq[(String, Int)] = {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, "source tree not found from the test working directory")
    files.map { p =>
      p.getFileName.toString -> java.util.regex.Pattern.quote(needle).r
        .findAllMatchIn(Files.readString(p)).size
    }.filter(_._2 > 0)
  }

  test("src/main has exactly one session builder and no function registration") {
    assert(hits("SparkSession.builder") == Seq("Session.scala" -> 1))
    assert(hits("createOrReplaceTempFunction").isEmpty)
  }

  test("src/main runs streams to completion only in Ingest.drain") {
    assert(hits("processAllAvailable").isEmpty)
    for (needle <- Seq("awaitTermination", "Trigger.AvailableNow"))
      assert(hits(needle).map(_._1) == Seq("Ingest.scala"), s"$needle: ${hits(needle)}")
    assert(hits("graft.stream.statePartitions").isEmpty)
  }

  test("product aggregates as a HashAggregate when built with no active session") {
    val df = Seq(("a", 2.0), ("a", 3.0), ("b", 5.0), ("b", -1.0)).toDF("k", "v")
    org.apache.spark.sql.SparkSession.clearActiveSession()
    val prod = try graft.functions.Product.product(col("v"))
      finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val out = df.groupBy("k").agg(prod.as("p"))
    assert(out.as[(String, Double)].collect().toMap == Map("a" -> 6.0, "b" -> -5.0))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate"), plan)
  }
}
