package graft

import graft.tools.Tool
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One registry runner: `Bench` owns the timing rule and the family loop,
  * and `Tool` is the one developer entry point over the registry. */
class ToolSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("the family loop times a good query by the rule and never times a throwing one") {
    val s = spark.newSession()
    val good: Bench.Query = (sp, _) => sp.range(1000).toDF("id")
    val bad: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    val runs = Bench.timeFamily(s, sf, Seq("b_good" -> good, "a_bad" -> bad))(
      (name, time) => name -> time())
    assert(runs.map(_._1) == Seq("a_bad", "b_good"))
    assert(runs.head._2.isEmpty, "a query that throws gets no timing")
    val passes = runs(1)._2.get.map(_._1)
    val (a, b) = (passes(0), passes(1))
    // a third pass exactly when the first two disagree by more than 1.5x
    assert(passes.size == (if (math.max(a, b) / math.max(math.min(a, b), 1e-9) > 1.5) 3 else 2),
      passes)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Tool.familyLine("fake", sf, runs))
    assert(json.get("failed").elements.asScala.map(_.asText).toList == List("a_bad"))
    assert(json.get("queries").size == 1)
    assert(json.get("queries").get("b_good").asDouble == Bench.f2(passes.min).toDouble)
    assert(json.get("total").asDouble == json.get("queries").get("b_good").asDouble)
  }

  test("an unknown subcommand, query or family fails by name before any Spark work") {
    def err(args: String*): String =
      intercept[IllegalArgumentException](Tool.command(args)).getMessage
    assert(err("bogus", "tpch_q1_pricing").contains("unknown subcommand 'bogus'"))
    val q = err("count", "no_such_query")
    assert(q.contains("unknown query 'no_such_query'") && q.contains("tpch_q1_pricing"), q)
    assert(err("explain", "/tmp/plans", "t", "no_such_query").contains("unknown query"))
    val fam = err("family", "bogus")
    assert(fam.contains("unknown family 'bogus'") && fam.contains("all") &&
      Bench.familyNames.values.forall(fam.contains), fam)
    assert(err("time:0", "tpch_q1_pricing").contains("time:N"))
    assert(err().startsWith("usage"))
  }

  test("time:1 and explain run one registry query") {
    assume(new java.io.File(s"$sf/lineitem.parquet").exists)
    val s = spark.newSession()
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Tool.run(s, Seq("time:1", "tpch_q6_scan_agg", sf))
      Tool.run(s, Seq("explain", "tpch_q6_scan_agg", sf))
    }
    val lines = out.toString("UTF-8").linesIterator.toList
    assert(lines.count(_.startsWith("[tool] tpch_q6_scan_agg run ")) == 1, lines)
    assert(lines.exists(_.startsWith("secs_min=")), lines)
    assert(lines.exists(_.contains("== Physical Plan ==")), lines)
    assert(s.conf.get("graft.clusterPairs.log") == "true", "time runs under the timing setup")

    val dir = tempDir("tool_explain")
    Tool.run(s, Seq("explain", dir.toString, "t", "tpch_q6_scan_agg"))
    assert(Files.readString(dir.resolve("tpch_q6_scan_agg_t.txt")).contains("== Physical Plan =="))
  }

  test("time:N prints each pass's build jobs, and a second build launches none") {
    assume(new java.io.File(s"$sf/lineitem.parquet").exists)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Tool.run(spark.newSession(), Seq("time:2", "tpch_q6_scan_agg", sf)))
    val runs = out.toString("UTF-8").linesIterator.filter(_.startsWith("[tool]")).toList
    assert(runs.size == 2 && runs.forall(_.matches(".* s build_jobs=\\d+")), runs)
    assert(runs(1).endsWith(" build_jobs=0"), runs)
  }

  test("planDump replaces expression ids, lambda counters, plan ids and temp paths") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("tool_plan").resolve("t").toString
    spark.range(20).select(col("id"), array(col("id")).as("a")).write.parquet(dir)
    val p = Tool.planDump(spark.read.parquet(dir).groupBy((col("id") % 3).as("k"))
      .agg(max(element_at(transform(col("a"), x => x + 1), 1))))
    assert(p.contains("lambda x#") && p.contains("plan_id=") && p.contains("<tmp>"), p)
    assert("#\\d|lambda x_\\d|plan_id=\\d".r.findFirstIn(p).isEmpty, p)
    assert(!p.contains(dir), p)
    // RDD ids and the identity hashes of a kernel's array arguments
    val enc = org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.PqEncode(
      org.apache.spark.sql.graft.ColumnBridge.expression(array(col("id").cast("double"))),
      Array(1.0), Array(0), Array(1), 1))
    val q = Tool.planDump(spark.range(3).toDF("id").localCheckpoint(true).select(enc.as("c")))
    assert(q.contains("RDD[]") && q.contains("[D@") && q.contains("[I@"), q)
    assert("RDD\\[\\d|\\[[A-Z]@[0-9a-f]".r.findFirstIn(q).isEmpty, q)
  }

  test("src/main resolves the scale factor once and tools/ holds four mains") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, "source tree not found from the test working directory")
    assert(files.map(p => "SPARK_GRAFT_SF_DIR".r.findAllMatchIn(Files.readString(p)).size).sum == 1)
    val tools = Files.list(Paths.get("src/main/scala/graft/tools")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(tools == Set("Tool.scala", "AnnSweep.scala", "StreamFloorProbe.scala", "Soak.scala"))
  }
}
