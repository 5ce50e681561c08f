package graft.tools

import graft.{Bench, SparkEntry}
import graft.core.{Memo, MetricsTap, Session}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.execution.{ExplainUtils, LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** The one developer entry point over the query registry
  * (`runMain graft.tools.Tool <sub> …`; `sf` as in [[graft.Bench.sfDir]]):
  *  - `show|count|explain|save:<dir> <name> [sf]`: rows, row count,
  *    formatted plan ([[planDump]]), or the result as one parquet file for
  *    DuckDB;
  *  - `time[:N] <name> [sf]`: N timed passes (default 3), each with the
  *    Spark jobs its query build launched (`build_jobs=`; plan building
  *    should launch none once the session's inputs are built), then
  *    `secs_min=`;
  *  - `explain <outDir> <suffix> <name…>`: one `<name>_<suffix>.txt` plan
  *    file per query from one JVM; a build that throws (builds can run
  *    jobs) is written as `EXPLAIN FAILED` and the sweep goes on;
  *  - `family <name|all> [sf]`: one isolated-warm JSON line per family,
  *    measured by the suite's own [[graft.Bench.timeFamily]].
  * Timed subcommands use the bench's timing setup and single pass, so they
  * clock the suite's work. An unknown subcommand, query or family fails
  * before any Spark work, naming the valid choices. */
object Tool {
  private val usage = "usage: Tool show|count|explain|save:<dir>|time[:N] <name> [sf]" +
    " | explain <outDir> <suffix> <name...> | family <name|all> [sf]"

  private def choice[A](kind: String, name: String, all: Map[String, A]): A =
    all.getOrElse(name, throw new IllegalArgumentException(
      s"unknown $kind '$name'; expected one of ${all.keys.toSeq.sorted.mkString(", ")}"))

  private def query(name: String): Bench.Query = choice("query", name, SparkEntry.queries)

  /** Validates `args` without touching Spark and returns the action. */
  def command(args: Seq[String]): SparkSession => Unit = args match {
    case Seq("explain", outDir, suffix, names @ _*) if names.nonEmpty =>
      dumpPlans(Bench.sfDir(None), outDir, suffix, names.map(n => n -> query(n)))
    case Seq("family", fam, sf @ _*) if sf.size <= 1 =>
      family(Bench.sfDir(sf.headOption), choice("family", fam,
        Bench.familyNames.map { case (id, n) => n -> Set(id) } + ("all" -> Bench.familyNames.keySet)))
    case Seq(sub, name, sf @ _*) if sf.size <= 1 =>
      val act = mode(sub)
      val (fn, sfDir) = (query(name), Bench.sfDir(sf.headOption))
      spark => act(spark, sfDir, name, fn)
    case _ => throw new IllegalArgumentException(usage)
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = command(args)(spark)

  def main(args: Array[String]): Unit = {
    val cmd = command(args.toSeq)
    val spark = Session()
    try cmd(spark)
    finally { Memo.clearSession(spark); spark.stop() }
  }

  private def mode(sub: String): (SparkSession, String, String, Bench.Query) => Unit = sub match {
    case "show" => (spark, sf, _, fn) =>
      val df = fn(spark, sf); df.show(30, truncate = false); println(s"rows=${df.count()}")
    case "count" => (spark, sf, _, fn) => println(s"rows=${fn(spark, sf).count()}")
    case "explain" => (spark, sf, _, fn) => println(planDump(fn(spark, sf)))
    case s if s.startsWith("save:") => (spark, sf, _, fn) =>
      val dir = s.stripPrefix("save:")
      fn(spark, sf).coalesce(1).write.mode("overwrite").parquet(dir)
      println(s"saved rows=${spark.read.parquet(dir).count()}")
    case s if s == "time" || s.startsWith("time:") =>
      val n = if (s == "time") 3 else s.stripPrefix("time:").toIntOption.filter(_ > 0)
        .getOrElse(throw new IllegalArgumentException(s"bad '$s'; expected time:N with N > 0"))
      (spark, sf, name, fn) =>
        Bench.timingSession(spark)
        val secs = (1 to n).map { i =>
          var buildJobs: () => Int = () => 0
          val t = Bench.pass(spark, sf, (s, d) => {
            val (df, jobs) = MetricsTap.countJobs(s)(fn(s, d))
            buildJobs = jobs; df
          })._1
          println(s"[tool] $name run $i: ${Bench.f2(t)} s build_jobs=${buildJobs()}"); t
        }
        println(s"secs_min=${Bench.f2(secs.min)}")
    case _ => throw new IllegalArgumentException(s"unknown subcommand '$sub'; $usage")
  }

  private def dumpPlans(sf: String, outDir: String, suffix: String,
                        fns: Seq[(String, Bench.Query)]): SparkSession => Unit = spark => {
    Files.createDirectories(Paths.get(outDir))
    for ((name, fn) <- fns) {
      val text =
        try planDump(fn(spark, sf))
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}" }
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), text.getBytes(UTF_8))
      Console.err.println(s"[explain] wrote $name")
    }
  }

  /** The formatted physical plan of `df`, stable across runs and checkouts:
    * the AQE initial plan, with each persisted input printed as one
    * `InMemoryTableScan` node (its output, pushed predicates and storage
    * level) instead of its cached plan, and with the run-specific tokens
    * replaced ([[normalize]]). A cached plan prints as an executed AQE plan
    * once some earlier query has built that cache, so dumping it would make
    * a plan depend on the queries run before it. */
  def planDump(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val text = new StringBuilder("== Physical Plan ==\n")
    ExplainUtils.processPlan[SparkPlan](plan.transformUpWithSubqueries {
      case s: InMemoryTableScanExec =>
        PersistedInput(s.output, s.predicates, s.relation.cacheBuilder.storageLevel.toString)
    }, t => { text.append(t); () })
    normalize(text.toString, df.sparkSession)
  }

  /** `plan` with its run-specific tokens replaced, so dumps from two runs or
    * two checkouts diff directly: expression ids (`#123`), the counters in
    * lambda variable names (`lambda x_42`), exchange `plan_id`s, RDD ids
    * (`RDD[1111]`), the identity hashes of array arguments (`[D@997a59f`),
    * the warehouse directory (`<warehouse>`) and whole paths under the temp
    * directory (`<tmp>`). */
  private def normalize(plan: String, spark: SparkSession): String = {
    val warehouse = new Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
    Seq(
      "#\\d+" -> "#",
      "(lambda [A-Za-z]+)_\\d+" -> "$1",
      "plan_id=\\d+" -> "plan_id=",
      "RDD\\[\\d+\\]" -> "RDD[]",
      "(\\[+[A-Z])@[0-9a-f]+" -> "$1@",
      s"(file:)?${Pattern.quote(warehouse)}" -> "<warehouse>",
      s"(file:)?${Pattern.quote(tmp)}/[^\\s,\\]]*" -> "<tmp>")
      .foldLeft(plan) { case (t, (re, to)) => re.r.replaceAllIn(t, to) }
  }

  /** A persisted input as [[planDump]] prints it; never executed. */
  private final case class PersistedInput(output: Seq[Attribute], predicates: Seq[Expression],
                                          storageLevel: String) extends LeafExecNode {
    override def nodeName: String = "InMemoryTableScan"
    override protected def doExecute() =
      throw new UnsupportedOperationException("a plan-dump node does not execute")
  }

  private def family(sf: String, ids: Set[Int]): SparkSession => Unit = spark => {
    Bench.timingSession(spark)
    val byFamily = SparkEntry.queries.toSeq.groupBy(q => Bench.family(q._1))
    for (id <- ids.toSeq.sorted; qs <- byFamily.get(id)) {
      val runs = Bench.timeFamily(spark, sf, qs)((name, time) => name -> time())
      println(familyLine(Bench.familyNames(id), sf, runs))
      Console.out.flush()
    }
  }

  /** One `family` line: each query's min pass. A query that threw is
    * listed under `failed` and left out of `queries` and `total`. */
  def familyLine(fam: String, sf: String, runs: Seq[(String, Option[Seq[Bench.Pass]])]): String = {
    val mins = runs.collect { case (n, Some(ps)) => n -> ps.map(_._1).min }
    val qs = mins.map { case (n, t) => s""""$n":${Bench.f2(t)}""" }.mkString("{", ",", "}")
    val failed = runs.collect { case (n, None) => s""""$n"""" }.mkString("[", ",", "]")
    s"""{"family":"$fam","sf":"$sf","queries":$qs,"total":${Bench.f2(mins.map(_._2).sum)},"failed":$failed}"""
  }
}
