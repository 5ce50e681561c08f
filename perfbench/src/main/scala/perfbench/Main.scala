package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.core.MetricsTap
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, results: String, digests: String, record: Seq[Long])

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
  def parse(s: String): Map[String, Any] = scalaize(mapper.readValue(s, classOf[java.util.Map[String, Any]]))
  def read(p: Path): Map[String, Any] = parse(new String(Files.readAllBytes(p), "UTF-8"))
  private def scalaize(m: java.util.Map[String, Any]): Map[String, Any] = m.asScala.toMap.map {
    case (k, v: java.util.Map[_, _]) => k -> scalaize(v.asInstanceOf[java.util.Map[String, Any]])
    case (k, v) => k -> v
  }
}

/** Host channel: what the machine looked like, so host noise can be told
  * from an engine change. The probe is a fixed scan + aggregate over
  * generated rows — no graft code — timed as a diagnostic only. */
object Host {
  def loadavg: Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(-1.0)
  def probe(spark: SparkSession): Double = {
    val t = System.nanoTime()
    spark.range(0L, 4000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id % 7 * (id % 13))", "count(distinct id % 1009)").collect()
    (System.nanoTime() - t) / 1e9
  }
}

object Main {
  /** Set-up repetitions per run; `setup_s` uses their median. */
  val SetupReps = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(m.getOrElse("workload", ""), m.getOrElse("seed", "0").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      need("work"), need("results"), need("digests"),
      m.get("record").map(_.split(",").toSeq.map(_.toLong)).getOrElse(Nil))
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(ctx: Ctx): Workload = ctx.opts.workload match {
    case "dashboard"      => new DashboardWorkload(ctx)
    case "registry_batch" => new RegistryWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val load0 = Host.loadavg
    val t0 = System.nanoTime()
    val spark = session(o.work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(o.trace, spark)
    val ctx = new Ctx(spark, o, tracer, cores)
    val wl = workload(ctx)
    if (o.record.nonEmpty) { record(ctx); spark.stop(); return }

    def timed(f: => Unit): Double = { val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9 }
    val reps = (1 to SetupReps).map(i => timed(wl.setup(i)))
    val warmS = timed(wl.warmup())
    val setupS = sessionS + Stats.median(reps) + warmS
    val probe0 = Host.probe(spark)
    val blocks0 = if (o.trace) MetricsTap.snapshot(spark).blocksDropped else 0L

    val out = wl.run(o.seconds)

    val probe1 = Host.probe(spark)
    val lat = out.latenciesMs
    val qps = lat.size / out.wallS
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("query_p50_ms", Stats.median(lat), "ms"),
      ("queries_per_s", qps, "1/s")) ++
      (if (lat.size >= 100) Seq(("query_p90_ms", Stats.quantile(lat, 0.9), "ms")) else Nil) ++
      out.extra ++ Seq(
      ("cache_mem_peak_mb", ctx.storagePeakBytes / 1048576.0, "MB"),
      ("failed_frac", out.failed.toDouble / math.max(1L, out.attempted), "ratio"))

    val layers = if (o.trace) layerMetrics(ctx, out, blocks0) else Nil
    val overhead = if (o.trace) traceOverhead(o, e2e) else Map.empty[String, Any]
    val resultsDir = Paths.get(o.results)
    Files.createDirectories(resultsDir)
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    val detail = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "end_to_end" -> e2e.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "samples" -> lat.size,
      "latencies_ms" -> lat,
      "per_layer" -> layers.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "trace_overhead" -> overhead,
      "correctness" -> out.correctness,
      "setup" -> Map("session_s" -> sessionS, "reps_s" -> reps, "warmup_s" -> warmS),
      "host" -> Map("cpus" -> Runtime.getRuntime.availableProcessors,
        "local_cores" -> cores,
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "loadavg_start" -> load0, "loadavg_end" -> Host.loadavg,
        "probe_s_start" -> probe0, "probe_s_end" -> probe1))
    Files.write(resultsDir.resolve(s"$tag.json"), Json.write(detail).getBytes("UTF-8"))
    if (o.trace)
      Files.write(resultsDir.resolve(s"$tag-spans.json"), Json.write(tracer.spansJson).getBytes("UTF-8"))
    tracer.close()
    spark.stop()

    // run.py picks the metrics BENCHMARK.json declares out of this line
    println("perfbench detail " + Json.write(detail ++ Map(
      "correct" -> (out.failed == 0), "attempted" -> out.attempted, "failed" -> out.failed)))
  }

  /** Traced minus untraced, per end-to-end metric, against the latest
    * untraced run of the same workload and seed in this work directory. */
  private def traceOverhead(o: Opts, traced: Seq[(String, Double, String)]): Map[String, Any] = {
    val f = Paths.get(o.results, s"${o.workload}-seed${o.seed}-trace0.json")
    if (!Files.exists(f)) Map("note" -> "no untraced run of this workload and seed to compare with")
    else {
      val base = Json.read(f)("end_to_end").asInstanceOf[Map[String, Map[String, Any]]]
      traced.flatMap { case (n, v, u) =>
        base.get(n).map(b => n -> Map("value" -> (v - b("value").toString.toDouble), "unit" -> u))
      }.toMap
    }
  }

  /** Per-layer metrics of a traced run. Times and counts are per-request
    * medians (a request is one reader query or one registry query); ratios,
    * GC and spill are run totals. Each self time sums a span name's
    * duration minus the part its child spans cover. */
  private def layerMetrics(ctx: Ctx, out: Outcome, blocks0: Long): Seq[(String, Double, String)] = {
    val t = ctx.tracer
    // query-level layers from the measured queries: not the registry's
    // untimed first runs, and not the ingest phase's reader, which shares
    // the machine with the stream and is reported end to end only
    val reqs = t.requests.toSeq.filter(_.phase == "read")
    val all = new Work
    reqs.foreach(_.work.values.foreach(all += _))
    def med(f: Request => Double): Double = Stats.median(reqs.map(f))
    def sumW(r: Request)(f: Work => Long): Double = r.work.values.map(f).sum.toDouble
    val ids = reqs.map(_.id).toSet
    def spanMed(n: String): Double = Stats.median(t.perRequestMs(n, ids))
    def jobsIn(n: String): Double = reqs.map(_.work.get(n).map(_.jobs).getOrElse(0L)).sum.toDouble
    val execWall = t.perRequestMs("exec", ids).sum
    val scanned = reqs.map(_.plan.rowsScanned).sum.toDouble
    val returned = reqs.map(_.resultRows).sum.toDouble
    Seq(
      ("lang.parse_ms", spanMed("lang.parse"), "ms"),
      ("lang.compile_ms", spanMed("lang.compile"), "ms"),
      ("lang.plan_nodes", med(_.plan.logicalNodes.toDouble), "count"),
      ("lang.compile_jobs", jobsIn("lang.compile") + jobsIn("lang.parse"), "count"),
      ("serve.params_ms", spanMed("serve"), "ms"),
      ("catalyst.analysis_ms", med(_.plan.analysisMs.toDouble), "ms"),
      ("catalyst.optimizer_ms", med(_.plan.optimizerMs.toDouble), "ms"),
      ("catalyst.planning_ms", med(_.plan.planningMs.toDouble), "ms"),
      ("catalyst.physical_nodes", med(_.plan.physicalNodes.toDouble), "count"),
      ("exec.wall_ms", spanMed("exec"), "ms"),
      ("exec.jobs", med(sumW(_)(_.jobs)), "count"),
      ("exec.stages", med(sumW(_)(_.stages)), "count"),
      ("exec.tasks", med(sumW(_)(_.tasks)), "count"),
      ("exec.task_run_ms", med(sumW(_)(_.runMs)), "ms"),
      ("exec.task_cpu_ms", med(sumW(_)(_.cpuNs)) / 1e6, "ms"),
      ("exec.scheduler_wait_ms", med(sumW(_)(_.schedMs)), "ms"),
      ("exec.gc_ms", all.gcMs.toDouble, "ms"),
      ("exec.shuffle_write_bytes", med(sumW(_)(_.shuffleWrite)), "B"),
      ("exec.shuffle_read_bytes", med(sumW(_)(_.shuffleRead)), "B"),
      ("exec.spill_bytes", all.spill.toDouble, "B"),
      ("exec.parallel_eff", all.runMs / math.max(1e-9, execWall * ctx.cores), "ratio"),
      ("exec.task_skew", all.skew, "ratio"),
      ("storage.files_read", med(_.plan.files.toDouble), "count"),
      ("storage.partitions_read", med(_.plan.partitions.toDouble), "count"),
      ("storage.bytes_read", med(_.plan.bytes.toDouble), "B"),
      ("storage.rows_scanned", med(_.plan.rowsScanned.toDouble), "count"),
      ("storage.scan_ms", med(_.plan.scanMs.toDouble), "ms"),
      ("storage.rows_per_result_row", scanned / math.max(1.0, returned), "ratio"),
      ("core.memo_entries_peak", ctx.memoEntriesPeak.toDouble, "count"),
      ("core.storage_mem_peak_bytes", ctx.storagePeakBytes.toDouble, "B"),
      ("core.blocks_dropped", (MetricsTap.settled(ctx.spark).blocksDropped - blocks0).toDouble, "count")) ++
      out.layers ++
      t.selfMs.toSeq.sortBy(_._1).map { case (n, ms) => (s"self.$n", ms, "ms") }
  }

  /** Digest every query the workload can issue, for the data variant of
    * each seed listed. */
  private def record(ctx: Ctx): Unit = {
    val out = Paths.get(ctx.opts.digests, s"${ctx.opts.workload}.json")
    var all = if (Files.exists(out)) Json.read(out) else Map.empty[String, Any]
    ctx.opts.record.foreach { seed =>
      val c = new Ctx(ctx.spark, ctx.opts.copy(seed = seed), ctx.tracer, ctx.cores)
      graft.core.Memo.clearSession(ctx.spark)
      ctx.spark.catalog.clearCache()
      ctx.spark.catalog.listTables().collect().foreach(t =>
        ctx.spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      val w = workload(c)
      w.setup(1)
      val d = w.recordAll()
      all += c.data.toString -> d
      System.err.println(s"[perfbench] recorded ${d.size} digests for variant ${c.data}")
      Files.write(out, Json.write(all).getBytes("UTF-8"))
    }
  }
}
