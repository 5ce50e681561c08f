package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{Memo, MetricsTap}
import graft.lang.m3.{Compiler => M3Compiler, M3QL, Parser}
import graft.lang.prom.PromQL
import graft.serve.QueryParams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What every workload shares: the session, options, tracer and gauges. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer, val cores: Int) {
  val work: Path = Paths.get(opts.work)
  /** The data variant of this run's seed (see `Gen.variant`). */
  val data: Long = Gen.variant(opts.seed)
  private var memoPeak = 0
  private var storagePeak = 0L
  /** Sample the memo ledger and the block-manager storage gauge. */
  def gauge(): Unit = {
    memoPeak = math.max(memoPeak, Memo.liveEntries(spark))
    storagePeak = math.max(storagePeak, MetricsTap.storageGauge(spark)._1)
  }
  def memoEntriesPeak: Int = memoPeak
  def storagePeakBytes: Long = storagePeak

  /** Reference digests committed for this workload and data variant. */
  lazy val reference: Map[String, String] = {
    val f = Paths.get(opts.digests, s"${opts.workload}.json")
    if (!Files.exists(f)) Map.empty
    else Json.read(f).get(data.toString).map(_.asInstanceOf[Map[String, Any]].map {
      case (k, v) => k -> v.toString }).getOrElse(Map.empty)
  }
}

/** One workload's measured part. Latencies are per operation, in ms. */
final case class Outcome(
    latenciesMs: Seq[Double], wallS: Double, attempted: Long, failed: Long,
    extra: Seq[(String, Double, String)], layers: Seq[(String, Double, String)],
    correctness: Map[String, Any])

trait Workload {
  /** Build this workload's inputs; called several times, the last build is used. */
  def setup(rep: Int): Unit
  def warmup(): Unit
  def run(seconds: Int): Outcome
  /** Digest of every query the workload can issue for its data variant,
    * keyed as the run's correctness check looks them up. */
  def recordAll(): Map[String, String]
}

/** Compares result digests with the committed reference for this run's
  * data variant. Only an exact match passes: a digest with no reference
  * counts as a failure, like a wrong one. */
final class Checker(ctx: Ctx) {
  val digests: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  private var mismatches = List.empty[String]
  private var missing = List.empty[String]
  def record(key: String, digest: String): Unit = digests.getOrElseUpdate(key, digest)
  /** Number of digests that are wrong or have no reference. */
  def verify(): Int = {
    digests.foreach { case (k, d) =>
      ctx.reference.get(k) match {
        case None              => missing ::= k
        case Some(r) if r != d => mismatches ::= k
        case _                 =>
      }
    }
    mismatches.size + missing.size
  }
  def report: Map[String, Any] = Map(
    "reference" -> s"digests/${ctx.opts.workload}.json, variant ${ctx.data}",
    "distinct_queries" -> digests.size,
    "wrong_digests" -> mismatches.reverse, "no_reference" -> missing.reverse)
}

/** Runs M3QL / PromQL range queries through the QueryParams entry points. */
final class SeriesClient(ctx: Ctx) {
  import ctx.{spark, tracer}

  /** One query, fully materialized with `collect()` as a serving endpoint
    * returns rows. Traced, the same calls are split at the layer boundaries:
    * date-math → parse → compile → Catalyst planning → execution. */
  def run(q: Gen.Q, samples: => DataFrame, nowMs: Long): Array[Row] = {
    val params = QueryParams(q.text, q.start, q.end, q.stepMs)
    val rows = tracer.request("query") {
      if (!tracer.on) {
        val df =
          if (q.lang == "m3") M3QL.query(spark, samples, params, nowMs)
          else PromQL.query(spark, samples, params, nowMs)
        df.collect()
      } else {
        val s = tracer.span("storage.open")(samples)
        val grid = tracer.span("serve")(params.grid(nowMs))
        val df =
          if (q.lang == "m3") {
            val ast = tracer.span("lang.parse")(Parser.parse(params.query))
            tracer.span("lang.compile")(new M3Compiler(spark, s, grid).compile(ast))
          } else {
            val ast = tracer.span("lang.parse")(PromQL.parse(params.query))
            tracer.span("lang.compile")(new PromQL.Compiler(spark, s, grid).compile(ast))
          }
        tracer.span("catalyst")(df.queryExecution.executedPlan)
        tracer.span("exec")(df.collect())
      }
    }
    tracer.setResultRows(rows.length.toLong)
    ctx.gauge()
    rows
  }
}

/** Closed loops of one client. */
object ClosedLoop {
  final case class Done(latMs: Seq[Double], wallS: Double, attempted: Long, failed: Long)

  private final class Acc {
    val lat = mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    def exec(q: Gen.Q, f: Gen.Q => Unit): Unit = {
      val s = System.nanoTime()
      try f(q)
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] query failed: ${q.key}: $e")
      }
      lat += (System.nanoTime() - s) / 1e6
    }
    def done(t0: Long) = Done(lat.toSeq, (System.nanoTime() - t0) / 1e9, lat.size.toLong, failed)
  }

  /** Queries from `next` until `seconds` have passed. */
  def apply(seconds: Int)(next: () => Gen.Q)(f: Gen.Q => Unit): Done = {
    val a = new Acc
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1000000000L) a.exec(next(), f)
    a.done(t0)
  }

  /** Whole rounds: the first always, another only if it can end within `seconds`. */
  def rounds(seconds: Int)(rounds: Iterator[Seq[Gen.Q]])(f: Gen.Q => Unit): Done = {
    val a = new Acc
    val t0 = System.nanoTime()
    var last = 0.0
    while (a.lat.isEmpty || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
      val r0 = System.nanoTime()
      rounds.next().foreach(a.exec(_, f))
      last = (System.nanoTime() - r0) / 1e9
    }
    a.done(t0)
  }
}

/** Dashboard panels over a 12-hour samples table, then the same reader
  * while ingest streams new minutes into a live table beside it.
  *
  * Phase `read`: one closed-loop client runs whole refresh rounds of panels
  * against the static table, the first always and another only while it
  * can end within 60 % of the run's seconds; at the seed engine's speed that
  * is exactly one round of 16 queries. Phase `ingest` (the rest): one thread
  * writes wire-format files on a fixed schedule (open loop), `Ingest.start`
  * consumes them with its 1 s trigger, and the client reads the union of the
  * static table and the live table being written. */
final class DashboardWorkload(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  /** Data and panels come from the variant; the seed orders the rounds. */
  private val seed = ctx.data
  /** Minutes of the bulk-built table; the stream continues after it. */
  val History = 720
  /** One wire file (one data minute of every series) every IntervalMs. */
  val IntervalMs = 250L
  val ToleranceMs: Long = 10 * Gen.Minute
  private val client = new SeriesClient(ctx)
  private var dir: Path = _
  private def history = dir.resolve("history").toString
  private def src = dir.resolve("wire")
  private def live = dir.resolve("live").toString
  private def ckpt = dir.resolve("checkpoint").toString
  private def minute(m: Long) = Gen.t0(seed) + m * Gen.Minute

  def setup(rep: Int): Unit = {
    dir = ctx.work.resolve(s"dashboard-$rep")
    Gen.seriesTable(spark, seed, History, history)
  }

  /** Three M3QL and three PromQL shapes once, with another seed's
    * matchers: untimed, not part of the measured sequence, and enough to
    * warm both front-ends and the scan without paying every shape's first
    * run in set-up. */
  def warmup(): Unit = {
    val other = Gen.panels(seed + 1000003L)
    Seq(0, 1, 2, 6, 7, 8).foreach(i =>
      client.run(other(i), Gen.readSamples(spark, history), minute(History)))
  }

  def run(seconds: Int): Outcome = {
    val panels = Gen.panels(seed)
    val rounds = Gen.dashboardRounds(ctx.opts.seed).map(_.map(panels))
    val readS = math.max(1, math.round(seconds * 0.6).toInt)

    // ---- phase read: the static table, whole refresh rounds ----
    val first = mutable.LinkedHashMap.empty[String, Array[Row]]
    val read = ClosedLoop.rounds(readS)(rounds) { q =>
      val rows = client.run(q, Gen.readSamples(spark, history), minute(History))
      if (!first.contains(q.key)) first(q.key) = rows
    }
    val check = new Checker(ctx)
    first.foreach { case (k, rows) => check.record(k, Digest.of(Nil, rows)) }
    val wrong = check.verify()

    // ---- phase ingest: the live table grows under the same reader ----
    tracer.phase = "ingest"
    Files.createDirectories(src)
    val progress = new ProgressTap
    spark.streams.addListener(progress)
    // the first file is written before the stream starts, so the live table
    // exists once its first batch commits; it is not counted in the lag
    Gen.publish(src, f"wire-$History%06d.json", Gen.wireBytes(seed, Gen.wireSamples(seed, History, History)))
    val query = graft.streaming.Ingest.start(spark, src.toString, live, ckpt, ToleranceMs)
    while (!Files.exists(Paths.get(live, "_spark_metadata", "0"))) {
      query.exception.foreach(e => throw e)
      Thread.sleep(20)
    }
    @volatile var stop = false
    @volatile var written = 0
    val due = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    var lateMax = 0L
    var offered = 0L
    val start = System.currentTimeMillis()
    // open loop: file j is due at start + j * IntervalMs, late or not
    val writer = new Thread(() => {
      var j = 0
      while (!stop) {
        val dueAt = start + j * IntervalMs
        val wait = dueAt - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (!stop) {
          val k = History + 1 + j
          val s = Gen.wireSamples(seed, k, History)
          val name = f"wire-$k%06d.json"
          Gen.publish(src, name, Gen.wireBytes(seed, s))
          lateMax = math.max(lateMax, System.currentTimeMillis() - dueAt)
          offered += s.size
          due.put(name, dueAt)
          j += 1
          written = j
        }
      }
    }, "perfbench-writer")
    writer.start()
    val next = rounds.flatten
    val ingest = ClosedLoop(seconds - readS)(() => next.next()) { q =>
      client.run(q, Gen.readSamples(spark, history).unionByName(Gen.readSamples(spark, live)),
        minute(History + 1 + written))
    }
    stop = true
    writer.join()
    val lastMinute = History + written
    val committedAtStop = committedFiles()
    val backlog = due.keySet.asScala.count(n => !committedAtStop.contains(n))
    val busy = progress.all.filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= start)
      .map(p => p.durationMs.asScala.getOrElse("triggerExecution", 0L: java.lang.Long).toLong).sum

    // drain: the held-back samples go out in a final file, then everything is committed
    Gen.publish(src, "wire-flush.json", Gen.wireBytes(seed, Gen.heldBack(seed, lastMinute, History)))
    query.processAllAvailable()
    query.stop()
    spark.streams.removeListener(progress)
    tracer.phase = "read"

    // lag: from each file's due time to the commit of the batch that read it
    val commitAt = progress.all.map(p => p.batchId ->
      (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.asScala.getOrElse("triggerExecution", 0L: java.lang.Long).toLong)).toMap
    val fileBatch = committedFiles()
    val lags = due.asScala.toSeq.flatMap { case (n, d) =>
      fileBatch.get(n).flatMap(commitAt.get).map(c => (c - d).toDouble) }

    // correctness: the live table holds exactly the distinct generated samples
    val got = new Digest.Acc
    spark.read.parquet(live).select("labels", "timestamp", "value").collect().foreach { r =>
      val key = r.getMap[String, String](0).toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString(",")
      got.add(Seq(key, r.getLong(1), r.getDouble(2)))
    }
    val want = Gen.expectedIngest(seed, (History.toLong to lastMinute).iterator
      .flatMap(m => (0 until Gen.NSeries).iterator.map(sid => (sid, m))))
    val ingestOk = got.value == want.value
    val parquet = Files.walk(Paths.get(live)).iterator.asScala.toSeq
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_spark_metadata"))
    val ps = progress.all
    def phase(n: String): Seq[Double] =
      ps.map(p => p.durationMs.asScala.get(n).map(_.toLong.toDouble).getOrElse(0.0))
    val state = ps.flatMap(_.stateOperators)
    val layers = Seq(
      ("streaming.batches", ps.size.toDouble, "count"),
      ("streaming.trigger_ms", Stats.median(phase("triggerExecution")), "ms"),
      ("streaming.add_batch_ms", Stats.median(phase("addBatch")), "ms"),
      ("streaming.query_planning_ms", Stats.median(phase("queryPlanning")), "ms"),
      ("streaming.wal_commit_ms", Stats.median(phase("walCommit")), "ms"),
      ("streaming.latest_offset_ms", Stats.median(phase("latestOffset")), "ms"),
      ("streaming.input_rows", ps.map(_.numInputRows.toDouble).sum, "count"),
      ("streaming.rows_per_s", Stats.median(ps.filter(_.numInputRows > 0).map(_.processedRowsPerSecond)), "1/s"),
      ("streaming.state_rows", if (state.isEmpty) 0.0 else state.map(_.numRowsTotal.toDouble).max, "count"),
      ("streaming.state_mem_bytes", if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes.toDouble).max, "B"),
      ("streaming.late_rows_dropped", state.map(_.numRowsDroppedByWatermark.toDouble).sum, "count"),
      ("streaming.files_written", parquet.size.toDouble, "count"),
      ("streaming.busy_frac", busy / (ingest.wallS * 1000.0), "ratio"),
      ("streaming.backlog_files_end", backlog.toDouble, "count"),
      ("gen.late_ms_max", lateMax.toDouble, "ms"),
      ("gen.samples_offered", offered.toDouble, "count"))
    val extra = Seq(
      ("ingest_read.query_p50_ms", Stats.median(ingest.latMs), "ms"),
      ("ingest_read.queries_per_s", ingest.latMs.size / ingest.wallS, "1/s"),
      ("ingest_lag_p50_ms", Stats.median(lags), "ms"),
      ("ingest_lag_p90_ms", Stats.quantile(lags, 0.9), "ms"),
      ("ingest_bytes_per_sample", parquet.map(Files.size(_)).sum.toDouble / math.max(1L, got.rows), "B"))
    Outcome(read.latMs, read.wallS, read.attempted + ingest.attempted + 1,
      read.failed + wrong + ingest.failed + (if (ingestOk) 0 else 1),
      extra, layers, check.report ++ Map(
        "ingest_read_digests" -> "not checked: the live table grows while it is read",
        "ingest" -> Map("committed_samples" -> got.rows, "expected_samples" -> want.rows,
          "committed_digest" -> got.value, "expected_digest" -> want.value, "equal" -> ingestOk),
        "files_lag_measured" -> lags.size, "ingest_read_queries" -> ingest.latMs.size))
  }

  def recordAll(): Map[String, String] =
    Gen.panels(seed).map(q =>
      q.key -> Digest.of(Nil, client.run(q, Gen.readSamples(spark, history), minute(History)))).toMap

  /** wire file name → batch id, from the file source's checkpoint log. */
  private def committedFiles(): Map[String, Long] = {
    val log = Paths.get(ckpt, "sources", "0")
    if (!Files.exists(log)) Map.empty
    else Files.list(log).iterator.asScala.toSeq.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => scala.util.Try(Files.readAllLines(f).asScala.toSeq).getOrElse(Nil))
      .filter(_.startsWith("{"))
      .flatMap { l =>
        val m = Json.parse(l)
        for (p <- m.get("path"); b <- m.get("batchId"))
          yield p.toString.split('/').last -> b.toString.toLong
      }.toMap
  }
}

/** Passes over a fixed subset of the registry, one query per pipeline
  * family; another pass only while it can end within the run's seconds (at
  * the seed engine's speed one pass takes longer, so a run is one pass). The
  * seed orders the families; its data variant generates their input tables.
  * Families are evicted in between, and each
  * family's query first runs untimed (rebuilding the family's shared inputs;
  * its rows give the digest), then `Repeats` times timed with a `noop`
  * write; each repeat counts as one pass in `batch_s`. */
final class RegistryWorkload(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  private var sf = ""

  lazy val plan: Seq[(String, String)] = RegistryWorkload.order(ctx.opts.seed)
  /** Timed runs of each query after its family's untimed first run. */
  val Repeats = 2
  private def fn(name: String) = graft.queries.Registry.queries(name)

  def setup(rep: Int): Unit = {
    sf = ctx.work.resolve(s"registry-$rep").toString
    RegistryData.write(spark, ctx.data, sf)
  }
  /** Each family warms up inside the pass (its untimed first run). */
  def warmup(): Unit = ()

  private def evict(): Unit = {
    Memo.clearSession(spark)
    spark.catalog.clearCache()
  }

  def run(seconds: Int): Outcome = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val famS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var warmS = 0.0
    val passes = mutable.ArrayBuffer.empty[Double]
    val first = mutable.LinkedHashMap.empty[String, String]
    // a timed noop write returns no rows; its count is the untimed run's
    val resultRows = mutable.Map.empty[String, Long]
    var failed = 0L
    var attempted = 0L
    def timed(f: => Unit): Double = { val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9 }
    def attempt(q: String)(f: => Unit): Unit =
      try f catch { case e: Exception =>
        failed += 1; System.err.println(s"[perfbench] $q failed: $e") }
    val t0 = System.nanoTime()
    var lastWall = 0.0
    // another pass only if it can end within the run's seconds
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 + lastWall <= seconds) {
      val p0 = System.nanoTime()
      val pass = Array.fill(Repeats)(0.0)
      plan.foreach { case (fam, q) =>
        tracer.span(s"pipelines.$fam") {
          evict()
          attempted += 1
          tracer.phase = "warmup"
          warmS += timed(attempt(q)(tracer.request(q) {
            val df = tracer.span("registry.build")(fn(q)(spark, sf))
            val rows = tracer.span("exec")(df.collect())
            resultRows(q) = rows.length.toLong
            if (!first.contains(q)) first(q) = Digest.of(df.columns.toSeq, rows)
          }))
          tracer.phase = "read"
          (0 until Repeats).foreach { r =>
            attempted += 1
            val s = timed(attempt(q)(tracer.request(q) {
              val df = tracer.span("registry.build")(fn(q)(spark, sf))
              tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
            }))
            tracer.setResultRows(resultRows.getOrElse(q, 0L))
            ctx.gauge()
            lat += s * 1000.0
            famS(fam) += s
            pass(r) += s
          }
        }
      }
      passes ++= pass
      lastWall = (System.nanoTime() - p0) / 1e9
    }
    val check = new Checker(ctx)
    first.foreach { case (q, d) => check.record(q, d) }
    val wrong = check.verify()
    val n = passes.size.toDouble
    val layers = plan.map { case (f, _) => (s"pipelines.${f}_s", famS(f) / n, "s") } :+
      (("pipelines.warmup_s", warmS * Repeats / n, "s"))
    // throughput over the timed (warm, noop-materialized) queries only: the
    // untimed family warm-ups are cold by design and reported on their own
    Outcome(lat.toSeq, lat.sum / 1000.0, attempted, failed + wrong,
      Seq(("batch_s", Stats.median(passes.toSeq), "s")), layers,
      check.report ++ Map("passes" -> passes.size, "order" -> plan.map(_._2)))
  }

  def recordAll(): Map[String, String] =
    plan.map { case (_, q) =>
      evict()
      val df = fn(q)(spark, sf)
      q -> Digest.of(df.columns.toSeq, df.collect())
    }.toMap
}

object RegistryWorkload {
  /** One query per family; every one has a DuckDB oracle in the registry. */
  val Subset: Seq[(String, String)] = Seq(
    "dedup" -> "dedup_minhash_portable", "text" -> "text_langid",
    "corpus" -> "corpus_mix_sources", "vector" -> "ann_batch_topk",
    "retrieval" -> "retrieval_bm25", "events" -> "events_sessionize",
    "tpch" -> "tpch_q1_pricing")

  /** The seed's order of the (family, query) pairs. */
  def order(seed: Long): Seq[(String, String)] = {
    val rng = new Gen.Rng(seed, 400)
    Subset.sortBy(_ => rng.next())
  }
}
