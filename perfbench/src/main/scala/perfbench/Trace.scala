package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into one layer of graft. */
final case class Span(id: Int, parent: Int, req: Long, name: String, startNs: Long, var endNs: Long)

/** Spark work attributed to one job group (one layer span of one request). */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedMs, shuffleRead, shuffleWrite, spill = 0L
  val taskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty
  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; schedMs += o.schedMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    o.taskMs.foreach { case (s, d) => taskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= d }
  }
  /** Median over stages of (slowest task ÷ median task). */
  def skew: Double = Stats.median(taskMs.values.filter(_.nonEmpty).map { d =>
    val s = d.sorted
    s.last.toDouble / math.max(1L, s(s.length / 2)).toDouble
  }.toSeq)
}

/** Listener that sums job, stage and task metrics per job group. Groups the
  * tracer sets are `pb:<request>:<layer>`; anything else (the streaming
  * query's own jobs) lands under its own group id. */
final class JobTap extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Work]
  private val stageGroup = mutable.Map.empty[Int, String]
  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("none")
  private def work(g: String): Work = byGroup.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    work(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageInfo.stageId, group(e.properties))
    work(g).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageGroup.getOrElse(e.stageId, "none"))
    val m = e.taskMetrics
    val i = e.taskInfo
    w.tasks += 1
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // the Spark UI's scheduler delay: task wall time not spent running,
      // (de)serializing or shipping the result
      w.schedMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
    }
    w.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += i.duration
  }

  /** Remove and return the work of every group whose name starts with `prefix`. */
  def take(prefix: String): Map[String, Work] = synchronized {
    val ks = byGroup.keys.filter(_.startsWith(prefix)).toList
    val out = ks.map(k => k -> byGroup(k)).toMap
    ks.foreach(byGroup.remove)
    out
  }
}

/** Captures every query execution (collect, noop write, eager jobs inside a
  * query builder) so its executed plan can be read after the request. */
final class QeTap extends QueryExecutionListener {
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = q.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = q.add(qe)
  def drain(): Seq[QueryExecution] = Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
}

/** Plan-level counts of one query execution: Catalyst phases and the scan
  * nodes of the executed (AQE-final) plan. */
final case class PlanStats(analysisMs: Long, optimizerMs: Long, planningMs: Long,
                           logicalNodes: Long, physicalNodes: Long, files: Long,
                           partitions: Long, bytes: Long, rowsScanned: Long, scanMs: Long) {
  def +(o: PlanStats): PlanStats = PlanStats(analysisMs + o.analysisMs, optimizerMs + o.optimizerMs,
    planningMs + o.planningMs, logicalNodes + o.logicalNodes, physicalNodes + o.physicalNodes,
    files + o.files, partitions + o.partitions, bytes + o.bytes, rowsScanned + o.rowsScanned,
    scanMs + o.scanMs)
}

object PlanStats extends AdaptiveSparkPlanHelper {
  val zero: PlanStats = PlanStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  def of(qe: QueryExecution): PlanStats = {
    val phases = qe.tracker.phases
    def phase(n: String): Long = phases.get(n).map(_.durationMs).getOrElse(0L)
    val plan: SparkPlan = qe.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    def m(s: SparkPlan, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
    PlanStats(phase("analysis"), phase("optimization"), phase("planning"),
      qe.analyzed.collect { case p => p }.size.toLong, nodes.size.toLong,
      scans.map(m(_, "numFiles")).sum, scans.map(m(_, "numPartitions")).sum,
      scans.map(m(_, "filesSize")).sum, scans.map(m(_, "numOutputRows")).sum,
      scans.map(s => m(s, "scanTime") + m(s, "metadataTime")).sum)
  }
}

/** One traced request: its spans' work and plan statistics. */
final class Request(val id: Long, val phase: String) {
  val work: mutable.Map[String, Work] = mutable.Map.empty
  var plan: PlanStats = PlanStats.zero
  var resultRows = 0L
}

/** In-memory span recorder. When off, `span` is a plain call: the untraced
  * run pays nothing. When on, each span also sets the Spark job group
  * `pb:<request>:<span>`, so the jobs it launches are attributed to it. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val requests: mutable.ArrayBuffer[Request] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  /** Phase label copied into each request (a workload may have two). */
  var phase = "read"
  private var req = 0L
  private val jobs = new JobTap
  private val qes = new QeTap
  if (on) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(qes)
  }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), req, name, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      spark.sparkContext.setJobGroup(s"pb:$req:$name", name)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(s"pb:$req:${p.name}", p.name)
          case None    => spark.sparkContext.clearJobGroup()
        }
      }
    }

  /** Run one request under a root span; when tracing, attribute its Spark
    * work and plans once the listener bus has delivered them. */
  def request[T](name: String)(f: => T): T = {
    req += 1
    val out = span(name)(f)
    if (on) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val r = new Request(req, phase)
      jobs.take(s"pb:$req:").foreach { case (g, w) =>
        r.work.getOrElseUpdate(g.split(":", 3)(2), new Work) += w }
      r.plan = qes.drain().map(PlanStats.of).foldLeft(PlanStats.zero)(_ + _)
      requests += r
    }
    out
  }

  def setResultRows(n: Long): Unit = if (on && requests.nonEmpty) requests.last.resultRows = n

  def close(): Unit = if (on) {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(qes)
  }

  /** Self time per span name: duration minus the part covered by children. */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  /** Per-request duration of spans named `name` (summed within a request). */
  def perRequestMs(name: String, ids: Set[Long]): Seq[Double] =
    spans.filter(s => s.name == name && ids(s.req)).groupBy(_.req).values
      .map(_.map(s => (s.endNs - s.startNs) / 1e6).sum).toSeq

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "request" -> s.req, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Streaming progress of the ingest query, kept for lag and layer metrics. */
final class ProgressTap extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = progress.asScala.toSeq
}
