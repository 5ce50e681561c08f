package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import graft.core.TsSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Everything a workload feeds graft — the samples
  * table, the wire files, the query sequences — is a pure function of the
  * seed, so the same seed reproduces the same inputs byte for byte. */
object Gen {

  /** splitmix64 finalizer: the one hash every generated value derives from. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(mix(seed) ^ a) ^ b) ^ c)
  /** Data variants with committed reference digests. A seed's data — the
    * samples table, the wire files, the panel matchers and the registry
    * tables — is that of variant `seed mod Variants`; the seed itself orders
    * the queries. So every seed's results are checked against a recorded
    * digest. */
  val Variants = 32
  def variant(seed: Long): Long = java.lang.Math.floorMod(seed, Variants.toLong)

  /** Uniform [0, 1) from a hash. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Sequential seeded draws (query sequences, panel parameters). */
  final class Rng(seed: Long, stream: Long) {
    private var n = 0L
    def next(): Long = { n += 1; hash(seed, stream, n) }
    def below(k: Int): Int = java.lang.Long.remainderUnsigned(next(), k.toLong).toInt
    def uniform(): Double = unit(next())
    def pick[T](xs: IndexedSeq[T]): T = xs(below(xs.length))
  }

  // ---- the series catalog ----------------------------------------------------
  val Minute = 60000L
  val Gauges: IndexedSeq[String] = IndexedSeq("cpu_util", "mem_used", "disk_io", "latency_ms")
  val Counters: IndexedSeq[String] = IndexedSeq("http_requests", "http_errors")
  val Names: IndexedSeq[String] = Gauges ++ Counters
  val Hosts = 30
  val Dcs: IndexedSeq[String] = IndexedSeq("dca", "dcb", "dcc")
  val Services: IndexedSeq[String] = (0 until 10).map(i => f"svc$i%02d")
  val NSeries: Int = Names.length * Hosts

  def hostName(h: Int): String = f"h$h%03d"
  /** Position of host `h` in a seeded order. Position i serves service
    * i mod 10 in dc i div 10: every service has 3 hosts, every dc 10 and
    * every (service, dc) pair 1, so a matcher selects the same number of
    * series under every seed — only which ones changes. */
  private def slot(seed: Long, h: Int): Int =
    (0 until Hosts).count(o => hash(seed, 11, o) < hash(seed, 11, h))
  def hostDc(seed: Long, h: Int): String = Dcs(slot(seed, h) / Services.length)
  def hostService(seed: Long, h: Int): String = Services(slot(seed, h) % Services.length)
  def hostEnv(seed: Long, h: Int): String = if (slot(seed, h) % 5 == 4) "stage" else "prod"

  /** Sorted label pairs of series `sid` (name-major: sid = name * Hosts + host). */
  def labels(seed: Long, sid: Int): Seq[(String, String)] = {
    val h = sid % Hosts
    Seq("dc" -> hostDc(seed, h), "env" -> hostEnv(seed, h), "host" -> hostName(h),
      "name" -> Names(sid / Hosts), "service" -> hostService(seed, h))
  }

  /** First instant of the generated timeline: a seeded UTC midnight in 2025. */
  def t0(seed: Long): Long =
    1735689600000L + java.lang.Long.remainderUnsigned(hash(seed, 1), 200) * 86400000L

  /** Sample value of series `sid` at minute `m` of the timeline, rounded to
    * three decimals so the JSON wire form round-trips exactly. Gauges follow
    * a daily wave plus noise; counters grow monotonically. */
  def value(seed: Long, sid: Int, m: Long): Double = {
    val isCounter = sid / Hosts >= Gauges.length
    val r = unit(hash(seed, 21, sid))
    val v =
      if (isCounter) (1.0 + 19.0 * r) * m + 3.0 * math.sin(m / 5.0) + 3.0
      else {
        val base = 10.0 + 80.0 * r
        val amp = 2.0 + 18.0 * unit(hash(seed, 22, sid))
        val phase = 1440.0 * unit(hash(seed, 23, sid))
        base + amp * math.sin(2 * math.Pi * (m + phase) / 1440.0) +
          amp * 0.3 * (unit(hash(seed, 24, sid, m)) - 0.5)
      }
    math.rint(v * 1000.0) / 1000.0
  }

  /** Canonical sorted `k:v,k:v` key — the same string graft hashes into
    * `series_id` (TsSchema.seriesKey). */
  def seriesKey(seed: Long, sid: Int): String =
    labels(seed, sid).map { case (k, v) => s"$k:$v" }.mkString(",")

  /** The samples table in the ingest sink's layout (series_id, labels map,
    * timestamp, value; day partitions), `minutes` of 1-minute samples per
    * series from `t0(seed)`. */
  def seriesTable(spark: SparkSession, seed: Long, minutes: Int, path: String): Unit = {
    import spark.implicits._
    val catalog = (0 until NSeries).map(sid => (sid, labels(seed, sid).toMap)).toDF("sid", "labels")
    val valueUdf = udf((sid: Int, m: Long) => value(seed, sid, m))
    spark.range(0L, NSeries.toLong * minutes, 1L, spark.sparkContext.defaultParallelism)
      .select((col("id") / minutes).cast("int").as("sid"), (col("id") % minutes).as("m"))
      .join(broadcast(catalog), "sid")
      .select(
        TsSchema.seriesId(col("labels")).as(TsSchema.SeriesId),
        col("labels").as(TsSchema.LabelsCol),
        (lit(t0(seed)) + col("m") * Minute).as(TsSchema.Ts),
        valueUdf(col("sid"), col("m")).as(TsSchema.Value))
      .withColumn("day", date_trunc("day", timestamp_millis(col(TsSchema.Ts))))
      .write.mode("overwrite").partitionBy("day").parquet(path)
  }

  /** A samples table read back in the canonical four columns. */
  def readSamples(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(TsSchema.SeriesId, TsSchema.LabelsCol, TsSchema.Ts, TsSchema.Value)

  // ---- query sequences -------------------------------------------------------
  /** One panel query: language, text and its QueryParams window. */
  final case class Q(lang: String, text: String, start: String, end: String, stepMs: Long) {
    def key: String = s"$lang|$start|$end|$stepMs|$text"
  }

  /** Panel shapes: M3QL and PromQL, each over one host, service or dc. */
  val Templates = 12

  /** Selective panels: two per shape, over the last 1–6 h. */
  def panels(seed: Long): IndexedSeq[Q] = {
    val rng = new Rng(seed, 100)
    def h = hostName(rng.below(Hosts)); def svc = rng.pick(Services); def dc = rng.pick(Dcs)
    val templates: IndexedSeq[() => (String, String)] = IndexedSeq(
      () => ("m3", s"fetch name:cpu_util host:$h | summarize 5m avg"),
      () => ("m3", s"fetch name:latency_ms service:$svc dc:$dc | max"),
      () => ("m3", s"fetch name:http_requests service:$svc | perSecond | sum host"),
      () => ("m3", s"fetch name:mem_used host:$h | movingAverage 10m"),
      () => ("m3", s"fetch name:http_errors service:$svc | perSecond | sum"),
      () => ("m3", s"fetch name:disk_io dc:$dc service:$svc | topK 3 max"),
      () => ("prom", s"""sum by (host) (rate(http_requests{service="$svc"}[5m]))"""),
      () => ("prom", s"""avg_over_time(cpu_util{host="$h"}[10m])"""),
      () => ("prom", s"""max by (dc) (latency_ms{service="$svc"})"""),
      () => ("prom", s"""topk(3, disk_io{dc="$dc", service="$svc"})"""),
      () => ("prom", s"""sum(rate(http_errors{service="$svc"}[5m]))"""),
      () => ("prom", s"""mem_used{host="$h"}"""))
    // the seed picks matchers; each template keeps its window, 1-6 h
    (0 until 2).flatMap(_ => templates.zipWithIndex.map { case (t, i) =>
      val (lang, text) = t()
      Q(lang, text, s"now-${1 + i % 6}h", "now", Minute)
    })
  }

  /** Dashboard refresh rounds. Round j refreshes every panel shape once with
    * parameterization j mod 2, and repeats the hottest shapes with Zipf(1.1)
    * counts (4, 2, then 1), in a seeded order. Every round holds the same mix
    * of shapes, so a run's latency median does not hinge on which shapes a
    * random draw happened to favour. Panel indices into `panels`. */
  def dashboardRounds(seed: Long): Iterator[Seq[Int]] =
    Iterator.from(0).map { j =>
      val rng = new Rng(seed, 200L + j)
      (0 until Templates).flatMap { t =>
        Seq.fill(math.max(1, math.round(4.0 / math.pow(t + 1, 1.1)).toInt))((j % 2) * Templates + t)
      }.sortBy(_ => rng.next())
    }

  // ---- wire files (the dashboard's ingest phase) ---------------------------
  /** Share of samples held back one or two files (out of order), and share
    * sent twice (duplicates). Both stay far inside the ingest tolerance. */
  val OooShare = 0.02
  val DupShare = 0.02

  private def delay(seed: Long, sid: Int, m: Long): Int = {
    val u = unit(hash(seed, 31, sid, m))
    if (u < OooShare / 2) 1 else if (u < OooShare) 2 else 0
  }

  /** Samples carried by wire file `k` (data minute `k`) of a stream that
    * starts at minute `from`: each series' sample for minute k unless held
    * back, the held-back samples of minutes k-1 and k-2 whose delay ends
    * now, and duplicates of minute k-1. */
  def wireSamples(seed: Long, k: Long, from: Long = 0L): Seq[(Int, Long)] =
    (0 until NSeries).flatMap { sid =>
      val own = if (delay(seed, sid, k) == 0) Seq(sid -> k) else Nil
      val late = (1 to 2).filter(d => k - d >= from && delay(seed, sid, k - d) == d).map(d => sid -> (k - d))
      val again = if (k - 1 >= from && unit(hash(seed, 32, sid, k - 1)) < DupShare) Seq(sid -> (k - 1)) else Nil
      own ++ late ++ again
    }

  /** Samples still held back after file `lastFile` of a stream from `from`. */
  def heldBack(seed: Long, lastFile: Long, from: Long = 0L): Seq[(Int, Long)] =
    (0 until NSeries).flatMap { sid =>
      (math.max(from, lastFile - 1) to lastFile).filter { m =>
        val d = delay(seed, sid, m)
        d > 0 && m + d > lastFile
      }.map(m => sid -> m)
    }

  /** JSON-lines bytes of `samples` in the wire schema
    * `{labels: "k v k v …", timestamp, value}`. */
  def wireBytes(seed: Long, samples: Seq[(Int, Long)]): Array[Byte] = {
    val sb = new StringBuilder
    samples.foreach { case (sid, m) =>
      val lbl = labels(seed, sid).map { case (k, v) => s"$k $v" }.mkString(" ")
      sb.append("{\"labels\":\"").append(lbl).append("\",\"timestamp\":")
        .append(t0(seed) + m * Minute).append(",\"value\":").append(value(seed, sid, m))
        .append("}\n")
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Write bytes under a hidden temp name, then rename into place, so the
    * file source never lists a half-written file. */
  def publish(dir: Path, name: String, bytes: Array[Byte]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Order-independent digest of the distinct (series key, timestamp, value)
    * samples a set of wire files carries — what the sink must commit. */
  def expectedIngest(seed: Long, samples: Iterator[(Int, Long)]): Digest.Acc = {
    val acc = new Digest.Acc
    val seen = new java.util.HashSet[(Int, Long)]()
    samples.foreach { s =>
      if (seen.add(s))
        acc.add(Seq(seriesKey(seed, s._1), t0(seed) + s._2 * Minute, value(seed, s._1, s._2)))
    }
    acc
  }
}
