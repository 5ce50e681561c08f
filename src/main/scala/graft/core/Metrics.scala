package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Process-wide accumulator of executor task metrics (shuffle + spill bytes),
  * fed by a [[SparkListener]] registered once per SparkContext.
  *
  * Purpose: make performance drift ATTRIBUTABLE. A query whose wall time rises
  * while its shuffle/spill bytes stay flat is host noise; one whose spill
  * grows is a real regression. `Bench` snapshots around every timed run and
  * emits the deltas; `Dedup.clusterPairs` uses it for a per-round breakdown.
  *
  * Listener-bus delivery is asynchronous, so a snapshot taken immediately
  * after an action can miss that action's tail task events — [[settled]]
  * polls until two consecutive reads agree (or a deadline passes).
  */
object MetricsTap {

  /** Monotonic totals at one instant; subtract two for a per-region delta.
    * `gcMs` is JVM collector time (ManagementFactory beans) — block-manager
    * cache eviction never shows up as task spill, but the GC thrash it
    * causes shows here. `blocksDropped` counts block-update events whose
    * new storage level is invalid, i.e. cached blocks REMOVED from the
    * block manager (LRU eviction under memory pressure and explicit
    * unpersists both land here) — a per-query delta that climbs while
    * spill stays flat is the cache-thrash signature. */
  final case class Snap(shuffleRead: Long, shuffleWrite: Long,
                       memSpill: Long, diskSpill: Long,
                       gcMs: Long = 0L, blocksDropped: Long = 0L) {
    def -(o: Snap): Snap = Snap(shuffleRead - o.shuffleRead,
      shuffleWrite - o.shuffleWrite, memSpill - o.memSpill, diskSpill - o.diskSpill,
      gcMs - o.gcMs, blocksDropped - o.blocksDropped)
    /** Bytes that crossed a shuffle boundary (read + write). */
    def shuffleBytes: Long = shuffleRead + shuffleWrite
    /** Bytes that left execution memory under pressure (in-memory + on-disk
      * spill sizes; disk > 0 is the signal that a host was memory-starved). */
    def spillBytes: Long = memSpill + diskSpill
  }

  /** Total stop-the-world collector milliseconds since JVM start. */
  def jvmGcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Point-in-time block-manager storage gauge: (bytes in memory, bytes on
    * disk, cached RDD count) summed over live cached RDDs. The channel that
    * makes standing-cache pressure visible next to the per-query deltas. */
  def storageGauge(spark: SparkSession): (Long, Long, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum, infos.map(_.diskSize).sum, infos.length)
  }

  private final class Tap extends SparkListener {
    val sr = new AtomicLong; val sw = new AtomicLong
    val ms = new AtomicLong; val ds = new AtomicLong
    val bd = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        sr.addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        ms.addAndGet(m.memoryBytesSpilled)
        ds.addAndGet(m.diskBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (!e.blockUpdatedInfo.storageLevel.isValid) bd.incrementAndGet()
    def snap: Snap = Snap(sr.get, sw.get, ms.get, ds.get, jvmGcMs, bd.get)
  }

  private val taps = new java.util.concurrent.ConcurrentHashMap[SparkContext, Tap]()
  private def tap(spark: SparkSession): Tap =
    taps.computeIfAbsent(spark.sparkContext, sc => {
      val t = new Tap; sc.addSparkListener(t); t
    })

  /** Runs `f` with its Spark jobs marked (a local property, which the jobs
    * of its broadcasts and subqueries inherit) and returns its value with a
    * count of those jobs. The count waits for the listener bus to deliver
    * them, so call it after any timed region; jobs of other threads never
    * count. */
  def countJobs[A](spark: SparkSession)(f: => A): (A, () => Int) = {
    val sc = spark.sparkContext
    val (key, mark) = ("graft.countJobs", java.util.UUID.randomUUID.toString)
    val n = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == mark) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    val outer = sc.getLocalProperty(key)
    sc.setLocalProperty(key, mark)
    val a = try f catch { case e: Throwable => sc.removeSparkListener(l); throw e }
    finally sc.setLocalProperty(key, outer)
    (a, () => {
      org.apache.spark.sql.graft.BusBridge.drain(sc)
      sc.removeSparkListener(l)
      n.get.toInt
    })
  }

  /** Current totals — may lag in-flight tasks; pair with [[settled]] at the
    * END of a measured region so the delta includes the region's tail. */
  def snapshot(spark: SparkSession): Snap = tap(spark).snap

  /** Totals after the listener bus has gone quiet: polls every 10ms until two
    * consecutive reads agree, bounded by `maxWaitMs`. */
  def settled(spark: SparkSession, maxWaitMs: Long = 300): Snap = {
    val t = tap(spark)
    val deadline = System.nanoTime + maxWaitMs * 1000000L
    var prev = t.snap
    while (System.nanoTime < deadline) {
      Thread.sleep(10)
      val cur = t.snap
      // gcMs ticks with ANY collector activity — settling means the
      // listener-bus-fed counters went quiet, so compare those only
      if (cur.copy(gcMs = 0) == prev.copy(gcMs = 0)) return cur
      prev = cur
    }
    prev
  }
}
