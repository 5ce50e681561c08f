package graft

import graft.core.{OracleSafe, QueryGrid, StepMeta}
import graft.stages.{Normalizer, SeriesSet}

class NormalizerSpec extends SparkTestBase {
  private val S = Some(_: Double)
  private val N = Option.empty[Double]

  test("resample consolidates onto coarser grid") {
    val fine = samplesDF(series("name:a", Seq(S(1), S(2), S(3), S(4), S(5), S(6), N, N, N, N)))
    val coarse = QueryGrid(60000L, 60000L * 11, 120000L)  // 2m slots
    val out = toGolden(Normalizer.resample(fine, coarse, OracleSafe.seriesAgg("avg")), coarse)
    assert(out("name:a").take(3) == Seq(S(1.5), S(3.5), S(5.5)))
    val sums = toGolden(Normalizer.resample(fine, coarse, OracleSafe.seriesAgg("sum")), coarse)
    assert(sums("name:a").take(3) == Seq(S(3), S(7), S(11)))
    val lasts = toGolden(Normalizer.resample(fine, coarse, OracleSafe.seriesAgg("last")), coarse)
    assert(lasts("name:a").take(3) == Seq(S(2), S(4), S(6)))
  }

  test("type-aware: counters sum, gauges average") {
    val df = samplesDF(
      series("name:c,type:counter", Seq(S(1), S(2), S(3), S(4), N, N, N, N, N, N)) ++
      series("name:g,type:gauge", Seq(S(1), S(2), S(3), S(4), N, N, N, N, N, N)))
    val coarse = QueryGrid(60000L, 60000L * 11, 120000L)
    val out = toGolden(Normalizer.resample(df, coarse, Normalizer.typeAware), coarse)
    assert(out("name:c,type:counter").take(2) == Seq(S(3), S(7)))
    assert(out("name:g,type:gauge").take(2) == Seq(S(1.5), S(3.5)))
  }

  test("alignOperands aligns steps then binary op works") {
    val fine = samplesDF(series("name:x,side:l", Seq(S(2), S(4), S(6), S(8), N, N, N, N, N, N)))
    val coarse = samplesDF(
      series("name:x,side:r", Seq(S(1), S(2), N, N, N, N, N, N, N, N),
        QueryGrid(60000L, 60000L * 11, 120000L)))
    val (l, r, m) = Normalizer.alignOperands(fine, StepMeta(60000L, 60000L),
      coarse, StepMeta(120000L, 60000L), 60000L * 11)
    assert(m == StepMeta(120000L, 60000L))
    val target = QueryGrid(m.startMs, 60000L * 11, m.stepMs)
    val divided = toGolden(SeriesSet.divide(l, r), target)
    // left avg per 2m slot: (2+4)/2=3, (6+8)/2=7 ; right: 1, 2 → 3, 3.5
    assert(divided.keySet.head.contains("type:ratios"))
    assert(divided.values.head.take(2) == Seq(S(3), S(3.5)))
  }

  test("alignOperands falls back to the MAX step when the LCM exceeds the query range") {
    // 60 s and 77 s steps: LCM 4620 s > the 200 s range, so the common grid
    // is 77 s (ref: TimeSeriesNormalizer.java:16-45), not one 4620 s slot
    val a = samplesDF(series("name:x,side:l", Seq(S(1), S(2), S(3), S(4))))
    val b = samplesDF(series("name:x,side:r", Seq(S(5), S(6), S(7)),
      QueryGrid(60000L, 60000L + 231000L, 77000L)))
    val end = 60000L + 200000L
    val (l, r, m) = Normalizer.alignOperands(a, StepMeta(60000L, 60000L),
      b, StepMeta(77000L, 60000L), end)
    assert(m == StepMeta(77000L, 60000L))
    val target = QueryGrid(m.startMs, end, m.stepMs)
    // left: 60 s samples at 0, 60, 120, 180 s → 77 s slots {0, 60}, {120}, {180}
    assert(toGolden(l, target)("name:x,side:l") == Seq(S(1.5), S(3), S(4)))
    assert(toGolden(r, target)("name:x,side:r") == Seq(S(5), S(6), S(7)))
  }
}
