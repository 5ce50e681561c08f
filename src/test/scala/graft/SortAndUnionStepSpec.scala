package graft

import graft.core.TsSchema
import graft.lang.m3.M3QL
import graft.stages.SeriesSet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-4 regression surface: sort-order token parity + NaN key ordering
  * (ref: SortOrderType.java:37-43, SortComparatorUtil.java:52-63) and
  * per-branch step metadata through union into a PAIRWISE-normalized divide
  * (ref: UnionStage.java:23-30, AbstractBinaryProjectionStage.java:292-306).
  */
class SortAndUnionStepSpec extends SparkTestBase {
  private val S = Some(_: Double)
  private val N = Option.empty[Double]

  private def fx = samplesDF(
    series("name:m,host:a", Seq.fill(10)(S(1))) ++
    series("name:m,host:b", Seq.fill(10)(S(5))) ++
    series("name:m,host:c", Seq(S(Double.NaN)) ++ Seq.fill(9)(N)))

  private def ranks(df: DataFrame): Map[String, Int] =
    df.select(TsSchema.seriesKey(col("labels")).as("sk"), col("_rank"))
      .distinct().collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  test("NaN sort key ranks below any number, both directions") {
    val asc = ranks(SeriesSet.sortSeries(fx, "max", desc = false))
    assert(asc == Map("host:c,name:m" -> 1, "host:a,name:m" -> 2, "host:b,name:m" -> 3))
    val desc = ranks(SeriesSet.sortSeries(fx, "max", desc = true))
    assert(desc == Map("host:b,name:m" -> 1, "host:a,name:m" -> 2, "host:c,name:m" -> 3))
  }

  test("sort order tokens: ascending works, garbage raises, topK too") {
    val out = M3QL.query(spark, fx, g, "fetch name:m | sortSeries max ascending")
    assert(ranks(out) == Map("host:c,name:m" -> 1, "host:a,name:m" -> 2, "host:b,name:m" -> 3))
    val ex = intercept[IllegalArgumentException](
      M3QL.query(spark, fx, g, "fetch name:m | sortSeries max sideways"))
    assert(ex.getMessage.contains("Invalid sort order type"))
    intercept[IllegalArgumentException](
      M3QL.query(spark, fx, g, "fetch name:m | topK 2 max sideways"))
    // `descending` long form accepted too
    assert(ranks(M3QL.query(spark, fx, g, "fetch name:m | sortSeries max descending")) ==
      Map("host:b,name:m" -> 1, "host:a,name:m" -> 2, "host:c,name:m" -> 3))
  }

  /** host:h1..h8, value = i: the default (avg desc) order is h8 … h1. */
  private def eight = samplesDF((1 to 8).flatMap(i =>
    series(s"name:m,host:h$i", Seq.fill(10)(S(i.toDouble)))))

  test("tail renumbers its ranks, so a following head takes the head of the tail") {
    // ref SliceStage takes the head of the CURRENT order: tail 3 = h3, h2, h1
    val out = M3QL.query(spark, eight, g, "fetch name:m | tail 3 | head 2")
    assert(ranks(out) == Map("host:h3,name:m" -> 1, "host:h2,name:m" -> 2))
    val sorted = M3QL.query(spark, eight, g, "fetch name:m | sort max | tail 3 | head 1")
    assert(ranks(sorted) == Map("host:h3,name:m" -> 1))
  }

  test("tail over a sorted set keeps the order and ranks 1..n") {
    val out = M3QL.query(spark, eight, g, "fetch name:m | sort max | tail 3")
    assert(ranks(out) == Map("host:h3,name:m" -> 1, "host:h2,name:m" -> 2,
      "host:h1,name:m" -> 3))
    val all = M3QL.query(spark, eight, g, "fetch name:m | sortSeries max ascending | tail 20")
    assert(ranks(all) == (1 to 8).map(i => s"host:h$i,name:m" -> i).toMap)
  }

  test("mixed-step union divides PAIRWISE per branch") {
    val data = samplesDF(
      series("name:c,host:x", Seq.fill(10)(S(10))) ++
      series("name:v,host:x", Seq.fill(10)(S(2))) ++
      series("name:d,host:x", Seq.fill(10)(S(2))))
    // left = c at 1m UNION (v summarized to 2m, origin epoch-floored = 0);
    // divisor d at 1m. PAIRWISE: the c branch divides point-for-point at 1m;
    // the v branch sees d resampled to its own 2m grid with AVG.
    val out = M3QL.query(spark, data, g,
      "b = fetch name:d; fetch name:c | (fetch name:v | summarize 2m sum) | divide(b) host")
    val rows = out.select(TsSchema.seriesKey(col("labels")).as("sk"),
        col("timestamp"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val cRows = (1 to 10).map(i => ("host:x,name:c,type:ratios", 60000L * i, 5.0)).toSet
    val vRows = Set[(String, Long, Double)](
      ("host:x,name:v,type:ratios", 0L, 1.0),        // bucket {60s}: 2 / avg(2)
      ("host:x,name:v,type:ratios", 120000L, 2.0),   // {120s,180s}: 4 / 2
      ("host:x,name:v,type:ratios", 240000L, 2.0),
      ("host:x,name:v,type:ratios", 360000L, 2.0),
      ("host:x,name:v,type:ratios", 480000L, 2.0),
      ("host:x,name:v,type:ratios", 600000L, 1.0))   // bucket {600s}: 2 / 2
    assert(rows == cRows ++ vRows)
  }

  test("union branches with equal LCM step but different origins divide on their own grids") {
    // Both branches summarize to 2m, so both aligned grids share step 120000,
    // but the alignToFrom branch keeps origin 60000 while the floored branch
    // re-buckets from 0 — the fused divide must key the right re-alignment on
    // the FULL grid identity (step AND origin), not the step alone, or the
    // origin-60000 branch joins right rows bucketed at origin 0 and silently
    // drops every point.
    val data = samplesDF(
      series("name:c,host:x", Seq.fill(10)(S(4))) ++
      series("name:v,host:x", Seq.fill(10)(S(2))) ++
      series("name:d,host:x", Seq.fill(10)(S(2))))
    val out = M3QL.query(spark, data, g,
      "b = fetch name:d; fetch name:c | summarize 2m sum | " +
        "(fetch name:v | summarize 2m sum true) | divide(b) host")
    val rows = out.select(TsSchema.seriesKey(col("labels")).as("sk"),
        col("timestamp"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val cRows = Set[(String, Long, Double)](          // origin 0: {60s}=4, pairs=8, {600s}=4; d avg = 2
      ("host:x,name:c,type:ratios", 0L, 2.0),
      ("host:x,name:c,type:ratios", 120000L, 4.0),
      ("host:x,name:c,type:ratios", 240000L, 4.0),
      ("host:x,name:c,type:ratios", 360000L, 4.0),
      ("host:x,name:c,type:ratios", 480000L, 4.0),
      ("host:x,name:c,type:ratios", 600000L, 2.0))
    val vRows = (0 until 5).map(i =>                  // origin 60000: every bucket 4 / avg(2,2)
      ("host:x,name:v,type:ratios", 60000L + 120000L * i, 2.0)).toSet
    assert(rows == cRows ++ vRows, s"got: $rows")
  }
}
