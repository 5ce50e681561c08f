package graft

import graft.core.TsSchema
import graft.streaming.Ingest
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The optimize-tier contract: samples rewritten as a bucketed-by-series
  * table make every per-series window stage exchange-free — the window's
  * ClusteredDistribution(series_id) is satisfied by the bucketed scan, so
  * the plan has NO hash exchange between scan and Window. This is the
  * co-location upgrade the 100TB temporal path rests on: one bucketed
  * rewrite amortizes the per-query series shuffle away.
  */
class BucketedSamplesSpec extends SparkTestBase {
  private val table = "graft_test_bucketed_samples"

  test("bucketed samples run temporal windows without a series shuffle") {
    val S = Some(_: Double)
    val fx = samplesDF(
      series("name:m,dc:a", Seq(S(1), S(2), S(3), S(4), S(5), S(6), S(7), S(8), S(9), S(10))) ++
      series("name:m,dc:b", Seq(S(2), S(4), S(6), S(8), S(10), S(12), S(14), S(16), S(18), S(20))))

    val dir = tempDir("bucket_src").toString
    fx.write.mode("overwrite").parquet(dir)

    spark.sql(s"DROP TABLE IF EXISTS $table")
    Ingest.optimizeToBucketed(spark, dir, table, buckets = 4)

    val bucketed = spark.table(table)
    val frame = Window.partitionBy(TsSchema.SeriesId).orderBy(TsSchema.Ts)
      .rangeBetween(-120000L, 0)
    val windowed = bucketed.withColumn("mv", avg(col(TsSchema.Value)).over(frame))
    val plan = windowed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(series_id"),
      s"bucketed samples must feed the window without a series shuffle:\n$plan")

    // and the layout change never changes answers: same moving average as
    // the plain parquet path
    val plain = spark.read.parquet(dir).withColumn("mv", avg(col(TsSchema.Value)).over(frame))
    val got = windowed.select("series_id", "timestamp", "mv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = plain.select("series_id", "timestamp", "mv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)

    spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
