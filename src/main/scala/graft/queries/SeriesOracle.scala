package graft.queries

import graft.core.{Tables, TsSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The preamble the series query packs (M3, M3b, PromX) share: the events
  * table read as canonical samples on the Spark side, and its DuckDB mirror
  * as the `s` (raw samples) and `g` (6h-average grid) CTEs. */
private[queries] object SeriesOracle {
  private val S = TsSchema
  private val grid = Tables.EventsGrid6h

  def raw(s: SparkSession, sf: String): DataFrame = Tables.eventSamples(s, sf)
  def g(s: SparkSession, sf: String): DataFrame = Tables.griddedEventSamples(s, sf)

  /** (series, ts, value, extra…) with null values dropped, in oracle order. */
  def flat(df: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    val base = Seq(
      S.seriesKey(col(S.LabelsCol)).as("series"),
      col(S.Ts).as("ts"), col(S.Value).as("value")) ++ extra.map(col)
    df.select(base: _*)
      .where(col("value").isNotNull)
      .orderBy((Seq("series", "ts", "value") ++ extra).map(col): _*)
  }

  /** Sample time `t` floored to its 6h grid bucket. */
  val bucket6h = s"${grid.startMs} + ((t - ${grid.startMs}) // ${grid.stepMs}) * ${grid.stepMs}"

  val sCte =
    "s AS (SELECT event_type AS etype, CAST(user_id % 10 AS VARCHAR) AS usr, " +
      "epoch_ms(ts) AS t, value FROM events)"
  val gCte =
    s"g AS (SELECT etype, usr, $bucket6h AS ts, " +
      "CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE) / count(value) AS value " +
      "FROM s GROUP BY 1, 2, 3)"
  def withSG(body: String) = s"WITH $sCte, $gCte $body"
  val ser = "'name:' || etype || ',user:' || usr"
  val serName = "'name:' || etype"
  val part = "PARTITION BY etype, usr ORDER BY ts"
  val ord = "ORDER BY series, ts, value"
}
