package graft.stages

import graft.core.{QueryGrid, TsSchema}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `fetch k:v k2:v2 …` — the scan stage: select series whose labels match ALL
  * filters, ANDed with the query time range.
  *
  * Reference semantics (grammar lang/m3/m3ql/parser/m3ql.jj:221; query build
  * lang/m3/dsl/SourceBuilderVisitor.java:911-1000): values support `*`/`?`
  * wildcards, `!` prefix negation, and multi-value `(a,b,c)`; the time-range
  * filter goes first (ref :922 — range on timestamp_range).
  *
  * Spark: each filter is a Column predicate on the labels map → Catalyst pushes
  * the conjunction into the parquet scan; time-range on a partition column
  * prunes partitions (replaces the reference's TimeRangePruningQuery).
  */
object Fetch {

  /** One label filter. Value syntax: `a`, `a*b?`, `!a`, `(a,b,c)`, `!(a,b)`. */
  final case class LabelFilter(key: String, rawValue: String) {
    val negated: Boolean = rawValue.startsWith("!")
    private val v = if (negated) rawValue.substring(1) else rawValue
    val values: Seq[String] =
      if ((v.startsWith("(") && v.endsWith(")")) || (v.startsWith("{") && v.endsWith("}")))
        v.substring(1, v.length - 1).split(",").toSeq.map(_.trim)
      else Seq(v)

    private def one(tag: Column, value: String): Column =
      if (value.contains("*") || value.contains("?")) {
        // glob → anchored regex: escape everything, then translate \* and \?
        val rx = java.util.regex.Pattern.quote(value)
          .replace("*", "\\E.*\\Q").replace("?", "\\E.\\Q")
        tag.rlike(s"^$rx$$")
      } else tag === value

    def predicate: Column = {
      val tag = col(TsSchema.LabelsCol).getItem(key)
      val anyMatch = values.map(one(tag, _)).reduce(_ || _)
      if (negated) tag.isNotNull && !anyMatch else anyMatch
    }
  }

  /** Apply fetch filters + grid time range (end-exclusive) to a samples DF. */
  def fetch(samples: DataFrame, filters: Seq[LabelFilter], grid: QueryGrid): DataFrame =
    filters.foldLeft(samples.where(grid.contains(col(TsSchema.Ts))))(
      (df, f) => df.where(f.predicate))

  /** `mockFetch v1,v2,… [tags]` — synthesize one series whose values are laid
    * SEQUENTIALLY on the query grid, one per step from the start, without
    * touching storage (ref: lang/m3/stage/MockFetchStage.java:29-38 —
    * MatchNoneQueryBuilder + literal series at the coordinator). Default
    * label set {name: "mockFetch"}, overridden/extended by `tags`. */
  def mockFetch(spark: org.apache.spark.sql.SparkSession, grid: QueryGrid,
                values: Seq[Double], tags: Seq[(String, String)] = Nil): DataFrame = {
    import org.apache.spark.sql.types._
    val labels = (Map("name" -> "mockFetch") ++ tags.toMap).toSeq.sortBy(_._1)
    val labelCol = map(labels.flatMap { case (k, x) => Seq(lit(k), lit(x)) }: _*)
      .cast(MapType(StringType, StringType, valueContainsNull = false))
    // NaN values mean "no sample at this slot" (mockFetch corpus: nan → null);
    // ALL values are laid regardless of the query end — the synthesized series
    // carries its own extent (ref: MockFetchStage)
    val rows = values.zipWithIndex.collect {
      case (v, i) if !v.isNaN => (grid.startMs + i * grid.stepMs, v)
    }
    import spark.implicits._
    rows.toDF(TsSchema.Ts, TsSchema.Value).select(
      TsSchema.seriesId(labelCol).as(TsSchema.SeriesId),
      labelCol.as(TsSchema.LabelsCol),
      col(TsSchema.Ts), col(TsSchema.Value))
  }

  /** Parse `"k:v k2:v2"` filter text (the fetch argument list). */
  def parseFilters(text: String): Seq[LabelFilter] =
    text.trim.split("\\s+").filter(_.nonEmpty).toSeq.map { tok =>
      val i = tok.indexOf(':')
      require(i > 0, s"bad fetch filter: $tok")
      LabelFilter(tok.substring(0, i), tok.substring(i + 1))
    }
}
