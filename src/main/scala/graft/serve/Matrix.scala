package graft.serve

import graft.core.{QueryGrid, TsSchema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prometheus `query_range` matrix JSON formatter — the reference's response
  * contract (query/rest/PromMatrixResponseListener.java:32-84):
  * {status, data:{resultType:"matrix", result:[{metric:{…}, alias,
  * values:[[ts_seconds,"v"],…], step,start,end}]}}.
  *
  * Values are stringified doubles (Prometheus wire format); timestamps are
  * epoch seconds. `includeMetadata` adds step/start/end per series.
  */
/** The one JSON string escaper: backslash, quote and every control char
  * (< 0x20). Used by the serve-layer renderers and `Verify`'s oracle dump. */
private[graft] object JsonEsc {
  def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}

object Matrix {
  import JsonEsc.esc

  private def fmtValue(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isPosInfinity) "+Inf"
    else if (v.isNegInfinity) "-Inf"
    else if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** Render a canonical samples DataFrame as the matrix JSON string.
    * Collects to the driver — response-sized data only (same as the
    * reference's coordinator response path). */
  def render(df: DataFrame, grid: QueryGrid, includeMetadata: Boolean = false): String = {
    val hasAlias = df.columns.contains("alias")
    val cols = Seq(
      TsSchema.seriesKey(col(TsSchema.LabelsCol)).as("_sk"),
      to_json(col(TsSchema.LabelsCol)).as("_labels_json"),
      col(TsSchema.Ts), col(TsSchema.Value)) ++
      (if (hasAlias) Seq(col("alias")) else Nil)
    val rows = df.select(cols: _*)
      .where(col(TsSchema.Value).isNotNull)
      .orderBy(col("_sk"), col(TsSchema.Ts))
      .collect()

    val bySeries = rows.groupBy(_.getString(0)).toSeq.sortBy(_._1)
    val sb = new StringBuilder
    sb.append("""{"status":"success","data":{"resultType":"matrix","result":[""")
    var firstSeries = true
    for ((_, rs) <- bySeries) {
      if (!firstSeries) sb.append(',')
      firstSeries = false
      val labelsJson = rs.head.getString(1)
      sb.append("""{"metric":""").append(labelsJson)
      if (hasAlias && !rs.head.isNullAt(4))
        sb.append(""","alias":"""").append(esc(rs.head.getString(4))).append('"')
      sb.append(""","values":[""")
      var firstV = true
      for (r <- rs) {
        if (!firstV) sb.append(',')
        firstV = false
        sb.append('[').append(r.getLong(2) / 1000.0 match {
          case t if t == t.floor => t.toLong.toString
          case t                 => t.toString
        }).append(",\"").append(fmtValue(r.getDouble(3))).append("\"]")
      }
      sb.append(']')
      if (includeMetadata)
        sb.append(s""","step":${grid.stepMs},"start":${grid.startMs},"end":${grid.endMs}""")
      sb.append('}')
    }
    sb.append("]}}")
    sb.toString
  }
}
