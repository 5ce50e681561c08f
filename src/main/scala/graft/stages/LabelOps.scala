package graft.stages

import graft.core.TsSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Label / metadata manipulation stages (ref: lang/m3/stage/ classes). All pure
  * map-column rewrites — no shuffle, fully codegen'd. A label rewrite goes
  * through [[TsSchema.relabel]], so `series_id` follows the new label set.
  */
object LabelOps {
  private val S = TsSchema

  /** `alias "name"` — set display alias; `{{.tag}}` interpolation
    * (ref: AliasStage.java:25-30). */
  def alias(df: DataFrame, name: String): DataFrame = {
    // interpolate {{.tag}} occurrences from the label map
    val parts = "\\{\\{\\.([A-Za-z0-9_]+)\\}\\}".r
    val pieces = scala.collection.mutable.ArrayBuffer.empty[Column]
    var idx = 0
    for (m <- parts.findAllMatchIn(name)) {
      if (m.start > idx) pieces += lit(name.substring(idx, m.start))
      pieces += coalesce(col(S.LabelsCol).getItem(m.group(1)), lit(""))
      idx = m.end
    }
    if (idx < name.length) pieces += lit(name.substring(idx))
    val aliasCol = if (pieces.isEmpty) lit(name) else concat(pieces.toSeq: _*)
    df.withColumn("alias", aliasCol)
  }

  /** `aliasByTags t1 t2…` — alias = space-join of tag values, missing skipped
    * (ref: AliasByTagsStage.java:25-30). */
  def aliasByTags(df: DataFrame, tags: Seq[String]): DataFrame =
    df.withColumn("alias", concat_ws(" ", tags.map(t => col(S.LabelsCol).getItem(t)): _*))

  /** `showTags [includeKeys] [tags…]` — alias from tags as `k:v` or `v`;
    * default all tags sorted (ref: ShowTagsStage.java:25-36). */
  def showTags(df: DataFrame, includeKeys: Boolean, tags: Seq[String] = Nil): DataFrame = {
    val aliasCol: Column =
      if (tags.isEmpty) {
        val entries = array_sort(map_entries(col(S.LabelsCol)))
        if (includeKeys)
          concat_ws(",", transform(entries, e => concat(e.getField("key"), lit(":"), e.getField("value"))))
        else
          concat_ws(",", transform(entries, e => e.getField("value")))
      } else {
        val cols = tags.map { t =>
          val v = col(S.LabelsCol).getItem(t)
          if (includeKeys) when(v.isNotNull, concat(lit(t + ":"), v)) else v
        }
        concat_ws(",", cols: _*)
      }
    df.withColumn("alias", aliasCol)
  }

  /** `mapKey old new` — rename a tag key (ref: MapKeyStage.java:27-33). */
  def mapKey(df: DataFrame, oldKey: String, newKey: String): DataFrame = {
    val m = col(S.LabelsCol)
    S.relabel(df, when(m.getItem(oldKey).isNotNull,
        S.putLabel(newKey, m.getItem(oldKey), S.dropLabels(Seq(oldKey))))
      .otherwise(m))
  }

  /** `tagSub tag re repl` — regex substitution on a tag value, `$1` backrefs
    * (ref: TagSubStage.java:27-33). */
  def tagSub(df: DataFrame, tag: String, re: String, repl: String): DataFrame = {
    val m = col(S.LabelsCol)
    S.relabel(df, when(m.getItem(tag).isNotNull,
        S.putLabel(tag, regexp_replace(m.getItem(tag), re, repl)))
      .otherwise(m))
  }
}
