package graft.stages

import graft.core.TsSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Series-level and sample-level filters (ref: lang/m3/stage/ classes). All are
  * plain Catalyst filters → pushed into the parquet scan when adjacent to it.
  */
object Filters {
  private val S = TsSchema

  /** Value filters `> >= < <= == !=` — drop individual samples
    * (ref: ValueFilterStage.java:26-51; aliases M3PlanNodeFactory.java:162-176). */
  def valueFilter(df: DataFrame, op: String, v: Double): DataFrame = {
    val c = col(S.Value)
    val pred: Column = op match {
      case ">"  => c > v
      case ">=" => c >= v
      case "<"  => c < v
      case "<=" => c <= v
      case "==" => c === v
      case "!=" => c =!= v
      case other => throw new IllegalArgumentException(s"valueFilter op: $other")
    }
    df.where(pred)
  }

  /** `excludeByTag tag re…` — drop series whose tag value matches any regex
    * (ref: ExcludeByTagStage.java:28-33). Reference regexes are full-match. */
  def excludeByTag(df: DataFrame, tag: String, regexes: Seq[String]): DataFrame = {
    val tagVal = col(S.LabelsCol).getItem(tag)
    val matches = regexes
      .map(re => tagVal.rlike(s"^(?:$re)$$"))
      .reduce(_ || _)
    df.where(tagVal.isNull || !matches)
  }

  /** `where eq|neq tagA tagB` — keep series where value(tagA) ==/!= value(tagB)
    * (ref: WhereStage.java:26-32). */
  def whereTags(df: DataFrame, op: String, tagA: String, tagB: String): DataFrame = {
    val a = col(S.LabelsCol).getItem(tagA)
    val b = col(S.LabelsCol).getItem(tagB)
    op match {
      case "eq"  => df.where(a.isNotNull && b.isNotNull && a === b)
      case "neq" => df.where(a.isNotNull && b.isNotNull && a =!= b)
      case other => throw new IllegalArgumentException(s"where op: $other")
    }
  }

  /** `tagCompare op key val` — keep series by lexicographic or semantic-version
    * comparison of a tag value (ref: TagCompareStage.java:27-32;
    * SemanticVersionComparator.java). */
  def tagCompare(df: DataFrame, op: String, key: String, value: String,
                 semver: Boolean = false): DataFrame = {
    val tagVal = col(S.LabelsCol).getItem(key)
    val (l, r): (Column, Column) =
      if (semver) (graft.functions.Semver.sortKey(tagVal), graft.functions.Semver.sortKey(lit(value)))
      else (tagVal, lit(value))
    val pred = op match {
      case ">"  => l > r
      case ">=" => l >= r
      case "<"  => l < r
      case "<=" => l <= r
      case "==" => l === r
      case "!=" => l =!= r
      case other => throw new IllegalArgumentException(s"tagCompare op: $other")
    }
    df.where(tagVal.isNotNull && pred)
  }

  /** `intersect <ref> [keys]` — keep left series having >=1 label-matching
    * series on the right; match on all labels or only `keys`
    * (ref: IntersectStage.java:25-35). Distributed as a broadcast-able
    * left-semi join on the match key. */
  def intersect(left: DataFrame, right: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val matchKey: Column =
      if (keys.isEmpty) TsSchema.seriesKey(col(S.LabelsCol))
      else TsSchema.labelKey(keys)
    val l = left.withColumn("_mk", matchKey)
    val r = right.select(matchKey.as("_mk")).distinct()
    l.join(broadcast(r), Seq("_mk"), "left_semi").drop("_mk")
  }
}
