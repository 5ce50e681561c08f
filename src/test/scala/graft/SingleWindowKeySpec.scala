package graft

import graft.core.Dist
import org.apache.spark.sql.functions.col

/** The ungrouped [[Dist.topK]] ranks its k rows in ONE window partition
  * keyed by [[graft.core.Dist.singleWindowKey]], whatever the tiebreaker
  * column holds: a null id must not open a second partition (a second
  * `rnk = 1` row), and a non-numeric string id must neither null the key
  * nor fail an ANSI cast. */
class SingleWindowKeySpec extends SparkTestBase {
  import spark.implicits._

  private def top3(scored: org.apache.spark.sql.DataFrame) =
    Dist.topK(scored, Seq(col("cosine").desc, col("id")), 3, rankCol = "rnk").orderBy("rnk")

  test("top-k tail over a null id ranks 1..k in one window") {
    val scored = Seq((Some(1L), 0.9), (None, 0.8), (Some(3L), 0.7), (Some(4L), 0.1))
      .toDF("id", "cosine")
    val got = top3(scored).as[(Option[Long], Double, Int)].collect().toSeq
    assert(got == Seq((Some(1L), 0.9, 1), (None, 0.8, 2), (Some(3L), 0.7, 3)))
  }

  test("top-k tail over a string id ranks 1..k in one window") {
    val scored = Seq(("doc-a", 0.9), ("doc-b", 0.8), ("doc-c", 0.7), ("doc-d", 0.1))
      .toDF("id", "cosine")
    val got = top3(scored).as[(String, Double, Int)].collect().toSeq
    assert(got == Seq(("doc-a", 0.9, 1), ("doc-b", 0.8, 2), ("doc-c", 0.7, 3)))
  }
}
