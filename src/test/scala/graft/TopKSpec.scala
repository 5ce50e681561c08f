package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.core.Dist
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** [[Dist.topK]] equals a serial sort-and-take, rank included, on generated
  * inputs: grouped and ungrouped, k = 0 and k >= rows, duplicate primary
  * keys broken by the id tiebreaker, NaN / ±Inf / ±0.0 and null keys, null
  * groups, every null placement, and 1, 3 or 8 input partitions. Fixed
  * seeds, driven from plain scalatest through `Test.check`. */
class TopKSpec extends SparkTestBase {

  private final case class Case(rows: Seq[(Option[Int], Option[Double], Long)],
                                k: Int, desc: Boolean, nullsFirst: Boolean)

  private val keyGen: Gen[Option[Double]] = Gen.frequency(
    2 -> Gen.const(None),
    1 -> Gen.const(Some(Double.NaN)),
    1 -> Gen.oneOf(0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity).map(Some(_)),
    // a narrow range: most primary keys repeat, so the id decides
    6 -> Gen.choose(-3, 3).map(i => Some(i.toDouble)))

  private val caseGen: Gen[Case] = for {
    n <- Gen.choose(0, 24)
    gk <- Gen.listOfN(n, Gen.zip(Gen.option(Gen.choose(0, 2)), keyGen))
    shuffle <- Gen.choose(Long.MinValue, Long.MaxValue)
    k <- Gen.oneOf(Gen.const(0), Gen.choose(1, 4), Gen.const(n), Gen.const(n + 3))
    desc <- Gen.oneOf(true, false)
    nullsFirst <- Gen.oneOf(true, false)
  } yield {
    val ids = new scala.util.Random(shuffle).shuffle((0L until n).toList)
    Case(gk.zip(ids).map { case ((g, key), id) => (g, key, id) }, k, desc, nullsFirst)
  }

  /** Spark's double order: NaN above every number, -0.0 equal to 0.0. */
  private def cmpDouble(x: Double, y: Double): Int =
    if (x.isNaN) { if (y.isNaN) 0 else 1 }
    else if (y.isNaN) -1
    else if (x < y) -1 else if (x > y) 1 else 0

  private def cmpKey(a: Option[Double], b: Option[Double], c: Case): Int = (a, b) match {
    case (None, None) => 0
    case (None, _) => if (c.nullsFirst) -1 else 1
    case (_, None) => if (c.nullsFirst) 1 else -1
    case (Some(x), Some(y)) => if (c.desc) -cmpDouble(x, y) else cmpDouble(x, y)
  }

  /** Serial reference: (group, id, rank) of the first k rows per group. */
  private def serial(c: Case, grouped: Boolean): Seq[(Option[Int], Long, Int)] = {
    val byGroup = c.rows.groupBy(r => if (grouped) r._1 else None).values
    byGroup.toSeq.flatMap { rs =>
      rs.sortWith { (a, b) =>
        val ck = cmpKey(a._2, b._2, c)
        if (ck != 0) ck < 0 else a._3 < b._3
      }.take(c.k).zipWithIndex.map { case (r, i) => (r._1, r._3, i + 1) }
    }.sortBy(r => (r._2, r._3))
  }

  private val schema = StructType(Seq(
    StructField("g", IntegerType), StructField("key", DoubleType),
    StructField("id", LongType, nullable = false)))

  private def viaSpark(c: Case, grouped: Boolean, parts: Int): Seq[(Option[Int], Long, Int)] = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      c.rows.map { case (g, key, id) =>
        Row(g.map(Int.box).orNull, key.map(Double.box).orNull, id) }, parts), schema)
    val key: Column = (c.desc, c.nullsFirst) match {
      case (true, true) => col("key").desc_nulls_first
      case (true, false) => col("key").desc_nulls_last
      case (false, true) => col("key").asc_nulls_first
      case (false, false) => col("key").asc_nulls_last
    }
    val groups = if (grouped) Seq(col("g")) else Nil
    Dist.topK(df, Seq(key, col("id").asc), c.k, groups, "rk")
      .select("g", "id", "rk").collect().toSeq
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]), r.getLong(1), r.getInt(2)))
      .sortBy(r => (r._2, r._3))
  }

  for (grouped <- Seq(false, true); parts <- Seq(1, 3, 8))
    test(s"topK equals a serial sort-and-take (grouped=$grouped, $parts partitions)") {
      val prop = Prop.forAllNoShrink(caseGen) { c =>
        val want = serial(c, grouped)
        val got = viaSpark(c, grouped, parts)
        Prop(got == want) :| s"case $c\n want $want\n got  $got"
      }
      val params = Test.Parameters.default
        .withMinSuccessfulTests(12)
        .withWorkers(1)
        .withInitialSeed(Seed(20261018L + parts + (if (grouped) 100 else 0)))
      val res = Test.check(params, prop)
      assert(res.passed, res.status.toString)
    }

  test("topK rejects a negative k") {
    intercept[IllegalArgumentException](
      Dist.topK(spark.range(3).toDF("id"), Seq(col("id")), -1))
  }

  test("src/main has one bounded top-k tail and no bottomK") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, "source tree not found from the test working directory")
    def hits(re: scala.util.matching.Regex): Seq[(String, Int)] = files.map { p =>
      p.getFileName.toString -> re.findAllMatchIn(Files.readString(p)).size
    }.filter(_._2 > 0)
    assert(hits("bottomK".r).isEmpty)
    // a `.limit(` whose next call (past any comment lines) ranks with row_number
    val rankTail =
      """\.limit\([^)]*\)\s*(?://[^\n]*\s*)*\.withColumn\([^,]*,\s*row_number\(\)""".r
    assert(hits(rankTail) == Seq("Core.scala" -> 1))
  }
}
