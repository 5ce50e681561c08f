package graft

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.core.TsSchema
import graft.lang.prom.PromQL
import graft.stages.{Filters, Grouping, LabelOps, SeriesSet}
import graft.stages.Grouping.GroupKey.{By, Without}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** The one label vocabulary of the series path ([[TsSchema.relabel]],
  * `dropLabels`, `putLabel`, `labelKey` and [[Grouping.GroupKey]]) on
  * generated label sets: missing keys, `""` values, the metric `name`, and
  * keys drawn in an order that is not their sort order.
  *  - `sum`/`avg`/`count … without (x)` equals `… by (every other key)`
  *    when all series share one key set;
  *  - `topk`/`limitk … without (x)` equals a serial per-(group, timestamp)
  *    sort-and-take and keeps each survivor's labels and id untouched;
  *  - `labelKey` separates a missing label from `""`, and M3 `intersect`,
  *    M3 `divide … keys` and PromQL `and on(…)` pair exactly the series a
  *    serial match on the keys' optional values pairs.
  * Then the series-identity invariant: every label-rewriting stage emits
  * `series_id == seriesId(labels)` on every row. Fixed seeds, driven from
  * plain scalatest through `Test.check`. */
class LabelVocabularySpec extends SparkTestBase {
  private val S = TsSchema
  private type Labels = ListMap[String, String]

  /** Label keys, drawn in this order: not their sort order. */
  private val Keys = Seq("x", "b", "Zone", "a", "_k")
  private val valueGen: Gen[String] = Gen.oneOf("", "1", "2")

  /** A label set: `name` first, then each of `keys` present with
    * probability `presence`. */
  private def labelsGen(names: Seq[String], keys: Seq[String], presence: Int): Gen[Labels] =
    for {
      name <- Gen.oneOf(names)
      kvs <- Gen.sequence[Seq[Option[(String, String)]], Option[(String, String)]](keys.map(k =>
        Gen.frequency(presence -> valueGen.map(v => Some(k -> v)), (100 - presence) -> Gen.const(None))))
    } yield ListMap("name" -> name) ++ kvs.flatten

  private def seriesKeyOf(l: Map[String, String]): String =
    l.toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }.mkString(",")

  /** Samples of each label set at the first `points` grid points, values
    * from `values` in order. */
  private def frame(series: Seq[Labels], points: Int, values: Seq[Double]): DataFrame = {
    val it = Iterator.continually(values).flatten
    samplesDF(series.flatMap(l => (0 until points).map(i => Row(l, g.startMs + i * g.stepMs, it.next()))))
  }

  private def check[A](gen: Gen[A], seed: Long, n: Int = 8)(prop: A => Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(n)
      .withWorkers(1)
      .withInitialSeed(Seed(seed))
    val res = Test.check(params, Prop.forAllNoShrink(gen)(prop))
    assert(res.passed, res.status.toString)
  }

  /** (series key, series id, timestamp, value bits) of every row. */
  private def rows(df: DataFrame): Set[(String, Long, Long, Long)] =
    df.select(S.seriesKey(col(S.LabelsCol)), col(S.SeriesId), col(S.Ts), col(S.Value)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet

  // ---- without = by every other key ----------------------------------------

  private final case class SharedKeys(series: Seq[Labels], keys: Seq[String], x: String,
                                      values: Seq[Double])

  private val sharedGen: Gen[SharedKeys] = for {
    keys <- Gen.someOf(Keys).map(ks => Keys.filter(ks.contains))
    n <- Gen.choose(1, 6)
    series <- Gen.listOfN(n, labelsGen(Seq("m1", "m2"), keys, presence = 100))
    x <- Gen.oneOf(Keys)
    values <- Gen.listOfN(5, Gen.choose(-8, 8).map(_ / 4.0))
  } yield SharedKeys(series.distinct, keys, x, values)

  for ((fn, agg) <- Seq[(String, (DataFrame, Grouping.GroupKey) => DataFrame)](
         "sum" -> (Grouping.sum(_, _)), "avg" -> (Grouping.avg(_, _)),
         "count" -> (Grouping.countAtTimestamp(_, _)))) {
    test(s"$fn without (x) equals $fn by (every other key)") {
      check(sharedGen, 20261020L + fn.length) { c =>
        val df = frame(c.series, 3, c.values)
        val without = rows(agg(df, Without(Seq(c.x))))
        val by = rows(agg(df, By(c.keys.filterNot(_ == c.x))))
        Prop(without == by && without.nonEmpty) :| s"case $c\n without $without\n by      $by"
      }
    }
  }

  // ---- rank without ---------------------------------------------------------

  private final case class RankCase(series: Seq[Labels], x: String, k: Int, values: Seq[Double])

  private val rankGen: Gen[RankCase] = for {
    n <- Gen.choose(1, 7)
    series <- Gen.listOfN(n, labelsGen(Seq("m1", "m2"), Keys, presence = 60))
    x <- Gen.oneOf(Keys)
    k <- Gen.choose(0, 3)
    // few distinct values: ties are broken by the series key
    values <- Gen.listOfN(7, Gen.frequency(1 -> Gen.const(Double.NaN), 5 -> Gen.choose(0, 3).map(_.toDouble)))
  } yield RankCase(series.distinct, x, k, values)

  /** Serial reference of a rank `without (x)`: per (labels minus x and name,
    * timestamp), the first k rows by `ord`. */
  private def serialRank(in: Set[(String, Long, Long, Long)], labelsOf: Map[String, Labels], c: RankCase)
                        (ord: Ordering[(String, Long, Long, Long)]): Set[(String, Long, Long, Long)] =
    in.groupBy(r => (labelsOf(r._1).removedAll(Seq("name", c.x)), r._3)).values
      .flatMap(_.toSeq.sorted(ord).take(c.k)).toSet

  private def valueOf(r: (String, Long, Long, Long)): Double = java.lang.Double.longBitsToDouble(r._4)

  test("topk without (x) is a serial per-group sort-and-take that keeps labels untouched") {
    check(rankGen, 20261021L) { c =>
      val df = frame(c.series, 3, c.values)
      val in = rows(df)
      val labelsOf = c.series.map(l => seriesKeyOf(l) -> l).toMap
      // value descending, NaN last, then the series key
      val desc = Ordering.by[(String, Long, Long, Long), (Boolean, Double, String)](r =>
        (valueOf(r).isNaN, if (valueOf(r).isNaN) 0.0 else -valueOf(r), r._1))
      val want = serialRank(in, labelsOf, c)(desc)
      val got = rows(SeriesSet.topKAtTimestamp(df, c.k, Without(Seq(c.x))))
      Prop(got == want) :| s"case $c\n want $want\n got  $got"
    }
  }

  test("limitk without (x) keeps the k smallest series keys per group") {
    check(rankGen, 20261022L) { c =>
      val df = frame(c.series, 3, c.values)
      val in = rows(df)
      val labelsOf = c.series.map(l => seriesKeyOf(l) -> l).toMap
      val want = serialRank(in, labelsOf, c)(Ordering.by(_._1))
      val got = rows(SeriesSet.limitKAtTimestamp(df, c.k, Without(Seq(c.x))))
      Prop(got == want) :| s"case $c\n want $want\n got  $got"
    }
  }

  // ---- match keys ------------------------------------------------------------

  private final case class MatchCase(left: Seq[Labels], right: Seq[Labels], keys: Seq[String]) {
    def key(l: Labels): Seq[Option[String]] = keys.map(l.get)
    def valid(l: Labels): Boolean = keys.forall(l.contains)
  }

  private val matchGen: Gen[MatchCase] = for {
    keys <- Gen.choose(1, 2).flatMap(n => Gen.pick(n, Keys)).map(ks => Keys.filter(ks.contains))
    nl <- Gen.choose(1, 6)
    left <- Gen.listOfN(nl, labelsGen(Seq("l"), Keys, presence = 50))
    nr <- Gen.choose(0, 5)
    right <- Gen.listOfN(nr, labelsGen(Seq("r"), Keys, presence = 50))
  } yield {
    // one right series per match key: a divide group with two divisors raises
    val c = MatchCase(left.distinct, Nil, keys)
    c.copy(right = right.distinct.groupBy(c.key).values.map(_.head).toSeq.sortBy(seriesKeyOf(_)))
  }

  private def seriesKeys(df: DataFrame): Set[String] =
    df.select(S.seriesKey(col(S.LabelsCol))).distinct().collect().map(_.getString(0)).toSet

  test("labelKey is equal exactly when every key's optional value is equal") {
    check(matchGen, 20261023L) { c =>
      val all = c.left ++ c.right
      val got = frame(all, 1, Seq(1.0))
        .select(S.seriesKey(col(S.LabelsCol)), S.labelKey(c.keys)).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val byKey = all.map(l => got(seriesKeyOf(l)) -> c.key(l))
      Prop(byKey.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1) &&
           byKey.groupBy(_._2).values.forall(_.map(_._1).distinct.size == 1)) :| s"case $c\n keys $byKey"
    }
  }

  /** M3 `intersect`, M3 `divide … keys` and PromQL `and on(…)` against a
    * serial match on the keys' optional values. */
  private def pairsLikeKeyMatch(c: MatchCase): Prop = {
    val (l, r) = (frame(c.left, 2, Seq(1.0, 2.0)), frame(c.right, 2, Seq(4.0, 8.0)))
    val rightKeys = c.right.map(c.key).toSet
    val paired = c.left.filter(x => rightKeys(c.key(x))).map(seriesKeyOf).toSet
    // divide: a lone right series or a lone right group matches every left
    // series; otherwise a left series with every key pairs with its group
    val groups = c.right.filter(c.valid).map(c.key).distinct
    val divided =
      if (c.right.size == 1 || groups.size == 1) c.left
      else c.left.filter(x => c.valid(x) && groups.contains(c.key(x)))
    val wantDivide = divided.map(x => seriesKeyOf(x + ("type" -> "ratios"))).toSet
    val intersect = seriesKeys(Filters.intersect(l, r, c.keys))
    val divide = seriesKeys(SeriesSet.divide(l, r, c.keys))
    val on = seriesKeys(PromQL.query(spark, l.unionByName(r), g,
      s"l and on(${c.keys.mkString(", ")}) r"))
    Prop(intersect == paired && on == paired && divide == wantDivide) :|
      s"case $c\n paired $paired\n intersect $intersect\n on $on\n divide $divide (want $wantDivide)"
  }

  test("intersect, divide … keys and and on(…) pair the series a serial key match pairs") {
    check(matchGen, 20261024L, n = 10)(pairsLikeKeyMatch)
  }

  test("a missing label never pairs with an empty one") {
    // regression case: a match key that read a missing label as "" paired
    // the left series without Zone with the right one holding Zone:""
    val c = MatchCase(
      left = Seq(ListMap("name" -> "l", "x" -> "2"), ListMap("name" -> "l", "Zone" -> "", "x" -> "1")),
      right = Seq(ListMap("name" -> "r", "Zone" -> ""), ListMap("name" -> "r", "Zone" -> "1")),
      keys = Seq("Zone"))
    val p = Test.check(Test.Parameters.default.withMinSuccessfulTests(1), pairsLikeKeyMatch(c))
    assert(p.passed, p.status.toString)
  }

  test("PromQL by reads a missing label as \"\", and M3 by drops the series") {
    // regression case: PromQL by (job) dropped the series without job, and
    // ranked it apart from the one with job=""
    val df = samplesDF(series("name:m,job:a", Seq(Some(1.0))) ++
      series("name:m", Seq(Some(2.0))) ++ series("name:m,job:", Seq(Some(4.0))))
    def first(out: DataFrame): Map[String, Option[Double]] = toGolden(out).map { case (k, vs) => k -> vs.head }
    assert(first(PromQL.query(spark, df, g, "sum by (job) (m)")) == Map("" -> Some(6.0), "job:a" -> Some(1.0)))
    val top = PromQL.query(spark, df, g, "topk(1, m) by (job)").where(col(S.Ts) === g.startMs)
    assert(top.select(S.LabelsCol).collect().map(_.getMap[String, String](0)).toSet ==
      Set(Map("name" -> "m", "job" -> "a"), Map("name" -> "m", "job" -> "")))
    assert(first(Grouping.sum(df, By(Seq("job")))) == Map("job:" -> Some(4.0), "job:a" -> Some(1.0)))
  }

  // ---- series identity -------------------------------------------------------

  private def fx = samplesDF(
    series("name:req,dc:a,host:h1", Seq.tabulate(10)(i => Some(i + 1.0))) ++
    series("name:req,dc:b,host:h2", Seq.tabulate(10)(i => Some(2.0 * i))) ++
    series("name:req,dc:a,host:h3", Seq.fill(10)(Some(4.0))) ++
    series("name:mem,dc:a", Seq.tabulate(10)(i => Some(10.0 - i))) ++
    series("name:lat,bucket_id:0,bucket_range:0-10", Seq.fill(10)(Some(3.0))) ++
    series("name:lat,bucket_id:1,bucket_range:10-20", Seq.fill(10)(Some(5.0))))
  private def prom(q: String): DataFrame = PromQL.query(spark, fx, g, q)
  private def named(n: String): DataFrame = fx.where(col(S.LabelsCol)("name") === n)

  for ((stage, out) <- Seq[(String, () => DataFrame)](
         "mapKey" -> (() => LabelOps.mapKey(fx, "dc", "region")),
         "tagSub" -> (() => LabelOps.tagSub(fx, "dc", "a", "z")),
         "label_replace" -> (() => prom("""label_replace(req, "svc", "$1-x", "dc", "(.*)")""")),
         "label_join" -> (() => prom("""label_join(req, "combo", "-", "dc", "host")""")),
         "count_values" -> (() => prom("""count_values("v", req)""")),
         "percentileOfSeries" -> (() => Grouping.percentileM3(named("req"), Seq(50.0), By(Seq("dc")), false)),
         "histogramPercentile" -> (() =>
           Grouping.histogramPercentile(named("lat"), "bucket_id", "bucket_range", Seq(50.0))),
         "histogram_quantile" -> (() => prom("histogram_quantile(0.5, lat)")),
         "divide" -> (() => SeriesSet.divide(named("req"), named("mem"), Seq("dc"))),
         "arithmetic" -> (() => prom("req * 2")),
         "sum without" -> (() => prom("sum without (host) (req)")),
         "topk without" -> (() => prom("topk(1, req) without (host)"))))
    test(s"series_id follows labels after $stage") {
      val df = out()
      assert(df.count() > 0, s"$stage emitted nothing")
      val off = df.where(col(S.SeriesId) =!= S.seriesId(col(S.LabelsCol)))
      assert(off.isEmpty, s"$stage rows whose series_id is not their labels' id:\n" +
        off.collect().take(5).mkString("\n"))
    }

  test("src/main writes the label rules only in TsSchema") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, "source tree not found from the test working directory")
    def hits(re: scala.util.matching.Regex): Seq[(String, Int)] = files.map { p =>
      p.getFileName.toString -> re.findAllMatchIn(Files.readString(p)).size
    }.filter(_._2 > 0)
    // series_id is re-derived only by TsSchema.relabel
    assert(hits("""withColumn\(\s*(?:S\.|TsSchema\.)?SeriesId\b|withColumn\(\s*"series_id"""".r) ==
      Seq("Core.scala" -> 1))
    // the match-key separator and missing marker live in TsSchema only
    assert(hits("MissingV|\"\\\\u0001\"".r).map(_._1) == Seq("Core.scala"))
    assert(hits("""\b(?:WoKey|woCanonical|woPack|woUnpack|woTag|woUntag|explicitKey|rehash)\b""".r).isEmpty)
  }
}
