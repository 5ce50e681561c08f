package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The generator is a pure function of the seed: the same seed gives the
  * same wire files, query sequence, series table and registry tables;
  * another seed gives different ones. Run with `sbt test` in the benchmark's directory. */
class GenSpec extends AnyFunSuite {

  test("the same seed gives identical wire files, another seed different ones") {
    for (k <- Seq(0L, 1L, 2L, 57L)) {
      assert(Gen.wireBytes(7, Gen.wireSamples(7, k)) sameElements Gen.wireBytes(7, Gen.wireSamples(7, k)))
      assert(!(Gen.wireBytes(7, Gen.wireSamples(7, k)) sameElements Gen.wireBytes(8, Gen.wireSamples(8, k))))
    }
  }

  test("the same seed gives the same query sequence, another seed a different one") {
    def seq(seed: Long) = {
      val p = Gen.panels(seed)
      Gen.dashboardRounds(seed).take(4).flatten.map(p(_).key).toList
    }
    assert(seq(3) == seq(3))
    assert(seq(3) != seq(4))
    assert(RegistryWorkload.order(3) == RegistryWorkload.order(3))
    assert((0L until 8L).map(RegistryWorkload.order).distinct.size > 1)
  }

  test("wire files carry every sample once, apart from duplicates and the held-back tail") {
    val last = 30L
    val sent = (0L to last).flatMap(Gen.wireSamples(11, _))
    val all = (for (sid <- 0 until Gen.NSeries; m <- 0L to last) yield (sid, m)).toSet
    assert((sent.toSet ++ Gen.heldBack(11, last)) == all)
    assert(sent.toSet.intersect(Gen.heldBack(11, last).toSet).isEmpty)
    // out-of-order and duplicate shares are near their targets
    val dups = sent.size - sent.toSet.size
    assert(dups > 0 && dups < 2 * Gen.DupShare * all.size)
    assert(Gen.heldBack(11, last).nonEmpty)
  }

  /** A local session and a temporary directory, both removed afterwards. */
  private def withSpark(body: (SparkSession, java.nio.file.Path) => Unit): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("GenSpec")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("perfbench-genspec")
    try body(spark, dir)
    finally {
      spark.stop()
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(Files.delete(_))
    }
  }

  test("the same seed gives an identical series table, another seed a different one") {
    withSpark { (spark, dir) =>
      def digest(seed: Long, sub: String): String = {
        val d = dir.resolve(sub).toString
        Gen.seriesTable(spark, seed, 90, d)
        val df = spark.read.parquet(d)
        Digest.of(df.columns.toSeq, df.collect())
      }
      val a = digest(5, "a")
      assert(a.startsWith(s"${Gen.NSeries * 90}:"))
      assert(a == digest(5, "b"))
      assert(a != digest(6, "c"))
    }
  }

  test("the same seed gives byte-identical registry tables, another seed different ones") {
    withSpark { (spark, dir) =>
      def digests(seed: Long, sub: String): Map[String, String] = {
        val d = dir.resolve(sub).toString
        RegistryData.write(spark, seed, d)
        RegistryData.Sizes.keys.map { t =>
          val df = spark.read.parquet(s"$d/$t.parquet")
          t -> Digest.of(df.columns.toSeq, df.collect())
        }.toMap
      }
      val a = digests(5, "a")
      assert(a == digests(5, "b"))
      val c = digests(6, "c")
      assert(RegistryData.Sizes.keys.filterNot(Set("region", "nation")).forall(t => a(t) != c(t)))
    }
  }

  test("every seed maps onto a data variant with committed reference digests") {
    val variants = (0L until Gen.Variants.toLong).toSet
    assert(Seq(0L, 5L, 31L, 32L, 1000L, -1L, Long.MaxValue).map(Gen.variant).forall(variants))
    assert(Gen.variant(Gen.Variants + 3L) == 3L)
    for (w <- Seq("dashboard", "registry_batch"))
      assert(Json.read(Paths.get("digests", s"$w.json")).keySet.map(_.toLong) == variants, w)
  }
}
