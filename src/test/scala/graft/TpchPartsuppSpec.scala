package graft

import graft.queries.Tpch
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Pre-builds the partsupp TPC-H family (q2/q9/q11/q16/q20) before the
  * driver ships `partsupp.parquet`: a deterministic TPC-H-shaped fixture
  * ([[Tpch.synthPartsupp]]) is written into a staged sf dir (symlinks to
  * the real sf0.001 tables + the synthesized partsupp), every QueryDef runs
  * end-to-end on it, and each result is compared POSITIONALLY — the driver
  * compare's discipline (columns sorted by name, exact values) — against a
  * full SQL-engine replay of its DuckDB oracle text over the same tables.
  * The oracles stay in the ANSI subset both engines execute, so the day
  * the real table appears the registry hook (`Tpch.partsuppAvailable`)
  * activates five already-proven entries. */
class TpchPartsuppSpec extends SparkTestBase {

  private val realSf = "/root/testdata/sf0.001"

  private lazy val stagedSf: String = {
    val dir = tempDir("partsupp").toString
    for (t <- Seq("lineitem", "orders", "part", "supplier", "nation", "region"))
      Files.createSymbolicLink(
        Paths.get(dir, s"$t.parquet"), Paths.get(realSf, s"$t.parquet"))
    Tpch.synthPartsupp(spark, realSf)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/partsupp.parquet")
    dir
  }

  private def registerViews(): Unit =
    for (t <- Seq("lineitem", "orders", "part", "supplier", "nation",
        "region", "partsupp"))
      spark.read.parquet(s"$stagedSf/$t.parquet").createOrReplaceTempView(t)

  /** Driver-compare discipline: sort columns by name, compare positionally,
    * exact values (stringified — the gate hashes exact values too). */
  private def assertSameResult(name: String,
                               got: org.apache.spark.sql.DataFrame,
                               want: org.apache.spark.sql.DataFrame): Unit = {
    val cols = got.columns.sorted.toSeq
    assert(cols == want.columns.sorted.toSeq,
      s"$name: columns ${got.columns.toSeq} vs ${want.columns.toSeq}")
    val g = got.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    val w = want.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(g.size == w.size, s"$name: rows ${g.size} vs ${w.size}")
    assert(g.nonEmpty, s"$name: empty result proves nothing")
    g.zip(w).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"$name row $i: $a vs $b")
    }
  }

  test("synthesized partsupp is deterministic, key-unique, TPC-H-shaped") {
    assume(new java.io.File(s"$realSf/part.parquet").exists)
    val ps = Tpch.synthPartsupp(spark, realSf)
    val n = ps.count()
    val parts = spark.read.parquet(s"$realSf/part.parquet").count()
    assert(n == parts * 4, "exactly 4 suppliers per part")
    assert(ps.select("ps_partkey", "ps_suppkey").distinct().count() == n,
      "(partkey, suppkey) pairs must be unique")
    val r = ps.agg(min("ps_availqty"), max("ps_availqty"),
      min("ps_supplycost"), max("ps_supplycost")).head()
    assert(r.getInt(0) >= 1 && r.getInt(1) <= 9999)
    assert(r.getDouble(2) >= 1.0 && r.getDouble(3) <= 1000.0)
    // deterministic: a second derivation is row-identical
    assert(Tpch.synthPartsupp(spark, realSf).exceptAll(ps).isEmpty)
  }

  test("all five partsupp queries match their oracle replay on the staged sf") {
    assume(new java.io.File(s"$realSf/part.parquet").exists)
    registerViews()
    assert(Tpch.partsuppDefs.map(_.name).sorted == Seq(
      "tpch_q11_important_stock", "tpch_q16_supplier_cnt",
      "tpch_q20_surplus_stock", "tpch_q2_min_cost_supp",
      "tpch_q9_product_profit"))
    for (qd <- Tpch.partsuppDefs) {
      val got = qd.fn(spark, stagedSf)
      val want = spark.sql(qd.oracle.get)
      assertSameResult(qd.name, got, want)
    }
  }

  test("registry hook: active only when partsupp ships in every sf dir") {
    // today's testdata has no partsupp → the five stay out of the registry
    assert(!Tpch.partsuppAvailable("/root/testdata") ||
      new java.io.File("/root/testdata/sf0.001/partsupp.parquet").exists(),
      "hook may only fire when the table actually shipped")
    // a staged root WITH the table activates; one missing sf deactivates
    val root = tempDir("psroot").toString
    val sfA = Paths.get(root, "sfA"); Files.createDirectories(sfA)
    Files.createFile(sfA.resolve("lineitem.parquet"))
    Files.createFile(sfA.resolve("partsupp.parquet"))
    assert(Tpch.partsuppAvailable(root))
    val sfB = Paths.get(root, "sfB"); Files.createDirectories(sfB)
    Files.createFile(sfB.resolve("lineitem.parquet"))
    assert(!Tpch.partsuppAvailable(root), "partial shipment must stay spec-only")
  }
}
