package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stand-in for the registry's input tables: the TPC-H-like star
  * schema, `events`, `documents` and `embeddings`, with the column names,
  * types and value domains the registry queries expect. Every column is a
  * pure function of (seed, row id), so the tables do not depend on how
  * Spark partitions the work. */
object RegistryData {

  /** Row counts: small enough that one pass over the selected queries fits a
    * run, large enough that execution, not job overhead, is most of a query. */
  val Sizes: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "supplier" -> 40L, "customer" -> 600L, "part" -> 800L,
    "orders" -> 6000L, "lineitem" -> 24000L, "events" -> 8000L, "documents" -> 1500L,
    "embeddings" -> 1000L)

  private val Words = Seq("the", "a", "fast", "slow", "key", "order", "sort", "table", "scan",
    "merge", "part", "window", "small", "big", "hash", "join", "batch", "stream", "spark",
    "dup", "group", "query", "row", "data", "filter", "customer", "line", "value", "agg",
    "column", "vector", "and", "of", "to", "in", "is", "for", "el", "la", "der", "die", "le")

  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    // uniform [0,1) and bounded ints from (seed, table tag, row id, column tag)
    def u(tag: Int, c: Int): Column =
      (pmod(xxhash64(lit(seed), lit(tag), col("id"), lit(c)), lit(1000000007L)) / 1000000007.0)
    def n(tag: Int, c: Int, k: Long): Column =
      pmod(xxhash64(lit(seed), lit(tag), col("id"), lit(c)), lit(k))
    def pick(tag: Int, c: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (n(tag, c, xs.size.toLong) + 1).cast("int"))
    def range(t: String): DataFrame = spark.range(0L, Sizes(t), 1L, parts).toDF()
    def day(baseEpochDay: Long, tag: Int, c: Int, days: Long): Column =
      timestamp_seconds((lit(baseEpochDay) + n(tag, c, days)) * 86400L)
    def save(t: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")

    save("region", range("region").select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        col("id").cast("int") + 1).as("r_name")))
    save("nation", range("nation").select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    save("supplier", range("supplier").select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      n(3, 1, 25).cast("int").as("s_nationkey"),
      round(u(3, 2) * 10999 - 999, 2).as("s_acctbal")))
    save("customer", range("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      n(4, 1, 25).cast("int").as("c_nationkey"),
      round(u(4, 2) * 10999 - 999, 2).as("c_acctbal"),
      pick(4, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    save("part", range("part").select(col("id").as("p_partkey"),
      concat_ws(" ", pick(5, 1, Seq("cold", "small", "large", "red", "shiny")),
        pick(5, 2, Seq("widget", "bolt", "gear", "nut", "panel"))).as("p_name"),
      concat(lit("Brand#"), n(5, 3, 25) + 1).as("p_brand"),
      pick(5, 4, Seq("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")).as("p_type"),
      (n(5, 5, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + col("id") * 0.1, 2).as("p_retailprice")))
    save("orders", range("orders").select(col("id").as("o_orderkey"),
      n(6, 1, Sizes("customer")).as("o_custkey"),
      pick(6, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(6, 3) * 400000 + 1000, 2).as("o_totalprice"),
      day(9131L, 6, 4, 2500).as("o_orderdate"),
      pick(6, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    save("lineitem", range("lineitem").select(
      n(7, 1, Sizes("orders")).as("l_orderkey"),
      n(7, 2, Sizes("part")).as("l_partkey"),
      n(7, 3, Sizes("supplier")).as("l_suppkey"),
      (n(7, 4, 7) + 1).cast("int").as("l_linenumber"),
      (n(7, 5, 50) + 1).cast("double").as("l_quantity"),
      round(u(7, 6) * 100000 + 900, 2).as("l_extendedprice"),
      (n(7, 7, 11) / 100.0).as("l_discount"),
      (n(7, 8, 9) / 100.0).as("l_tax"),
      pick(7, 9, Seq("N", "A", "R")).as("l_returnflag"),
      pick(7, 10, Seq("O", "F")).as("l_linestatus"),
      day(9132L, 7, 11, 2500).as("l_shipdate")))
    save("events", range("events").select(col("id").as("event_id"),
      // 2024-01-01 plus up to 30 days, microsecond resolution
      timestamp_micros(lit(1704067200000000L) + (u(8, 1) * 2.592e12).cast("long")).as("ts"),
      n(8, 2, Sizes("events") / 70).as("user_id"),
      pick(8, 3, Seq("view", "click", "signup", "purchase", "error")).as("event_type"),
      round(u(8, 4) * 200, 2).as("value"),
      format_string("{\"k\": %d}", n(8, 5, 100)).as("props")))
    // every 20th document repeats its predecessor and every 20th-minus-3 is
    // a near duplicate, so the dedup operators have work to find
    val docBase = when(col("id") % 20 === 19 || col("id") % 20 === 17, col("id") - 1).otherwise(col("id"))
    save("documents", range("documents")
      .withColumn("_b", docBase)
      .withColumn("_len", (pmod(xxhash64(lit(seed), lit(9), col("_b")), lit(100L)) + 20).cast("int"))
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), col("_len")), j =>
        element_at(array(Words.map(lit): _*),
          (pmod(xxhash64(lit(seed), lit(10), col("_b"), j), lit(Words.size.toLong)) + 1).cast("int")))))
      .withColumn("text", when(col("id") % 20 === 17, concat(col("text"), lit(" novel tail marker")))
        .otherwise(col("text")))
      .select(col("id").as("doc_id"), col("text"),
        pick(11, 1, Seq("en", "en", "es", "zh", "de", "fr")).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"),
        length(col("text")).cast("long").as("n_chars")))
    save("embeddings", range("embeddings").select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), k =>
        ((pmod(xxhash64(lit(seed), lit(12), col("id"), k), lit(1000003L)) / 1000003.0 - 0.5) * 0.4)
          .cast("float")).as("embedding"),
      n(12, 99, 10).cast("int").as("label")))
  }
}
