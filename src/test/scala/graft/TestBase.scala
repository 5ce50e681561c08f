package graft

import graft.core.{QueryGrid, TsSchema}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + golden-fixture helpers.
  *
  * Fixture format mirrors the reference's golden YAML corpus
  * (src/javaRestTest/resources/test_cases/golden_dataset_rest_it.yaml):
  * a series is a labels string "k:v,k:v" plus a values array laid positionally
  * on a FIXED_INTERVAL grid; `None` means NO sample (null-as-absence).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A fresh `graft_<tag>` temp dir, deleted with its contents after the
    * spec's last test (symlinks inside are unlinked, never followed). */
  def tempDir(tag: String): java.nio.file.Path = tempDirs.synchronized {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    tempDirs += d
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(graft.queries.StreamingQ.deleteRec))
    finally super.afterAll()

  /** Grid used by most golden cases: 10 points at 1m steps, end-exclusive. */
  val g: QueryGrid = QueryGrid(60000L, 60000L * 11, 60000L)

  def series(labels: String, values: Seq[Option[Double]], grid: QueryGrid = g): Seq[Row] = {
    val m = labels.split(",").map { kv =>
      val Array(k, v) = kv.split(":", 2); k -> v
    }.toMap
    values.zipWithIndex.collect { case (Some(v), i) =>
      Row(m, grid.startMs + i * grid.stepMs, v)
    }
  }

  def samplesDF(rows: Seq[Row], session: SparkSession = spark): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("labels", MapType(StringType, StringType, valueContainsNull = false)),
      StructField("timestamp", LongType, nullable = false),
      StructField("value", DoubleType, nullable = false)))
    TsSchema.relabel(
      session.createDataFrame(session.sparkContext.parallelize(rows, 2), schema))
      .select("series_id", "labels", "timestamp", "value")
  }

  /** Collect a canonical samples result to (seriesKey → positional values on
    * the grid), for golden comparison; missing grid points → None. */
  def toGolden(df: DataFrame, grid: QueryGrid = g): Map[String, Seq[Option[Double]]] = {
    val rows = df
      .select(TsSchema.seriesKey(col("labels")).as("sk"), col("timestamp"), col("value"))
      .collect()
    rows.groupBy(_.getString(0)).map { case (sk, rs) =>
      val byTs = rs.map(r => r.getLong(1) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      sk -> (0L until grid.numPoints).map(i => byTs.getOrElse(grid.startMs + i * grid.stepMs, None))
    }
  }

  def assertSeries(df: DataFrame, expected: Map[String, Seq[Option[Double]]],
                   grid: QueryGrid = g, tol: Double = 1e-9): Unit = {
    val got = toGolden(df, grid)
    assert(got.keySet == expected.keySet,
      s"series mismatch: got ${got.keySet}, want ${expected.keySet}")
    for ((sk, want) <- expected) {
      val have = got(sk)
      assert(have.length == want.length, s"$sk: length ${have.length} vs ${want.length}")
      have.zip(want).zipWithIndex.foreach {
        case ((Some(h), Some(w)), i) =>
          assert(math.abs(h - w) <= tol || (h.isNaN && w.isNaN),
            s"$sk[$i]: $h != $w")
        case ((None, None), _) =>
        case ((h, w), i) => fail(s"$sk[$i]: $h vs $w")
      }
    }
  }
}

object SparkTestBase {
  /** The shared test session. Its memo entries (persisted frames, staged
    * stream-source dirs) are freed once, when the test JVM exits. */
  lazy val session: SparkSession = {
    val s = graft.core.Session(cpus = 4)
    sys.addShutdownHook(graft.core.Memo.clearSession(s))
    s
  }
}
