package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark DataFrame builder plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB on the same parquet tables.
  * Column names and row order must match between the two (the driver compare
  * sorts columns by name and hashes values).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryPack {
  def all: Seq[QueryDef]
}

object Registry {
  def packs: Seq[QueryPack] = Seq(Tpch, M3, M3b, PromX, Pipeline, StreamingQ, RetrievalQ)

  /** Build-once catalog table for a query pack: the in-memory catalog
    * forgets tables across sessions but their warehouse locations survive,
    * and CREATE refuses a non-empty location — so clear any stale one
    * before building. `companions` = further tables the build writes under
    * derived names (e.g. the IVF `_cents` table), whose stale locations
    * break the build the same way. */
  def ensureTable(s: SparkSession, table: String,
                  companions: Seq[String] = Nil)(build: => Unit): Unit =
    if (!s.catalog.tableExists(table)) {
      clearStaleLocations(s, table +: companions)
      build
    }

  /** Delete the warehouse locations of `tables` that the catalog does not
    * know: a stale location makes `saveAsTable` fail with
    * LOCATION_ALREADY_EXISTS, while a cataloged table's own location is
    * replaced by an overwrite. */
  def clearStaleLocations(s: SparkSession, tables: Seq[String]): Unit =
    tables.filterNot(s.catalog.tableExists).foreach { t =>
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(
          new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))), t)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    }

  lazy val all: Seq[QueryDef] = packs.flatMap(_.all)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
