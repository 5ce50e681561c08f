package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 removed the public `Column(expr)` / `col.expr` surface (Columns
  * are connect-agnostic nodes now); the classic-backend converters live in
  * `classic.ExpressionUtils`, which is `private[sql]`. Every graft kernel is
  * built as a Column through this one-file bridge under the sql package, so
  * no session needs a function registered and kernels that carry DRIVER
  * DATA in constructor fields (e.g. the PQ codebooks) need no SQL string.
  * No Spark internals are modified or shadowed. */
object ColumnBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
  /** The value under a sort order (`col("x").desc` gives `col("x")`); any
    * other column unchanged. */
  def unsorted(c: Column): Column = c.node match {
    case s: org.apache.spark.sql.internal.SortOrder => new Column(s.child)
    case _ => c
  }
}

/** Waits until the listener bus has delivered every event posted so far;
  * the bus itself is not public. */
object BusBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}

/** The CacheManager's entry count, which the public `SparkSession` API no
  * longer exposes in Spark 4. The manager is shared by every session of a
  * context; graft's memoized frames are its only intended entries, so the
  * count reads 0 once [[graft.core.Memo.clearSession]] has run. */
object CacheBridge {
  def cachedEntries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
