package graft

import graft.queries.Registry
import org.scalatest.funsuite.AnyFunSuite

/** Every registry row is checkable: its Spark result has a DuckDB SQL oracle
  * the correctness gate replays on the same parquet tables. */
class RegistrySpec extends AnyFunSuite {

  test("every registry row has an oracle") {
    val missing = Registry.queries.keySet -- Registry.oracleSql.keySet
    assert(Registry.oracleSql.keySet == Registry.queries.keySet,
      s"rows without an oracle: ${missing.toSeq.sorted.mkString(", ")}")
  }
}
