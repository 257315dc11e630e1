package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.rows.QueryDef

/** The row registry behind `SparkEntry.queries` and `SparkEntry.oracleSql`:
  * each row declares its name, oracle SQL and closure once. */
class QueryRegistrySpec extends AnyFunSuite {

  test("the registry holds the 297 declared rows, and both contract maps are keyed by them") {
    assert(QueryDef.all.size == 297)
    assert(SparkEntry.queries.keySet == QueryDef.all.keySet)
    assert(SparkEntry.oracleSql.keySet == QueryDef.all.keySet)
  }

  test("every row name is declared once") {
    val names = QueryDef.declared.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
  }

  test("every row has a non-empty oracle") {
    val empty = QueryDef.all.values.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"rows without an oracle: ${empty.mkString(", ")}")
  }

  test("building a registry with a repeated name throws") {
    val build: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException](QueryDef.byName(Seq(
      QueryDef("q_twice", "SELECT 1")(build), QueryDef("q_once", "SELECT 2")(build),
      QueryDef("q_twice", "SELECT 3")(build))))
    assert(e.getMessage.contains("q_twice") && !e.getMessage.contains("q_once"))
  }
}
