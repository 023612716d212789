package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** The driver contract's registry: every query declared once, in one
  * family, beside a non-empty oracle.
  */
class RegistrySpec extends AnyFunSuite {
  private val families = Seq(RelationalQueries.all, TemporalQueries.all,
    TextQueries.all, DedupQueries.all, VectorQueries.all, MediaQueries.all,
    LakehouseQueries.all, GraphQueries.all)
  private val names = SparkEntry.registry.map(_.name)

  test("133 uniquely named entries, each with a build function and a non-empty oracle") {
    assert(names.size === 133)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === names.toSet)
    for ((name, sql) <- SparkEntry.oracleSql)
      assert(sql.trim.nonEmpty, s"$name has an empty oracle")
  }

  test("shared oracles equal their source's") {
    val o = SparkEntry.oracleSql
    assert(o("q89_version_cdc") === o("q71_snapshot_cdc"))
    assert(o("q30_knn_ivf") === o("q28_knn_lsh"))
    assert(o("q65_knn_pq") === o("q28_knn_lsh"))
    assert(o("q59_incremental_bucketed") === o("q53_incremental_neardup"))
    assert(o("q127_sql_time_travel") === o("q84_versioned_table"))
  }

  test("every family is non-empty and each query sits in exactly one") {
    assert(families.forall(_.nonEmpty))
    val members = families.flatten.map(_.name)
    assert(members.sorted === names.sorted)
  }

  test("a registry holding a duplicate name fails, naming it") {
    val q = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.unique(SparkEntry.registry :+ q.copy(oracle = "SELECT 1")))
    assert(e.getMessage.contains(q.name))
  }

  test("Verify's subset names every argument that matches no registered query") {
    assert(Verify.unknownQueries(Seq("q02_top_parts_per_flag", "q28_knn_lsh")).isEmpty)
    assert(Verify.unknownQueries(Seq("none_such", "q02_top_parts_per_flag", "q999_typo",
      "none_such")) === Seq("none_such", "q999_typo"))
  }
}
