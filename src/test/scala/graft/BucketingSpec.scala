package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bucketing

class BucketingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q36 fixture tags differ for sf dirs with equal hash codes") {
    assert("/x/Aa".hashCode == "/x/BB".hashCode)
    assert(queries.Fixtures.fixtureTag("/x/Aa") != queries.Fixtures.fixtureTag("/x/BB"))
  }

  test("bucketed co-located join eliminates the shuffle on both sides") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed")
    val orders = Tables.orders(spark, SparkTestSession.sfTiny)
    val customer = Tables.customer(spark, SparkTestSession.sfTiny)
    Bucketing.writeBucketed(orders, "b_orders", 4, Seq("o_custkey"),
      sortCols = Seq("o_custkey"), path = Some(s"$dir/orders"))
    Bucketing.writeBucketed(
      customer.withColumnRenamed("c_custkey", "o_custkey"),
      "b_customer", 4, Seq("o_custkey"),
      sortCols = Seq("o_custkey"), path = Some(s"$dir/customer"))

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the bucketing is what's under test
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.table(spark, "b_orders")
        .join(Bucketing.table(spark, "b_customer"), Seq("o_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      val plan = joined.queryExecution.executedPlan.toString

      // the join reads both sides pre-partitioned: everything at and
      // below the SortMergeJoin is exchange-free (the only Exchange left
      // is the tiny post-partial-agg regroup on c_mktsegment, which is a
      // different key)
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSubtree.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert("Bucketed: true".r.findAllIn(plan).size == 2,
        s"both scans must report bucketed reads:\n$plan")

      // and the results equal the plain (shuffled) join
      val got = joined.as[(String, Long)].collect().toMap
      val expected = orders
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .as[(String, Long)].collect().toMap
      assert(got == expected && got.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }
}
