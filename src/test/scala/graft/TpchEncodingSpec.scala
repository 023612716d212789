package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-encoding adaptivity for the TPC-H-ish core tables
  * (`lineitem` / `orders` / `part`) — closing the last gap of the
  * events (r7) and documents/embeddings (r12) pattern: a driver
  * testdata regeneration controls the parquet writer, and a pyarrow
  * re-encode (int32 keys, float32 measures, NTZ timestamps) must not
  * change a single core-family answer. `Tables.{lineitem,orders,part}`
  * normalize drifted column types at the scan; these tests write the
  * SAME logical tables in both encodings and require identical q01
  * (lineitem agg), q12 (orders health), and q08 (part⋈lineitem enrich)
  * results.
  */
class TpchEncodingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // All doubles minted FROM float-representable values (x.25 / x.03125
  // steps) so the float32-narrowed drift encoding round-trips
  // bit-identically. Timestamps built as NTZ — the canonical form the
  // driver's pyarrow writer ships (timestamp[us], isAdjustedToUTC =
  // false).
  private lazy val lineitemBase: DataFrame = {
    (0 until 300).map { i =>
      val day = 1 + i % 28
      (i.toLong / 4, (i % 40).toLong, (i % 7).toLong, i % 4,
        (1 + i % 50).toDouble, (i % 900) * 0.25 + 10.0,
        (i % 10) * 0.03125, (i % 8) * 0.03125,
        if (i % 3 == 0) "R" else "N", if (i % 2 == 0) "O" else "F",
        java.sql.Timestamp.valueOf(f"199${i % 5}-0${1 + i % 9}-$day%02d 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_shipdate", col("l_shipdate").cast(TimestampNTZType))
  }

  private lazy val ordersBase: DataFrame = {
    (0 until 120).map { i =>
      (i.toLong, (i % 30).toLong, if (i % 4 == 0) "F" else "O",
        (i % 700) * 0.25 + 100.0,
        java.sql.Timestamp.valueOf(f"199${i % 6}-0${1 + i % 9}-0${1 + i % 9} 00:00:00"),
        s"${1 + i % 5}-PRIO")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .withColumn("o_orderdate", col("o_orderdate").cast(TimestampNTZType))
  }

  private lazy val partBase: DataFrame = {
    (0 until 40).map { i =>
      (i.toLong, s"part name $i", s"Brand#${i % 5}", s"TYPE ${i % 3}",
        1 + i % 50, (i % 400) * 0.25 + 900.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice")
  }

  private def writeAll(dir: String, enc: String => DataFrame => DataFrame): String = {
    enc("lineitem")(lineitemBase).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    enc("orders")(ordersBase).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    enc("part")(partBase).write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  private lazy val canonDir = writeAll(
    java.nio.file.Files.createTempDirectory("graft-tpchenc").toString,
    _ => identity)

  // the drift class pyarrow regenerations have actually shipped:
  // narrowed integer keys, float32 measures, zoned timestamps, and
  // un-annotated BYTE_ARRAY (binary) strings
  private lazy val driftDir = writeAll(
    java.nio.file.Files.createTempDirectory("graft-tpchenc").toString,
    {
      case "lineitem" => df => df.select(
        col("l_orderkey").cast(IntegerType).as("l_orderkey"),
        col("l_partkey").cast(IntegerType).as("l_partkey"),
        col("l_suppkey").cast(IntegerType).as("l_suppkey"),
        col("l_linenumber").cast(ShortType).as("l_linenumber"),
        col("l_quantity").cast(FloatType).as("l_quantity"),
        col("l_extendedprice").cast(FloatType).as("l_extendedprice"),
        col("l_discount").cast(FloatType).as("l_discount"),
        col("l_tax").cast(FloatType).as("l_tax"),
        col("l_returnflag").cast(BinaryType).as("l_returnflag"),
        col("l_linestatus").cast(BinaryType).as("l_linestatus"),
        col("l_shipdate").cast(TimestampType).as("l_shipdate"))
      case "orders" => df => df.select(
        col("o_orderkey").cast(IntegerType).as("o_orderkey"),
        col("o_custkey").cast(IntegerType).as("o_custkey"),
        col("o_orderstatus").cast(BinaryType).as("o_orderstatus"),
        col("o_totalprice").cast(FloatType).as("o_totalprice"),
        col("o_orderdate").cast(TimestampType).as("o_orderdate"),
        col("o_orderpriority").cast(BinaryType).as("o_orderpriority"))
      case "part" => df => df.select(
        col("p_partkey").cast(IntegerType).as("p_partkey"),
        col("p_name").cast(BinaryType).as("p_name"),
        col("p_brand").cast(BinaryType).as("p_brand"),
        col("p_type").cast(BinaryType).as("p_type"),
        col("p_size").cast(ShortType).as("p_size"),
        col("p_retailprice").cast(FloatType).as("p_retailprice"))
    })

  test("drifted lineitem/orders/part normalize to the canonical schema") {
    for (dir <- Seq(canonDir, driftDir)) {
      val li = Tables.lineitem(spark, dir)
      assert(li.schema("l_orderkey").dataType === LongType, dir)
      assert(li.schema("l_linenumber").dataType === IntegerType, dir)
      assert(li.schema("l_extendedprice").dataType === DoubleType, dir)
      assert(li.schema("l_returnflag").dataType === StringType, dir)
      assert(li.schema("l_shipdate").dataType === TimestampNTZType, dir)
      val o = Tables.orders(spark, dir)
      assert(o.schema("o_orderkey").dataType === LongType, dir)
      assert(o.schema("o_totalprice").dataType === DoubleType, dir)
      assert(o.schema("o_orderdate").dataType === TimestampNTZType, dir)
      val p = Tables.part(spark, dir)
      assert(p.schema("p_partkey").dataType === LongType, dir)
      assert(p.schema("p_size").dataType === IntegerType, dir)
      assert(p.schema("p_retailprice").dataType === DoubleType, dir)
    }
  }

  test("canonical inputs pay no normalization projection") {
    for (t <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
      ("lineitem", Tables.lineitem), ("orders", Tables.orders),
      ("part", Tables.part))) {
      val plan = t._2(spark, canonDir).queryExecution.logical
      assert(plan.collect { case p: org.apache.spark.sql.catalyst.plans
        .logical.Project => p }.isEmpty,
        s"canonical ${t._1} must not pay a normalization projection")
    }
  }

  test("q01/q12/q08 agree across encodings") {
    for (q <- Seq("q01_pricing_summary", "q12_global_health",
        "q08_enrich_parts")) {
      val canon = SparkEntry.queries(q)(spark, canonDir)
        .collect().map(_.toString).sorted.toSeq
      val drift = SparkEntry.queries(q)(spark, driftDir)
        .collect().map(_.toString).sorted.toSeq
      assert(canon.nonEmpty, s"$q returned no rows on canonical encoding")
      assert(drift === canon, s"$q: drifted encoding disagrees")
    }
  }

  test("customer drift normalizes and q09 agrees across encodings") {
    val mk = (0 until 80).map { i =>
      (i.toLong, f"Customer#$i%09d", i % 25, (i % 800) * 0.25 - 50.0,
        Seq("BUILDING", "MACHINERY", "AUTOMOBILE")(i % 3))
    }
    val base = mk.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment")
    val canonDir = java.nio.file.Files.createTempDirectory("graft-tpchenc").toString
    base.write.mode("overwrite").parquet(s"$canonDir/customer.parquet")
    val driftDir = java.nio.file.Files.createTempDirectory("graft-tpchenc").toString
    base.select(
      col("c_custkey").cast(IntegerType).as("c_custkey"),
      col("c_name").cast(BinaryType).as("c_name"),
      col("c_nationkey").cast(ShortType).as("c_nationkey"),
      col("c_acctbal").cast(FloatType).as("c_acctbal"),
      col("c_mktsegment").cast(BinaryType).as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$driftDir/customer.parquet")
    assert(Tables.customer(spark, canonDir).queryExecution.logical.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
    }.isEmpty, "canonical customer must not pay a projection")
    val c = Tables.customer(spark, driftDir)
    assert(c.schema("c_custkey").dataType === LongType)
    assert(c.schema("c_nationkey").dataType === IntegerType)
    val canon = SparkEntry.queries("q09_standardize_text")(spark, canonDir)
      .collect().map(_.toString).sorted.toSeq
    val drift = SparkEntry.queries("q09_standardize_text")(spark, driftDir)
      .collect().map(_.toString).sorted.toSeq
    assert(canon.nonEmpty && drift === canon)
  }

  test("a numeric timestamp encoding fails loudly, not silently") {
    // a long epoch column would cast as SECONDS and corrupt every date
    // silently; the normalizer must refuse (the events-table nanos
    // class gets an explicit decode instead — Tables.events)
    val dir = java.nio.file.Files.createTempDirectory("graft-tpchenc").toString
    lineitemBase.withColumn("l_shipdate",
        unix_micros(col("l_shipdate").cast(TimestampType)))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val e = intercept[IllegalStateException](Tables.lineitem(spark, dir))
    assert(e.getMessage.contains("unsupported l_shipdate encoding"))
  }
}
