package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew

class SkewHealthSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("planted hot key: AQE skew-join splits it; salting spreads it when AQE cannot") {
    // one hot key (k=0, 150k rows) among 50 cold keys — the fixture both
    // mitigation paths are judged on
    val big = spark.range(150000).select(lit(0L).as("k"), $"id".as("v"))
      .unionAll(spark.range(50).select(($"id" + 1).as("k"), $"id".as("v")))
    val small = spark.range(51).select($"id".as("k"), ($"id" * 10).as("w"))
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      // force a shuffled SMJ (no broadcast) and scale AQE's byte
      // thresholds down to fixture size so the skew machinery engages
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")

      // PATH A — AQE handles it: the hot partition splits at runtime
      // (final adaptive plan carries a skew-annotated shuffle read)
      val aqe = big.join(small, Seq("k"))
      // collect() (not count()) so THIS queryExecution runs to its final
      // adaptive plan — count() would execute a separate aggregate plan
      assert(aqe.collect().length === 150050)
      val plan = aqe.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"),
        s"AQE must have split the hot partition:\n$plan")

      // PATH B — a pinned NON-ADAPTIVE plan (AQE off entirely — the
      // scenario rule 3 of the Skew scaladoc names): the plain join
      // funnels every hot-key row through ONE task, the salted join
      // spreads them across tasks. Execution-level proof via the
      // distinct partition ids the hot rows land in.
      conf.set("spark.sql.adaptive.enabled", "false")
      val plain = big.join(small, Seq("k"))
      val plainParts = plain.filter($"k" === 0L)
        .select(spark_partition_id()).distinct().count()
      assert(plainParts === 1L,
        s"without mitigation the hot key must occupy one task, got $plainParts")
      val salted = Skew.saltedJoin(big, small, Seq("k"), salt = 8)
      val saltedParts = salted.filter($"k" === 0L)
        .select(spark_partition_id()).distinct().count()
      assert(saltedParts > 1L,
        s"salting must spread the hot key across tasks, got $saltedParts")
      assert(salted.count() === plain.count(), "salting must not change the answer")
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("saltedJoin equals the plain join, inner and left") {
    val big = Tables.lineitem(spark, SparkTestSession.sfTiny)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val small = Tables.part(spark, SparkTestSession.sfTiny)
      .select(col("p_partkey").as("l_partkey"), col("p_name"))
      .filter(col("l_partkey") % 2 === 0)

    val plainInner = big.join(small, Seq("l_partkey"))
    val saltedInner = Skew.saltedJoin(big, small, Seq("l_partkey"), salt = 7)
    assert(saltedInner.count() == plainInner.count())
    assert(saltedInner.agg(sum("l_quantity")).first().getDouble(0) ==
      plainInner.agg(sum("l_quantity")).first().getDouble(0))

    val plainLeft = big.join(small, Seq("l_partkey"), "left")
    val saltedLeft = Skew.saltedJoin(big, small, Seq("l_partkey"), salt = 7, "left")
    assert(saltedLeft.count() == plainLeft.count())
    assert(saltedLeft.filter(col("p_name").isNull).count() ==
      plainLeft.filter(col("p_name").isNull).count())
  }

  test("saltedCount matches plain groupBy count") {
    val li = Tables.lineitem(spark, SparkTestSession.sfTiny)
    val plain = li.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(li, Seq("l_returnflag"), salt = 5)
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("health views report volume, integrity, coverage; validate flags violations") {
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("2025-06-01 10:00:00")
    val silver = Seq(
      (1, 2024, "DOG", Option("M5V"), true, true, ts),
      (2, 2024, "CAT", None, false, true, ts),
      (3, 2025, "DOG", Option("M4C"), true, false, ts))
      .toDF("_id", "Year", "ANIMAL_TYPE", "FSA", "FSA_VALID", "breed_mapped", "processed_ts")

    val h = graft.pipeline.Health.silverHealth(silver).first()
    assert(h.getAs[Long]("total_rows") == 3)
    assert(h.getAs[Long]("mapped_rows") == 2)
    assert(h.getAs[Long]("null_fsa_rows") == 1)
    assert(math.abs(h.getAs[Double]("pct_mapped") - 200.0 / 3.0) < 1e-9)

    val checks = graft.pipeline.Health.validate(silver)
    assert(checks.values.forall(identity), s"expected all healthy: $checks")

    // a duplicated id and an out-of-whitelist type flip their checks
    val bad = silver.unionByName(
      Seq((1, 2024, "BIRD", Option("M5V"), true, true, ts))
        .toDF("_id", "Year", "ANIMAL_TYPE", "FSA", "FSA_VALID", "breed_mapped", "processed_ts"))
    val badChecks = graft.pipeline.Health.validate(bad)
    assert(!badChecks("ids_unique") && !badChecks("no_duplicate_ids"))
    assert(!badChecks("animal_type_whitelisted"))

    // null edges, pinned to what the per-probe form (a GROUP BY _id
    // duplicate probe and one filter per check) answered
    def validate(rows: (Option[Int], Option[String], Option[String], Option[Boolean])*) =
      graft.pipeline.Health.validate(rows.toDF("_id", "ANIMAL_TYPE", "FSA", "FSA_VALID")
        .withColumn("Year", lit(2024)).withColumn("breed_mapped", lit(true))
        .withColumn("processed_ts", lit(ts)))
    def healthy(broken: String*) = Seq("ids_unique", "no_duplicate_ids",
      "fsa_flag_consistent", "animal_type_whitelisted").map(k => k -> !broken.contains(k)).toMap
    val ok = (Option(1), Option("DOG"), Option("M5V"), Option(true))
    val nullId = ok.copy(_1 = None)
    assert(validate(ok, nullId) == healthy("ids_unique"))
    assert(validate(ok, nullId, nullId) == healthy("ids_unique", "no_duplicate_ids"))
    assert(validate(ok, (Option(2), None, Option("M5V"), Option(true))) == healthy())
    assert(validate(ok, (Option(2), Option("DOG"), None, Option(false))) == healthy())
    assert(validate(ok, (Option(2), Option("DOG"), None, None)) ==
      healthy("fsa_flag_consistent"))

    val bh = graft.pipeline.Health.bronzeHealth(
      silver.withColumn("ingestion_ts", col("processed_ts"))).first()
    assert(bh.getAs[Long]("invalid_fsa_rows") == 1)
    assert(bh.getAs[Long]("distinct_years") == 2)
  }

  test("keyHistogram surfaces the heaviest keys with shares") {
    val li = Tables.lineitem(spark, SparkTestSession.sfTiny)
    val hist = Skew.keyHistogram(li, Seq("l_returnflag"), topN = 3).collect()
    assert(hist.length == 3)
    assert(hist(0).getAs[Long]("cnt") >= hist(1).getAs[Long]("cnt"))
    val totalShare = hist.map(_.getAs[Double]("share_pct")).sum
    assert(totalShare > 99.0 && totalShare <= 100.0001) // 3 flags cover all
  }
}
