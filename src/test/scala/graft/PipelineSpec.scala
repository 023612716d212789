package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerSync
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._
import graft.pipeline.Model.PipelineConfig
import graft.sources.Sources

/** End-to-end pipeline parity spec (reference lifecycle SURVEY.md §3.1):
  * raw CSV → bronze → silver → gold views, plus the idempotency
  * protocol (ledger skip, anti-join re-run no-ops) and the breed-mapping
  * maintenance path.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def withPipelineDirs(test: (Path, PipelineConfig) => Unit): Unit = {
    val root = Files.createTempDirectory("graft-pipeline")
    try {
      val cfg = PipelineConfig(
        rawDir = s"$root/raw", bronzeDir = s"$root/bronze",
        silverDir = s"$root/silver", controlDir = s"$root/control",
        ingestionDate = "2025-06-01",
        now = Timestamp.valueOf("2025-06-01 10:00:41"))
      test(root, cfg)
    } finally {
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  private def writeRawCsv(dir: String, date: String, rows: Seq[String]): Unit = {
    val drop = new java.io.File(s"$dir/ingestion_date=$date")
    drop.mkdirs()
    val f = new java.io.PrintWriter(s"$drop/part0.csv")
    f.println("_id,Year,FSA,ANIMAL_TYPE,PRIMARY_BREED")
    rows.foreach(f.println)
    f.close()
  }

  private val day1Rows = Seq(
    "1,2024,M5V,dog, golden retr ",
    "2,2024,M5V,CAT,DSH",
    "3,2024,XXX,DOG,german shepard",     // invalid FSA shape → FSA_VALID=false
    "4,2025,m4c,cat,Domestic Short Hair",
    "5,2025,M4C,DOG,UNICORN BREED")      // unmapped breed → fallback to raw

  private def mapping(s: org.apache.spark.sql.SparkSession): DataFrame =
    BreedMapping.normalizedUpdates(s, BreedMapping.seedPairs)

  test("bronze run loads, standardizes, and is idempotent via ledger + anti-join") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)

      assert(Bronze.run(spark, cfg) == Bronze.Loaded(5))
      val bronze = spark.read.parquet(cfg.bronzeDir)
      assert(bronze.count() == 5)
      // standardization applied
      val r1 = bronze.filter(col("_id") === 1).first()
      assert(r1.getAs[String]("PRIMARY_BREED") == "GOLDEN RETR")
      assert(r1.getAs[String]("ANIMAL_TYPE") == "DOG")
      assert(r1.getAs[Boolean]("FSA_VALID"))
      assert(!bronze.filter(col("_id") === 3).first().getAs[Boolean]("FSA_VALID"))

      // whole-run re-run → ledger skip
      assert(Bronze.run(spark, cfg) == Bronze.SkippedAlreadyLoaded)
      assert(spark.read.parquet(cfg.bronzeDir).count() == 5)

      // partial re-delivery on a new date → anti-join drops known ids
      val cfg2 = cfg.copy(ingestionDate = "2025-06-02",
        now = Timestamp.valueOf("2025-06-02 10:00:41"))
      writeRawCsv(cfg.rawDir, "2025-06-02",
        Seq("1,2024,M5V,DOG,GOLDEN RETR", "6,2025,M6K,CAT,MIX"))
      assert(Bronze.run(spark, cfg2) == Bronze.Loaded(1))
      val after = spark.read.parquet(cfg.bronzeDir)
      assert(after.count() == 6)
      // earliest write wins: _id=1 still carries day-1 ingestion_date
      assert(after.filter(col("_id") === 1).first()
        .getAs[java.sql.Date]("ingestion_date").toString == "2025-06-01")
    }
  }

  test("bronze guards abort on null id, duplicate id, and bad animal type") {
    // the first violated guard in the reference's order names the abort,
    // and an aborted run writes neither bronze nor the ledger
    val nullId = "guard: null _id in batch"
    val duplicateId = "guard: duplicate _id within batch"
    val badType = "guard: ANIMAL_TYPE outside {DOG,CAT}"
    Seq(
      Seq(",2024,M5V,DOG,MIX") -> nullId,
      Seq("1,2024,M5V,DOG,MIX", "1,2024,M5V,DOG,MIX") -> duplicateId,
      Seq("1,2024,M5V,BIRD,PARROT") -> badType,
      // two guards broken at once: the earlier one in the order fires
      Seq(",2024,M5V,DOG,MIX", "2,2024,M5V,BIRD,PARROT") -> nullId,
      Seq("1,2024,M5V,DOG,MIX", "1,2024,M5V,BIRD,PARROT") -> duplicateId
    ).foreach { case (rows, message) =>
      withPipelineDirs { (_, cfg) =>
        writeRawCsv(cfg.rawDir, cfg.ingestionDate, rows)
        val e = intercept[IllegalArgumentException](Bronze.run(spark, cfg))
        assert(e.getMessage == s"requirement failed: $message", s"batch $rows")
        assert(!Sources.dirNonEmpty(spark, cfg.bronzeDir), s"batch $rows wrote bronze")
        assert(!Sources.dirNonEmpty(spark, cfg.controlDir), s"batch $rows wrote the ledger")
      }
    }
    // a NULL type is not outside the whitelist: the row loads
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, Seq("1,2024,M5V,,MIX"))
      assert(Bronze.run(spark, cfg) == Bronze.Loaded(1))
    }
  }

  /** Names of the SQL actions `body` runs, in completion order. */
  private def actions(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = seen.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen.add(funcName)
    }
    ListenerSync.waitUntilEmpty(sc)
    spark.listenerManager.register(listener)
    try {
      body
      ListenerSync.waitUntilEmpty(sc)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  test("bronze, silver and a silver re-run each run a pinned number of actions") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      val dim = mapping(spark)
      // date probe, guard aggregate, count, append, ledger append
      val bronze = actions(assert(Bronze.run(spark, cfg) == Bronze.Loaded(5)))
      assert(bronze.size == 5, bronze)
      // guard aggregate, count, append
      val silver = actions(assert(Silver.run(spark, cfg, dim) == Silver.Loaded(5)))
      assert(silver.size == 3, silver)
      // guard aggregate, count of zero new rows; nothing written
      val rerun = actions(assert(Silver.run(spark, cfg, dim) == Silver.SkippedEmptyBatch))
      assert(rerun.size == 2, rerun)
    }
  }

  test("silver maps breeds, nulls invalid FSA, dedups, and re-runs are no-ops") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      assert(Bronze.run(spark, cfg) == Bronze.Loaded(5))
      assert(Silver.run(spark, cfg, mapping(spark)) == Silver.Loaded(5))

      val silver = spark.read.parquet(cfg.silverDir)
      assert(silver.columns.toSet == Silver.columns.toSet)

      // mapped breed: "golden retr" → GOLDEN RETRIEVER, flag true
      val r1 = silver.filter(col("_id") === 1).first()
      assert(r1.getAs[String]("breed_standard") == "GOLDEN RETRIEVER")
      assert(r1.getAs[Boolean]("breed_mapped"))
      // unmapped breed falls back to raw, flag false
      val r5 = silver.filter(col("_id") === 5).first()
      assert(r5.getAs[String]("breed_standard") == "UNICORN BREED")
      assert(!r5.getAs[Boolean]("breed_mapped"))
      // invalid FSA nulled out
      assert(silver.filter(col("_id") === 3).first().getAs[String]("FSA") == null)

      // silver re-run: anti-join makes it a no-op
      assert(Silver.run(spark, cfg, mapping(spark)) == Silver.SkippedEmptyBatch)
      assert(spark.read.parquet(cfg.silverDir).count() == 5)
    }
  }

  test("pipeline output runs catalog-backed: DDL registration, SQL reads, pruning") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      assert(Bronze.run(spark, cfg) == Bronze.Loaded(5))

      // the reference's register_bronze.sql path: external-location DDL
      // over the bronze dir, partitions recovered from disk
      spark.sql("DROP TABLE IF EXISTS pets_bronze")
      graft.sources.Sources.registerExternalPartitioned(
        spark, "pets_bronze", cfg.bronzeDir, Model.PartitionCols)
      val viaSql = spark.sql("SELECT COUNT(*) AS n FROM pets_bronze").first().getLong(0)
      assert(viaSql == spark.read.parquet(cfg.bronzeDir).count())

      // a user's partition-filtered SQL prunes through the catalog
      val pruned = spark.sql(
        "SELECT _id FROM pets_bronze WHERE ANIMAL_TYPE = 'DOG'")
      assert(pruned.count() ==
        spark.read.parquet(cfg.bronzeDir)
          .filter(col("ANIMAL_TYPE") === "DOG").count())
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("ANIMAL_TYPE"),
        s"catalog read must prune on ANIMAL_TYPE:\n$plan")
      spark.sql("DROP TABLE pets_bronze")
    }
  }

  test("gold views compute totals, ranks, shares, and quality over silver") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      Bronze.run(spark, cfg)
      Silver.run(spark, cfg, mapping(spark))
      val silver = spark.read.parquet(cfg.silverDir)
      val s = Gold.src(silver)
      assert(s.count() == 5)

      val totals = Gold.totalsByYearType(s)
      // 2024: DOG×2 (GOLDEN RETRIEVER, GERMAN SHEPHERD DOG), CAT×1
      val dog2024 = totals.filter(col("Year") === 2024 && col("ANIMAL_TYPE") === "DOG")
      assert(dog2024.count() == 2)
      assert(dog2024.agg(max("total_count")).first().getLong(0) == 2L)
      assert(dog2024.filter(col("popularity") === 1).first()
        .getAs[Double]("top_breed_pct") == 50.0)

      val stats = Gold.breedStats(s)
      assert(stats.filter(col("Year") === 2024 && col("Animal_Type") === "DOG")
        .agg(sum("cnt")).first().getLong(0) == 2L)

      val fsa = Gold.fsaTop3Breeds(s)
      // _id=3 has null FSA → 2024/DOG/M5V has exactly 1 row with top1 only
      val m5vDog = fsa.filter(col("FSA") === "M5V" && col("Animal_Type") === "DOG").first()
      assert(m5vDog.getAs[String]("top1_breed") == "GOLDEN RETRIEVER")
      assert(m5vDog.getAs[Long]("total") == 1L)
      assert(m5vDog.getAs[String]("top2_breed") == null)

      val fsa2 = Gold.fsa2Top3Breeds(s)
      assert(fsa2.filter(col("FSA2") === "M4").count() == 2) // 2025 CAT + DOG

      val q = Gold.quality(silver)
      val q2025dog = q.filter(col("Year") === 2025 && col("ANIMAL_TYPE") === "DOG").first()
      assert(q2025dog.getAs[Long]("rows") == 1L)
      assert(q2025dog.getAs[Double]("pct_mapped") == 0.0) // UNICORN unmapped

      assert(Gold.dailyTotals(s).agg(sum("total")).first().getLong(0) == 5L)
      assert(Gold.breedShareCitywide(s).filter(col("share") > 1.0).isEmpty)
      val rankTop = Gold.breedRankCitywide(s)
        .filter(col("Year") === 2024 && col("ANIMAL_TYPE") === "DOG" && col("rnk") === 1)
        .first()
      assert(rankTop.getAs[String]("breed") == "GERMAN SHEPHERD DOG") // tie → breed ASC

      // SQL façade registers and answers
      Gold.registerAll(silver)
      assert(spark.sql("SELECT COUNT(*) FROM v_totals_by_year_type").first().getLong(0) > 0)
    }
  }

  test("breed mapping refresh: upsert + silver backfill + coverage") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      Bronze.run(spark, cfg)
      Silver.run(spark, cfg, mapping(spark))
      val silver = spark.read.parquet(cfg.silverDir)

      // coverage before: 4/5 mapped
      val cov = BreedMapping.coveragePct(silver).first()
      assert(cov.getAs[Double]("pct_mapped") == 80.0)
      val unmapped = BreedMapping.unmappedKeys(silver, mapping(spark))
      assert(unmapped.count() == 1)
      assert(unmapped.first().getAs[String]("breed_variant_key") == "UNICORNBREED")

      // curate the missing pair, upsert, backfill
      val refreshed = BreedMapping.upsertMapping(
        mapping(spark),
        BreedMapping.normalizedUpdates(spark,
          Seq("Unicorn Breed" -> "UNICORN (FANCY)")))
      val backfilled = BreedMapping.backfillSilver(silver, refreshed)
      assert(BreedMapping.coveragePct(backfilled).first()
        .getAs[Double]("pct_mapped") == 100.0)
      assert(backfilled.filter(col("_id") === 5).first()
        .getAs[String]("breed_standard") == "UNICORN (FANCY)")
      // upsert preserved existing keys
      assert(refreshed.count() == mapping(spark).count() + 1)
    }
  }

  test("orchestrator: retry/backoff contract, full DAG, idempotent re-run") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)

      // transient failure is retried after the configured backoff
      var sleeps = List.empty[Long]
      var calls = 0
      val (flaky, value) = Orchestrator.runStage(
        "flaky", Orchestrator.SilverRetry, ms => sleeps ::= ms) {
        calls += 1
        if (calls == 1) throw new RuntimeException("transient")
        42
      }
      assert(flaky.outcome == "success" && flaky.attempts == 2 && value.contains(42))
      assert(sleeps == List(600000L)) // yaml:45 min_retry_interval_millis

      // exhausted retries report failure, with maxRetries+1 attempts
      var n = 0
      val (doomed, none) = Orchestrator.runStage[Int](
        "doomed", Orchestrator.Retry(2, 0L), _ => ()) {
        n += 1; throw new RuntimeException("permanent")
      }
      assert(doomed.attempts == 3 && doomed.outcome.startsWith("failed")
        && none.isEmpty && n == 3)

      // deterministic validation failures are NOT retried
      var g = 0
      val (guard, _) = Orchestrator.runStage[Int](
        "guard", Orchestrator.Retry(2, 0L), _ => ()) {
        g += 1; throw new IllegalArgumentException("requirement failed")
      }
      assert(guard.attempts == 1 && guard.outcome.startsWith("failed") && g == 1)

      // an interrupt (operator cancel) propagates instead of backing off
      intercept[InterruptedException] {
        Orchestrator.runStage[Int]("cancelled", Orchestrator.BronzeRetry,
          _ => fail("must not sleep on interrupt")) {
          throw new InterruptedException("cancel")
        }
      }

      // full DAG with the complete reference dim
      val report = Orchestrator.runAll(spark, cfg, sleep = _ => ())
      assert(report.succeeded)
      assert(report.stages.map(_.outcome) == Seq("success", "success", "success"))
      val silverCount = spark.read.parquet(cfg.silverDir).count()
      assert(silverCount == 5L)
      assert(spark.sql("SELECT COUNT(*) FROM v_breed_stats").first().getLong(0) > 0)

      // re-run of the same day (= retry after success): ledger + anti-join
      // make it a no-op — nothing double-loads
      val rerun = Orchestrator.runAll(spark, cfg, sleep = _ => ())
      assert(rerun.succeeded)
      assert(spark.read.parquet(cfg.silverDir).count() == silverCount)

      // a deterministic validation failure (bad date) fails FAST — no
      // retries burned on an error that can never succeed — and aborts
      // the run with downstream stages skipped
      val bad = Orchestrator.runAll(
        spark, cfg.copy(ingestionDate = "not-a-date"), sleep = _ => ())
      assert(!bad.succeeded)
      assert(bad.stages.head.attempts == 1
        && bad.stages.head.outcome.startsWith("failed"))
      assert(bad.stages.tail.map(_.outcome) == Seq("skipped", "skipped"))
    }
  }

  test("orchestrator: a no-drop day before first load skips cleanly, no retries burned") {
    withPipelineDirs { (_, cfg) =>
      // no CSV drop written, bronze table never created: bronze reports
      // success (SkippedNoFiles) and silver/gold must SKIP, not crash on
      // the missing bronze dir and burn 2 x 10-minute retries
      val report = Orchestrator.runAll(spark, cfg, sleep = _ => ())
      assert(report.succeeded)
      assert(report.stages.map(_.outcome) == Seq("success", "skipped", "skipped"))
      assert(report.stages.map(_.attempts) == Seq(1, 0, 0))
    }
  }
}
