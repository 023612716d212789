package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerSync
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CacheManager, CachedData, QueryExecution}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Idempotency
import graft.pipeline._
import graft.pipeline.Model.PipelineConfig
import graft.sources.Sources
import graft.SparkTestSession.jobs

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
      // date probe, guard aggregate (with the fresh-row count), append,
      // ledger append
      val bronze = actions(assert(Bronze.run(spark, cfg) == Bronze.Loaded(5)))
      assert(bronze.size == 4, bronze)
      // guard aggregate (with the fresh-row count), append, ledger append
      val silver = actions(assert(Silver.run(spark, cfg, dim) == Silver.Loaded(5)))
      assert(silver.size == 3, silver)
      // the silver ledger row answers before any read; nothing written
      val rerun = actions(assert(Silver.run(spark, cfg, dim) == Silver.SkippedEmptyBatch))
      assert(rerun.size == 0, rerun)
    }
  }

  test("a re-run of a loaded day launches one Spark job: the gold stage's read") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      val dim = mapping(spark)
      assert(Orchestrator.runAll(spark, cfg, Some(dim), _ => ()).succeeded)
      // each ledger hit is a directory listing
      assert(jobs(assert(Bronze.run(spark, cfg) == Bronze.SkippedAlreadyLoaded)) == 0)
      assert(jobs(assert(Silver.run(spark, cfg, dim) == Silver.SkippedEmptyBatch)) == 0)
      // what is left is gold's schema-inferring read of silver
      val rerun = jobs(assert(Orchestrator.runAll(spark, cfg, sleep = _ => ())
        .stages.map(_.outcome) == Seq("success", "success", "success")))
      assert(rerun == 1, rerun)
    }
  }

  test("a batch's fresh-row count equals the anti-join's and the rows that land") {
    def row(id: String) = s"$id,2024,M5V,DOG,MIX"
    def drop(cfg: PipelineConfig, date: String) = spark.read.option("header", "true")
      .schema(Model.rawSchema).csv(s"${cfg.rawDir}/ingestion_date=$date")
    def bronze(cfg: PipelineConfig) = spark.read.schema(Model.bronzeSchema).parquet(cfg.bronzeDir)
    // (ids already in bronze, an empty id being null; the day's ids; fresh rows)
    Seq(
      (Seq("1", "1", "7", "7"), Seq("1", "2", "7"), 1L), // existing side repeats ids
      (Seq("", "2"), Seq("1", "2", "3"), 2L),            // existing side holds a null id
      (Seq("1", "2"), Seq("1", "2", "3", "4", "5"), 3L), // batch partly loaded
      (Seq("1", "2", "3"), Seq("1", "2", "3"), 0L),      // batch fully loaded
      (Seq.empty[String], Seq("1", "2", "3"), 3L)        // empty target
    ).foreach { case (existing, batch, fresh) =>
      withPipelineDirs { (_, cfg) =>
        if (existing.nonEmpty) {
          val earlier = cfg.copy(ingestionDate = "2025-05-31")
          writeRawCsv(cfg.rawDir, earlier.ingestionDate, existing.map(row))
          Bronze.standardize(drop(cfg, earlier.ingestionDate), earlier)
            .write.partitionBy(Model.PartitionCols: _*).parquet(cfg.bronzeDir)
        }
        writeRawCsv(cfg.rawDir, cfg.ingestionDate, batch.map(row))
        val (before, antiJoin) =
          if (existing.isEmpty) (0L, batch.size.toLong)
          else (bronze(cfg).count(), Idempotency.newKeysOnly(
            Bronze.standardize(drop(cfg, cfg.ingestionDate), cfg), bronze(cfg), Seq("_id")).count())
        val result = Bronze.run(spark, cfg)
        val landed = bronze(cfg).count() - before
        val loaded = if (fresh == 0) Bronze.SkippedEmptyBatch else Bronze.Loaded(fresh)
        assert((result, landed, antiJoin) == ((loaded, fresh, fresh)), s"$existing -> $batch")
        assert(LoadControl.alreadyLoaded(spark, cfg.controlDir, Bronze.Dataset,
          cfg.ingestionDate) == (fresh > 0), s"$existing -> $batch ledger row")
      }
    }
  }

  /** The raw temp-view relation behind each gold view, None where absent. */
  private def rawViews() =
    Gold.viewNames.map(spark.sessionState.catalog.getRawTempView)

  /** Whether every gold view is registered and none is one of `before`'s. */
  private def allReplaced(before: Seq[Option[AnyRef]]): Boolean =
    rawViews().zip(before).forall { case (now, was) =>
      now.isDefined && !was.exists(_ eq now.get)
    }

  test("registerAll registers nothing over the silver snapshot its views already read") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      Bronze.run(spark, cfg)
      Silver.run(spark, cfg, mapping(spark))
      Gold.registerAll(spark.read.parquet(cfg.silverDir))
      val first = rawViews()
      val again = spark.read.parquet(cfg.silverDir)
      assert(jobs(Gold.registerAll(again)) == 0)
      assert(rawViews().zip(first).forall { case (now, was) => now.get eq was.get })

      // a different plan over the same files registers again
      Gold.registerAll(again.filter(col("Year") === 2024))
      assert(allReplaced(first))
      assert(spark.sql("SELECT COUNT(*) FROM licensed_pets_silver").first().getLong(0) == 3)
    }
  }

  test("registerAll over a silver that gained a file answers with the new rows") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      Orchestrator.runAll(spark, cfg, Some(mapping(spark)), _ => ())
      val first = rawViews()
      val day2 = cfg.copy(ingestionDate = "2025-06-02",
        now = Timestamp.valueOf("2025-06-02 10:00:41"))
      writeRawCsv(cfg.rawDir, day2.ingestionDate, Seq("6,2025,M6K,CAT,MIX"))
      assert(Orchestrator.runAll(spark, day2, Some(mapping(spark)), _ => ()).succeeded)
      assert(allReplaced(first))
      assert(spark.sql("SELECT COUNT(*) FROM licensed_pets_silver").first().getLong(0) == 6)
      assert(spark.sql("SELECT SUM(total) FROM v_daily_totals").first().getLong(0) == 6)
    }
  }

  test("registerAll restores all ten views after one is dropped or replaced") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      Bronze.run(spark, cfg)
      Silver.run(spark, cfg, mapping(spark))
      val silver = spark.read.parquet(cfg.silverDir)
      Gold.registerAll(silver)
      val first = rawViews()
      spark.catalog.dropTempView("v_breed_stats")
      Gold.registerAll(silver)
      assert(allReplaced(first))

      val second = rawViews()
      spark.range(1).createOrReplaceTempView("v_daily_totals")
      Gold.registerAll(silver)
      assert(allReplaced(second))
      assert(spark.sql("SELECT SUM(total) FROM v_daily_totals").first().getLong(0) == 5)
    }
  }

  test("registerAll creates exactly the views it keeps, and a new session registers them") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      Orchestrator.runAll(spark, cfg, Some(mapping(spark)), _ => ())
      val fresh = spark.newSession()
      Gold.registerAll(fresh.read.parquet(cfg.silverDir))
      assert(fresh.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet ==
        Gold.viewNames.toSet)
      assert(fresh.sql("SELECT SUM(total) FROM v_daily_totals").first().getLong(0) == 5)
    }
  }

  test("registerAll re-analyses the views after the session time zone changes") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      Orchestrator.runAll(spark, cfg, Some(mapping(spark)), _ => ())
      def days() = spark.sql("SELECT DISTINCT day FROM v_daily_totals")
        .collect().map(_.getDate(0).toString).toSet
      val before = days()
      val first = rawViews()
      val zone = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati") // UTC+14
      try {
        val silver = spark.read.parquet(cfg.silverDir)
        Gold.registerAll(silver)
        assert(allReplaced(first))
        val want = silver.select(to_date(col("ingestion_ts")).cast("string"))
          .distinct().collect().map(_.getString(0)).toSet
        assert(want != before, s"the zone must move a day bucket: $want")
        assert(days() == want)
      } finally spark.conf.set("spark.sql.session.timeZone", zone)
    }
  }

  test("registerAll over an in-memory silver always registers") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      Bronze.run(spark, cfg)
      Silver.run(spark, cfg, mapping(spark))
      val rows = spark.read.parquet(cfg.silverDir).collect().toSeq
      val inMemory = spark.createDataFrame(rows.asJava, Model.silverSchema)
      assert(inMemory.inputFiles.isEmpty)
      Gold.registerAll(inMemory)
      val first = rawViews()
      Gold.registerAll(inMemory)
      assert(allReplaced(first))
      assert(spark.sql("SELECT COUNT(*) FROM v_breed_rank_citywide").first().getLong(0) > 0)
    }
  }

  /** Each held gold view with its builder over a silver DataFrame. */
  private val heldViews: Seq[(String, DataFrame => DataFrame)] = Seq(
    "v_totals_by_year_type" -> (s => Gold.totalsByYearType(Gold.src(s))),
    "v_breed_stats" -> (s => Gold.breedStats(Gold.src(s))),
    "v_fsa_top3_breeds" -> (s => Gold.fsaTop3Breeds(Gold.src(s))),
    "v_fsa2_top3_breeds" -> (s => Gold.fsa2Top3Breeds(Gold.src(s))),
    "licensed_pets_gold_quality" -> Gold.quality,
    "v_daily_totals" -> (s => Gold.dailyTotals(Gold.src(s))),
    "v_breed_share_citywide" -> (s => Gold.breedShareCitywide(Gold.src(s))),
    "v_breed_rank_citywide" -> (s => Gold.breedRankCitywide(Gold.src(s))))

  /** Run the daily job for `days` consecutive days from `cfg`'s date, one
    * row each, ids from `firstId` and one FSA per day, so each day gains a
    * silver file.
    */
  private def loadDays(cfg: PipelineConfig, days: Int, firstId: Int = 1): Unit =
    (0 until days).foreach { i =>
      val date = java.time.LocalDate.parse(cfg.ingestionDate).plusDays(i).toString
      val day = cfg.copy(ingestionDate = date, now = Timestamp.valueOf(s"$date 10:00:41"))
      writeRawCsv(cfg.rawDir, date, Seq(s"${firstId + i},2024,M${i}V,DOG,MIX"))
      assert(Orchestrator.runAll(spark, day, Some(mapping(spark)), _ => ()).succeeded)
    }

  /** Copy the parquet files under `from` to the same relative paths under `to`. */
  private def copyParquet(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    Files.walk(src).iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { f =>
      val dest = java.nio.file.Paths.get(to).resolve(src.relativize(f))
      Files.createDirectories(dest.getParent)
      Files.copy(f, dest)
    }
  }

  /** Whether each held view answers what its builder answers over a
    * copy of `silverDir`, a silver no registration reads, both ways under
    * `exceptAll`, with an equal schema.
    */
  private def assertViewsMatchBuilders(silverDir: String, copyDir: String): Unit = {
    copyParquet(silverDir, copyDir)
    val copy = spark.read.parquet(copyDir)
    heldViews.foreach { case (name, build) =>
      val got = spark.table(name)
      val want = build(copy)
      assert(got.schema == want.schema, name)
      assert(got.exceptAll(want).isEmpty, s"$name rows the builder lacks")
      assert(want.exceptAll(got).isEmpty, s"builder rows $name lacks")
    }
  }

  /** The view names of the cache entries that read a file under `root`. */
  private def cachedUnder(root: Path): Seq[String] = {
    val field = classOf[CacheManager].getDeclaredField("cachedData")
    field.setAccessible(true)
    field.get(spark.sharedState.cacheManager).asInstanceOf[Seq[CachedData]]
      .filter(_.plan.exists {
        case l: LogicalRelation => l.relation match {
          case r: HadoopFsRelation =>
            r.location.rootPaths.exists(_.toString.contains(root.toString))
          case _ => false
        }
        case _ => false
      })
      .map(_.cachedRepresentation.cacheBuilder.tableName.getOrElse("<unnamed>"))
  }

  test("a second read of each gold view launches no Spark job") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      Bronze.run(spark, cfg)
      Silver.run(spark, cfg, mapping(spark))
      val silver = spark.read.parquet(cfg.silverDir)
      assert(jobs(Gold.registerAll(silver)) == 0)
      heldViews.foreach { case (name, _) =>
        spark.table(name).collect()
        assert(jobs(spark.table(name).collect()) == 0, name)
      }
    }
  }

  test("the first read of each gold view over a new snapshot launches no more jobs " +
    "than collecting its builder") {
    withPipelineDirs { (_, cfg) =>
      loadDays(cfg, 2)
      val silver = spark.read.parquet(cfg.silverDir)
      heldViews.foreach { case (name, build) =>
        val direct = jobs(build(silver).collect())
        val first = jobs(spark.table(name).collect())
        assert(first <= direct, s"$name: $first jobs, its builder $direct")
      }
    }
  }

  test("a first gold read that fails is retried by the next read, never answered empty") {
    withPipelineDirs { (root, cfg) =>
      loadDays(cfg, 2)
      // no view has been read over this snapshot yet
      val silverFile = Files.walk(Path.of(cfg.silverDir)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq.head
      val aside = root.resolve("aside.parquet")
      Files.move(silverFile, aside)
      (1 to 2).foreach(_ => intercept[Exception](spark.table("v_daily_totals").collect()))
      Files.move(aside, silverFile)
      val got = spark.table("v_daily_totals").collect().toSeq
      assert(got.map(_.getLong(2)).sum == 2, got)
    }
  }

  test("two sessions over one silver directory each answer their own snapshot") {
    withPipelineDirs { (_, cfg) =>
      loadDays(cfg, 1)
      val other = spark.newSession()
      Gold.registerAll(other.read.parquet(cfg.silverDir))
      def total(s: org.apache.spark.sql.SparkSession) =
        s.sql("SELECT SUM(total) FROM v_daily_totals").first().getLong(0)
      assert((total(spark), total(other)) == ((1L, 1L)))
      // `spark` appends a day and registers over it; `other` keeps its own
      loadDays(cfg.copy(ingestionDate = "2025-06-02"), 1, firstId = 2)
      assert((total(spark), total(other)) == ((2L, 1L)))
      Gold.registerAll(other.read.parquet(cfg.silverDir))
      assert((total(spark), total(other)) == ((2L, 2L)))
    }
  }

  test("each cached gold view answers what its builder answers over the same silver") {
    withPipelineDirs { (root, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      assert(Orchestrator.runAll(spark, cfg, Some(mapping(spark)), _ => ()).succeeded)
      loadDays(cfg.copy(ingestionDate = "2025-06-02"), 2, firstId = 6)
      heldViews.foreach { case (name, _) => spark.table(name).collect() }
      assertViewsMatchBuilders(cfg.silverDir, s"$root/copy")
      val days = spark.table("v_daily_totals").collect().map(_.getDate(0).toString).toSeq
      assert(days.distinct.size == 3 && days == days.sorted, days)
    }
  }

  test("gold caches and persists nothing across snapshots and silver directories") {
    withPipelineDirs { (root, cfg) =>
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      def assertNothingKept(when: String): Unit = {
        assert(cachedUnder(root).isEmpty, when)
        assert(spark.sparkContext.getPersistentRDDs.keySet == persisted, when)
      }
      def readAll(): Unit = heldViews.foreach { case (name, _) => spark.table(name).collect() }
      (1 to 3).foreach { day =>
        loadDays(cfg.copy(ingestionDate = s"2025-06-0$day"), 1, firstId = day)
        readAll()
        assertNothingKept(s"after day $day")
      }
      val day4 = cfg.copy(ingestionDate = "2025-06-04",
        now = Timestamp.valueOf("2025-06-04 10:00:41"))
      writeRawCsv(cfg.rawDir, day4.ingestionDate, Seq("4,2024,M4V,DOG,MIX"))
      assert(Bronze.run(spark, day4) == Bronze.Loaded(1))
      assert(Silver.run(spark, day4, mapping(spark)) == Silver.Loaded(1))
      assertNothingKept("after a silver run")
      Gold.registerAll(spark.read.parquet(cfg.silverDir))
      readAll()
      assertNothingKept("after day 4")
      val silver2 = s"$root/silver2"
      copyParquet(cfg.silverDir, silver2)
      Gold.registerAll(spark.read.parquet(silver2))
      readAll()
      assertNothingKept("over a second silver directory")

      spark.catalog.dropTempView("v_breed_stats")
      spark.range(1).createOrReplaceTempView("v_daily_totals")
      assertNothingKept("after a dropped and a replaced view")
    }
  }

  test("registerAll over a silver that another process appended to answers the new rows") {
    withPipelineDirs { (root, cfg) =>
      loadDays(cfg, 2)
      heldViews.foreach { case (name, _) => spark.table(name).collect() }
      // another writer's silver day, copied in past this session's writers
      val other = cfg.copy(rawDir = s"$root/raw2", bronzeDir = s"$root/bronze2",
        silverDir = s"$root/silver2", controlDir = s"$root/control2",
        ingestionDate = "2025-06-03", now = Timestamp.valueOf("2025-06-03 10:00:41"))
      writeRawCsv(other.rawDir, other.ingestionDate, Seq("10,2025,M9V,CAT,MIX"))
      assert(Bronze.run(spark, other) == Bronze.Loaded(1))
      assert(Silver.run(spark, other, mapping(spark)) == Silver.Loaded(1))
      copyParquet(other.silverDir, cfg.silverDir)
      Gold.registerAll(spark.read.parquet(cfg.silverDir))
      assert(spark.sql("SELECT SUM(total) FROM v_daily_totals").first().getLong(0) == 3)
      assertViewsMatchBuilders(cfg.silverDir, s"$root/copy")
    }
  }

  test("a silver run that lands no rows writes no ledger row, so the day runs again") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, Seq("1,,M5V,DOG,MIX")) // no Year
      val dim = mapping(spark)
      assert(Bronze.run(spark, cfg) == Bronze.Loaded(1))
      assert(Silver.run(spark, cfg, dim) == Silver.SkippedEmptyBatch)
      assert(!LoadControl.alreadyLoaded(spark, cfg.controlDir, Silver.Dataset, cfg.ingestionDate))
      assert(jobs(Silver.run(spark, cfg, dim)) > 0, "a day without a silver row re-runs")
    }
  }

  test("a flat ledger written before the partitioned layout still answers, " +
      "with a warning, next to new rows") {
    withPipelineDirs { (_, cfg) =>
      val sp = spark
      import sp.implicits._
      // the earlier record: a flat append, no partition directories
      Seq((Bronze.Dataset, "2025-06-01", cfg.now))
        .toDF("dataset", "ingestion_date_s", "loaded_ts")
        .select(col("dataset"), to_date(col("ingestion_date_s")).as("ingestion_date"),
          col("loaded_ts"))
        .write.mode("append").parquet(cfg.controlDir)
      def loaded(dataset: String, date: String) =
        LoadControl.alreadyLoaded(spark, cfg.controlDir, dataset, date)

      val warnings = LogCapture.warnings(LoadControl.getClass) {
        assert(loaded(Bronze.Dataset, "2025-06-01"))
        assert(!loaded(Bronze.Dataset, "2025-06-02"))
        assert(!loaded(Silver.Dataset, "2025-06-01"))
      }
      assert(warnings.size == 3 && warnings.forall(_.contains("flat file")), warnings)

      // a new record lands partitioned on top; both layouts answer
      LoadControl.record(spark, cfg.controlDir, Bronze.Dataset, "2025-06-02", cfg.now)
      assert(loaded(Bronze.Dataset, "2025-06-01"))
      assert(!loaded(Bronze.Dataset, "2025-06-03"))
      val hit = LogCapture.warnings(LoadControl.getClass) {
        assert(jobs(assert(loaded(Bronze.Dataset, "2025-06-02"))) == 0)
      }
      assert(hit.isEmpty, "a partitioned hit never reads the flat files")
      assert(new java.io.File(s"${cfg.controlDir}/dataset=${Bronze.Dataset}").list().toSeq ==
        Seq("ingestion_date=2025-06-02"), "the flat row is not migrated")
    }
  }

  test("declared bronze, silver and ledger schemas equal what a load infers") {
    withPipelineDirs { (_, cfg) =>
      writeRawCsv(cfg.rawDir, cfg.ingestionDate, day1Rows)
      assert(Bronze.run(spark, cfg) == Bronze.Loaded(5))
      assert(Silver.run(spark, cfg, mapping(spark)) == Silver.Loaded(5))
      Seq(
        "bronze" -> (cfg.bronzeDir, Model.bronzeSchema),
        "silver" -> (cfg.silverDir, Model.silverSchema),
        "ledger" -> (cfg.controlDir, Model.ledgerSchema)
      ).foreach { case (table, (dir, declared)) =>
        val inferred = spark.read.parquet(dir).schema
        assert(declared == inferred,
          s"$table: declared ${declared.toDDL}\n  inferred ${inferred.toDDL}")
      }
    }
  }

  test("every read.parquet under graft/pipeline declares its schema") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/pipeline")
    assert(Files.isDirectory(dir), s"run from the repository root: ${dir.toAbsolutePath}")
    // a read is `read`, a chain of calls, then `.parquet(`; it declares
    // its schema when the chain holds `.schema(...)`
    val read = """\bread((?:\s*\.\s*\w+\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*parquet\(""".r
    // Orchestrator.runAll's gold read infers silver's schema: perfbench's
    // traced copy of runAll reads silver the same way, and its run fails
    // when the two launch different numbers of jobs, so this read changes
    // only together with that copy
    val allowed = "Orchestrator.scala: Gold.registerAll(spark.read.parquet(cfg.silverDir))"
    val files = Files.list(dir)
    val schemaLess = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
      val text = Files.readString(p)
      read.findAllMatchIn(text).filterNot(_.group(1).contains(".schema(")).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n')
        s"${p.getFileName}: ${text.linesIterator.drop(line).next().trim}"
      }
    }.toList finally files.close()
    assert(schemaLess.contains(allowed), s"the allowlisted read moved or went: $allowed")
    assert(schemaLess.filterNot(_ == allowed).isEmpty,
      s"declare the schema from Model:\n${schemaLess.mkString("\n")}")
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
