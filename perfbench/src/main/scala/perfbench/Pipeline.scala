package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.pipeline._
import graft.pipeline.Orchestrator.{RunReport, StageResult}

/** Drives the reference's daily job against one warehouse and checks what
  * it wrote against the generator's planted counts.
  *
  * Untraced, a day is `Orchestrator.runAll`. Traced, the same stages are
  * called in `runAll`'s order through `Orchestrator.runStage`, each inside
  * its own span, so bronze, silver and gold can be told apart.
  *
  * `runAll` gets a recording `sleep`: a transient failure is retried at
  * once and counted, instead of sleeping the reference's 10-30 minute
  * backoff inside a timed run.
  */
final class Pipeline(spark: SparkSession, rec: Recorder, stats: Pipeline.Stats, raw: Path,
    val warehouse: Path) {
  import stats._

  private val sleep: Long => Unit = _ => retries += 1

  def bronzeDir: String = warehouse.resolve("bronze").toString
  def silverDir: String = warehouse.resolve("silver").toString

  def config(date: String): Model.PipelineConfig = Model.PipelineConfig(
    raw.toString, bronzeDir, silverDir, warehouse.resolve("control").toString,
    date, Timestamp.valueOf(s"$date 10:00:41"))

  /** `Orchestrator.runAll` for `date`, with the recording `sleep`. */
  def runAll(date: String): RunReport = Orchestrator.runAll(spark, config(date), None, sleep)

  /** Run the daily job for `date`: raw drop → bronze → silver → gold views. */
  def runDay(date: String, offered: Long): RunReport = {
    if (!rec.enabled) return runAll(date)
    val cfg = config(date)

    def skipped(done: StageResult*) = RunReport(done ++
      Seq("raw_to_bronze", "bronze_to_silver", "silver_to_gold").drop(done.size)
        .map(StageResult(_, 0, "skipped")))
    val dim = BreedMapping.referenceDim(spark)
    val (bronze, bronzeOut) = rec.span("bronze") {
      Orchestrator.runStage("raw_to_bronze", Orchestrator.BronzeRetry, sleep)(
        Bronze.run(spark, cfg))
    }
    if (bronzeOut.isEmpty) return skipped(bronze)
    val bronzeRows = bronzeOut.collect { case Bronze.Loaded(n) => n }.getOrElse(0L)
    land("bronze", bronzeRows, offered)
    if (!exists(bronzeDir)) return skipped(bronze)
    val (silver, silverOut) = rec.span("silver") {
      Orchestrator.runStage("bronze_to_silver", Orchestrator.SilverRetry, sleep)(
        Silver.run(spark, cfg, dim))
    }
    if (silverOut.isEmpty) return skipped(bronze, silver)
    land("silver", silverOut.collect { case Silver.Loaded(n) => n }.getOrElse(0L), bronzeRows)
    if (!exists(silverDir)) return skipped(bronze, silver)
    val (gold, _) = rec.span("gold") {
      Orchestrator.runStage("silver_to_gold", Orchestrator.GoldRetry, sleep)(
        Gold.registerAll(spark.read.parquet(silverDir)))
    }
    RunReport(Seq(bronze, silver, gold))
  }

  private def land(layer: String, rows: Long, offered: Long): Unit = {
    val (l, o) = landed(layer)
    landed(layer) = (l + rows, o + offered)
  }

  private def exists(dir: String): Boolean = graft.sources.Sources.dirNonEmpty(spark, dir)

  /** Collect a registered view, recording its planning time under `layer`. */
  def collectView(layer: String, view: String): Array[Row] = {
    val ds = spark.table(view)
    val rows = ds.collect()
    planS(layer) += ds.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
    rows
  }

  /** The gold quality view, per (Year, ANIMAL_TYPE): rows, mapped, null FSA. */
  def quality(layer: String = "gold"): Map[(Int, String), (Long, Long, Long)] =
    collectView(layer, "licensed_pets_gold_quality").map { r =>
      (r.getAs[Int]("Year"), r.getAs[String]("ANIMAL_TYPE")) ->
        (r.getAs[Long]("rows"), r.getAs[Long]("mapped_rows"), r.getAs[Long]("null_fsa_rows"))
    }.toMap

  def bronzeHealth(): Row = Health.bronzeHealth(spark.read.parquet(bronzeDir)).first()
  def silverHealth(): Row = Health.silverHealth(spark.read.parquet(silverDir)).first()

  /** Problems with the health views against the expected running tally. */
  def checkBronze(h: Row, t: Drops.Tally): Seq[String] = Seq(
    "bronze total_rows" -> (h.getAs[Long]("total_rows"), t.bronzeRows),
    "bronze distinct_ids" -> (h.getAs[Long]("distinct_ids"), t.bronzeRows),
    "bronze null_ids" -> (h.getAs[Long]("null_ids"), 0L),
    "bronze invalid_fsa_rows" -> (h.getAs[Long]("invalid_fsa_rows"), t.bronzeBadFsa),
  ).collect { case (what, (got, want)) if got != want => s"$what $got != $want" }

  def checkSilver(h: Row, t: Drops.Tally): Seq[String] = Seq(
    "silver total_rows" -> (h.getAs[Long]("total_rows"), t.silverRows),
    "silver distinct_ids" -> (h.getAs[Long]("distinct_ids"), t.silverRows),
    "silver mapped_rows" -> (h.getAs[Long]("mapped_rows"), t.silverMapped),
    "silver null_fsa_rows" -> (h.getAs[Long]("null_fsa_rows"), t.silverNullFsa),
  ).collect { case (what, (got, want)) if got != want => s"$what $got != $want" }

  def checkValidate(): Seq[String] =
    Health.validate(spark.read.parquet(silverDir)).collect {
      case (probe, false) => s"Health.validate $probe failed"
    }.toSeq

  /** Every file under the warehouse with its size and modification time. */
  def snapshot(): Set[(String, Long, Long)] =
    if (!Files.exists(warehouse)) Set.empty
    else {
      val s = Files.walk(warehouse)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        (warehouse.relativize(p).toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toSet
      finally s.close()
    }

  def dataFiles(dir: String): Int = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) 0
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count(p => p.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
  }
}

object Pipeline {

  /** Counts kept across the warehouses of one run. */
  final class Stats {
    /** Stage retries `runAll` asked to sleep before. */
    var retries = 0
    /** Rows landed and offered, per layer, over traced calls. */
    val landed: mutable.Map[String, (Long, Long)] =
      mutable.Map.empty.withDefaultValue((0L, 0L))
    /** Seconds of planning (analysis, optimization, physical planning) per
      * layer, over the Datasets the benchmark collects itself.
      */
    val planS: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  }
}
