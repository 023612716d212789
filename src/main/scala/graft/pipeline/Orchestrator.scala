package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources

/** Daily pipeline runner (reference: Workflow/Daily_Licensed_Pets.yaml —
  * a 4-task DAG with per-task retries and one shared `ingestion_date`
  * parameter; the fetch-to-raw task is external to the engine).
  *
  * Sequencing itself is plain code — the stages' data dependencies ARE
  * the DAG — so what this adds is the reference's operational contract:
  *   - stages run in dependency order, each with max_retries + a retry
  *     backoff (bronze: 2 × 30 min, yaml:33-34; silver: 2 × 10 min,
  *     yaml:44-45); a stage that exhausts its retries aborts the run and
  *     downstream stages are recorded as skipped
  *   - re-running a day (or retrying a half-failed one) never
  *     double-loads: the ledger + anti-joins make every stage idempotent,
  *     so retry-after-partial-success is safe by construction
  *   - `sleep` is injectable so tests don't wait wall-clock minutes
  */
object Orchestrator {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-task retry policy (reference yaml `max_retries` +
    * `min_retry_interval_millis`).
    */
  final case class Retry(maxRetries: Int, backoffMillis: Long)

  val BronzeRetry: Retry = Retry(2, 30L * 60 * 1000) // yaml:33-34
  val SilverRetry: Retry = Retry(2, 10L * 60 * 1000) // yaml:44-45
  val GoldRetry: Retry = Retry(0, 0L)                // yaml: gold task has none

  final case class StageResult(stage: String, attempts: Int, outcome: String)
  final case class RunReport(stages: Seq[StageResult]) {
    def succeeded: Boolean = stages.forall(s => !s.outcome.startsWith("failed"))
  }

  /** Run one stage with the retry contract; returns the attempts record
    * and the stage value if it eventually succeeded.
    */
  def runStage[A](name: String, retry: Retry, sleep: Long => Unit)
      (body: => A): (StageResult, Option[A]) = {
    var attempt = 0
    var failure: Throwable = null
    while (attempt <= retry.maxRetries) {
      attempt += 1
      try {
        val a = body
        return (StageResult(name, attempt, "success"), Some(a))
      } catch {
        // validation/guard failures (require) are deterministic over the
        // same input — retrying burns up to an hour of backoff on an
        // error that can never succeed; fail immediately
        case e: IllegalArgumentException =>
          return (StageResult(name, attempt, s"failed: ${e.getMessage}"), None)
        // NonFatal only: an interrupt (operator cancel) or a control
        // throwable must propagate, not trigger a 30-minute backoff retry
        case scala.util.control.NonFatal(e) =>
          failure = e
          if (attempt <= retry.maxRetries) {
            log.warn(s"stage $name attempt $attempt failed (${e.getMessage}); " +
              s"retrying in ${retry.backoffMillis} ms")
            sleep(retry.backoffMillis)
          }
      }
    }
    (StageResult(name, attempt, s"failed: ${failure.getMessage}"), None)
  }

  /** bronze → silver → gold for one ingestion_date (cfg carries the
    * shared date parameter, like the yaml's job parameter). Gold
    * registers the analytic views over the refreshed silver. Returns
    * per-stage outcomes; stages after a failed one are "skipped".
    */
  def runAll(spark: SparkSession, cfg: Model.PipelineConfig,
      mapping: Option[DataFrame] = None,
      sleep: Long => Unit = Thread.sleep): RunReport = {
    val dim = mapping.getOrElse(BreedMapping.referenceDim(spark))
    def skipped(done: StageResult*) = RunReport(done ++
      Seq("raw_to_bronze", "bronze_to_silver", "silver_to_gold").drop(done.size)
        .map(StageResult(_, 0, "skipped")))

    val (bronzeRes, bronzeOk) =
      runStage("raw_to_bronze", BronzeRetry, sleep)(Bronze.run(spark, cfg))
    // bronze can legitimately skip before the table's first load (no CSV
    // drop yet) — silver would otherwise fail reading a missing dir and
    // burn both retries on a no-op day
    if (bronzeOk.isEmpty || !Sources.dirNonEmpty(spark, cfg.bronzeDir))
      return skipped(bronzeRes)

    val (silverRes, silverOk) =
      runStage("bronze_to_silver", SilverRetry, sleep)(Silver.run(spark, cfg, dim))
    // a day can legitimately produce no silver rows (empty batch) before
    // the table's first load — gold then has nothing to register
    if (silverOk.isEmpty || !Sources.dirNonEmpty(spark, cfg.silverDir))
      return skipped(bronzeRes, silverRes)

    val (goldRes, _) = runStage("silver_to_gold", GoldRetry, sleep) {
      Gold.registerAll(spark.read.parquet(cfg.silverDir))
    }
    RunReport(Seq(bronzeRes, silverRes, goldRes))
  }
}
