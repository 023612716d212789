package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Model._

/** Raw CSV → Bronze (reference: notebooks/bronze.py lifecycle, SURVEY.md
  * §3.1 steps 1-11): resolve/validate the run date, skip-if-loaded via the
  * ledger, explicit-schema CSV scan, standardization, hard guards,
  * anti-join idempotency, partitioned append.
  *
  * Scale notes: the shuffles are the guard aggregate's distinct ids and the
  * anti-join against existing bronze ids (key projection only), which the
  * guard aggregate's fresh-row count also probes; the write partitions by
  * (Year, ANIMAL_TYPE) so downstream partition pruning is free. Everything
  * else is a narrow codegen'd map over the CSV scan. Actions per run: the
  * date probe, then `GuardedAppend`'s guard aggregate (which also counts
  * the fresh rows), the append and the ledger write. The date probe runs
  * on the driver and the ledger probe is a directory listing, so a ledger
  * hit launches no Spark job; an empty batch writes nothing.
  */
object Bronze {

  val Dataset = "licensed_pets"

  sealed trait Result
  case object SkippedAlreadyLoaded extends Result
  case object SkippedNoFiles extends Result
  case object SkippedEmptyBatch extends Result
  case class Loaded(rows: Long) extends Result

  /** One bronze run. Throws IllegalArgumentException on guard violations
    * (the reference's hard asserts: bronze.py:98-107, 37-38).
    */
  def run(spark: SparkSession, cfg: PipelineConfig): Result = {
    // 1-2. validate date format via to_date, like bronze.py:37-38
    require(parsesAsDate(spark, cfg.ingestionDate),
      s"invalid ingestion_date '${cfg.ingestionDate}' (want yyyy-MM-dd)")

    // 3. ledger probe — whole re-runs are no-ops
    if (LoadControl.alreadyLoaded(spark, cfg.controlDir, Dataset, cfg.ingestionDate))
      return SkippedAlreadyLoaded

    // 4. file-presence pre-check (driver FS call, bronze.py:61-66) —
    // Hadoop FileSystem so the same code runs against S3/HDFS warehouses
    val dropDir = new org.apache.hadoop.fs.Path(
      s"${cfg.rawDir}/ingestion_date=${cfg.ingestionDate}")
    val fs = dropDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(dropDir, "*.csv"))
    if (files == null || files.isEmpty) return SkippedNoFiles

    // 5. CSV scan, explicit schema, no inference (bronze.py:75-80)
    val raw = spark.read.option("header", "true").schema(rawSchema)
      .csv(dropDir.toString)

    // 6. standardize (bronze.py:84-95)
    val std = standardize(raw, cfg)

    // 7-10. hard guards, anti-join vs current bronze snapshot, empty-batch
    // short-circuit, partitioned append (bronze.py:98-115) — abort the
    // run, never load bad data
    val n = GuardedAppend(spark, std, cfg.bronzeDir, bronzeSchema,
      "guard: null _id in batch", "guard: duplicate _id within batch",
      s"guard: ANIMAL_TYPE outside ${AnimalTypes.mkString("{", ",", "}")}")
    if (n == 0) return SkippedEmptyBatch

    // 11. ledger
    LoadControl.record(spark, cfg.controlDir, Dataset, cfg.ingestionDate, cfg.now)
    Loaded(n)
  }

  /** Standardization block (reference: bronze.py:84-95): upper/trim text,
    * FSA_VALID flag, ingestion timestamp/date stamps.
    */
  def standardize(raw: DataFrame, cfg: PipelineConfig): DataFrame =
    raw
      .withColumn("FSA", upper(trim(col("FSA"))))
      .withColumn("ANIMAL_TYPE", upper(trim(col("ANIMAL_TYPE"))))
      .withColumn("PRIMARY_BREED", upper(trim(col("PRIMARY_BREED"))))
      .withColumn("FSA_VALID", col("FSA").isNotNull && col("FSA").rlike(FsaPattern))
      .withColumn("ingestion_ts", lit(cfg.now))
      .withColumn("ingestion_date", to_date(lit(cfg.ingestionDate)))

  private def parsesAsDate(spark: SparkSession, s: String): Boolean = {
    import spark.implicits._
    // try_to_date: ANSI-mode to_date would THROW on a malformed date
    // instead of letting the guard produce its IllegalArgumentException
    Seq(s).toDF("d").select(try_to_date(col("d"), "yyyy-MM-dd"))
      .first().get(0) != null
  }
}
