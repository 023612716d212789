package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Enrich, Standardize}
import Model._

/** Bronze → Silver (reference: notebooks/silver.py:30-135, SURVEY.md §3.1):
  * partition-filtered bronze scan → defensive re-standardization → breed
  * key normalization → broadcast-left-join against the mapping dim →
  * validity filters → window dedup keep-newest → final 13-col projection →
  * hard guards → anti-join idempotency → partitioned append.
  *
  * Scale notes: bronze is partitioned by (Year, ANIMAL_TYPE), so the
  * ingestion_date filter is a pushed data filter, not a partition filter:
  * every run opens every bronze file's footer; the mapping dim is tiny
  * (~490 rows) so the enrichment join is broadcast — no shuffle, and the
  * reference dim is a local relation, so no job builds it; the other
  * shuffles are the dedup window on _id, the guard aggregate's distinct ids
  * and the anti-join, all on the narrow key. Actions per run:
  * `GuardedAppend`'s guard aggregate (which also counts the fresh rows),
  * the append and the ledger write, so the batch is evaluated twice. A day
  * with a silver ledger row is skipped before any read, so its re-run launches
  * no Spark job. A day without one (an empty batch, or a run that failed
  * after its append) goes through the guards again, and the anti-join
  * keeps that re-run from landing any row twice.
  */
object Silver {

  /** Silver's dataset in the run ledger, next to bronze's. */
  val Dataset = "licensed_pets_silver"

  sealed trait Result
  case object SkippedEmptyBatch extends Result
  case class Loaded(rows: Long) extends Result

  /** Silver's 13-column output shape (reference: silver.py:96-110). */
  val columns: Seq[String] = Seq(
    "_id", "Year", "ANIMAL_TYPE", "FSA", "FSA_VALID", "PRIMARY_BREED",
    "breed_raw", "breed_variant_key", "breed_standard", "breed_mapped",
    "ingestion_date", "ingestion_ts", "processed_ts")

  /** One silver run over a single ingestion_date batch. `mapping` is
    * built only when the ledger probe misses.
    */
  def run(spark: SparkSession, cfg: PipelineConfig, mapping: => DataFrame): Result = {
    // ledger probe: a day that already landed rows is a no-op
    if (LoadControl.alreadyLoaded(spark, cfg.controlDir, Dataset, cfg.ingestionDate))
      return SkippedEmptyBatch

    val bronze = spark.read.schema(bronzeSchema).parquet(cfg.bronzeDir)
      .filter(col("ingestion_date") === to_date(lit(cfg.ingestionDate)))

    // guards + anti-join vs current silver snapshot (silver.py:113-125)
    val n = GuardedAppend(spark, transform(bronze, mapping, cfg), cfg.silverDir,
      silverSchema, "guard: null _id", "guard: duplicate _id post-dedup",
      "guard: ANIMAL_TYPE outside whitelist")
    if (n == 0) return SkippedEmptyBatch

    LoadControl.record(spark, cfg.controlDir, Dataset, cfg.ingestionDate, cfg.now)
    Loaded(n)
  }

  /** The pure batch transform (testable without IO) — reference:
    * silver.py:38-110.
    */
  def transform(bronze: DataFrame, mapping: DataFrame, cfg: PipelineConfig): DataFrame = {
    // defensive re-standardization + invalid-FSA null-out (silver.py:38-44)
    val std = bronze
      .withColumn("FSA", upper(trim(col("FSA"))))
      .withColumn("ANIMAL_TYPE", upper(trim(col("ANIMAL_TYPE"))))
      .withColumn("FSA_VALID", col("FSA").isNotNull && col("FSA").rlike(FsaPattern))
      .withColumn("FSA", when(col("FSA_VALID"), col("FSA")).otherwise(lit(null)))
      // breed_raw + normalized variant key (silver.py:48-49)
      .withColumn("breed_raw", upper(trim(col("PRIMARY_BREED"))))
      .withColumn("breed_variant_key", Standardize.normalizedKey(col("breed_raw")))

    // broadcast dim enrichment with mapped-flag + raw fallback (silver.py:53-68)
    val mapped = Enrich.fromDim(
      std, mapping.select("breed_variant_key", "breed_standard"),
      "breed_variant_key", "breed_standard",
      "breed_standard", "breed_raw", "breed_mapped")

    // validity filters (silver.py:71-78)
    val valid = mapped
      .filter(col("_id").isNotNull && col("Year").isNotNull &&
        col("ANIMAL_TYPE").isin(AnimalTypes: _*) &&
        col("PRIMARY_BREED").isNotNull &&
        col("ingestion_ts").isNotNull && col("ingestion_date").isNotNull)

    // window dedup keep-newest (silver.py:81-85)
    val deduped = Dedup.latestPerKey(Seq("_id"),
      Seq(col("ingestion_ts").desc, col("Year").desc_nulls_last))(valid)

    // final projection + processed_ts (silver.py:89-110)
    deduped
      .withColumn("processed_ts", lit(cfg.now))
      .withColumn("ingestion_date", to_date(lit(cfg.ingestionDate)))
      .select(columns.map(col): _*)
  }
}
