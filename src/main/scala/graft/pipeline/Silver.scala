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
  * Scale notes: the bronze scan is pruned to one ingestion_date (partition
  * filter pushed to the parquet dirs); the mapping dim is tiny (~560 rows)
  * so the enrichment join is broadcast — no shuffle; the other shuffles are
  * the dedup window on _id, the guard aggregate's distinct ids and the
  * anti-join, all on the narrow key. Actions per run: `GuardedAppend`'s
  * guard aggregate and count, then the append; a re-run of a loaded day
  * counts zero new rows and writes nothing.
  */
object Silver {

  sealed trait Result
  case object SkippedEmptyBatch extends Result
  case class Loaded(rows: Long) extends Result

  /** Silver's 13-column output shape (reference: silver.py:96-110). */
  val columns: Seq[String] = Seq(
    "_id", "Year", "ANIMAL_TYPE", "FSA", "FSA_VALID", "PRIMARY_BREED",
    "breed_raw", "breed_variant_key", "breed_standard", "breed_mapped",
    "ingestion_date", "ingestion_ts", "processed_ts")

  /** One silver run over a single ingestion_date batch. */
  def run(spark: SparkSession, cfg: PipelineConfig, mapping: DataFrame): Result = {
    val bronze = spark.read.parquet(cfg.bronzeDir)
      .filter(col("ingestion_date") === to_date(lit(cfg.ingestionDate)))

    // guards + anti-join vs current silver snapshot (silver.py:113-125)
    val n = GuardedAppend(spark, transform(bronze, mapping, cfg), cfg.silverDir,
      "guard: null _id", "guard: duplicate _id post-dedup",
      "guard: ANIMAL_TYPE outside whitelist")
    if (n == 0) SkippedEmptyBatch else Loaded(n)
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
