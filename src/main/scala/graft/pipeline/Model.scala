package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Data model of the license-record pipeline (reference SURVEY.md §1):
  * fixed declared schemas, never inferred (reference: notebooks/bronze.py:13-19).
  * Every pipeline read of bronze, silver and the ledger passes its schema
  * below, so no read runs a schema-inference job. Table schemas list the
  * partition columns last, the order Spark reads a partitioned directory
  * back in; `PipelineSpec` pins each one to what Spark infers from a load.
  */
object Model {

  /** Raw CSV drop schema (reference: notebooks/bronze.py:13-19). */
  val rawSchema: StructType = StructType(Seq(
    StructField("_id", IntegerType, nullable = false),
    StructField("Year", IntegerType),
    StructField("FSA", StringType),
    StructField("ANIMAL_TYPE", StringType),
    StructField("PRIMARY_BREED", StringType)))

  /** Bronze as read back (reference: notebooks/bronze.py:132-141). */
  val bronzeSchema: StructType = StructType(Seq(
    StructField("_id", IntegerType),
    StructField("FSA", StringType),
    StructField("PRIMARY_BREED", StringType),
    StructField("FSA_VALID", BooleanType),
    StructField("ingestion_ts", TimestampType),
    StructField("ingestion_date", DateType),
    StructField("Year", IntegerType),
    StructField("ANIMAL_TYPE", StringType)))

  /** Silver as read back (reference: notebooks/silver.py:143-156). */
  val silverSchema: StructType = StructType(Seq(
    StructField("_id", IntegerType),
    StructField("FSA", StringType),
    StructField("FSA_VALID", BooleanType),
    StructField("PRIMARY_BREED", StringType),
    StructField("breed_raw", StringType),
    StructField("breed_variant_key", StringType),
    StructField("breed_standard", StringType),
    StructField("breed_mapped", BooleanType),
    StructField("ingestion_date", DateType),
    StructField("ingestion_ts", TimestampType),
    StructField("processed_ts", TimestampType),
    StructField("Year", IntegerType),
    StructField("ANIMAL_TYPE", StringType)))

  /** The run ledger as read back (reference: notebooks/bronze.py:41-47),
    * partitioned by (dataset, ingestion_date).
    */
  val ledgerSchema: StructType = StructType(Seq(
    StructField("loaded_ts", TimestampType),
    StructField("dataset", StringType),
    StructField("ingestion_date", DateType)))

  /** FSA shape (reference: notebooks/bronze.py:83). */
  val FsaPattern = "^[A-Z][0-9][A-Z]$"

  /** Hard-assert whitelist (reference: notebooks/bronze.py:104-107). */
  val AnimalTypes = Seq("DOG", "CAT")

  /** Partition layout for bronze and silver (reference: bronze.py:143). */
  val PartitionCols = Seq("Year", "ANIMAL_TYPE")

  /** Run configuration. `now` is injected (not current_timestamp()) so
    * dedup tie-breaks are reproducible in tests — SURVEY.md §7.4.
    */
  case class PipelineConfig(
      rawDir: String,
      bronzeDir: String,
      silverDir: String,
      controlDir: String,
      ingestionDate: String,
      now: Timestamp)
}
