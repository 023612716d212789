package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** Run ledger (reference: notebooks/bronze.py:41-56 `pets.core.load_control`):
  * whole-run skip detection for incremental batch ingestion. Plain parquet
  * append — the reference's own idempotency never needs ACID because the
  * pipeline is single-writer (SURVEY.md §7.4).
  */
object LoadControl {

  /** True iff (dataset, ingestionDate) was already loaded. Cheap probe —
    * the ledger has one row per run (reference uses limit(1).count()).
    */
  def alreadyLoaded(spark: SparkSession, dir: String, dataset: String,
      ingestionDate: String): Boolean =
    Sources.dirNonEmpty(spark, dir) && !spark.read.parquet(dir)
      .filter(col("dataset") === dataset &&
        col("ingestion_date") === to_date(lit(ingestionDate)))
      .isEmpty

  /** Append the run record (reference: bronze.py:119-122 INSERT VALUES). */
  def record(spark: SparkSession, dir: String, dataset: String,
      ingestionDate: String, now: Timestamp): Unit = {
    import spark.implicits._
    Seq((dataset, ingestionDate, now)).toDF("dataset", "ingestion_date_s", "loaded_ts")
      .select(col("dataset"), to_date(col("ingestion_date_s")).as("ingestion_date"),
        col("loaded_ts"))
      .write.mode("append").parquet(dir)
  }
}
