package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Aggregates
import Model._

/** Health views — the continuously-queryable invariants of SURVEY.md §5.2
  * (reference: v_bronze_health notebooks/bronze.py:151-158,
  * v_silver_health silver.py:166-175, runbook validation SQL
  * docs/runbook.md:83-99). Single global aggregates with partial combine,
  * negligible at any scale. Actions per run: one per collected health
  * view, and one for `validate`.
  */
object Health {

  /** Bronze health (reference: bronze.py:153-158): volume, id integrity,
    * FSA validity, freshness.
    */
  def bronzeHealth(bronze: DataFrame): DataFrame =
    bronze.agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("_id")).as("distinct_ids"),
      Aggregates.conditionalCount(col("_id").isNull).as("null_ids"),
      Aggregates.conditionalCount(!col("FSA_VALID")).as("invalid_fsa_rows"),
      countDistinct(col("Year")).as("distinct_years"),
      max(col("ingestion_ts")).as("last_ingestion_ts"))

  /** Silver health (reference: silver.py:169-175): adds mapping coverage. */
  def silverHealth(silver: DataFrame): DataFrame =
    silver.agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("_id")).as("distinct_ids"),
      Aggregates.conditionalCount(col("breed_mapped")).as("mapped_rows"),
      Aggregates.conditionalCount(col("FSA").isNull).as("null_fsa_rows"),
      max(col("processed_ts")).as("last_processed_ts"))
      .withColumn("pct_mapped",
        when(col("total_rows") === 0, lit(null).cast("double"))
          .otherwise(lit(100.0) * col("mapped_rows") / col("total_rows")))

  /** Runbook validation checks (reference: docs/runbook.md:85-98 +
    * docs/bronze.md:24-27) as named boolean probes; all must be true on a
    * healthy table.
    */
  def validate(silver: DataFrame): Map[String, Boolean] = {
    val id = col("_id")
    val h = silver.agg(
      count(lit(1)), count(id), countDistinct(id),
      // null-safe <=>: a NULL FSA_VALID must count as inconsistent, not
      // silently drop out of the probe as under a null-unsafe =!=
      count(when(!(col("FSA_VALID") <=> col("FSA").isNotNull), 1)),
      count(when(!col("ANIMAL_TYPE").isin(AnimalTypes: _*), 1))).first()
    val (rows, ids, distinctIds) = (h.getLong(0), h.getLong(1), h.getLong(2))
    Map(
      "ids_unique" -> (rows == distinctIds),
      // a GROUP BY _id probe: all null ids fall in one group
      "no_duplicate_ids" -> (ids == distinctIds && rows - ids <= 1),
      "fsa_flag_consistent" -> (h.getLong(3) == 0),
      "animal_type_whitelisted" -> (h.getLong(4) == 0))
  }
}
