package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Idempotency
import graft.sources.Sources
import Model._

/** The tail shared by bronze and silver (reference: notebooks/bronze.py:98-115,
  * notebooks/silver.py:113-125): three hard asserts on the batch, then the
  * insert-only anti-join append.
  *
  * Scale notes: one action and one write, so the batch is evaluated
  * twice. The guards and the fresh-row count are one global aggregate over
  * the batch (null ids, rows, distinct ids, off-whitelist types, rows whose
  * `_id` is not yet in `dir`); the count's `IN` subquery is planned as an
  * existence join against the existing ids, broadcast while they are
  * small. The anti-join is written only when that count is non-zero; it
  * shuffles the key projection only. `dir` is read with its declared
  * schema, so no action infers one.
  */
private[pipeline] object GuardedAppend {

  /** Abort with the first violated guard's message, in the reference's
    * order (null `_id`, duplicate `_id`, `ANIMAL_TYPE` outside the
    * whitelist); else append the rows of `batch` whose `_id` is not yet in
    * `dir`, which holds `schema` as read back. Returns the number of rows
    * appended.
    */
  def apply(spark: SparkSession, batch: DataFrame, dir: String, schema: StructType,
      nullId: String, duplicateId: String, badType: String): Long = {
    val existing =
      if (Sources.dirNonEmpty(spark, dir)) Some(spark.read.schema(schema).parquet(dir))
      else None
    // the anti-join's test: a null `_id` on either side matches nothing
    val fresh = existing.fold(lit(true))(e =>
      !coalesce(col("_id").isin(e.select("_id")), lit(false)))
    val g = batch.agg(
      count(when(col("_id").isNull, 1)),
      count(lit(1)),
      countDistinct(col("_id")),
      // a NULL type passes, as with the reference's filter
      count(when(!col("ANIMAL_TYPE").isin(AnimalTypes: _*), 1)),
      count(when(fresh, 1))).first()
    require(g.getLong(0) == 0, nullId)
    require(g.getLong(1) == g.getLong(2), duplicateId)
    require(g.getLong(3) == 0, badType)

    val n = g.getLong(4)
    if (n > 0)
      existing.fold(batch)(Idempotency.newKeysOnly(batch, _, Seq("_id")))
        .write.partitionBy(PartitionCols: _*).mode("append").parquet(dir)
    n
  }
}
