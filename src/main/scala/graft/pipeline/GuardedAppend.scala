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
  * Scale notes: two actions and one write. The guards are one global
  * aggregate over the batch (null ids, rows, distinct ids, off-whitelist
  * types); the anti-join result is counted once and written only when the
  * count is non-zero. The anti-join shuffles the key projection only, and
  * reads `dir` with its declared schema, so no action infers one.
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
    val g = batch.agg(
      count(when(col("_id").isNull, 1)),
      count(lit(1)),
      countDistinct(col("_id")),
      // a NULL type passes, as with the reference's filter
      count(when(!col("ANIMAL_TYPE").isin(AnimalTypes: _*), 1))).first()
    require(g.getLong(0) == 0, nullId)
    require(g.getLong(1) == g.getLong(2), duplicateId)
    require(g.getLong(3) == 0, badType)

    val fresh =
      if (Sources.dirNonEmpty(spark, dir))
        Idempotency.newKeysOnly(batch, spark.read.schema(schema).parquet(dir), Seq("_id"))
      else batch
    val n = fresh.count()
    if (n > 0) fresh.write.partitionBy(PartitionCols: _*).mode("append").parquet(dir)
    n
  }
}
