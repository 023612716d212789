package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Insert-only idempotency core (reference: notebooks/bronze.py:111-112,
  * notebooks/silver.py:124-125; SQL form sql/breed_mapping.py:626-627).
  *
  * `newKeysOnly(batch, existing, keys)` keeps batch rows whose key is not
  * already present — re-delivering any batch is a no-op, earliest write
  * wins (reference: README.md:57-58).
  *
  * Scale notes: the existing side is projected to its key columns BEFORE
  * the join so only the key set shuffles (or broadcasts). It is not
  * de-duplicated: repeated keys on the right cannot change a left-anti
  * result, and a distinct would be a full aggregate over all of history
  * on every call. At 100 TB with
  * billions of existing ids, Catalyst/AQE picks a shuffled hash anti-join;
  * partition pruning on the target (e.g. by ingestion_date / Year) should
  * be applied by the caller to bound the "existing" scan.
  */
object Idempotency {

  def newKeysOnly(batch: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame = {
    batch.join(existing.select(keys.map(col): _*), keys, "left_anti")
  }
}
