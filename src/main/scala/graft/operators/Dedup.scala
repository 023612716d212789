package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Key-level deduplication operators.
  *
  * `latestPerKey` re-expresses the reference's window dedup
  * (reference: notebooks/silver.py:81-85 — ROW_NUMBER over `_id` ordered
  * `ingestion_ts DESC, Year DESC NULLS LAST`, keep rn=1).
  *
  * Scale notes: one shuffle on the key columns; at 100 TB this hash
  * partitions by key so each executor dedups its own slice — no global
  * sort. If the upstream data is already bucketed/partitioned by the key,
  * Catalyst elides the exchange. Ties MUST be fully pinned by `orderBy`
  * (append a unique column last) or results are nondeterministic across
  * runs and the oracle comparison fails.
  */
object Dedup {

  /** Keep exactly one row per key: the first under `orderBy`. */
  def latestPerKey(keys: Seq[String], orderBy: Seq[Column]): DataFrame => DataFrame = { df =>
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keep the row with the maximum `ord` tuple per key — semantically
    * `latestPerKey(keys, ord.map(_.desc))` for tie-free orderings, but
    * executed as a hash aggregate (`max_by` over a struct) instead of a
    * sort-window.
    *
    * Scale notes: this is the plan you want at 100 TB — partial map-side
    * combine collapses each input partition to one candidate row per key
    * before the exchange, so the shuffle moves ~|keys| rows instead of all
    * rows, and no per-partition sort is ever materialized. Use the window
    * form only when the ordering has NULLS-LAST or mixed-direction
    * semantics a struct comparison can't express. `ord` must be a total
    * order (append a unique column) for deterministic results.
    */
  def latestPerKeyAgg(keys: Seq[String], ord: Seq[Column]): DataFrame => DataFrame = { df =>
    val payload = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), struct(ord: _*)).as("__best"))
      .select(keys.map(col) ++ payload.map(c => col(s"__best.$c").as(c)): _*)
  }
}
