package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregation operators (reference SURVEY.md §2.4, A1-A10).
  *
  * All are plain `groupBy().agg()` — Spark plans these as partial
  * (map-side) + final hash aggregation, so at 100 TB only the
  * pre-aggregated per-group partials shuffle, never raw rows. Grouping
  * cardinality, not input size, bounds the exchange.
  */
object Aggregates {

  /** Grouped COUNT(*) (reference A1: notebooks/gold.py:33-39). */
  def groupCounts(keys: Seq[String], countName: String = "cnt"): DataFrame => DataFrame =
    _.groupBy(keys.map(col): _*).agg(count(lit(1)).as(countName))

  /** Conditional count SUM(CASE WHEN cond THEN 1 END)
    * (reference A3: notebooks/bronze.py:155).
    */
  def conditionalCount(cond: Column): Column =
    sum(when(cond, 1L).otherwise(0L))

  /** Ratio of aggregates as percent, null-guarded on zero denominator
    * (reference A10: notebooks/gold.py:306).
    */
  def pct(num: Column, denom: Column, scale: Int = 2): Column =
    when(denom === 0, lit(null).cast("double"))
      .otherwise(round(lit(100.0) * num.cast("double") / denom.cast("double"), scale))

  /** Mergeable distinct-count sketch STORE — incremental cardinality
    * across snapshots, the sketch-family member of the incremental
    * posture (signature store, label store, and now a cardinality
    * store): each batch aggregates its own per-group HLL sketch once at
    * ingest ([[sketchBatch]], one pass, binary sketch rows persisted);
    * corpus-wide distinct counts then come from UNIONING stored sketches
    * ([[mergeSketchEstimate]]) — history is never rescanned. Sound
    * because HLL union is a pointwise register max: associative,
    * commutative, order-independent, so merged-across-batches equals the
    * single-pass sketch EXACTLY (AggregatesSpec proves estimate
    * equality, not approximate agreement).
    */
  def sketchBatch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Union persisted sketches per group and estimate. */
  def mergeSketchEstimate(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false)))
        .as("approx_distinct"))

  /** Mergeable FREQUENCY sketch store (count-min) — the heavy-hitter
    * companion to the HLL cardinality store: each ingest batch
    * aggregates one count-min sketch per group in a single pass
    * ([[cmsBatch]], binary rows persisted); corpus-wide frequency
    * estimates for any probe set then come from merging the stored
    * sketches ([[cmsMergeEstimate]]) — history is never rescanned.
    * Count-min merge is CELL-WISE ADDITION: associative, commutative,
    * exact — merged-across-batches equals the single-pass sketch
    * bit-for-bit (AggregatesSpec proves estimate equality), and
    * estimates never undercount (one-sided error ≤ eps·N with prob.
    * `confidence`).
    */
  def cmsBatch(df: DataFrame, groupCol: String, valueCol: String,
      eps: Double = 0.0001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count_min_sketch(col(valueCol), lit(eps), lit(confidence),
        lit(seed)).as("cms"))

  /** Merge persisted count-min sketches per group (driver-side: one
    * bounded blob per (group, batch) — the same bounded-collect posture
    * as the IVF quantizer) and estimate counts for `probes`.
    */
  def cmsMergeEstimate(sketches: DataFrame, groupCol: String,
      probes: Seq[String]): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val spark = sketches.sparkSession
    import spark.implicits._
    val blobs = sketches.select(col(groupCol).cast("string"), col("cms"))
      .as[(String, Array[Byte])].collect()
    val merged = blobs.groupBy(_._1).toSeq.map { case (g, rows) =>
      val sk = CountMinSketch.readFrom(rows.head._2)
      rows.tail.foreach(r => sk.mergeInPlace(CountMinSketch.readFrom(r._2)))
      (g, sk)
    }
    val out = for ((g, sk) <- merged; p <- probes)
      yield (g, p, sk.estimateCount(p))
    out.toDF(groupCol, "token", "est_count")
  }
}
