package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys.
  *
  * Spark's hash aggregation already absorbs aggregation skew via partial
  * map-side combine, and AQE splits skewed SHUFFLE-join partitions at
  * runtime. Salting is the manual fallback for when AQE can't act.
  *
  * DECISION RULE for a skewed equi-join (each branch exercised on a
  * planted hot key in SkewHealthSpec):
  *   1. Small side fits in memory → `broadcast(small)`. No shuffle at
  *      all, so there is nothing to skew. Always first choice.
  *   2. Shuffled join under AQE (`spark.sql.adaptive.skewJoin.enabled`,
  *      the session default here) → let AQE split the hot partition:
  *      it triggers when a partition exceeds BOTH
  *      `skewedPartitionFactor` × median AND
  *      `skewedPartitionThresholdInBytes`, and it needs no code change.
  *      This covers single-huge-key inner/left joins — AQE duplicates
  *      the other side's matching partition across the splits.
  *   3. `saltedJoin` when the engine can't rebalance: a pinned
  *      non-adaptive plan, a join shape AQE's skew rule skips (e.g. the
  *      skewed side of an outer join it cannot split), skew below the
  *      byte thresholds that still serializes a stage on one straggler
  *      task, or a downstream stage that must inherit the salted
  *      distribution. Costs `salt`× the small side's shuffle volume —
  *      only worth it when the small side is modest (else see rule 1).
  *
  * `saltedJoin` replicates the small side `salt` times and scatters the
  * big side uniformly across the replicas, so a hot key's rows land on
  * `salt` tasks instead of one. Identical results to a plain equi-join.
  */
object Skew {

  /** Equi-join `big ⋈ small` on `keys`, with the big side salted into
    * `salt` buckets. Join type may be "inner" or "left" (semantics
    * preserved: each big row matches exactly the same small rows as the
    * unsalted join).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      salt: Int, joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin supports inner/left, got $joinType")
    // deterministic scatter: hash of the whole big row modulo salt
    val bigSalted = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col): _*)), lit(salt)).cast("int"))
    val smallReplicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    bigSalted.join(smallReplicated, keys :+ "__salt", joinType)
      .drop("__salt")
  }

  /** Two-phase salted aggregation for associative aggregates: pre-aggregate
    * on (keys, salt), then combine per key. Mostly documentary — Spark's
    * partial aggregation gives the same effect — but useful when the
    * partial agg is disabled (e.g. high-cardinality distinct structs) or
    * when feeding a deliberately repartitioned pipeline.
    */
  def saltedCount(df: DataFrame, keys: Seq[String], salt: Int,
      countName: String = "cnt"): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id().cast("long"), lit(salt)).cast("int"))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum("__partial").as(countName))

  /** Top-N heaviest keys with their row share — the skew diagnostic you
    * run before choosing a mitigation. Ties at the cutoff are pinned by
    * the key columns ascending, so the reported set is deterministic
    * (and engine-reproducible — oracle-checked as q47).
    */
  def keyHistogram(df: DataFrame, keys: Seq[String], topN: Int = 20): DataFrame = {
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
    // total via a broadcast 1-row cross join, not a driver-side
    // df.count(): ONE job instead of two, and the (tiny) per-key counts
    // feed both the total and the histogram without a second scan
    val total = counts.agg(sum("cnt").cast("double").as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share_pct", lit(100.0) * col("cnt") / col("__total"))
      .drop("__total")
      .orderBy(col("cnt").desc +: keys.map(col(_).asc): _*)
      .limit(topN)
  }
}
