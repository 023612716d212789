package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — every operator from SURVEY.md §2 exposed as a named
  * query over the driver testdata, with a DuckDB-oracle SQL twin. Each
  * query is one [[graft.queries.Query]] declared beside its oracle in
  * its family's file under `graft/queries`; this object only joins the
  * families.
  *
  * Determinism ground rules (so Spark and DuckDB hash-match):
  *   - money sums go through DECIMAL(18,2) then cast to DOUBLE (exact,
  *     order-independent); raw double sums are order-dependent.
  *   - never `round()` a computed double: Spark rounds the shortest
  *     decimal repr (BigDecimal.valueOf), DuckDB rounds the binary value —
  *     they disagree near ties. Plain IEEE `* / + -` is bit-identical.
  *   - every window order fully pins ties with a unique trailing key.
  *   - event timestamps are normalized to session-zoned (UTC)
  *     microseconds regardless of the parquet encoding — see
  *     [[Tables.events]] for the per-encoding paths; DuckDB reads the same
  *     file natively (with implicit TIMESTAMP_NS → TIMESTAMP truncation
  *     when nanos).
  */
object SparkEntry {

  /** Every registered query, family by family. */
  private[graft] val registry: Seq[Query] = unique(
    RelationalQueries.all ++ TemporalQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ VectorQueries.all ++ MediaQueries.all ++
      LakehouseQueries.all ++ GraphQueries.all)

  /** `qs`, failing on a name registered twice, which a map keyed by name
    * would otherwise resolve silently to one of the two.
    */
  private[graft] def unique(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q02.build(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
