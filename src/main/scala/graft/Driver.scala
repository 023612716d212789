package graft

import org.apache.spark.sql.{DataFrame, Row}

/** Driver-side collects, bounded by construction. */
object Driver {

  /** The row cap of the program's driver collects: far above any top-k
    * list or gold view result, far below what strains the driver's heap.
    */
  val MaxRows = 100000

  /** All rows of `df`, which must hold at most `cap`: fetches `cap + 1`
    * rows and fails loudly, naming `what`, when the extra one arrives.
    */
  def collectBounded(df: DataFrame, cap: Int, what: String): Array[Row] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap)
      throw new IllegalStateException(s"$what: more than $cap rows reached a bounded driver collect")
    rows
  }
}
