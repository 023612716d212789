package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: `build` runs it over an sf directory, and
  * `oracle` is the DuckDB SQL whose answer it must hash-match. Kernels
  * that are not directly SQL-expressible (LSH banding, custom hash
  * expressions, iterative k-means/BPE/PageRank) get either an exact
  * unrolled replay (q75/q76) or the q33 contract form: exact anchors
  * DuckDB recomputes plus required-TRUE invariants, with ScalaTest specs
  * keeping the algorithmic proofs.
  */
final case class Query(name: String,
    build: (SparkSession, String) => DataFrame, oracle: String)
