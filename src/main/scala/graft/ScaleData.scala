package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for bench runs beyond the provided scale factors:
  * replicates a testdata directory N× with SHIFTED keys (TPC-H-style
  * tables keep their join graph — lineitem/orders/part/supplier/customer
  * offsets move together; region/nation are fixed dims and copy
  * verbatim) and JITTERED content (document tokens get a deterministic
  * per-copy rewrite at ~30% rate, embeddings a per-element deterministic
  * rescale in [0,2]) so near-duplicate semantics stay realistic — naive
  * replication would make every doc a 10-way exact duplicate and turn
  * the pair-emitting dedup queries quadratic in the copy count, which
  * measures the DATA pathology, not the engine.
  *
  * Usage: `runMain graft.ScaleData <srcSfDir> <dstDir> [copies]`.
  * This is a bench-support tool, not part of the query surface.
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleData <srcSfDir> <dstDir> [copies]")
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Session.build(src)
    // DuckDB (dev/check.py) reads the scaled tables: keep them INT96
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect().head.getLong(0) + 1L

    // fixed dims: verbatim
    Seq("region", "nation").foreach(t => write(read(t), t))

    val custOff = maxOf(read("customer"), "c_custkey")
    val suppOff = maxOf(read("supplier"), "s_suppkey")
    val partOff = maxOf(read("part"), "p_partkey")
    val orderOff = maxOf(read("orders"), "o_orderkey")

    /** Union `copies` key-shifted clones; copy 0 is the original. */
    def replicate(df: DataFrame, shift: Map[String, Long],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { i =>
        val shifted = shift.foldLeft(df) { case (d, (c, off)) =>
          d.withColumn(c, col(c) + lit(off * i))
        }
        extra(shifted, i)
      }.reduce(_ unionByName _)

    write(replicate(read("customer"), Map("c_custkey" -> custOff)), "customer")
    write(replicate(read("supplier"), Map("s_suppkey" -> suppOff)), "supplier")
    write(replicate(read("part"), Map("p_partkey" -> partOff)), "part")
    write(replicate(read("orders"),
      Map("o_orderkey" -> orderOff, "o_custkey" -> custOff)), "orders")
    write(replicate(read("lineitem"), Map("l_orderkey" -> orderOff,
      "l_partkey" -> partOff, "l_suppkey" -> suppOff)), "lineitem")

    val userOff = maxOf(read("events"), "user_id")
    write(replicate(read("events"), Map("user_id" -> userOff)), "events")

    // documents: shift ids; jitter ~30% of tokens per non-original copy
    // (deterministic xxhash64 gate keyed by token+doc+copy) so clones
    // are thematically similar but NOT near-duplicates of the original
    val docOff = maxOf(read("documents"), "doc_id")
    val docs = replicate(read("documents"), Map("doc_id" -> docOff),
      (d, i) => if (i == 0) d else {
        val toks = split(col("text"), " ")
        val jittered = transform(toks, t =>
          when(pmod(xxhash64(t, col("doc_id"), lit(i)), lit(10)) < 3,
            concat(t, lit(s"x$i"))).otherwise(t))
        d.withColumn("text", array_join(jittered, " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      })
    write(docs, "documents")

    // embeddings: shift ids; rescale each element by a deterministic
    // factor in [0, 2] (mean 1) — expected cosine to the original drops
    // to ~0.87, below every near-dup threshold in the registry
    val vecOff = maxOf(read("embeddings"), "vec_id")
    val embs = replicate(read("embeddings"), Map("vec_id" -> vecOff),
      (d, i) => if (i == 0) d else {
        d.withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x * (pmod(xxhash64(col("vec_id"), lit(i), j), lit(10000))
            .cast("double") / lit(5000.0))).cast("float")))
      })
    write(embs, "embeddings")

    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      println(s"[scale] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
