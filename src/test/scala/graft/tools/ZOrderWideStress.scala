package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-level A/B for the round-11 exact-histogram z-order routing
  * (`graft.sources.Sources.zArrange`): z-orders a WIDE table — the
  * documents corpus, whose `text` payload dominates the bytes — and
  * times the shipped exact-histogram routing against the prior
  * `repartitionByRange` shape. RangePartitioner's reservoir-sampling
  * pass evaluates the full child plan, so the OLD shape reads the text
  * payload TWICE; the histogram pass reads only the two numeric
  * clustering columns. On narrow tables (q81/q90's 4-column lineitem
  * subset) the two shapes measure equal — the point of this harness is
  * the wide-payload case that IS the 100-TB z-order workload. Test
  * scope — a recorded-artifact harness (`dev/sweeps/r11_zorder_wide`),
  * not shipped surface. Run:
  *
  *   sbt 'Test/runMain graft.tools.ZOrderWideStress /tmp/scale_sf100'
  */
object ZOrderWideStress {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Session.build(sfDir)
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("PARTS", "64"))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      sys.env.getOrElse("PARTS", "64"))

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val targetFiles = 32
    val buckets = 256

    // the prior zArrange shape, verbatim: quantile buckets → Morton
    // interleave → repartitionByRange (whose sampling pass re-reads the
    // wide payload) → in-partition z-sort
    def rangeShape(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.graft.GraftExpressions
      val bits = java.lang.Integer.numberOfTrailingZeros(buckets)
      val probes = (1 until buckets).map(_.toDouble / buckets).toArray
      val Array(bx, by) =
        df.stat.approxQuantile(Array("doc_id", "n_chars"), probes, 0.001)
      df.withColumn("__z", GraftExpressions.interleaveBits(
          GraftExpressions.rangeBucket(col("doc_id").cast("double"), bx).cast("long"),
          GraftExpressions.rangeBucket(col("n_chars").cast("double"), by).cast("long"),
          bits))
        .repartitionByRange(targetFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    }

    def time(label: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[zorder-wide] $label%-18s $s%8.1f s")
      s
    }

    val outOld = "/tmp/zorder_wide_old"
    val outNew = "/tmp/zorder_wide_new"
    // warmup: one untimed full read so both legs see the same cache state
    println(s"[zorder-wide] corpus rows=${docs.count()}")

    val tOld = time("repartitionByRange") {
      rangeShape(docs).write.mode("overwrite").parquet(outOld)
    }
    val tNew = time("exact-histogram") {
      graft.sources.Sources.zorderWrite(
        docs, outNew, ("doc_id", "n_chars"), targetFiles, buckets)
    }

    val a = spark.read.parquet(outOld)
    val b = spark.read.parquet(outNew)
    val same = a.count() == b.count() &&
      a.agg(sum("doc_id"), sum("n_chars")).head ==
        b.agg(sum("doc_id"), sum("n_chars")).head
    println(f"[zorder-wide] contents-agree=$same ratio=${tOld / tNew}%.2fx " +
      s"(range ${tOld.round}s vs hist ${tNew.round}s, $targetFiles files)")
    spark.stop()
  }
}
