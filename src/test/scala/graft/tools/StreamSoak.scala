package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Long-horizon streaming soak (round-12, verdict item 7): the five
  * state machines are proven correct on two-batch exercises
  * ([[StreamScaleCheck]], batch-twin equality) — what that leaves
  * untested is drift over a LONG ingest: does per-batch wall time stay
  * flat at constant batch size, and does state-store size stay
  * near-linear in ingested keys, across 24 batches with committed-batch
  * replays interleaved every 6th batch?
  *
  * Per machine, per batch, the artifact records `(batch, seconds,
  * store_rows, out_rows)`; replays additionally assert the no-op
  * contract (output row count unchanged). Test scope on purpose — a
  * recorded-artifact harness (`dev/sweeps/r12_stream_soak.txt`), not
  * shipped surface. Run:
  *
  *   CLASSES=main:test dev/run_main.sh graft.tools.StreamSoak \
  *     /root/testdata/sf0.1 24
  */
object StreamSoak {
  private def count(spark: SparkSession, dir: String): Long =
    if (graft.sources.Sources.dirNonEmpty(spark, dir))
      spark.read.parquet(dir).count() else 0L

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 24
    val root = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val spark = graft.Session.build(sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", 32)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // constant-size batches: doc_id mod nBatches (uniform ids → equal
    // slices), each localCheckpointed once so batch prep cost never
    // pollutes the per-batch ingest timing
    val slices = (0 until nBatches).map(i =>
      docs.filter(pmod(col("doc_id"), lit(nBatches)) === i).localCheckpoint())
    println(s"[soak] sf=$sfDir batches=$nBatches sliceRows=${slices.head.count()}")

    /** Drives one machine through nBatches via the REAL streaming path
      * (file source + checkpoint + AvailableNow), replaying the
      * previous committed batch directly through the batch processor
      * every 6th batch (must no-op: out rows unchanged).
      */
    def soak(name: String)(
        ingest: (DataFrame, String) => Unit,
        replay: (DataFrame, Long) => Unit,
        storeDir: String, outDir: String): Unit = {
      val src = s"$root/$name/src"
      val ckpt = s"$root/$name/ckpt"
      val schema = slices.head.schema
      for (b <- 0 until nBatches) {
        slices(b).write.mode("append").parquet(src)
        val t0 = System.nanoTime()
        ingest(Streams.fileIngest(spark, src, schema), ckpt)
        val secs = (System.nanoTime() - t0) / 1e9
        val st = count(spark, storeDir)
        val out = count(spark, outDir)
        println(f"[soak] $name batch=$b%2d secs=$secs%6.2f store=$st%9d out=$out%9d")
        if (b > 0 && b % 6 == 0) {
          val before = count(spark, outDir)
          val t1 = System.nanoTime()
          replay(slices(b), b.toLong)
          val rsecs = (System.nanoTime() - t1) / 1e9
          val after = count(spark, outDir)
          require(after == before,
            s"$name replay of batch $b MUTATED output: $before -> $after")
          println(f"[soak] $name replay b=$b%2d secs=$rsecs%6.2f NO-OP ok")
        }
      }
    }

    soak("neardedup")(
      (st, ckpt) => Streams.nearDedupIngest(st, "doc_id", "text", 0.8,
        s"$root/neardedup/store", s"$root/neardedup/out", ckpt),
      (df, b) => Streams.processNearDedupBatch(df, b, "doc_id", "text", 0.8,
        s"$root/neardedup/store", s"$root/neardedup/out"),
      s"$root/neardedup/store", s"$root/neardedup/out")

    soak("cluster")(
      (st, ckpt) => Streams.clusterIngest(st, "doc_id", "text", 0.8,
        s"$root/cluster/store", s"$root/cluster/labels", ckpt),
      (df, b) => Streams.processClusterBatch(df, b, "doc_id", "text", 0.8,
        s"$root/cluster/store", s"$root/cluster/labels"),
      s"$root/cluster/store", s"$root/cluster/labels")

    soak("linededup")(
      (st, ckpt) => Streams.lineDedupIngest(st, "doc_id", "text", 2L,
        s"$root/linededup/store", s"$root/linededup/out", ckpt),
      (df, b) => Streams.processLineDedupBatch(df, b, "doc_id", "text", 2L,
        s"$root/linededup/store", s"$root/linededup/out"),
      s"$root/linededup/store", s"$root/linededup/out")

    // scd: nBatches CDC waves over customer — wave i changes keys
    // k % nBatches == i (new version) and redelivers an unchanged 5%
    // slice (must not open versions); store growth should track the
    // CHANGED keys only
    {
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_acctbal").cast("string").as("v"))
        .localCheckpoint()
      val src = s"$root/scd/src"
      val dim = s"$root/scd/dim"
      val ckpt = s"$root/scd/ckpt"
      var schema: org.apache.spark.sql.types.StructType = null
      for (b <- 0 until nBatches) {
        val ts = f"2024-01-${(b % 28) + 1}%02d 00:00:00"
        val wave0 = if (b == 0) cust else cust
          .filter(pmod(col("k"), lit(nBatches)) === b)
          .withColumn("v", concat(col("v"), lit(s"!$b")))
          .unionByName(cust.filter(pmod(col("k"), lit(20)) === 3))
        val wave = wave0.withColumn("ts", to_timestamp(lit(ts))).localCheckpoint()
        if (schema == null) schema = wave.schema
        wave.write.mode("append").parquet(src)
        val t0 = System.nanoTime()
        Streams.scdIngest(Streams.fileIngest(spark, src, schema),
          Seq("k"), Seq("v"), "ts", dim, ckpt)
        val secs = (System.nanoTime() - t0) / 1e9
        // dim DIR accumulates one full snapshot per batch (vacuum-able
        // by design); the logical dim is the latest snapshot
        val st = count(spark, dim)
        val cur = Streams.currentDim(spark, dim).map(_.count()).getOrElse(0L)
        println(f"[soak] scd batch=$b%2d secs=$secs%6.2f dimRows=$cur%9d storeRows=$st%9d")
        if (b > 0 && b % 6 == 0) {
          val before = count(spark, dim)
          Streams.processScdBatch(wave, b.toLong, Seq("k"), Seq("v"), "ts", dim)
          val after = count(spark, dim)
          require(after == before,
            s"scd replay of batch $b opened versions: $before -> $after")
          println(f"[soak] scd replay b=$b%2d NO-OP ok")
        }
      }
    }

    // versioned: nBatches appends of orders slices → table must hold
    // exactly the ingested rows and one commit per batch
    {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val src = s"$root/versioned/src"
      val tdir = s"$root/versioned/table"
      val ckpt = s"$root/versioned/ckpt"
      var schema: org.apache.spark.sql.types.StructType = null
      var expected = 0L
      for (b <- 0 until nBatches) {
        val slice = orders.filter(pmod(col("o_orderkey"), lit(nBatches)) === b)
          .localCheckpoint()
        expected += slice.count()
        if (schema == null) schema = slice.schema
        slice.write.mode("append").parquet(src)
        val t0 = System.nanoTime()
        Streams.versionedIngest(Streams.fileIngest(spark, src, schema),
          tdir, ckpt, statsCols = Seq("o_orderkey"))
        val secs = (System.nanoTime() - t0) / 1e9
        val rows = graft.sources.VersionedTable.read(spark, tdir).count()
        require(rows == expected, s"versioned batch $b: $rows != $expected")
        println(f"[soak] versioned batch=$b%2d secs=$secs%6.2f tableRows=$rows%9d")
      }
    }

    println("[soak] DONE all machines")
    spark.stop()
  }
}
