package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Bench-scale exercise of the streaming state machines (round-11,
  * verdict item 4): drives `nearDedupIngest`, `clusterIngest`,
  * `lineDedupIngest`, `scdIngest` and `versionedIngest` over an sf1
  * two-batch ingest, comparing each against its batch twin and timing
  * the committed-batch replay no-op. Test scope on purpose — it is a
  * recorded-artifact harness (`dev/sweeps/r11_streams_sf1.txt`), not
  * shipped surface. Run:
  *
  *   sbt 'Test/runMain graft.tools.StreamScaleCheck /tmp/scale_sf1'
  *
  * What "agree" means per machine: the scd dim must equal the
  * independent batch operator (`Scd.applyType2` chained — a genuinely
  * different code path); the foreachBatch machines must equal their
  * `process*Batch` functions driven directly (same per-batch semantics,
  * so this proves the STREAMING plumbing — file source, checkpoint,
  * batch numbering, ledger idempotency — while their exactness is
  * already oracle-proven by q53/q59/q67/q101/q103). State sizes land in
  * the artifact so a state-store blowup at 10× bench scale is visible.
  */
object StreamScaleCheck {
  private val lines = scala.collection.mutable.ArrayBuffer.empty[String]
  private def log(s: String): Unit = { println(s"[streamscale] $s"); lines += s }

  private def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    log(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  private def assertSame(label: String, got: DataFrame, want: DataFrame): Unit = {
    val extra = got.exceptAll(want).count()
    val missing = want.exceptAll(got).count()
    require(extra == 0 && missing == 0,
      s"$label DIVERGED: extra=$extra missing=$missing")
    log(s"$label: EQUAL (${want.count()} rows)")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val root = java.nio.file.Files.createTempDirectory("graft-streamscale").toString
    val spark = graft.Session.build(sfDir)
    spark.conf.set("spark.sql.shuffle.partitions", 64)
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum", 64)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val batchA = docs.filter(col("doc_id") % 2 === 0).localCheckpoint()
    val batchB = docs.filter(col("doc_id") % 2 === 1).localCheckpoint()
    log(s"sf=$sfDir docs: batchA=${batchA.count()} batchB=${batchB.count()}")

    // two-batch streaming drive: write half, ingest, write half, ingest —
    // the checkpoint carries batch numbering across the two invocations
    def drive(name: String)(ingest: (DataFrame, String) => Unit): String = {
      val src = s"$root/$name/src"
      val schema = batchA.schema
      batchA.write.mode("append").parquet(src)
      timed(s"$name batch 0 (stream)") {
        ingest(Streams.fileIngest(spark, src, schema), s"$root/$name/ckpt")
      }
      batchB.write.mode("append").parquet(src)
      timed(s"$name batch 1 (stream)") {
        ingest(Streams.fileIngest(spark, src, schema), s"$root/$name/ckpt")
      }
      s"$root/$name"
    }

    // ---- nearDedupIngest ------------------------------------------------
    {
      val d = drive("neardedup") { (st, ckpt) =>
        Streams.nearDedupIngest(st, "doc_id", "text", 0.8,
          s"$root/neardedup/store", s"$root/neardedup/out", ckpt)
      }
      val twin = s"$root/neardedup-twin"
      timed("neardedup twin (processNearDedupBatch x2)") {
        Streams.processNearDedupBatch(batchA, 0L, "doc_id", "text", 0.8,
          s"$twin/store", s"$twin/out")
        Streams.processNearDedupBatch(batchB, 1L, "doc_id", "text", 0.8,
          s"$twin/store", s"$twin/out")
      }
      assertSame("neardedup survivors",
        spark.read.parquet(s"$d/out"), spark.read.parquet(s"$twin/out"))
      log(s"neardedup store rows=${spark.read.parquet(s"$d/store").count()}")
      timed("neardedup committed-batch replay (must no-op)") {
        Streams.processNearDedupBatch(batchB, 1L, "doc_id", "text", 0.8,
          s"$d/store", s"$d/out")
      }
    }

    // ---- clusterIngest --------------------------------------------------
    {
      val d = drive("cluster") { (st, ckpt) =>
        Streams.clusterIngest(st, "doc_id", "text", 0.8,
          s"$root/cluster/store", s"$root/cluster/labels", ckpt)
      }
      val twin = s"$root/cluster-twin"
      timed("cluster twin (processClusterBatch x2)") {
        Streams.processClusterBatch(batchA, 0L, "doc_id", "text", 0.8,
          s"$twin/store", s"$twin/labels")
        Streams.processClusterBatch(batchB, 1L, "doc_id", "text", 0.8,
          s"$twin/store", s"$twin/labels")
      }
      def latest(dir: String): DataFrame =
        graft.operators.Dedup.latestPerKeyAgg(Seq("id"), Seq(col("batch_id")))(
          spark.read.parquet(s"$dir/labels")).select("id", "cluster_id")
      assertSame("cluster labels (latest per id)", latest(d), latest(twin))
      log(s"cluster labels CDC rows=${spark.read.parquet(s"$d/labels").count()}" +
        s" store rows=${spark.read.parquet(s"$d/store").count()}")
      timed("cluster committed-batch replay (must no-op)") {
        Streams.processClusterBatch(batchB, 1L, "doc_id", "text", 0.8,
          s"$d/store", s"$d/labels")
      }
    }

    // ---- lineDedupIngest ------------------------------------------------
    {
      val d = drive("linededup") { (st, ckpt) =>
        Streams.lineDedupIngest(st, "doc_id", "text", 2L,
          s"$root/linededup/store", s"$root/linededup/out", ckpt)
      }
      val twin = s"$root/linededup-twin"
      timed("linededup twin (processLineDedupBatch x2)") {
        Streams.processLineDedupBatch(batchA, 0L, "doc_id", "text", 2L,
          s"$twin/store", s"$twin/out")
        Streams.processLineDedupBatch(batchB, 1L, "doc_id", "text", 2L,
          s"$twin/store", s"$twin/out")
      }
      assertSame("linededup cleaned docs",
        spark.read.parquet(s"$d/out"), spark.read.parquet(s"$twin/out"))
      log(s"linededup store rows=${spark.read.parquet(s"$d/store").count()}")
      timed("linededup committed-batch replay (must no-op)") {
        Streams.processLineDedupBatch(batchB, 1L, "doc_id", "text", 2L,
          s"$d/store", s"$d/out")
      }
    }

    // ---- scdIngest (vs the INDEPENDENT batch operator) ------------------
    {
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_acctbal").cast("string").as("v"))
        .localCheckpoint()
      val t1 = "2024-01-01 00:00:00"
      val t2 = "2024-02-01 00:00:00"
      val cdc1 = cust.withColumn("ts", to_timestamp(lit(t1)))
      // batch 2: every 10th key changes value, plus redeliveries of an
      // unchanged 5% slice (must NOT open new versions)
      val cdc2 = cust.filter(col("k") % 10 === 0)
        .withColumn("v", concat(col("v"), lit("!")))
        .unionByName(cust.filter(col("k") % 20 === 3))
        .withColumn("ts", to_timestamp(lit(t2)))
        .localCheckpoint()
      log(s"scd keys=${cust.count()} changed=${cdc2.count()}")
      val src = s"$root/scd/src"
      cdc1.write.mode("append").parquet(src)
      val schema = cdc1.schema
      timed("scd batch 0 (stream)") {
        Streams.scdIngest(Streams.fileIngest(spark, src, schema),
          Seq("k"), Seq("v"), "ts", s"$root/scd/dim", s"$root/scd/ckpt")
      }
      cdc2.write.mode("append").parquet(src)
      timed("scd batch 1 (stream)") {
        Streams.scdIngest(Streams.fileIngest(spark, src, schema),
          Seq("k"), Seq("v"), "ts", s"$root/scd/dim", s"$root/scd/ckpt")
      }
      val seed = cust.limit(0)
        .withColumn("valid_from", lit(null).cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .withColumn("is_current", lit(true))
      val twin = timed("scd twin (Scd.applyType2 x2)") {
        graft.operators.Scd.applyType2(
          graft.operators.Scd.applyType2(seed, cdc1.drop("ts"), Seq("k"),
            Seq("v"), to_timestamp(lit(t1))),
          cdc2.drop("ts"), Seq("k"), Seq("v"), to_timestamp(lit(t2)))
          .localCheckpoint()
      }
      val dim = Streams.currentDim(spark, s"$root/scd/dim").get
        .select("k", "v", "valid_from", "valid_to", "is_current")
      assertSame("scd dim vs independent batch operator", dim,
        twin.select("k", "v", "valid_from", "valid_to", "is_current"))
      timed("scd committed-batch replay (must no-op)") {
        Streams.processScdBatch(cdc2, 1L, Seq("k"), Seq("v"), "ts",
          s"$root/scd/dim")
      }
    }

    // ---- versionedIngest ------------------------------------------------
    {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val a = orders.filter(col("o_orderkey") % 2 === 0).localCheckpoint()
      val b = orders.filter(col("o_orderkey") % 2 === 1).localCheckpoint()
      val src = s"$root/versioned/src"
      val tdir = s"$root/versioned/table"
      a.write.mode("append").parquet(src)
      val schema = a.schema
      timed("versioned batch 0 (stream)") {
        Streams.versionedIngest(Streams.fileIngest(spark, src, schema),
          tdir, s"$root/versioned/ckpt", statsCols = Seq("o_orderkey"))
      }
      b.write.mode("append").parquet(src)
      timed("versioned batch 1 (stream)") {
        Streams.versionedIngest(Streams.fileIngest(spark, src, schema),
          tdir, s"$root/versioned/ckpt", statsCols = Seq("o_orderkey"))
      }
      val snaps = graft.sources.VersionedTable.snapshots(spark, tdir)
      require(snaps.map(_.operation) == Seq("append#0", "append#1"),
        s"expected two tagged commits, got ${snaps.map(_.operation)}")
      assertSame("versioned table vs batch union",
        graft.sources.VersionedTable.read(spark, tdir)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        a.unionByName(b))
      timed("versioned committed-batch replay (must no-op)") {
        Streams.processVersionedBatch(b, 1L, tdir, Seq("o_orderkey"))
      }
    }

    log("ALL STREAM MACHINES AGREE AT " + sfDir)
    args.drop(1).headOption.foreach { out =>
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
