package graft.tools

import java.nio.file.Files

import graft.sources.VersionedTable

/** Cross-process race: a STREAMING versioned ingest vs a concurrent
  * MAINTENANCE process (round-13 follow-on to the commit-race harness).
  *
  * The streaming sink (`Streams.versionedIngest`) commits each
  * micro-batch as one tagged manifest; a production table also gets
  * routine `compactTable` runs from an independent maintenance job.
  * Before this round the sink was single-attempt — a compactor winning
  * the version claim KILLED the stream; now the tagged append rebases
  * (stage-once, bounded attempts, pacing) because appends commute with
  * compaction. This harness proves the combined contract between real
  * JVMs:
  *
  *   - orchestrator seeds the table, then runs a 12-batch streaming
  *     ingest (file source, maxFilesPerTrigger=1) IN-PROCESS while a
  *     spawned compactor JVM loops compactTable every ~150 ms;
  *   - afterwards: every `append#<batchId>` tag committed EXACTLY once,
  *     version chain contiguous, row count = seed + batches x rows
  *     (nothing lost to a compactor win, nothing doubled by a retry);
  *   - a full REPLAY (fresh checkpoint, same input) finds every tag
  *     and no-ops — exactly-once survives redelivery after maintenance
  *     interleaving too.
  *
  * The checks, spawner, waits and session come from the harness kit
  * [[Race]].
  *
  * Run:
  *   CLASSES=main:test dev/run_main.sh graft.tools.StreamMaintRace /tmp/smr
  * Artifact: `dev/sweeps/r13_stream_maint_race.txt`.
  */
object StreamMaintRace {

  import Race.check

  def main(args: Array[String]): Unit = {
    val outDir = Race.outDir(args, "graft-smr")
    val dir = outDir.resolve("table").toString
    val inDir = outDir.resolve("input").toString
    val spark = Race.session(cpus = 8)
    import spark.implicits._

    val Batches = 12
    val RowsPerBatch = 1000L

    // seed table + input files (one parquet file per future micro-batch)
    VersionedTable.create(
      (0L until 500L).map(i => (i, "seed")).toDF("id", "v"), dir)
    (0 until Batches).foreach { b =>
      (0L until RowsPerBatch).map(i => (100000L * (b + 1) + i, s"b$b"))
        .toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    println(s"[smr] table=$dir input=$Batches files")

    // racing compactor JVM
    val compLog = outDir.resolve("compactor.jsonl")
    val barrier = outDir.resolve("go")
    Files.write(barrier, Array.emptyByteArray)
    val compactor = Race.spawn(outDir, "compactor", "graft.tools.RaceWriter",
      Seq(dir, "42", "compact", "60", compLog.toString, barrier.toString))
    // wait until the compactor loop is demonstrably running (first
    // compaction committed) — otherwise its JVM startup eats the whole
    // race window and the ingest runs unopposed
    Race.await("the compactor's first commit")(
      Race.events(compLog, "commit").nonEmpty)

    // streaming ingest in THIS JVM, one file per micro-batch
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    def ingest(checkpoint: String): Unit =
      graft.streaming.Streams.versionedIngest(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir),
        dir, checkpoint)
    val t0 = System.nanoTime()
    ingest(outDir.resolve("ckpt1").toString)
    println(f"[smr] ingest under maintenance: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    compactor.destroyForcibly(); compactor.waitFor()

    val snaps = VersionedTable.snapshots(spark, dir)
    val compCommits = snaps.count(_.operation == "compact")
    val tagCounts = (0 until Batches).map(b =>
      snaps.count(_.operation == s"append#$b"))
    println(s"[smr] versions=${snaps.size} compactions=$compCommits " +
      s"tagCounts=${tagCounts.mkString(",")}")
    check(compCommits >= 3,
      s"maintenance actually interleaved ($compCommits compactions committed)")
    check(tagCounts.forall(_ == 1),
      "every batch tag committed EXACTLY once under maintenance racing")
    check(snaps.map(_.version) == (1L to snaps.size.toLong),
      "version chain contiguous")
    val expect = 500L + Batches * RowsPerBatch
    val got = VersionedTable.read(spark, dir).count()
    check(got == expect, s"row count $got == $expect (no loss, no double)")

    // full redelivery with a fresh checkpoint: every batch replays and
    // must no-op on its committed tag
    ingest(outDir.resolve("ckpt2").toString)
    val snaps2 = VersionedTable.snapshots(spark, dir)
    check(snaps2.size == snaps.size,
      "full replay committed NOTHING (all tags found)")
    check(VersionedTable.read(spark, dir).count() == expect,
      "row count unchanged after replay")

    Race.finish("smr", spark)
  }
}
