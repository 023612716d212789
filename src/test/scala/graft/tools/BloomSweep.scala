package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Measured bloom pruning at the sf1 rung (round 16): builds the
  * q119-shaped table (md5-keyed documents, 16 range files, bloom on
  * `h`) over the given corpus, then for a spread of needles records
  * files kept vs pruned and the wall-clock of the pruned point lookup
  * against the unpruned full-scan filter. Writes one summary to stdout
  * (redirect into `dev/sweeps/r16_bloom_sf1.txt`).
  *
  * Run:
  *   CLASSES=main:test dev/run_main.sh graft.tools.BloomSweep /tmp/scale_sf1
  */
object BloomSweep {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BloomSweep <sfDir> [files] [needles]")
    val sfDir = args(0)
    val nFiles = if (args.length > 1) args(1).toInt else 16
    val nNeedles = if (args.length > 2) args(2).toInt else 12
    val spark = Race.session(cpus = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bloomsweep").toString + "/t"

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"),
        col("text"))
      .repartitionByRange(nFiles, col("doc_id"))
    val t0 = System.nanoTime()
    VersionedTable.create(docs, dir, statsCols = Seq("doc_id"))
    val t1 = System.nanoTime()
    VersionedTable.analyzeBloom(spark, dir, Seq("h"))
    val t2 = System.nanoTime()
    val snap = VersionedTable.latest(spark, dir).get
    val nDocs = snap.stats.values.map(_.rowCount).sum
    val bloomBytes = snap.blooms.values.flatMap(_.values).map { p =>
      java.nio.file.Files.size(java.nio.file.Paths.get(dir, p))
    }.sum
    println(s"[bloomsweep] corpus=$sfDir docs=$nDocs files=${snap.files.size}")
    println(f"[bloomsweep] create=${(t1 - t0) / 1e9}%.2fs " +
      f"analyzeBloom=${(t2 - t1) / 1e9}%.2fs sidecarBytes=$bloomBytes " +
      f"(${bloomBytes.toDouble / snap.files.size / 1024}%.1f KiB/file)")

    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val step = math.max(1L, nDocs / nNeedles)
    val needles = (0 until nNeedles).map(i => md5hex((i * step).toString))

    var keptTot = 0; var prunedTot = 0
    var prunedNs = 0L; var fullNs = 0L
    needles.foreach { n =>
      val (kept, pruned) = VersionedTable.pruneInfo(spark, dir,
        col("h") === n)
      keptTot += kept; prunedTot += pruned
      val p0 = System.nanoTime()
      val rowsPruned = VersionedTable.readWhere(spark, dir,
        col("h") === n).count()
      val p1 = System.nanoTime()
      val rowsFull = VersionedTable.read(spark, dir)
        .filter(col("h") === n).count()
      val p2 = System.nanoTime()
      require(rowsPruned == rowsFull,
        s"SOUNDNESS: pruned $rowsPruned != full $rowsFull for needle $n")
      prunedNs += p1 - p0; fullNs += p2 - p1
    }
    val n = needles.size
    println(f"[bloomsweep] needles=$n keptAvg=${keptTot.toDouble / n}%.2f" +
      f"/${snap.files.size} prunedAvg=${prunedTot.toDouble / n}%.2f " +
      f"(${100.0 * prunedTot / (keptTot + prunedTot)}%.1f%% of files skipped)")
    println(f"[bloomsweep] point-lookup wall: pruned=${prunedNs / n / 1e6}%.1f ms " +
      f"full-scan=${fullNs / n / 1e6}%.1f ms " +
      f"speedup=${fullNs.toDouble / prunedNs}%.2fx")
    Race.finish("bloomsweep", spark)
  }
}
