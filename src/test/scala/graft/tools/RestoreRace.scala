package graft.tools

import java.nio.file.{Files, Paths}

import graft.sources.VersionedTable

/** Multi-process race of [[VersionedTable.restore]] against a looping
  * [[VersionedTable.vacuum]] and a live appender (round-15 flagship —
  * the r14 verdict's top item and the LAST contractual exclusion in the
  * data-loss class): a restore re-commits an OLD version's file list as
  * the new latest, resurrecting files by name, while vacuum deletes
  * files from a point-in-time live-set. Before round 15 their overlap
  * was excluded by documentation; now the two serialize on the
  * maintenance lock (`VersionedTable.withMaintLock`) and this harness
  * proves the serialization holds across independent JVMs sharing
  * nothing but the filesystem — including when the lock's holder is
  * SIGKILLed mid-sweep and the lock must be reclaimed by mtime-staleness.
  *
  * Checks (the verdict's "done" bar):
  *   - no file referenced by any committed manifest is ever deleted:
  *     every successful restore re-reads its OWN new latest — fully,
  *     twice, the second time AFTER sleeping across a vacuum sweep
  *     interval — and the final audit stats every file of every
  *     retained manifest;
  *   - every restored version is readable with exactly the row count
  *     its target version had at restore time;
  *   - restores that lose races fail TYPED (ConcurrentCommit /
  *     "no version" / "were vacuumed"), never silently;
  *   - a SIGKILLed vacuum's abandoned lock is reclaimed (grace is
  *     lowered to 3 s in the spawned JVMs) and restores keep landing.
  *
  * Every spawned JVM runs the kit's compressed clock
  * ([[Race.CompressedClock]]); the checks, spawner, waits and session
  * come from the harness kit [[Race]].
  *
  * Run:
  *   CLASSES=main:test dev/run_main.sh graft.tools.RestoreRace /tmp/rrace_out
  *
  * Artifact: `dev/sweeps/r15_restore_race.txt`.
  */
object RestoreRace {

  import Race.{CompressedClock, check, spawn}

  private def audit(spark: org.apache.spark.sql.SparkSession, dir: String,
      phase: String): Unit = {
    val snaps = VersionedTable.snapshots(spark, dir)
    check(snaps.nonEmpty && snaps.last.version ==
      VersionedTable.latest(spark, dir).get.version,
      s"$phase: chain resolves (${snaps.size} retained versions)")
    Race.checkRetained(dir, phase, "file", snaps.flatMap(_.files))
    // visible appended groups stay atomic (50 rows each) even though
    // restores rewind history — a swept live file would break this
    val df = VersionedTable.read(spark, dir)
    val bad = df.groupBy("v").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .filter { case (g, n) => g.startsWith("w") && n != 50L }
    check(bad.isEmpty,
      s"$phase: every visible append is COMPLETE (bad=" +
        s"${bad.take(3).mkString(",")})")
  }

  def main(args: Array[String]): Unit = {
    val outDir = Race.outDir(args, "graft-rrace")
    val dir = outDir.resolve("table").toString
    val spark = Race.session(cpus = 4)
    import spark.implicits._

    println(s"[rrace] table=$dir")
    VersionedTable.create(
      (0L until 400L).map(i => (i, s"base$i")).toDF("id", "v"),
      dir, Seq("id"))
    // seed history so the restore loop has targets immediately
    (0 until 4).foreach(i => VersionedTable.append(
      (0L until 50L).map(k => (5000000L + i * 1000L + k, s"w9-$i"))
        .toDF("id", "v"), dir, Seq("id")))

    // ---- phase 1: appender + restore loop vs a LIVE vacuum loop ----
    println("[rrace] phase 1: appender + restore loop vs looping vacuum")
    val barrier = outDir.resolve("barrier")
    val stop1 = outDir.resolve("stop1")
    val vstop1 = outDir.resolve("vstop1")
    val wLog = outDir.resolve("w0.jsonl")
    val writer = spawn(outDir, "w0", "graft.tools.RaceWriter",
      Seq(dir, "0", "append", "18", wLog.toString, barrier.toString),
      CompressedClock)
    val rLog = outDir.resolve("restore.jsonl")
    val restorer = spawn(outDir, "restore", "graft.tools.RestoreLoop",
      Seq(dir, stop1.toString, rLog.toString), CompressedClock)
    val (vac, vLog) = Race.spawnVacuum(outDir, "vacuum", dir, vstop1, 150,
      CompressedClock)
    Thread.sleep(500)
    Files.write(barrier, Array.emptyByteArray)
    check(writer.waitFor() == 0, "phase1: appender exited 0")
    // let restores keep colliding with vacuum for a while after the
    // appender drains, then stop the loops
    Thread.sleep(8000)
    Files.write(stop1, Array.emptyByteArray)
    check(restorer.waitFor() == 0,
      "phase1: restore loop exited 0 (zero violations)")
    Files.write(vstop1, Array.emptyByteArray)
    check(vac.waitFor() == 0, "phase1: vacuum loop exited 0")
    val rOk = Race.events(rLog, "restored").size
    val rTyped = Race.events(rLog, "typed").size
    val rViol = Race.events(rLog, "violation").size
    check(rOk >= 8 && rViol == 0,
      s"phase1: $rOk restores landed and re-read exactly across sweep " +
        s"windows, $rViol violations ($rTyped typed race losses)")
    val sweeps = Race.events(vLog, "sweep")
    val deleted = sweeps.flatMap(_.get("deleted")).map(_.toLong).sum
    check(sweeps.size >= 20 && deleted >= 1,
      s"phase1: vacuum swept ${sweeps.size} times, reclaimed $deleted " +
        "dead files DURING the restore race")
    val vErrs = Race.events(vLog, "error")
    check(vErrs.isEmpty,
      s"phase1: vacuum saw no errors (${vErrs.take(2).mkString(";")})")
    audit(spark, dir, "phase1")

    // ---- phase 2: SIGKILL the vacuum mid-sweep; the abandoned lock
    // must be reclaimed and restores must keep landing ----
    println("[rrace] phase 2: SIGKILL vacuum mid-activity; restores continue")
    val stop2 = outDir.resolve("stop2")
    val rLog2 = outDir.resolve("restore2.jsonl")
    val restorer2 = spawn(outDir, "restore2", "graft.tools.RestoreLoop",
      Seq(dir, stop2.toString, rLog2.toString), CompressedClock)
    val wLog2 = outDir.resolve("w1.jsonl")
    val writer2 = spawn(outDir, "w1", "graft.tools.RaceWriter",
      Seq(dir, "1", "append", "14", wLog2.toString, barrier.toString),
      CompressedClock)
    check(Race.killVacuum(outDir, "vacuum2", dir, CompressedClock) == 137,
      "phase2: vacuum JVM SIGKILLed mid-activity")
    def restored() = Race.events(rLog2, "restored").size
    val okAtKill = restored()
    // if the kill landed inside the locked window, the next restores
    // must wait out the 3 s grace, reclaim, and proceed
    Race.await("two restores after the kill", pollMs = 100)(
      restored() >= okAtKill + 2)
    val okAfter = restored()
    check(okAfter >= okAtKill + 2,
      s"phase2: restores kept landing after the kill " +
        s"($okAtKill before, $okAfter after — abandoned lock reclaimed)")
    check(writer2.waitFor() == 0, "phase2: appender exited 0")
    Files.write(stop2, Array.emptyByteArray)
    check(restorer2.waitFor() == 0,
      "phase2: restore loop exited 0 (zero violations across the kill)")
    // a fresh vacuum completes whatever the kill interrupted
    val (rcF, vLogF) = Race.finalSweep(outDir, dir, CompressedClock)
    check(rcF == 0, "phase2: post-kill vacuum swept cleanly")
    val vErrsF = Race.events(vLogF, "error")
    check(vErrsF.isEmpty,
      s"phase2: post-kill vacuum saw no errors " +
        s"(${vErrsF.take(2).mkString(";")})")
    audit(spark, dir, "phase2")

    Race.finish("rrace", spark)
  }
}

/** Restore-looping process for [[RestoreRace]]: every ~250 ms, pick the
  * second-newest retained version, record its row count, restore it,
  * and verify the restored latest re-reads with EXACTLY that count —
  * immediately and again after sleeping across a vacuum sweep interval
  * (the window in which a non-serialized vacuum would have swept the
  * resurrected files). Race losses must be TYPED; any FileNotFound or
  * count drift is a violation.
  */
object RestoreLoop {
  def main(args: Array[String]): Unit = {
    val Array(dir, stopPath, logPath) = args.take(3)
    val spark = Race.session()
    val log = Race.logWriter(logPath)
    var violations = 0
    while (!Files.exists(Paths.get(stopPath))) {
      try {
        val snaps = VersionedTable.snapshots(spark, dir)
        if (snaps.size >= 3) {
          val target = snaps(snaps.size - 2)
          val before =
            VersionedTable.snapshotAt(spark, dir, target.version).count()
          val restored =
            try Some(VersionedTable.restore(spark, dir, target.version))
            catch {
              case _: graft.sources.ConcurrentCommitException =>
                log.println(s"""{"event":"typed","kind":"concurrent"}""")
                None
              case e: RuntimeException
                  if String.valueOf(e.getMessage).contains("no version") ||
                    String.valueOf(e.getMessage).contains("vacuumed") =>
                log.println(s"""{"event":"typed","kind":"gone"}""")
                None
            }
          restored.foreach { s =>
            val c1 =
              VersionedTable.snapshotAt(spark, dir, s.version).count()
            Thread.sleep(400) // across at least one vacuum sweep interval
            val c2 =
              VersionedTable.snapshotAt(spark, dir, s.version).count()
            if (c1 == before && c2 == c1)
              log.println(s"""{"event":"restored","version":${s.version},"rows":$c1}""")
            else {
              violations += 1
              log.println(s"""{"event":"violation","kind":"drift","before":$before,"c1":$c1,"c2":$c2}""")
            }
          }
        }
      } catch {
        case e: Throwable =>
          violations += 1
          log.println(Race.errorLine("violation", e))
      }
      Thread.sleep(250)
    }
    log.close()
    spark.stop()
    sys.exit(if (violations == 0) 0 else 1)
  }
}
