package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Multi-process race of [[VersionedTable.vacuum]]/[[vacuumOrphans]]
  * against live writers and readers (round-14, verdict item 1 — the
  * last maintenance op outside the multi-JVM race, and the only one
  * whose failure class is unrecoverable data loss, since vacuum DELETES
  * data files from a point-in-time live-set computation).
  *
  * Independent JVMs sharing nothing but the filesystem:
  *   - two appenders + one merge/compact mixer ([[RaceWriter]] modes
  *     `append`/`mixed`) — compaction/merge rewrites create DEAD files
  *     for vacuum to reclaim while the writers keep committing;
  *   - one copy-on-write DML writer (mode `dml`) whose UPDATE carries
  *     every clean file BY REFERENCE — the exact interaction the
  *     live-set must always cover;
  *   - a reader ([[VacuumReader]]) that loops: resolve the chain,
  *     audit per-append atomicity from CONTENT (every appended group
  *     has exactly its 50 rows — history-independent, since vacuum
  *     trims the operation history), and HOLD a resolved snapshot
  *     across a sleep before re-counting it (the stale-file-list
  *     reader);
  *   - a vacuum JVM ([[VacuumLoop]]) sweeping every ~300 ms with
  *     `retainVersions = 12`.
  *
  * Phase 2 SIGKILLs the vacuum JVM twice at arbitrary instants while
  * writers race, then proves the chain still resolves, answers match
  * the closed form, the version sequence has at most the one mid-sweep
  * gap (newest-first deletion's invariant), and a fresh vacuum
  * completes the interrupted sweep. Phase 3 proves the loud-failure
  * contract: a reader holding a resolved file list PAST retention hits
  * FileNotFound (never a silently wrong answer), a vacuumed version
  * raises "no version", and a fresh read stays correct.
  *
  * Clocks: phase 3 vacuums in this JVM right after its own commits, so
  * it zeroes the manifest-age grace here first. The spawned JVMs keep
  * the production grace: under the kit's compressed clock
  * ([[Race.CompressedClock]]) the phase-1 vacuum drops a version 2 s
  * after 12 newer ones land, inside a CoW merge that still reads its
  * files, and the merge fails with FileNotFound. The checks, spawner,
  * waits and session come from the harness kit [[Race]].
  *
  * Run:
  *   CLASSES=main:test dev/run_main.sh graft.tools.VacuumRace /tmp/vrace_out
  *
  * Artifact: `dev/sweeps/r14_vacuum_race.txt`.
  */
object VacuumRace {

  import Race.check

  /** Row-count closed form from writer logs: base + 50 per append
    * commit (merge/update/compact are row-preserving by construction).
    */
  private def expectedRows(base: Long, logs: Seq[Path]): Long =
    base + 50L * logs.flatMap(Race.events(_, "commit"))
      .count(_.get("op").contains("append"))

  /** Audit the table against logs: closed-form count, per-append
    * atomicity from content, at-most-one version gap, every file the
    * retained manifests reference present on disk.
    */
  private def audit(spark: org.apache.spark.sql.SparkSession, dir: String,
      base: Long, logs: Seq[Path], phase: String): Unit = {
    val snaps = VersionedTable.snapshots(spark, dir)
    val vs = snaps.map(_.version)
    val gaps = vs.zip(vs.drop(1)).count { case (a, b) => b != a + 1 }
    check(gaps <= 1,
      s"$phase: version sequence has at most the one mid-sweep gap " +
        s"(${vs.headOption.getOrElse(-1L)}..${vs.lastOption.getOrElse(-1L)}, " +
        s"$gaps gaps)")
    val df = VersionedTable.read(spark, dir)
    val groups = df.groupBy("v").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val wGroups = groups.filter(_._1.startsWith("w"))
    check(wGroups.forall(_._2 == 50L),
      s"$phase: every visible append is COMPLETE (50 rows; worst=" +
        s"${wGroups.sortBy(_._2).headOption.getOrElse(("-", -1L))})")
    val total = groups.map(_._2).sum
    val exp = expectedRows(base, logs)
    check(total == exp,
      s"$phase: row count $total == closed form $exp " +
        s"(base $base + 50 x appends)")
    Race.checkRetained(dir, phase, "file", snaps.flatMap(_.files))
    val errs = logs.flatMap(Race.events(_, "error"))
    check(errs.isEmpty,
      s"$phase: writers saw only typed conflicts, never errors " +
        s"(${errs.take(2).mkString(";")})")
  }

  def main(args: Array[String]): Unit = {
    val outDir = Race.outDir(args, "graft-vrace")
    val dir = outDir.resolve("table").toString
    val spark = Race.session(cpus = 4)
    import spark.implicits._

    val BaseRows = 1000L
    println(s"[vrace] table=$dir")
    VersionedTable.create(
      (0L until BaseRows).map(i => (i, s"base$i")).toDF("id", "v"),
      dir, Seq("id"))

    // ---- phase 1: writers + DML + reader race a LIVE vacuum loop ----
    println("[vrace] phase 1: 3 writers + CoW-DML + reader vs looping vacuum")
    val barrier = outDir.resolve("barrier")
    val stop1 = outDir.resolve("stop1")
    val vstop1 = outDir.resolve("vstop1")
    val wLogs = Seq("w0" -> "append", "w1" -> "mixed", "w2" -> "dml")
      .zipWithIndex.map { case ((n, mode), i) =>
        val log = outDir.resolve(s"$n.jsonl")
        val iters = if (mode == "dml") "12" else "20"
        (Race.spawn(outDir, n, "graft.tools.RaceWriter",
          Seq(dir, i.toString, mode, iters, log.toString, barrier.toString)),
          log)
      }
    val rLog1 = outDir.resolve("reader1.jsonl")
    val reader1 = Race.spawn(outDir, "reader1", "graft.tools.VacuumReader",
      Seq(dir, stop1.toString, rLog1.toString, BaseRows.toString))
    val (vac1, vLog1) = Race.spawnVacuum(outDir, "vacuum1", dir, vstop1, 300)
    Thread.sleep(500)
    Files.write(barrier, Array.emptyByteArray)
    wLogs.zipWithIndex.foreach { case ((p, _), i) =>
      val rc = p.waitFor()
      check(rc == 0, s"phase1: writer$i exited 0 (got $rc)")
    }
    // let the vacuum catch up to the final state, then stop it
    Thread.sleep(1500)
    Files.write(vstop1, Array.emptyByteArray)
    check(vac1.waitFor() == 0, "phase1: vacuum loop exited 0")
    Files.write(stop1, Array.emptyByteArray)
    check(reader1.waitFor() == 0,
      "phase1: reader exited 0 (no violation, no FNF within retention)")
    val rChecks = Race.events(rLog1, "check").size
    val rHolds = Race.events(rLog1, "held").size
    val rViol = Race.events(rLog1, "violation").size
    check(rChecks >= 15 && rViol == 0,
      s"phase1: reader audited $rChecks committed snapshots, $rViol violations")
    check(rHolds >= 5,
      s"phase1: reader re-read $rHolds HELD snapshots across the sweep window")
    val sweeps1 = Race.events(vLog1, "sweep")
    val deleted1 = sweeps1.flatMap(_.get("deleted")).map(_.toLong).sum
    check(sweeps1.size >= 10 && deleted1 >= 1,
      s"phase1: vacuum swept ${sweeps1.size} times and reclaimed " +
        s"$deleted1 dead files DURING the race")
    val vErrs1 = Race.events(vLog1, "error")
    check(vErrs1.isEmpty,
      s"phase1: vacuum loop hit no errors (${vErrs1.take(2).mkString(";")})")
    audit(spark, dir, BaseRows, wLogs.map(_._2), "phase1")

    // ---- phase 2: SIGKILL the vacuum JVM twice mid-activity ----
    println("[vrace] phase 2: SIGKILL the vacuum JVM at arbitrary instants, twice")
    val wLogs2 = Seq("w3" -> "append", "w4" -> "dml").zipWithIndex.map {
      case ((n, mode), i) =>
        val log = outDir.resolve(s"$n.jsonl")
        val iters = if (mode == "dml") "8" else "12"
        (Race.spawn(outDir, n, "graft.tools.RaceWriter",
          Seq(dir, (3 + i).toString, mode, iters, log.toString,
            barrier.toString)), log)
    }
    (1 to 2).foreach { k =>
      val rc = Race.killVacuum(outDir, s"vacuum2$k", dir)
      check(rc == 137, s"phase2: vacuum JVM $k SIGKILLed mid-activity (got $rc)")
      // the chain must resolve and answer correctly IMMEDIATELY after
      val snaps = VersionedTable.snapshots(spark, dir)
      check(snaps.nonEmpty && snaps.last.version ==
        VersionedTable.latest(spark, dir).get.version,
        s"phase2: chain resolves right after kill $k " +
          s"(${snaps.size} versions)")
    }
    wLogs2.zipWithIndex.foreach { case ((p, _), i) =>
      val rc = p.waitFor()
      check(rc == 0, s"phase2: writer${3 + i} exited 0 (got $rc)")
    }
    // a fresh vacuum completes whatever the kills interrupted
    check(Race.finalSweep(outDir, dir)._1 == 0,
      "phase2: post-kill vacuum completed the interrupted sweep cleanly")
    audit(spark, dir, BaseRows, (wLogs ++ wLogs2).map(_._2), "phase2")

    // ---- phase 3: past-retention readers fail LOUDLY, never wrong ----
    println("[vrace] phase 3: stale resolved file list past retention")
    // this JVM commits and vacuums within seconds: with the production
    // manifest-age grace no version would leave retention
    VersionedTable.vacuumManifestGraceMs = 0L
    // hold a resolved file list for the CURRENT latest...
    val held = VersionedTable.read(spark, dir)
    val heldTotal = expectedRows(BaseRows, (wLogs ++ wLogs2).map(_._2))
    // ...then rewrite the base files (CoW) and push the held version
    // out of the retention window
    VersionedTable.update(spark, dir, col("id") < 50L,
      Map("v" -> lit("post-race")))
    val minBefore = VersionedTable.snapshots(spark, dir).head.version
    (1 to 13).foreach(i => VersionedTable.append(
      Seq((90000000L + i, s"tail$i")).toDF("id", "v"), dir, Seq("id")))
    val reclaimed = VersionedTable.vacuum(spark, dir, retainVersions = 2)
    check(reclaimed >= 1,
      s"phase3: vacuum reclaimed the held version's rewritten files " +
        s"($reclaimed)")
    val loud =
      try { held.count(); None }
      catch { case e: Throwable =>
        Some(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .exists(c => c.isInstanceOf[java.io.FileNotFoundException] ||
            String.valueOf(c.getMessage).contains("does not exist")))
      }
    check(loud.contains(true),
      s"phase3: the stale file list fails LOUDLY (FileNotFound), " +
        s"never a silent wrong answer (got $loud)")
    val freshTotal = VersionedTable.read(spark, dir).count()
    check(freshTotal == heldTotal + 13,
      s"phase3: a fresh read is exact after the loud failure " +
        s"($freshTotal == $heldTotal + 13 tails)")
    val noVersion =
      try { VersionedTable.snapshotAt(spark, dir, minBefore); false }
      catch { case e: RuntimeException => e.getMessage.contains("no version") }
    check(noVersion,
      "phase3: a vacuumed version raises 'no version', not silent data")

    Race.finish("vrace", spark)
  }
}

/** Looping vacuum process for [[VacuumRace]]: sweep + orphan-sweep every
  * `intervalMs` until the stop file appears. Errors are logged, never
  * swallowed — the orchestrator asserts zero.
  */
object VacuumLoop {
  def main(args: Array[String]): Unit = {
    val Array(dir, stopPath, logPath, retainStr, graceStr, intervalStr) =
      args.take(6)
    val spark = Race.session()
    val log = Race.logWriter(logPath)
    var rc = 0
    while (!Files.exists(Paths.get(stopPath))) {
      try {
        val d = VersionedTable.vacuum(spark, dir, retainStr.toInt)
        val o = VersionedTable.vacuumOrphans(spark, dir, graceStr.toLong)
        log.println(s"""{"event":"sweep","deleted":$d,"orphans":$o}""")
      } catch {
        case e: Throwable =>
          log.println(Race.errorLine("error", e))
          rc = 1
      }
      Thread.sleep(intervalStr.toLong)
    }
    log.close()
    spark.stop()
    sys.exit(rc)
  }
}

/** Reader process for [[VacuumRace]]. History-independent audits (vacuum
  * trims the operation history, so [[RaceReader]]'s closed-form-from-
  * history is unusable here): the chain must RESOLVE with at most one
  * mid-sweep version gap; every visible appended group (`v` starting
  * "w") must have exactly its 50 rows — a vacuum that deleted a live
  * file or exposed a partial commit breaks this instantly; and a
  * snapshot HELD across a 700 ms sleep must re-count identically —
  * the stale-resolved-file-list reader vacuum must never strand within
  * retention.
  */
object VacuumReader {
  def main(args: Array[String]): Unit = {
    val Array(dir, stopPath, logPath, baseStr) = args.take(4)
    val baseRows = baseStr.toLong
    val spark = Race.session()
    val log = Race.logWriter(logPath)
    var violations = 0
    var i = 0
    while (!Files.exists(Paths.get(stopPath))) {
      try {
        val snaps = VersionedTable.snapshots(spark, dir)
        if (snaps.nonEmpty) {
          val vs = snaps.map(_.version)
          val gaps = vs.zip(vs.drop(1)).count { case (a, b) => b != a + 1 }
          val df = VersionedTable.snapshotAt(spark, dir, vs.last)
          val groups = df.groupBy("v").count().collect()
            .map(r => (r.getString(0), r.getLong(1)))
          val w = groups.filter(_._1.startsWith("w"))
          val total = groups.map(_._2).sum
          val ok = gaps <= 1 && w.forall(_._2 == 50L) &&
            total == baseRows + 50L * w.length
          if (ok)
            log.println(s"""{"event":"check","version":${vs.last},"rows":$total}""")
          else {
            violations += 1
            log.println(s"""{"event":"violation","version":${vs.last},"rows":$total,"gaps":$gaps}""")
          }
          // every 3rd pass: hold the resolved snapshot across the sweep
          // interval, then re-count — file lists within retention must
          // stay fully readable no matter what vacuum did meanwhile
          if (ok && i % 3 == 0) {
            Thread.sleep(700)
            val again = df.count()
            if (again == total)
              log.println(s"""{"event":"held","version":${vs.last},"rows":$again}""")
            else {
              violations += 1
              log.println(s"""{"event":"violation","kind":"held-drift","was":$total,"now":$again}""")
            }
          }
        }
      } catch {
        case e: Throwable =>
          violations += 1
          log.println(Race.errorLine("violation", e))
      }
      i += 1
      Thread.sleep(120)
    }
    log.close()
    spark.stop()
    sys.exit(if (violations == 0) 0 else 1)
  }
}
