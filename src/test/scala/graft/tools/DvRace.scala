package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Multi-process race of DELETION-VECTOR DML against vacuum, appends,
  * and compaction (round 16 — the race clause of the DV verdict item:
  * vacuum must never sweep a live DV sidecar, and DV commits must
  * compose with the whole maintenance perimeter under kills).
  *
  * Independent JVMs sharing nothing but the filesystem:
  *   - a DV writer ([[DvWriter]] mode `delete`) looping `deleteWithDv`
  *     over distinct residue classes of the base key range — every delete
  *     touches EVERY base file (the CoW worst case DVs exist for),
  *     always on the pure-DV shape (threshold 0.95), rebasing over
  *     concurrent appends and re-running over compaction conflicts;
  *   - a DV-UPDATE writer ([[DvWriter]] mode `update`) looping
  *     `updateWithDv` over a disjoint residue range — each commit both
  *     soft-deletes positions AND appends post-image files, so
  *     vacuum/compaction race against the composite commit shape; the
  *     audit reads every updated class back by VALUE (post-image
  *     marker), not just count;
  *   - an appender ([[RaceWriter]] mode `append`) racing version claims;
  *   - the orchestrator compacting every ~2 s (folds DVs → dead
  *     sidecars for vacuum to reclaim), skipping typed conflicts;
  *   - a reader ([[DvReader]]) auditing, per resolved snapshot, the
  *     manifest-metadata invariant `count(read) == Σ_f (rowCount(f) -
  *     dvn(f))` — a vacuum that swept a live DV sidecar, or a DV
  *     anti-filter that dropped or resurrected a row, breaks it
  *     instantly — plus a HELD snapshot re-counted across the sweep
  *     interval, plus on-disk existence of every retained DV sidecar;
  *   - a vacuum JVM ([[VacuumLoop]], reused) sweeping every ~250 ms.
  *
  * Phase 2 SIGKILLs the vacuum JVM twice mid-sweep while the DV writer
  * and appender keep committing, then proves the chain resolves, a
  * fresh vacuum completes the interrupted sweep, and the final table
  * equals the closed form (base minus every logged residue-class
  * delete, plus every logged append). The checks, spawner, waits and
  * session come from the harness kit [[Race]].
  *
  * Run:
  *   CLASSES=main:test dev/run_main.sh graft.tools.DvRace /tmp/dvrace_out
  *
  * Artifact: `dev/sweeps/r16_dv_race.txt`.
  */
object DvRace {

  import Race.{check, spawn}

  private val BaseRows = 10000L
  private val Mod = 200L // each residue class: 50 base ids across all files

  private def expectedIds(dvLogs: Seq[Path], wLogs: Seq[Path]): Set[Long] = {
    val deletedResidues = dvLogs.flatMap(Race.events(_, "commit"))
      .flatMap(_.get("residue")).map(_.toLong).toSet
    val base = (0L until BaseRows)
      .filterNot(i => deletedResidues.contains(i % Mod)).toSet
    val appended = wLogs.flatMap(Race.readLog)
      .filter(e => e.get("event").contains("commit") &&
        e.get("op").contains("append"))
      .flatMap { e =>
        val wid = e("writer").toLong; val i = e("iter").toLong
        (0L until 50L).map(k => 10000000L * (wid + 1) + i * 1000L + k)
      }.toSet
    base ++ appended
  }

  private def audit(spark: org.apache.spark.sql.SparkSession, dir: String,
      dvLogs: Seq[Path], wLogs: Seq[Path], phase: String,
      upLogs: Seq[Path]): Unit = {
    val snaps = VersionedTable.snapshots(spark, dir)
    val latest = snaps.last
    val got = VersionedTable.read(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    val exp = expectedIds(dvLogs, wLogs)
    check(got == exp,
      s"$phase: table equals the closed form (${got.size} rows; " +
        s"missing=${(exp -- got).take(3).mkString(",")} " +
        s"extra=${(got -- exp).take(3).mkString(",")})")
    // value audit for the merge-on-read UPDATE lane: every surviving
    // base id of an update-committed residue carries the residue's
    // marker (its post-image), every other base id its base value — a
    // lost post-image append, a resurrected pre-image, or a DV applied
    // to the wrong file breaks this instantly
    val updatedResidues = upLogs.flatMap(Race.events(_, "commit"))
      .flatMap(_.get("residue")).map(_.toLong).toSet
    val vals = VersionedTable.read(spark, dir)
      .filter(col("id") < BaseRows)
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val wrong = vals.filter { case (i, v) =>
      val expect =
        if (updatedResidues.contains(i % Mod)) s"u${i % Mod}"
        else s"base$i"
      v != expect
    }
    check(wrong.isEmpty,
      s"$phase: updated residues carry their post-images, others " +
        s"their base values (wrong=${wrong.take(3).mkString(",")})")
    val metaLive = latest.files.map(f =>
      latest.stats.get(f).map(_.rowCount).getOrElse(-1000000L) -
        latest.dvn.getOrElse(f, 0L)).sum
    check(metaLive == got.size.toLong,
      s"$phase: manifest metadata prices live rows exactly " +
        s"($metaLive == ${got.size})")
    Race.checkRetained(dir, phase, "DV sidecar", snaps.flatMap(_.dvFiles))
    val errs = (dvLogs ++ wLogs).flatMap(Race.events(_, "error"))
    check(errs.isEmpty,
      s"$phase: writers saw only typed conflicts, never errors " +
        s"(${errs.take(2).mkString(";")})")
  }

  /** Compact every ~2 s while `until` says the race is live — the fold
    * that turns old DV sidecars into vacuum-reclaimable debris. Typed
    * version-claim losses are expected and skipped.
    */
  private def compactLoop(spark: org.apache.spark.sql.SparkSession,
      dir: String, until: () => Boolean): Int = {
    var folded = 0
    while (until()) {
      Thread.sleep(2000)
      try {
        VersionedTable.compactTable(spark, dir, targetFiles = 8,
          statsCols = Seq("id"))
        folded += 1
      } catch {
        case _: graft.sources.ConcurrentCommitException => // claim lost: fine
      }
    }
    folded
  }

  def main(args: Array[String]): Unit = {
    val outDir = Race.outDir(args, "graft-dvrace")
    val dir = outDir.resolve("table").toString
    val spark = Race.session(cpus = 4)
    import spark.implicits._

    println(s"[dvrace] table=$dir")
    VersionedTable.create(
      (0L until BaseRows).map(i => (i, s"base$i")).toDF("id", "v")
        .repartitionByRange(8, col("id")),
      dir, Seq("id"))

    // ---- phase 1: DV writer + appender + reader vs looping vacuum ----
    println("[dvrace] phase 1: DV deletes + appends + compact-fold vs looping vacuum")
    val barrier = outDir.resolve("barrier")
    val stop1 = outDir.resolve("stop1")
    val vstop1 = outDir.resolve("vstop1")
    val dvLog1 = outDir.resolve("dv1.jsonl")
    val dv1 = spawn(outDir, "dv1", "graft.tools.DvWriter",
      Seq(dir, "delete", "0", "20", dvLog1.toString, barrier.toString))
    val upLog1 = outDir.resolve("up1.jsonl")
    val up1 = spawn(outDir, "up1", "graft.tools.DvWriter",
      Seq(dir, "update", "100", "20", upLog1.toString, barrier.toString))
    val wLog1 = outDir.resolve("w1.jsonl")
    val w1 = spawn(outDir, "w1", "graft.tools.RaceWriter",
      Seq(dir, "0", "append", "20", wLog1.toString, barrier.toString))
    val rLog1 = outDir.resolve("reader1.jsonl")
    val reader1 = spawn(outDir, "reader1", "graft.tools.DvReader",
      Seq(dir, stop1.toString, rLog1.toString))
    val (vac1, vLog1) = Race.spawnVacuum(outDir, "vacuum1", dir, vstop1, 250)
    Thread.sleep(500)
    Files.write(barrier, Array.emptyByteArray)
    val folded1 = compactLoop(spark, dir,
      () => dv1.isAlive || up1.isAlive || w1.isAlive)
    check(dv1.waitFor() == 0, "phase1: DV writer exited 0")
    check(up1.waitFor() == 0, "phase1: DV-update writer exited 0")
    check(w1.waitFor() == 0, "phase1: appender exited 0")
    Thread.sleep(1500)
    Files.write(vstop1, Array.emptyByteArray)
    check(vac1.waitFor() == 0, "phase1: vacuum loop exited 0")
    Files.write(stop1, Array.emptyByteArray)
    check(reader1.waitFor() == 0, "phase1: reader exited 0 (no violation)")
    check(folded1 >= 1, s"phase1: compaction folded DVs $folded1 times " +
      "(dead sidecars created for vacuum)")
    val rChecks1 = Race.events(rLog1, "check").size
    val rHolds1 = Race.events(rLog1, "held").size
    check(rChecks1 >= 10 && rHolds1 >= 3,
      s"phase1: reader audited $rChecks1 snapshots, held-reread $rHolds1")
    val sweeps1 = Race.events(vLog1, "sweep")
    val deleted1 = sweeps1.flatMap(_.get("deleted")).map(_.toLong).sum
    check(sweeps1.size >= 8 && deleted1 >= 1,
      s"phase1: vacuum swept ${sweeps1.size} times, reclaimed $deleted1 " +
        "files (incl. folded DV sidecars) DURING the race")
    audit(spark, dir, Seq(dvLog1), Seq(wLog1), "phase1", Seq(upLog1))

    // ---- phase 2: SIGKILL the vacuum JVM twice mid-activity ----
    println("[dvrace] phase 2: SIGKILL vacuum mid-sweep, twice, under DV load")
    val dvLog2 = outDir.resolve("dv2.jsonl")
    val dv2 = spawn(outDir, "dv2", "graft.tools.DvWriter",
      Seq(dir, "delete", "40", "15", dvLog2.toString, barrier.toString))
    val upLog2 = outDir.resolve("up2.jsonl")
    val up2 = spawn(outDir, "up2", "graft.tools.DvWriter",
      Seq(dir, "update", "140", "15", upLog2.toString, barrier.toString))
    val wLog2 = outDir.resolve("w2.jsonl")
    val w2 = spawn(outDir, "w2", "graft.tools.RaceWriter",
      Seq(dir, "1", "append", "12", wLog2.toString, barrier.toString))
    (1 to 2).foreach { k =>
      val rc = Race.killVacuum(outDir, s"vacuum2$k", dir)
      check(rc == 137, s"phase2: vacuum JVM $k SIGKILLed mid-activity (got $rc)")
      val snaps = VersionedTable.snapshots(spark, dir)
      check(snaps.nonEmpty && snaps.last.version ==
        VersionedTable.latest(spark, dir).get.version,
        s"phase2: chain resolves right after kill $k (${snaps.size} versions)")
    }
    check(dv2.waitFor() == 0, "phase2: DV writer exited 0")
    check(up2.waitFor() == 0, "phase2: DV-update writer exited 0")
    check(w2.waitFor() == 0, "phase2: appender exited 0")
    check(Race.finalSweep(outDir, dir)._1 == 0,
      "phase2: post-kill vacuum completed the interrupted sweep cleanly")
    audit(spark, dir, Seq(dvLog1, dvLog2), Seq(wLog1, wLog2), "phase2",
      Seq(upLog1, upLog2))

    Race.finish("dvrace", spark)
  }
}

/** DV writer for [[DvRace]]. Iteration i runs, on residue class
  * `r0 + i` (mod 200) — 50 base ids scattered across every base file,
  * always sub-threshold (pure DV shape):
  *   - mode `delete`: `deleteWithDv` soft-deletes them;
  *   - mode `update`: the merge-on-read `updateWithDv` gives them the
  *     marker `u<r>` via a DV soft-delete plus a post-image append.
  * The two writers take disjoint residue ranges, so the audit's closed
  * form stays exact: ids never change, and a surviving id of an updated
  * class must read back its marker. Rebases over concurrent appends
  * (key-disjoint by stats); a compaction that rewrote a read file
  * surfaces as [[graft.sources.ConflictingCommitException]] and the
  * WHOLE operation re-runs against the new state (the documented
  * contract), bounded per iteration.
  */
object DvWriter {
  def main(args: Array[String]): Unit = {
    val Array(dir, mode, r0Str, itersStr, logPath, barrierPath) = args.take(6)
    val r0 = r0Str.toLong
    val iters = itersStr.toInt
    val spark = Race.session()
    val log = Race.logWriter(logPath)
    while (!Files.exists(Paths.get(barrierPath))) Thread.sleep(20)
    var rc = 0
    (0 until iters).foreach { i =>
      val r = r0 + i
      val hit = col("id") < 10000L && col("id") % 200L === lit(r)
      var done = false
      var reruns = 0
      while (!done && reruns < 50) {
        try {
          val s =
            if (mode == "delete") VersionedTable.deleteWithDv(spark, dir,
              hit, densityThreshold = 0.95, maxAttempts = 500)
            else VersionedTable.updateWithDv(spark, dir, hit,
              Map("v" -> lit(s"u$r")), densityThreshold = 0.95,
              maxAttempts = 500)
          log.println(s"""{"event":"commit","op":"dv_$mode","residue":$r,"version":${s.version}}""")
          done = true
        } catch {
          case _: graft.sources.ConflictingCommitException =>
            reruns += 1 // compaction rewrote a read file: re-run fresh
          case e: Throwable =>
            log.println(Race.errorLine("error", e))
            rc = 1
            done = true
        }
      }
      if (!done) {
        log.println(s"""{"event":"error","kind":"rerun_budget","residue":$r}""")
        rc = 1
      }
    }
    log.close()
    spark.stop()
    sys.exit(rc)
  }
}

/** Reader for [[DvRace]]: per resolved snapshot, `count(read)` must
  * equal the manifest's own live pricing `Σ_f (rowCount(f) - dvn(f))`
  * (every commit in this harness records id-stats, so rowCount is
  * complete), every retained DV sidecar must exist on disk, and a HELD
  * snapshot re-counted across the sweep interval must not drift.
  */
object DvReader {
  def main(args: Array[String]): Unit = {
    val Array(dir, stopPath, logPath) = args.take(3)
    val spark = Race.session()
    val log = Race.logWriter(logPath)
    var violations = 0
    var i = 0
    while (!Files.exists(Paths.get(stopPath))) {
      try {
        val snaps = VersionedTable.snapshots(spark, dir)
        if (snaps.nonEmpty) {
          val s = snaps.last
          val df = VersionedTable.snapshotAt(spark, dir, s.version)
          val total = df.count()
          val metaLive = s.files.map(f =>
            s.stats.get(f).map(_.rowCount).getOrElse(-1000000L) -
              s.dvn.getOrElse(f, 0L)).sum
          val dvOk = s.dvFiles.forall(f => Files.exists(Paths.get(dir, f)))
          if (total == metaLive && dvOk)
            log.println(s"""{"event":"check","version":${s.version},"rows":$total}""")
          else {
            violations += 1
            log.println(s"""{"event":"violation","version":${s.version},"rows":$total,"meta":$metaLive,"dvOk":$dvOk}""")
          }
          if (total == metaLive && i % 3 == 0) {
            Thread.sleep(700)
            val again = df.count()
            if (again == total)
              log.println(s"""{"event":"held","version":${s.version},"rows":$again}""")
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
      Thread.sleep(150)
    }
    log.close()
    spark.stop()
    sys.exit(if (violations == 0) 0 else 1)
  }
}
