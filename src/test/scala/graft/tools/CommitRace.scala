package graft.tools

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{ConcurrentCommitException, ConflictingCommitException, VersionedTable}

/** Multi-process concurrency + crash-injection stress for the
  * versioned-table commit layer (round-13, verdict item 1).
  *
  * `VersionedTableSpec` proves the ACID contract IN-PROCESS (one JVM,
  * race windows driven through test seams). What that cannot prove is
  * the part the reference outsources to Delta: that the guarantees hold
  * between INDEPENDENT writer processes that share nothing but the
  * filesystem, and that a writer killed with SIGKILL at an arbitrary —
  * or adversarially chosen — instant never corrupts the table, wedges a
  * version, or loses another writer's commit.
  *
  * [[CommitRace]] (the orchestrator main) runs four phases against one
  * on-disk table, spawning real `java` subprocesses (same classpath and
  * `--add-opens` as the launching JVM, each with its own SparkSession):
  *
  *   1. RACE — three writer JVMs (two pure-append, one append/merge/
  *      compact mix) commit concurrently while a reader JVM repeatedly
  *      resolves the latest snapshot and asserts it is a COMMITTED
  *      point: version chain contiguous, row count exactly
  *      `base + rowsPerAppend × (#append commits in that snapshot)` —
  *      a torn or partially-visible commit fails this instantly.
  *   2. KILL-IN-STAGING — a writer is SIGKILLed while staging data
  *      files (before any manifest claim): readers unaffected, its
  *      debris is invisible, `vacuumOrphans` reclaims it, the table
  *      accepts the next commit.
  *   3. KILL-IN-CLAIM-WINDOW — a writer halts (exit 137) between
  *      staging its manifest body and the hard-link publish (the
  *      `commitCrashPoint` seam): no manifest appears (complete or
  *      torn), only an invisible dot-temp, and the version is
  *      immediately claimable by the next writer.
  *   4. TORN-CLAIM REPAIR — a hand-planted terminator-less manifest
  *      (the HDFS-path crash class) blocks its version while fresh,
  *      is skipped by readers, and is reclaimed by the next writer
  *      once older than the grace.
  *
  * After each phase an audit asserts, from the table + per-writer
  * JSONL logs: versions contiguous from 1; every committed version
  * claimed by EXACTLY one writer success record (kills may leave
  * unclaimed commits, bounded by the kill count); no writer believes
  * it committed a version the table does not have (lost commit); final
  * row count equals the closed form; losers surfaced only as
  * `ConcurrentCommitException`/`ConflictingCommitException` (logged,
  * never corruption). The checks, spawner, waits and session come from
  * the harness kit [[Race]]. Run:
  *
  *   CLASSES=main:test dev/run_main.sh graft.tools.CommitRace /tmp/race_out
  *
  * Artifact: `dev/sweeps/r13_commit_race.txt`.
  */
object CommitRace {

  import Race.{check, readLog, spawn}

  /** Audit the table + writer logs after a phase. `allowUnclaimed`
    * bounds committed-but-unclaimed versions (a writer killed after
    * publish but before logging its success).
    */
  private def audit(spark: SparkSession, dir: String, baseRows: Long,
      rowsPerAppend: Long, logs: Seq[Path], allowUnclaimed: Int,
      phase: String): Unit = {
    val snaps = VersionedTable.snapshots(spark, dir)
    val versions = snaps.map(_.version)
    check(versions == (1L to versions.size.toLong),
      s"$phase: version chain contiguous 1..${versions.size}")
    val nAppends = snaps.count(_.operation == "append")
    val expected = baseRows + rowsPerAppend * nAppends
    val actual = VersionedTable.read(spark, dir).count()
    check(actual == expected,
      s"$phase: row count $actual == base $baseRows + " +
        s"$rowsPerAppend x $nAppends appends")
    val events = logs.flatMap(readLog)
    val commits = events.filter(_.get("event").contains("commit"))
    val claimed = commits.flatMap(_.get("version")).map(_.toLong)
    check(claimed.distinct.size == claimed.size,
      s"$phase: no version claimed by two writer success records")
    val committedSet = versions.toSet
    val lost = claimed.filterNot(committedSet)
    check(lost.isEmpty,
      s"$phase: no lost commits (writer-claimed versions all " +
        s"committed; lost=${lost.mkString(",")})")
    val orchestratorOps = Set("create", "torn-repair-append")
    val unclaimed = snaps.filterNot(s =>
      claimed.contains(s.version) || orchestratorOps.contains(s.operation))
    check(unclaimed.size <= allowUnclaimed,
      s"$phase: unclaimed committed versions ${unclaimed.size} <= " +
        s"$allowUnclaimed (kills)")
    val conflicts = events.count(_.get("event").contains("conflict"))
    val errors = events.filter(_.get("event").contains("error"))
    check(errors.isEmpty,
      s"$phase: losers surfaced only as conflict exceptions " +
        s"($conflicts conflicts, errors=${errors.mkString(";")})")
  }

  def main(args: Array[String]): Unit = {
    val outDir = Race.outDir(args, "graft-race")
    val dir = outDir.resolve("table").toString
    val spark = Race.session(cpus = 4)
    import spark.implicits._

    val BaseRows = 1000L
    val RowsPerAppend = 50L

    println(s"[race] table=$dir")
    VersionedTable.create(
      (0L until BaseRows).map(i => (i, s"base$i")).toDF("id", "v"),
      dir, Seq("id"))

    // ---- phase 1: three racing writers + snapshot-isolation reader ----
    println("[race] phase 1: 3 concurrent writer JVMs + reader JVM")
    val barrier = outDir.resolve("barrier")
    val stop = outDir.resolve("stop")
    val wLogs = (0 to 2).map(w => outDir.resolve(s"writer$w.jsonl"))
    val rLog = outDir.resolve("reader.jsonl")
    val writers = Seq(
      spawn(outDir, "writer0", "graft.tools.RaceWriter",
        Seq(dir, "0", "append", "20", wLogs(0).toString, barrier.toString)),
      spawn(outDir, "writer1", "graft.tools.RaceWriter",
        Seq(dir, "1", "append", "20", wLogs(1).toString, barrier.toString)),
      spawn(outDir, "writer2", "graft.tools.RaceWriter",
        Seq(dir, "2", "mixed", "20", wLogs(2).toString, barrier.toString)))
    val reader = spawn(outDir, "reader", "graft.tools.RaceReader",
      Seq(dir, stop.toString, rLog.toString, BaseRows.toString,
        RowsPerAppend.toString))
    Thread.sleep(500)
    Files.write(barrier, Array.emptyByteArray)
    writers.zipWithIndex.foreach { case (p, i) =>
      val rc = p.waitFor()
      check(rc == 0, s"phase1: writer$i exited 0 (got $rc)")
    }
    Files.write(stop, Array.emptyByteArray)
    check(reader.waitFor() == 0, "phase1: reader exited 0 (no isolation violation)")
    val readerChecks = readLog(rLog)
    val rOk = readerChecks.count(_.get("event").contains("check"))
    val rBad = readerChecks.count(_.get("event").contains("violation"))
    check(rOk >= 20 && rBad == 0,
      s"phase1: reader observed $rOk committed snapshots, $rBad violations")
    audit(spark, dir, BaseRows, RowsPerAppend, wLogs, allowUnclaimed = 0,
      "phase1")

    // ---- phase 1b: SIGKILL racing writers at ARBITRARY instants ----
    // phases 2/3 kill at CHOSEN windows (staging, claim); this kills
    // two ACTIVELY RACING writers at uncorrelated moments — whatever
    // they happen to be doing (scanning, staging, claiming, logging) —
    // and requires the survivors + audit invariants to hold. A writer
    // killed after publish but before logging its success leaves an
    // unclaimed committed version, bounded by the kill count.
    println("[race] phase 1b: SIGKILL two racing writers mid-flight")
    val bLogs = (3 to 5).map(w => outDir.resolve(s"writer$w.jsonl"))
    val rLog2 = outDir.resolve("reader1b.jsonl")
    val stop2 = outDir.resolve("stop1b")
    val bWriters = (3 to 5).map(w =>
      spawn(outDir, s"writer$w", "graft.tools.RaceWriter",
        Seq(dir, w.toString, if (w == 5) "mixed" else "append", "40",
          bLogs(w - 3).toString, barrier.toString)))
    val reader2 = spawn(outDir, "reader1b", "graft.tools.RaceReader",
      Seq(dir, stop2.toString, rLog2.toString, BaseRows.toString,
        RowsPerAppend.toString))
    // kill each target once it has demonstrably raced (>=3 commits) —
    // it is then mid-flight in whatever its 4th+ operation happens to
    // be doing when the SIGKILL lands
    def killMidFlight(idx: Int): Int = {
      Race.await(s"writer${idx + 3}'s 3rd commit", pollMs = 25)(
        Race.events(bLogs(idx), "commit").size >= 3)
      bWriters(idx).destroyForcibly()
      bWriters(idx).waitFor()
    }
    val k1 = killMidFlight(0)
    val k2 = killMidFlight(1)
    check(k1 == 137 && k2 == 137,
      s"phase1b: both racing writers SIGKILLed mid-flight (exit $k1/$k2)")
    check(bWriters(2).waitFor() == 0, "phase1b: surviving writer exited 0")
    Files.write(stop2, Array.emptyByteArray)
    check(reader2.waitFor() == 0,
      "phase1b: reader saw only committed snapshots through both kills")
    audit(spark, dir, BaseRows, RowsPerAppend, wLogs ++ bLogs,
      allowUnclaimed = 2, "phase1b")

    // ---- phase 2: SIGKILL while staging data files ----
    println("[race] phase 2: SIGKILL a writer mid-staging")
    val v2 = VersionedTable.latest(spark, dir).get.version
    val stallLog = outDir.resolve("stall.jsonl")
    val stallBarrier = outDir.resolve("barrier2")
    Files.write(stallBarrier, Array.emptyByteArray)
    val stall = spawn(outDir, "stall", "graft.tools.RaceWriter",
      Seq(dir, "7", "stall", "1", stallLog.toString, stallBarrier.toString))
    Race.await("the stall writer's staged event")(
      Race.events(stallLog, "staged").nonEmpty)
    check(Race.events(stallLog, "staged").nonEmpty,
      "phase2: stall writer reached the staged window")
    stall.destroyForcibly() // SIGKILL
    stall.waitFor()
    check(VersionedTable.latest(spark, dir).get.version == v2,
      "phase2: killed writer left no manifest")
    check(VersionedTable.read(spark, dir).count() ==
      BaseRows + RowsPerAppend *
        VersionedTable.snapshots(spark, dir).count(_.operation == "append"),
      "phase2: reads unaffected by the kill")
    // its staged subdir is debris; orphan vacuum reclaims it
    val dataDir = Paths.get(dir, "data")
    def subdirs() = scala.jdk.CollectionConverters
      .IteratorHasAsScala(Files.list(dataDir).iterator()).asScala.size
    val before = subdirs()
    val reclaimed = VersionedTable.vacuumOrphans(spark, dir, graceMs = 0L)
    check(reclaimed > 0 && subdirs() < before,
      s"phase2: vacuumOrphans reclaimed the kill debris " +
        s"($reclaimed files, $before -> ${subdirs()} subdirs)")
    check(VersionedTable.read(spark, dir).count() ==
      BaseRows + RowsPerAppend *
        VersionedTable.snapshots(spark, dir).count(_.operation == "append"),
      "phase2: row count unchanged after vacuum")

    // ---- phase 3: halt(137) between manifest-body staging and publish ----
    println("[race] phase 3: halt in the claim window (commitCrashPoint)")
    val v3 = VersionedTable.latest(spark, dir).get.version
    val crashLog = outDir.resolve("crash.jsonl")
    val crash = spawn(outDir, "crash", "graft.tools.RaceWriter",
      Seq(dir, "8", "crashcommit", "1", crashLog.toString,
        stallBarrier.toString))
    val crc = crash.waitFor()
    check(crc == 137, s"phase3: crash writer halted with 137 (got $crc)")
    check(VersionedTable.latest(spark, dir).get.version == v3,
      "phase3: no manifest (complete or torn) from the halted writer")
    val mdir = Paths.get(dir, "_manifests")
    def manifestTemps() = scala.jdk.CollectionConverters
      .IteratorHasAsScala(Files.list(mdir).iterator()).asScala
      .filter(p => p.getFileName.toString.startsWith(".") &&
        p.getFileName.toString.endsWith(".tmp")).toSeq
    check(manifestTemps().nonEmpty,
      "phase3: halted writer stranded only an invisible dot-temp")
    VersionedTable.vacuumOrphans(spark, dir, graceMs = 0L)
    check(manifestTemps().isEmpty,
      "phase3: vacuumOrphans swept the manifest temp")
    // the version the halted writer was about to claim is still free
    VersionedTable.append(
      (0L until RowsPerAppend).map(i => (5000000L + i, "post-crash"))
        .toDF("id", "v"), dir, Seq("id"))
    check(VersionedTable.latest(spark, dir).get.version == v3 + 1,
      "phase3: version immediately claimable after the halt")

    // ---- phase 4: torn-claim repair across processes ----
    println("[race] phase 4: stale torn claim reclaimed by a writer JVM")
    val v4 = VersionedTable.latest(spark, dir).get.version
    val torn = mdir.resolve(f"v${v4 + 1}%08d.manifest")
    Files.write(torn,
      "version=%d\ntimestamp=1\noperation=append\n".format(v4 + 1)
        .getBytes("UTF-8"),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    check(VersionedTable.latest(spark, dir).get.version == v4,
      "phase4: readers skip the torn claim")
    Files.setLastModifiedTime(torn,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000))
    val healLog = outDir.resolve("heal.jsonl")
    val heal = spawn(outDir, "heal", "graft.tools.RaceWriter",
      Seq(dir, "9", "append", "1", healLog.toString, stallBarrier.toString),
      extraJvm = Seq("-Dgraft.vt.tornGraceMs=60000"))
    check(heal.waitFor() == 0, "phase4: healing writer exited 0")
    val healed = VersionedTable.snapshots(spark, dir)
    check(healed.map(_.version) == (1L to healed.size.toLong) &&
      healed.last.version > v4,
      s"phase4: torn claim reclaimed, chain contiguous to ${healed.last.version}")

    // final audit over everything: unclaimed-commit budget = the two
    // phase-1b mid-race kills + the orchestrator's own phase-3 append
    audit(spark, dir, BaseRows, RowsPerAppend,
      wLogs ++ bLogs ++ Seq(healLog), allowUnclaimed = 3, "final")

    Race.finish("race", spark)
  }
}

/** One independent writer process for [[CommitRace]] — its own JVM and
  * SparkSession; coordinates with siblings only through the filesystem.
  */
object RaceWriter {
  def main(args: Array[String]): Unit = {
    val Array(dir, widStr, mode, itersStr, logPath, barrierPath) = args.take(6)
    val wid = widStr.toInt
    val iters = itersStr.toInt
    val spark = Race.session()
    import spark.implicits._
    val log = Race.logWriter(logPath)
    def ev(fields: (String, Any)*): Unit =
      log.println(fields.map { case (k, v) => v match {
        case s: String => s""""$k":"$s""""
        case other => s""""$k":$other"""
      }}.mkString("{", ",", "}"))

    while (!Files.exists(Paths.get(barrierPath))) Thread.sleep(20)

    def appendDf(i: Int) =
      (0L until 50L).map(k => (10000000L * (wid + 1) + i * 1000L + k,
        s"w$wid-$i")).toDF("id", "v")

    var rc = 0
    (0 until iters).foreach { i =>
      try {
        mode match {
          case "append" =>
            ev("event" -> "intent", "writer" -> wid, "iter" -> i,
              "op" -> "append")
            val s = VersionedTable.appendWithRetry(appendDf(i), dir,
              Seq("id"), mergeSchema = false, maxAttempts = 500)
            ev("event" -> "commit", "writer" -> wid, "iter" -> i,
              "op" -> "append", "version" -> s.version)
          case "mixed" =>
            if (i % 5 == 4) {
              // update-only merge over base keys (no inserts: row count
              // is the reader's invariant)
              ev("event" -> "intent", "writer" -> wid, "iter" -> i,
                "op" -> "merge")
              val upd = (0L until 50L).map(k => (k, s"m$wid-$i"))
                .toDF("id", "v")
              val s = VersionedTable.merge(upd, dir, Seq("id"),
                Seq("id"), maxAttempts = 500)
              ev("event" -> "commit", "writer" -> wid, "iter" -> i,
                "op" -> "merge", "version" -> s.version)
            } else if (i % 7 == 6) {
              ev("event" -> "intent", "writer" -> wid, "iter" -> i,
                "op" -> "compact")
              val s = VersionedTable.compactTable(spark, dir,
                targetFiles = 8, statsCols = Seq("id"))
              ev("event" -> "commit", "writer" -> wid, "iter" -> i,
                "op" -> "compact", "version" -> s.version)
            } else {
              ev("event" -> "intent", "writer" -> wid, "iter" -> i,
                "op" -> "append")
              val s = VersionedTable.appendWithRetry(appendDf(i), dir,
                Seq("id"), mergeSchema = false, maxAttempts = 500)
              ev("event" -> "commit", "writer" -> wid, "iter" -> i,
                "op" -> "append", "version" -> s.version)
            }
          case "dml" =>
            // copy-on-write UPDATE over the base key range (id < 50):
            // with id-stats on every file, append files (ids >= 10M) are
            // carried BY REFERENCE — the exact interaction [[VacuumRace]]
            // races against a concurrent vacuum, whose live-set must
            // cover carried files at every instant. Row count invariant.
            ev("event" -> "intent", "writer" -> wid, "iter" -> i,
              "op" -> "update")
            val s = VersionedTable.update(spark, dir,
              col("id") < 50L, Map("v" -> lit(s"dml$wid-$i")),
              maxAttempts = 500)
            ev("event" -> "commit", "writer" -> wid, "iter" -> i,
              "op" -> "update", "version" -> s.version)
          case "compact" =>
            // maintenance loop for StreamMaintRace: repeated compactions
            // racing a streaming ingest in another JVM
            ev("event" -> "intent", "writer" -> wid, "iter" -> i,
              "op" -> "compact")
            val s = VersionedTable.compactTable(spark, dir,
              targetFiles = 4, statsCols = Seq.empty)
            ev("event" -> "commit", "writer" -> wid, "iter" -> i,
              "op" -> "compact", "version" -> s.version)
            Thread.sleep(150)
          case "stall" =>
            // park in the staged-but-unclaimed window; the orchestrator
            // SIGKILLs us here
            VersionedTable.write(appendDf(i), dir, "append",
              VersionedTable.latest(spark, dir), Seq("id"),
              onStaged = () => {
                ev("event" -> "staged", "writer" -> wid)
                Thread.sleep(120000)
              })
          case "crashcommit" =>
            // halt exactly between manifest-body staging and the
            // hard-link publish — the adversarial kill placement
            VersionedTable.commitCrashPoint = () => {
              ev("event" -> "claimwindow", "writer" -> wid)
              log.flush()
              Runtime.getRuntime.halt(137)
            }
            VersionedTable.append(appendDf(i), dir, Seq("id"))
        }
      } catch {
        case e @ (_: ConcurrentCommitException |
                  _: ConflictingCommitException) =>
          // the legal loss mode: surfaced as a typed conflict, no commit
          ev("event" -> "conflict", "writer" -> wid, "iter" -> i,
            "kind" -> e.getClass.getSimpleName)
        case e: Throwable =>
          log.println(Race.errorLine("error", e, "writer" -> wid, "iter" -> i))
          rc = 1
      }
    }
    log.close()
    spark.stop()
    sys.exit(rc)
  }
}

/** Snapshot-isolation prober for [[CommitRace]]: repeatedly resolves
  * the latest snapshot and asserts it is a committed point — version
  * chain contiguous and row count exactly the closed form implied by
  * that snapshot's own operation history. Any torn, partial, or mixed
  * state fails a check the moment it becomes visible.
  */
object RaceReader {
  def main(args: Array[String]): Unit = {
    val Array(dir, stopPath, logPath, baseStr, perAppendStr) = args.take(5)
    val baseRows = baseStr.toLong
    val perAppend = perAppendStr.toLong
    val spark = Race.session()
    val log = Race.logWriter(logPath)
    var violations = 0
    while (!Files.exists(Paths.get(stopPath))) {
      try {
        val snaps = VersionedTable.snapshots(spark, dir)
        if (snaps.nonEmpty) {
          val contiguous =
            snaps.map(_.version) == (1L to snaps.size.toLong)
          val pinned = snaps.last
          val expected =
            baseRows + perAppend * snaps.count(_.operation == "append")
          val actual =
            VersionedTable.snapshotAt(spark, dir, pinned.version).count()
          if (contiguous && actual == expected)
            log.println(s"""{"event":"check","version":${pinned.version},"rows":$actual}""")
          else {
            violations += 1
            log.println(s"""{"event":"violation","version":${pinned.version},"rows":$actual,"expected":$expected,"contiguous":$contiguous}""")
          }
        }
      } catch {
        case e: Throwable =>
          violations += 1
          log.println(Race.errorLine("violation", e))
      }
      Thread.sleep(150)
    }
    log.close()
    spark.stop()
    sys.exit(if (violations == 0) 0 else 1)
  }
}
