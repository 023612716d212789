package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

/** Contract spec for the manifest-commit table layer: atomic versioned
  * commits, time travel, reader isolation under compaction, optimistic
  * concurrency, debris invisibility, vacuum retention.
  */
class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-vtable").toString

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("create/append/overwrite produce readable versions with recorded operations") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), dir)
    VersionedTable.overwrite(Seq((9L, "z")).toDF("id", "v"), dir)
    val snaps = VersionedTable.snapshots(spark, dir)
    assert(snaps.map(s => (s.version, s.operation)) ===
      Seq((1L, "create"), (2L, "append"), (3L, "overwrite")))
    assert(snaps.map(_.timestampMs).sorted === snaps.map(_.timestampMs),
      "commit timestamps must be non-decreasing")
    assert(ids(VersionedTable.read(spark, dir)) === Set(9L))
  }

  test("time travel by version and by timestamp") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), dir)
    assert(ids(VersionedTable.snapshotAt(spark, dir, 1L)) === Set(1L))
    assert(ids(VersionedTable.snapshotAt(spark, dir, 2L)) === Set(1L, 2L))
    val snaps = VersionedTable.snapshots(spark, dir)
    assert(ids(VersionedTable.snapshotAsOf(spark, dir, snaps.head.timestampMs))
      === Set(1L) || snaps.head.timestampMs == snaps.last.timestampMs,
      "asOf(v1's commit time) must see v1 (unless both landed in the same ms)")
    assert(ids(VersionedTable.snapshotAsOf(spark, dir, snaps.last.timestampMs))
      === Set(1L, 2L))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.snapshotAsOf(spark, dir, snaps.head.timestampMs - 1)
    }
    assert(e.getMessage.contains("no version"))
  }

  test("compaction is answer-preserving and isolated from concurrent readers") {
    val dir = tmp()
    VersionedTable.create((1L to 500L).toDF("id"), dir)
    VersionedTable.append((501L to 1000L).toDF("id"), dir)
    // a reader resolves version 2's explicit file list BEFORE the compact
    val preResolved = VersionedTable.snapshotAt(spark, dir, 2L)
    val snap = VersionedTable.compactTable(spark, dir, targetFiles = 2)
    assert(snap.operation === "compact" && snap.files.size === 2,
      s"compact must rewrite into exactly 2 files: ${snap.files}")
    // the pre-compact reader still sees complete version-2 state — no
    // old file was touched
    assert(ids(preResolved) === (1L to 1000L).toSet,
      "reader resolved before compact must be untouched by it")
    assert(ids(VersionedTable.read(spark, dir)) === (1L to 1000L).toSet,
      "compaction must never change answers")
  }

  test("a concurrent writer taking the next version is detected, not overwritten") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    // the race: two writers both resolved latest=v1 and stage v2. The
    // winner commits first; the loser's commit of the SAME version must
    // fail, leaving the winner's manifest untouched.
    VersionedTable.append(Seq((100L, "w")).toDF("id", "v"), dir) // winner: v2
    val e = intercept[java.io.IOException] {
      VersionedTable.commit(spark, dir,
        VersionedTable.Snapshot(2L, 0L, "append", Seq("data/v2_loser/x.parquet")))
    }
    assert(e.getMessage.contains("concurrent writer"))
    // the winner's committed state is intact
    assert(ids(VersionedTable.snapshotAt(spark, dir, 2L)) === Set(1L, 100L))
  }

  test("uncommitted data files and torn manifests are invisible to readers") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    // crash debris: staged data with no manifest...
    Seq((666L, "debris")).toDF("id", "v")
      .write.parquet(s"$dir/data/v9_deadbeef")
    // ...a dot-temp file...
    val tmpM = new java.io.FileWriter(s"$dir/_manifests/.v00000009.manifest.tmp")
    tmpM.write("version=9\n"); tmpM.close()
    // ...and a TORN claimed manifest (writer died between the exclusive
    // create and the end terminator) — claimed but never committed
    val torn = new java.io.FileWriter(s"$dir/_manifests/v00000002.manifest")
    torn.write("version=2\ntimestamp=0\noperation=append\nfile=data/v2_x/p.parquet\n")
    torn.close()
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L),
      "debris must never surface in reads")
    assert(VersionedTable.snapshots(spark, dir).map(_.version) === Seq(1L),
      "a terminator-less manifest is in-flight/torn, not committed")
    // the FRESH stranded claim still blocks version 2 (within the
    // torn-claim grace a slow writer may be mid-body-write), and the
    // conflict error says so; stale-claim reclamation is covered by its
    // own test below
    val e = intercept[java.io.IOException] {
      VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), dir)
    }
    assert(e.getMessage.contains("torn"))
  }

  test("merge upserts as a new version; the pre-merge state stays time-travelable") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    // update 2 (to NULL — SQL MERGE overwrite), insert 3
    val updates = Seq((2L, null.asInstanceOf[String]), (3L, "c")).toDF("id", "v")
    val snap = VersionedTable.merge(updates, dir, Seq("id"))
    assert(snap.version === 2L && snap.operation === "merge")
    val after = VersionedTable.read(spark, dir)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(after === Set((1L, Some("a")), (2L, None), (3L, Some("c"))),
      "matched row must take the update's NULL; unmatched carries; new inserts")
    // the pre-merge version is untouched
    assert(ids(VersionedTable.snapshotAt(spark, dir, 1L)) === Set(1L, 2L))
  }

  private def manifestBody(dir: String, v: Long): String = {
    val f = new java.io.File(s"$dir/_manifests/${"v%08d.manifest".format(v)}")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
  }

  test("appends write DELTA manifests; every 10th version checkpoints full") {
    val dir = tmp()
    VersionedTable.create(Seq((0L, "a")).toDF("id", "v"), dir)
    (1L to 11L).foreach(i =>
      VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v"), dir))
    // v2..v9 and v11 are deltas: adds only, no full file list
    val d2 = manifestBody(dir, 2L)
    assert(d2.contains("kind=delta") && d2.contains("base=1"))
    assert(!d2.contains("\nfile=") && d2.linesIterator.count(_.startsWith("add=")) >= 1,
      s"an append manifest must carry adds, not the whole file list:\n$d2")
    // v10 is a full checkpoint: complete file list, no delta marker
    val c10 = manifestBody(dir, 10L)
    assert(!c10.contains("kind=delta"))
    assert(c10.linesIterator.count(_.startsWith("file=")) >= 10,
      "the checkpoint must list every live file")
    // resolution is identical through deltas, checkpoints, and time travel
    assert(ids(VersionedTable.read(spark, dir)) === (0L to 11L).toSet)
    assert(ids(VersionedTable.snapshotAt(spark, dir, 7L)) === (0L to 6L).toSet)
    assert(ids(VersionedTable.snapshotAt(spark, dir, 10L)) === (0L to 9L).toSet)
    assert(VersionedTable.latest(spark, dir).get.version === 12L)
  }

  test("vacuum materializes the oldest retained delta manifest before dropping its base") {
    val dir = tmp()
    VersionedTable.create(Seq((0L, "a")).toDF("id", "v"), dir)
    (1L to 6L).foreach(i =>
      VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v"), dir))
    assert(manifestBody(dir, 5L).contains("kind=delta"))
    VersionedTable.vacuum(spark, dir, retainVersions = 3) // keep v5,v6,v7
    assert(!manifestBody(dir, 5L).contains("kind=delta"),
      "the oldest retained manifest must be self-contained after vacuum")
    assert(VersionedTable.snapshots(spark, dir).map(_.version) === Seq(5L, 6L, 7L))
    assert(ids(VersionedTable.read(spark, dir)) === (0L to 6L).toSet,
      "append-only history: vacuum reclaims nothing but old manifests here")
    assert(ids(VersionedTable.snapshotAt(spark, dir, 5L)) === (0L to 4L).toSet)
  }

  test("merge rewrites only may-match files; clean files carry over BY IDENTITY") {
    val dir = tmp()
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
    VersionedTable.create(df, dir, Seq("id"))
    val v1Files = VersionedTable.latest(spark, dir).get.files.toSet
    // updates touch only the top of the key range (+ a pure insert)
    val updates = Seq((95L, "UPD"), (200L, "NEW")).toDF("id", "v")
    val snap = VersionedTable.merge(updates, dir, Seq("id"))
    val carried = snap.files.toSet.intersect(v1Files)
    assert(carried.size === 3,
      s"3 of 4 range-partitioned files must carry over untouched: $snap")
    assert(carried.forall(snap.stats.contains), "carried files keep stats")
    val rows = VersionedTable.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.size === 101 && rows(95L) === "UPD" && rows(200L) === "NEW"
      && rows(0L) === "v0" && rows(94L) === "v94")
    // untouched-file IDENTITY: the carried files' bytes were never rewritten
    assert(VersionedTable.snapshotAt(spark, dir, 1L).count() === 100L)
    // a merge whose keys match nothing rewrites nothing — pure insert
    val snap3 = VersionedTable.merge(
      Seq((300L, "NEW2")).toDF("id", "v"), dir, Seq("id"))
    assert(snap.files.toSet.subsetOf(snap3.files.toSet),
      "no-match merge must carry every existing file by reference")
    assert(VersionedTable.read(spark, dir).count() === 102L)
  }

  test("vacuum reclaims unreferenced files but keeps the retained window readable") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)     // v1
    VersionedTable.overwrite(Seq((2L, "b")).toDF("id", "v"), dir)  // v2: v1's files orphaned
    VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), dir)     // v3 shares v2's files
    val deleted = VersionedTable.vacuum(spark, dir, retainVersions = 2)
    assert(deleted >= 1, "v1's unreferenced files must be reclaimed")
    assert(VersionedTable.snapshots(spark, dir).map(_.version) === Seq(2L, 3L))
    // shared files survive: v2 is still fully readable
    assert(ids(VersionedTable.snapshotAt(spark, dir, 2L)) === Set(2L))
    assert(ids(VersionedTable.snapshotAt(spark, dir, 3L)) === Set(2L, 3L))
    val e = intercept[RuntimeException] {
      VersionedTable.snapshotAt(spark, dir, 1L)
    }
    assert(e.getMessage.contains("no version"))
  }

  test("restore: metadata-only rollback shares files and keeps history") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir,
      Seq("id"))
    VersionedTable.overwrite(Seq((9L, "bad")).toDF("id", "v"), dir)
    val snap = VersionedTable.restore(spark, dir, 1L)
    assert(snap.operation === "restore" && snap.version === 3L)
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L))
    // file-sharing, not copying: v3 references exactly v1's files
    val snaps = VersionedTable.snapshots(spark, dir)
    assert(snaps.find(_.version == 3L).get.files ===
      snaps.find(_.version == 1L).get.files)
    // stats ride along: pruning works on the restored version
    assert(VersionedTable.pruneInfo(spark, dir, col("id") === 1L)._1 >= 1)
    // the bad version stays time-travelable
    assert(ids(VersionedTable.snapshotAt(spark, dir, 2L)) === Set(9L))
    val e = intercept[RuntimeException] {
      VersionedTable.restore(spark, dir, 99L)
    }
    assert(e.getMessage.contains("no version"))
  }

  test("vacuumOrphans reclaims conflict-loser debris, honors the grace window") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    // plant debris: a staged subdir no manifest references
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val debris = new org.apache.hadoop.fs.Path(s"$dir/data/v2_loser")
    fs.mkdirs(debris)
    val f = new org.apache.hadoop.fs.Path(debris, "part-junk.parquet")
    val out = fs.create(f); out.write(Array[Byte](1, 2, 3)); out.close()
    // inside the grace window: preserved (could be an in-flight commit)
    assert(VersionedTable.vacuumOrphans(spark, dir) === 0)
    assert(fs.exists(f))
    // grace 0: reclaimed, empty staging dir dropped, live files intact
    assert(VersionedTable.vacuumOrphans(spark, dir, graceMs = 0) === 1)
    assert(!fs.exists(debris))
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L))
    assert(VersionedTable.vacuumOrphans(spark, dir, graceMs = 0) === 0,
      "idempotent: nothing left to reclaim")
  }

  test("restore of a pre-schema-tracking version upgrades it to schema-tracked") {
    val dir = tmp()
    val v1 = VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    // hand-commit a legacy manifest (no schema line) over the same files
    VersionedTable.commit(spark, dir,
      VersionedTable.Snapshot(2L, 0L, "legacy", v1.files))
    assert(VersionedTable.latest(spark, dir).get.schemaJson.isEmpty)
    val snap = VersionedTable.restore(spark, dir, 2L)
    assert(snap.schemaJson.nonEmpty,
      "restore must not regress the table to footer-dependent reads")
    assert(VersionedTable.read(spark, dir).columns.toSeq === Seq("id", "v"))
  }

  test("vacuumOrphans keeps a staging dir whose only fresh content is nested") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an in-flight job: no top-level parquet, task file deep under
    // _temporary with a FRESH mtime
    val tmpDir = new org.apache.hadoop.fs.Path(s"$dir/data/v9_inflight/_temporary")
    fs.mkdirs(tmpDir)
    val task = new org.apache.hadoop.fs.Path(tmpDir, "part-task.bin")
    val o = fs.create(task); o.write(1); o.close()
    fs.setTimes(task, System.currentTimeMillis() + 3600 * 1000, -1)
    assert(VersionedTable.vacuumOrphans(spark, dir, graceMs = 0) === 0)
    assert(fs.exists(task), "a dir with fresh nested writes must survive")
    // once everything nested is old, the dead staging dir goes
    fs.setTimes(task, 1000L, -1)
    fs.setTimes(tmpDir, 1000L, -1)
    fs.setTimes(task.getParent.getParent, 1000L, -1)
    VersionedTable.vacuumOrphans(spark, dir, graceMs = 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data/v9_inflight")))
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L))
  }

  test("vacuumOrphans keeps a staging dir whose walk is denied, with a " +
      "warning naming it, and reclaims the rest") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.denying.impl", classOf[DenyingFileSystem].getName)
    val base = java.nio.file.Files.createTempDirectory("graft-vacuum-denied")
    val dir = s"denying://$base/table"
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // three old debris subdirs; walking the first is denied and walking
    // the second throws a RuntimeException
    val Seq(denied, failing, dead) = Seq(DenyingFileSystem.Denied,
        DenyingFileSystem.Failing, "v8_dead").map { name =>
      val sub = new org.apache.hadoop.fs.Path(s"$dir/data/$name")
      val f = new org.apache.hadoop.fs.Path(sub, "part-junk.parquet")
      val o = fs.create(f); o.write(1); o.close()
      fs.setTimes(f, 1000L, -1)
      fs.setTimes(sub, 1000L, -1)
      sub
    }
    val warnings = LogCapture.warnings(VersionedTable.getClass) {
      assert(VersionedTable.vacuumOrphans(spark, dir, graceMs = 0) === 1)
    }
    assert(fs.exists(denied), "a subdir whose walk is denied counts as fresh")
    assert(fs.exists(failing), "a subdir whose walk fails counts as fresh")
    assert(!fs.exists(dead))
    for (name <- Seq(DenyingFileSystem.Denied, DenyingFileSystem.Failing))
      assert(warnings.exists(_.contains(s"data/$name")), warnings)
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L))
  }

  test("appendWithRetry rebases onto a concurrent commit instead of failing") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    // a competitor claims v2 inside the loser's race window
    val snap = VersionedTable.write(
      Seq((3L, "c")).toDF("id", "v"), dir, "append",
      VersionedTable.latest(spark, dir), maxAttempts = 3,
      onStaged = () => {
        VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), dir)
        ()
      })
    assert(snap.version === 3L, "the loser must land AFTER the competitor")
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L, 3L),
      "both appends' rows must survive the rebase")
    assert(VersionedTable.snapshots(spark, dir).map(_.operation) ===
      Seq("create", "append", "append"))
    // with retries exhausted the conflict surfaces
    val e = intercept[java.io.IOException] {
      VersionedTable.write(
        Seq((9L, "z")).toDF("id", "v"), dir, "append",
        VersionedTable.latest(spark, dir), maxAttempts = 1,
        onStaged = () => {
          VersionedTable.append(Seq((4L, "d")).toDF("id", "v"), dir)
          ()
        })
    }
    assert(e.getMessage.contains("concurrent"))
  }

  test("delete: removes only predicate-TRUE rows, copy-on-write skips clean files") {
    val dir = tmp()
    // two files with disjoint key ranges + a nullable flag column
    val df = (0L until 100L).toDF("id")
      .withColumn("flag", when(col("id") % 3 === 0, col("id") % 2 === 0))
      .repartitionByRange(2, col("id"))
    VersionedTable.create(df, dir, Seq("id"))
    val v1Files = VersionedTable.latest(spark, dir).get.files.toSet
    // predicate true only in the low range: high file must carry over
    val snap = VersionedTable.delete(spark, dir,
      col("id") < 10L && col("flag"))
    assert(snap.operation === "delete" && snap.version === 2L)
    val carried = snap.files.toSet.intersect(v1Files)
    assert(carried.nonEmpty, "the untouched file must carry over by reference")
    assert(carried.forall(snap.stats.contains), "carried files keep their stats")
    // deleted: id<10 AND flag true → ids 0,6 (flag null/false rows survive)
    val remaining = VersionedTable.read(spark, dir)
      .select("id").as[Long].collect().toSet
    assert(remaining === (0L until 100L).toSet -- Set(0L, 6L),
      "NULL-predicate rows must survive a DELETE")
    assert(VersionedTable.snapshotAt(spark, dir, 1L).count() === 100L,
      "the pre-delete version stays time-travelable")
  }

  test("delete everything leaves a readable empty version") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir, Seq("id"))
    VersionedTable.delete(spark, dir, lit(true))
    val out = VersionedTable.read(spark, dir)
    assert(out.count() === 0L && out.columns.toSeq === Seq("id", "v"))
    assert(VersionedTable.snapshotAt(spark, dir, 1L).count() === 1L)
    // pruned reads and count bounds survive the zero-file version
    assert(VersionedTable.readWhere(spark, dir, col("id") === 1L)
      .count() === 0L)
    assert(VersionedTable.countBounds(spark, dir, lit(true))
      === Some((0L, 0L)))
  }

  test("delete with a nothing-matches predicate commits a pure carry-over version") {
    val dir = tmp()
    VersionedTable.create((0L until 50L).toDF("id"), dir, Seq("id"))
    val v1 = VersionedTable.latest(spark, dir).get
    val snap = VersionedTable.delete(spark, dir, col("id") > 1000L)
    assert(snap.files === v1.files, "no file may be rewritten")
    assert(snap.version === 2L)
    assert(VersionedTable.read(spark, dir).count() === 50L)
  }

  test("update: set expressions see the OLD row, casts keep the schema stable") {
    val dir = tmp()
    VersionedTable.create(
      Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L))
        .toDF("id", "a", "b"), dir, Seq("id"))
    // a swap proves old-row evaluation: chained withColumns would give b=a=old b
    VersionedTable.update(spark, dir, col("id") <= 2L,
      Map("a" -> col("b"), "b" -> col("a")))
    val rows = VersionedTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq((1L, 100L, 10L), (2L, 200L, 20L), (3L, 30L, 300L)))
    // rewritten stats reflect the new values: a is now up to 200
    val (kept, _) = (VersionedTable.pruneInfo(spark, dir, col("a") > 150L))
    assert(kept >= 1)
    assert(VersionedTable.readWhere(spark, dir, col("a") === 200L)
      .select("id").as[Long].collect().toSeq === Seq(2L))
    // unknown set column fails fast
    val e = intercept[IllegalArgumentException] {
      VersionedTable.update(spark, dir, lit(true), Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("schema evolution: mergeSchema appends a column, old rows read null") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    // strict append with a new column fails fast, naming the remedy
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((3L, "c", 30L)).toDF("id", "v", "score"), dir)
    }
    assert(e.getMessage.contains("mergeSchema"))
    VersionedTable.append(Seq((3L, "c", 30L)).toDF("id", "v", "score"), dir,
      mergeSchema = true)
    val out = VersionedTable.read(spark, dir)
    assert(out.columns.toSeq === Seq("id", "v", "score"),
      "evolved schema = old fields then new")
    val rows = out.collect()
      .map(r => (r.getLong(0), Option(if (r.isNullAt(2)) null
        else java.lang.Long.valueOf(r.getLong(2))))).toMap
    assert(rows === Map(1L -> None, 2L -> None, 3L -> Some(3L * 10L)),
      "pre-evolution rows must read null for the new column")
    // time travel shows each version under ITS OWN schema
    assert(VersionedTable.snapshotAt(spark, dir, 1L).columns.toSeq ===
      Seq("id", "v"))
    // appending rows WITHOUT the evolved column back-fills null
    VersionedTable.append(Seq((4L, "d")).toDF("id", "v"), dir,
      mergeSchema = true)
    val v3 = VersionedTable.read(spark, dir)
    assert(v3.filter(col("id") === 4L).select("score").collect().head.isNullAt(0))
    assert(v3.count() === 4L)
  }

  test("schema evolution: a case-variant column is the SAME column, never a duplicate") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, 10L)).toDF("id", "score"), dir)
    VersionedTable.append(Seq((2L, 20L)).toDF("id", "Score"), dir,
      mergeSchema = true)
    val out = VersionedTable.read(spark, dir)
    assert(out.columns.toSeq === Seq("id", "score"),
      "the table keeps its spelling; no duplicate field may appear")
    assert(out.orderBy("id").select("score").as[Long].collect().toSeq ===
      Seq(10L, 20L))
    // and a case-variant TYPE conflict still fails fast
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((3L, "x")).toDF("id", "Score"), dir,
        mergeSchema = true)
    }
    assert(e.getMessage.contains("cannot change"))
  }

  test("a malformed stats line degrades to no-pruning, never an unreadable table") {
    val dir = tmp()
    VersionedTable.create((1L to 10L).toDF("k").coalesce(1), dir, Seq("k"))
    // corrupt the manifest's rows= line in place, preserving the
    // end= terminator (end counts only file= lines)
    val m = new java.io.File(s"$dir/_manifests").listFiles()
      .filter(_.getName.endsWith(".manifest")).head
    val body = new String(
      java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
    val corrupted = body.linesIterator.map { l =>
      if (l.startsWith("rows=")) "rows=junk|with|extra|fields" else l
    }.mkString("", "\n", "\n")
    java.nio.file.Files.write(m.toPath, corrupted.getBytes("UTF-8"))
    // still fully readable; the file just lost its pruning stats
    assert(ids(VersionedTable.read(spark, dir).withColumnRenamed("k", "id")
      .withColumn("v", lit("x"))) === (1L to 10L).toSet)
    assert(VersionedTable.pruneInfo(spark, dir, col("k") === 999L)
      === ((1, 0)), "corrupted stats must keep the file, not prune or crash")
  }

  test("streaming appendTagged fails fast on a drifted batch schema") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.appendTagged(
        Seq((2L, "b", 99L)).toDF("id", "v", "extra"), dir, "append#7")
    }
    assert(e.getMessage.contains("does not match"))
    // a case variant drifts too: names match exactly, as for append
    intercept[IllegalArgumentException] {
      VersionedTable.appendTagged(Seq((2L, "b")).toDF("ID", "v"), dir,
        "append#8")
    }
    assert(VersionedTable.latest(spark, dir).get.version === 1L)
  }

  test("schema evolution: type conflicts fail fast, naming the column") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((2L, 99L)).toDF("id", "v"), dir,
        mergeSchema = true)
    }
    assert(e.getMessage.contains("v") && e.getMessage.contains("cannot change"))
  }

  test("schema evolution composes with data skipping on the new column") {
    val dir = tmp()
    VersionedTable.create((0L until 100L).toDF("id").coalesce(1), dir, Seq("id"))
    VersionedTable.append((100L until 200L).toDF("id")
      .withColumn("score", col("id") * 2L).coalesce(1), dir,
      statsCols = Seq("id", "score"), mergeSchema = true)
    // old file has no score stats → kept; new file prunes by its range
    val (kept, pruned) = VersionedTable.pruneInfo(spark, dir,
      col("score") > 1000L)
    assert((kept, pruned) === ((1, 1)),
      "stats-less old file kept, out-of-range new file pruned")
    val got = VersionedTable.readWhere(spark, dir, col("score") >= 398L)
      .select("id").as[Long].collect().toSet
    assert(got === Set(199L))
    // and a predicate the old file CAN satisfy keeps both
    assert(VersionedTable.readWhere(spark, dir, col("score").isNull)
      .count() === 100L)
  }

  // copy-on-write DELETE through the DML planner, for driving its
  // race-window seam directly
  private def cowDelete(dir: String, p: org.apache.spark.sql.Column,
      onStaged: () => Unit): VersionedTable.Snapshot =
    VersionedTable.dml(spark, dir, VersionedTable.Dml.Delete(p),
      dvThreshold = None, maxAttempts = 3, onStaged = onStaged)

  test("delete rebases over a concurrent stats-disjoint append") {
    val dir = tmp()
    val df = (0L until 100L).toDF("id").withColumn("v", lit("x"))
      .repartitionByRange(2, col("id"))
    VersionedTable.create(df, dir, Seq("id"))
    // competitor appends ids 200.. WITH id stats — provably disjoint
    // from id < 10, so the loser re-commits its staged files
    val snap = cowDelete(dir, col("id") < 10L,
      onStaged = () => {
        VersionedTable.append((200L until 210L).toDF("id")
          .withColumn("v", lit("y")), dir, Seq("id"))
        ()
      })
    assert(snap.version === 3L && snap.operation === "delete")
    assert(ids(VersionedTable.read(spark, dir)) ===
      ((10L until 100L) ++ (200L until 210L)).toSet,
      "delete must apply AND the competitor's rows must survive")
    // a competitor append WITHOUT id stats (it names only `v`) may hold
    // matching rows — rebase must refuse rather than silently skip them
    val e = intercept[graft.sources.ConflictingCommitException] {
      cowDelete(dir, col("id") < 10L,
        onStaged = () => {
          VersionedTable.append(Seq((300L, "z")).toDF("id", "v"), dir,
            Seq("v"))
          ()
        })
    }
    assert(e.getMessage.contains("may hold rows"))
  }

  test("delete conflicts when a concurrent commit rewrote a file it read") {
    val dir = tmp()
    val df = (0L until 100L).toDF("id").withColumn("v", lit("x"))
      .repartitionByRange(2, col("id"))
    VersionedTable.create(df, dir, Seq("id"))
    val e = intercept[graft.sources.ConflictingCommitException] {
      cowDelete(dir, col("id") < 10L,
        onStaged = () => {
          VersionedTable.delete(spark, dir, col("id") === 5L)
          ()
        })
    }
    assert(e.getMessage.contains("rewrote"))
    // the competitor's delete is the surviving state — no torn commit
    val got = ids(VersionedTable.read(spark, dir))
    assert(!got.contains(5L) && got.contains(4L))
  }

  test("merge rebases over a concurrent key-disjoint append") {
    val dir = tmp()
    VersionedTable.create((0L until 50L).map(i => (i, s"v$i"))
      .toDF("id", "v"), dir, Seq("id"))
    val snap = VersionedTable.dml(spark, dir, VersionedTable.Dml.Merge(
      Seq((1L, "upd"), (60L, "new")).toDF("id", "v"), Seq("id"),
      Seq("id")), dvThreshold = None, maxAttempts = 3,
      onStaged = () => {
        VersionedTable.append(Seq((200L, "c")).toDF("id", "v"), dir,
          Seq("id"))
        ()
      })
    assert(snap.operation === "merge")
    val out = VersionedTable.read(spark, dir)
    assert(out.filter(col("id") === 1L).select("v").as[String].head() ===
      "upd")
    assert(ids(out) === ((0L until 50L).toSet + 60L + 200L))
  }

  test("DML rebase refuses a concurrent schema change") {
    val dir = tmp()
    VersionedTable.create((0L until 20L).toDF("id")
      .withColumn("v", lit("x")), dir, Seq("id"))
    // the competitor's rows are key-disjoint, but it evolved the
    // schema — rebasing would commit a stale schemaJson over it
    val e = intercept[graft.sources.ConflictingCommitException] {
      cowDelete(dir, col("id") < 5L,
        onStaged = () => {
          VersionedTable.append(Seq((100L, "y", true))
            .toDF("id", "v", "extra"), dir, Seq("id"), mergeSchema = true)
          ()
        })
    }
    assert(e.getMessage.contains("schema"))
  }

  // ---- crash-atomicity + torn-claim repair (round 13) ----

  private def manifestPath(dir: String, v: Long) =
    java.nio.file.Paths.get(dir, "_manifests", f"v$v%08d.manifest")

  test("a writer crashing between body staging and publish leaves no " +
      "manifest, readers unaffected, version still claimable") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    // simulate kill -9 in the claimed window: the crash seam throws, so
    // the hidden temp is stranded exactly as a halted JVM would leave it
    object Die extends RuntimeException("crash injection")
    VersionedTable.commitCrashPoint = () => throw Die
    try intercept[RuntimeException] {
      VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), dir)
    } finally VersionedTable.commitCrashPoint = () => ()
    // no manifest claimed (complete or torn), so the reader sees v1 and
    // the version is not wedged
    assert(!java.nio.file.Files.exists(manifestPath(dir, 2L)))
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L))
    // the stranded dot-temp is invisible to readers and reclaimed by
    // the orphan vacuum under the usual grace contract
    val mdir = java.nio.file.Paths.get(dir, "_manifests")
    val temps = java.nio.file.Files.list(mdir).iterator()
    val strandedTmp = scala.jdk.CollectionConverters
      .IteratorHasAsScala(temps).asScala
      .filter(p => p.getFileName.toString.startsWith(".") &&
        p.getFileName.toString.endsWith(".tmp")).toSeq
    assert(strandedTmp.nonEmpty, "crash window should strand a temp")
    VersionedTable.vacuumOrphans(spark, dir, graceMs = 0L)
    assert(!java.nio.file.Files.exists(strandedTmp.head))
    // the version is immediately claimable by the next writer
    VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), dir)
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 3L))
  }

  test("a STALE torn claim is reclaimed; a FRESH one is respected") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    // plant a torn claim at v2 — the debris an HDFS-path writer crash
    // (claim atomic, body streamed after) leaves behind
    val torn = manifestPath(dir, 2L)
    java.nio.file.Files.write(torn,
      "version=2\ntimestamp=1\noperation=append\n".getBytes("UTF-8"))
    // fresh: within the grace, the claim is respected — the writer gets
    // the concurrency loss, the torn file survives
    val e = intercept[graft.sources.ConcurrentCommitException] {
      VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), dir)
    }
    assert(e.getMessage.contains("torn"))
    assert(java.nio.file.Files.exists(torn))
    // readers skip the torn claim throughout
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L))
    // stale: age the claim past the grace — the next writer deletes the
    // debris and commits v2 itself (the wedge this repair exists for)
    java.nio.file.Files.setLastModifiedTime(torn,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - VersionedTable.TornClaimGraceMs - 60000))
    VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), dir)
    val snaps = VersionedTable.snapshots(spark, dir)
    assert(snaps.map(_.version) === Seq(1L, 2L))
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L))
  }

  test("a tagged (streaming) append rebases over a concurrent commit " +
      "and no-ops when its own tag already won") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    // the streaming sink's exact window: it lists the snapshot chain
    // (replay check), then a maintenance process commits first
    val stale = VersionedTable.latest(spark, dir)
    VersionedTable.compactTable(spark, dir, targetFiles = 1)
    val s = VersionedTable.write(
      Seq((2L, "b")).toDF("id", "v"), dir, "append#7", stale, tagged = true,
      maxAttempts = 5)
    assert(s.version === 3L, "the batch must rebase onto the compact")
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L))
    assert(VersionedTable.hasOperation(spark, dir, "append#7"))
    // replay delivered with a stale snapshot AND a competitor in
    // between: the retry path must find its own committed tag and
    // no-op instead of double-committing the batch
    val stale2 = stale
    VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), dir)
    val replay = VersionedTable.write(
      Seq((2L, "b")).toDF("id", "v"), dir, "append#7", stale2, tagged = true,
      maxAttempts = 5)
    assert(replay.operation === "append#7")
    assert(VersionedTable.snapshots(spark, dir)
      .count(_.operation == "append#7") === 1,
      "a replayed tag must not commit twice")
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L, 3L))
  }

  test("the vacuum-materialization crash state self-heals on read " +
      "(manifest missing, complete .ckpt alongside)") {
    val dir = tmp()
    VersionedTable.create(Seq((0L, "a")).toDF("id", "v"), dir)
    (1L to 6L).foreach(i =>
      VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v"), dir))
    VersionedTable.vacuum(spark, dir, retainVersions = 3) // keep v5,v6,v7
    // simulate the HDFS-path vacuum crash BETWEEN delete and rename:
    // v5's (materialized, full) manifest is gone, the complete `.ckpt`
    // temp sits alongside — exactly what the delete+rename window leaves
    val m5 = manifestPath(dir, 5L)
    val body5 = java.nio.file.Files.readAllBytes(m5)
    val ckpt = m5.resolveSibling(".v00000005.manifest.ckpt")
    java.nio.file.Files.write(ckpt, body5)
    java.nio.file.Files.delete(m5)
    // chain resolution heals it: v6 (delta on 5) resolves, the manifest
    // is republished, the temp is consumed
    assert(VersionedTable.snapshots(spark, dir).map(_.version) ===
      Seq(5L, 6L, 7L))
    assert(java.nio.file.Files.exists(m5), "recovered manifest republished")
    assert(!java.nio.file.Files.exists(ckpt), "consumed .ckpt removed")
    assert(ids(VersionedTable.read(spark, dir)) === (0L to 6L).toSet)
    // latest()'s base-chain walk heals the same state independently
    java.nio.file.Files.write(ckpt,
      java.nio.file.Files.readAllBytes(m5))
    java.nio.file.Files.delete(m5)
    assert(VersionedTable.latest(spark, dir).get.version === 7L)
    assert(java.nio.file.Files.exists(m5))
    // a TORN temp (crash while writing the ckpt itself) must never be
    // published: resolution fails loudly instead of resurrecting a
    // truncated manifest
    val torn = new String(body5, "UTF-8").linesIterator
      .filterNot(_.startsWith("end=")).mkString("\n")
    java.nio.file.Files.write(ckpt, torn.getBytes("UTF-8"))
    java.nio.file.Files.delete(m5)
    val e = intercept[RuntimeException] {
      VersionedTable.snapshots(spark, dir)
    }
    assert(e.getMessage.contains("chain broken"))
    assert(!java.nio.file.Files.exists(m5),
      "a torn ckpt must not be published")
    // restore for subsequent cleanliness
    java.nio.file.Files.write(m5, body5)
    java.nio.file.Files.delete(ckpt)
  }

  test("a crashed mid-sweep vacuum (newest-first manifest deletion) " +
      "leaves a resolvable chain; the next vacuum completes it") {
    val dir = tmp()
    VersionedTable.create(Seq((0L, "a")).toDF("id", "v"), dir)
    (1L to 7L).foreach(i =>
      VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v"), dir))
    val m1 = manifestPath(dir, 1L)
    val body1 = java.nio.file.Files.readAllBytes(m1)
    VersionedTable.vacuum(spark, dir, retainVersions = 5)
    // reconstruct the mid-sweep crash state: manifests are deleted
    // NEWEST-first within the drop set {v1,v2,v3}, so a crash before
    // the FINAL delete leaves exactly v1 — put it back. (The keep-head
    // v4 was already materialized full before any deletion.) A delta
    // surviving without its base is impossible in this order.
    java.nio.file.Files.write(m1, body1)
    val snaps = VersionedTable.snapshots(spark, dir)
    assert(snaps.map(_.version) === Seq(1L, 4L, 5L, 6L, 7L, 8L),
      "mid-sweep state must resolve: v1 full + materialized v4 + deltas")
    assert(ids(VersionedTable.read(spark, dir)) === (0L to 7L).toSet)
    // the next vacuum completes the interrupted sweep
    VersionedTable.vacuum(spark, dir, retainVersions = 5)
    assert(VersionedTable.snapshots(spark, dir).map(_.version) ===
      Seq(4L, 5L, 6L, 7L, 8L))
    assert(ids(VersionedTable.read(spark, dir)) === (0L to 7L).toSet)
  }

  test("vacuum's pre-delete re-list protects files a mid-sweep commit " +
      "resurrected (the restore window, narrowed)") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)      // v1
    VersionedTable.overwrite(Seq((2L, "b")).toDF("id", "v"), dir)   // v2
    VersionedTable.overwrite(Seq((3L, "c")).toDF("id", "v"), dir)   // v3
    VersionedTable.append(Seq((4L, "d")).toDF("id", "v"), dir)      // v4
    // a restore-like commit lands INSIDE the sweep window (after the
    // manifest drop, before the data deletes), resurrecting v1's files
    // into the new latest — the point-in-time live-set cannot see it;
    // the pre-delete re-list must
    val v1 = VersionedTable.snapshots(spark, dir).head
    var fired = false
    VersionedTable.vacuumPause = () => if (!fired) {
      fired = true
      VersionedTable.commit(spark, dir, VersionedTable.Snapshot(5L, 0L,
        "restore", v1.files, v1.stats, v1.schemaJson))
    }
    try VersionedTable.vacuum(spark, dir, retainVersions = 2)
    finally VersionedTable.vacuumPause = () => ()
    assert(fired)
    // v1's files survived the sweep and the restored version reads
    assert(v1.files.forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f))),
      "files resurrected mid-sweep must never be deleted")
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L),
      "the mid-sweep restore is the latest and fully readable")
  }

  test("a recovery attempt that itself crashed mid-publish (torn dest + " +
      "complete ckpt) is repaired once stale") {
    val dir = tmp()
    VersionedTable.create(Seq((0L, "a")).toDF("id", "v"), dir)
    (1L to 6L).foreach(i =>
      VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v"), dir))
    VersionedTable.vacuum(spark, dir, retainVersions = 3) // keep v5..v7
    val m5 = manifestPath(dir, 5L)
    val body5 = java.nio.file.Files.readAllBytes(m5)
    val ckpt = m5.resolveSibling(".v00000005.manifest.ckpt")
    // crash state: complete ckpt alongside, and the dest holds a TORN
    // body (a previous HDFS-class recovery died mid-stream)
    java.nio.file.Files.write(ckpt, body5)
    val torn = new String(body5, "UTF-8").linesIterator
      .filterNot(_.startsWith("end=")).mkString("\n")
    java.nio.file.Files.write(m5, torn.getBytes("UTF-8"))
    // FRESH corpse: respected (a slow live recoverer is never robbed) —
    // resolution fails loudly rather than racing it
    intercept[RuntimeException] { VersionedTable.snapshots(spark, dir) }
    assert(java.nio.file.Files.readAllBytes(ckpt).nonEmpty)
    // STALE corpse: cleared and republished from the complete ckpt
    java.nio.file.Files.setLastModifiedTime(m5,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - VersionedTable.TornClaimGraceMs - 60000))
    assert(VersionedTable.snapshots(spark, dir).map(_.version) ===
      Seq(5L, 6L, 7L))
    assert(new String(java.nio.file.Files.readAllBytes(m5), "UTF-8")
      .contains("end="), "the torn dest must be replaced by the complete body")
    assert(!java.nio.file.Files.exists(ckpt))
    assert(ids(VersionedTable.read(spark, dir)) === (0L to 6L).toSet)
  }

  test("the stale-claim reclaim re-checks before deleting: a competitor's " +
      "commit replacing the corpse is never destroyed (TOCTOU guard)") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    val torn = manifestPath(dir, 2L)
    java.nio.file.Files.write(torn,
      "version=2\ntimestamp=1\noperation=append\n".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(torn,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - VersionedTable.TornClaimGraceMs - 60000))
    // in the window between our writer detecting the stale corpse and
    // deleting it, a COMPETING reclaimer deletes the corpse itself and
    // publishes a complete v2 — without the re-stat guard, our delete
    // would silently destroy that acknowledged commit (lost update)
    var fired = false
    VersionedTable.reclaimPause = () => if (!fired) {
      fired = true
      java.nio.file.Files.delete(torn)
      VersionedTable.append(Seq((100L, "competitor")).toDF("id", "v"), dir)
    }
    try {
      val e = intercept[graft.sources.ConcurrentCommitException] {
        VersionedTable.append(Seq((2L, "ours")).toDF("id", "v"), dir)
      }
      assert(e.getMessage.contains("concurrent writer"))
    } finally VersionedTable.reclaimPause = () => ()
    assert(fired, "the TOCTOU window seam must have fired")
    // the competitor's commit SURVIVED: v2 is its row, not ours
    val snaps = VersionedTable.snapshots(spark, dir)
    assert(snaps.map(_.version) === Seq(1L, 2L))
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 100L),
      "the competitor's acknowledged v2 must never be reclaimed away")
  }

  test("an appendTagged retry reads O(new versions) manifests, not the " +
      "table's whole history") {
    val dir = tmp()
    VersionedTable.create(Seq((0L, "a")).toDF("id", "v"), dir)
    (1L to 30L).foreach(i =>
      VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v"), dir))
    // the streaming sink resolved latest = v31, then two maintenance
    // commits land first — the retry must re-check its tag against the
    // NEW versions only (zero-padded names filter without opens) plus
    // latest()'s checkpoint-bounded chain, never the 31-manifest past
    val stale = VersionedTable.latest(spark, dir)
    VersionedTable.append(Seq((200L, "x")).toDF("id", "v"), dir)
    VersionedTable.compactTable(spark, dir, targetFiles = 1)
    val before = VersionedTable.manifestReadCount.get()
    val s = VersionedTable.write(
      Seq((300L, "b")).toDF("id", "v"), dir, "append#9", stale, tagged = true,
      maxAttempts = 5)
    val reads = VersionedTable.manifestReadCount.get() - before
    assert(s.operation === "append#9" && s.version === 34L)
    assert(reads <= 15,
      s"a retry against a 33-version table must read O(new) manifests " +
        s"(got $reads; the full chain would be 30+)")
    assert(ids(VersionedTable.read(spark, dir)).contains(300L))
  }

  test("retries against a stalled claim back off instead of hot-looping") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    java.nio.file.Files.write(manifestPath(dir, 2L),
      "version=2\ntimestamp=1\noperation=append\n".getBytes("UTF-8"))
    // a fresh torn claim never advances latest, so each retry would
    // otherwise fire microseconds after the last; the pacing sleep
    // (200ms * attempt, attempts 2 and 3 here) makes the retry budget
    // mean something in wall time
    val t0 = System.nanoTime()
    intercept[graft.sources.ConcurrentCommitException] {
      VersionedTable.appendWithRetry(Seq((2L, "b")).toDF("id", "v"), dir,
        maxAttempts = 3)
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(elapsedMs >= 600,
      s"3 attempts against a stalled claim should pace >= 600ms of " +
        s"backoff, took ${elapsedMs}ms")
  }

  test("restore SERIALIZES against vacuum's delete window on the " +
      "maintenance lock — it cannot commit inside the sweep") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    (2L to 8L).foreach(i => VersionedTable.append(
      Seq((i, s"v$i")).toDF("id", "v"), dir))
    val restored =
      new java.util.concurrent.atomic.AtomicReference[
        VersionedTable.Snapshot]()
    val restoredAtNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val pauseEndNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val restoreCommittedInWindow =
      new java.util.concurrent.atomic.AtomicBoolean(false)
    var t: Thread = null
    // fire a REAL restore from another thread inside vacuum's locked
    // window (vacuumPause sits between the manifest drops and the
    // pre-delete re-list): it must BLOCK on the lock until the whole
    // sweep — including every data-file delete — has finished
    VersionedTable.vacuumPause = () => if (t == null) {
      t = new Thread(() => {
        val keepOldest = VersionedTable.snapshots(spark, dir).head
        restored.set(VersionedTable.restore(spark, dir, keepOldest.version))
        restoredAtNs.set(System.nanoTime())
      })
      t.start()
      Thread.sleep(600) // ample time for the thread to attempt the lock
      restoreCommittedInWindow.set(
        VersionedTable.snapshots(spark, dir).exists(_.operation == "restore"))
      pauseEndNs.set(System.nanoTime())
    }
    try VersionedTable.vacuum(spark, dir, retainVersions = 3)
    finally VersionedTable.vacuumPause = () => ()
    t.join(30000)
    assert(restoredAtNs.get() != 0L, "the restore thread must complete")
    assert(!restoreCommittedInWindow.get(),
      "no restore may commit inside vacuum's locked window")
    assert(restoredAtNs.get() > pauseEndNs.get(),
      "the restore must land only after the sweep's window")
    // the restored latest is fully intact: every file exists, reads whole
    val latest = VersionedTable.latest(spark, dir).get
    assert(latest.operation === "restore")
    assert(latest.files.forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f))),
      "no restored file may have been swept")
    assert(ids(VersionedTable.read(spark, dir)).nonEmpty)
  }

  test("a dead maintainer's abandoned lock is reclaimed after the grace; " +
      "maintenance then proceeds and releases") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    (2L to 4L).foreach(i => VersionedTable.append(
      Seq((i, s"v$i")).toDF("id", "v"), dir))
    val lock = java.nio.file.Paths.get(dir, "_manifests", ".maint.lock")
    java.nio.file.Files.write(lock, "dead-vacuum@0".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - VersionedTable.MaintLockGraceMs - 60000))
    val s = VersionedTable.restore(spark, dir, 2L) // reclaims, proceeds
    assert(s.operation === "restore" && s.version === 5L)
    assert(!java.nio.file.Files.exists(lock),
      "the lock must be released after the reclaimed restore")
    // vacuum takes and releases it the same way
    VersionedTable.vacuum(spark, dir, retainVersions = 2)
    assert(!java.nio.file.Files.exists(lock))
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L))
  }

  test("a store that lies about exclusive create fails TYPED before any " +
      "manifest is claimed; an honest non-local store commits fine") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.lying.impl", classOf[LyingFileSystem].getName)
    conf.set("fs.honest.impl", classOf[HonestFileSystem].getName)
    graft.sources.VersionedTable.resetProbedSubstrates()
    val base = java.nio.file.Files.createTempDirectory("graft-substrate")
    val lyingDir = s"lying://$base/table"
    val e = intercept[graft.sources.UnsupportedCommitSubstrateException] {
      VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), lyingDir)
    }
    assert(e.getMessage.contains("exclusive create"),
      "the error must name the missing capability")
    // never a torn chain: the probe fires BEFORE the first claim, so
    // the table directory holds zero manifests, committed or torn
    assert(VersionedTable.latest(spark, lyingDir).isEmpty)
    assert(VersionedTable.snapshots(spark, lyingDir).isEmpty)
    // control: the SAME local store under an honest non-file scheme
    // passes the probe once and commits through the HDFS-class branch
    val honestDir = s"honest://$base/table2"
    val s = VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), honestDir)
    assert(s.version === 1L)
    VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), honestDir)
    assert(ids(VersionedTable.read(spark, honestDir)) === Set(1L, 2L))
  }

  test("snapshots() emits EVERY committed version a racing listing " +
      "missed, not just the delta's direct base") {
    // the non-atomic-readdir race: a listing taken while writers commit
    // can miss >=2 CONSECUTIVE fresh versions while including a later
    // one. resolveByName must fold every version it materializes along
    // the by-name walk into the chain — dropping the intermediates
    // would make tag scans miss a committed tag and double-commit a
    // replayed batch.
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    (2L to 5L).foreach(i => VersionedTable.appendTagged(
      Seq((i, s"v$i")).toDF("id", "v"), dir, s"batch#$i"))
    VersionedTable.listingDropNames = Set("v00000003.manifest",
      "v00000004.manifest") // v5 (delta on 4) IS listed; 3 and 4 are not
    try {
      val snaps = VersionedTable.snapshots(spark, dir)
      assert(snaps.map(_.version) === Seq(1L, 2L, 3L, 4L, 5L),
        "missed-but-committed versions must be emitted via the by-name walk")
      assert(snaps.map(_.operation).toSet ===
        Set("create", "batch#2", "batch#3", "batch#4", "batch#5"),
        "every committed tag must survive the listing race")
      assert(VersionedTable.hasOperation(spark, dir, "batch#3"),
        "a tag scan must see the tag of a listing-missed version")
    } finally VersionedTable.listingDropNames = Set.empty
  }

  test("the public appendTagged no-ops on a tag committed at ANY version") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    val first = VersionedTable.appendTagged(
      Seq((2L, "b")).toDF("id", "v"), dir, "batch#1")
    assert(first.version === 2L)
    // bury the tag below the latest — the private overload's retry
    // short-circuit would never look at or below here
    VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), dir)
    VersionedTable.append(Seq((4L, "d")).toDF("id", "v"), dir)
    val replay = VersionedTable.appendTagged(
      Seq((99L, "dup")).toDF("id", "v"), dir, "batch#1")
    assert(replay.operation === "batch#1" && replay.version === 2L,
      "the replay must resolve to the originally tagged snapshot")
    assert(VersionedTable.snapshots(spark, dir)
      .count(_.operation == "batch#1") === 1,
      "a replayed tag must not commit twice through the public overload")
    assert(!ids(VersionedTable.read(spark, dir)).contains(99L),
      "the replayed batch's rows must not land")
  }

  test("the table identity minted at version 1 is carried by every " +
      "manifest flavor and survives vacuum's checkpoint rewrite") {
    val dir = tmp()
    val created = VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    val tid = created.tableId
    assert(tid.isDefined, "version 1 must mint a table identity")
    (2L to 7L).foreach(i => VersionedTable.append(
      Seq((i, s"v$i")).toDF("id", "v"), dir)) // deltas inherit
    VersionedTable.compactTable(spark, dir, targetFiles = 1) // full rerender
    VersionedTable.vacuum(spark, dir, retainVersions = 2) // ckpt rewrite
    val snaps = VersionedTable.snapshots(spark, dir)
    assert(snaps.nonEmpty && snaps.forall(_.tableId == tid),
      s"every surviving version must carry the minted identity $tid")
    val restored = VersionedTable.restore(spark, dir, snaps.head.version)
    assert(restored.tableId === tid, "restore must carry the identity")
    // a recreated table at the same path mints a DIFFERENT identity
    val (fs, _) = (new org.apache.hadoop.fs.Path(dir)).getFileSystem(
      spark.sparkContext.hadoopConfiguration) -> ()
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val recreated = VersionedTable.create(
      Seq((9L, "z")).toDF("id", "v"), dir)
    assert(recreated.tableId.isDefined && recreated.tableId != tid,
      "a new incarnation at the same path must have a new identity")
  }

  // ------------------------------------------------- deletion vectors (r16)

  /** A table of `n` single-file commits: file k holds ids
    * (k*per, (k+1)*per], one data file per commit, stats on `id` — the
    * precise file-boundary fixture the DV shape decisions need.
    */
  private def dvTable(dir: String, files: Int, per: Long): Unit = {
    def part(k: Int) = ((k * per + 1) to ((k + 1) * per))
      .map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
    VersionedTable.create(part(0), dir, statsCols = Seq("id"))
    (1 until files).foreach(k =>
      VersionedTable.append(part(k), dir, statsCols = Seq("id")))
  }

  test("deleteWithDv: merge-on-read delete — same answer as CoW, no file " +
      "rewritten, pre-delete version stays time-travelable") {
    val dir = tmp()
    dvTable(dir, files = 4, per = 250L)
    val before = VersionedTable.latest(spark, dir).get
    val s = VersionedTable.deleteWithDv(spark, dir, col("id") % 100L === 0L)
    assert(s.files === before.files,
      "a sub-threshold delete must not add or remove a single data file")
    assert(s.dvFiles.nonEmpty, "the DV sidecar must be referenced")
    assert(s.dvn.values.sum === 10L, s"10 soft-deleted rows, got ${s.dvn}")
    assert(ids(VersionedTable.read(spark, dir)) ===
      (1L to 1000L).filterNot(_ % 100L == 0L).toSet)
    // identical answer to the CoW path on a twin table
    val twin = tmp()
    dvTable(twin, files = 4, per = 250L)
    VersionedTable.delete(spark, twin, col("id") % 100L === 0L)
    assert(ids(VersionedTable.read(spark, dir)) ===
      ids(VersionedTable.read(spark, twin)))
    // time travel across the DV commit
    assert(ids(VersionedTable.snapshotAt(spark, dir, 4L)) ===
      (1L to 1000L).toSet)
  }

  test("deleteWithDv accumulates per-file DVs across commits; countBounds " +
      "prices live rows exactly") {
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    VersionedTable.deleteWithDv(spark, dir,
      col("id") % 10L === 0L && col("id") <= lit(100L))
    // 20% cumulative — above the 0.15 default, so raise the threshold
    // to keep the second delete on the DV path (accumulation under test)
    val s2 = VersionedTable.deleteWithDv(spark, dir,
      col("id") % 10L === 5L && col("id") <= lit(100L),
      densityThreshold = 0.25)
    assert(s2.dvn.values.sum === 20L && s2.dvn.size === 1)
    assert(ids(VersionedTable.read(spark, dir)) ===
      (1L to 200L).filterNot(i => i <= 100 && i % 5 == 0).toSet)
    // metadata-only count: file 1 allMatch on id <= 100 → 100 - 20 live
    assert(VersionedTable.countBounds(spark, dir, col("id") <= 100L) ===
      Some((80L, 80L)))
    assert(VersionedTable.countBounds(spark, dir, lit(true)) ===
      Some((180L, 180L)))
    // readWhere composes pruning with the DV anti-filter
    assert(ids(VersionedTable.readWhere(spark, dir, col("id") <= 30L)) ===
      (1L to 30L).filterNot(_ % 5 == 0).toSet)
  }

  test("deleteWithDv density threshold falls back to copy-on-write and " +
      "folds the file's DV history away") {
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    VersionedTable.deleteWithDv(spark, dir,
      col("id") % 10L === 0L && col("id") <= lit(100L)) // 10% on file 1
    // +10 more → 20% cumulative > 15% default → rewrite, not DV
    val s = VersionedTable.deleteWithDv(spark, dir,
      col("id") % 10L === 5L && col("id") <= lit(100L))
    assert(s.dvn.isEmpty && s.dvFiles.isEmpty,
      "the CoW fallback must fold the whole DV history away")
    assert(s.files.size === 2 && s.operation === "delete")
    assert(ids(VersionedTable.read(spark, dir)) ===
      (1L to 200L).filterNot(i => i <= 100 && i % 5 == 0).toSet)
    // the rewritten file carries fresh stats: pruning still works
    val (kept, pruned) = (VersionedTable.pruneInfo(spark, dir,
      col("id") > 150L))
    assert(kept === 1 && pruned === 1,
      "the rewritten file must carry fresh skipping stats")
  }

  test("deleteWithDv drops a fully-dead file by reference — no rewrite, " +
      "no DV") {
    val dir = tmp()
    dvTable(dir, files = 3, per = 100L)
    val s = VersionedTable.deleteWithDv(spark, dir, col("id") <= 100L)
    assert(s.files.size === 2 && s.dvn.isEmpty && s.dvFiles.isEmpty,
      "a file whose every live row matches is dropped, not rewritten")
    assert(ids(VersionedTable.read(spark, dir)) === (101L to 300L).toSet)
  }

  test("deleteWithDv honors SQL three-valued logic: NULL-predicate rows " +
      "survive") {
    val dir = tmp()
    val df = Seq((1L, "x"), (2L, null: String), (3L, "y"))
      .toDF("id", "v").coalesce(1)
    VersionedTable.create(df, dir)
    VersionedTable.deleteWithDv(spark, dir, col("v") === "x",
      densityThreshold = 1.0)
    assert(ids(VersionedTable.read(spark, dir)) === Set(2L, 3L))
  }

  test("compaction and cluster fold DVs into clean files") {
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    VersionedTable.deleteWithDv(spark, dir, col("id") % 10L === 0L)
    val c = VersionedTable.compactTable(spark, dir, targetFiles = 1)
    assert(c.dvFiles.isEmpty && c.dvn.isEmpty)
    assert(ids(VersionedTable.read(spark, dir)) ===
      (1L to 200L).filterNot(_ % 10 == 0).toSet)
  }

  test("vacuum never sweeps a live DV sidecar; an expired one is reclaimed") {
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    val s = VersionedTable.deleteWithDv(spark, dir, col("id") % 10L === 0L)
    VersionedTable.append(Seq((201L, "x")).toDF("id", "v"), dir)
    VersionedTable.vacuum(spark, dir, retainVersions = 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    s.dvFiles.foreach(f => assert(
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$f")),
      s"live DV sidecar $f must survive vacuum"))
    assert(ids(VersionedTable.read(spark, dir)) ===
      ((1L to 200L).filterNot(_ % 10 == 0).toSet + 201L))
    // fold the DV away, expire its last referencing version → reclaimed
    VersionedTable.compactTable(spark, dir, targetFiles = 1)
    VersionedTable.vacuum(spark, dir, retainVersions = 1)
    s.dvFiles.foreach(f => assert(
      !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$f")),
      s"expired DV sidecar $f must be reclaimed"))
    assert(ids(VersionedTable.read(spark, dir)) ===
      ((1L to 200L).filterNot(_ % 10 == 0).toSet + 201L))
  }

  test("merge and CoW-update after a DV delete do not resurrect " +
      "soft-deleted rows") {
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    VersionedTable.deleteWithDv(spark, dir, col("id") % 10L === 0L)
    VersionedTable.merge(Seq((5L, "MERGED")).toDF("id", "v"), dir,
      keys = Seq("id"))
    val afterMerge = ids(VersionedTable.read(spark, dir))
    assert(!afterMerge.contains(10L) && !afterMerge.contains(200L),
      "merge's rewrite must start from live rows only")
    assert(VersionedTable.read(spark, dir)
      .filter(col("id") === 5L).select("v").as[String].head() === "MERGED")
    VersionedTable.update(spark, dir, col("id") === 7L,
      Map("v" -> lit("UPDATED")))
    val afterUpdate = ids(VersionedTable.read(spark, dir))
    assert(afterUpdate === (1L to 200L).filterNot(_ % 10 == 0).toSet)
  }

  test("restore across a DV commit carries the deletion vector; restore " +
      "to the pre-DV version resurrects the rows") {
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    VersionedTable.deleteWithDv(spark, dir, col("id") % 10L === 0L) // v3
    VersionedTable.append(Seq((201L, "x")).toDF("id", "v"), dir) // v4
    val r = VersionedTable.restore(spark, dir, 3L) // v5 = v3's state
    assert(r.dvFiles.nonEmpty && r.dvn.values.sum === 20L,
      "restore must carry the target version's DV")
    assert(ids(VersionedTable.read(spark, dir)) ===
      (1L to 200L).filterNot(_ % 10 == 0).toSet)
    VersionedTable.restore(spark, dir, 2L) // pre-DV
    assert(ids(VersionedTable.read(spark, dir)) === (1L to 200L).toSet)
  }

  test("a checkpoint manifest (every 10th version) carries the DV state " +
      "through the full-rerender path") {
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    VersionedTable.deleteWithDv(spark, dir, col("id") % 50L === 0L) // v3
    (4L to 10L).foreach(i => VersionedTable.append(
      Seq((200L + i, s"x$i")).toDF("id", "v"), dir)) // v10 checkpoints full
    val s = VersionedTable.latest(spark, dir).get
    assert(s.version === 10L && s.dvn.values.sum === 4L,
      "the checkpoint full manifest must re-render dvfile=/dvn= lines")
    assert(ids(VersionedTable.read(spark, dir)) ===
      ((1L to 200L).filterNot(_ % 50 == 0).toSet ++ (204L to 210L)))
  }

  // ------------------------------------------------- column mapping (r16)

  test("renameColumn is metadata-only: old files read under the new " +
      "name, stats follow the field id, time travel keeps old names") {
    val dir = tmp()
    VersionedTable.create((1L to 100L).map(i => (i, i * 2))
      .toDF("id", "val1").coalesce(1), dir, Seq("id", "val1"))
    VersionedTable.append((101L to 200L).map(i => (i, i * 2))
      .toDF("id", "val1").coalesce(1), dir, Seq("id", "val1"))
    val before = VersionedTable.latest(spark, dir).get
    val renamed = VersionedTable.renameColumn(spark, dir, "val1", "score")
    assert(renamed.files === before.files, "not one byte of data moves")
    val df = VersionedTable.read(spark, dir)
    assert(df.columns.toSeq === Seq("id", "score"))
    assert(df.select(sum(col("score"))).as[Long].head() ===
      (1L to 200L).map(_ * 2).sum, "old files' values under the new name")
    // skipping stats followed the rename: a range predicate on the NEW
    // name prunes the out-of-range file
    val (kept, pruned) = VersionedTable.pruneInfo(spark, dir,
      col("score") <= 150L)
    assert(kept === 1 && pruned === 1, "stats must follow the rename")
    assert(VersionedTable.countBounds(spark, dir, col("score") <= 400L)
      === Some((200L, 200L)))
    // writes after the rename spell the PHYSICAL name in files, so a
    // mixed old/new read is seamless
    VersionedTable.append(Seq((201L, 9000L)).toDF("id", "score"), dir,
      Seq("id", "score"))
    assert(VersionedTable.read(spark, dir)
      .filter(col("score") === 9000L).count() === 1L)
    // CoW DML through the mapping
    VersionedTable.update(spark, dir, col("id") === 1L,
      Map("score" -> lit(7777L)))
    assert(VersionedTable.read(spark, dir)
      .filter(col("id") === 1L).select("score").as[Long].head() === 7777L)
    // time travel: the pre-rename version keeps ITS recorded names
    assert(VersionedTable.snapshotAt(spark, dir, 2L).columns.toSeq ===
      Seq("id", "val1"))
    // a second rename chains through the same id
    VersionedTable.renameColumn(spark, dir, "score", "quality")
    assert(VersionedTable.read(spark, dir)
      .select(sum(col("quality"))).as[Long].head() ===
      (1L to 200L).map(_ * 2).sum - 2L + 7777L + 9000L)
    // compaction folds the mapping back to physical == logical
    VersionedTable.compactTable(spark, dir, targetFiles = 1)
    assert(VersionedTable.read(spark, dir).columns.toSeq ===
      Seq("id", "quality"))
  }

  test("renameColumn composes with deletion vectors and bloom sidecars") {
    val dir = tmp()
    VersionedTable.create((1L to 100L).map(i => (i, s"t$i"))
      .toDF("id", "txt").coalesce(1), dir, Seq("id"))
    VersionedTable.analyzeBloom(spark, dir, Seq("txt"))
    VersionedTable.renameColumn(spark, dir, "txt", "body")
    // bloom reference followed the rename: a needle on the new name
    val (kept, _) = VersionedTable.pruneInfo(spark, dir,
      col("body") === "t17")
    assert(kept === 1)
    assert(VersionedTable.pruneInfo(spark, dir,
      col("body") === "absent")._1 === 0,
      "the followed bloom must still exclude absent needles")
    VersionedTable.deleteWithDv(spark, dir, col("body") === "t17",
      densityThreshold = 0.9)
    assert(VersionedTable.read(spark, dir)
      .filter(col("body") === "t17").count() === 0L)
    assert(VersionedTable.read(spark, dir).count() === 99L)
  }

  test("dropColumn hides the data; re-adding the dropped name fails " +
      "fast instead of resurrecting it") {
    val dir = tmp()
    VersionedTable.create((1L to 50L).map(i => (i, s"v$i", i * 10))
      .toDF("id", "v", "secret").coalesce(1), dir, Seq("id"))
    VersionedTable.dropColumn(spark, dir, "secret")
    val df = VersionedTable.read(spark, dir)
    assert(df.columns.toSeq === Seq("id", "v"))
    // pre-drop versions still carry it (until vacuum)
    assert(VersionedTable.snapshotAt(spark, dir, 1L).columns.toSeq ===
      Seq("id", "v", "secret"))
    // appends with the remaining shape work
    VersionedTable.append(Seq((51L, "new")).toDF("id", "v"), dir, Seq("id"))
    assert(VersionedTable.read(spark, dir).count() === 51L)
    // re-adding the dropped NAME via schema evolution fails fast
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.append(
        Seq((52L, "x", 999L)).toDF("id", "v", "secret"), dir,
        Seq("id"), mergeSchema = true)
    }
    assert(ex.getMessage.contains("DROPPED"))
    // a DIFFERENT new column still evolves fine and gets a fresh id
    VersionedTable.append(Seq((53L, "y", 5L)).toDF("id", "v", "extra"),
      dir, Seq("id"), mergeSchema = true)
    val sch = VersionedTable.latest(spark, dir).get.schema.get
    assert(sch.fieldNames.toSeq === Seq("id", "v", "extra"))
  }

  test("deleteWithDv rebases over a disjoint concurrent DV delete; " +
      "conflicts when the competitor soft-deleted in a file it read") {
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    // disjoint files: competitor DVs file 2 while we stage file 1 → rebase
    VersionedTable.deleteWithDv(spark, dir, col("id") === 10L,
      maxAttempts = 3,
      onStaged = () =>
        VersionedTable.deleteWithDv(spark, dir, col("id") === 150L))
    assert(ids(VersionedTable.read(spark, dir)) ===
      (1L to 200L).toSet -- Set(10L, 150L))
    // same file: competitor DVs a row in OUR touched file → typed conflict
    val ex = intercept[graft.sources.ConflictingCommitException] {
      VersionedTable.deleteWithDv(spark, dir, col("id") === 20L,
        maxAttempts = 3,
        onStaged = () =>
          VersionedTable.deleteWithDv(spark, dir, col("id") === 30L))
    }
    assert(ex.getMessage.contains("deletion vector"))
  }

  test("DML DEFAULTS rebase disjoint concurrent commits (Delta parity, r17): " +
      "no caller-visible conflict on disjoint files; overlap still fails typed") {
    // the reference's daily job racing a backfill (docs/runbook.md) —
    // with DEFAULT arguments both land iff their touched files are
    // provably disjoint; the caller writes no retry code
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    VersionedTable.deleteWithDv(spark, dir, col("id") === 11L,
      onStaged = () =>
        VersionedTable.deleteWithDv(spark, dir, col("id") === 151L))
    assert(ids(VersionedTable.read(spark, dir)) ===
      (1L to 200L).toSet -- Set(11L, 151L))
    VersionedTable.updateWithDv(spark, dir, col("id") === 12L,
      Map("v" -> lit("uA")),
      onStaged = () =>
        VersionedTable.updateWithDv(spark, dir, col("id") === 152L,
          Map("v" -> lit("uB"))))
    val vals = VersionedTable.read(spark, dir)
      .filter(col("id").isin(12L, 152L))
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(vals === Map(12L -> "uA", 152L -> "uB"))
    // overlap under defaults: still the TYPED conflict, never a wrong rebase
    val ex = intercept[graft.sources.ConflictingCommitException] {
      VersionedTable.deleteWithDv(spark, dir, col("id") === 21L,
        onStaged = () =>
          VersionedTable.deleteWithDv(spark, dir, col("id") === 31L))
    }
    assert(ex.getMessage.contains("deletion vector"))
  }

  // ------------------------------------------- merge-on-read UPDATE (r16)

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.select("id", "v").as[(Long, String)].collect().toMap

  test("updateWithDv: merge-on-read update — same answer as CoW update, " +
      "pre-update files kept, post-images appended, time travel intact") {
    val dir = tmp()
    dvTable(dir, files = 4, per = 250L)
    val before = VersionedTable.latest(spark, dir).get
    val s = VersionedTable.updateWithDv(spark, dir, col("id") % 100L === 0L,
      Map("v" -> concat(col("v"), lit("!"))))
    assert(s.operation === "update")
    assert(before.files.forall(s.files.contains),
      "a sub-threshold update must keep every pre-update data file")
    assert(s.files.size > before.files.size,
      "the post-image rows must land as appended files")
    assert(s.dvFiles.nonEmpty && s.dvn.values.sum === 10L,
      s"10 soft-updated positions, got ${s.dvn}")
    val got = asMap(VersionedTable.read(spark, dir))
    val expect = (1L to 1000L).map(i =>
      i -> (if (i % 100L == 0L) s"v$i!" else s"v$i")).toMap
    assert(got === expect)
    // identical answer to the CoW update on a twin table
    val twin = tmp()
    dvTable(twin, files = 4, per = 250L)
    VersionedTable.update(spark, twin, col("id") % 100L === 0L,
      Map("v" -> concat(col("v"), lit("!"))))
    assert(got === asMap(VersionedTable.read(spark, twin)))
    // time travel across the merge-on-read commit
    assert(asMap(VersionedTable.snapshotAt(spark, dir, 4L)) ===
      (1L to 1000L).map(i => i -> s"v$i").toMap)
  }

  test("updateWithDv density threshold and fully-matched files fall back " +
      "to copy-on-write; sub-threshold files stay on the DV path") {
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    // file 1: every row matches → CoW rewrite; file 2: 10% → DV
    val s = VersionedTable.updateWithDv(spark, dir,
      col("id") <= 100L || col("id") % 10L === 1L,
      Map("v" -> lit("u")))
    // file 1 was rewritten (removed), file 2 carried with a DV
    assert(s.dvn.size === 1 && s.dvn.values.sum === 10L)
    assert(s.operation === "update")
    val got = asMap(VersionedTable.read(spark, dir))
    assert(got === (1L to 200L).map(i =>
      i -> (if (i <= 100L || i % 10L == 1L) "u" else s"v$i")).toMap)
    // cumulative density: +10% more on file 2 crosses the 0.15 default
    // → its DV history folds into a clean rewrite
    val s2 = VersionedTable.updateWithDv(spark, dir,
      col("id") > 100L && col("id") % 10L === 2L, Map("v" -> lit("w")))
    assert(s2.dvn.isEmpty && s2.dvFiles.isEmpty,
      "the CoW fallback must fold the file's DV history away")
    assert(asMap(VersionedTable.read(spark, dir)) === (1L to 200L).map(i =>
      i -> (if (i <= 100L || i % 10L == 1L) "u"
            else if (i % 10L == 2L) "w" else s"v$i")).toMap)
  }

  test("updateWithDv composes with deleteWithDv: countBounds prices live " +
      "rows, appended post-images carry skipping stats") {
    val dir = tmp()
    dvTable(dir, files = 1, per = 100L)
    VersionedTable.deleteWithDv(spark, dir,
      col("id") % 10L === 0L, densityThreshold = 0.3)           // -10
    VersionedTable.updateWithDv(spark, dir,
      col("id") % 10L === 5L, Map("v" -> lit("u")),
      densityThreshold = 0.3)                                    // 10 move
    // 100 original + 10 post-images, 20 soft-dead → 90 live
    assert(VersionedTable.countBounds(spark, dir, lit(true)) ===
      Some((90L, 90L)))
    assert(ids(VersionedTable.read(spark, dir)) ===
      (1L to 100L).filterNot(_ % 10L == 0L).toSet)
    // the post-image file carries fresh id stats: a needle on an
    // updated id keeps the appended file and the original, nothing else
    val (kept, _) = VersionedTable.pruneInfo(spark, dir, col("id") === 5L)
    assert(kept <= 2, s"post-image stats must bound the needle scan, kept $kept")
    assert(asMap(VersionedTable.read(spark, dir)).get(5L) === Some("u"))
  }

  test("updateWithDv rebases over a disjoint concurrent commit; conflicts " +
      "when the competitor touched a file or DV it read") {
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    VersionedTable.updateWithDv(spark, dir, col("id") === 10L,
      Map("v" -> lit("u")), maxAttempts = 3,
      onStaged = () =>
        VersionedTable.deleteWithDv(spark, dir, col("id") === 150L))
    assert(asMap(VersionedTable.read(spark, dir)).get(10L) === Some("u"))
    assert(!ids(VersionedTable.read(spark, dir)).contains(150L))
    val ex = intercept[graft.sources.ConflictingCommitException] {
      VersionedTable.updateWithDv(spark, dir, col("id") === 20L,
        Map("v" -> lit("x")), maxAttempts = 3,
        onStaged = () =>
          VersionedTable.deleteWithDv(spark, dir, col("id") === 30L))
    }
    assert(ex.getMessage.contains("deletion vector"))
  }

  test("mergeWithDv: merge-on-read MERGE — same answer as merge(), " +
      "pre-merge files kept, matches DV'd, batch appended once") {
    val dir = tmp()
    dvTable(dir, files = 4, per = 250L)
    val before = VersionedTable.latest(spark, dir).get
    // 10 updates (one per 100) + 5 inserts past the key range
    val updates = ((1L to 1000L).filter(_ % 100L == 0L).map(i =>
      (i, s"upd$i")) ++ (2001L to 2005L).map(i => (i, s"new$i")))
      .toDF("id", "v")
    val s = VersionedTable.mergeWithDv(updates, dir, Seq("id"))
    assert(s.operation === "merge")
    assert(before.files.forall(s.files.contains),
      "a sub-threshold merge must keep every pre-merge data file")
    assert(s.dvn.values.sum === 10L, s"10 matched positions, got ${s.dvn}")
    val got = asMap(VersionedTable.read(spark, dir))
    val expect = ((1L to 1000L).map(i =>
      i -> (if (i % 100L == 0L) s"upd$i" else s"v$i")) ++
      (2001L to 2005L).map(i => i -> s"new$i")).toMap
    assert(got === expect)
    // identical answer to the rewrite merge on a twin table
    val twin = tmp()
    dvTable(twin, files = 4, per = 250L)
    VersionedTable.merge(updates, twin, Seq("id"))
    assert(got === asMap(VersionedTable.read(spark, twin)))
    // time travel across the merge-on-read commit
    assert(asMap(VersionedTable.snapshotAt(spark, dir, 4L)) ===
      (1L to 1000L).map(i => i -> s"v$i").toMap)
  }

  test("mergeWithDv mixed lanes: a dense file rewrites (DV folded), a " +
      "sparse file DVs; folded update rows never land twice") {
    val dir = tmp()
    dvTable(dir, files = 2, per = 100L)
    // 40 matches in file 1 (40% → CoW), 2 in file 2 (2% → DV), 3 inserts
    val updates = (((1L to 40L) ++ Seq(150L, 160L)).map(i =>
      (i, s"upd$i")) ++ (301L to 303L).map(i => (i, s"new$i")))
      .toDF("id", "v")
    val s = VersionedTable.mergeWithDv(updates, dir, Seq("id"))
    assert(s.dvn.size === 1 && s.dvn.values.sum === 2L,
      s"only the sparse file carries a DV, got ${s.dvn}")
    val got = asMap(VersionedTable.read(spark, dir))
    assert(got.size === 203, "200 base + 3 inserts, each exactly once")
    assert(got === ((1L to 200L).map(i =>
      i -> (if (i <= 40L || i == 150L || i == 160L) s"upd$i" else s"v$i")) ++
      (301L to 303L).map(i => i -> s"new$i")).toMap)
    // countBounds prices the commit exactly
    assert(VersionedTable.countBounds(spark, dir, lit(true)) ===
      Some((203L, 203L)))
  }

  test("mergeWithDv with no possible match appends the whole batch as " +
      "inserts — no scan, no DV") {
    val dir = tmp()
    dvTable(dir, files = 1, per = 100L)
    val s = VersionedTable.mergeWithDv(
      (901L to 905L).map(i => (i, s"new$i")).toDF("id", "v"),
      dir, Seq("id"))
    assert(s.dvFiles.isEmpty && s.dvn.isEmpty)
    assert(ids(VersionedTable.read(spark, dir)) ===
      ((1L to 100L) ++ (901L to 905L)).toSet)
    // the SQL MERGE dup-key rule still enforced on this path
    intercept[IllegalArgumentException] {
      VersionedTable.mergeWithDv(
        Seq((7L, "a"), (7L, "b")).toDF("id", "v"), dir, Seq("id"))
    }
  }

  test("updateWithDv composes with column mapping: post-images re-spell " +
      "to physical names under a renamed column") {
    val dir = tmp()
    VersionedTable.create((1L to 100L).map(i => (i, s"t$i"))
      .toDF("id", "txt").coalesce(1), dir, Seq("id"))
    VersionedTable.renameColumn(spark, dir, "txt", "body")
    VersionedTable.updateWithDv(spark, dir, col("id") === 17L,
      Map("body" -> lit("updated")), densityThreshold = 0.9)
    val got = VersionedTable.read(spark, dir)
      .select("id", "body").as[(Long, String)].collect().toMap
    assert(got(17L) === "updated" && got(18L) === "t18" && got.size === 100)
    // compaction folds the DV and the physical spelling keeps working
    VersionedTable.compactTable(spark, dir, 1, Seq("id"))
    assert(VersionedTable.latest(spark, dir).get.dvn.isEmpty)
    assert(VersionedTable.read(spark, dir)
      .filter(col("body") === "updated").count() === 1L)
  }

  test("a stale writer cannot resurrect a vacuum-vacated version slot; " +
      "stranded debris reads around and sweeps away") {
    import graft.sources.ConcurrentCommitException
    val dir = tmp()
    VersionedTable.create((1L to 10L).toDF("id"), dir)
    (2 to 6).foreach(i =>
      VersionedTable.append(Seq(100L + i).toDF("id"), dir)) // head v6
    VersionedTable.vacuum(spark, dir, retainVersions = 2) // drops v1-v4
    // the freshness check refuses a claim of the vacated v3 slot (the
    // DvRace corruption: a stale auto-rebasing writer claiming a slot
    // vacuum emptied, committing a delta on a base that is gone)
    val e = intercept[ConcurrentCommitException] {
      VersionedTable.commit(spark, dir,
        VersionedTable.Snapshot(3L, 0L, "append", Seq.empty))
    }
    assert(e.getMessage.contains("cannot be claimed"), e.getMessage)
    // ...and a claim whose base was never committed (far past the head)
    val e2 = intercept[ConcurrentCommitException] {
      VersionedTable.commit(spark, dir,
        VersionedTable.Snapshot(99L, 0L, "append", Seq.empty))
    }
    assert(e2.getMessage.contains("cannot be claimed"), e2.getMessage)
    assert(VersionedTable.latest(spark, dir).get.version === 6L,
      "refused claims must leave the head untouched")
    // legacy debris planted by a pre-fix writer: a complete delta in a
    // vacated slot. The chain must read AROUND it (skip, not brick —
    // the later full manifest supersedes it) and the next vacuum must
    // sweep the file.
    val debris = java.nio.file.Paths.get(dir, "_manifests",
      "v00000003.manifest")
    java.nio.file.Files.write(debris,
      "version=3\ntimestamp=1\noperation=update\nkind=delta\nbase=2\nend=0\n"
        .getBytes("UTF-8"))
    assert(VersionedTable.snapshots(spark, dir).map(_.version) ===
      Seq(5L, 6L), "stranded delta must be skipped, not resolved or fatal")
    assert(ids(VersionedTable.read(spark, dir)) ===
      (1L to 10L).toSet ++ (102L to 106L).toSet)
    VersionedTable.vacuum(spark, dir, retainVersions = 2)
    assert(!java.nio.file.Files.exists(debris),
      "vacuum must sweep unknown below-head manifest debris")
  }

  // ------------------------------------------------------ DML planner

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** A byte-identical twin of a table directory (data, sidecars,
    * manifests), so two policies start from exactly the same state.
    */
  private def copyTable(src: String): String = {
    val dst = tmp()
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(src), new java.io.File(dst))
    dst
  }

  /** Run one DML under copy-on-write and under deletion vectors on twin
    * copies of `base`; both must leave the same table and emit the same
    * change feed for the commit. Returns the shapes the DV twin used.
    */
  private def samePolicies(base: String, what: String)(
      cow: String => Any, dv: String => Any): Set[String] = {
    val before = VersionedTable.latest(spark, base).get
    val from = before.version
    val (a, b) = (copyTable(base), copyTable(base))
    cow(a); dv(b)
    val after = VersionedTable.latest(spark, b).get
    // one action per comparison: both twins' rows, tagged by twin
    def twins(f: String => org.apache.spark.sql.DataFrame) = {
      val got = f(a).withColumn("twin", lit("cow"))
        .unionByName(f(b).withColumn("twin", lit("dv"))).collect()
        .groupBy(_.getAs[String]("twin"))
        .map { case (k, rs) =>
          k -> rs.map(_.toSeq.init.mkString("|")).toSeq.sorted }
      assert(got.getOrElse("cow", Nil) === got.getOrElse("dv", Nil), what)
    }
    twins(VersionedTable.read(spark, _))
    twins(graft.sources.ChangeFeed.readChanges(spark, _, from, from + 1,
      Seq("id")).select("id", "v", "n", "_change_type", "_commit_version"))
    Set("dv" -> after.dvn.exists { case (f, n) =>
        !before.dvn.get(f).contains(n) },
      "removed" -> before.files.exists(f => !after.files.contains(f)))
      .collect { case (shape, true) => shape }
  }

  test("policy sweep: copy-on-write and deletion vectors leave the same " +
      "table and change feed for DELETE, UPDATE and MERGE") {
    val shapes = scala.collection.mutable.Set.empty[String]
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val files = 3 + rnd.nextInt(3)
      val per = 30 + rnd.nextInt(30)
      val top = files * per
      val base = tmp()
      VersionedTable.create((1 to top).map(i => (i.toLong, s"v$i",
        if (i % 11 == 0) None else Some(i % 7))).toDF("id", "v", "n")
        .repartitionByRange(files, col("id")), base, Seq("id", "n"))
      // even seeds start from prior DVs the DML must extend or fold
      if (seed % 2 == 0) VersionedTable.deleteWithDv(spark, base,
        col("id") % 9L === 4L, densityThreshold = 0.5)
      def pick(): org.apache.spark.sql.Column = rnd.nextInt(5) match {
        case 0 => col("id") % (2 + rnd.nextInt(9)) === rnd.nextInt(2)
        case 1 => col("id") <= 1 + rnd.nextInt(top) // whole files die
        case 2 => col("n") > rnd.nextInt(7)          // NULL n never matches
        case 3 => col("id") > top - rnd.nextInt(2 * per) && col("id") % 3 === 0
        case _ => col("id") === 1 + rnd.nextInt(top)
      }
      val t = Seq(0.05, 0.15, 0.5, 1.0)(rnd.nextInt(4))
      val pd = pick()
      shapes ++= samePolicies(base, s"seed $seed: delete $pd at $t")(
        VersionedTable.delete(spark, _, pd),
        VersionedTable.deleteWithDv(spark, _, pd, densityThreshold = t))
      val pu = pick()
      val set = Map("v" -> concat(col("v"), lit("!")), "n" -> (col("n") + 1))
      shapes ++= samePolicies(base, s"seed $seed: update $pu at $t")(
        VersionedTable.update(spark, _, pu, set),
        VersionedTable.updateWithDv(spark, _, pu, set, densityThreshold = t))
      val hitKeys = rnd.shuffle((1L to top.toLong).toList)
        .take(1 + rnd.nextInt(top / 3))
      val updates = (hitKeys ++ (1 to rnd.nextInt(4)).map(top.toLong + _))
        .map(i => (i, s"m$i", if (rnd.nextBoolean()) None else Some(-1)))
        .toDF("id", "v", "n")
      shapes ++= samePolicies(base,
          s"seed $seed: merge ${hitKeys.size} keys at $t")(
        VersionedTable.merge(updates, _, Seq("id")),
        VersionedTable.mergeWithDv(updates, _, Seq("id"),
          densityThreshold = t))
    }
    assert(shapes === Set("dv", "removed"),
      "the seeds must drive both DV'd and rewritten or dropped files")
  }

  test("DML on a pre-schema-tracking manifest answers like a schema-" +
      "tracked twin, and its commit records the schema") {
    // the same files committed with and without a schema line
    def table(tracked: Boolean): String = {
      val dir = tmp()
      val v1 = VersionedTable.create((1L to 20L).map(i => (i, s"v$i"))
        .toDF("id", "v").coalesce(1), dir)
      VersionedTable.commit(spark, dir, VersionedTable.Snapshot(2L, 0L,
        "legacy", v1.files,
        schemaJson = if (tracked) v1.schemaJson else None))
      assert(VersionedTable.latest(spark, dir).get.schemaJson.isEmpty ===
        !tracked)
      dir
    }
    val upd = Seq((2L, "m2"), (99L, "new")).toDF("id", "v")
    val dmls: Seq[(String, String => VersionedTable.Snapshot)] = Seq(
      "delete" -> (VersionedTable.delete(spark, _, col("id") % 3L === 0L)),
      "update" -> (VersionedTable.update(spark, _, col("id") <= 5L,
        Map("v" -> lit("u")))),
      "merge" -> (VersionedTable.merge(upd, _, Seq("id"))),
      // the deletion-vector verbs read the footer schema like the others
      "deleteWithDv" -> (VersionedTable.deleteWithDv(spark, _,
        col("id") === 4L)),
      "updateWithDv" -> (VersionedTable.updateWithDv(spark, _,
        col("id") === 6L, Map("v" -> lit("u")))),
      "mergeWithDv" -> (VersionedTable.mergeWithDv(upd, _, Seq("id"))))
    for ((name, run) <- dmls) {
      val (legacy, twin) = (table(tracked = false), table(tracked = true))
      val s = run(legacy)
      run(twin)
      def fields(sn: VersionedTable.Snapshot) =
        sn.schema.map(_.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(fields(s) === fields(VersionedTable.latest(spark, twin).get),
        s"$name must record the footer schema")
      if (name.endsWith("WithDv"))
        assert(s.dvn.values.sum === 1L, s"$name must soft-delete one row")
      assert(rowsOf(VersionedTable.read(spark, legacy)) ===
        rowsOf(VersionedTable.read(spark, twin)), name)
    }
  }

  test("job shape: copy-on-write DML launches no vt:dml-price job; each " +
      "deletion-vector verb launches one") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descs.add)
    }
    def priceJobs(body: => Any): Int = {
      org.apache.spark.graft.ListenerSync.waitUntilEmpty(sc)
      descs.clear()
      body
      org.apache.spark.graft.ListenerSync.waitUntilEmpty(sc)
      descs.asScala.count(_ == "vt:dml-price")
    }
    sc.addSparkListener(listener)
    try {
      val dir = tmp()
      dvTable(dir, files = 2, per = 100L)
      assert(priceJobs(VersionedTable.delete(spark, dir, col("id") === 5L))
        === 0)
      assert(priceJobs(VersionedTable.update(spark, dir, col("id") === 6L,
        Map("v" -> lit("u")))) === 0)
      assert(priceJobs(VersionedTable.merge(Seq((7L, "m")).toDF("id", "v"),
        dir, Seq("id"))) === 0)
      assert(priceJobs(VersionedTable.deleteWithDv(spark, dir,
        col("id") === 150L)) >= 1)
      assert(priceJobs(VersionedTable.updateWithDv(spark, dir,
        col("id") === 151L, Map("v" -> lit("u")))) >= 1)
      assert(priceJobs(VersionedTable.mergeWithDv(
        Seq((152L, "m")).toDF("id", "v"), dir, Seq("id"))) >= 1)
    } finally sc.removeSparkListener(listener)
  }

  test("merge aligns the update frame to the table's columns by name on " +
      "both policies; extra source columns are ignored") {
    for (dv <- Seq(false, true)) {
      val dir = tmp()
      // key column last, so the upsert's key-first output differs from
      // the table order; the update frame lists yet another order
      VersionedTable.create((1L to 10L).map(i => (s"v$i", i)).toDF("v", "id")
        .coalesce(1), dir, Seq("id"))
      VersionedTable.append((11L to 20L).map(i => (s"v$i", i))
        .toDF("v", "id").coalesce(1), dir, Seq("id"))
      val upd = Seq((3L, "m3", 0), (30L, "new", 0)).toDF("id", "v", "junk")
      if (dv) VersionedTable.mergeWithDv(upd, dir, Seq("id"),
        densityThreshold = 0.9)
      else VersionedTable.merge(upd, dir, Seq("id"))
      val out = VersionedTable.read(spark, dir)
      assert(out.columns.toSeq === Seq("v", "id"), s"dv=$dv")
      assert(asMap(out) === (1L to 20L).map(i =>
        i -> (if (i == 3L) "m3" else s"v$i")).toMap + (30L -> "new"),
        s"dv=$dv")
    }
  }

  test("merge never changes column types, even when it rewrites every " +
      "file") {
    for (dv <- Seq(false, true)) {
      val dir = tmp()
      VersionedTable.create(Seq((1L, 1), (2L, 2)).toDF("id", "n")
        .coalesce(1), dir)
      val upd = Seq((1L, 10L)).toDF("id", "n") // n: bigint over int
      val e = intercept[IllegalArgumentException] {
        if (dv) VersionedTable.mergeWithDv(upd, dir, Seq("id"))
        else VersionedTable.merge(upd, dir, Seq("id"))
      }
      assert(e.getMessage.contains("cannot change column types"), s"dv=$dv")
      assert(VersionedTable.latest(spark, dir).get.version === 1L)
    }
  }

  test("DELETE survivors pass the CHECK guard on both policies: a rewrite " +
      "of rows that violate a recorded constraint fails") {
    for (dv <- Seq(false, true)) {
      val dir = tmp()
      val v1 = VersionedTable.create((1L to 10L).map(i =>
        (i, if (i == 9L) -1.0 else i * 1.0)).toDF("id", "price").coalesce(1),
        dir)
      // a hand-committed constraint the live rows violate (the public
      // addCheckConstraint would refuse it)
      VersionedTable.commit(spark, dir, VersionedTable.Snapshot(2L, 0L,
        "legacy", v1.files, v1.stats, v1.schemaJson,
        constraints = Map("pos" -> "price > 0")))
      intercept[graft.sources.ConstraintViolationException] {
        if (dv) VersionedTable.deleteWithDv(spark, dir, col("id") <= 3L,
          densityThreshold = 0.1) // 30% dead: the file rewrites
        else VersionedTable.delete(spark, dir, col("id") <= 3L)
      }
      assert(VersionedTable.latest(spark, dir).get.version === 2L, s"dv=$dv")
    }
  }

  // ------------------------------------------------------ write step

  /** What a write leaves, comparable across twins: rows, the multiset of
    * per-file stats (staged file names differ between twins), the
    * recorded schema, the rule sets and the table id.
    */
  private def writeState(dir: String) = {
    val s = VersionedTable.latest(spark, dir).get
    (rowsOf(VersionedTable.read(spark, dir)),
      s.files.map(f => s.stats.get(f).map(st =>
        (st.rowCount, st.cols.toSeq.sortBy(_._1))).toString).sorted,
      s.schema, s.constraints, s.generatedCols, s.tableId)
  }

  /** Run each writer on its own twin copy of `base`; all must agree. */
  private def sameWrites(base: String, what: String)(
      writers: (String, String => Any)*): Unit = {
    val states = writers.map { case (name, w) =>
      val d = copyTable(base)
      w(d)
      name -> writeState(d)
    }
    states.tail.foreach { case (name, st) =>
      assert(st === states.head._2, s"$what: $name vs ${states.head._1}")
    }
  }

  test("write sweep: append, appendWithRetry, appendTagged and the " +
      "streaming sink, and overwrite tagged or not, leave the same table") {
    import graft.streaming.Streams
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val files = 2 + rnd.nextInt(3)
      val top = files * (20 + rnd.nextInt(20))
      val base = tmp()
      VersionedTable.create((1 to top).map(i => (i.toLong, s"v$i", i % 7))
        .toDF("id", "v", "n").repartitionByRange(files, col("id")), base,
        Seq("id", "n"), generatedCols = Map("bucket" -> "id % 5"))
      VersionedTable.addCheckConstraint(spark, base, "nonneg", "n >= 0")
      // the last seed writes over a manifest without a schema line, as a
      // table from before schema tracking has
      if (seed == 3) {
        val p = VersionedTable.latest(spark, base).get
        VersionedTable.commit(spark, base, VersionedTable.Snapshot(
          p.version + 1, 0L, "legacy", p.files, p.stats, schemaJson = None,
          tableId = p.tableId, constraints = p.constraints,
          generatedCols = p.generatedCols))
      }
      val batch = (1 to 1 + rnd.nextInt(30))
        .map(i => ((top + i).toLong, s"b$i", rnd.nextInt(7)))
        .toDF("id", "v", "n").repartition(1 + rnd.nextInt(3))
      // odd seeds name the stats columns, even ones name none
      val stats = if (seed % 2 == 1) Seq("id") else Nil
      sameWrites(base, s"seed $seed append")(
        "append" -> (VersionedTable.append(batch, _, stats)),
        "appendWithRetry" -> (VersionedTable.appendWithRetry(batch, _, stats)),
        "appendTagged" -> (VersionedTable.appendTagged(batch, _,
          s"append#$seed", stats)),
        "processVersionedBatch" -> (Streams.processVersionedBatch(batch,
          seed.toLong, _, stats)))
      val repl = batch.withColumn("v", concat(col("v"), lit("!")))
      sameWrites(base, s"seed $seed overwrite")(
        "overwrite" -> (VersionedTable.overwrite(repl, _, stats)),
        "tagged overwrite" -> (d => VersionedTable.write(repl, d,
          s"view#$seed", VersionedTable.latest(spark, d), stats,
          overwrite = true)))
    }
  }

  test("a tagged overwrite refuses to drop a column a CHECK constraint " +
      "references, like overwrite, and the table keeps its version") {
    val dir = tmp()
    VersionedTable.create(Seq(("a", 1L, 2L, "x"))
      .toDF("g", "n_rows", "sum_x", "note"), dir)
    // NULL passes a CHECK, so without the guard the view refresh (which
    // drops `note`) would commit and every later append would fail
    VersionedTable.addCheckConstraint(spark, dir, "sane", "note <> 'bad'")
    val before = VersionedTable.latest(spark, dir).get.version
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.processViewBatch(Seq(("a", 5L)).toDF("g", "x"),
        0L, dir, Seq("g"), Seq("x"))
    }
    assert(e.getMessage.contains(
      "overwrite drops column note referenced by CHECK constraint sane"))
    assert(VersionedTable.latest(spark, dir).get.version === before)
  }

  test("a tagged overwrite refuses to drop a generated column's source " +
      "column, like overwrite, and the table keeps its version") {
    val dir = tmp()
    VersionedTable.create(Seq(("a", 1L, 2L, "x"))
      .toDF("g", "n_rows", "sum_x", "note"), dir,
      generatedCols = Map("note_len" -> "length(note)"))
    val before = VersionedTable.latest(spark, dir).get.version
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.processViewBatch(Seq(("a", 5L)).toDF("g", "x"),
        0L, dir, Seq("g"), Seq("x"))
    }
    assert(e.getMessage.contains("overwrite drops column note that " +
      "generated column note_len"))
    assert(VersionedTable.latest(spark, dir).get.version === before)
  }

  test("a write that names no stats columns stages stats on every column " +
      "the table tracks, through every entry point") {
    val base = tmp()
    VersionedTable.create((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1), base, Seq("id"))
    val batch = Seq((21L, "b")).toDF("id", "v")
    val writers: Seq[(String, String => Any)] = Seq(
      "append" -> (VersionedTable.append(batch, _)),
      "appendWithRetry" -> (VersionedTable.appendWithRetry(batch, _)),
      "appendTagged" -> (VersionedTable.appendTagged(batch, _, "append#1")),
      "processVersionedBatch" -> (graft.streaming.Streams
        .processVersionedBatch(batch, 1L, _)),
      "overwrite" -> (VersionedTable.overwrite(batch, _)),
      "tagged overwrite" -> (d => VersionedTable.write(batch, d, "view#1",
        VersionedTable.latest(spark, d), overwrite = true)))
    for ((name, w) <- writers) {
      val d = copyTable(base)
      val before = VersionedTable.latest(spark, d).get.files.toSet
      w(d)
      val s = VersionedTable.latest(spark, d).get
      val added = s.files.filterNot(before)
      assert(added.nonEmpty && added.forall(f =>
        s.stats.get(f).exists(_.cols.keySet == Set("id"))), name)
    }
  }

  test("a competitor append that names no stats columns carries the " +
      "tracked ones, so a DML rebases over it") {
    val dir = tmp()
    VersionedTable.create((0L until 100L).toDF("id").withColumn("v", lit("x"))
      .repartitionByRange(2, col("id")), dir, Seq("id"))
    val snap = cowDelete(dir, col("id") < 10L,
      onStaged = () => {
        VersionedTable.append(Seq((300L, "z")).toDF("id", "v"), dir)
        ()
      })
    assert(snap.version === 3L && snap.operation === "delete")
    assert(ids(VersionedTable.read(spark, dir)) ===
      ((10L until 100L) :+ 300L).toSet)
  }

  test("a tagged append whose table lost every commit mid-retry fails " +
      "instead of recreating the table") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), dir)
    val e = intercept[RuntimeException] {
      VersionedTable.write(Seq((2L, "b")).toDF("id", "v"), dir, "append#1",
        VersionedTable.latest(spark, dir), tagged = true, maxAttempts = 3,
        onStaged = () => {
          // v1 gone and a fresh torn claim on v2: no snapshot resolves
          java.nio.file.Files.delete(manifestPath(dir, 1L))
          java.nio.file.Files.write(manifestPath(dir, 2L),
            "version=2\ntimestamp=1\noperation=append\n".getBytes("UTF-8"))
          ()
        })
    }
    assert(e.getMessage.contains("lost all commits"))
    assert(VersionedTable.latest(spark, dir).isEmpty)
  }
}
