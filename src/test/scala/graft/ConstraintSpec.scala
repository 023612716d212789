package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ConflictingCommitException,
  ConstraintViolationException, VersionedTable}

/** CHECK constraints (table invariants) on the versioned table:
  * metadata-only add/drop commits, write-path enforcement fused into
  * every row-adding staging job (append / streaming append / overwrite /
  * merge / CoW update / DV update / DV merge), SQL three-valued
  * semantics (TRUE and NULL pass, FALSE rejects), schema-evolution and
  * column-mapping interplay, restore/time-travel carry, and the
  * constraint-changed-mid-race conflict. Mirrors Delta Lake's
  * ALTER TABLE ADD CONSTRAINT (reference runbook ops are Delta
  * maintenance; constraints are the data-quality half of that story).
  */
class ConstraintSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-constraint").toString

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("addCheckConstraint commits metadata-only; violating append rejects atomically; valid append passes") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"),
      dir)
    val s = VersionedTable.addCheckConstraint(spark, dir,
      "positive_price", "price > 0")
    assert(s.operation === "add_constraint")
    assert(s.constraints === Map("positive_price" -> "price > 0"))
    assert(s.files === VersionedTable.snapshots(spark, dir)
      .find(_.version == 1L).get.files,
      "add_constraint is metadata-only: same data files")
    // valid rows pass
    VersionedTable.append(Seq((3L, 30.0)).toDF("id", "price"), dir)
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L, 3L))
    // one bad row rejects the WHOLE batch, atomically
    val e = intercept[ConstraintViolationException] {
      VersionedTable.append(
        Seq((4L, 40.0), (5L, -1.0)).toDF("id", "price"), dir)
    }
    assert(e.getMessage.contains("positive_price"))
    assert(e.getMessage.contains("-1"), s"message names the row: ${e.getMessage}")
    val after = VersionedTable.latest(spark, dir).get
    assert(after.version === 3L, "failed append must not commit")
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L, 3L))
  }

  test("SQL three-valued semantics: NULL passes CHECK; IS NOT NULL spells a NOT NULL constraint") {
    val dir = tmp()
    VersionedTable.create(
      Seq((1L, Some(10.0))).toDF("id", "price"), dir)
    VersionedTable.addCheckConstraint(spark, dir, "pos", "price > 0")
    // NULL price: `price > 0` is NULL -> passes (SQL CHECK)
    VersionedTable.append(
      Seq((2L, None: Option[Double])).toDF("id", "price"), dir)
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L))
    // NOT NULL spelled as CHECK, on a table whose rows all satisfy it
    val dir2 = tmp()
    VersionedTable.create(
      Seq((1L, Some(1.0))).toDF("id", "price"), dir2)
    VersionedTable.addCheckConstraint(spark, dir2, "price_not_null",
      "price IS NOT NULL")
    intercept[ConstraintViolationException] {
      VersionedTable.append(
        Seq((3L, None: Option[Double])).toDF("id", "price"), dir2)
    }
    VersionedTable.append(Seq((3L, Some(3.0))).toDF("id", "price"), dir2)
    assert(ids(VersionedTable.read(spark, dir2)) === Set(1L, 3L))
  }

  test("addCheckConstraint validates EXISTING rows (DVs applied) and refuses unknown columns / dup names / no-column exprs") {
    val dir = tmp()
    VersionedTable.create(
      Seq((1L, 1.0), (2L, -2.0)).toDF("id", "price"), dir)
    val e = intercept[ConstraintViolationException] {
      VersionedTable.addCheckConstraint(spark, dir, "pos", "price > 0")
    }
    assert(e.getMessage.contains("existing row"))
    assert(VersionedTable.latest(spark, dir).get.version === 1L)
    // soft-delete the violating row: live rows now satisfy it
    VersionedTable.deleteWithDv(spark, dir, col("price") < 0,
      densityThreshold = 0.9)
    VersionedTable.addCheckConstraint(spark, dir, "pos", "price > 0")
    assert(VersionedTable.latest(spark, dir).get.constraints
      .contains("pos"))
    intercept[IllegalArgumentException] {
      VersionedTable.addCheckConstraint(spark, dir, "pos", "id > 0")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.addCheckConstraint(spark, dir, "ghost", "nope > 0")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.addCheckConstraint(spark, dir, "const", "1 > 0")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.addCheckConstraint(spark, dir, "bad name!", "id > 0")
    }
  }

  test("dropCheckConstraint lifts enforcement; old versions still record the constraint (time travel)") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, 1.0)).toDF("id", "price"), dir)
    VersionedTable.addCheckConstraint(spark, dir, "pos", "price > 0")
    intercept[ConstraintViolationException] {
      VersionedTable.append(Seq((2L, -1.0)).toDF("id", "price"), dir)
    }
    VersionedTable.dropCheckConstraint(spark, dir, "pos")
    VersionedTable.append(Seq((2L, -1.0)).toDF("id", "price"), dir)
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L))
    val snaps = VersionedTable.snapshots(spark, dir)
    assert(snaps.find(_.version == 2L).get.constraints === Map("pos" -> "price > 0"))
    assert(snaps.last.constraints === Map.empty)
    intercept[RuntimeException] {
      VersionedTable.dropCheckConstraint(spark, dir, "pos") // already gone
    }
  }

  test("enforcement covers every row-adding path: overwrite, merge, CoW update, DV update, DV merge; DELETE is exempt") {
    val dir = tmp()
    VersionedTable.create(
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "price"), dir,
      statsCols = Seq("id"))
    VersionedTable.addCheckConstraint(spark, dir, "pos", "price > 0")
    intercept[ConstraintViolationException] {
      VersionedTable.overwrite(Seq((1L, -1.0)).toDF("id", "price"), dir)
    }
    intercept[ConstraintViolationException] {
      VersionedTable.merge(Seq((1L, -5.0)).toDF("id", "price"), dir,
        keys = Seq("id"))
    }
    intercept[ConstraintViolationException] {
      VersionedTable.update(spark, dir, col("id") === 1L,
        Map("price" -> lit(-9.0)))
    }
    intercept[ConstraintViolationException] {
      VersionedTable.updateWithDv(spark, dir, col("id") === 1L,
        Map("price" -> lit(-9.0)), densityThreshold = 0.9)
    }
    intercept[ConstraintViolationException] {
      VersionedTable.mergeWithDv(Seq((1L, -5.0)).toDF("id", "price"), dir,
        keys = Seq("id"), densityThreshold = 0.9)
    }
    // insert lane of mergeWithDv (unmatched key) is enforced too
    intercept[ConstraintViolationException] {
      VersionedTable.mergeWithDv(Seq((99L, -5.0)).toDF("id", "price"), dir,
        keys = Seq("id"), densityThreshold = 0.9)
    }
    val v = VersionedTable.latest(spark, dir).get.version
    // nothing committed by any failed attempt
    assert(v === 2L)
    // valid versions of each path land
    VersionedTable.merge(Seq((1L, 100.0)).toDF("id", "price"), dir,
      keys = Seq("id"))
    VersionedTable.updateWithDv(spark, dir, col("id") === 2L,
      Map("price" -> lit(200.0)), densityThreshold = 0.9)
    // DELETE never mints values: both flavors pass under constraints
    VersionedTable.delete(spark, dir, col("id") === 3L)
    VersionedTable.deleteWithDv(spark, dir, col("id") === 4L,
      densityThreshold = 0.9)
    val got = VersionedTable.read(spark, dir)
      .select("id", "price").as[(Long, Double)].collect().toMap
    assert(got(1L) === 100.0 && got(2L) === 200.0)
    assert(!got.contains(3L) && !got.contains(4L))
  }

  test("rename/drop of a referenced column fails fast; unrelated rename keeps enforcing; drop constraint unblocks") {
    val dir = tmp()
    VersionedTable.create(
      Seq((1L, 1.0, "x")).toDF("id", "price", "note"), dir)
    VersionedTable.addCheckConstraint(spark, dir, "pos", "price > 0")
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, dir, "price", "amount")
    }
    assert(e1.getMessage.contains("pos"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, dir, "price")
    }
    assert(e2.getMessage.contains("pos"))
    // unrelated rename commits and the constraint still enforces
    VersionedTable.renameColumn(spark, dir, "note", "comment")
    intercept[ConstraintViolationException] {
      VersionedTable.append(
        Seq((2L, -1.0, "y")).toDF("id", "price", "comment"), dir)
    }
    VersionedTable.dropCheckConstraint(spark, dir, "pos")
    VersionedTable.renameColumn(spark, dir, "price", "amount")
    assert(VersionedTable.read(spark, dir).columns.toSeq ===
      Seq("id", "amount", "comment"))
  }

  test("restore carries the TARGET version's constraint set") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, 1.0)).toDF("id", "price"), dir) // v1
    VersionedTable.addCheckConstraint(spark, dir, "pos", "price > 0") // v2
    VersionedTable.append(Seq((2L, 2.0)).toDF("id", "price"), dir) // v3
    // restore to v1 (pre-constraint): enforcement is gone
    VersionedTable.restore(spark, dir, 1L) // v4
    assert(VersionedTable.latest(spark, dir).get.constraints === Map.empty)
    VersionedTable.append(Seq((9L, -9.0)).toDF("id", "price"), dir) // v5
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 9L))
    // restore to v3 (constraint era): enforcement returns — but v3's
    // rows must satisfy it, which they do (the -9 row came later)
    VersionedTable.restore(spark, dir, 3L) // v6
    assert(VersionedTable.latest(spark, dir).get.constraints ===
      Map("pos" -> "price > 0"))
    intercept[ConstraintViolationException] {
      VersionedTable.append(Seq((10L, -1.0)).toDF("id", "price"), dir)
    }
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L))
  }

  test("constraints survive delta chains, the checkpoint-manifest boundary, compaction, and vacuum") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, 1.0)).toDF("id", "price"), dir)
    VersionedTable.addCheckConstraint(spark, dir, "pos", "price > 0")
    // push well past CheckpointEvery (10) so both delta inheritance and
    // the full-checkpoint render/parse round-trip are exercised
    (2L to 14L).foreach(i =>
      VersionedTable.append(Seq((i, i * 1.0)).toDF("id", "price"), dir))
    VersionedTable.compactTable(spark, dir, targetFiles = 2)
    VersionedTable.vacuum(spark, dir, retainVersions = 2)
    val s = VersionedTable.latest(spark, dir).get
    assert(s.constraints === Map("pos" -> "price > 0"))
    intercept[ConstraintViolationException] {
      VersionedTable.append(Seq((99L, -1.0)).toDF("id", "price"), dir)
    }
    assert(ids(VersionedTable.read(spark, dir)) === (1L to 14L).toSet)
  }

  test("schema evolution: a constraint column missing from the batch evaluates as NULL, exactly how the staged file reads") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, 1.0)).toDF("id", "price"), dir)
    VersionedTable.addCheckConstraint(spark, dir, "pos", "price > 0")
    VersionedTable.addCheckConstraint(spark, dir, "has_id", "id IS NOT NULL")
    // batch without `price`: `price > 0` is NULL per row -> passes;
    // the staged file null-fills on read, so answers agree
    VersionedTable.append(Seq((2L, "ok")).toDF("id", "tag"), dir,
      mergeSchema = true)
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L))
    // batch without `id`: `id IS NOT NULL` is FALSE per row -> rejects
    intercept[ConstraintViolationException] {
      VersionedTable.append(Seq(("nope")).toDF("tag"), dir,
        mergeSchema = true)
    }
  }

  test("streaming-tagged appends enforce constraints (the sink funnel)") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, 1.0)).toDF("id", "price"), dir)
    VersionedTable.addCheckConstraint(spark, dir, "pos", "price > 0")
    VersionedTable.appendTagged(
      Seq((2L, 2.0)).toDF("id", "price"), dir, "append#0")
    intercept[ConstraintViolationException] {
      VersionedTable.appendTagged(
        Seq((3L, -3.0)).toDF("id", "price"), dir, "append#1")
    }
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L, 2L))
    assert(!VersionedTable.hasOperation(spark, dir, "append#1"))
  }

  test("a constraint added mid-race conflicts the rebase instead of sneaking unvalidated rows in") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, 1.0)).toDF("id", "price"), dir)
    // the competitor lands add_constraint INSIDE the append's staged-
    // but-uncommitted window; the appended row VIOLATES it, so a silent
    // rebase would commit a bad row past the new constraint
    val e = intercept[ConflictingCommitException] {
      VersionedTable.write(
        Seq((2L, -2.0)).toDF("id", "price"), dir, "append",
        VersionedTable.latest(spark, dir), maxAttempts = 5,
        onStaged = () => VersionedTable.addCheckConstraint(spark, dir,
          "pos", "price > 0"))
    }
    assert(e.getMessage.contains("constraint"))
    assert(ids(VersionedTable.read(spark, dir)) === Set(1L))
  }

  test("overwrite keeps constraints but refuses to drop a referenced column from the schema") {
    val dir = tmp()
    VersionedTable.create(Seq((1L, 1.0)).toDF("id", "price"), dir)
    VersionedTable.addCheckConstraint(spark, dir, "pos", "price > 0")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.overwrite(Seq((1L, "x")).toDF("id", "tag"), dir)
    }
    assert(e.getMessage.contains("pos"))
    VersionedTable.overwrite(Seq((7L, 7.0)).toDF("id", "price"), dir)
    assert(VersionedTable.latest(spark, dir).get.constraints
      .contains("pos"))
    intercept[ConstraintViolationException] {
      VersionedTable.append(Seq((8L, -8.0)).toDF("id", "price"), dir)
    }
  }
}
