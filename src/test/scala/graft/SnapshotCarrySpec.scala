package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable
import graft.sources.VersionedTable.Snapshot

/** What a commit does to the snapshot it starts from: every
  * full-manifest operation changes only the fields it owns and carries
  * every other field of its parent unchanged, and every commit returns
  * exactly the snapshot that [[VersionedTable.latest]] then reads back
  * from disk.
  */
class SnapshotCarrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-carry").toString

  /** One table on which every Snapshot field is non-empty: stats, a
    * mapped schema (the drop assigns the mapping), the table id, a DV, a
    * bloom, a dropped column, a CHECK constraint and a generated column.
    */
  private lazy val fixture: String = {
    val dir = tmp()
    VersionedTable.create(spark.range(1, 41).repartition(2)
      .select(col("id"), (col("id") % 7).as("k"),
        concat(lit("v"), col("id")).as("v"), (col("id") * 10).as("extra")),
      dir, statsCols = Seq("id", "k"), generatedCols = Map("g" -> "id * 2"))
    VersionedTable.dropColumn(spark, dir, "extra")
    VersionedTable.addCheckConstraint(spark, dir, "pos", "id > 0")
    VersionedTable.deleteWithDv(spark, dir, col("id") === 3L,
      densityThreshold = 0.9)
    VersionedTable.analyzeBloom(spark, dir, Seq("k"))
    dir
  }

  /** A private copy of the fixture (every ref in it is table-relative). */
  private def fixtureCopy(): String = {
    val from = java.nio.file.Paths.get(fixture)
    val to = java.nio.file.Paths.get(tmp())
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally walk.close()
    to.toString
  }

  private def latest(dir: String): Snapshot =
    VersionedTable.latest(spark, dir).get

  /** The fields a commit carries or changes, by name; the version, the
    * commit time and the operation change on every commit.
    */
  private def fields(s: Snapshot): Map[String, Any] =
    s.productElementNames.zip(s.productIterator).toMap --
      Seq("version", "timestampMs", "operation")

  private def basename(f: String) = f.substring(f.lastIndexOf('/') + 1)

  test("the fixture table has every Snapshot field non-empty") {
    val p = latest(fixture)
    fields(p).foreach { case (k, v) =>
      val empty = v match {
        case m: Map[_, _] => m.isEmpty
        case s: Seq[_] => s.isEmpty
        case o: Option[_] => o.isEmpty
        case _ => false
      }
      assert(!empty, s"fixture field $k is empty")
    }
    assert(p.schema.get.fields.forall(VersionedTable.fieldIdOf(_).nonEmpty),
      "the fixture's schema carries a column mapping")
  }

  /** Run `op` against a fresh copy of the fixture: each field outside
    * `owns` equals its value at the parent, and the returned snapshot
    * equals what `latest` reads back from the directory `op` names.
    */
  private def carries(name: String, owns: Set[String])(
      op: String => (String, Snapshot)): (Snapshot, Snapshot) = {
    val dir = fixtureCopy()
    val parent = latest(dir)
    val (readBack, out) = op(dir)
    val before = fields(parent)
    val after = fields(out)
    assert(owns.subsetOf(before.keySet), s"$name owns unknown fields $owns")
    (before.keySet -- owns).foreach(k => assert(after(k) == before(k),
      s"$name changed $k, which it does not own"))
    assert(latest(readBack) == out,
      s"$name returned a snapshot other than the one it committed")
    (parent, out)
  }

  test("every full-commit operation carries the fields it does not own") {
    val schemaOps = Set("stats", "schemaJson", "blooms", "generatedCols")
    carries("addCheckConstraint", Set("constraints"))(d =>
      d -> VersionedTable.addCheckConstraint(spark, d, "k_nonneg", "k >= 0"))
    carries("dropCheckConstraint", Set("constraints"))(d =>
      d -> VersionedTable.dropCheckConstraint(spark, d, "pos"))
    val (_, renamed) = carries("renameColumn", schemaOps)(d =>
      d -> VersionedTable.renameColumn(spark, d, "k", "kk"))
    assert(renamed.blooms.values.forall(_.keySet == Set("kk")) &&
      renamed.stats.values.forall(_.cols.keySet == Set("id", "kk")))
    val (_, dropped) = carries("dropColumn", schemaOps + "droppedCols")(d =>
      d -> VersionedTable.dropColumn(spark, d, "v"))
    assert(dropped.droppedCols.keySet == Set("extra", "v"))
    carries("addColumn", Set("schemaJson"))(d =>
      d -> VersionedTable.addColumn(spark, d,
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType)))
    carries("analyze", Set("stats"))(d =>
      d -> VersionedTable.analyze(spark, d, Seq("g")))
    carries("analyzeBloom", Set("blooms"))(d =>
      d -> VersionedTable.analyzeBloom(spark, d, Seq("id")))
    val rewriteOps =
      Set("files", "stats", "schemaJson", "dvFiles", "dvn", "blooms")
    Seq[(String, String => Snapshot)](
      "compactTable" -> (d => VersionedTable.compactTable(spark, d, 1)),
      "cluster" -> (d => VersionedTable.cluster(spark, d, ("id", "k"), 2))
    ).foreach { case (name, run) =>
      val (_, out) = carries(name, rewriteOps)(d => d -> run(d))
      assert(out.dvFiles.isEmpty && out.dvn.isEmpty && out.blooms.isEmpty,
        s"$name folds DVs and blooms away")
    }
    // restore owns every field but the table id: it commits the target's
    val all = fields(latest(fixture)).keySet
    carries("restore", all - "tableId") { d =>
      val target = VersionedTable.snapshots(spark, d).init.last
      val out = VersionedTable.restore(spark, d, target.version)
      assert(fields(out) - "tableId" == fields(target) - "tableId")
      d -> out
    }
    // a deep clone of a table without borrowed refs copies them as they
    // are; a shallow one borrows every ref absolutely
    val (src, deep) = carries("deep clone", Set("tableId")) { d =>
      val dst = tmp() + "/deep"
      dst -> VersionedTable.cloneTable(spark, d, dst, shallow = false)
    }
    assert(deep.tableId.nonEmpty && deep.tableId != src.tableId)
    val (p, shallow) = carries("shallow clone",
      Set("files", "stats", "tableId", "dvFiles", "dvn", "blooms")) { d =>
      val dst = tmp() + "/shallow"
      dst -> VersionedTable.cloneTable(spark, d, dst)
    }
    assert(shallow.files.forall(_.startsWith("/")))
    assert(shallow.files.map(basename) == p.files.map(basename))
    assert(shallow.stats.map { case (f, s) => basename(f) -> s } ==
      p.stats.map { case (f, s) => basename(f) -> s })
    assert(shallow.dvFiles.map(basename) == p.dvFiles.map(basename))
    assert(shallow.dvn.map { case (f, n) => basename(f) -> n } ==
      p.dvn.map { case (f, n) => basename(f) -> n })
    assert(shallow.blooms.map { case (f, m) =>
      basename(f) -> m.view.mapValues(basename).toMap } ==
      p.blooms.map { case (f, m) =>
        basename(f) -> m.view.mapValues(basename).toMap })
  }

  test("append, overwrite and every DML verb under both policies return " +
      "the snapshot latest reads back") {
    val dir = fixtureCopy()
    def rows(ids: Long*) = ids.map(i => (i, i % 7, s"n$i")).toDF("id", "k", "v")
    Seq[(String, () => Snapshot)](
      "append" -> (() => VersionedTable.append(rows(41L, 42L), dir)),
      "delete" -> (() => VersionedTable.delete(spark, dir, col("id") === 5L)),
      "update" -> (() => VersionedTable.update(spark, dir,
        col("id") === 6L, Map("v" -> lit("u")))),
      "merge" -> (() =>
        VersionedTable.merge(rows(7L, 43L), dir, keys = Seq("id"))),
      "deleteWithDv" -> (() => VersionedTable.deleteWithDv(spark, dir,
        col("id") === 8L, densityThreshold = 0.9)),
      "updateWithDv" -> (() => VersionedTable.updateWithDv(spark, dir,
        col("id") === 9L, Map("v" -> lit("u")), densityThreshold = 0.9)),
      "mergeWithDv" -> (() => VersionedTable.mergeWithDv(rows(10L, 44L),
        dir, keys = Seq("id"), densityThreshold = 0.9)),
      "overwrite" -> (() => VersionedTable.overwrite(rows(1L, 2L), dir))
    ).foreach { case (name, run) =>
      val out = run()
      assert(out.operation == name.stripSuffix("WithDv"))
      assert(latest(dir) == out,
        s"$name returned a snapshot other than the one it committed")
    }
    // the run crossed a checkpoint: deleteWithDv committed version 10 as
    // a full manifest, the other verbs as deltas
    def manifest(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifests", f"v$v%08d.manifest")),
      "UTF-8")
    assert(!manifest(10L).contains("kind=delta") &&
      manifest(9L).contains("kind=delta"))
  }
}
