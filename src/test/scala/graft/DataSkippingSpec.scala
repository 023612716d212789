package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DataSkipping, VersionedTable}

/** Contract spec for manifest-level data skipping: stats survive the
  * manifest round-trip, pruning provably removes files, and — the part
  * that matters — pruning is SOUND: for every predicate shape the
  * analyzer handles (and the ones it must bail on), `readWhere` is
  * row-identical to an unpruned read+filter, across nulls, all-null
  * files, NaN, cross-type literals, multi-byte strings, and stats-less
  * legacy manifests.
  */
class DataSkippingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-skip").toString

  /** Rows land range-partitioned on k so each file covers a narrow,
    * disjoint k-range — the layout skipping exists to exploit.
    */
  private def rangedTable(dir: String, statsCols: Seq[String]): Unit = {
    val df = (0L until 4000L).toDF("k")
      .withColumn("d", col("k").cast("double") / 10.0)
      .withColumn("s", format_string("s%04d", col("k")))
      .withColumn("dec", col("k").cast("decimal(12,2)") *
        lit("1.5").cast("decimal(3,1)"))
      .withColumn("dt", date_add(lit(java.sql.Date.valueOf("2020-01-01")),
        (col("k") / 100L).cast("int")))
      .withColumn("nullable5", when(col("k") % 5L === 0L, col("k")))
      .repartitionByRange(8, col("k"))
    VersionedTable.create(df, dir, statsCols)
  }

  private def assertSame(dir: String, pred: Column): Unit = {
    val pruned = VersionedTable.readWhere(spark, dir, pred)
      .collect().map(_.toString).sorted
    val full = VersionedTable.read(spark, dir).filter(pred)
      .collect().map(_.toString).sorted
    assert(pruned.toSeq === full.toSeq, s"answer changed under pruning: $pred")
  }

  test("stats survive the manifest round-trip exactly") {
    val dir = tmp()
    rangedTable(dir, Seq("k", "d", "s", "dec", "dt", "nullable5"))
    val snap = VersionedTable.latest(spark, dir).get
    assert(snap.stats.keySet === snap.files.toSet,
      "every staged file must carry stats")
    val fs = snap.stats(snap.files.head)
    assert(fs.cols.keySet ===
      Set("k", "d", "s", "dec", "dt", "nullable5"))
    assert(fs.cols("k").typeTag === "long")
    assert(fs.cols("d").typeTag === "double")
    assert(fs.cols("s").typeTag === "string")
    assert(fs.cols("dec").typeTag === "decimal")
    assert(fs.cols("dt").typeTag === "date")
    // nullable5 is null for 4 of every 5 rows
    assert(fs.cols("nullable5").nullCount > 0)
    // round-trip: what snapshots() parsed IS what render wrote
    val reparsed = VersionedTable.snapshots(spark, dir).head.stats
    assert(reparsed === snap.stats)
    // global min/max across files reproduce the true extremes
    val allK = snap.stats.values.flatMap(_.cols("k").min).map(_.toLong)
    assert(allK.min === 0L)
  }

  test("footer-based stats equal scan-based stats bit for bit") {
    // the r17 optimization reads commit stats from parquet footers
    // (zero extra data pass) instead of re-scanning staged files; this
    // pins the two paths equal across every supported type, nulls,
    // multi-byte strings, timestamps, and all-null columns
    val dir = tmp()
    val df = (0L until 4000L).toDF("k")
      .withColumn("d", col("k").cast("double") / 10.0 - 100.0)
      .withColumn("s", concat(format_string("s%04d", col("k")),
        when(col("k") % 7L === 0L, lit("漢字")).otherwise(lit(""))))
      .withColumn("dec", col("k").cast("decimal(12,2)") *
        lit("1.5").cast("decimal(3,1)"))
      .withColumn("dt", date_add(lit(java.sql.Date.valueOf("2020-01-01")),
        (col("k") / 100L).cast("int")))
      .withColumn("ts", (col("k") * 1000000L)
        .cast("timestamp"))
      .withColumn("b", col("k") % 2L === 0L)
      .withColumn("nullable5", when(col("k") % 5L === 0L, col("k")))
      .withColumn("allnull", lit(null).cast("long"))
      .repartitionByRange(6, col("k"))
    VersionedTable.create(df, dir)
    val snap = VersionedTable.latest(spark, dir).get
    val cols = Seq("k", "d", "s", "dec", "dt", "ts", "b", "nullable5",
      "allnull")
    val viaFooter = DataSkipping.footerStats(spark, dir, snap.files, cols,
      None)
    val viaScan = DataSkipping.scanStats(spark, dir, snap.files, cols)
    assert(viaFooter.keySet === snap.files.toSet,
      "every staged file must be footer-servable (no scan fallback)")
    assert(viaFooter === viaScan)
    // NaN-present double columns: parquet writers omit the min/max
    // (PARQUET-1222), so the footer path records the column UNBOUNDED —
    // strictly more conservative than the scan path's one-sided bound
    // (min=1.0, max=None), never less sound. Pin that shape, and that
    // pruning on the unbounded column keeps every row.
    val dir2 = tmp()
    val nan = Seq(1.0, Double.NaN, 3.0).toDF("x")
      .withColumn("k", lit(1L)).coalesce(1)
    VersionedTable.create(nan, dir2)
    val snap2 = VersionedTable.latest(spark, dir2).get
    val fs2 = DataSkipping.footerStats(spark, dir2, snap2.files,
      Seq("x", "k"), None)
    assert(fs2.keySet === snap2.files.toSet)
    assert(fs2(snap2.files.head).cols("x") ===
      DataSkipping.ColStats("double", 0L, None, None))
    assert(fs2(snap2.files.head).cols("k") ===
      DataSkipping.ColStats("long", 0L, Some("1"), Some("1")))
    // NaN >= 0.0 is TRUE under Spark ordering (NaN sorts greatest), so
    // all three rows survive — the unbounded stats must not prune any
    assert(VersionedTable.readWhere(spark, dir2, col("x") >= 0.0)
      .count() === 3L)
  }

  test("a narrow range predicate prunes most range-partitioned files") {
    val dir = tmp()
    rangedTable(dir, Seq("k"))
    val (kept, pruned) = VersionedTable.pruneInfo(spark, dir,
      col("k") >= 1000L && col("k") < 1200L)
    assert(kept + pruned === 8)
    assert(kept <= 2, s"expected <=2 of 8 files kept, got $kept")
    assertSame(dir, col("k") >= 1000L && col("k") < 1200L)
  }

  test("soundness battery: every handled and bailed predicate shape") {
    val dir = tmp()
    rangedTable(dir, Seq("k", "d", "s", "dec", "dt", "nullable5"))
    val preds: Seq[Column] = Seq(
      col("k") === 1500L,
      col("k") === -1L,                       // prunes everything
      lit(1500L) <= col("k"),                 // literal-first orientation
      col("k") =!= 1500L,
      !(col("k") < 2000L),
      col("k").isin(10L, 1990L, 3999L),
      col("d") < 50.0,
      col("d") === 399.9,
      col("dec") > 4500.0,                    // decimal vs double literal
      col("dec") === lit(new java.math.BigDecimal("150.00")),
      col("dt") < lit(java.sql.Date.valueOf("2020-01-15")),
      col("s") === "s2500",
      col("s").startsWith("s39"),
      col("s").startsWith("zzz"),             // prunes everything
      col("nullable5").isNull,
      col("nullable5").isNotNull,
      col("nullable5") <=> 10L,
      col("nullable5") <=> lit(null),
      col("k") < 500L || col("k") >= 3800L,
      col("k") < 500L && col("s").startsWith("s00"),
      col("k") === 7.5,                       // long col vs fractional: bail
      col("k") + 1L === 100L,                 // arithmetic shape: bail
      abs(col("d")) < 5.0)                    // function shape: bail
    preds.foreach(assertSame(dir, _))
    // the bail shapes must keep all files (never unsound pruning)
    assert(VersionedTable.pruneInfo(spark, dir, col("k") + 1L === 100L)
      === ((8, 0)))
    // and the impossible ones prune all
    assert(VersionedTable.pruneInfo(spark, dir, col("k") === -1L)._1 === 0)
    assert(VersionedTable.pruneInfo(spark, dir,
      col("s").startsWith("zzz"))._1 === 0)
  }

  test("all-null files prune for comparisons, survive only for IS NULL") {
    val dir = tmp()
    val withVals = Seq((1L, Some(10L)), (2L, Some(20L))).toDF("id", "x")
      .coalesce(1)
    val allNull = Seq((3L, None: Option[Long]), (4L, None: Option[Long]))
      .toDF("id", "x").coalesce(1)
    VersionedTable.create(withVals, dir, Seq("x"))
    VersionedTable.append(allNull, dir, Seq("x"))
    assert(VersionedTable.pruneInfo(spark, dir, col("x") === 10L) === ((1, 1)),
      "the all-null file cannot satisfy an equality")
    assert(VersionedTable.pruneInfo(spark, dir, col("x").isNotNull) === ((1, 1)))
    assert(VersionedTable.pruneInfo(spark, dir, col("x").isNull) === ((1, 1)),
      "the no-null file cannot satisfy IS NULL")
    Seq(col("x") === 10L, col("x").isNull, col("x").isNotNull,
      col("x") < 100L).foreach(assertSame(dir, _))
  }

  test("NaN bounds never cause unsound pruning") {
    val dir = tmp()
    val normal = Seq(1.0, 2.0, 3.0).toDF("v").coalesce(1)
    val withNaN = Seq(100.0, Double.NaN).toDF("v").coalesce(1)
    VersionedTable.create(normal, dir, Seq("v"))
    VersionedTable.append(withNaN, dir, Seq("v"))
    val snap = VersionedTable.latest(spark, dir).get
    val nanFile = snap.stats.values.find(_.cols("v").max.isEmpty)
    assert(nanFile.isDefined, "NaN max must be stored as unbounded")
    // Spark: NaN > 1000.0 is TRUE — the NaN file must be kept
    val kept = VersionedTable.readWhere(spark, dir, col("v") > 1000.0)
    assert(kept.count() === 1L, "the NaN row satisfies > 1000.0 in Spark")
    Seq(col("v") > 1000.0, col("v") < 2.5, col("v") === 100.0)
      .foreach(assertSame(dir, _))
  }

  test("-0.0 and 0.0 compare equal, multi-byte strings use UTF-8 order") {
    val dir = tmp()
    val df = Seq((-0.0, "éclair"), (0.0, "zebra"), (5.0, "😀emoji"))
      .toDF("v", "s").coalesce(1)
    VersionedTable.create(df, dir, Seq("v", "s"))
    assert(VersionedTable.pruneInfo(spark, dir, col("v") === -0.0)._1 === 1,
      "file holding +0.0..5.0 must be kept for === -0.0")
    Seq(col("v") === -0.0, col("v") <= 0.0,
      col("s") > "z", col("s").startsWith("é"))
      .foreach(assertSame(dir, _))
  }

  test("stats-less legacy manifests read correctly with zero pruning") {
    val dir = tmp()
    VersionedTable.create((1L to 100L).toDF("k")
      .repartitionByRange(4, col("k")), dir) // no statsCols
    val snap = VersionedTable.latest(spark, dir).get
    assert(snap.stats.isEmpty)
    assert(VersionedTable.pruneInfo(spark, dir, col("k") === 5L)
      === ((4, 0)), "no stats → keep everything")
    assertSame(dir, col("k") === 5L)
  }

  test("append merges stats; compact and cluster recompute them") {
    val dir = tmp()
    VersionedTable.create((0L until 100L).toDF("k").coalesce(1), dir, Seq("k"))
    VersionedTable.append((100L until 200L).toDF("k").coalesce(1), dir, Seq("k"))
    val v2 = VersionedTable.latest(spark, dir).get
    assert(v2.stats.size === 2, "append must carry v1 stats forward")
    assert(VersionedTable.pruneInfo(spark, dir, col("k") < 50L) === ((1, 1)))
    val v3 = VersionedTable.compactTable(spark, dir, 1, Seq("k"))
    assert(v3.stats.size === 1 &&
      v3.stats.values.head.cols("k").min === Some("0") &&
      v3.stats.values.head.cols("k").max === Some("199"))
    assertSame(dir, col("k") < 50L)
  }

  test("compact without stats columns keeps every tracked one, and so " +
      "does a later append") {
    val dir = tmp()
    VersionedTable.create((0L until 100L).toDF("k").coalesce(1), dir, Seq("k"))
    VersionedTable.append((100L until 200L).toDF("k").coalesce(1), dir)
    VersionedTable.compactTable(spark, dir, targetFiles = 1)
    assert(VersionedTable.pruneInfo(spark, dir, col("k") >= 1000L) ===
      ((0, 1)))
    VersionedTable.append((200L until 300L).toDF("k").coalesce(1), dir)
    assert(VersionedTable.pruneInfo(spark, dir, col("k") >= 1000L) ===
      ((0, 2)))
    assert(VersionedTable.pruneInfo(spark, dir, col("k") >= 250L) ===
      ((1, 1)))
    assertSame(dir, col("k") >= 250L)
  }

  test("cluster: z-order commit is answer-preserving and a 2-D box prunes") {
    val dir = tmp()
    val df = (0L until 10000L).toDF("id")
      .withColumn("x", (col("id") * 2654435761L % 1000L).cast("double"))
      .withColumn("y", (col("id") * 40503L % 1000L).cast("double"))
    VersionedTable.create(df, dir, Seq("x", "y"))
    val before = VersionedTable.read(spark, dir)
      .agg(sum("id"), count(lit(1))).collect().head
    val snap = VersionedTable.cluster(spark, dir, ("x", "y"),
      targetFiles = 16)
    assert(snap.operation === "cluster" && snap.files.size === 16)
    val after = VersionedTable.read(spark, dir)
      .agg(sum("id"), count(lit(1))).collect().head
    assert(before === after, "cluster must not change contents")
    val box = col("x") >= 100.0 && col("x") < 200.0 &&
      col("y") >= 100.0 && col("y") < 200.0
    val (kept, pruned) = VersionedTable.pruneInfo(spark, dir, box)
    assert(kept < 16, s"z-order box should prune some of 16 files ($kept kept)")
    assertSame(dir, box)
  }

  test("analyze backfills stats metadata-only: same files, pruning activates") {
    val dir = tmp()
    VersionedTable.create((0L until 1000L).toDF("k")
      .withColumn("s", format_string("v%04d", col("k")))
      .repartitionByRange(4, col("k")), dir) // legacy: no stats
    val v1 = VersionedTable.latest(spark, dir).get
    assert(v1.stats.isEmpty)
    val snap = VersionedTable.analyze(spark, dir, Seq("k"))
    assert(snap.operation === "analyze")
    assert(snap.files === v1.files, "analyze must not touch data files")
    assert(VersionedTable.pruneInfo(spark, dir, col("k") < 100L)._2 > 0,
      "pruning must fire after analyze")
    assertSame(dir, col("k") < 100L)
    // a second analyze on a NEW column keeps the first column's stats
    VersionedTable.analyze(spark, dir, Seq("s"))
    val v3 = VersionedTable.latest(spark, dir).get
    assert(v3.stats.values.forall(fs =>
      fs.cols.keySet === Set("k", "s")), "analyze merges per-file stats")
    assertSame(dir, col("k") < 100L && col("s") >= "v0900")
  }

  test("history lists versions newest-first with operations and stats columns") {
    val dir = tmp()
    VersionedTable.create((1L to 10L).toDF("k"), dir)
    VersionedTable.append((11L to 20L).toDF("k"), dir)
    VersionedTable.analyze(spark, dir, Seq("k"))
    val h = VersionedTable.history(spark, dir).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(3L, 2L, 1L))
    assert(h.map(_.getString(2)).toSeq === Seq("analyze", "append", "create"))
    assert(h.head.getString(4) === "k")
  }

  test("readWhere pushes the predicate into the parquet scan (row-group pruning)") {
    val dir = tmp()
    rangedTable(dir, Seq("k"))
    val plan = VersionedTable.readWhere(spark, dir, col("k") >= 1000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThanOrEqual(k,1000)]")
      || plan.contains("GreaterThanOrEqual(k,1000)"),
      s"file-level skipping must compose with parquet pushdown; plan:\n$plan")
  }

  test("countBounds: metadata-only counts, exact when the tri-state decides every file") {
    val dir = tmp()
    // 4 files of 1000 rows each, disjoint k-ranges
    rangedTable(dir, Seq("k"))
    def bounds(p: org.apache.spark.sql.Column) =
      VersionedTable.countBounds(spark, dir, p).get
    def real(p: org.apache.spark.sql.Column) =
      VersionedTable.read(spark, dir).filter(p).count()
    // whole-table: exact without a scan
    assert(bounds(lit(true)) === ((4000L, 4000L)))
    assert(bounds(col("k") < 0L) === ((0L, 0L)))
    // a range cutting through one file: bounds bracket, never exact
    val p = col("k") < 300L
    val (lo, hi) = bounds(p)
    val n = real(p)
    assert(lo <= n && n <= hi && lo < hi,
      s"bounds ($lo,$hi) must bracket the true count $n")
    assert(hi - lo < 4000L, "at least some files must be decided")
    // aligned to file boundaries the bounds MEET: metadata-only count.
    // boundaries come from the stats themselves (max of one file)
    val snap = VersionedTable.latest(spark, dir).get
    val someMax = snap.stats.values.head.cols("k").max.get.toLong
    val aligned = col("k") <= lit(someMax)
    val (alo, ahi) = bounds(aligned)
    assert(alo === real(aligned) || alo < ahi,
      "exact when aligned; always bracketing")
    // every predicate's true count is inside its bounds (soundness)
    Seq(col("k") >= 1000L, col("k").isNull, col("k").isNotNull,
      col("k").isin(5L, 2500L)).foreach { q =>
      val (l, h) = bounds(q); val t = real(q)
      assert(l <= t && t <= h, s"$q: ($l,$h) must bracket $t")
    }
    // no stats → no bounds
    val legacy = tmp()
    VersionedTable.create((1L to 10L).toDF("k"), legacy)
    assert(VersionedTable.countBounds(spark, legacy, lit(true)).isEmpty)
  }

  test("pruning everything still returns the right (empty) schema") {
    val dir = tmp()
    rangedTable(dir, Seq("k"))
    val out = VersionedTable.readWhere(spark, dir, col("k") === -5L)
    assert(out.count() === 0L)
    assert(out.columns.toSeq ===
      VersionedTable.read(spark, dir).columns.toSeq)
  }

  // ------------------------------------------------ bloom stats (round 16)

  /** Keys whose VALUES are unordered relative to the file layout: every
    * file's [min, max] on `h` (md5 hex) and `j` (multiplicative-hashed
    * long) spans the whole domain, so min/max pruning keeps ALL files
    * for a point lookup — the gap blooms exist to close.
    */
  private def hashedTable(dir: String, fpp: Double = 0.001): Unit = {
    val df = (0L until 4000L).toDF("k")
      .withColumn("h", md5(col("k").cast("string")))
      .withColumn("j", pmod(col("k") * lit(2654435761L), lit(4000000L)))
      .repartitionByRange(8, col("k"))
    VersionedTable.create(df, dir, Seq("k", "h", "j"))
    VersionedTable.analyzeBloom(spark, dir, Seq("h", "j"), fpp = fpp)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("bloom stats prune point lookups min/max cannot: a planted needle " +
      "keeps all-but-one file, string and long domains") {
    val dir = tmp()
    hashedTable(dir)
    // min/max alone keeps every file for the unordered key...
    val needle = md5hex("1234")
    val v = VersionedTable.latest(spark, dir).get
    assert(v.operation === "analyze" && v.blooms.nonEmpty)
    // ...the bloom keeps exactly the holder (deterministic data+hashing;
    // at fpp 1e-3 over 7 candidate files a false positive would be a
    // reproducible, not flaky, failure — loosen only if data changes)
    val (keptS, prunedS) = VersionedTable.pruneInfo(spark, dir,
      col("h") === needle)
    assert(keptS === 1 && prunedS === 7,
      s"string-domain needle must keep 1 of 8 files (kept $keptS)")
    assertSame(dir, col("h") === needle)
    val (keptL, _) = VersionedTable.pruneInfo(spark, dir,
      col("j") === pmod(lit(1234L) * lit(2654435761L), lit(4000000L)))
    assert(keptL === 1, s"long-domain needle must keep 1 file ($keptL)")
    // IN-list: union of the members' holders
    val needles = Seq("77", "3888").map(k => md5hex(k))
    val (keptIn, _) = VersionedTable.pruneInfo(spark, dir,
      col("h").isin(needles: _*))
    assert(keptIn === 2, s"IN needles in different files keep 2 ($keptIn)")
    assertSame(dir, col("h").isin(needles: _*))
    // an ABSENT needle prunes everything, answer stays empty-and-typed
    val (keptA, _) = VersionedTable.pruneInfo(spark, dir,
      col("h") === md5hex("not-a-key"))
    assert(keptA === 0, "absent needle: every bloom excludes it")
    assert(VersionedTable.readWhere(spark, dir,
      col("h") === md5hex("not-a-key")).count() === 0L)
    // shapes blooms must NOT prune on: negation and ranges
    assertSame(dir, !(col("h") === needle))
    assert(VersionedTable.pruneInfo(spark, dir,
      !(col("h") === needle))._1 === 8,
      "negated equality must not consult the bloom")
    // composition with min/max stays an AND: k-range prunes, bloom on
    // top of the survivors
    val (keptBoth, _) = VersionedTable.pruneInfo(spark, dir,
      col("k") < 500L && col("h") === needle)
    assert(keptBoth <= 1)
    assertSame(dir, col("k") < 500L && col("h") === needle)
  }

  test("bloom lifecycle: deltas carry sidecars, rewrites drop them, " +
      "vacuum keeps live ones, restore carries them") {
    val dir = tmp()
    hashedTable(dir)
    val analyzed = VersionedTable.latest(spark, dir).get
    // appended files have no bloom (and, here, no h stats — a single
    // row's min=max would prune it by itself) → always kept; old
    // blooms still fire
    VersionedTable.append(Seq(5000L).toDF("k")
      .withColumn("h", md5(col("k").cast("string")))
      .withColumn("j", pmod(col("k") * lit(2654435761L), lit(4000000L))),
      dir, Seq("k"))
    val needle = md5hex("1234")
    val (kept, _) = VersionedTable.pruneInfo(spark, dir, col("h") === needle)
    assert(kept === 2, "holder + bloom-less new file survive the needle")
    assertSame(dir, col("h") === needle)
    // a CoW rewrite drops the file's bloom (stale bits must not prune
    // the rewritten file)
    val before = VersionedTable.latest(spark, dir).get
    VersionedTable.delete(spark, dir, col("k") === 1234L)
    val after = VersionedTable.latest(spark, dir).get
    val rewritten = before.files.filterNot(after.files.toSet)
    assert(rewritten.nonEmpty &&
      rewritten.forall(f => !after.blooms.contains(f)))
    assertSame(dir, col("h") === needle) // needle row deleted: both empty
    // vacuum keeps sidecars referenced by retained manifests
    VersionedTable.vacuum(spark, dir, retainVersions = 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveBlooms = VersionedTable.snapshots(spark, dir)
      .flatMap(_.blooms.values.flatMap(_.values)).distinct
    assert(liveBlooms.nonEmpty && liveBlooms.forall(p =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$p"))))
    // restore carries the bloom references with the file list
    val restored = VersionedTable.restore(spark, dir,
      VersionedTable.snapshots(spark, dir).head.version)
    assert(restored.blooms.nonEmpty)
    // a second analyzeBloom only touches files missing the columns
    val again = VersionedTable.analyzeBloom(spark, dir, Seq("h", "j"))
    assert(analyzed.blooms.forall { case (f, m) =>
      !again.blooms.contains(f) || again.blooms(f) == m },
      "existing sidecars are reused, not rebuilt")
  }

  test("bloom + deletion vectors compose: the needle's soft-deleted row " +
      "vanishes while pruning still fires") {
    val dir = tmp()
    hashedTable(dir)
    val needle = md5hex("2222")
    VersionedTable.deleteWithDv(spark, dir, col("h") === needle,
      densityThreshold = 0.99)
    val (kept, _) = VersionedTable.pruneInfo(spark, dir, col("h") === needle)
    assert(kept === 1, "the DV does not invalidate the file's bloom " +
      "(over-approximation stays sound)")
    assert(VersionedTable.readWhere(spark, dir,
      col("h") === needle).count() === 0L)
    assertSame(dir, col("h") === needle)
  }
}
