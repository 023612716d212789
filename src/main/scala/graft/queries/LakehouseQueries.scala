package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._
import Fixtures._

/** The VersionedTable lakehouse format: versioned writes and time
  * travel, MERGE, copy-on-write and deletion-vector DML, data skipping,
  * change feeds, constraints, generated columns, clones and the SQL-text
  * surface over the catalog.
  */
private[graft] object LakehouseQueries {

  /** Scale-derived file count for the versioned-table DML queries:
    * a fixed 8-file table caps DML parallelism at 8 tasks no matter the
    * data size (at sf100 that is 19M rows per task), while the r16 fix
    * (max(8, defaultParallelism)) over-corrected the other way — at
    * sf0.1 it spread a 2.6 MB orders table over 32 files of ~80 KB,
    * and every DML commit paid 32-file listing jobs, 32 footer reads
    * and 32-task scans of pure overhead (guide §6: small files hurt
    * twice). Derive from the SOURCE table's bytes instead: ~8 MiB per
    * file until the session's parallelism is saturated, then grow as
    * bytes/64 MiB so per-file work stays bounded as data grows —
    * exactly how a real table would carry more files at more data
    * (sf0.1 orders → 4 files; sf10 → 32; sf100 → ~41 files of 64 MiB).
    * Uniform %-mod predicates keep per-file match densities unchanged,
    * so the DV-vs-CoW shape choices and every oracle are invariant
    * (answers are aggregates / history live_rows — file-count-free).
    */
  private def vtParts(s: SparkSession, dir: String, srcFile: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$srcFile")
    val bytes =
      try p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      catch { case e: Throwable =>
        // a mis-pointed srcFile at scale would otherwise silently
        // collapse DML parallelism to the 4-file floor (the regression
        // class the r16 fix addressed) — make the fallback loud
        System.err.println(
          s"[vtParts] could not size $p (${e.getMessage}); " +
            "falling back to the 4-file floor")
        0L
      }
    val mib = (bytes >> 20).toInt
    math.max(4, math.max(
      math.min(mib / 8, s.sparkContext.defaultParallelism), mib / 64))
  }

  /** Versioned orders base: (o_orderkey, o_orderstatus, o_price
    * DECIMAL(18,2)), range-partitioned to [[vtParts]] files, o_orderkey
    * stats — the shape q118/q121/q126 share.
    */
  private def ordersVtBase(s: SparkSession, dir: String): String =
    vtBase(s, dir, "orders") { tmp =>
      graft.sources.VersionedTable.create(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("decimal(18,2)").as("o_price"))
          .repartitionByRange(vtParts(s, dir, "orders.parquet"),
            col("o_orderkey")),
        tmp, statsCols = Seq("o_orderkey"))
    }

  /** Versioned part base for q122: (p_partkey, p_brand, p_retailprice),
    * range-partitioned, p_partkey stats.
    */
  private def partVtBase(s: SparkSession, dir: String): String =
    vtBase(s, dir, "part") { tmp =>
      graft.sources.VersionedTable.create(
        Tables.part(s, dir)
          .select("p_partkey", "p_brand", "p_retailprice")
          .repartitionByRange(vtParts(s, dir, "part.parquet"),
            col("p_partkey")),
        tmp, statsCols = Seq("p_partkey"))
    }

  /** Shared four-commit versioned-orders history for q99/q100: v1
    * create, v2 DELETE %13, v3 UPDATE price +1 for %7, v4 APPEND
    * scale-derived-offset %17 keys at ORIGINAL prices (plantOffset — a
    * fixed +10M collided with real order keys at sf100, so the "append
    * of new keys" lane partly re-appended live keys). Decimal price so
    * downstream sums are cross-engine exact.
    */
  private def ordersHistoryTable(s: SparkSession, dir: String): String =
    // immutable once built (create/delete/update/append, then strictly
    // read-only in both consumers — q99 replays version feeds, q100
    // compiles the change feed): a per-JVM memoized fixture under the
    // fixture amortization rule, SHARED by q99 and q100 (both gates
    // price their reader, not the four commits)
    vtBase(s, dir, "ordershist") { tmp =>
      import graft.sources.VersionedTable
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("o_price"))
      val off = plantOffset(o, "o_orderkey")
      VersionedTable.create(o, tmp, Seq("o_orderkey"))
      VersionedTable.delete(s, tmp, col("o_orderkey") % 13 === 0)
      VersionedTable.update(s, tmp, col("o_orderkey") % 7 === 0,
        Map("o_price" -> (col("o_price") +
          lit(1).cast("decimal(18,2)")).cast("decimal(18,2)")))
      VersionedTable.append(o.filter(col("o_orderkey") % 17 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + off),
        tmp, Seq("o_orderkey"))
    }

  // Z-order write round-trip under the oracle gate: lineitem clusters
  // on (l_partkey, l_extendedprice), reads back through a 2-D box
  // predicate, and must aggregate exactly like the original table —
  // layout NEVER changes answers (SourcesSpec separately proves the
  // layout actually bounds both dimensions per file). Same per-JVM
  // tmp + overwrite convention as q36.
  val q81 = Query("q81_zorder_roundtrip", (s, dir) => {
      val tmp = scratchPath("q81")
      graft.sources.Sources.zorderWrite(
        Tables.lineitem(s, dir)
          .select("l_partkey", "l_extendedprice", "l_returnflag", "l_quantity"),
        tmp, ("l_partkey", "l_extendedprice"), targetFiles = 8)
      s.read.parquet(tmp)
        .filter(col("l_partkey") < 5000 && col("l_extendedprice") < 30000.0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"),
          decSum("l_extendedprice").as("sum_price"))
    },
    // layout round-trip: the oracle is the SAME filter + aggregate over
    // the original table — z-order must be answer-preserving
    """SELECT l_returnflag, COUNT(*) AS cnt,
      |  SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM lineitem
      |WHERE l_partkey < 5000 AND l_extendedprice < 30000.0
      |GROUP BY l_returnflag""".stripMargin)

  // Versioned-table round-trip under the oracle gate: create (orders
  // %3=0) → append (%3=1) → compact, then read version 1 via time
  // travel and the post-compact latest. Both must aggregate exactly
  // like the raw table slices — commits are atomic manifest renames,
  // compaction is answer-preserving, and old versions stay readable
  // (VersionedTableSpec proves isolation/conflict/vacuum separately).
  // Fresh table per invocation so version numbers are pinned.
  val q84 = Query("q84_versioned_table", (s, dir) => {
      import graft.sources.VersionedTable
      val tmp = scratchPath("q84")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      VersionedTable.create(o.filter(col("o_orderkey") % 3 === 0), tmp)
      VersionedTable.append(o.filter(col("o_orderkey") % 3 === 1), tmp)
      VersionedTable.compactTable(s, tmp, targetFiles = 4)
      def summarize(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"), decSum("o_totalprice").as("sum_price"))
          .withColumn("version", lit(tag))
      summarize(VersionedTable.snapshotAt(s, tmp, 1L), "v1")
        .unionByName(summarize(VersionedTable.read(s, tmp), "v3"))
    },
    // version 1 is the create slice; version 3 (post-compact latest) is
    // create+append — the layout machinery must be answer-invisible
    """SELECT o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  'v1' AS version
      |FROM orders WHERE o_orderkey % 3 = 0 GROUP BY o_orderstatus
      |UNION ALL
      |SELECT o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  'v3' AS version
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |GROUP BY o_orderstatus""".stripMargin)

  // MERGE INTO a versioned table under the oracle gate: create part,
  // merge price bumps (%4=0) + inserts (%9=0, scale-derived offset
  // keys), read the post-merge latest — SQL MERGE semantics composed
  // with the atomic commit layer (pre-merge version stays
  // time-travelable, VersionedTableSpec proves it). Fresh table per
  // invocation. MERGE is join-asymmetric like SCD2, so the insert
  // lane uses plantOffset: a colliding fixed-offset "insert" would be
  // silently matched and applied as an update instead.
  val q88 = Query("q88_versioned_merge", (s, dir) => {
      import graft.sources.VersionedTable
      val tmp = scratchPath("q88")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val p0 = Tables.part(s, dir).select("p_partkey", "p_brand", "p_retailprice")
      val off = plantOffset(p0, "p_partkey")
      VersionedTable.create(p0, tmp)
      val updates = p0.filter(col("p_partkey") % 4 === 0)
        .select(col("p_partkey"), col("p_brand"),
          (col("p_retailprice") + 25.0).as("p_retailprice"))
        .unionByName(p0.filter(col("p_partkey") % 9 === 0)
          .select((col("p_partkey") + off).as("p_partkey"),
            col("p_brand"), col("p_retailprice")))
      VersionedTable.merge(updates, tmp, Seq("p_partkey"))
      VersionedTable.read(s, tmp).groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"), decSum("p_retailprice").as("sum_price"))
    },
    // the merged state replayed declaratively: matched keys take the
    // bumped price, %9=0 keys insert under scale-derived offset ids
    """WITH p AS (SELECT p_partkey, p_brand, p_retailprice FROM part),
      |m AS (
      |  SELECT p_partkey, p_brand,
      |    CASE WHEN p_partkey % 4 = 0 THEN p_retailprice + 25.0
      |         ELSE p_retailprice END AS p_retailprice
      |  FROM p
      |  UNION ALL
      |  SELECT p_partkey + (SELECT (max(p_partkey) // 1000000 + 1) * 1000000
      |                      FROM part),
      |    p_brand, p_retailprice
      |  FROM p WHERE p_partkey % 9 = 0)
      |SELECT p_brand, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM m GROUP BY p_brand""".stripMargin)

  // CDC across table VERSIONS: the q71 delta computed by time travel —
  // write v1, overwrite with the changed snapshot as v2, then diff
  // snapshotAt(1) against the latest. The output (and oracle) is
  // exactly q71's; what this gates is that the versioned commit layer
  // preserves both endpoints of the diff bit-for-bit, so CDC composes
  // with time travel instead of requiring the caller to have kept the
  // old snapshot around. Fresh table per invocation.
  val q89 = Query("q89_version_cdc", (s, dir) => {
      import graft.sources.VersionedTable
      val tmp = scratchPath("q89")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      // same scale-derived offset as q71 (shared oracle): both sides
      // must add the SAME keys for the time-travel diff to equal q71's
      val off = plantOffset(o, "o_orderkey")
      VersionedTable.create(o, tmp)
      val newSnap = o.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 5 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderpriority")))
        .unionByName(o.filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + off).as("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority")))
      VersionedTable.overwrite(newSnap, tmp)
      Merge.snapshotDiff(
        VersionedTable.snapshotAt(s, tmp, 1L),
        VersionedTable.read(s, tmp), Seq("o_orderkey"))
    },
    // q89 recomputes q71's delta via versioned-table time travel — same
    // transformation, same expected rows, same oracle (layout and
    // versioning change the plan, never the answer)
    oracle = TemporalQueries.q71.oracle)

  // Data skipping under the oracle gate: lineitem lands in a
  // versioned table, a z-order `cluster` commit rewrites it with
  // per-file min/max manifest stats, and the scan goes through
  // readWhere — files whose stats refute the predicate are pruned
  // BEFORE the scan plans (DataSkippingSpec proves pruning fires and
  // is sound; the oracle here proves the pruned scan's answer is the
  // plain filtered aggregate). The predicate is a 2-D box on the
  // clustered pair plus a timestamp bound on a third stats column.
  val q90 = Query("q90_skipping_scan", (s, dir) => {
      import graft.sources.VersionedTable
      // immutable once built (create + cluster, then read-only): a
      // per-JVM memoized fixture — the gate is the skipping-pruned
      // readWhere, which re-runs every trial
      val tmp = vtBase(s, dir, "q90") { t =>
        val li = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity",
          "l_extendedprice", "l_shipdate", "l_returnflag")
        VersionedTable.create(li, s"$t/lineitem_t")
        VersionedTable.cluster(s, s"$t/lineitem_t",
          ("l_quantity", "l_extendedprice"), targetFiles = 16,
          statsCols = Seq("l_quantity", "l_extendedprice", "l_shipdate"))
      } + "/lineitem_t"
      VersionedTable.readWhere(s, tmp,
        col("l_quantity") <= 5.0 && col("l_extendedprice") < 20000.0 &&
          col("l_shipdate") >=
            lit(java.sql.Timestamp.valueOf("1994-01-01 00:00:00")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), decSum("l_quantity").as("sum_qty"),
          decSum("l_extendedprice").as("sum_price"))
    },
    // layout + skipping change the plan, never the answer: the oracle
    // is the plain filtered aggregate over the raw table
    """SELECT l_returnflag, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM lineitem
      |WHERE l_quantity <= 5.0 AND l_extendedprice < 20000.0
      |  AND l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      |GROUP BY l_returnflag""".stripMargin)

  // Copy-on-write DML under the oracle gate: DELETE then UPDATE on a
  // versioned table, each committed as one atomic version rewriting
  // ONLY the files whose skipping stats say they may hold matching
  // rows (range predicates on the range-partitioned key, so most
  // files carry over by reference — VersionedTableSpec proves the
  // carry-over; the oracle here proves the DML semantics). The final
  // aggregate reads the post-DML latest version.
  val q91 = Query("q91_dml_cow", (s, dir) => {
      import graft.sources.VersionedTable
      val tmp = scratchPath("q91")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(vtParts(s, dir, "orders.parquet"),
          col("o_orderkey"))
      VersionedTable.create(o, tmp, statsCols = Seq("o_orderkey"))
      VersionedTable.delete(s, tmp, col("o_orderkey") < 1000L)
      VersionedTable.update(s, tmp,
        col("o_orderkey") >= 5000L && col("o_orderkey") < 6000L,
        Map("o_totalprice" -> (col("o_totalprice") + 100.0)))
      VersionedTable.read(s, tmp)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), decSum("o_totalprice").as("sum_price"))
    },
    // the DELETE drops key<1000 (no NULL keys in orders), the UPDATE
    // adds 100 to the 5000..5999 band — replayed declaratively
    """WITH d AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE NOT (o_orderkey < 1000)),
      |u AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey >= 5000 AND o_orderkey < 6000
      |         THEN o_totalprice + 100.0 ELSE o_totalprice END
      |      AS o_totalprice
      |  FROM d)
      |SELECT o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM u GROUP BY o_orderstatus""".stripMargin)

  // Incrementally-maintained aggregate view over a versioned table:
  // create orders (v1), DELETE %13 (v2), UPDATE price +1 for %7 (v3),
  // APPEND offset %17 keys (v4); the per-status count/sum view starts
  // from v1 and then folds ONLY the changed-files feed of each commit
  // — rows of added files at +1, rows of removed files at -1; carried
  // rows cancel group-wise — never rescanning a full snapshot after
  // v1. The oracle replays the final state declaratively; decimal
  // sums make incremental == full recompute EXACT, so the gate
  // catches any drift in the maintenance algebra. IncrementalViewSpec
  // proves per-version equality, group birth/death, and that the feed
  // plan reads only changed files.
  val q99 = Query("q99_incremental_view", (s, dir) => {
      import graft.sources.VersionedTable
      import graft.operators.IncrementalView
      val tmp = ordersHistoryTable(s, dir)
      val groups = Seq("o_orderstatus")
      var view = IncrementalView.full(
        VersionedTable.snapshotAt(s, tmp, 1L), groups, Seq("o_price"))
      for (v <- 2L to 4L)
        view = IncrementalView.applyDelta(view,
          IncrementalView.changedFilesFeed(s, tmp, v - 1, v),
          groups, Seq("o_price"))
      view.select(col("o_orderstatus"), col("n_rows"),
        col("sum_o_price").cast("double").as("sum_price"))
    },
    // replays the four-commit history declaratively: survivors of the
    // %13 delete with the %7 price bump, plus the offset %17 append at
    // ORIGINAL prices (appended after the update ran)
    """WITH fin AS (
      |  SELECT o_orderstatus,
      |    CASE WHEN o_orderkey % 7 = 0
      |      THEN CAST(o_totalprice AS DECIMAL(18,2)) + CAST(1 AS DECIMAL(18,2))
      |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS p
      |  FROM orders WHERE o_orderkey % 13 <> 0
      |  UNION ALL
      |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders WHERE o_orderkey % 17 = 0)
      |SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(p) AS DOUBLE) AS sum_price
      |FROM fin GROUP BY o_orderstatus""".stripMargin)

  // Change-data-feed READER over the same four-commit history: every
  // row-level change between v1 and v4, classified insert / delete /
  // update_preimage / update_postimage and attributed to its commit —
  // recovered purely from each commit's file delta (O(changed files),
  // never O(table); copy-on-write carries appear on both sides with
  // equal values and emit nothing). The oracle replays the history's
  // expected change set declaratively; ChangeFeedSpec proves
  // classification, attribution, and carried-row silence on fixtures.
  val q100 = Query("q100_change_feed", (s, dir) => {
      import graft.sources.ChangeFeed
      val tmp = ordersHistoryTable(s, dir)
      ChangeFeed.readChanges(s, tmp, 1L, 4L, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_price").cast("double").as("price"),
          col("_change_type"), col("_commit_version"))
    },
    // the expected change set of the same history: deletes at v2,
    // update pre/post pairs at v3 (only keys surviving the delete),
    // offset inserts at v4
    """WITH o AS (SELECT o_orderkey, o_orderstatus,
      |  CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders)
      |SELECT o_orderkey, o_orderstatus, CAST(p AS DOUBLE) AS price,
      |  'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
      |FROM o WHERE o_orderkey % 13 = 0
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, CAST(p AS DOUBLE),
      |  'update_preimage', CAST(3 AS BIGINT)
      |FROM o WHERE o_orderkey % 13 <> 0 AND o_orderkey % 7 = 0
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus,
      |  CAST(p + CAST(1 AS DECIMAL(18,2)) AS DOUBLE),
      |  'update_postimage', CAST(3 AS BIGINT)
      |FROM o WHERE o_orderkey % 13 <> 0 AND o_orderkey % 7 = 0
      |UNION ALL
      |SELECT o_orderkey + (SELECT (max(o_orderkey) // 1000000 + 1) * 1000000
      |                     FROM orders),
      |  o_orderstatus, CAST(p AS DOUBLE),
      |  'insert', CAST(4 AS BIGINT)
      |FROM o WHERE o_orderkey % 17 = 0""".stripMargin)

  // DELETION-VECTOR DML (round 16) — merge-on-read DELETE, the
  // write-amplification fix for scattered point deletes: two %-mod
  // predicates hit EVERY file of the range-partitioned table (the
  // copy-on-write worst case — q91's path would rewrite the whole
  // table twice), but each commit records only DV sidecar positions;
  // the file list never changes and readers apply the DVs as a
  // positional anti-filter. Same answer as CoW delete — the oracle
  // replays both deletes declaratively — different plan, proven
  // rewrite-free (plus threshold fallback, CDC, vacuum, restore) in
  // VersionedTableSpec.
  val q118 = Query("q118_dv_delete", (s, dir) => {
      import graft.sources.VersionedTable
      val tmp = scratchPath("q118")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      // shallow-clone the shared orders base (zero-copy; r17 fixture
      // amortization) — content, partitioning, and stats identical to
      // building the table here, so the oracle is untouched
      VersionedTable.cloneTable(s, ordersVtBase(s, dir), tmp)
      // ~7.7% then ~9.1% of each file — cumulative ~16% stays under
      // the 0.25 threshold, so BOTH commits take the pure-DV shape
      // (accumulation across commits under the gate)
      VersionedTable.deleteWithDv(s, tmp, col("o_orderkey") % 13L === 0L,
        densityThreshold = 0.25)
      VersionedTable.deleteWithDv(s, tmp, col("o_orderkey") % 11L === 0L,
        densityThreshold = 0.25)
      VersionedTable.read(s, tmp)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_price")).cast(DoubleType).as("sum_price"))
    },
    // replays the two merge-on-read deletes declaratively: the engine's
    // DV anti-filter must produce exactly the surviving multiset
    """SELECT o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |WHERE o_orderkey % 13 <> 0 AND o_orderkey % 11 <> 0
      |GROUP BY o_orderstatus""".stripMargin)

  // PER-FILE BLOOM SKIPPING (round 16) — the point-lookup gap min/max
  // stats cannot close: on an unordered high-cardinality key (md5 of
  // doc_id) every file's [min, max] spans the whole hex space, so a
  // needle query would scan all 16 files; analyzeBloom writes one
  // size-capped bloom sidecar per (file, column) metadata-only, and
  // readWhere's equality/IN analyzer keeps only files whose bloom
  // might hold a needle (~1 of 16 per needle; false positives cost
  // scans, never answers — DataSkippingSpec + fuzz pin soundness,
  // dev/sweeps/r16_bloom_sf1.txt records measured pruning at scale).
  val q119 = Query("q119_bloom_lookup", (s, dir) => {
      import graft.sources.VersionedTable
      val tmp = scratchPath("q119")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"),
          col("text"))
        .repartitionByRange(16, col("doc_id"))
      VersionedTable.create(docs, tmp, statsCols = Seq("doc_id"))
      VersionedTable.analyzeBloom(s, tmp, Seq("h"))
      val needles = Seq(42L, 137L, 444L).map(i =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(i.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
      VersionedTable.readWhere(s, tmp, col("h").isin(needles: _*))
        .select(col("doc_id"), col("h"),
          length(col("text")).cast("int").as("text_len"))
    },
    // the needles replayed by key: the bloom path must return exactly
    // the looked-up documents (md5 hex agrees between engines)
    """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
      |  CAST(LENGTH(text) AS INT) AS text_len
      |FROM documents WHERE doc_id IN (42, 137, 444)""".stripMargin)

  // MERGE-ON-READ UPDATE (round 16) — the second half of the DV
  // write-amplification fix: two %-mod updates hit every file of the
  // range-partitioned table (q91's CoW path would rewrite the whole
  // table twice), but each commit writes only a positional DV sidecar
  // plus the post-image rows; every pre-update data file survives
  // both commits. CDC pairs the halves as update_preimage/postimage
  // (ChangeFeedSpec); threshold fallback, stats on post-images,
  // conflicts, and column-mapping compose in VersionedTableSpec.
  val q121 = Query("q121_dv_update", (s, dir) => {
      import graft.sources.VersionedTable
      val tmp = scratchPath("q121")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      // zero-copy clone of the shared orders base (r17) — same content
      VersionedTable.cloneTable(s, ordersVtBase(s, dir), tmp)
      // ~7.7% then ~9.1% per file — cumulative ~16% stays under the
      // 0.25 threshold, so BOTH commits take the DV + post-image shape
      VersionedTable.updateWithDv(s, tmp, col("o_orderkey") % 13L === 0L,
        Map("o_price" -> (col("o_price") + lit(1).cast("decimal(18,2)"))),
        densityThreshold = 0.25)
      VersionedTable.updateWithDv(s, tmp, col("o_orderkey") % 11L === 0L,
        Map("o_orderstatus" -> lit("X")),
        densityThreshold = 0.25)
      VersionedTable.read(s, tmp)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_price")).cast(DoubleType).as("sum_price"))
    },
    // replays the two merge-on-read updates declaratively: the engine's
    // DV anti-filter + post-image appends must produce exactly the
    // updated multiset
    """SELECT CASE WHEN o_orderkey % 11 = 0 THEN 'X'
      |            ELSE o_orderstatus END AS o_orderstatus,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) +
      |    CASE WHEN o_orderkey % 13 = 0 THEN CAST(1 AS DECIMAL(18,2))
      |         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY 1""".stripMargin)

  // MERGE-ON-READ MERGE (round 16) — the medallion hot path: a small
  // upsert batch (%5 price bumps + %7 inserts at scale-derived offset
  // keys) against the whole part table. q88's merge rewrites every
  // may-match file; this commit writes one DV sidecar (matched
  // positions) plus exactly the batch rows — every pre-merge data
  // file survives (VersionedTableSpec proves the file-preservation
  // and exactly-once-landing invariants; CDC pairs matches as
  // update_preimage/postimage and the rest as inserts).
  val q122 = Query("q122_dv_merge", (s, dir) => {
      import graft.sources.VersionedTable
      val tmp = scratchPath("q122")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val p0 = Tables.part(s, dir)
        .select("p_partkey", "p_brand", "p_retailprice")
      val off = plantOffset(p0, "p_partkey")
      // zero-copy clone of the shared part base (r17) — same content
      VersionedTable.cloneTable(s, partVtBase(s, dir), tmp)
      val updates = p0.filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey"), col("p_brand"),
          (col("p_retailprice") + 25.0).as("p_retailprice"))
        .unionByName(p0.filter(col("p_partkey") % 7 === 0)
          .select((col("p_partkey") + off).as("p_partkey"),
            col("p_brand"), col("p_retailprice")))
      VersionedTable.mergeWithDv(updates, tmp, Seq("p_partkey"),
        densityThreshold = 0.25)
      VersionedTable.read(s, tmp).groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"), decSum("p_retailprice").as("sum_price"))
    },
    // the merged state replayed declaratively (q88's shape at different
    // residues): the DV + append plan must produce the same multiset a
    // full upsert rewrite would
    """WITH p AS (SELECT p_partkey, p_brand, p_retailprice FROM part),
      |m AS (
      |  SELECT p_partkey, p_brand,
      |    CASE WHEN p_partkey % 5 = 0 THEN p_retailprice + 25.0
      |         ELSE p_retailprice END AS p_retailprice
      |  FROM p
      |  UNION ALL
      |  SELECT p_partkey + (SELECT (max(p_partkey) // 1000000 + 1) * 1000000
      |                      FROM part),
      |    p_brand, p_retailprice
      |  FROM p WHERE p_partkey % 7 = 0)
      |SELECT p_brand, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM m GROUP BY p_brand""".stripMargin)

  // CHECK CONSTRAINTS (round 16) — Delta's ALTER TABLE ADD CONSTRAINT:
  // two invariants land as metadata-only commits, a valid append
  // passes, a price-negated batch is rejected ATOMICALLY (enforcement
  // is fused into the write job itself — zero extra passes; the
  // failed attempt commits nothing), and dropping the constraint lets
  // the same batch land. The oracle replays the final state plus the
  // rejection bit: if enforcement silently failed, the bad batch
  // would land TWICE (and rejected_batches read 0) — both visible in
  // the hash. ConstraintSpec drives the full matrix (all six DML
  // write paths, three-valued semantics, rename/drop interplay,
  // restore carry, mid-race conflict).
  val q123 = Query("q123_check_constraints", (s, dir) => {
      import graft.sources.{ConstraintViolationException, VersionedTable}
      val tmp = scratchPath("q123")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("o_price"))
      VersionedTable.create(o.filter(col("o_orderkey") % 3 === 0), tmp,
        statsCols = Seq("o_orderkey"))
      VersionedTable.addCheckConstraint(s, tmp,
        "positive_price", "o_price > 0")
      VersionedTable.addCheckConstraint(s, tmp,
        "status_not_null", "o_orderstatus IS NOT NULL")
      VersionedTable.append(o.filter(col("o_orderkey") % 3 === 1), tmp,
        statsCols = Seq("o_orderkey"))
      val negated = o.filter(col("o_orderkey") % 3 === 2)
        .withColumn("o_price", (-col("o_price")).cast("decimal(18,2)"))
      val rejected =
        try { VersionedTable.append(negated, tmp, Seq("o_orderkey")); 0L }
        catch { case _: ConstraintViolationException => 1L }
      VersionedTable.dropCheckConstraint(s, tmp, "positive_price")
      VersionedTable.append(negated, tmp, statsCols = Seq("o_orderkey"))
      VersionedTable.read(s, tmp)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_price")).cast(DoubleType).as("sum_price"),
          max(lit(rejected)).as("rejected_batches"))
    },
    // replays the constraint lifecycle declaratively: %3∈{0,1} at
    // original prices (accepted while the CHECK held), %3=2 negated
    // (accepted only after the drop — and exactly ONCE: had enforcement
    // silently failed, that batch would land twice and rejected read 0)
    """SELECT o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(CASE WHEN o_orderkey % 3 = 2
      |    THEN -CAST(o_totalprice AS DECIMAL(18,2))
      |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
      |    AS sum_price,
      |  CAST(1 AS BIGINT) AS rejected_batches
      |FROM orders GROUP BY o_orderstatus""".stripMargin)

  // GENERATED COLUMNS (round 16) — Delta's GENERATED ALWAYS AS:
  // o_kgroup = o_orderkey DIV 10000 is declared at create and never
  // shipped by any writer — the omitting create computes it, a
  // supplying append is VALIDATED against the rule (a contradicting
  // value cannot commit — GeneratedColumnsSpec), and a key-shifting
  // DV update RECOMPUTES it (rows visibly change groups, which the
  // oracle replays). Because the column is derived from the range-
  // partition key, its per-file min/max stats prune derived-predicate
  // scans raw stats cannot serve — the cheap-partition-column pattern
  // at 100 TB (spec proves the pruning; here the oracle pins the
  // computation end to end).
  val q125 = Query("q125_generated_columns", (s, dir) => {
      import graft.sources.VersionedTable
      val tmp = scratchPath("q125")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("o_price"))
      VersionedTable.create(
        o.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(vtParts(s, dir, "orders.parquet"),
            col("o_orderkey")),
        tmp, statsCols = Seq("o_orderkey", "o_kgroup"),
        generatedCols = Map("o_kgroup" -> "o_orderkey DIV 10000"))
      // supplying append: the correct value passes the validation lane
      VersionedTable.append(
        o.filter(col("o_orderkey") % 2 === 1)
          .withColumn("o_kgroup", expr("o_orderkey DIV 10000")),
        tmp, statsCols = Seq("o_orderkey", "o_kgroup"))
      // key-shifting merge-on-read update: o_kgroup must RECOMPUTE
      VersionedTable.updateWithDv(s, tmp, col("o_orderkey") % 5000 === 0,
        Map("o_orderkey" -> (col("o_orderkey") + lit(50000L))),
        densityThreshold = 0.9)
      VersionedTable.read(s, tmp)
        .groupBy(col("o_kgroup"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_price")).cast(DoubleType).as("sum_price"))
    },
    // replays the generated-column lifecycle: every row's o_kgroup is
    // the rule's value over its FINAL o_orderkey — including the rows
    // the DV update shifted across group boundaries (recomputation),
    // and the supplied-and-validated append batch
    """WITH o AS (
      |  SELECT CASE WHEN o_orderkey % 5000 = 0
      |              THEN o_orderkey + 50000 ELSE o_orderkey END AS k,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders)
      |SELECT k // 10000 AS o_kgroup, COUNT(*) AS cnt,
      |  CAST(SUM(p) AS DOUBLE) AS sum_price
      |FROM o GROUP BY 1""".stripMargin)

  // SHALLOW CLONE (round 16) — Delta's CREATE TABLE ... CLONE, zero
  // copy: the clone's v1 manifest borrows the source's files (and its
  // DV sidecar — the carried soft deletes must keep applying through
  // the basename-keyed anti-join) without moving a byte; the clone
  // then runs its OWN CoW delete (folding touched borrowed files
  // local) while the source diverges with an append the clone must
  // never see. The oracle replays exactly the clone's lineage:
  // source rows minus the pre-clone DV delete minus the clone's own
  // delete — a wrong share of either table's history breaks the hash.
  // CloneSpec drives the rest (fold-to-local, vacuum immunity both
  // directions, deep clone, metadata carry).
  val q126 = Query("q126_shallow_clone", (s, dir) => {
      import graft.sources.VersionedTable
      val src = scratchPath("q126src")
      val dst = scratchPath("q126dst")
      Seq(src, dst).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("o_price"))
      // src itself is a zero-copy clone of the shared base (r17) — the
      // gate then exercises clone-of-a-clone, which CloneSpec pins
      VersionedTable.cloneTable(s, ordersVtBase(s, dir), src)
      VersionedTable.deleteWithDv(s, src, col("o_orderkey") % 13L === 0L,
        densityThreshold = 0.25)
      VersionedTable.cloneTable(s, src, dst)
      VersionedTable.delete(s, dst, col("o_orderkey") % 7L === 0L)
      // divergence the clone must never see
      VersionedTable.append(o.filter(col("o_orderkey") % 13L === 0L),
        src, statsCols = Seq("o_orderkey"))
      VersionedTable.read(s, dst)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), decSum("o_price").as("sum_price"))
    },
    // the clone's lineage replayed declaratively: source rows minus the
    // pre-clone DV delete (%13) minus the clone's own delete (%7); the
    // source's post-clone re-append of the %13 rows must be invisible
    """SELECT o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |WHERE o_orderkey % 13 <> 0 AND o_orderkey % 7 <> 0
      |GROUP BY o_orderstatus""".stripMargin)

  // SQL TEXT reaches the versioned-table format (round 17): the
  // reference's primary consumption mode is SQL over catalog tables
  // (notebooks/gold.py:12, docs/runbook.md:41-46); here the q84
  // create/append/compact lineage is queried ENTIRELY as spark.sql
  // text through the DSv2 GraftCatalog — `VERSION AS OF 1` versus the
  // latest — and must hash-match the same oracle q84's Scala-API
  // reads match. DsV2Spec drives the connector's full contract
  // (skipping pushdown, DV rows, column mapping, timestamps).
  val q127 = Query("q127_sql_time_travel", (s, dir) => {
      import graft.sources.VersionedTable
      val wh = scratchPath("q127wh")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.conf.set("spark.sql.catalog.gvt127", "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.gvt127.warehouse", wh)
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val t = s"$wh/orders_t"
      VersionedTable.create(o.filter(col("o_orderkey") % 3 === 0), t)
      VersionedTable.append(o.filter(col("o_orderkey") % 3 === 1), t)
      VersionedTable.compactTable(s, t, targetFiles = 4)
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS cnt,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_price, 'v1' AS version
          |FROM gvt127.orders_t VERSION AS OF 1 GROUP BY o_orderstatus
          |UNION ALL
          |SELECT o_orderstatus, COUNT(*) AS cnt,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_price, 'v3' AS version
          |FROM gvt127.orders_t GROUP BY o_orderstatus""".stripMargin)
    },
    // the q84 lineage consumed as SQL text (VERSION AS OF through the
    // DSv2 catalog) — same declarative replay as q84's oracle
    oracle = q84.oracle)

  // Data skipping + deletion vectors THROUGH SQL text (round 17): the
  // q90 z-order/stats lineage plus a 10%-per-file DV delete, read as
  // plain spark.sql WHERE text over the DSv2 catalog table. The
  // pushed predicate must prune files via manifest stats BEFORE
  // planning (DsV2Spec proves kept/total), each surviving file's DV
  // positions must drop soft-deleted rows inside the scan, and the
  // answer must equal the oracle's declarative replay (filter + the
  // %10 delete) — connector-path correctness, not just API-path.
  val q128 = Query("q128_sql_skipping_dv", (s, dir) => {
      import graft.sources.VersionedTable
      // the clustered+DV'd table is a per-JVM memoized fixture (the
      // fixture amortization rule): its state is immutable once
      // built, so bench trials re-pay only the gated SELECT, never the
      // two full lineitem writes
      val wh = vtBase(s, dir, "q128wh") { tmp =>
        val li = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity",
          "l_extendedprice", "l_shipdate", "l_returnflag")
        val t = s"$tmp/lineitem_t"
        VersionedTable.create(li, t)
        // scale-derived file count (the q118 vtParts lesson): a fixed 16
        // files at sf100 would mean 37M-row files — per-file DV payload
        // and DML parallelism must grow with data. Uniform %10 deletes
        // keep every per-file density (and the oracle) invariant.
        VersionedTable.cluster(s, t, ("l_quantity", "l_extendedprice"),
          targetFiles = math.max(16, vtParts(s, dir, "lineitem.parquet")),
          statsCols = Seq("l_quantity", "l_extendedprice", "l_shipdate"))
        VersionedTable.deleteWithDv(s, t, col("l_orderkey") % 10L === 3L,
          densityThreshold = 0.9)
      }
      s.conf.set("spark.sql.catalog.gvt128", "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.gvt128.warehouse", wh)
      s.sql(
        """SELECT l_returnflag, COUNT(*) AS cnt,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_qty,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_price
          |FROM gvt128.lineitem_t
          |WHERE l_quantity <= 5.0 AND l_extendedprice < 20000.0
          |  AND l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          |GROUP BY l_returnflag""".stripMargin)
    },
    // q90's filtered aggregate plus the %10=3 soft delete, replayed
    // declaratively — layout, skipping, DVs, and the SQL-text path
    // change the plan, never the answer
    """SELECT l_returnflag, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM lineitem
      |WHERE l_orderkey % 10 <> 3
      |  AND l_quantity <= 5.0 AND l_extendedprice < 20000.0
      |  AND l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      |GROUP BY l_returnflag""".stripMargin)

  // SQL DML lifecycle through the DSv2 catalog (round 17): CTAS,
  // INSERT INTO, and DELETE FROM as PLAIN SQL TEXT — the write half
  // of the connector. CTAS creates the table and populates it through
  // the V1Write fallback (full commit protocol: stats, constraints,
  // rebase), INSERT INTO appends the other half, and DELETE FROM
  // lands as deletion-vector DML (SupportsDelete → deleteWithDv
  // prices DV-vs-CoW per file). The final SELECT must agree with the
  // oracle's declarative replay of insert-all-then-delete.
  val q129 = Query("q129_sql_dml", (s, dir) => {
      val wh = scratchPath("q129wh")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.conf.set("spark.sql.catalog.gvt129", "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.gvt129.warehouse", wh)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("o_price"))
        .createOrReplaceTempView("q129_src")
      s.sql("""CREATE TABLE gvt129.orders_t AS
              |SELECT * FROM q129_src WHERE o_orderkey % 2 = 0""".stripMargin)
      s.sql("""INSERT INTO gvt129.orders_t
              |SELECT * FROM q129_src WHERE o_orderkey % 2 = 1""".stripMargin)
      s.sql("""DELETE FROM gvt129.orders_t
              |WHERE o_orderstatus = 'F' AND o_price < 50000.00""".stripMargin)
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS cnt,
          |  CAST(SUM(o_price) AS DOUBLE) AS sum_price
          |FROM gvt129.orders_t GROUP BY o_orderstatus""".stripMargin)
    },
    // CTAS of evens + INSERT of odds = all rows, then the SQL DELETE
    // replayed as a declarative anti-filter
    """SELECT o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F'
      |           AND CAST(o_totalprice AS DECIMAL(18,2)) < 50000.00)
      |GROUP BY o_orderstatus""".stripMargin)

  // The versioned table AS a Structured Streaming source (round 17):
  // spark.readStream.format("graft") tails the commit log — offsets
  // are versions, each micro-batch plans the commits' ADDED files
  // straight from the immutable manifests (O(new data) per batch),
  // and maxVersionsPerTrigger=1 forces the two appends to arrive as
  // separate bounded batches (admission control). The rows the sink
  // accumulates must equal the two appended slices exactly — no
  // initial-snapshot leak, no duplication, no loss.
  val q130 = Query("q130_stream_source", (s, dir) => {
      // the 3-commit table is strictly READ-ONLY here (the stream
      // tails its commits) — per-JVM memoized fixture under the
      // fixture amortization rule, like q99/q100's history
      // table: the gate prices the streaming source machinery and the
      // version replay, not the three commits
      val t = vtBase(s, dir, "stream3") { tmp =>
        import graft.sources.VersionedTable
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("decimal(18,2)").as("o_price"))
        VersionedTable.create(o.filter(col("o_orderkey") % 4 === 0), tmp)
        VersionedTable.append(o.filter(col("o_orderkey") % 4 === 1), tmp)
        VersionedTable.append(o.filter(col("o_orderkey") % 4 === 2), tmp)
      }
      val sink = "q130_sink"
      try s.catalog.dropTempView(sink) catch { case _: Exception => }
      val q = s.readStream.format("graft")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1")
        .load(t)
        .writeStream.format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum("o_price").cast("double").as("sum_price"))
    },
    // the stream (startingVersion=1) receives exactly the two appended
    // slices: %4 = 1 and %4 = 2
    """SELECT o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 IN (1, 2)
      |GROUP BY o_orderstatus""".stripMargin)

  // SQL-text UPDATE and MERGE INTO over a versioned catalog table
  // (round 17): GraftSqlExtension swaps the analyzed UpdateTable /
  // MergeIntoTable plans for the format's own merge-on-read DML —
  // the SAME updateWithDv/mergeWithDv path q121/q122 gate through
  // the Scala API, now reachable as ANSI text. The statement mix is
  // deliberately order-sensitive (the MERGE overwrites half the
  // UPDATE's rows) so a wrong execution order cannot hash-match.
  val q131 = Query("q131_sql_update_merge", (s, dir) => {
      val wh = scratchPath("q131wh")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.conf.set("spark.sql.catalog.gvt131", "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.gvt131.warehouse", wh)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("o_price"))
        .createOrReplaceTempView("q131_src")
      s.sql("""CREATE TABLE gvt131.orders_t AS
              |SELECT * FROM q131_src WHERE o_orderkey % 3 != 0""".stripMargin)
      s.sql("""UPDATE gvt131.orders_t
              |SET o_price = CAST(o_price + 10.00 AS DECIMAL(18,2))
              |WHERE o_orderstatus = 'O'""".stripMargin)
      s.sql("""MERGE INTO gvt131.orders_t USING (
              |  SELECT o_orderkey, o_orderstatus,
              |    CAST(o_price * 2 AS DECIMAL(18,2)) AS o_price
              |  FROM q131_src WHERE o_orderkey % 6 = 1
              |  UNION ALL
              |  SELECT * FROM q131_src WHERE o_orderkey % 3 = 0
              |) src ON orders_t.o_orderkey = src.o_orderkey
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS cnt,
          |  CAST(SUM(o_price) AS DOUBLE) AS sum_price
          |FROM gvt131.orders_t GROUP BY o_orderstatus""".stripMargin)
    },
    // replay of q131's statement sequence: start = keys %3 != 0;
    // UPDATE bumps 'O' rows +10; MERGE then replaces %6 = 1 keys with
    // doubled ORIGINAL price (source reads the base view, overwriting
    // the +10) and inserts the %3 = 0 keys at original price
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders
      |), fin AS (
      |  SELECT o_orderstatus,
      |    CASE WHEN o_orderkey % 3 = 0 THEN p
      |         WHEN o_orderkey % 6 = 1 THEN CAST(p * 2 AS DECIMAL(18,2))
      |         WHEN o_orderstatus = 'O' THEN CAST(p + 10.00 AS DECIMAL(18,2))
      |         ELSE p END AS price
      |  FROM base
      |)
      |SELECT o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(price) AS DOUBLE) AS sum_price
      |FROM fin GROUP BY o_orderstatus""".stripMargin)

  // SQL DDL schema evolution over a versioned catalog table (round
  // 17): ALTER TABLE ADD COLUMNS / RENAME COLUMN land as the
  // format's metadata-only evolution commits — zero data movement —
  // and the queryable state must still hash-match: pre-evolution
  // rows read NULL for the added column, a post-ADD INSERT fills it,
  // and the rename carries every row and stat to the new name.
  val q132 = Query("q132_sql_ddl_evolution", (s, dir) => {
      val wh = scratchPath("q132wh")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.conf.set("spark.sql.catalog.gvt132", "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.gvt132.warehouse", wh)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("o_price"))
        .createOrReplaceTempView("q132_src")
      s.sql("""CREATE TABLE gvt132.orders_t AS
              |SELECT * FROM q132_src WHERE o_orderkey % 3 != 0""".stripMargin)
      s.sql("ALTER TABLE gvt132.orders_t ADD COLUMNS (bonus DECIMAL(18,2))")
      s.sql("""INSERT INTO gvt132.orders_t
              |SELECT o_orderkey, o_orderstatus, o_price,
              |  CAST(o_orderkey % 100 AS DECIMAL(18,2)) AS bonus
              |FROM q132_src WHERE o_orderkey % 3 = 0""".stripMargin)
      s.sql("ALTER TABLE gvt132.orders_t RENAME COLUMN o_price TO base_price")
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS cnt,
          |  CAST(SUM(base_price) AS DOUBLE) AS sum_base,
          |  CAST(SUM(bonus) AS DOUBLE) AS sum_bonus,
          |  COUNT(bonus) AS cnt_bonus
          |FROM gvt132.orders_t GROUP BY o_orderstatus""".stripMargin)
    },
    // replay of q132's DDL lifecycle: all rows carry base_price (the
    // renamed o_price); only the %3 = 0 rows (inserted AFTER the ADD
    // COLUMNS) carry bonus = key % 100 — pre-evolution rows read NULL
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders
      |)
      |SELECT o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(p) AS DOUBLE) AS sum_base,
      |  CAST(SUM(CASE WHEN o_orderkey % 3 = 0
      |    THEN CAST(o_orderkey % 100 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    AS sum_bonus,
      |  COUNT(CASE WHEN o_orderkey % 3 = 0 THEN 1 END) AS cnt_bonus
      |FROM base GROUP BY o_orderstatus""".stripMargin)

  // The commit log as a QUERYABLE SQL relation (round 17):
  // `t$history` is the DESCRIBE HISTORY twin — one row per commit,
  // live rows priced from manifest metadata alone (per-file stats
  // rowCount minus DV cardinality, the same arithmetic the DML
  // pricing job uses; never a data scan). The oracle recomputes each
  // version's expected deleted/live counts declaratively, so a DV
  // that leaks into the wrong commit's accounting cannot hash-match.
  val q133 = Query("q133_sql_history", (s, dir) => {
      import graft.sources.VersionedTable
      val wh = scratchPath("q133wh")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      s.conf.set("spark.sql.catalog.gvt133", "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.gvt133.warehouse", wh)
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("o_price"))
      VersionedTable.create(o.repartitionByRange(
        vtParts(s, dir, "orders.parquet"), col("o_orderkey")),
        s"$wh/orders_t", Seq("o_orderkey"))
      s.sql("DELETE FROM gvt133.orders_t WHERE o_orderkey % 10 = 3")
      s.sql("""UPDATE gvt133.orders_t
              |SET o_price = CAST(o_price + 1.00 AS DECIMAL(18,2))
              |WHERE o_orderkey % 7 = 0""".stripMargin)
      // live_rows is priced from manifest metadata alone and is
      // invariant to the per-file DV-vs-CoW pricing choice (a DV keeps
      // the file and subtracts; a rewrite folds the DV and re-counts) —
      // so the oracle holds at every scale factor. n_deleted_rows is
      // deliberately NOT projected: it mirrors whichever lane the
      // pricing chose, which is a cost decision, not an answer.
      s.sql(
        """SELECT version, operation, live_rows
          |FROM gvt133.`orders_t$history`""".stripMargin)
    },
    // declarative replay of q133's per-commit accounting: v1 create
    // (all rows live), v2 deletes the %10=3 keys, v3 updates the %7=0
    // keys still live (cardinality unchanged) — live_rows is invariant
    // to the engine's per-file DV-vs-CoW choice, so this replay holds
    // at every scale factor
    """WITH m AS (SELECT COUNT(*) AS c,
      |  SUM(CASE WHEN o_orderkey % 10 = 3 THEN 1 ELSE 0 END) AS d
      |  FROM orders)
      |SELECT CAST(1 AS BIGINT) AS version, 'create' AS operation,
      |  CAST(c AS BIGINT) AS live_rows FROM m
      |UNION ALL SELECT 2, 'delete', CAST(c - d AS BIGINT) FROM m
      |UNION ALL SELECT 3, 'update', CAST(c - d AS BIGINT) FROM m""".stripMargin)

  val all: Seq[Query] = Seq(q81, q84, q88, q89, q90, q91, q99, q100, q118, q119,
    q121, q122, q123, q125, q126, q127, q128, q129, q130, q131, q132, q133)
}
