package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._
import graft.functions.TextFunctions
import Fixtures._

/** The reference's own operators (SURVEY.md §2: scans, projections,
  * joins, aggregates, windows, set operations, scalar functions), plus
  * the warehouse aggregates built from them: grouping sets, sketches,
  * exact percentiles, skew handling, profiling and bucketed or
  * bloom-pruned joins.
  */
private[graft] object RelationalQueries {

  // A1-A5: grouped agg with conditional count, distinct count, max
  // (reference: gold.py:33-48, bronze.py:153-158)
  val q01 = Query("q01_pricing_summary", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          decSum("l_extendedprice").as("sum_base_price"),
          count(lit(1)).as("cnt"),
          countDistinct(col("l_partkey")).as("n_parts"),
          Aggregates.conditionalCount(col("l_discount") > 0.05).as("high_disc"),
          max(col("l_shipdate")).as("max_ship"))
    },
    """SELECT l_returnflag, l_linestatus,
      | SUM(l_quantity) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | COUNT(*) AS cnt,
      | COUNT(DISTINCT l_partkey) AS n_parts,
      | CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS high_disc,
      | MAX(l_shipdate) AS max_ship
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)

  // W2+O3+J3+A10 flagship: top-10 per group with share of total
  // (reference: gold.py:32-73)
  val q02 = Query("q02_top_parts_per_flag", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val counts = Aggregates.groupCounts(Seq("l_returnflag", "l_linestatus", "l_partkey"))(li)
      val ranked = Rankings.topNPerGroup(
        Seq("l_returnflag", "l_linestatus"),
        Seq(col("cnt").desc, col("l_partkey").asc), 10)(counts)
      val totals = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("total_cnt"))
      ranked.join(totals, Seq("l_returnflag", "l_linestatus"))
        .withColumn("share_pct", lit(100.0) * col("cnt") / col("total_cnt"))
        .select("l_returnflag", "l_linestatus", "l_partkey", "cnt", "rnk", "share_pct")
    },
    """WITH counts AS (
      |  SELECT l_returnflag, l_linestatus, l_partkey, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1,2,3),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus
      |    ORDER BY cnt DESC, l_partkey ASC) AS rnk FROM counts),
      |totals AS (
      |  SELECT l_returnflag, l_linestatus, COUNT(*) AS total_cnt
      |  FROM lineitem GROUP BY 1,2)
      |SELECT r.l_returnflag, r.l_linestatus, r.l_partkey, r.cnt, r.rnk,
      |  100.0 * r.cnt / t.total_cnt AS share_pct
      |FROM ranked r JOIN totals t
      |  ON r.l_returnflag = t.l_returnflag AND r.l_linestatus = t.l_linestatus
      |WHERE r.rnk <= 10""".stripMargin)

  // W3+W4: RANK + windowed-sum share (reference: gold.py:88-136)
  val q03 = Query("q03_rank_share", (s, dir) => {
      val counts = Aggregates.groupCounts(Seq("o_orderpriority", "o_orderstatus"))(
        Tables.orders(s, dir))
      Rankings.rankAndShare(
        Seq("o_orderpriority"), "cnt",
        Seq(col("cnt").desc, col("o_orderstatus").asc))(counts)
        .select("o_orderpriority", "o_orderstatus", "cnt", "rnk", "share_pct")
    },
    """WITH counts AS (
      |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
      |  FROM orders GROUP BY 1,2)
      |SELECT o_orderpriority, o_orderstatus, cnt,
      |  RANK() OVER (PARTITION BY o_orderpriority ORDER BY cnt DESC, o_orderstatus ASC) AS rnk,
      |  100.0 * cnt / SUM(cnt) OVER (PARTITION BY o_orderpriority) AS share_pct
      |FROM counts""".stripMargin)

  // W5: LAG year-over-year deltas (reference: gold.py:117-135)
  val q04 = Query("q04_yoy_orders", (s, dir) => {
      val byYear = Tables.orders(s, dir)
        .withColumn("order_year", year(col("o_orderdate")))
        .groupBy(col("o_orderpriority"), col("order_year"))
        .agg(count(lit(1)).as("cnt"))
      Rankings.lagDelta(Seq("o_orderpriority"), "order_year", "cnt",
        "prev_cnt", "yoy_diff")(byYear)
    },
    """WITH by_year AS (
      |  SELECT o_orderpriority, CAST(YEAR(o_orderdate) AS INT) AS order_year, COUNT(*) AS cnt
      |  FROM orders GROUP BY 1,2)
      |SELECT o_orderpriority, order_year, cnt,
      |  LAG(cnt, 1) OVER (PARTITION BY o_orderpriority ORDER BY order_year) AS prev_cnt,
      |  cnt - LAG(cnt, 1) OVER (PARTITION BY o_orderpriority ORDER BY order_year) AS yoy_diff
      |FROM by_year""".stripMargin)

  // A8: manual pivot of top-3 ranks to columns (reference: gold.py:196-201)
  val q05 = Query("q05_pivot_top3_events", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("bucket", col("user_id") % 10)
      val counts = Aggregates.groupCounts(Seq("bucket", "event_type"))(ev)
      val ranked = Rankings.topNPerGroup(Seq("bucket"),
        Seq(col("cnt").desc, col("event_type").asc), 3)(counts)
      Rankings.pivotTopK(Seq("bucket"), "rnk", "event_type", 3)(ranked)
    },
    """WITH counts AS (
      |  SELECT user_id % 10 AS bucket, event_type, COUNT(*) AS cnt
      |  FROM events GROUP BY 1,2),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
      |    ORDER BY cnt DESC, event_type ASC) AS rnk FROM counts)
      |SELECT bucket,
      |  MAX(CASE WHEN rnk = 1 THEN event_type END) AS event_type_1,
      |  MAX(CASE WHEN rnk = 2 THEN event_type END) AS event_type_2,
      |  MAX(CASE WHEN rnk = 3 THEN event_type END) AS event_type_3
      |FROM ranked WHERE rnk <= 3 GROUP BY bucket""".stripMargin)

  // W1: dedup keep-newest-per-key (reference: silver.py:81-85).
  // Aggregate form: max_by hash-agg with map-side combine instead of a
  // sort-window — the shuffle moves one candidate row per (partition,
  // user) rather than every event.
  val q06 = Query("q06_latest_event_per_user", (s, dir) => {
      Dedup.latestPerKeyAgg(Seq("user_id"), Seq(col("ts"), col("event_id")))(Tables.events(s, dir))
        .select("user_id", "event_id", "event_type", "value", "ts")
    },
    """SELECT user_id, event_id, event_type, value, ts FROM (
      |  SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events) t WHERE rn = 1""".stripMargin)

  // J1: insert-only anti-join idempotency core (reference: bronze.py:111-112)
  val q07 = Query("q07_incremental_antijoin", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val cutoff = to_timestamp(lit("2000-01-01"))
      val batch = li.filter(col("l_shipdate") >= cutoff)
      val existing = li.filter(col("l_shipdate") < cutoff)
      Idempotency.newKeysOnly(batch, existing, Seq("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("l_orderkey")).as("n_orders"))
    },
    """SELECT l_returnflag, COUNT(*) AS cnt, COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem b
      |WHERE b.l_shipdate >= TIMESTAMP '2000-01-01' AND NOT EXISTS (
      |  SELECT 1 FROM lineitem e
      |  WHERE e.l_shipdate < TIMESTAMP '2000-01-01' AND e.l_orderkey = b.l_orderkey)
      |GROUP BY l_returnflag""".stripMargin)

  // J2: broadcast dim enrichment with mapped-flag + fallback
  // (reference: silver.py:53-68)
  val q08 = Query("q08_enrich_parts", (s, dir) => {
      val facts = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_returnflag"))
        .withColumn("fallback_name", lit("UNKNOWN"))
      val dim = Tables.part(s, dir).filter(col("p_size") <= 25)
        .select(col("p_partkey").as("l_partkey"), col("p_name"))
      Enrich.fromDim(facts, dim, "l_partkey", "p_name",
        "resolved_name", "fallback_name", "name_mapped")
        .drop("fallback_name")
    },
    """SELECT b.l_orderkey, b.l_linenumber, b.l_partkey, b.l_returnflag,
      |  p.p_name IS NOT NULL AS name_mapped,
      |  COALESCE(p.p_name, 'UNKNOWN') AS resolved_name
      |FROM lineitem b LEFT JOIN
      |  (SELECT p_partkey, p_name FROM part WHERE p_size <= 25) p
      |  ON b.l_partkey = p.p_partkey""".stripMargin)

  // P1-P9 + §2.8 scalars: standardize / validate / null-out
  // (reference: bronze.py:84-95, silver.py:38-49)
  val q09 = Query("q09_standardize_text", (s, dir) => {
      Tables.customer(s, dir).select(
        col("c_custkey"),
        upper(trim(col("c_mktsegment"))).as("segment_std"),
        Standardize.normalizedKey(col("c_name")).as("name_key"),
        (col("c_name").isNotNull && col("c_name").rlike("^Customer#[0-9]{9}$")).as("name_valid"),
        when(col("c_acctbal") >= 0, col("c_acctbal")).as("acctbal_nonneg"),
        substring(col("c_name"), 10, 4).as("name_suffix"),
        length(col("c_name")).cast(IntegerType).as("name_len"))
    },
    """SELECT c_custkey,
      |  UPPER(TRIM(c_mktsegment)) AS segment_std,
      |  REGEXP_REPLACE(UPPER(TRIM(c_name)), '[^A-Z0-9]', '', 'g') AS name_key,
      |  c_name IS NOT NULL AND REGEXP_MATCHES(c_name, '^Customer#[0-9]{9}$') AS name_valid,
      |  CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS acctbal_nonneg,
      |  SUBSTRING(c_name, 10, 4) AS name_suffix,
      |  CAST(LENGTH(c_name) AS INT) AS name_len
      |FROM customer""".stripMargin)

  // S11: MERGE upsert emulation (reference: breed_mapping.py:596-603).
  // Insert keys use the scale-derived plantOffset so the insert lane
  // exercises TRUE inserts at every rung (a fixed +1M partly collided
  // with real part keys at sf100, turning "inserts" into updates)
  val q10 = Query("q10_merge_upsert", (s, dir) => {
      val target = Tables.part(s, dir)
      val off = plantOffset(target, "p_partkey")
      val changed = target.filter(col("p_partkey") % 7 === 0)
        .withColumn("p_name", concat(col("p_name"), lit(" v2")))
        .withColumn("p_retailprice", col("p_retailprice") + 50.0)
      val inserts = changed.withColumn("p_partkey", col("p_partkey") + off)
      Merge.upsert(target, changed.unionByName(inserts), Seq("p_partkey"))
    },
    """WITH u AS (
      |  SELECT p_partkey, p_name || ' v2' AS p_name, p_brand, p_type, p_size,
      |    p_retailprice + 50.0 AS p_retailprice
      |  FROM part WHERE p_partkey % 7 = 0
      |  UNION ALL
      |  SELECT p_partkey + (SELECT (max(p_partkey) // 1000000 + 1) * 1000000
      |                      FROM part),
      |    p_name || ' v2', p_brand, p_type, p_size,
      |    p_retailprice + 50.0
      |  FROM part WHERE p_partkey % 7 = 0)
      |SELECT COALESCE(u.p_partkey, t.p_partkey) AS p_partkey,
      |  CASE WHEN u.p_partkey IS NOT NULL THEN u.p_name ELSE t.p_name END AS p_name,
      |  CASE WHEN u.p_partkey IS NOT NULL THEN u.p_brand ELSE t.p_brand END AS p_brand,
      |  CASE WHEN u.p_partkey IS NOT NULL THEN u.p_type ELSE t.p_type END AS p_type,
      |  CASE WHEN u.p_partkey IS NOT NULL THEN u.p_size ELSE t.p_size END AS p_size,
      |  CASE WHEN u.p_partkey IS NOT NULL THEN u.p_retailprice ELSE t.p_retailprice END AS p_retailprice
      |FROM part t FULL OUTER JOIN u ON t.p_partkey = u.p_partkey""".stripMargin)

  // A3+A10: grouped quality metrics with null-guarded ratio
  // (reference: gold.py:289-309)
  val q11 = Query("q11_quality_grouped", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("rows_cnt"),
          Aggregates.conditionalCount(col("l_discount") > 0.05).as("high_disc"),
          countDistinct(col("l_partkey")).as("n_parts"),
          max(col("l_shipdate")).as("max_ship"))
        .withColumn("pct_high_disc",
          when(col("rows_cnt") === 0, lit(null).cast(DoubleType))
            .otherwise(lit(100.0) * col("high_disc") / col("rows_cnt")))
    },
    """SELECT l_returnflag,
      |  COUNT(*) AS rows_cnt,
      |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS high_disc,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  MAX(l_shipdate) AS max_ship,
      |  CASE WHEN COUNT(*) = 0 THEN NULL
      |    ELSE 100.0 * SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) / COUNT(*) END AS pct_high_disc
      |FROM lineitem GROUP BY l_returnflag""".stripMargin)

  // A2: global health aggregate (reference: bronze.py:153-158)
  val q12 = Query("q12_global_health", (s, dir) => {
      Tables.orders(s, dir).agg(
        count(lit(1)).as("total_rows"),
        countDistinct(col("o_custkey")).as("n_customers"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"),
        Aggregates.conditionalCount(col("o_orderstatus") === "F").as("finished_cnt"))
        .withColumn("pct_finished", lit(100.0) * col("finished_cnt") / col("total_rows"))
    },
    """SELECT COUNT(*) AS total_rows,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  MIN(o_orderdate) AS first_order,
      |  MAX(o_orderdate) AS last_order,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished_cnt,
      |  100.0 * SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) / COUNT(*) AS pct_finished
      |FROM orders""".stripMargin)

  // §2.8 date/string scalars: date_format, substring, length guard
  // (reference: gold.py:224-227,325; bronze.py:33-38)
  val q13 = Query("q13_date_scalars", (s, dir) => {
      Tables.orders(s, dir)
        .filter(length(col("o_orderpriority")) >= 5)
        .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .withColumn("prio_class", substring(col("o_orderpriority"), 1, 1))
        .groupBy(col("order_month"), col("prio_class"))
        .agg(count(lit(1)).as("cnt"), decSum("o_totalprice").as("sum_price"))
    },
    """SELECT STRFTIME(o_orderdate, '%Y-%m') AS order_month,
      |  SUBSTRING(o_orderpriority, 1, 1) AS prio_class,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE LENGTH(o_orderpriority) >= 5
      |GROUP BY 1, 2""".stripMargin)

  // J4: 1x1 cross-join scalar combine (reference: breed_mapping.py:636-648)
  val q14 = Query("q14_coverage_crossjoin", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val dimKeys = Tables.part(s, dir).filter(col("p_size") <= 25)
        .select(col("p_partkey").as("l_partkey"))
      val total = li.agg(count(lit(1)).as("total_rows"))
      val unmatched = li.join(dimKeys, Seq("l_partkey"), "left_anti")
        .agg(count(lit(1)).as("unmatched_rows"))
      total.crossJoin(unmatched)
        .withColumn("pct_unmatched", lit(100.0) * col("unmatched_rows") / col("total_rows"))
    },
    """WITH total AS (SELECT COUNT(*) AS total_rows FROM lineitem),
      |unmatched AS (
      |  SELECT COUNT(*) AS unmatched_rows FROM lineitem b
      |  WHERE NOT EXISTS (SELECT 1 FROM part p
      |    WHERE p.p_size <= 25 AND p.p_partkey = b.l_partkey))
      |SELECT t.total_rows, u.unmatched_rows,
      |  100.0 * u.unmatched_rows / t.total_rows AS pct_unmatched
      |FROM total t CROSS JOIN unmatched u""".stripMargin)

  // §2.7: set operations (union / intersect / except)
  val q15 = Query("q15_set_ops", (s, dir) => {
      val o = Tables.orders(s, dir)
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val op = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val fOnly = f.except(op).withColumn("category", lit("F_ONLY"))
      val oOnly = op.except(f).withColumn("category", lit("O_ONLY"))
      val both = f.intersect(op).withColumn("category", lit("BOTH"))
      fOnly.union(oOnly).union(both)
        .groupBy(col("category")).agg(count(lit(1)).as("cnt"))
    },
    """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
      |o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
      |cats AS (
      |  SELECT o_custkey, 'F_ONLY' AS category FROM (SELECT * FROM f EXCEPT SELECT * FROM o)
      |  UNION ALL
      |  SELECT o_custkey, 'O_ONLY' AS category FROM (SELECT * FROM o EXCEPT SELECT * FROM f)
      |  UNION ALL
      |  SELECT o_custkey, 'BOTH' AS category FROM (SELECT * FROM f INTERSECT SELECT * FROM o))
      |SELECT category, COUNT(*) AS cnt FROM cats GROUP BY category""".stripMargin)

  // Native pivot with pinned values (one-shuffle wide aggregation —
  // the declarative twin of q05's max(when) manual pivot)
  val q31 = Query("q31_pivot_native", (s, dir) => {
      Tables.events(s, dir).withColumn("bucket", col("user_id") % 10)
        .groupBy(col("bucket"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L) // absent (bucket, type) combos: 0, like the SQL CASE sum
    },
    """SELECT user_id % 10 AS bucket,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events GROUP BY 1""".stripMargin)

  // Rollup: hierarchical subtotals in one pass (beyond the reference's
  // flat groupings; one shuffle, grouping-set expansion map-side)
  val q32 = Query("q32_rollup", (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), decSum("l_extendedprice").as("sum_price"))
    },
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)

  // Sketch aggregates — the 100 TB scale path where exact distinct /
  // exact percentiles would shuffle every value: HLL++ and a quantile
  // sketch keep constant state per group. Sketch VALUES are
  // algorithm-specific and can never hash-match an oracle, so the
  // query emits what IS engine-reproducible: the exact statistics
  // plus booleans asserting each sketch landed inside its error
  // bound (rsd 0.02 → 5% head-room on the distinct count; quantile
  // accuracy 1000 → rank-error ≤ n/1000, checked by counting the
  // EXACT rank of each estimate and requiring it inside a generous
  // [0.40, 0.60] / [0.98, 1] bracket). DuckDB recomputes the exacts
  // and emits `true` for each bound — a red row means the sketch
  // itself broke its contract. AggregatesSpec additionally bounds the
  // raw estimates vs exact on fixtures.
  //
  // Shaped as THREE separate scans on purpose: countDistinct forces
  // an Expand, and mixing that with the object-typed quantile/HLL
  // buffers in one aggregation degrades the whole pass to a sort
  // aggregate over 2× rows (measured 66× at sf1). Sketch pass,
  // exact-distinct pass, and a broadcast-join rank pass each stay in
  // their fast aggregate form; the rank check replaces the exact
  // `percentile` whose per-group value map is itself a scale hazard.
  val q33 = Query("q33_approx_stats", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val sk = li.groupBy(col("l_returnflag")).agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("__ap"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("__amed"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(1000))
          .as("__a99"))
      val ex = li.groupBy(col("l_returnflag")).agg(
        countDistinct(col("l_partkey")).as("exact_parts"))
      // exact rank of each estimate: one broadcast of the 3-row sketch
      // result, then codegen'd conditional counts; __ap rides along so
      // the sketch pass is computed exactly once
      val rk = li.join(broadcast(sk), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(max(col("__ap")).as("__ap"),
          count(lit(1)).as("__n"),
          count(when(col("l_extendedprice") <= col("__amed"), 1))
            .as("__le_med"),
          count(when(col("l_extendedprice") <= col("__a99"), 1))
            .as("__le_p99"))
      ex.join(rk, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("__ap") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("approx_parts_ok"),
          (col("__le_med") >= col("__n") * 0.40 &&
            col("__le_med") <= col("__n") * 0.60).as("approx_median_ok"),
          (col("__le_p99") >= col("__n") * 0.98).as("approx_p99_ok"))
    },
    // the sketch estimates themselves are algorithm-specific; what the
    // oracle can check is the exact statistics plus the contract that
    // every sketch landed inside its error bound (Spark computes the
    // booleans from its own sketch vs its own exact percentiles;
    // DuckDB asserts they must all be true)
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |  true AS approx_parts_ok, true AS approx_median_ok,
      |  true AS approx_p99_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin)

  // The complete v_breed_stats gold view (reference: gold.py:88-136 —
  // share + rank + LAG yoy deltas + round/div-0 pins), exercised through
  // Gold.breedStats itself on re-keyed testdata: Year=year(o_orderdate),
  // type=o_orderstatus, breed=o_orderpriority.
  // Deliberate exception to the "never round() a computed double" rule
  // above: the reference pins ROUND(x,4) semantics (gold.py:115,132-135)
  // so this query exercises them; engines could disagree on an exact
  // 5th-decimal tie, but none occurs in the fixed sf0.01 gate data
  // (hash-matched) and the ratios' denominators make ties measure-zero.
  val q35 = Query("q35_breed_stats_full", (s, dir) => {
      val rekeyed = Tables.orders(s, dir).select(
        year(col("o_orderdate")).as("Year"),
        col("o_orderstatus").as("ANIMAL_TYPE"),
        col("o_orderpriority").as("breed_standard"))
      graft.pipeline.Gold.breedStats(rekeyed)
    },
    """WITH base AS (
      |  SELECT CAST(YEAR(o_orderdate) AS INT) AS Year, o_orderstatus AS Animal_Type,
      |    o_orderpriority AS breed, COUNT(*) AS cnt
      |  FROM orders GROUP BY 1, 2, 3),
      |w AS (
      |  SELECT *,
      |    CAST(SUM(cnt) OVER (PARTITION BY Year, Animal_Type) AS BIGINT) AS total,
      |    RANK() OVER (PARTITION BY Year, Animal_Type
      |      ORDER BY cnt DESC, breed ASC) AS rank_in_year_type
      |  FROM base),
      |sh AS (
      |  SELECT *, ROUND(CAST(cnt AS DOUBLE) / total, 4) AS share FROM w),
      |lagged AS (
      |  SELECT *,
      |    LAG(cnt, 1) OVER (PARTITION BY Animal_Type, breed ORDER BY Year) AS prev_cnt,
      |    LAG(share, 1) OVER (PARTITION BY Animal_Type, breed ORDER BY Year) AS prev_share
      |  FROM sh)
      |SELECT Year, Animal_Type, breed, cnt, total, share, rank_in_year_type,
      |  prev_cnt,
      |  cnt - prev_cnt AS yoy_cnt_diff,
      |  CASE WHEN prev_cnt > 0
      |    THEN ROUND(CAST(cnt - prev_cnt AS DOUBLE) / prev_cnt, 4) END AS yoy_cnt_pct_change,
      |  prev_share,
      |  ROUND(share - prev_share, 4) AS yoy_share_point_diff,
      |  CASE WHEN prev_share > 0
      |    THEN ROUND((share - prev_share) / prev_share, 4) END AS yoy_share_pct_change
      |FROM lagged""".stripMargin)

  // Bucketed co-located join: both sides written bucketBy(custkey) once,
  // then the equi-join + its sorts run exchange-free (BucketingSpec
  // asserts the plan) — the write-time-shuffle amortization story for a
  // recurring 100 TB fact join. Results identical to the plain join.
  val q36 = Query("q36_bucketed_join", (s, dir) => {
      // per-JVM location + Overwrite: repeated runs in one process replace
      // (no accumulation), concurrent processes never clobber each other.
      // The bucketed layout is the IMMUTABLE input fixture — built once
      // per (JVM, dir) under the amortization rule; the gate prices the
      // exchange-free join over it, which re-runs every trial.
      // catalog names carry the dir tag: the memo is per sfDir, so the
      // JVM-global table names must be too — otherwise a second dir's
      // build would overwrite the first dir's tables under the same name
      val dirTag = fixtureTag(dir)
      vtBase(s, dir, "q36") { tmp =>
        Bucketing.writeBucketed(Tables.orders(s, dir),
          s"q36_orders_$dirTag", 8,
          Seq("o_custkey"), Seq("o_custkey"), Some(s"$tmp/orders"))
        Bucketing.writeBucketed(
          Tables.customer(s, dir).withColumnRenamed("c_custkey", "o_custkey"),
          s"q36_customer_$dirTag", 8, Seq("o_custkey"), Seq("o_custkey"),
          Some(s"$tmp/customer"))
      }
      Bucketing.table(s, s"q36_orders_$dirTag")
        .join(Bucketing.table(s, s"q36_customer_$dirTag"), Seq("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), decSum("o_totalprice").as("sum_price"))
    },
    """SELECT c_mktsegment, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1""".stripMargin)

  // Two-phase salted aggregation (the manual skew fallback) registered
  // under the oracle: identical results to the plain GROUP BY, by
  // construction (SkewHealthSpec proves the join twin)
  val q46 = Query("q46_salted_agg", (s, dir) => {
      Skew.saltedCount(Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus"), salt = 8)
    },
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
      |FROM lineitem GROUP BY 1, 2""".stripMargin)

  // Skew diagnostic registered under the oracle: top-20 heaviest part
  // keys with row share, tie-pinned on the key so the cutoff set is
  // deterministic across engines
  val q47 = Query("q47_key_histogram", (s, dir) => {
      Skew.keyHistogram(Tables.lineitem(s, dir), Seq("l_partkey"), topN = 20)
    },
    """WITH c AS (SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lineitem)
      |SELECT c.l_partkey, c.cnt, 100.0 * c.cnt / t.n AS share_pct
      |FROM c CROSS JOIN t
      |ORDER BY c.cnt DESC, c.l_partkey ASC LIMIT 20""".stripMargin)

  // Cube: all grouping-set combinations in one pass (completes the
  // grouping-sets family next to q32's rollup; same single-shuffle
  // expand-side aggregation)
  val q49 = Query("q49_cube", (s, dir) => {
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), decSum("l_extendedprice").as("sum_price"))
    },
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)

  // ANALYZE-style table profiling: per-column rows/nulls/distincts/
  // min/max in ONE aggregation job (stacked to a long report) — the
  // data-quality health report a pipeline publishes next to every
  // table it writes
  val q58 = Query("q58_profile", (s, dir) => {
      Profiling.profile(Tables.documents(s, dir),
        Seq("doc_id", "lang", "source", "n_chars"))
    },
    """SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
      |  COUNT(*) - COUNT(doc_id) AS n_nulls,
      |  COUNT(DISTINCT doc_id) AS n_distinct,
      |  CAST(MIN(doc_id) AS VARCHAR) AS min_value,
      |  CAST(MAX(doc_id) AS VARCHAR) AS max_value FROM documents
      |UNION ALL SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang),
      |  COUNT(DISTINCT lang), MIN(lang), MAX(lang) FROM documents
      |UNION ALL SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
      |  COUNT(DISTINCT source), MIN(source), MAX(source) FROM documents
      |UNION ALL SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
      |  COUNT(DISTINCT n_chars), CAST(MIN(n_chars) AS VARCHAR),
      |  CAST(MAX(n_chars) AS VARCHAR) FROM documents""".stripMargin)

  // Exact discrete percentiles per group — the exact twin of q33's
  // sketches: percentile_disc returns an ACTUAL data element (lowest
  // value with cumulative distribution >= p, the ANSI definition both
  // engines share), so unlike interpolated percentiles it is
  // bit-comparable across engines
  val q68 = Query("q68_percentiles", (s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(
          // Spark returns DOUBLE; the value is an actual element of the
          // long column, so the cast back is lossless and matches the
          // oracle's column type
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
            .cast("long").as("p50"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)")
            .cast("long").as("p95"),
          count(lit(1)).as("n_docs"))
    },
    """SELECT source,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS p50,
      |  percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars) AS p95,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY source""".stripMargin)

  // Incremental cardinality via a mergeable HLL sketch store: two
  // snapshot halves sketch independently (what each ingest batch
  // persists), the union-merge estimates corpus-wide distincts without
  // rescanning history. Sketch bytes aren't SQL-expressible, so the
  // query emits the q33 contract form instead: the EXACT distincts
  // plus a boolean asserting the merged estimate landed inside 5% of
  // them (lgK=12 → rsd ≈1.6%, generous head-room) — DuckDB recomputes
  // the exacts and emits `true`, so a red row means the sketch store
  // broke its contract. AggregatesSpec separately proves merged ==
  // single-pass exactly. Exact pass and sketch pass stay SEPARATE
  // aggregations joined on the 3-row group key (the q33 lesson:
  // countDistinct's Expand must not share an aggregation with
  // object-typed sketch buffers).
  val q69 = Query("q69_sketch_store", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val a = Aggregates.sketchBatch(
        docs.filter(col("doc_id") < 250), Seq("source"), "text")
      val b = Aggregates.sketchBatch(
        docs.filter(col("doc_id") >= 250), Seq("source"), "text")
      val est = Aggregates.mergeSketchEstimate(
        a.unionByName(b), Seq("source"))
      docs.groupBy(col("source"))
        .agg(countDistinct(col("text")).as("exact_distinct"))
        .join(broadcast(est), Seq("source"))
        .select(col("source"), col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct")) <=
            col("exact_distinct") * 0.05).as("sketch_ok"))
    },
    // q33's sketch-contract pattern: DuckDB recomputes the exact
    // distincts and asserts the HLL-store estimate's 5% bound held
    """SELECT source, COUNT(DISTINCT text) AS exact_distinct,
      |  TRUE AS sketch_ok
      |FROM documents GROUP BY source""".stripMargin)

  // Bloom-pruned semi join: the dim's keys aggregate into one bloom
  // (bounded driver collect, ~24 KB here) probed at the fact SCAN
  // before the join shuffle; the exact semi join removes false
  // positives so the answer never depends on the bloom (spec proves
  // probe-below-join and exactness under a deliberately undersized
  // bloom).
  val q73 = Query("q73_bloom_join", (s, dir) => {
      val dim = Tables.part(s, dir).filter(col("p_size") < 10)
        .select(col("p_partkey").as("dk"))
      BloomJoin.semiJoinPruned(Tables.lineitem(s, dir), dim,
          "l_partkey", "dk", expectedItems = 20000)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("l_partkey")).as("n_parts"),
          decSum("l_extendedprice").as("sum_price"))
    },
    // the bloom is a pure pruning device — the oracle is the plain
    // semi-join aggregate
    """SELECT l_returnflag, COUNT(*) AS cnt,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM lineitem
      |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 10)
      |GROUP BY l_returnflag""".stripMargin)

  // Mergeable count-min frequency store: two snapshot halves sketch
  // independently (what each ingest batch persists), the cell-wise-
  // addition merge estimates corpus-wide token frequencies without
  // rescanning history — the heavy-hitter companion to q69's HLL
  // store. Sketch bytes aren't SQL-expressible, so the query emits
  // the q33 contract form: the EXACT per-(source, probe) counts plus
  // booleans asserting the CMS guarantees held — estimates never
  // undercount (deterministic for count-min), and overcount stays
  // within eps·N (eps=1e-4, N = that source's token total; the merge
  // is cell-wise addition so the merged sketch keeps both bounds).
  // DuckDB recomputes the exacts and emits `true`; AggregatesSpec
  // separately proves merged == single-pass bit-for-bit.
  val q77 = Query("q77_cms_store", (s, dir) => {
      val probes = Seq("join", "hash", "scan", "filter", "merge")
      // four consumers (two CMS batch aggs, the per-source grid, the
      // exact probe counts) each re-ran the tokenize+explode pass;
      // materialize it once (guide §5: reuse beats recompute when the
      // recompute is the expensive part — tokenization dominates here)
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .localCheckpoint()
      val a = Aggregates.cmsBatch(toks.filter(crc32(col("token")) % 2 === 0),
        "source", "token")
      val b = Aggregates.cmsBatch(toks.filter(crc32(col("token")) % 2 === 1),
        "source", "token")
      val est = Aggregates.cmsMergeEstimate(a.unionByName(b), "source", probes)
      import s.implicits._
      // zero-filled (source, probe) grid: a probe absent from a source
      // still has a contract to check (estimate may only be collisions)
      val grid = toks.groupBy(col("source"))
        .agg(count(lit(1)).as("__n"))
        .crossJoin(broadcast(probes.toDF("token")))
      grid
        .join(toks.filter(col("token").isin(probes: _*))
          .groupBy(col("source"), col("token"))
          .agg(count(lit(1)).as("__c")), Seq("source", "token"), "left")
        .join(broadcast(est), Seq("source", "token"))
        .select(col("source"), col("token"),
          coalesce(col("__c"), lit(0L)).as("exact_count"),
          (col("est_count") >= coalesce(col("__c"), lit(0L)))
            .as("never_under_ok"),
          (col("est_count") <= coalesce(col("__c"), lit(0L)) +
            col("__n") * 0.0001).as("bound_ok"))
    },
    // exact (source, probe) token counts zero-filled over the grid; the
    // CMS one-sided-error and eps*N booleans are required TRUE
    """WITH tok AS (SELECT source,
      |    unnest(string_split(trim(text), ' ')) AS token FROM documents),
      |n AS (SELECT source, COUNT(*) AS nn FROM tok GROUP BY source),
      |probes AS (SELECT unnest(
      |    ['join', 'hash', 'scan', 'filter', 'merge']) AS token),
      |c AS (SELECT source, token, COUNT(*) AS c FROM tok
      |      WHERE token IN ('join', 'hash', 'scan', 'filter', 'merge')
      |      GROUP BY source, token)
      |SELECT n.source, p.token, COALESCE(c.c, 0) AS exact_count,
      |  TRUE AS never_under_ok, TRUE AS bound_ok
      |FROM n CROSS JOIN probes p
      |LEFT JOIN c ON c.source = n.source AND c.token = p.token""".stripMargin)

  val all: Seq[Query] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q31, q32, q33, q35, q36, q46, q47, q49, q58, q68,
    q69, q73, q77)
}
