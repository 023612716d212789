package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import Fixtures._

/** Event time and slowly changing state: as-of, range and interval
  * joins over `events`, tumbling windows, sessionization, SCD Type 2
  * dimensions and snapshot CDC.
  */
private[graft] object TemporalQueries {

  // Tumbling-window event aggregation (batch twin of the streaming path)
  val q26 = Query("q26_event_windows", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), decSum("value").as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("cnt"), col("sum_value"))
    },
    """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |  event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin)

  // As-of join: every event picks up the value of the user's latest
  // prior (<=) purchase — the temporal feature-lookup join. Expressed
  // as one union + sorted-window carry-forward (single shuffle on the
  // key, no range join, no pair explosion); DuckDB's native ASOF JOIN
  // is the oracle.
  val q39 = Query("q39_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      // hash-agg dedup form: single-column max ordering needs no sort-window
      val purchases = Dedup.latestPerKeyAgg(
        Seq("user_id", "ts"), Seq(col("event_id")))(
        ev.filter(col("event_type") === "purchase"))
      AsOf.asOfJoin(
        ev.select("event_id", "user_id", "ts"),
        purchases.select(col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", "ts", Seq("value"))
    },
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS rts, value FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
      |      ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_type = 'purchase') t WHERE rn = 1)
      |SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
      |  p.value AS asof_value
      |FROM events l ASOF LEFT JOIN p
      |  ON l.user_id = p.user_id AND CAST(l.ts AS TIMESTAMP) >= p.rts""".stripMargin)

  // Range join: events landing inside the hour after any purchase by
  // the same user. Bin-bucketed equi-join + exact containment filter —
  // the scale path for a condition Spark would otherwise plan as a
  // broadcast-nested-loop join (RangeJoinSpec asserts the plan).
  val q40 = Query("q40_range_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val intervals = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("end_ts"),
          col("event_id").as("interval_id"))
      RangeJoin.pointsInIntervals(
        ev.select("event_id", "user_id", "ts"), intervals,
        Seq("user_id"), "ts", "start_ts", "end_ts", Seq("interval_id"))
    },
    """WITH i AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS s,
      |    CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS e,
      |    event_id AS interval_id
      |  FROM events WHERE event_type = 'purchase')
      |SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts, i.interval_id
      |FROM events l JOIN i ON l.user_id = i.user_id
      |  AND CAST(l.ts AS TIMESTAMP) >= i.s AND CAST(l.ts AS TIMESTAMP) < i.e""".stripMargin)

  // Interval-overlap join: purchase hour-windows × signup two-hour
  // windows for the same user — the third temporal-join family member
  // (as-of q39, point-in-interval q40, interval-overlap here). Both
  // sides bin-bucket; each true pair emits once via the first-shared-
  // bin rule (RangeJoinSpec asserts no nested-loop plan).
  val q41 = Query("q41_interval_overlap", (s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("a_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("a_end"),
          col("event_id").as("a_id"))
      val b = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("b_start"),
          (col("ts") + expr("INTERVAL 2 HOUR")).as("b_end"),
          col("event_id").as("b_id"))
      RangeJoin.intervalsOverlap(a, b, Seq("user_id"),
        "a_start", "a_end", "b_start", "b_end", Seq("b_id"))
    },
    """WITH a AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS a_start,
      |    CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS a_end,
      |    event_id AS a_id
      |  FROM events WHERE event_type = 'purchase'),
      |b AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS b_start,
      |    CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR AS b_end,
      |    event_id AS b_id
      |  FROM events WHERE event_type = 'signup')
      |SELECT a.user_id, a.a_start, a.a_end, a.a_id, b.b_id
      |FROM a JOIN b ON a.user_id = b.user_id
      |  AND a.a_start < b.b_end AND b.b_start < a.a_end""".stripMargin)

  // As-of join, forward direction with max-staleness tolerance: every
  // event picks up the value of the user's NEXT purchase, but only if
  // it lands within the following hour — the "did a conversion follow"
  // feature join. Same one-shuffle union+window formulation as q39
  // with the ordering reversed; DuckDB's ASOF (l.ts <= p.rts) + a
  // tolerance CASE is the oracle.
  val q43 = Query("q43_asof_forward", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = Dedup.latestPerKeyAgg(
        Seq("user_id", "ts"), Seq(col("event_id")))(
        ev.filter(col("event_type") === "purchase"))
      AsOf.asOfJoin(
        ev.select("event_id", "user_id", "ts"),
        purchases.select(col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", "ts", Seq("value"),
        direction = "forward", tolerance = Some(3600.0))
    },
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS rts, value FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
      |      ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_type = 'purchase') t WHERE rn = 1)
      |SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
      |  CASE WHEN p.rts - CAST(l.ts AS TIMESTAMP) <= INTERVAL 1 HOUR
      |    THEN p.value END AS asof_value
      |FROM events l ASOF LEFT JOIN p
      |  ON l.user_id = p.user_id AND CAST(l.ts AS TIMESTAMP) <= p.rts""".stripMargin)

  // Batch sessionization (gaps-and-islands): per-user sessions closed
  // by 30 min of inactivity — LAG + running-sum session ids + one
  // aggregate, one shuffle total; the batch twin of the streaming
  // sessionize (StreamingSpec proves agreement on the same rows)
  val q50 = Query("q50_sessionize", (s, dir) => {
      Sessionize.sessions(
        Tables.events(s, dir).select("user_id", "ts", "value"),
        Seq("user_id"), "ts", gapSeconds = 1800L,
        extraAggs = Seq(decSum("value").as("sum_value")))
    },
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |l AS (SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM e),
      |s AS (SELECT *, CAST(SUM(CASE WHEN prev IS NULL
      |    OR epoch(ts) - epoch(prev) > 1800 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_id
      |  FROM l)
      |SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, session_id""".stripMargin)

  // SCD Type 2 dimension maintenance: the versioned form of q10's
  // upsert. The dim is `part` seeded as all-current at 2020-01-01; the
  // update batch (derived deterministically from the key) changes
  // p_retailprice for keys ≡0 (mod 7), re-delivers identical rows for
  // keys ≡1 (no-op proof in the result), and brings new keys at the
  // scale-derived plantOffset for keys ≡2. One full-outer shuffle;
  // history never moves.
  val q70 = Query("q70_scd2", (s, dir) => {
      val part = Tables.part(s, dir)
      val dim = part.select(
        col("p_partkey"), col("p_brand"), col("p_retailprice"),
        lit("2020-01-01").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        lit(true).as("is_current"))
      // scale-derived insert offset (q25 convention): the fixed +10M
      // collided with real part keys at sf100 (part holds 20M keys),
      // and SCD2 is JOIN-asymmetric - a colliding "insert" closes the
      // real key's current version, which the closed-form oracle can't
      // price. Found by the r12 sf100 answer sweep. Round 13 migrated
      // the rest of the planted-offset class (q10/q71/q80/q88/q89 and
      // the q99/q100 history) to the same derivation, so every insert
      // lane exercises true inserts at every rung.
      val off = plantOffset(part, "p_partkey")
      val updates =
        part.filter(col("p_partkey") % 7 === 0)
          .select(col("p_partkey"), col("p_brand"),
            (col("p_retailprice") + 10.0).as("p_retailprice"))
        .unionByName(part.filter(col("p_partkey") % 7 === 1)
          .select("p_partkey", "p_brand", "p_retailprice"))
        .unionByName(part.filter(col("p_partkey") % 7 === 2)
          .select((col("p_partkey") + off).as("p_partkey"),
            col("p_brand"), (col("p_retailprice") * 2.0).as("p_retailprice")))
      Scd.applyType2(dim, updates, Seq("p_partkey"),
          Seq("p_brand", "p_retailprice"),
          lit("2021-06-01").cast("timestamp"))
        .select("p_partkey", "p_brand", "p_retailprice",
          "valid_from", "valid_to", "is_current")
    },
    // replays applyType2's four outcome classes directly: closed old
    // versions (%7=0), carried rows (everything else), reopened versions
    // (+10.0), and brand-new offset keys (*2.0) — plain IEEE arithmetic,
    // bit-identical across engines
    """WITH p AS (SELECT p_partkey, p_brand, p_retailprice FROM part)
      |SELECT p_partkey, p_brand, p_retailprice,
      |  TIMESTAMP '2020-01-01' AS valid_from,
      |  TIMESTAMP '2021-06-01' AS valid_to, FALSE AS is_current
      |FROM p WHERE p_partkey % 7 = 0
      |UNION ALL
      |SELECT p_partkey, p_brand, p_retailprice,
      |  TIMESTAMP '2020-01-01', CAST(NULL AS TIMESTAMP), TRUE
      |FROM p WHERE p_partkey % 7 <> 0
      |UNION ALL
      |SELECT p_partkey, p_brand, p_retailprice + 10.0,
      |  TIMESTAMP '2021-06-01', CAST(NULL AS TIMESTAMP), TRUE
      |FROM p WHERE p_partkey % 7 = 0
      |UNION ALL
      |SELECT p_partkey + (SELECT (max(p_partkey) // 1000000 + 1) * 1000000
      |                    FROM part),
      |  p_brand, p_retailprice * 2.0,
      |  TIMESTAMP '2021-06-01', CAST(NULL AS TIMESTAMP), TRUE
      |FROM p WHERE p_partkey % 7 = 2""".stripMargin)

  // Snapshot CDC diff: classify the delta between two deterministic
  // snapshots of `orders` (new drops keys ≡0 mod 13, adds keys at the
  // scale-derived plantOffset for ≡0 mod 17, bumps o_totalprice for
  // ≡0 mod 7 and clears o_orderpriority for ≡0 mod 5). One full-outer
  // shuffle; output is the delta only. The added keys formerly used a
  // fixed +10M, which collided with real order keys at sf100 — the
  // oracle mirrored the collision so answers stayed green, but the
  // "insert" lane was partly classifying updates; plantOffset makes
  // every added key a true insert at every rung.
  val q71 = Query("q71_snapshot_cdc", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      val off = plantOffset(o, "o_orderkey")
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
      Merge.snapshotDiff(o, newSnap, Seq("o_orderkey"))
    },
    // full-outer diff classification; concat_ws drops NULL branches so
    // changed_cols matches Spark's filtered array_join in schema order
    """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      |           FROM orders),
      |n AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS o_totalprice,
      |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |         ELSE o_orderpriority END AS o_orderpriority
      |  FROM o WHERE o_orderkey % 13 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + (SELECT (max(o_orderkey) // 1000000 + 1) * 1000000
      |                       FROM orders),
      |    o_orderstatus, o_totalprice, o_orderpriority
      |  FROM o WHERE o_orderkey % 17 = 0),
      |j AS (
      |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
      |    o.o_orderkey IS NOT NULL AS in_old, n.o_orderkey IS NOT NULL AS in_new,
      |    o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS c_status,
      |    o.o_totalprice IS DISTINCT FROM n.o_totalprice AS c_price,
      |    o.o_orderpriority IS DISTINCT FROM n.o_orderpriority AS c_prio
      |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
      |SELECT o_orderkey,
      |  CASE WHEN NOT in_old THEN 'insert'
      |       WHEN NOT in_new THEN 'delete' ELSE 'update' END AS change_type,
      |  CASE WHEN in_old AND in_new THEN
      |    concat_ws(',', CASE WHEN c_status THEN 'o_orderstatus' END,
      |                   CASE WHEN c_price THEN 'o_totalprice' END,
      |                   CASE WHEN c_prio THEN 'o_orderpriority' END)
      |  ELSE '' END AS changed_cols
      |FROM j
      |WHERE NOT (in_old AND in_new) OR c_status OR c_price OR c_prio""".stripMargin)

  // SCD2 × as-of composition: facts resolve the dim version in effect
  // at their ship date. Version intervals are contiguous (valid_to =
  // successor's valid_from), so "the version at t" IS the backward
  // as-of match on valid_from — the join-free union+window AsOf
  // operator, no interval explosion on the open-ended current rows.
  // Version timestamps sit INSIDE the fact date range (base 1995-01-01,
  // superseding update 1998-06-01; l_shipdate spans 1995-2001), so
  // facts genuinely straddle versions — early ships resolve the base
  // price, late ships the +10 update (OperatorsSpec proves both
  // versions are exercised; an out-of-range dim would degenerate to an
  // unmatched left join that the oracle could never catch).
  val q80 = Query("q80_scd2_asof", (s, dir) => {
      val part = Tables.part(s, dir)
      // scale-derived insert offset (the q70 convention): SCD2 is
      // join-asymmetric, so a colliding "insert" would close a real
      // key's current version and shift which dim version facts resolve
      val off = plantOffset(part, "p_partkey")
      val base = part.select(
        col("p_partkey"), col("p_brand"), col("p_retailprice"),
        lit("1995-01-01").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        lit(true).as("is_current"))
      val updates =
        part.filter(col("p_partkey") % 7 === 0)
          .select(col("p_partkey"), col("p_brand"),
            (col("p_retailprice") + 10.0).as("p_retailprice"))
        .unionByName(part.filter(col("p_partkey") % 7 === 1)
          .select("p_partkey", "p_brand", "p_retailprice"))
        .unionByName(part.filter(col("p_partkey") % 7 === 2)
          .select((col("p_partkey") + off).as("p_partkey"),
            col("p_brand"), (col("p_retailprice") * 2.0).as("p_retailprice")))
      val dim = Scd.applyType2(base, updates, Seq("p_partkey"),
          Seq("p_brand", "p_retailprice"),
          lit("1998-06-01").cast("timestamp"))
        .select("p_partkey", "p_retailprice", "valid_from")
      val facts = Tables.lineitem(s, dir)
        .filter(col("l_partkey") % 7 === 0)
        .select(col("l_partkey").as("p_partkey"),
          col("l_shipdate"), col("l_returnflag"))
      AsOf.asOfJoin(facts, dim, Seq("p_partkey"),
          "l_shipdate", "valid_from", Seq("p_retailprice"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          count(col("asof_p_retailprice")).as("n_matched"),
          decSum("asof_p_retailprice").as("sum_price"))
    },
    // the dim CTE replays the Type 2 outcome (base versions effective
    // 1995-01-01, %7=0 updates superseding at 1998-06-01 — INSIDE the
    // 1995-2001 shipdate range, so facts resolve both versions); DuckDB's
    // native ASOF LEFT JOIN picks the greatest valid_from <= l_shipdate
    // per fact — the same version the contiguous-interval semantics define
    """WITH p AS (SELECT p_partkey, p_retailprice FROM part),
      |dim AS (
      |  SELECT p_partkey, p_retailprice,
      |    TIMESTAMP '1995-01-01' AS valid_from
      |  FROM p WHERE p_partkey % 7 = 0
      |  UNION ALL
      |  SELECT p_partkey, p_retailprice, TIMESTAMP '1995-01-01'
      |  FROM p WHERE p_partkey % 7 <> 0
      |  UNION ALL
      |  SELECT p_partkey, p_retailprice + 10.0, TIMESTAMP '1998-06-01'
      |  FROM p WHERE p_partkey % 7 = 0
      |  UNION ALL
      |  SELECT p_partkey + (SELECT (max(p_partkey) // 1000000 + 1) * 1000000
      |                      FROM part),
      |    p_retailprice * 2.0, TIMESTAMP '1998-06-01'
      |  FROM p WHERE p_partkey % 7 = 2),
      |f AS (SELECT l_partkey AS p_partkey, l_shipdate, l_returnflag
      |      FROM lineitem WHERE l_partkey % 7 = 0)
      |SELECT l_returnflag, COUNT(*) AS cnt,
      |  COUNT(dim.p_retailprice) AS n_matched,
      |  CAST(SUM(CAST(dim.p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM f ASOF LEFT JOIN dim
      |  ON f.p_partkey = dim.p_partkey AND f.l_shipdate >= dim.valid_from
      |GROUP BY l_returnflag""".stripMargin)

  val all: Seq[Query] = Seq(q26, q39, q40, q41, q43, q50, q70, q71, q80)
}
