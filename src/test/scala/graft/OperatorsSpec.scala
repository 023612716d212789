package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("Merge.upsert: matched rows updated (even to null), unmatched target kept, new keys inserted") {
    val target = Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("k", "name", "v")
    val updates = Seq((2, null.asInstanceOf[String], 99), (4, "d", 40)).toDF("k", "name", "v")
    val out = Merge.upsert(target, updates, Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(out === Set((1, "a", 10), (2, null, 99), (3, "c", 30), (4, "d", 40)))
  }

  test("Merge.updateMatched: only matched rows change, no inserts") {
    val target = Seq((1, "x"), (2, "y")).toDF("k", "s")
    val updates = Seq((2, "Y2"), (9, "nope")).toDF("k", "s")
    val out = Merge.updateMatched(target, updates, Seq("k"), Seq("s"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out === Set((1, "x"), (2, "Y2")))
  }

  test("Merge.updateMatched: a NULL update value overwrites (SQL MERGE), never keeps the old value") {
    val target = Seq((1, "x"), (2, "y")).toDF("k", "s")
    val updates = Seq((2, null.asInstanceOf[String])).toDF("k", "s")
    val out = Merge.updateMatched(target, updates, Seq("k"), Seq("s"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out === Set((1, "x"), (2, null)),
      "matched row must take the update's NULL, not coalesce back to the old value")
  }

  test("Merge.updateMatched: duplicate update keys fail the job instead of fanning out rows") {
    val target = Seq((1, "x")).toDF("k", "s")
    val updates = Seq((1, "a"), (1, "b")).toDF("k", "s")
    // the guard is IN-PLAN (lazy — no driver action at build time); it
    // fires when the fanned-out match would be produced
    val df = Merge.updateMatched(target, updates, Seq("k"), Seq("s"))
    val e = intercept[Exception] { df.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("one update row per key")),
      s"expected the MERGE dup-key guard to fire, got: $e")
    // duplicate keys among UNMATCHED updates are harmless (left join
    // emits no row for them) — must not trip the guard
    val unmatched = Seq((9, "a"), (9, "b")).toDF("k", "s")
    val ok = Merge.updateMatched(target, unmatched, Seq("k"), Seq("s"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(ok === Set((1, "x")))
  }

  test("Dedup.latestPerKey keeps exactly one newest row per key") {
    val df = Seq(
      (1, "2024-01-01 00:00:00", "old"),
      (1, "2024-01-02 00:00:00", "new"),
      (2, "2024-01-01 00:00:00", "only")
    ).toDF("id", "ts", "tag").withColumn("ts", to_timestamp($"ts"))
    val out = Dedup.latestPerKey(Seq("id"), Seq($"ts".desc, $"tag".asc))(df)
    assert(out.count() === 2)
    assert(out.filter($"id" === 1).select("tag").as[String].head() === "new")
  }

  test("Idempotency.newKeysOnly: re-delivering the same batch is a no-op") {
    val existing = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val batch = Seq((2, "b2"), (3, "c")).toDF("id", "v")
    val first = Idempotency.newKeysOnly(batch, existing, Seq("id"))
    assert(first.select("id").as[Int].collect().toSet === Set(3))
    // after appending, a replay of the same batch inserts nothing
    val target2 = existing.unionByName(first)
    assert(Idempotency.newKeysOnly(batch, target2, Seq("id")).count() === 0)
  }

  test("Enrich.fromDim: mapped flag + fallback when unmatched") {
    val facts = Seq((1, "raw1"), (2, "raw2")).toDF("k", "fallback")
    val dim = Seq((1, "std1")).toDF("k", "std")
    val out = Enrich.fromDim(facts, dim, "k", "std", "resolved", "fallback", "mapped")
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[Boolean]("mapped"), r.getAs[String]("resolved"))).toSet
    assert(out === Set((1, true, "std1"), (2, false, "raw2")))
  }

  test("Rankings.topNPerGroup pins ties deterministically") {
    val df = Seq(("g", "b", 5L), ("g", "a", 5L), ("g", "c", 4L)).toDF("grp", "name", "cnt")
    val out = Rankings.topNPerGroup(Seq("grp"), Seq($"cnt".desc, $"name".asc), 2)(df)
      .orderBy("rnk").select("name").as[String].collect().toSeq
    assert(out === Seq("a", "b"))
  }

  test("Standardize.normalizedKey strips non-alphanumerics after upper/trim") {
    val out = Seq("  Golden-Retr. ").toDF("s")
      .select(Standardize.normalizedKey($"s")).as[String].head()
    assert(out === "GOLDENRETR")
  }

  test("Sessionize groups events into inactivity-gapped sessions, ties stay together") {
    // user 1: events at t=0,100,250 (one session, gaps <= 200), then
    // t=1000 (new session); user 2: single event
    val ev = Seq(
      (1L, 0L, 1.0), (1L, 100L, 2.0), (1L, 250L, 3.0), (1L, 1000L, 4.0),
      (2L, 50L, 5.0))
      .toDF("user_id", "t", "value")
    val out = Sessionize.sessions(ev, Seq("user_id"), "t", gapSeconds = 200L,
      extraAggs = Seq(sum("value").as("sum_value")))
      .select("user_id", "session_id", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 1L, 3L, 6.0), (1L, 2L, 1L, 4.0), (2L, 1L, 1L, 5.0)))

    // duplicate timestamps are window PEERS: they can never split across
    // sessions whatever their order within the tie
    val ties = Seq((1L, 0L, 1.0), (1L, 300L, 1.0), (1L, 300L, 1.0))
      .toDF("user_id", "t", "value")
    val tieOut = Sessionize.sessions(ties, Seq("user_id"), "t", gapSeconds = 200L)
      .select("session_id", "n_events").as[(Long, Long)].collect().toSet
    assert(tieOut == Set((1L, 1L), (2L, 2L)))
  }

  test("AsOf.asOfJoin matches the latest right row at or before each left ts") {
    val left = Seq((1L, 1L, 10L), (2L, 1L, 5L), (3L, 2L, 7L), (4L, 3L, 2L))
      .toDF("id", "k", "t")
    val right = Seq((1L, 4L, "a"), (1L, 10L, "b"), (2L, 8L, "c"))
      .toDF("k", "t", "v")
    val out = AsOf.asOfJoin(left, right, Seq("k"), "t", "t", Seq("v"))
      .select("id", "asof_v").as[(Long, Option[String])].collect().toMap
    assert(out == Map(
      1L -> Some("b"), // right at t=10 matches left t=10 (<= semantics)
      2L -> Some("a"), // latest right before t=5 is t=4
      3L -> None,      // only right for k=2 is at t=8 > 7
      4L -> None))     // no right rows for k=3 at all
  }

  test("AsOf.asOfJoin never matches null-key or null-ts right rows (SQL semantics)") {
    val left = Seq((1L, Some(1L), Some(10L)), (2L, None, Some(10L)))
      .toDF("id", "k", "t")
    val right = Seq(
      (Some(1L), None: Option[Long], "null-ts"),  // unmatchable: null ts
      (None: Option[Long], Some(5L), "null-key"), // unmatchable: null key
      (Some(1L), Some(4L), "real"))
      .toDF("k", "t", "v")
    val out = AsOf.asOfJoin(left, right, Seq("k"), "t", "t", Seq("v"))
      .select("id", "asof_v").as[(Long, Option[String])].collect().toMap
    assert(out == Map(1L -> Some("real"), 2L -> None))
  }

  test("AsOf.asOfJoin carries a matched-but-null right value (not an older row)") {
    val left = Seq((1L, 1L, 10L)).toDF("id", "k", "t")
    val right = Seq((1L, 4L, Some("old")), (1L, 9L, None: Option[String]))
      .toDF("k", "t", "v")
    val out = AsOf.asOfJoin(left, right, Seq("k"), "t", "t", Seq("v"))
      .select("id", "asof_v").as[(Long, Option[String])].collect().toMap
    assert(out == Map(1L -> None),
      "the t=9 null-valued row is the as-of match; its null must not be skipped")
  }

  test("AsOf.asOfJoin allowExactMatches=false excludes the equal-timestamp row") {
    val left = Seq((1L, 1L, 10L), (2L, 1L, 5L)).toDF("id", "k", "t")
    val right = Seq((1L, 10L, "same"), (1L, 4L, "older")).toDF("k", "t", "v")
    val strictBack = AsOf.asOfJoin(left, right, Seq("k"), "t", "t", Seq("v"),
      allowExactMatches = false)
      .select("id", "asof_v").as[(Long, Option[String])].collect().toMap
    assert(strictBack == Map(
      1L -> Some("older"), // t=10 row skipped under strict <
      2L -> Some("older")))
    val strictFwd = AsOf.asOfJoin(left, right, Seq("k"), "t", "t", Seq("v"),
      direction = "forward", allowExactMatches = false)
      .select("id", "asof_v").as[(Long, Option[String])].collect().toMap
    assert(strictFwd == Map(
      1L -> None,          // t=10 is the only row >= 10; strict > excludes it
      2L -> Some("same"))) // earliest strictly after 5 is t=10
  }

  test("AsOf.asOfJoin forward matches the earliest right row at or after each left ts") {
    val left = Seq((1L, 1L, 10L), (2L, 1L, 5L), (3L, 2L, 7L), (4L, 3L, 2L))
      .toDF("id", "k", "t")
    val right = Seq((1L, 4L, "a"), (1L, 10L, "b"), (2L, 8L, "c"))
      .toDF("k", "t", "v")
    val out = AsOf.asOfJoin(left, right, Seq("k"), "t", "t", Seq("v"),
      direction = "forward")
      .select("id", "asof_v").as[(Long, Option[String])].collect().toMap
    assert(out == Map(
      1L -> Some("b"), // right at t=10 matches left t=10 (>= inclusive)
      2L -> Some("b"), // earliest right after t=5 is t=10 (t=4 is behind)
      3L -> Some("c"), // t=8 >= 7
      4L -> None))     // no right rows for k=3
  }

  test("AsOf.asOfJoin null left timestamps match nothing in every direction") {
    // desc ordering puts NULLS LAST, so without an explicit guard the
    // forward/nearest carry would hand a null-ts left row the minimum-ts
    // right row (regression test for exactly that)
    val left = Seq((1L, 1L, Some(5L)), (2L, 1L, None: Option[Long]))
      .toDF("id", "k", "t")
    val right = Seq((1L, 4L, "a"), (1L, 8L, "b")).toDF("k", "t", "v")
    Seq("backward", "forward", "nearest").foreach { d =>
      val out = AsOf.asOfJoin(left, right, Seq("k"), "t", "t", Seq("v"),
        direction = d)
        .select("id", "asof_v").as[(Long, Option[String])].collect().toMap
      assert(out(2L).isEmpty, s"null left ts must not match (direction=$d)")
      assert(out(1L).nonEmpty)
    }
  }

  test("AsOf.asOfJoin nearest picks the closer side, backward on ties") {
    val left = Seq((1L, 1L, 5L), (2L, 1L, 7L), (3L, 1L, 6L), (4L, 1L, 20L))
      .toDF("id", "k", "t")
    val right = Seq((1L, 4L, "a"), (1L, 8L, "b")).toDF("k", "t", "v")
    val out = AsOf.asOfJoin(left, right, Seq("k"), "t", "t", Seq("v"),
      direction = "nearest")
      .select("id", "asof_v").as[(Long, Option[String])].collect().toMap
    assert(out == Map(
      1L -> Some("a"), // dist 1 back vs 3 fwd
      2L -> Some("b"), // dist 3 back vs 1 fwd
      3L -> Some("a"), // tie (2 vs 2) → backward
      4L -> Some("b"))) // only backward exists
  }

  test("AsOf.asOfJoin tolerance nulls matches beyond max staleness, per direction") {
    val left = Seq((1L, 1L, 6L), (2L, 1L, 10L)).toDF("id", "k", "t")
    val right = Seq((1L, 4L, "a")).toDF("k", "t", "v")
    val back = AsOf.asOfJoin(left, right, Seq("k"), "t", "t", Seq("v"),
      tolerance = Some(3.0))
      .select("id", "asof_v").as[(Long, Option[String])].collect().toMap
    assert(back == Map(
      1L -> Some("a"), // dist 2 <= 3
      2L -> None))     // dist 6 > 3: matched but too stale

    // nearest + tolerance: an out-of-tolerance backward match must not
    // shadow an in-tolerance forward match
    val right2 = Seq((1L, 1L, "old"), (1L, 8L, "next")).toDF("k", "t", "v")
    val near = AsOf.asOfJoin(
      Seq((1L, 1L, 6L)).toDF("id", "k", "t"), right2,
      Seq("k"), "t", "t", Seq("v"),
      direction = "nearest", tolerance = Some(2.0))
      .select("id", "asof_v").as[(Long, Option[String])].collect().toMap
    assert(near == Map(1L -> Some("next")),
      "backward at dist 5 is outside tol 2; forward at dist 2 must win")
  }

  test("Profiling.profile reports rows, nulls, distincts and min/max per column") {
    val df = Seq(
      (Some(3L), Some("b")), (Some(1L), None), (Some(3L), Some("a")))
      .toDF("id", "tag")
    val got = Profiling.profile(df, Seq("id", "tag"))
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got("id") == ((3L, 0L, 2L, Some("1"), Some("3"))))
    assert(got("tag") == ((3L, 1L, 2L, Some("a"), Some("b"))))
  }

  test("AsOf.asOfJoin timestamp tolerance is exact at the boundary (integer micros)") {
    import java.sql.Timestamp
    // a match sitting EXACTLY at the tolerance boundary must be kept: in
    // integer microseconds 3600s is exactly 3.6e9, while the old
    // per-operand double-seconds cast rounded at ~2.4e-7 s near current
    // epochs and could flip this row either way
    val t0 = Timestamp.valueOf("2026-01-01 12:00:00")
    val exact = Timestamp.valueOf("2026-01-01 11:00:00")         // dist = 3600 s
    val over = Timestamp.valueOf("2026-01-01 10:59:59.999999")   // 3600.000001 s
    val left = Seq((1L, 1L, t0)).toDF("id", "k", "t")
    val keep = AsOf.asOfJoin(left,
      Seq((1L, exact, "edge")).toDF("k", "t", "v"),
      Seq("k"), "t", "t", Seq("v"), tolerance = Some(3600.0))
      .select("asof_v").as[Option[String]].head()
    assert(keep == Some("edge"), "exactly-at-tolerance match must be kept")
    val drop = AsOf.asOfJoin(left,
      Seq((1L, over, "late")).toDF("k", "t", "v"),
      Seq("k"), "t", "t", Seq("v"), tolerance = Some(3600.0))
      .select("asof_v").as[Option[String]].head()
    assert(drop.isEmpty, "one microsecond beyond tolerance must be null")
  }

  test("Sessionize drops null-timestamp events; exact-gap timestamps stay exact") {
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2026-01-01 12:00:00")
    def plus(sec: Double) = new Timestamp(base.getTime + (sec * 1000).toLong)
    val ev = Seq(
      (1L, Some(base), 1.0),
      (1L, Some(plus(1800.0)), 2.0),      // gap EXACTLY 1800s → same session
      (1L, Some(plus(3600.001)), 3.0),    // gap 1800.001s → new session
      (1L, None, 9.0),                     // null ts → dropped, not a session
      (2L, None, 9.0))                     // whole-key nulls → key disappears
      .toDF("user_id", "ts", "value")
    val out = Sessionize.sessions(ev, Seq("user_id"), "ts", gapSeconds = 1800L)
      .select("user_id", "session_id", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 2L), (1L, 2L, 1L)),
      s"exact-gap must not split, nulls must vanish; got $out")
  }

  test("HLL sketch store: merged snapshot sketches equal the single-pass estimate exactly") {
    val docs = Tables.documents(spark, SparkTestSession.sfTiny)
    def estimates(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.as[(String, Long)].collect().toMap
    // single pass over the whole corpus
    val full = estimates(Aggregates.mergeSketchEstimate(
      Aggregates.sketchBatch(docs, Seq("source"), "text"), Seq("source")))
    // two disjoint snapshot halves sketched independently, then merged —
    // HLL union is a pointwise register max, so this must be EXACT
    // equality with the single pass, not approximate agreement
    val a = Aggregates.sketchBatch(docs.filter(col("doc_id") < 250), Seq("source"), "text")
    val b = Aggregates.sketchBatch(docs.filter(col("doc_id") >= 250), Seq("source"), "text")
    val merged = estimates(
      Aggregates.mergeSketchEstimate(a.unionByName(b), Seq("source")))
    assert(merged == full, "merged snapshot sketches diverged from single-pass")
    // and the estimate is close to exact distinct counts (lgK=12 → ~1.6% rse)
    val exact = docs.groupBy("source").agg(countDistinct(col("text")).as("d"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (srcName, d) =>
      val est = merged(srcName).toDouble
      assert(math.abs(est - d) / d.max(1L) <= 0.1,
        s"estimate $est too far from exact $d for $srcName")
    }
  }

  test("count-min store: merged snapshot sketches equal the single pass; never undercount") {
    val docs = Tables.documents(spark, SparkTestSession.sfTiny)
      .select(col("source"), explode(split(trim(col("text")), " ")).as("token"))
    val probes = Seq("join", "hash", "scan", "zzz_absent")
    def estimates(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val full = estimates(Aggregates.cmsMergeEstimate(
      Aggregates.cmsBatch(docs, "source", "token"), "source", probes))
    // two disjoint halves sketched independently, then merged — count-min
    // merge is cell-wise addition, so this must be EXACT equality
    val h = docs.withColumn("__h", abs(hash(col("token"))) % 2)
    val a = Aggregates.cmsBatch(h.filter(col("__h") === 0), "source", "token")
    val b = Aggregates.cmsBatch(h.filter(col("__h") === 1), "source", "token")
    val merged = estimates(Aggregates.cmsMergeEstimate(a.unionByName(b), "source", probes))
    assert(merged == full, "merged snapshot sketches diverged from single-pass")
    // one-sided error: estimates never undercount, and at eps=1e-4 on
    // this tiny corpus they are exact
    val exact = docs.groupBy("source", "token").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for (((g, p), est) <- full) {
      val truth = exact.getOrElse((g, p), 0L)
      assert(est >= truth, s"count-min undercounted ($g,$p): $est < $truth")
      assert(est == truth, s"eps=1e-4 should be exact here: ($g,$p) $est vs $truth")
    }
  }

  test("Scd.applyType2: close-changed / insert-new / carry-unchanged / keep-history") {
    val ts0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2021-06-01 00:00:00")
    val dim = Seq(
      // key 1: closed history row + open current row (will change)
      (1, "old-a", ts0, Option(ts1), false),
      (1, "a", ts1, None: Option[java.sql.Timestamp], true),
      // key 2: open, update carries identical value -> no-op
      (2, "b", ts0, None, true),
      // key 3: open, no update at all -> untouched
      (3, "c", ts0, None, true)
    ).toDF("k", "v", "valid_from", "valid_to", "is_current")
    val updates = Seq((1, "a2"), (2, "b"), (4, "d")).toDF("k", "v")
    val eff = lit("2022-03-01 00:00:00").cast("timestamp")
    val out = Scd.applyType2(dim, updates, Seq("k"), Seq("v"), eff)
      .collect().map(r => (r.getInt(0), r.getString(1),
        Option(r.getTimestamp(3)).map(_.toString).getOrElse("open"), r.getBoolean(4))).toSet
    assert(out === Set(
      (1, "old-a", ts1.toString, false),            // history untouched
      (1, "a", "2022-03-01 00:00:00.0", false),     // changed row closed at eff
      (1, "a2", "open", true),                      // new version opened
      (2, "b", "open", true),                       // identical update: no-op
      (3, "c", "open", true),                       // no update: untouched
      (4, "d", "open", true)))                      // brand-new key inserted
    // re-applying the same batch is a no-op (values now all match)
    val again = Scd.applyType2(
      Scd.applyType2(dim, updates, Seq("k"), Seq("v"), eff),
      updates, Seq("k"), Seq("v"), lit("2023-01-01").cast("timestamp"))
    assert(again.count() === 6, "re-applied batch must not open new versions")
  }

  test("Scd.snapshotAt picks the version whose interval contains the date") {
    val dim = Seq(
      (1, "v1", "2020-01-01", Option("2021-01-01"), false),
      (1, "v2", "2021-01-01", None, true)
    ).toDF("k", "v", "valid_from", "valid_to", "is_current")
      .withColumn("valid_from", $"valid_from".cast("timestamp"))
      .withColumn("valid_to", $"valid_to".cast("timestamp"))
    def at(d: String) = Scd.snapshotAt(dim, lit(d).cast("timestamp"))
      .select("v").as[String].collect().toSeq
    assert(at("2020-06-01") === Seq("v1"))
    assert(at("2021-06-01") === Seq("v2"))
    assert(at("2021-01-01") === Seq("v2"), "boundary belongs to the newer version")
    assert(at("2019-06-01") === Seq.empty)
  }

  test("Merge.snapshotDiff classifies insert/delete/update with null-safe changed columns") {
    val old = Seq(
      (1, Option("a"), 10), (2, Option("b"), 20), (3, Option("c"), 30),
      (5, None: Option[String], 50)
    ).toDF("k", "s", "v")
    val neu = Seq(
      (1, Option("a"), 10),     // unchanged -> omitted
      (2, Option("B"), 21),     // update, both cols
      (4, Option("d"), 40),     // insert
      (5, Option("e"), 50)      // update via null -> non-null (null-safe)
    ).toDF("k", "s", "v")
    val out = Merge.snapshotDiff(old, neu, Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(out === Set(
      (2, "update", "s,v"),
      (3, "delete", ""),
      (4, "insert", ""),
      (5, "update", "s")))
  }

  test("q80 is non-vacuous: facts resolve BOTH SCD2 versions, not an unmatched left join") {
    import org.apache.spark.sql.functions._
    // aggregate gate: something must match at all
    val agg = SparkEntry.queries("q80_scd2_asof")(spark, SparkTestSession.sfTiny)
      .collect()
    assert(agg.map(_.getAs[Long]("n_matched")).sum > 0,
      "q80's as-of join matched nothing — dim version timestamps have " +
        "drifted outside the fact shipdate range again (vacuous query)")
    // version gate: shipdates straddle the 1998-06-01 supersede point, so
    // the resolved valid_from must include BOTH the base and the update
    val part = Tables.part(spark, SparkTestSession.sfTiny)
    val dim = graft.operators.Scd.applyType2(
      part.select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        lit("1995-01-01").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        lit(true).as("is_current")),
      part.filter(col("p_partkey") % 7 === 0)
        .select(col("p_partkey"), col("p_brand"),
          (col("p_retailprice") + 10.0).as("p_retailprice")),
      Seq("p_partkey"), Seq("p_brand", "p_retailprice"),
      lit("1998-06-01").cast("timestamp"))
      .select("p_partkey", "p_retailprice", "valid_from")
    val facts = Tables.lineitem(spark, SparkTestSession.sfTiny)
      .filter(col("l_partkey") % 7 === 0)
      .select(col("l_partkey").as("p_partkey"),
        col("l_shipdate"), col("l_returnflag"))
    val resolved = graft.operators.AsOf.asOfJoin(facts, dim, Seq("p_partkey"),
        "l_shipdate", "valid_from", Seq("p_retailprice", "valid_from"))
      .select(col("asof_valid_from").cast("date").cast("string"))
      .distinct().as[String].collect().toSet
    assert(resolved.contains("1995-01-01") && resolved.contains("1998-06-01"),
      s"facts must resolve both dim versions; got $resolved")
  }
}
