package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.{Dedup, Idempotency, Merge}

/** Property tests for the idempotency protocol and the dedup window —
  * SURVEY.md §5's required invariants: re-running any batch is a no-op;
  * dedup keeps exactly one row per key, newest wins. Raw ScalaCheck (the
  * scalatest bridge isn't in the offline dependency cache).
  */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def checkProp(name: String)(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10).withInitialSeed(42L), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val batchGen: Gen[List[(Int, Int)]] =
    Gen.listOf(Gen.zip(Gen.choose(0, 20), Gen.choose(0, 1000)))

  test("property: anti-join idempotency — appending the same batch twice equals once") {
    checkProp("idempotency")(Prop.forAll(batchGen, batchGen) { (existingRows, batchRows) =>
      val existing = existingRows.toDF("id", "v").dropDuplicates("id")
      val batch = batchRows.toDF("id", "v").dropDuplicates("id")
      val once = existing.unionByName(Idempotency.newKeysOnly(batch, existing, Seq("id")))
      val twice = once.unionByName(Idempotency.newKeysOnly(batch, once, Seq("id")))
      twice.count() == once.count() &&
        twice.select("id").distinct().count() == twice.count()
    })
  }

  test("property: latestPerKey yields exactly one row per key — the max-(ts,uniq) row") {
    val rowsGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0, 10), Gen.choose(0, 100), Gen.choose(0, 1000000)))
    checkProp("latestPerKey")(Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("id", "ts", "uniq")
      val out = Dedup.latestPerKey(Seq("id"), Seq($"ts".desc, $"uniq".desc))(df)
      val winners = out.as[(Int, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val expected = rows.groupBy(_._1).map { case (k, g) =>
        k -> g.map(r => (r._2, r._3)).max
      }
      out.count() == rows.map(_._1).distinct.size.toLong && winners == expected
    })
  }

  test("property: latestPerKeyAgg (max_by form) matches the window form") {
    val rowsGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0, 10), Gen.choose(0, 100), Gen.choose(0, 1000000)))
    checkProp("latestPerKeyAgg")(Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("id", "ts", "uniq")
      val win = Dedup.latestPerKey(Seq("id"), Seq($"ts".desc, $"uniq".desc))(df)
        .as[(Int, Int, Int)].collect().toSet
      val agg = Dedup.latestPerKeyAgg(Seq("id"), Seq($"ts", $"uniq"))(df)
        .as[(Int, Int, Int)].collect().toSet
      win == agg
    })
  }

  test("property: hot-bucket cap never invents candidates (capped subset of uncapped)") {
    val word = Gen.oneOf("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    val docGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 50L), Gen.listOfN(8, word).map(_.mkString(" "))))
    checkProp("hotcap")(Prop.forAll(docGen) { docs =>
      val df = docs.distinctBy(_._1).toDF("doc_id", "text")
      val sigs = graft.dedup.MinHashDedup.withSignatures(df, "doc_id", "text")
      val uncapped = graft.dedup.MinHashDedup.candidatePairs(sigs, "doc_id")
        .as[(Long, Long)].collect().toSet
      val capped = graft.dedup.MinHashDedup.candidatePairs(sigs, "doc_id", maxBucketSize = 3)
        .as[(Long, Long)].collect().toSet
      capped.subsetOf(uncapped)
    })
  }

  test("property: Merge.upsert preserves key uniqueness and applies all updates") {
    checkProp("upsert")(Prop.forAll(batchGen, batchGen) { (targetRows, updateRows) =>
      val target = targetRows.toDF("id", "v").dropDuplicates("id")
      val updates = updateRows.toDF("id", "v").dropDuplicates("id")
      val out = Merge.upsert(target, updates, Seq("id"))
      val outMap = out.as[(Int, Int)].collect().toMap
      val tMap = target.as[(Int, Int)].collect().toMap
      val uMap = updates.as[(Int, Int)].collect().toMap
      out.select("id").distinct().count() == out.count() && outMap == (tMap ++ uMap)
    })
  }

  test("property: asOfJoin matches a brute-force per-row oracle in every mode") {
    // left rows (id, key, ts), right rows (key, ts, value); right is
    // deduped per (key, ts) as the operator contract requires
    val leftGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0, 4), Gen.choose(0L, 60L)))
    val rightGen = Gen.listOf(
      Gen.zip(Gen.choose(0, 4), Gen.choose(0L, 60L), Gen.choose(0, 999)))
    val modes = for {
      dir <- Gen.oneOf("backward", "forward", "nearest")
      tol <- Gen.oneOf(None, Some(5.0), Some(20.0))
      exact <- Gen.oneOf(true, false)
    } yield (dir, tol, exact)
    checkProp("asOfJoin")(Prop.forAll(leftGen, rightGen, modes) { case (ls, rs, (dir, tol, exact)) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k.toLong, t) }
        .toDF("id", "k", "t")
      val rsDedup = rs.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
      val right = rsDedup.map { case (k, t, v) => (k.toLong, t, v) }.toDF("k", "t", "v")
      val got = graft.operators.AsOf
        .asOfJoin(left, right, Seq("k"), "t", "t", Seq("v"),
          direction = dir, tolerance = tol, allowExactMatches = exact)
        .select("id", "asof_v").as[(Long, Option[Int])].collect().toMap

      def ok(lt: Long, rt: Long): Boolean = {
        val cmpB = if (exact) rt <= lt else rt < lt
        val cmpF = if (exact) rt >= lt else rt > lt
        val inTol = tol.forall(t => math.abs(lt - rt) <= t)
        dir match {
          case "backward" => cmpB && inTol
          case "forward" => cmpF && inTol
          case "nearest" => (cmpB || cmpF) && inTol
        }
      }
      val expected = ls.zipWithIndex.map { case ((k, lt), i) =>
        val cands = rsDedup.filter(r => r._1 == k && ok(lt, r._2))
        val pick = dir match {
          case "backward" => cands.sortBy(-_._2).headOption
          case "forward" => cands.sortBy(_._2).headOption
          case "nearest" =>
            // closer wins; tie → backward (the at-or-before candidate)
            cands.sortBy(r => (math.abs(r._2 - lt), r._2 > lt)).headOption
        }
        i.toLong -> pick.map(_._3)
      }.toMap
      got == expected
    })
  }

  test("property: binned point-in-interval join equals the naive inequality join, once per match") {
    val pGen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 3), Gen.choose(0L, 5000L)))
    val iGen = Gen.listOf(Gen.zip(
      Gen.choose(0, 3), Gen.choose(0L, 5000L), Gen.choose(-500L, 3000L)))
    checkProp("pointsInIntervals")(Prop.forAll(pGen, iGen) { (ps, is) =>
      val points = ps.zipWithIndex.map { case ((k, t), i) => (k.toLong, t, i.toLong) }
        .toDF("k", "t", "p_id")
      val intervals = is.zipWithIndex.map { case ((k, s, len), i) =>
        (k.toLong, s, s + len, i.toLong)
      }.toDF("k", "s", "e", "iv_id")
      val out = graft.operators.RangeJoin.pointsInIntervals(
        points, intervals, Seq("k"), "t", "s", "e", Seq("iv_id"), binSeconds = 700L)
        .select("p_id", "iv_id")
      val got = out.as[(Long, Long)].collect()
      val naive = points.join(intervals, Seq("k"))
        .filter($"t" >= $"s" && $"t" < $"e")
        .select("p_id", "iv_id").as[(Long, Long)].collect().toSet
      got.toSet == naive && got.length == got.toSet.size
    })
  }

  test("property: sessionize agrees with a sequential scan oracle") {
    val evGen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 3), Gen.choose(0L, 500L)))
    checkProp("sessionize")(Prop.forAll(evGen, Gen.choose(1L, 100L)) { (evs, gap) =>
      val df = evs.zipWithIndex.map { case ((k, t), i) => (k.toLong, t, i.toLong) }
        .toDF("k", "t", "ev_id")
      val got = graft.operators.Sessionize
        .sessions(df, Seq("k"), "t", gapSeconds = gap)
        .select("k", "session_start", "session_end", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      // oracle: walk each key's sorted timestamps, cutting on gap > g
      val expected = evs.map { case (k, t) => (k.toLong, t) }
        .groupBy(_._1).flatMap { case (k, rows) =>
          val ts = rows.map(_._2).sorted
          val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
            if (t - acc.head.head <= gap) (t :: acc.head) :: acc.tail
            else List(t) :: acc
          }
          sessions.map(s => (k, s.min, s.max, s.size.toLong))
        }.toSet
      got == expected
    })
  }

  test("property: binned interval-overlap equals the naive inequality join, once per pair") {
    // random (key, start, len) intervals — len can be zero or negative so
    // the empty/inverted-interval guard is exercised; bin width (700)
    // deliberately misaligned with the value range to stress boundaries
    val ivGen = Gen.listOf(Gen.zip(
      Gen.choose(0, 3), Gen.choose(0L, 5000L), Gen.choose(-500L, 3000L)))
    checkProp("intervalsOverlap")(Prop.forAll(ivGen, ivGen) { (as, bs) =>
      val a = as.zipWithIndex.map { case ((k, s, len), i) =>
        (k.toLong, s, s + len, i.toLong)
      }.toDF("k", "s", "e", "a_id")
      val b = bs.zipWithIndex.map { case ((k, s, len), i) =>
        (k.toLong, s, s + len, i.toLong)
      }.toDF("k", "bs", "be", "b_id")
      val out = graft.operators.RangeJoin.intervalsOverlap(
        a, b, Seq("k"), "s", "e", "bs", "be", Seq("b_id"), binSeconds = 700L)
        .select("a_id", "b_id")
      val got = out.as[(Long, Long)].collect()
      val naive = a.filter($"s" < $"e").join(b.filter($"bs" < $"be"), Seq("k"))
        .filter($"s" < $"be" && $"bs" < $"e")
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      got.toSet == naive && got.length == got.toSet.size
    })
  }

  test("property: incremental line dedup over ANY disjoint split equals the batch form") {
    import graft.dedup.LineDedup
    // docs = random multisets of a tiny line alphabet (collisions are the
    // point: doc frequencies genuinely cross the threshold), random split
    val lineGen = Gen.oneOf("nav", "footer", "x", "y", "z", "w")
    val docGen = Gen.nonEmptyListOf(lineGen).map(_.mkString("\n"))
    val corpusGen = Gen.nonEmptyListOf(docGen)
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val gen = for {
      corpus <- corpusGen
      cut <- Gen.choose(0, corpus.length)
    } yield (corpus, cut)
    checkProp("incrementalLineDedup")(Prop.forAll(gen) { case (corpus, cut) =>
      val (oldHalf, newHalf) = corpus.splitAt(cut)
      val full = corpus.toDF("id", "text")
      val batchForm = LineDedup.dropFrequentLines(full, "id", "text",
          minDocFreq = 2L)
        .as[(Long, String, Long, Long)].collect()
        .filter(_._1 >= cut).toSet
      val stores = Seq(oldHalf, newHalf).filter(_.nonEmpty).map(h =>
        LineDedup.lineFrequencyStore(h.toDF("id", "text"), "id", "text"))
      val incremental =
        if (newHalf.isEmpty) Set.empty[(Long, String, Long, Long)]
        else LineDedup.dropFrequentLinesWithStore(
            newHalf.toDF("id", "text"), LineDedup.mergeLineStores(stores),
            "id", "text", minDocFreq = 2L)
          .as[(Long, String, Long, Long)].collect().toSet
      incremental == batchForm
    })
  }
}
