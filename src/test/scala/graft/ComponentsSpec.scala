package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Components

class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("connectedComponents labels a chain, a clique, and an isolated pair (both paths)") {
    // chain 1-2-3-4, pair 10-11, clique 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    val driver = Components.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(driver == expected)
    // maxDriverEdges = 0 forces the distributed label-propagation path
    val distributed = Components.connectedComponents(pairs, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(distributed == expected)
  }

  test("distributed connectedComponents matches driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    val got = Components.connectedComponents(edges.toDF("id_a", "id_b"),
        maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap

    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    // canonicalize both sides: min member per component
    def canon(m: Map[Long, Long]) =
      m.groupBy(_._2).values.flatMap { grp =>
        val minId = grp.keys.min
        grp.keys.map(_ -> minId)
      }.toMap
    assert(canon(got) == canon(expected))
  }

  test("distributed path converges on a chain longer than the checkpoint interval") {
    // diameter 12: min-label propagation needs 12 rounds, crossing
    // several checkpointInterval=3 boundaries — exercises the
    // persist/checkpoint alternation and the superseded-cache release
    val pairs = (1L until 13L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Components.connectedComponents(pairs, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(comps.size == 13 && comps.values.forall(_ == 1L))
  }

  test("dropDuplicateClusters keeps one doc per transitive cluster") {
    val docs = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // 1~2, 2~3 transitively; 5~6
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Components.dropDuplicateClusters(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L, 7L, 8L))
  }

  test("extendComponents: incremental labels equal a full recompute; untouched clusters keep labels") {
    // store: clusters {1,2,3} (label 1), {10,11} (label 10), singleton 20
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Components.connectedComponents(oldPairs)
    val labels = cc.unionByName(Seq((20L, 20L)).toDF("id", "cluster_id"))
    // batch: 30 bridges the two clusters (1~30, 30~10); 31 pairs into
    // {10,11}; 32 and 33 pair with each other; 40 is a singleton
    val newIds = Seq(30L, 31L, 32L, 33L, 40L).toDF("doc_id")
    val newPairs = Seq((1L, 30L), (30L, 10L), (11L, 31L), (32L, 33L))
      .toDF("id_a", "id_b")
    val inc = Components.extendComponents(labels, newIds, "doc_id", newPairs)
      .as[(Long, Long)].collect().toMap
    // full recompute over every pair, plus the singletons
    val full = Components.connectedComponents(
        oldPairs.unionByName(newPairs))
      .as[(Long, Long)].collect().toMap ++ Map(20L -> 20L, 40L -> 40L)
    assert(inc == full, s"incremental diverged: $inc vs $full")
    // the untouched singleton keeps its label; merged mega-cluster is 1
    assert(inc(20L) == 20L && inc(30L) == 1L && inc(31L) == 1L)
    assert(inc(32L) == 32L && inc(33L) == 32L && inc(40L) == 40L)
  }

  test("extendComponents leaves unbridged store clusters bit-identical") {
    val labels = Seq((1L, 1L), (2L, 1L), (10L, 10L)).toDF("id", "cluster_id")
    val out = Components.extendComponents(
        labels, Seq(50L).toDF("doc_id"),
        "doc_id", Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 50L -> 50L))
  }

  test("property: incremental extension equals full recompute on random graphs and splits") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val edgeGen = Gen.listOf(Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 40L)))
      .map(_.filter(e => e._1 != e._2))
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(13L),
      Prop.forAll(edgeGen, Gen.choose(0L, 40L)) { (edges, cut) =>
        // ids < cut form the "old snapshot"; pairs touching a new id are
        // the incremental batch, old-only pairs build the store labeling
        val oldPairs = edges.filter(e => e._1 < cut && e._2 < cut)
        val newPairs = edges.filterNot(e => e._1 < cut && e._2 < cut)
        val oldIds = (0L until cut)
        val newIds = (cut to 40L)
        val ccOld =
          if (oldPairs.isEmpty) Map.empty[Long, Long]
          else Components.connectedComponents(oldPairs.toDF("id_a", "id_b"))
            .as[(Long, Long)].collect().toMap
        val labels = oldIds.map(i => (i, ccOld.getOrElse(i, i))).toDF("id", "cluster_id")
        val inc = Components.extendComponents(labels,
            newIds.toDF("doc_id"), "doc_id",
            newPairs.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        val ccFull =
          if (edges.isEmpty) Map.empty[Long, Long]
          else Components.connectedComponents(edges.toDF("id_a", "id_b"))
            .as[(Long, Long)].collect().toMap
        val full = (0L to 40L).map(i => i -> ccFull.getOrElse(i, i)).toMap
        inc == full
      })
    assert(res.passed, res.status.toString)
  }

  test("custom SQL functions registered: simhash64 / hamming_distance / doc_fingerprint") {
    // no manual registration: the session's configured extension injects them
    val row = spark.sql(
      """SELECT simhash64(array('a','b','c')) AS sh,
        |  hamming_distance(simhash64(array('a','b','c')), simhash64(array('a','b','d'))) AS hd,
        |  doc_fingerprint('hello world hello world', 8) AS fp""".stripMargin).first()
    // matches the Column-API expressions exactly
    val colApi = Seq(("a b c")).toDF("t").select(
      graft.expressions.HashExpressions.simHash64(split(col("t"), " ")).as("sh")).first()
    assert(row.getAs[Long]("sh") == colApi.getAs[Long]("sh"))
    assert(row.getAs[Int]("hd") >= 0 && row.getAs[Int]("hd") <= 64)
    assert(row.getAs[Long]("fp") != 0L)
  }
}
