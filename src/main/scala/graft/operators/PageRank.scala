package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank — the link-graph quality prior corpus-curation
  * pipelines use as a document-level signal (harvest-rank a crawl
  * before quality filtering), the iterative-join sibling of
  * [[graft.dedup.Components.connectedComponents]].
  *
  * Spark-first shape, one *fundamental* shuffle per iteration (the
  * contribution re-key from src to dst — the transpose multiply that
  * IS PageRank); everything else is arranged so it never re-shuffles:
  *   - the static per-vertex out-degree is carried INSIDE the rank
  *     state `(id, deg, rank)` — joining `ranks ⋈ outDeg` every round
  *     (the previous shape) paid a join per iteration for a value that
  *     never changes;
  *   - edges are hash-partitioned by `src` once and localCheckpointed —
  *     the per-round `ranks ⋈ edges` join re-shuffles only the rank
  *     side (|V| narrow rows), never the edge set (|E| rows);
  *   - the dangling-vertex rank mass (vertices with no out-edges) is a
  *     1-row aggregate cross-joined back in as a broadcast, NOT a
  *     per-iteration `.head` driver action — iterations chain lazily
  *     and materialize in one job per lineage cut instead of one
  *     blocking job per round.
  * `new = (1-d)/N + d*danglingMass/N + d*contrib` — the standard
  * stochastic-matrix completion, so ranks keep summing to 1 (the
  * expression replays the exact FP evaluation order of the scalar
  * formulation it replaces).
  *
  * Lineage is cut with `localCheckpoint` every third round (the
  * Components.scala discipline): iterative joins otherwise stack an
  * exponentially deepening plan. Intermediate rounds persist lazily and
  * are released at the next cut, so at most three rounds of rank state
  * are ever held. Scale: each iteration is one key-partitioned join +
  * one aggregation over |E| and |V| rows — the textbook distributed
  * formulation that holds at any edge count. Vertex ranks never sit on
  * the driver ABOVE `maxDriverEdges` (default 1M): long-id graphs at or
  * under the cap instead run one bounded-count probe + one collect and
  * iterate in driver arrays (pinned ≡ the distributed path at 1e-12 by
  * PageRankSpec) — pass `maxDriverEdges = 0` to force the distributed
  * path.
  *
  * Dedup/duplicate edges are NOT collapsed: parallel edges weight a
  * link twice, matching the adjacency-matrix definition over a
  * multigraph. Callers wanting simple-graph semantics distinct their
  * edges first.
  *
  * Returns (id, rank) with ranks summing to 1 over the vertex set
  * (sources ∪ destinations).
  */
object PageRank {

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      maxDriverEdges: Int = 1000000): DataFrame = {
    require(iterations >= 1, "iterations must be at least 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    import org.apache.spark.storage.StorageLevel
    val eSel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // Size-gated driver path (the Components.maxDriverEdges pattern):
    // an edge list under the cap is a few MB — iterating it in driver
    // arrays costs one collect job, where the distributed formulation
    // pays a blocking localCheckpoint materialization every third round
    // plus a broadcast-subquery exchange per round in pure coordination
    // overhead. Long-id graphs only (the driver path must return the
    // same id type it was given). The gate probe is a bounded COUNT
    // (GlobalLimit stops the scan at cap+1; only a long returns), so an
    // over-cap graph never ships ~cap rows to the driver just to
    // discard them — the collect runs only once the count proves the
    // graph fits, and is itself capped at cap+1 rows: a source that grows
    // between probe and collect falls through to the distributed path
    // instead of shipping unboundedly. Above the cap the distributed path
    // below is authoritative — per-decade ladder runs exercise it.
    // PageRankSpec pins driver ≡ distributed (1e-12).
    if (maxDriverEdges > 0 && eSel.schema.fields.forall(
        _.dataType == org.apache.spark.sql.types.LongType)) {
      val bounded = eSel.limit(maxDriverEdges + 1).count()
      if (bounded <= maxDriverEdges) {
        val sample = eSel.limit(maxDriverEdges + 1).collect()
        if (sample.length <= maxDriverEdges)
          return driverPageRank(edges.sparkSession,
            sample.map(r => (r.getLong(0), r.getLong(1))), iterations,
            damping)
      }
    }
    // edges re-read every iteration: partition by the join key ONCE and
    // materialize — localCheckpoint preserves the hash partitioning, so
    // the per-round contribution join never moves the edge set again
    val e = eSel
      .repartition(col("src"))
      .localCheckpoint()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // static (id, deg): deg is NULL exactly on dangling vertices. Built
    // and checkpointed once, partitioned by id — both per-round
    // consumers (the rank update join and the dangling filter) read it
    // without a shuffle.
    val verticesDeg = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .join(outDeg, col("id") === col("src"), "left")
      .select(col("id"), col("deg"))
      .repartition(col("id"))
      .localCheckpoint()
    val n = verticesDeg.count()
    require(n > 0, "pageRank needs at least one edge")
    var ranks = verticesDeg.withColumn("rank", lit(1.0 / n))
    // lazy persists of the rounds since the last lineage cut — released
    // once the next cut's localCheckpoint has materialized past them
    var pending: Seq[DataFrame] = Nil
    var i = 0
    while (i < iterations) {
      // rank mass on dangling vertices — a 1-row aggregate kept IN the
      // plan (broadcast cross join) instead of a per-round driver action
      val dangling = ranks.filter(col("deg").isNull)
        .agg(coalesce(sum("rank"), lit(0.0)).as("__dm"))
      val contribs = ranks.filter(col("deg").isNotNull)
        .select(col("id"), (col("rank") / col("deg")).as("share"))
        .join(e, col("id") === e("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum("share").as("contrib"))
      // (1-d)/n + d*dm/n + d*contrib — identical FP evaluation order to
      // the scalar `base = (1-d)/n + d*dm/n; base + d*contrib` this
      // expression replaces, so ranks are bit-identical
      val nextRaw = verticesDeg
        .join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"), col("deg"),
          (lit((1.0 - damping) / n) +
            lit(damping) * col("__dm") / lit(n.toDouble) +
            lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
      val cut = i % 3 == 2 || i == iterations - 1
      if (cut) {
        ranks = nextRaw.localCheckpoint() // eager: lineage cut here
        pending.foreach(_.unpersist())
        pending = Nil
      } else {
        ranks = nextRaw.persist(StorageLevel.MEMORY_AND_DISK) // lazy
        pending :+= ranks
      }
      i += 1
    }
    ranks.select(col("id"), col("rank"))
  }

  /** In-memory PageRank over a collected edge list — the under-cap twin
    * of the distributed path, same update rule with the same expression
    * shape per vertex: `(1-d)/n + d*dm/n + d*contrib` (left-associated
    * exactly as the Column expression evaluates). Summation orders
    * (dangling mass, per-dst contributions) are canonical (sorted ids /
    * sorted edges) rather than shuffle-arrival order — consumers read
    * ranks through tolerance contracts, and PageRankSpec pins the two
    * paths within 1e-12.
    */
  private def driverPageRank(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)], iterations: Int,
      damping: Double): DataFrame = {
    require(edges.nonEmpty, "pageRank needs at least one edge")
    val edgesSorted = edges.sorted
    val ids: Array[Long] =
      (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = ids.length
    val idx: java.util.HashMap[Long, Int] = {
      val m = new java.util.HashMap[Long, Int](n * 2)
      var i = 0
      while (i < n) { m.put(ids(i), i); i += 1 }
      m
    }
    val deg = new Array[Long](n)
    edgesSorted.foreach { case (s, _) => deg(idx.get(s)) += 1L }
    var rank = Array.fill(n)(1.0 / n)
    var it = 0
    while (it < iterations) {
      var dm = 0.0
      var i = 0
      while (i < n) { if (deg(i) == 0L) dm += rank(i); i += 1 }
      val contrib = new Array[Double](n)
      edgesSorted.foreach { case (s, d) =>
        val si = idx.get(s)
        contrib(idx.get(d)) += rank(si) / deg(si)
      }
      rank = Array.tabulate(n)(i =>
        (1.0 - damping) / n + damping * dm / n.toDouble +
          damping * contrib(i))
      it += 1
    }
    import spark.implicits._
    ids.zip(rank).toSeq.toDF("id", "rank")
  }
}
