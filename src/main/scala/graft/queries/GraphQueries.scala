package graft
package queries

import org.apache.spark.sql.functions._

import Fixtures._

/** Graph algorithms: connected components over near-duplicate pairs,
  * and PageRank over a synthetic document link graph.
  */
private[graft] object GraphQueries {

  // Transitive duplicate clusters: SimHash near-dup pairs → connected
  // components (min-label propagation) → (id, cluster_id), gated under
  // the q33 contract form (the component structure of hash-derived
  // pairs has no SQL twin; ComponentsSpec keeps the union-find
  // equality proof). Planted anchors: every 11th doc re-enters TWICE
  // with identical text (doc_id + off and + 2·off, off scale-derived
  // past max(doc_id) — see plantOffset), a clique DuckDB replays —
  // all three members must co-cluster (hamming-0 pairs are
  // rescue-lane-guaranteed under the clique cap — q25's argument,
  // post-sf100-fix — and components only need
  // connectivity). Global invariants ride along: every id appears
  // exactly once, and each cluster's label IS its minimum member id
  // (the min-label-propagation postcondition).
  val q38 = Query("q38_dup_clusters", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val off = plantOffset(docs, "doc_id")
      val base = docs.filter(col("doc_id") % 11 === 0)
      def shifted(o: Long) =
        base.select((col("doc_id") + o).as("doc_id"), col("text"))
      val corpus = docs.unionByName(shifted(off)).unionByName(shifted(2 * off))
      val pairs = graft.dedup.Dedup.simHashPairs(corpus, "doc_id", "text",
        maxHamming = 3)
      val comps = graft.dedup.Components.connectedComponents(pairs)
        .localCheckpoint() // four consumers below
      val inv = comps.agg(
          (count(lit(1)) === countDistinct(col("id"))).as("membership_unique"))
        .crossJoin(broadcast(
          comps.groupBy(col("cluster_id")).agg(min(col("id")).as("__mn"))
            .agg(coalesce(bool_and(col("__mn") === col("cluster_id")), lit(true))
              .as("cluster_label_is_min_member"))))
      def memberLabel(off: Long, as: String) =
        comps.select((col("id") - off).as("doc_id"), col("cluster_id").as(as))
      base.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .join(memberLabel(0L, "__c0"), Seq("doc_id"), "left")
        .join(memberLabel(off, "__c1"), Seq("doc_id"), "left")
        .join(memberLabel(2 * off, "__c2"), Seq("doc_id"), "left")
        .crossJoin(broadcast(inv))
        .select(col("doc_id"), col("n_chars"),
          (col("__c0").isNotNull && col("__c0") === col("__c1") &&
            col("__c0") === col("__c2")).as("clique_co_clustered"),
          coalesce(col("__c0") <= col("doc_id"), lit(false))
            .as("cluster_label_bounded"),
          col("membership_unique"), col("cluster_label_is_min_member"))
    },
    // planted identical-text cliques must co-cluster; membership and
    // min-label invariants required TRUE
    """SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
      |  TRUE AS clique_co_clustered, TRUE AS cluster_label_bounded,
      |  TRUE AS membership_unique, TRUE AS cluster_label_is_min_member
      |FROM documents WHERE doc_id % 11 = 0""".stripMargin)

  // PageRank over a deterministic synthetic link graph (two
  // arithmetic out-links per doc): the link-graph quality prior for
  // corpus curation. PageRankSpec pins the operator against an exact
  // driver-side power iteration (dangling redistribution, multigraph
  // weighting, damping) at 1e-9; the gate query uses the q33 contract
  // form — float-iterative ranks have no SQL twin, so emit the EXACT
  // link structure (per-node in-degree, recomputed by DuckDB from the
  // same edge arithmetic; doc_ids are 0..n-1 so the node universe is
  // the doc set) plus required-TRUE distribution invariants: every
  // rank strictly positive, ranks sum to 1 within 1e-6 (dangling
  // redistribution keeps a distribution), and every rank at or above
  // the damping floor (1-d)/n.
  val q93 = Query("q93_pagerank", (s, dir) => {
      import graft.operators.PageRank
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count() // bounded driver scalar (graph modulus)
      // quadratic map (non-bijective → collision hubs) + division map
      // (multiples of 7 collect in-links) → a skewed in-degree
      // distribution, so ranks genuinely vary
      val edges = docs.select(col("doc_id").as("src"),
          ((col("doc_id") * col("doc_id") + 1L) % n).as("dst"))
        .union(docs.select(col("doc_id").as("src"),
          ((col("doc_id") - col("doc_id") % 7L) % n).as("dst")))
      val pr = PageRank.pageRank(edges, "src", "dst", iterations = 6)
      val inDeg = edges.groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("in_links"))
      val glob = pr.agg(sum(col("rank")).as("__s"), count(lit(1)).as("__n"))
      pr.join(inDeg, Seq("id"), "left")
        .crossJoin(broadcast(glob))
        .select(col("id"),
          coalesce(col("in_links"), lit(0L)).as("in_links"),
          (col("rank") > 0.0).as("rank_positive_ok"),
          (abs(col("__s") - lit(1.0)) <= lit(1e-6)).as("rank_sum_ok"),
          (col("rank") >= lit(0.15) / col("__n") - lit(1e-12)).as("rank_floor_ok"))
    },
    // exact per-node in-degree replayed from the same edge arithmetic
    // (doc_ids are 0..n-1, so the node universe is the doc set); the
    // PageRank distribution invariants are required TRUE
    """WITH n AS (SELECT COUNT(*) AS n FROM documents),
      |e AS (
      |  SELECT doc_id AS src, (doc_id * doc_id + 1) % n.n AS dst
      |  FROM documents, n
      |  UNION ALL
      |  SELECT doc_id, (doc_id - doc_id % 7) % n.n FROM documents, n),
      |ind AS (SELECT dst AS id, COUNT(*) AS in_links FROM e GROUP BY dst)
      |SELECT d.doc_id AS id,
      |  CAST(COALESCE(ind.in_links, 0) AS BIGINT) AS in_links,
      |  TRUE AS rank_positive_ok, TRUE AS rank_sum_ok, TRUE AS rank_floor_ok
      |FROM documents d LEFT JOIN ind ON ind.id = d.doc_id""".stripMargin)

  val all: Seq[Query] = Seq(q38, q93)
}
