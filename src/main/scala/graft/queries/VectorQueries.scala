package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions
import Fixtures._

/** Embedding vectors: exact and approximate nearest neighbours (LSH,
  * IVF, PQ) under one recall contract, embedding near-duplicates,
  * semantic dedup, outliers, int8 quantization and hybrid search.
  */
private[graft] object VectorQueries {

  /** ANN gate queries under the q33 contract form. An approximate index's
    * neighbor lists depend on its internals (hyperplane draws, k-means
    * iterations), so they can never hash-match a SQL engine — what CAN be
    * oracled exactly is the brute-force side (the q22 oracle already
    * hash-matches DuckDB's identical fold arithmetic) plus the recall
    * contract the index promises. Per probe: the exact rank-1 neighbor
    * (recomputed by DuckDB), the ANN result count (must equal k), and a
    * required-TRUE validity bit (distinct ids, no self-match, all ids
    * from the corpus); plus a required-TRUE recall floor measured in
    * AGGREGATE across all probes (hits over all probes / exact rows over
    * all probes — with 5 probes a per-query floor is a 10-sample coin
    * flip, the aggregate is 50). `minRecall` is each index's measured
    * operating floor across the sf sweep minus margin — far above the
    * ~k/N chance line (~0.005 here), honest about what nprobe/ksub
    * actually buy; the controlled-fixture recall gates stay in KnnSpec.
    * This moves those gates INTO the driver's oracle gate; the index
    * operators themselves are unchanged. The brute pass is 5 probes ×
    * corpus — linear, probe-bounded.
    */
  private def annRecallContract(e: DataFrame, probes: DataFrame,
      ann: DataFrame, k: Int, minRecall: Double): DataFrame = {
    // materialize-once discipline (q42's exactDedup pattern): `exact`
    // feeds three consumers and `stats` two — without the checkpoints
    // the O(probes × corpus) scored join recomputes per consumer
    val exact = graft.similarity.Knn.bruteForce(e, probes, "vec_id", "embedding", k)
      .localCheckpoint()
    val corpusIds = e.select(col("vec_id").as("neighbor_id"),
      lit(true).as("__in_corpus"))
    val stats = ann
      .join(exact.select(col("query_id"), col("neighbor_id"),
        lit(true).as("__in_exact")), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(corpusIds), Seq("neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_ann_results"),
        countDistinct(col("neighbor_id")).as("__ndist"),
        sum(when(col("__in_exact"), 1L).otherwise(0L)).as("__hits"),
        max(when(col("neighbor_id") === col("query_id"), 1L).otherwise(0L))
          .as("__self"),
        min(when(col("__in_corpus"), 1L).otherwise(0L)).as("__all_corpus"))
      .localCheckpoint()
    val aggRecall = stats.agg(sum(col("__hits")).as("__th"))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("__te"))))
    exact.filter(col("rnk") === 1)
      .select(col("query_id"), col("neighbor_id").as("exact_top1"))
      .join(stats, Seq("query_id"))
      .crossJoin(broadcast(aggRecall))
      .select(col("query_id"), col("exact_top1"), col("n_ann_results"),
        (col("__th").cast(DoubleType) >= col("__te") * minRecall).as("recall_ok"),
        (col("__ndist") === col("n_ann_results") && col("__self") === 0L &&
          col("__all_corpus") === 1L).as("ann_results_valid"))
  }

  // Brute-force cosine top-10 for probe vectors (exact ANN baseline)
  val q22 = Query("q22_knn_brute", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.similarity.Knn.bruteForce(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
    },
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |p AS (SELECT vec_id AS query_id, embedding AS q FROM e WHERE vec_id < 5),
      |scored AS (SELECT p.query_id, e.vec_id AS neighbor_id,
      |  list_sum(list_transform(list_zip(p.q, e.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(p.q, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
      |  FROM e, p WHERE e.vec_id <> p.query_id)
      |SELECT query_id, neighbor_id, rnk FROM (
      |  SELECT query_id, neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      |  FROM scored) t WHERE rnk <= 10""".stripMargin)

  // Embedding-cosine near-dup pairs over a subset (brute verify shape).
  // `vec_id < 500` pins the input to the sf0.01 oracle subset at EVERY
  // sf — identical result at the correctness gate, and the deliberate
  // O(n²) verify stays a fixed ~100-vector probe at bench sf instead of
  // growing quadratically with the corpus (the one cartesian plan in
  // the registry is the q34 oracle twin, not a scaling path).
  val q23 = Query("q23_embedding_neardup", (s, dir) => {
      graft.dedup.Dedup.embeddingPairsBrute(
        Tables.embeddings(s, dir)
          .filter(col("vec_id") % 5 === 0 && col("vec_id") < 500),
        "vec_id", "embedding", threshold = 0.35)
    },
    """WITH e AS (SELECT vec_id, embedding FROM embeddings
      |  WHERE vec_id % 5 = 0 AND vec_id < 500)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) > 0.35""".stripMargin)

  // LSH-bucketed ANN (the sub-linear scale path; probabilistic recall,
  // spec-verified against bruteForce overlap)
  val q28 = Query("q28_knn_lsh", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val probes = e.filter(col("vec_id") < 5)
      annRecallContract(e, probes,
        graft.similarity.Knn.lshBuckets(e, probes, "vec_id", "embedding",
          k = 10, dim = 64),
        k = 10, minRecall = 0.8)
    },
    // the ANN recall-contract oracle: the exact rank-1 neighbor is the
    // same fold arithmetic the q22 oracle hash-matches; count and the
    // recall/validity booleans are required values (q33 contract form)
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |p AS (SELECT vec_id AS query_id, embedding AS q FROM e WHERE vec_id < 5),
      |scored AS (SELECT p.query_id, e.vec_id AS neighbor_id,
      |  list_sum(list_transform(list_zip(p.q, e.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(p.q, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
      |  FROM e, p WHERE e.vec_id <> p.query_id)
      |SELECT query_id, neighbor_id AS exact_top1,
      |  CAST(10 AS BIGINT) AS n_ann_results,
      |  TRUE AS recall_ok, TRUE AS ann_results_valid
      |FROM (
      |  SELECT query_id, neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      |  FROM scored) t WHERE rnk = 1""".stripMargin)

  // IVF-Flat ANN (k-means coarse quantizer + inverted lists; the
  // partition-pruned scale path; spec-verified recall vs bruteForce)
  val q30 = Query("q30_knn_ivf", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      // probes as an INDEPENDENT read, not a filter of `e`: sharing the
      // corpus DataFrame's attribute ids across both sides of ivf's
      // candidate join makes the analyzer's self-join deduplication
      // rewrite the probe subtree, and on a fresh session it misses a
      // reference inside ivf's centroid-routing lambda — the query then
      // dies at execution with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (only
      // when q30 is the first query the session plans; a warmed session
      // optimizes the same tree differently). A separate scan gets fresh
      // ids, so no dedup rewrite ever runs. Same rows, same plan shape.
      // KnnSpec "q30 executes as the FIRST query of a fresh session"
      // pins this — do not re-share the corpus DataFrame.
      val probes = Tables.embeddings(s, dir).filter(col("vec_id") < 5)
      annRecallContract(e, probes,
        graft.similarity.Knn.ivf(e, probes, "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 8),
        // nprobe/nlist = 1/2 of the lists scanned — the measured
        // operating point on these STRUCTURE-FREE synthetic embeddings
        // (uniform vectors barely cluster, so IVF recall is inherently
        // nprobe-bound; the round-10 curve: nprobe 4 → 0.42-0.88,
        // 6 → 0.64-0.94, 8 → 0.74-0.96, 12 → 0.92+ across
        // sf0.001/0.01/0.1/1). Floor = the measured nprobe-8 minimum
        // (0.74) minus margin; latency is flat in nprobe here because
        // the probe side is 5 broadcast rows
        k = 10, minRecall = 0.6)
    },
    // the ANN recall contract (q28) is index-agnostic by construction —
    // exact-top1 anchor + required-TRUE recall/validity — so the IVF
    // and PQ gates share its oracle verbatim
    oracle = q28.oracle)

  // Embedding near-dup via multi-table hyperplane LSH — the 100 TB
  // scale path (q23 keeps the bounded brute-force oracle twin of the
  // same subset + threshold). Exact-cosine verify keeps precision 1.0.
  // Recall is regime-dependent, stated honestly: in the production
  // near-dup band (cosine ≥ 0.9) DedupSpec bounds recall ≥ 0.9; at
  // this low 0.35 threshold (the testdata holds no pair above 0.52)
  // LSH recovers only the closest pairs (5/13 at sf0.01, deterministic
  // seeds) — no LSH family is sublinear AND high-recall that far below
  // the similarity knee, which is why q23's exhaustive form remains
  // the oracle for this regime.
  val q34 = Query("q34_embedding_neardup_lsh", (s, dir) => {
      // same `vec_id < 500` pin as q23 so the twin relationship (same
      // subset, same threshold) holds at every sf. Gated under the
      // q28-style contract: the exhaustive pairs ARE the exact anchors
      // (q23's oracle already hash-matches DuckDB's identical cosine
      // fold), and two required-TRUE aggregates state what the LSH path
      // genuinely promises — precision 1.0 (exact-cosine verify means
      // every LSH pair is an exhaustive pair) and a measured recall
      // floor (0.385-0.5 across the sf sweep at this deliberately
      // sub-knee threshold; floor 0.3 with margin — see the q23 comment
      // for why low-threshold recall is regime-bound).
      val e = Tables.embeddings(s, dir)
        .filter(col("vec_id") % 5 === 0 && col("vec_id") < 500)
      val lsh = graft.dedup.Dedup.embeddingPairsLsh(
        e, "vec_id", "embedding", threshold = 0.35, dim = 64)
      val exact = graft.dedup.Dedup.embeddingPairsBrute(
        e, "vec_id", "embedding", threshold = 0.35).localCheckpoint()
      val counts = lsh
        .join(exact.withColumn("__e", lit(true)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("__nl"),
          sum(when(col("__e"), 1L).otherwise(0L)).as("__hit"))
      val flags = counts
        .crossJoin(broadcast(exact.agg(count(lit(1)).as("__ne"))))
        .select(
          (coalesce(col("__hit"), lit(0L)) === col("__nl"))
            .as("lsh_subset_of_exact"),
          (coalesce(col("__hit"), lit(0L)).cast(DoubleType) >=
            col("__ne") * 0.3).as("recall_floor_ok"))
      exact.crossJoin(broadcast(flags))
    },
    // exhaustive cosine pairs are the exact anchors (q23's arithmetic);
    // LSH precision/recall-floor booleans required TRUE
    """WITH e AS (SELECT vec_id, embedding FROM embeddings
      |  WHERE vec_id % 5 = 0 AND vec_id < 500)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  TRUE AS lsh_subset_of_exact, TRUE AS recall_floor_ok
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) > 0.35""".stripMargin)

  // Product-quantization ANN: corpus compresses to 8 codebook codes
  // per vector (the 100 TB exhaustive-scan path — ~32x less scan I/O),
  // queries score exact-against-decoded (ADC). Codebook training is
  // iterative so neighbor lists have no SQL twin — gated via the ANN
  // recall contract; KnnSpec keeps degenerate exactness + recall floor
  val q65 = Query("q65_knn_pq", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val probes = e.filter(col("vec_id") < 5)
      annRecallContract(e, probes,
        graft.similarity.Knn.pq(e, probes, "vec_id", "embedding",
          k = 10, blocks = 8, ksub = 16),
        // 32x scan compression: measured aggregate recall 0.48-0.86
        // across the sf sweep; floor 0.4
        k = 10, minRecall = 0.4)
    },
    // the ANN recall contract (q28) is index-agnostic by construction —
    // exact-top1 anchor + required-TRUE recall/validity — so the IVF
    // and PQ gates share its oracle verbatim
    oracle = q28.oracle)

  // Hybrid search: reciprocal-rank fusion of a BM25 top-50 (rational
  // idf — the bit-exact form, q60) and an embedding-cosine top-50
  // against query vector 0 over the doc-aligned slice (vec_id < 500,
  // the q23 convention). Only the integer RANKS enter the fused
  // score (1/(60+r), order-pinned two-term sum), so the oracle is
  // bit-exact as long as both input orderings agree — which q60/q22
  // already prove they do.
  val q74 = Query("q74_hybrid_search", (s, dir) => {
      val lex = graft.functions.Relevance.bm25(Tables.documents(s, dir),
        "doc_id", "text", Seq("join", "hash", "scan"), logIdf = false)
      // topKRanked plans as TakeOrderedAndProject (distributed partial
      // top-k) — the whole-corpus scoring never crosses a
      // single-partition window exchange; only the 50 survivors do
      val lexTop = graft.functions.Relevance.topKRanked(lex, "score", "doc_id", 50)
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 500)
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("__q"))
      val cos = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          VectorFunctions.cosine(col("embedding"), col("__q")).as("cosine"))
      val vecTop = graft.functions.Relevance.topKRanked(cos, "cosine", "doc_id", 50)
      graft.functions.Relevance.rrf(Seq(lexTop, vecTop), "doc_id", "rnk", k = 60)
    },
    // only integer ranks cross into the fusion, so this needs rank
    // agreement (q60's bit-exact rational BM25, q22's bit-exact cosine)
    // plus the order-pinned two-term 1/(60+r) sum mirrored exactly
    """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
      |  CAST(SUM(len(w)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM tok),
      |t AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM tok),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM t
      |  WHERE term IN ('join', 'hash', 'scan') GROUP BY doc_id, term),
      |dfs AS (SELECT
      |    MAX(CASE WHEN term = 'join' THEN df END) AS df0,
      |    MAX(CASE WHEN term = 'hash' THEN df END) AS df1,
      |    MAX(CASE WHEN term = 'scan' THEN df END) AS df2
      |  FROM (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term)),
      |p AS (SELECT doc_id, MAX(dl) AS dl,
      |    MAX(CASE WHEN term = 'join' THEN tf END) AS tf0,
      |    MAX(CASE WHEN term = 'hash' THEN tf END) AS tf1,
      |    MAX(CASE WHEN term = 'scan' THEN tf END) AS tf2
      |  FROM tf GROUP BY doc_id),
      |lexscore AS (SELECT doc_id,
      |  (CASE WHEN tf0 IS NULL THEN CAST(0.0 AS DOUBLE) ELSE
      |    ((n_docs - df0 + CAST(0.5 AS DOUBLE)) / (df0 + CAST(0.5 AS DOUBLE)))
      |    * ((CAST(tf0 AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |      / (CAST(tf0 AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |          * (CAST(dl AS DOUBLE) / avgdl)))) END
      |  + CASE WHEN tf1 IS NULL THEN CAST(0.0 AS DOUBLE) ELSE
      |    ((n_docs - df1 + CAST(0.5 AS DOUBLE)) / (df1 + CAST(0.5 AS DOUBLE)))
      |    * ((CAST(tf1 AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |      / (CAST(tf1 AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |          * (CAST(dl AS DOUBLE) / avgdl)))) END
      |  + CASE WHEN tf2 IS NULL THEN CAST(0.0 AS DOUBLE) ELSE
      |    ((n_docs - df2 + CAST(0.5 AS DOUBLE)) / (df2 + CAST(0.5 AS DOUBLE)))
      |    * ((CAST(tf2 AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |      / (CAST(tf2 AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |          * (CAST(dl AS DOUBLE) / avgdl)))) END) AS score
      |  FROM p, dfs, stats),
      |lextop AS (SELECT doc_id, rnk FROM (SELECT doc_id,
      |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
      |  FROM lexscore) WHERE rnk <= 50),
      |e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
      |qv AS (SELECT embedding AS q FROM e WHERE vec_id = 0),
      |cosines AS (SELECT e.vec_id AS doc_id,
      |  list_sum(list_transform(list_zip(qv.q, e.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(qv.q, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
      |  FROM e, qv WHERE e.vec_id <> 0),
      |vectop AS (SELECT doc_id, rnk FROM (SELECT doc_id,
      |    ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS rnk
      |  FROM cosines) WHERE rnk <= 50),
      |j AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.rnk AS r0, v.rnk AS r1
      |  FROM lextop l FULL OUTER JOIN vectop v ON l.doc_id = v.doc_id),
      |f AS (SELECT doc_id,
      |  (CASE WHEN r0 IS NULL THEN CAST(0.0 AS DOUBLE)
      |        ELSE CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(r0 AS DOUBLE)) END
      |   + CASE WHEN r1 IS NULL THEN CAST(0.0 AS DOUBLE)
      |        ELSE CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(r1 AS DOUBLE)) END)
      |    AS rrf_score,
      |  CAST(CASE WHEN r0 IS NULL THEN 0 ELSE 1 END
      |     + CASE WHEN r1 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS n_lists
      | FROM j)
      |SELECT doc_id, n_lists, rrf_score,
      |  ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS fused_rank
      |FROM f""".stripMargin)

  // SemDeDup: k-means neighborhoods, within-cluster cosine pruning —
  // the embedding-space dedup of the curation stack. Input pinned to
  // the fixed vec_id<2000 slice (q23 convention: constant work at
  // every sf). Iterative k-means has no SQL twin, so the gate runs
  // the q33 contract form over a twin-planted corpus (KnnSpec keeps
  // the nlist=1 ≡ brute proof and never-invents-drops): every 9th
  // vector re-enters COINCIDENT under vec_id+1,000,000 — identical
  // vectors always share a cluster (deterministic assignment) at
  // cosine 1 ≥ threshold, and SemDeDup only ever drops the larger id
  // of a pair, so each planted twin MUST be dropped (required TRUE)
  // while the corpus-minimum id can never be (nothing smaller exists
  // to beat it). Survivor-set distinctness rides along.
  val q78 = Query("q78_semantic_dedup", (s, dir) => {
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 2000)
        .select("vec_id", "embedding")
      // fresh scan for the planted side: a union whose children share
      // attribute ids (both projected off one scan) trips Catalyst's
      // union constraint rewrite ("key not found" in rewriteConstraints)
      val planted = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 2000 && col("vec_id") % 9 === 0)
        .select("vec_id", "embedding")
      // scale-derived twin offset (q25 convention): a FIXED +1M would
      // collide with real vec_ids once the table passes 1M rows
      val off = plantOffset(Tables.embeddings(s, dir), "vec_id")
      // checkpointed for the same two reasons as q79's corpus
      val corpus = e.unionByName(planted
        .select((col("vec_id") + off).as("vec_id"), col("embedding")))
        .localCheckpoint()
      val surv = graft.similarity.Knn.semanticDedup(corpus, "vec_id",
          "embedding", threshold = 0.5, nlist = 16)
        .select("vec_id").localCheckpoint() // three consumers below
      val inv = surv.agg(
          (count(lit(1)) === countDistinct(col("vec_id"))).as("survivors_unique"),
          min(col("vec_id")).as("__mns"))
        .crossJoin(broadcast(corpus.agg(min(col("vec_id")).as("__mnc"))))
        .select(col("survivors_unique"),
          (col("__mns") === col("__mnc")).as("global_min_survives"))
      planted.select(col("vec_id"), (col("vec_id") + off).as("twin_id"))
        .join(surv.select(col("vec_id").as("twin_id"), lit(true).as("__s")),
          Seq("twin_id"), "left")
        .crossJoin(broadcast(inv))
        .select(col("vec_id"), col("twin_id"),
          col("__s").isNull.as("twin_dropped"),
          col("survivors_unique"), col("global_min_survives"))
    },
    // planted coincident twins must be SemDeDup'd away; the corpus
    // minimum can never be (drops always take the larger id)
    """SELECT vec_id,
      |  vec_id + (SELECT (max(vec_id) // 1000000 + 1) * 1000000
      |            FROM embeddings) AS twin_id,
      |  TRUE AS twin_dropped,
      |  TRUE AS survivors_unique, TRUE AS global_min_survives
      |FROM embeddings WHERE vec_id < 2000 AND vec_id % 9 = 0""".stripMargin)

  // Embedding outlier gate: cosine-to-own-centroid below threshold.
  // Same pinned slice; narrow scoring pass after bounded quantizer
  // training. KnnSpec plants an off-manifold vector in a CLUSTERED
  // fixture and proves the flag is exactly the predicate — a planted
  // outlier cannot be carried into the driver gate because the
  // testdata embeddings are near-uniform on the unit sphere (label-
  // mean norms ~0.14), so no fixed direction is guaranteed far from
  // every data-derived centroid. The gate therefore runs the q33
  // contract on what IS guaranteed: planted coincident twins (every
  // 13th vector re-enters under +1,000,000) must receive bit-identical
  // (cluster_id, centroid_cosine, is_outlier) — same expression over
  // the same input and centroid literals; flag ≡ score<τ consistency,
  // cluster-range and cosine-range bounds hold corpus-wide; the
  // scored-row count is an exact anchor DuckDB recomputes; and the
  // outlier fraction sits in the measured band (2.6-7.1% across the
  // sf sweep; sane bounds ≥1 row, ≤12%).
  val q79 = Query("q79_embedding_outliers", (s, dir) => {
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 2000)
        .select("vec_id", "embedding")
      // fresh scan for the planted side — same union-constraint
      // rationale as q78
      val planted = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 2000 && col("vec_id") % 13 === 0)
        .select("vec_id", "embedding")
      // scale-derived twin offset (q25 convention, as in q78)
      val off = plantOffset(Tables.embeddings(s, dir), "vec_id")
      // checkpointed: (a) the quantizer + scoring pass read the corpus
      // several times, (b) leaving the union in the plan trips
      // Catalyst's union constraint rewrite under the later projections
      val corpus = e.unionByName(planted
        .select((col("vec_id") + off).as("vec_id"), col("embedding")))
        .localCheckpoint()
      val out = graft.similarity.Knn.embeddingOutliers(corpus, "vec_id",
          "embedding", minCentroidCosine = 0.16, nlist = 16)
        .select("vec_id", "cluster_id", "centroid_cosine", "is_outlier")
        .localCheckpoint() // three consumers below
      val inv = out.agg(
        count(lit(1)).as("n_scored"),
        (count(lit(1)) === countDistinct(col("vec_id"))).as("scored_once"),
        bool_and(col("is_outlier") === (col("centroid_cosine") < 0.16))
          .as("flag_matches_score"),
        bool_and(col("cluster_id") >= 0 && col("cluster_id") < 16)
          .as("cluster_in_range"),
        bool_and(abs(col("centroid_cosine")) <= 1.0001).as("cosine_bounded"),
        ((sum(when(col("is_outlier"), 1L).otherwise(0L)) >= 1L) &&
          (sum(when(col("is_outlier"), 1L).otherwise(0L)).cast(DoubleType)
            <= count(lit(1)) * 0.12)).as("outlier_fraction_sane"))
      def scored(idExpr: org.apache.spark.sql.Column, pre: String) =
        out.select(idExpr.as("vec_id"), col("cluster_id").as(s"__${pre}c"),
          col("centroid_cosine").as(s"__${pre}s"), col("is_outlier").as(s"__${pre}o"))
      planted.select(col("vec_id"), (col("vec_id") + off).as("twin_id"))
        .join(scored(col("vec_id"), "a"), Seq("vec_id"))
        .join(scored(col("vec_id"), "b")
          .withColumnRenamed("vec_id", "twin_id"), Seq("twin_id"))
        .crossJoin(broadcast(inv))
        .select(col("vec_id"), col("twin_id"),
          (col("__ac") === col("__bc") && col("__as") === col("__bs") &&
            col("__ao") === col("__bo")).as("twin_consistent"),
          col("n_scored"), col("scored_once"), col("flag_matches_score"),
          col("cluster_in_range"), col("cosine_bounded"),
          col("outlier_fraction_sane"))
    },
    // coincident twins score identically; flag ≡ predicate; exact
    // scored-count anchor; measured outlier-fraction band
    """WITH e AS (SELECT vec_id FROM embeddings WHERE vec_id < 2000),
      |n AS (SELECT CAST((SELECT COUNT(*) FROM e) +
      |  (SELECT COUNT(*) FROM e WHERE vec_id % 13 = 0) AS BIGINT) AS n_scored)
      |SELECT e.vec_id,
      |  e.vec_id + (SELECT (max(vec_id) // 1000000 + 1) * 1000000
      |              FROM embeddings) AS twin_id,
      |  TRUE AS twin_consistent, n.n_scored, TRUE AS scored_once,
      |  TRUE AS flag_matches_score, TRUE AS cluster_in_range,
      |  TRUE AS cosine_bounded, TRUE AS outlier_fraction_sane
      |FROM e, n WHERE e.vec_id % 13 = 0""".stripMargin)

  // Int8 scalar quantization of the embedding column — the
  // memory-bound ANN scale path (float32 → uint8 codes, ~3.2×
  // scan-bandwidth cut, composes with brute/LSH/IVF as compressed
  // storage). Every output is exact replayable arithmetic: the code
  // construction uses explicit floor(+0.5) rounding (never engine
  // round() — half-even vs half-up differs across engines), the
  // approximate dot against the min-id probe is the affine
  // decomposition over integer code sums, and the reconstruction
  // error bound (half quantization step) is a required-TRUE
  // invariant. One projection + a 1-row broadcast; no shuffle.
  val q107 = Query("q107_embedding_quantize", (s, dir) => {
      import graft.similarity.ScalarQuant
      val e = Tables.embeddings(s, dir)
      val v = col("embedding")
      val q = e.select(col("vec_id"), v,
          array_min(v).cast("double").as("q_min"),
          ScalarQuant.qscale(v).as("q_scale"))
        .select(col("vec_id"), v,
          ScalarQuant.codes(v, col("q_min"), col("q_scale")).as("codes"),
          col("q_min"), col("q_scale"))
      val probe = q.orderBy(col("vec_id")).limit(1)
        .select(col("codes").as("pcodes"), col("q_min").as("p_min"),
          col("q_scale").as("p_scale"))
      q.crossJoin(broadcast(probe))
        .select(col("vec_id"),
          size(col("codes")).cast("long").as("n_dims"),
          col("q_min"), col("q_scale"),
          aggregate(col("codes"), lit(0L), (a, c) => a + c.cast("long"))
            .as("code_sum"),
          array_min(col("codes")).cast("long").as("code_min"),
          array_max(col("codes")).cast("long").as("code_max"),
          (ScalarQuant.reconError(v, col("codes"), col("q_min"),
            col("q_scale")) <= col("q_scale") / 2 + 1e-9).as("recon_ok"),
          ScalarQuant.approxDot(col("codes"), col("q_min"), col("q_scale"),
            col("pcodes"), col("p_min"), col("p_scale"))
            .as("approx_dot_probe"))
    },
    // exact replay of the affine int8 quantization (floor(+0.5)
    // rounding, clamp, scale-0 guard) and the integer-decomposed
    // approximate dot against the min-id probe; the recon bound is the
    // required-TRUE invariant (half quantization step, proven in
    // ScalarQuantSpec)
    """WITH q AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_min(embedding) AS DOUBLE) AS qmin,
      |    (CAST(list_max(embedding) AS DOUBLE)
      |      - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS qs
      |  FROM embeddings),
      |c AS (
      |  SELECT vec_id, qmin, qs,
      |    CASE WHEN qs = 0 THEN list_transform(embedding, x -> 0)
      |      ELSE list_transform(embedding, x ->
      |        CAST(least(greatest(
      |          floor((CAST(x AS DOUBLE) - qmin) / qs + 0.5), 0.0), 255.0)
      |          AS INT)) END AS codes
      |  FROM q),
      |p AS (
      |  SELECT qmin AS pmin, qs AS ps, codes AS pcodes FROM c
      |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings))
      |SELECT c.vec_id,
      |  CAST(len(codes) AS BIGINT) AS n_dims,
      |  qmin AS q_min, qs AS q_scale,
      |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
      |  CAST(list_min(codes) AS BIGINT) AS code_min,
      |  CAST(list_max(codes) AS BIGINT) AS code_max,
      |  TRUE AS recon_ok,
      |  qs * ps * CAST(list_sum(list_transform(list_zip(codes, pcodes),
      |      z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))) AS DOUBLE)
      |    + qs * pmin * CAST(list_sum(codes) AS DOUBLE)
      |    + ps * qmin * CAST(list_sum(pcodes) AS DOUBLE)
      |    + CAST(len(codes) AS DOUBLE) * qmin * pmin AS approx_dot_probe
      |FROM c, p""".stripMargin)

  val all: Seq[Query] = Seq(q22, q23, q28, q30, q34, q65, q74, q78, q79, q107)
}
