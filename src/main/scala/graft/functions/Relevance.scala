package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Driver

/** Lexical relevance scoring — BM25 of every document against a fixed
  * bag of query terms (reference has no search operator; this is part of
  * the LLM-data extension surface: corpus triage, query-based subset
  * selection, and boilerplate hunting all rank documents by term
  * relevance).
  *
  * Scale shape (the part that matters at 100 TB):
  *   - tokens explode ONCE and are filtered to the |Q| query terms
  *     BEFORE the aggregation shuffle — the posting lists that shuffle
  *     are query-term-only, a tiny fraction of the corpus token stream;
  *   - document frequencies aggregate from those same per-(doc, term)
  *     rows (|Q| result rows) and broadcast back as one pivoted row, as
  *     does the (n_docs, avgdl) corpus statistic — no second pass over
  *     text for either;
  *   - the per-term score pivot keeps one row per MATCHING doc; docs
  *     sharing no query term never leave their scan partition.
  *
  * Two idf variants, chosen by `logIdf`:
  *   - `true` (default): the standard Robertson/Lucene idf
  *     `ln(1 + (N - df + 0.5) / (df + 0.5))` — what a production ranker
  *     wants; spec-verified against a Scala-computed oracle.
  *   - `false`: the RATIONAL idf core `(N - df + 0.5) / (df + 0.5)`
  *     without the log. This exists because the cross-engine correctness
  *     gate compares doubles bit-exactly and JVM `Math.log` and glibc
  *     `log` disagree in the last ulp (measured in this repo: hashed
  *     outputs over the full idf domain differ, while DuckDB and CPython
  *     — both glibc — agree bit-for-bit). Every other operation in the
  *     score (+, -, *, /) is IEEE-deterministic given identical operand
  *     order, which the oracle SQL mirrors parenthesis-for-parenthesis.
  *     Per-term ranking order is identical to the log variant (ln is
  *     monotone); only cross-term mixing differs.
  */
object Relevance {

  /** One row per document containing at least one query term:
    * `(idCol, n_matched, score)` — `n_matched` counts distinct query
    * terms present, `score` sums the per-term BM25 contributions in
    * query-term order (fixed order: bit-reproducible runs).
    */
  /** Per-(doc, term) postings for QUERY TERMS ONLY — the isin filter
    * runs narrow, before anything shuffles, so the aggregation shuffle
    * carries |Q| terms' postings rather than the corpus token stream;
    * dl rides along (constant per doc) so no second tokenize pass or dl
    * join is needed. Package-visible so the plan spec can assert the
    * filter-below-shuffle shape (the checkpoint barrier in [[bm25]]
    * hides this stage from the final plan).
    */
  private[graft] def postings(docs: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String]): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    docs
      .select(col(idCol), size(toks).as("__dl"),
        explode(toks).as("__term"))
      .filter(col("__term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("__term"))
      .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl"))
  }

  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      logIdf: Boolean = true): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    require(queryTerms.distinct == queryTerms, "query terms must be distinct")
    val toks = TextFunctions.tokens(col(textCol))

    // corpus statistic: one partial-aggregated job, one broadcast row
    val stats = docs
      .select(size(toks).as("__dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        (sum(col("__dl")).cast("double") /
          count(lit(1)).cast("double")).as("avgdl"))

    val postings = Relevance.postings(docs, idCol, textCol, queryTerms)

    // per-doc pivot: tf per query term (null = absent) + dl. Materialized
    // (localCheckpoint) because TWO consumers read it — the final score
    // row set and the df aggregate below; without the barrier each
    // consumer would re-run the corpus explode (measured as a doubled
    // shuffle count in RelevanceSpec's plan test)
    val perDoc = postings.groupBy(col(idCol))
      .agg(max(col("__dl")).as("__dl"),
        queryTerms.zipWithIndex.map { case (t, i) =>
          max(when(col("__term") === t, col("__tf"))).as(s"tf_$i")
        }: _*)
      .localCheckpoint()

    // document frequency per query term, derived from the pivot itself:
    // df_i = docs where tf_i is non-null — one tiny agg over matching
    // docs, no second pass over the token stream
    val dfCols = queryTerms.indices.map { i =>
      count(col(s"tf_$i")).cast("double").as(s"df_$i")
    }
    val dfRow = perDoc.agg(dfCols.head, dfCols.tail: _*)

    val joined = perDoc
      .crossJoin(broadcast(dfRow))
      .crossJoin(broadcast(stats))

    def idf(i: Int): Column = {
      val rational = (col("n_docs") - col(s"df_$i") + lit(0.5)) /
        (col(s"df_$i") + lit(0.5))
      if (logIdf) log(lit(1.0) + rational) else rational
    }
    // parenthesization mirrored exactly by the oracle SQL — do not
    // "simplify" (1 - b) or (k1 + 1) into computed forms on one side only
    def termScore(i: Int): Column = when(col(s"tf_$i").isNull, lit(0.0))
      .otherwise(idf(i) * ((col(s"tf_$i").cast("double") * lit(k1 + 1.0)) /
        (col(s"tf_$i").cast("double") +
          lit(k1) * (lit(1.0 - b) + lit(b) * (col("__dl").cast("double") / col("avgdl"))))))
    val score = queryTerms.indices.map(termScore)
      .reduceLeft[Column](_ + _)
    val nMatched = queryTerms.indices
      .map(i => when(col(s"tf_$i").isNull, lit(0L)).otherwise(lit(1L)))
      .reduceLeft[Column](_ + _)

    joined.select(col(idCol), nMatched.as("n_matched"), score.as("score"))
  }

  /** Distributed top-k extraction with rank assignment: `(idCol, rnk)`
    * for the k best rows by `scoreCol` desc (ties broken by `idCol`
    * asc). `orderBy(...).limit(k)` plans as `TakeOrderedAndProject` —
    * per-partition partial top-k merged on one reducer, so the
    * whole-corpus scoring NEVER funnels through a single-partition
    * window exchange (the classic `row_number().over(Window.orderBy)`
    * anti-pattern this replaces). The rank window then runs over at
    * most k rows — the bounded case [[rrf]]'s scaladoc blesses.
    */
  def topKRanked(scored: DataFrame, scoreCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "topKRanked needs k > 0")
    require(k <= Driver.MaxRows, s"topKRanked needs k <= ${Driver.MaxRows}")
    val order = Seq(col(scoreCol).desc, col(idCol).asc)
    // the k winners come back from the distributed TakeOrdered in rank
    // order — assign `rnk` DRIVER-SIDE over that bounded collect (≤ k
    // narrow rows) instead of running a single-partition WindowExec
    // (bounded here, but an unpartitioned-window shape that logs the
    // 100 TB funnel warning on every execution)
    val spark = scored.sparkSession
    val rows = Driver.collectBounded(scored.orderBy(order: _*).limit(k)
      .select(col(idCol)), Driver.MaxRows, "topKRanked winners")
    val ranked = rows.toSeq.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.get(0), i + 1)
    }
    val idField = scored.select(col(idCol)).schema.fields.head
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(ranked.asJava, StructType(Seq(idField,
      StructField("rnk", IntegerType, nullable = false))))
  }

  /** Reciprocal-rank fusion of N top-k rankings (the standard hybrid
    * lexical+vector search combiner): each list contributes
    * `1/(k + rank)` for the ids it contains, 0 for the ones it misses;
    * lists are summed in argument order (fixed — the two-or-three-term
    * double sum is order-pinned, so the score is bit-reproducible and
    * engine-comparable, unlike an aggregated SUM).
    *
    * Inputs are (idCol, rankCol) frames — TOP-K LISTS, i.e. bounded
    * (≤ Σkᵢ rows reach the fusion); never feed a whole-corpus ranking
    * through this. The operator is EAGER, not lazy: the call itself runs
    * the joins and collects the fused list to assign `fused_rank` on the
    * driver, and fails loudly if that list exceeds `Driver.MaxRows`.
    */
  def rrf(rankings: Seq[DataFrame], idCol: String, rankCol: String,
      k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrf needs at least one ranking")
    val renamed = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol), col(rankCol).cast("long").as(s"__r_$i"))
    }
    val joined = renamed.reduceLeft((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val terms = rankings.indices.map { i =>
      when(col(s"__r_$i").isNull, lit(0.0))
        .otherwise(lit(1.0) / (lit(k.toDouble) + col(s"__r_$i").cast("double")))
    }
    val nLists = rankings.indices
      .map(i => when(col(s"__r_$i").isNull, lit(0L)).otherwise(lit(1L)))
      .reduceLeft[Column](_ + _)
    // ranks assign on the driver, so no unpartitioned window is planned
    val fused = joined
      .withColumn("rrf_score", terms.reduceLeft[Column](_ + _))
      .withColumn("n_lists", nLists)
      .select(col(idCol), col("n_lists"), col("rrf_score"))
    val spark = fused.sparkSession
    val rows = Driver.collectBounded(
      fused.orderBy(col("rrf_score").desc, col(idCol).asc), Driver.MaxRows, "rrf fused list")
    val out = rows.toSeq.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), (i + 1).toLong)
    }
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.asJava, StructType(fused.schema.fields :+
      StructField("fused_rank", LongType, nullable = false)))
  }
}
