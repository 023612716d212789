package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.HashExpressions

/** Distributed byte-pair-encoding merge induction — the tokenizer-TRAINING
  * algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units"), the step [[graft.pipeline.CorpusPipeline
  * .vocabulary]] stops short of: vocabulary ranks whole tokens; BPE learns
  * the subword units a real tokenizer ships.
  *
  * Scale shape — the whole point of doing this in Spark:
  *   - the corpus is touched ONCE, to build the word-frequency dictionary
  *     (the classic BPE trick: identical words share one symbol sequence
  *     weighted by frequency). At 100 TB the dictionary is the DISTINCT
  *     vocabulary — orders of magnitude smaller, and the only thing the
  *     iterations ever see;
  *   - each merge round is one small aggregation over the dictionary
  *     (explode adjacent pairs → sum weights → TakeOrdered 1) plus a
  *     map-only rewrite with the codegen'd [[graft.expressions
  *     .HashExpressions.pairMerge]] kernel — no corpus rescan, ever;
  *   - the winning pair is a 1-row driver collect (bounded by
  *     construction); the dictionary localCheckpoints each round so
  *     lineage stays flat across iterations.
  *
  * Determinism: pair counts are exact integers; ties break
  * lexicographically on (left, right), so the learned merge table is
  * identical across runs, partitionings, and engines. Pair counting
  * follows Sennrich: every adjacent position counts ("aaa" contributes
  * (a,a) twice), while application is greedy left-to-right
  * non-overlapping ("aaa" → ["aa","a"]).
  */
object Bpe {

  /** Learn up to `numMerges` merges from the corpus; returns
    * `(rank, merge_left, merge_right, pair_count)` ordered by rank.
    * Stops early if no adjacent pair remains.
    *
    * Hybrid execution (the [[graft.dedup.Components]] pattern): when the
    * dictionary holds at most `driverMaxWords` distinct words it collects
    * once and the merge loop runs on the driver — bit-identical results
    * (BpeSpec proves both paths against the same reference), none of the
    * per-round job overhead. Above the threshold every round stays
    * distributed: one small dictionary aggregation + a 1-row collect +
    * a map-only rewrite, with localCheckpoint keeping lineage flat.
    *
    * Prefer the driver path aggressively: a 32k-merge vocabulary run on
    * the distributed path is 32k SEQUENTIAL small Spark jobs (per-round
    * scheduling dominates), while the driver loop is in-memory over the
    * dictionary. The default threshold (2^20 distinct words — on the
    * order of a few hundred MB as split-symbol vectors, trivial against
    * a multi-GB driver) comfortably covers real natural-language
    * vocabularies, which level off around a few million distinct words
    * even at 100-TB corpus scale; the distributed path remains the
    * correctness backstop for adversarial/synthetic vocabularies, not
    * the expected production route. Exact batching of distributed
    * rounds is NOT possible without changing results: a merge can
    * create new pairs that outrank the next already-counted pair, so
    * rounds are inherently sequential.
    *
    * The distributed rounds maintain the pair-count store
    * INCREMENTALLY (the standard trainer optimization): merging (l, r)
    * only changes pair counts of words that actually CONTAIN the
    * adjacent pair, so each round re-counts just those words' pairs
    * (old counts out, post-merge counts in) and folds the delta into
    * the persisted (l, r, cnt) store — the per-round shuffle is
    * O(affected words), not O(dictionary). The dictionary itself is
    * NEVER rewritten: the initial char-split dictionary checkpoints
    * once as `dict0`, and only the current symbolization of words some
    * merge has actually rewritten lives in a `touched` overlay
    * (rewritten rows swap in, untouched rows never materialize again).
    * Finding the affected words needs no full-dict pass either, except
    * a map-only filter scan for SINGLE-char pairs: a word no merge has
    * touched still has all-single-char symbols, so a pair with a
    * multi-char side can only match inside `touched`. Per-merge
    * materialization is O(|touched| + |affected|); the argmax is a
    * TakeOrdered-1 over the store. BpeSpec asserts both the shuffle
    * and the materialization bounds with Spark metrics.
    */
  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int,
      driverMaxWords: Long = 1L << 20): DataFrame =
    learnMergesInstrumented(docs, textCol, numMerges, driverMaxWords, None)

  /** [[learnMerges]] with test instrumentation for the distributed path
    * (BpeSpec's materialization-bound assertion): each merge round
    * appends `(affectedRows, touchedOverlayRows)` — the only row sets
    * the round materializes — to the caller-owned `metricsSink`. An
    * explicit sink (not object-level state) so concurrent trainings
    * can't interleave or clear each other's metrics; None skips the two
    * extra count jobs per round.
    */
  private[graft] def learnMergesInstrumented(docs: DataFrame,
      textCol: String, numMerges: Int, driverMaxWords: Long,
      metricsSink: Option[scala.collection.mutable.ArrayBuffer[(Long, Long)]])
      : DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    val spark = docs.sparkSession
    import spark.implicits._

    // the one corpus pass: word-frequency dictionary, words as char arrays
    val dict = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))
      .localCheckpoint()

    val merges =
      if (dict.count() <= driverMaxWords) {
        // bounded driver path: one collect, the loop is pure Scala
        learnOnDriver(
          dict.as[(Seq[String], Long)].collect().map {
            case (s, f) => (s.toVector, f) }.toSeq,
          numMerges)
      } else {
        val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
        // the one full-dictionary aggregation; every later round folds
        // an O(affected-words) delta into this store
        var pairCounts = adjacentPairCounts(dict).localCheckpoint()
        // dict0 checkpoints ONCE (keyed by the reconstructed word — the
        // initial syms are the char split, so concat_ws restores it) and
        // is never rewritten; `touched` overlays the current
        // symbolization of every word some merge has rewritten
        val dict0 = dict
          .select(concat_ws("", col("syms")).as("w"), col("syms"), col("freq"))
          .localCheckpoint()
        var touched = dict0.limit(0)
        metricsSink.foreach(_.clear())
        var rank = 1
        var exhausted = false
        while (rank <= numMerges && !exhausted) {
          val top = pairCounts
            .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
            .limit(1).collect()
          if (top.isEmpty) exhausted = true
          else {
            val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
            acc += ((rank.toLong, l, r, c))
            // only words whose CURRENT syms contain adjacent (l, r)
            // change any pair count. Multi-char pairs can only live in
            // `touched` (an untouched word still has single-char syms);
            // single-char pairs additionally probe dict0 minus the
            // already-overlaid words — a map-only filter scan, with the
            // anti-join's build side just the touched KEYS
            val touchedAff = touched.filter(hasAdjacentPair(col("syms"), l, r))
            val baseAff =
              if (l.length == 1 && r.length == 1)
                dict0.filter(hasAdjacentPair(col("syms"), l, r))
                  .join(touched.select(col("w")), Seq("w"), "left_anti")
              else dict0.limit(0)
            val affected = touchedAff.unionByName(baseAff)
              .localCheckpoint() // feeds old/new count branches + overlay
            val mergedAffected = affected
              .select(col("w"),
                HashExpressions.pairMerge(col("syms"), l, r).as("syms"),
                col("freq"))
            val delta = adjacentPairCounts(mergedAffected)
              .unionByName(adjacentPairCounts(affected)
                .select(col("l"), col("r"), (-col("cnt")).as("cnt")))
            pairCounts = pairCounts.unionByName(delta)
              .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("cnt"))
              .filter(col("cnt") > 0)
              .localCheckpoint()
            // overlay update: rewritten rows swap in; rows of OTHER
            // touched words pass through; dict0 never materializes
            touched = touched.filter(!hasAdjacentPair(col("syms"), l, r))
              .unionByName(mergedAffected)
              .localCheckpoint()
            metricsSink.foreach(_ += ((affected.count(), touched.count())))
            rank += 1
          }
        }
        acc.toSeq
      }
    merges.toDF("rank", "merge_left", "merge_right", "pair_count")
  }

  /** Weighted adjacent-pair counts of a (syms, freq) dictionary:
    * `(l, r, cnt)` — every adjacent position counts (Sennrich).
    */
  private def adjacentPairCounts(dict: DataFrame): DataFrame =
    dict.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(arrays_zip(
        slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
        slice(col("syms"), lit(2), size(col("syms")) - 1).as("r"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  /** True when `syms` contains `l` immediately followed by `r`. */
  private def hasAdjacentPair(syms: Column, l: String, r: String): Column =
    exists(zip_with(
      slice(syms, lit(1), size(syms) - 1), slice(syms, lit(2), size(syms) - 1),
      (a, b) => a === lit(l) && b === lit(r)), x => x)

  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The merge loop on a driver-local dictionary — the exact algorithm
    * the distributed rounds implement (every adjacent position counts;
    * ties in UTF-8 binary order like Spark's orderBy; greedy
    * left-to-right application).
    */
  private def learnOnDriver(words: Seq[(Vector[String], Long)],
      numMerges: Int): Seq[(Long, String, String, Long)] = {
    def mergeOne(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    var dict = words
    val acc = Seq.newBuilder[(Long, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, f) <- dict; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.isEmpty) exhausted = true
      else {
        // ties break in UTF-8 BINARY order — what Spark's string orderBy
        // compares — NOT Scala's UTF-16 code-unit order; the two disagree
        // for non-BMP vs private-use-area symbols, and the driver path
        // must pick the exact merge the distributed rounds would
        val ((l, r), c) = counts.toSeq.reduceLeft { (x, y) =>
          val cmp =
            if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
            else {
              val lc = utf8Compare(x._1._1, y._1._1)
              if (lc != 0) lc else utf8Compare(x._1._2, y._1._2)
            }
          if (cmp <= 0) x else y
        }
        acc += ((rank.toLong, l, r, c))
        dict = dict.map { case (s, f) => (mergeOne(s, l, r), f) }
        rank += 1
      }
    }
    acc.result()
  }

  /** Tokenize a word column into BPE pieces by replaying `merges` in rank
    * order — a chain of codegen'd pairMerge kernels over the char split,
    * map-only. Apply to the DISTINCT-word dictionary and broadcast-join
    * back to the corpus (the scalable shape); never per-occurrence.
    */
  def pieces(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(split(word, "")) { case (acc, (l, r)) =>
      HashExpressions.pairMerge(acc, l, r)
    }

  /** Per-doc BPE compression stats under a learned merge table:
    * `(idCol, n_tokens, n_pieces)` — pieces are computed once per
    * DISTINCT word and broadcast back, so the corpus-side plan is
    * explode + broadcast-join + rollup regardless of merge count.
    */
  def compressionStats(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
      .select(col("w"), size(pieces(col("w"), merges)).cast("long").as("__np"))
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(words), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__np")).as("n_pieces"))
  }
}
