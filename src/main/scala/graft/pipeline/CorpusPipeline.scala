package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Driver
import graft.dedup.MinHashDedup
import graft.functions.TextFunctions

/** Composed training-data curation pipeline over a `documents`-shaped
  * table (doc_id, text, lang, ...): the end-to-end flow a 100 TB corpus
  * build runs, assembled from the engine's primitives.
  *
  *   annotate  → language ID, token stats, quality score   (narrow, codegen)
  *   filter    → language whitelist + quality threshold    (narrow)
  *   exactDedup→ drop exact duplicates by content hash     (1 shuffle on hash)
  *   nearDedup → drop MinHash-LSH near-duplicate losers    (LSH shuffles on
  *                (band, hash, id); text never shuffles)
  *
  * Each stage is also usable alone; `run` chains them and reports
  * per-stage retention. Losers are dropped deterministically (keep the
  * smallest doc_id of each duplicate cluster) so re-runs reproduce.
  */
object CorpusPipeline {

  /** `benchmarks`: optional eval table for the decontamination gate
    * (docs sharing >= `decontamMinHits` distinct `decontamNgram`-grams
    * with it are dropped). `maxDupNgramFrac`/`maxTopNgramFrac` gate the
    * Gopher-style repetition signals; 1.0 = gate off (every fraction
    * is <= 1).
    */
  /** `mixTargetFrac`: when set, a final temperature-reweighted source
    * mixing stage downsamples the curated corpus (see
    * [[temperatureSample]]; `mixStrataCol`/`mixAlpha` parameterize it).
    */
  case class Config(
      langs: Seq[String] = Seq("en"),
      minQuality: Double = 0.0,
      minTokens: Int = 5,
      nearDupThreshold: Double = 0.8,
      maxDupNgramFrac: Double = 1.0,
      maxTopNgramFrac: Double = 1.0,
      benchmarks: Option[DataFrame] = None,
      decontamNgram: Int = 8,
      decontamMinHits: Int = 1,
      mixTargetFrac: Option[Double] = None,
      mixAlpha: Double = 0.5,
      mixStrataCol: String = "source")

  /** Stage 1: cheap per-doc annotations — one narrow pass, tokenizing
    * once (each inline `tokens(...)` would be its own split pass).
    */
  def annotate(docs: DataFrame): DataFrame =
    docs
      .withColumn("__toks", TextFunctions.tokens(col("text")))
      .withColumn("pred_lang", TextFunctions.langId(col("__toks")))
      .withColumn("n_tokens", size(col("__toks")))
      .withColumn("quality", TextFunctions.qualityScoreFromTokens(col("__toks")))
      .drop("__toks")

  /** Repetition/boilerplate annotations (Gopher-style quality signals,
    * all narrow codegen'd array folds — no shuffle): fraction of 2-gram
    * occurrences that are duplicates, fraction taken by the top 2-gram,
    * and fraction taken by the top single token.
    *
    * Everything runs in HASH space: tokens hash to longs once, 2-gram
    * identities are `xxhash64(h_i, h_i+1)` built by `zip_with` against
    * the shifted array (no gram strings are ever materialized), and the
    * sort+run-length folds compare longs — measured several times faster
    * than the string formulation at sf0.1, identical fractions up to a
    * ~2^-64 in-doc hash collision.
    */
  def annotateRepetition(docs: DataFrame): DataFrame = {
    // reject both scratch names AND the output names: withColumn would
    // silently overwrite a pre-existing dup_2gram_frac etc., and
    // repetitionFilter then drops it — user data lost without an error
    val reserved = Seq("__toksh", "__g2h",
      "dup_2gram_frac", "top_2gram_frac", "top_token_frac")
    val clash = docs.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"annotateRepetition reserves columns ${clash.mkString(", ")}")
    docs
      .withColumn("__toksh", TextFunctions.tokenHashes(TextFunctions.tokens(col("text"))))
      .withColumn("__g2h", TextFunctions.ngramHashes(col("__toksh"), 2))
      .withColumn("dup_2gram_frac", TextFunctions.dupFraction(col("__g2h")))
      .withColumn("top_2gram_frac", TextFunctions.topElementFraction(col("__g2h")))
      .withColumn("top_token_frac", TextFunctions.topElementFraction(col("__toksh")))
      .drop("__toksh", "__g2h")
  }

  /** Stage 2: language + quality gate (narrow filter; at scale this is
    * where most volume drops, before anything shuffles).
    */
  def qualityFilter(annotated: DataFrame, cfg: Config): DataFrame =
    annotated.filter(
      col("pred_lang").isin(cfg.langs: _*) &&
        col("quality") >= cfg.minQuality &&
        col("n_tokens") >= cfg.minTokens)

  /** Stage 2b (optional): boilerplate gate on the repetition signals.
    * Thresholds of 1.0 disable their clause (cheap no-op: the columns
    * aren't even computed when both gates are off).
    */
  def repetitionFilter(docs: DataFrame, cfg: Config): DataFrame =
    if (cfg.maxDupNgramFrac >= 1.0 && cfg.maxTopNgramFrac >= 1.0) docs
    else annotateRepetition(docs)
      .filter(col("dup_2gram_frac") <= cfg.maxDupNgramFrac &&
        col("top_2gram_frac") <= cfg.maxTopNgramFrac)
      .drop("dup_2gram_frac", "top_2gram_frac", "top_token_frac")

  /** Stage 3: exact dedup — keep the smallest doc_id per identical text
    * (hash-groupBy; shuffles (hash, id), not text).
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    val winners = docs
      .select(col("doc_id"), xxhash64(col("text")).as("__th"))
      .groupBy("__th").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    docs.join(winners, Seq("doc_id"), "left_semi")
  }

  /** Stage 4: near dedup — MinHash-LSH pairs above threshold. Pairwise
    * mode (default) drops the larger doc_id of each pair in one shot;
    * `transitive = true` runs connected components over the pair graph
    * first, so a~b, b~c collapses {a,b,c} to one survivor (single-link
    * clustering, a few extra label-propagation rounds).
    */
  def nearDedup(docs: DataFrame, threshold: Double,
      transitive: Boolean = false): DataFrame = {
    val pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text", threshold)
    if (transitive) {
      graft.dedup.Components.dropDuplicateClusters(docs, pairs, "doc_id")
    } else {
      val losers = pairs
        .select(greatest(col("id_a"), col("id_b")).as("doc_id"))
        .distinct()
      docs.join(losers, Seq("doc_id"), "left_anti")
    }
  }

  /** Token-budget capping — the data-mixing step of a corpus build: per
    * `groupCol` (language, source, domain...), keep docs in `orderCols`
    * order while the RUNNING token total stays within `budget`; the doc
    * that would cross the budget (and everything after it) is dropped.
    *
    * The cumsum runs on [[graft.operators.Prefix.groupedCumsum]] — the
    * distributed two-phase prefix sum — rather than a window, so one
    * giant group (a whole dataset/source at 100 TB) never serializes
    * into a single task. Ties in `orderCols` must be pinned (include a
    * unique id) or the kept set is nondeterministic.
    */
  def tokenBudget(annotated: DataFrame, groupCol: String, tokenCol: String,
      budget: Long, orderCols: Seq[Column]): DataFrame = {
    require(!annotated.columns.contains("__cum"), "tokenBudget reserves __cum")
    graft.operators.Prefix.groupedCumsum(
        annotated, groupCol, tokenCol, orderCols, "__cum")
      .filter(col("__cum") <= budget)
      .drop("__cum")
  }

  /** Sequence packing — the concatenate-and-chunk step between a curated
    * corpus and a training run: documents are (conceptually) concatenated
    * per `groupCol` in `orderCols` order and cut into fixed
    * `seqLen`-token training sequences. Each doc gets the `seq_id` of the
    * sequence where it STARTS and its `seq_offset` within it (a doc
    * straddling a boundary spills into the next sequence; the offset
    * lets the consumer split or pad — policy stays downstream).
    *
    * The cumsum runs on the distributed
    * [[graft.operators.Prefix.groupedCumsum]], exactly like
    * [[tokenBudget]] — a whole-source group parallelizes instead of
    * serializing into one window task. All arithmetic is integer
    * (cumsum, mod) plus one exact sub-2^53 floor-division, so any
    * engine reproduces the identical packing — same determinism
    * contract as [[datasetSplit]]. Ties in `orderCols` must be pinned
    * with a unique id.
    */
  def packSequences(annotated: DataFrame, groupCol: String, tokenCol: String,
      seqLen: Long, orderCols: Seq[Column]): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    require(!annotated.columns.contains("__cum"), "packSequences reserves __cum")
    graft.operators.Prefix.groupedCumsum(
        annotated, groupCol, tokenCol, orderCols, "__cum")
      .withColumn("seq_id",
        floor((col("__cum") - col(tokenCol)).cast("double") / seqLen))
      .withColumn("seq_offset", (col("__cum") - col(tokenCol)) % seqLen)
      .drop("__cum")
  }

  /** Corpus-frequency familiarity score (a CCNet-style quality signal
    * without a pretrained LM): mean corpus frequency of a doc's tokens,
    * `sum(freq(tok)) / (n_tokens * total_tokens)`. Low = rare/garbled
    * vocabulary, high = stopword-ish boilerplate; both tails are filter
    * candidates.
    *
    * Deliberately NOT a mean of per-token log-probs: summing doubles is
    * addition-order-dependent and `ln` differs in the last ulp across
    * engines, while this formulation is one exact LONG sum per doc and a
    * single double division — bit-identical everywhere (the determinism
    * ground rule behind every oracle query).
    *
    * Scale: token counting shuffles (token, 1) pairs with map-side
    * combine (per-partition state ~= vocab size); the vocabulary is
    * capped to `topK` by frequency (bounded driver/broadcast state, like
    * the IVF quantizer) and broadcast for the per-doc join — tokens
    * outside the cap contribute frequency 0.
    */
  def familiarityScore(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 100000): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("__tok"))
    // one materialized frequency pass: the cap, the total and the probe
    // join all read it — without the checkpoint each would re-run the
    // token-count aggregation (vocab-sized output, cheap to pin)
    val freqs = toks.groupBy("__tok").agg(count(lit(1)).as("__freq"))
      .localCheckpoint()
    // topK <= 0 = no cap (the registered q55 path: its oracle computes
    // the full vocabulary, so the demo must too)
    val capped =
      if (topK <= 0) freqs
      else freqs.orderBy(col("__freq").desc, col("__tok").asc).limit(topK)
    val total = freqs.agg(sum("__freq").cast("double").as("__total"))
    toks.join(broadcast(capped), Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("__freq"), lit(0L))).as("sum_freq"),
        count(lit(1)).as("n_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("familiarity",
        col("sum_freq").cast("double") /
          (col("n_tokens").cast("double") * col("__total")))
      .drop("__total")
  }

  /** Deterministic train/val/test split, reproducible in ANY engine: the
    * split key is `md5(cast(id as string))` compared lexicographically
    * against fixed hex thresholds — no RNG, no partition-order
    * dependence, and the same row lands in the same split everywhere
    * (the property a training pipeline needs so no example ever leaks
    * from test into train across re-runs or engines). Adds a `split`
    * column ('val' | 'test' | 'train').
    */
  def datasetSplit(docs: DataFrame, idCol: String,
      valFrac: Double = 0.1, testFrac: Double = 0.1): DataFrame = {
    require(valFrac >= 0 && testFrac >= 0 && valFrac + testFrac < 1,
      "fractions must be nonnegative and sum below 1")
    val key = md5(col(idCol).cast("string"))
    docs.withColumn("split",
      when(key < lit(hexThreshold(valFrac)), "val")
        .when(key < lit(hexThreshold(valFrac + testFrac)), "test")
        .otherwise("train"))
  }

  /** The 32-hex-char string below which a uniform md5 falls with
    * probability `frac` (12 hex digits of precision, zero-padded).
    * Public: external SQL (e.g. an oracle or another engine) reproduces
    * the split by comparing against these exact thresholds. Only valid
    * for frac < 1 (at 1.0 the 13-hex-digit carry would compare BELOW
    * every md5) — callers treat >= 1 as keep-all.
    */
  def hexThreshold(frac: Double): String = {
    require(frac < 1.0, "hexThreshold is only defined for frac < 1 (>= 1 means keep-all)")
    f"${(frac * math.pow(16, 12)).toLong}%012x" + "0" * 20
  }

  /** Deterministic per-stratum downsampling — the data-mixing companion
    * of [[datasetSplit]]: keep a row iff `md5(id)` falls below its
    * stratum's threshold. Engine-independent and RNG-free, unlike
    * `df.stat.sampleBy` (partition-order-dependent RNG), so re-runs and
    * other engines keep EXACTLY the same rows; thresholds nest, so
    * sampling a stratum at 0.25 yields a subset of sampling it at 0.5
    * (stable corpus shrink/grow across mixing experiments). Strata
    * absent from `fractions` are dropped; a fraction >= 1 keeps the
    * stratum whole.
    */
  def stratifiedSample(docs: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(_ >= 0), "fractions must be nonnegative")
    val key = md5(col(idCol).cast("string"))
    val cond = fractions.map { case (stratum, f) =>
      if (f >= 1.0) col(strataCol) === stratum
      else col(strataCol) === stratum && key < lit(hexThreshold(f))
    }.reduce(_ || _)
    docs.filter(cond)
  }

  /** Temperature-reweighted source mixing: downsample each stratum at
    * `rate_s = targetFrac * (n_max / n_s)^(1-alpha)` capped at 1 — the
    * relative-to-largest temperature formulation (alpha = 1 keeps natural
    * proportions, alpha → 0 equalizes sources toward the largest one's
    * rate). Rates feed [[stratifiedSample]], so the sample inherits its
    * determinism and nesting contracts.
    *
    * Two determinism choices, deliberate: (1) the relative-to-largest
    * form needs NO cross-source float summation — a Σ n_s^alpha
    * normalizer would make every rate depend on a summation order no
    * engine guarantees, while n_max is exact integer aggregation;
    * (2) alpha = 0.5 computes via `sqrt` (IEEE-correctly-rounded in
    * every engine — the oracle reproduces rates bit-exactly), other
    * alphas via `pow`, whose last-ulp behavior is libm-specific (fine
    * for the sample itself — thresholds serialize into the plan — but
    * an external oracle may disagree on boundary docs; same reasoning
    * as the BM25 rational-idf note).
    *
    * Per-source counts collect to the driver — bounded state, one row
    * per source (the mixture table of a real corpus is dozens of rows).
    */
  def temperatureSample(docs: DataFrame, strataCol: String, idCol: String,
      targetFrac: Double, alpha: Double = 0.5): DataFrame = {
    require(targetFrac > 0, "targetFrac must be positive")
    require(alpha >= 0 && alpha <= 1, "alpha must be in [0, 1]")
    val counts = docs.groupBy(col(strataCol))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "no strata found")
    val nMax = counts.values.max
    val rates = counts.map { case (s, n) =>
      val q = nMax.toDouble / n.toDouble
      val scaled =
        if (alpha == 0.5) math.sqrt(q)
        else math.pow(q, 1.0 - alpha)
      s -> (targetFrac * scaled)
    }
    stratifiedSample(docs, strataCol, idCol, rates)
  }

  /** Top-K corpus vocabulary with rank and cumulative coverage — the
    * tokenizer-induction precursor (what fraction of the token stream a
    * K-entry vocab explains, and where the long tail starts). Ties break
    * lexicographically so the vocab is deterministic across runs and
    * engines. The top-K itself is a distributed TakeOrdered (never a
    * global sort); only the K winners enter the single-partition window
    * that ranks them and accumulates coverage. The token total comes
    * from a separate NARROW pass (sum of per-doc token counts — no
    * explode, no second vocabulary aggregation).
    */
  def vocabulary(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    require(topK <= Driver.MaxRows, s"topK must be at most ${Driver.MaxRows}")
    val top = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topK)
    val total = docs.agg(
      sum(size(TextFunctions.tokens(col(textCol)))).cast("double").as("__total"))
    // Rank + running coverage over the K winners assign DRIVER-SIDE
    // (one bounded collect of ≤ topK rows + the 1-row total): the
    // previous single-partition window was safe (bounded input) but
    // still an unpartitioned WindowExec — a warning-logging shape whose
    // only legitimate instances were these top-K rankers. The top-K
    // extraction itself stays the distributed TakeOrdered; arithmetic
    // replays the window exactly (LONG running sum, then one double
    // division per row).
    val spark = docs.sparkSession
    // ordered: TakeOrdered output
    val winners = Driver.collectBounded(top, Driver.MaxRows, "vocabulary top-K")
    val totalTok = total.collect().head.getAs[java.lang.Double](0)
    var cum = 0L
    val ranked = winners.toSeq.zipWithIndex.map { case (r, i) =>
      val f = r.getLong(1)
      cum += f
      org.apache.spark.sql.Row(r.getString(0), (i + 1).toLong, f,
        cum.toDouble / totalTok)
    }
    // schema spelled out so types AND nullability match the window
    // formulation this replaces bit for bit
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(ranked.asJava,
      StructType(Seq(
        StructField("token", StringType, nullable = false),
        StructField("rank", LongType, nullable = false),
        StructField("freq", LongType, nullable = false),
        StructField("coverage", DoubleType, nullable = true))))
  }

  /** Top-k keywords per document by TF-IDF — the standard keyword /
    * topic-signal extractor of a curation stack (subset selection by
    * topic, near-dup explanation, index fields for the hybrid-search
    * path).
    *
    * The idf is the RATIONAL BM25 core `(N - df + 0.5) / (df + 0.5)`
    * (no log — same reasoning as [[graft.functions.Relevance.bm25]]'s
    * `logIdf=false`: JVM and glibc `log` disagree in the last ulp, and
    * the rational form ranks identically per term while every operand
    * here derives from exact integers, so the DuckDB oracle hash-matches
    * bit-for-bit with mirrored parenthesization).
    *
    * Scale shape: the (doc, term) tf aggregation shuffles once on its
    * own key and is checkpointed (TWO consumers — the df aggregate and
    * the score join — would otherwise re-run the corpus explode, the
    * bm25 lesson); df joins back on the term key; the per-doc top-k is
    * a partitioned rank that compiles to WindowGroupLimit (rank
    * pushdown), never a global window.
    */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("__n"))
    val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") *
        ((col("__n") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("score"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Deterministic k-per-group sample — the reservoir-sampling
    * equivalent for engines: rank rows inside each group by the md5 of
    * their id and keep the first k. Uniform (md5 scrambles ids), exactly
    * k per group (fewer only when the group is smaller), stable across
    * runs/engines/partitionings (pure function of the data — DuckDB
    * reproduces the identical sample, which no `rand()` reservoir can),
    * and one partitioned rank that compiles to WindowGroupLimit. The
    * md5-order trick is the same determinism device as
    * [[datasetSplit]]'s threshold sampling, ranked instead of
    * thresholded so group sizes are EXACT rather than expected.
    */
  def hashSamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .withColumn("rnk", col("rnk").cast("long"))
  }

  /** Per-doc out-of-vocabulary rate against the corpus top-K vocabulary
    * (the tokenizer-fit metric behind [[vocabulary]]: how much of each
    * doc a K-entry vocab fails to cover). The K-token vocab broadcasts;
    * the per-doc rollup is the only shuffle. `oov_frac` is one exact
    * long-over-long division — engine-reproducible like every fraction
    * in this file.
    */
  def oovStats(docs: DataFrame, idCol: String, textCol: String,
      topK: Int): DataFrame = {
    val vocab = vocabulary(docs, textCol, topK)
      .select(col("token")).withColumn("__in", lit(1))
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, lit(1L)).otherwise(lit(0L))).as("n_oov"))
      .withColumn("oov_frac",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Context-window chunking with overlap — the read-side twin of
    * [[packSequences]]: split each doc into fixed-size token windows
    * (`chunkTokens` wide, starting every `stride` tokens, so consecutive
    * chunks overlap by `chunkTokens - stride`), the standard shape for
    * feeding long documents to a bounded-context model. The final
    * chunk(s) are shorter; every token lands in at least one chunk.
    *
    * Scale: zero shuffles — tokenize, explode the start offsets, slice.
    * A map-only plan regardless of corpus size; output row count is
    * `ceil(n_tokens / stride)` per doc.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(stride > 0 && stride <= chunkTokens,
      "stride must be in [1, chunkTokens] (gaps would drop tokens)")
    docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .select(col(idCol), col("__toks"), col("__n"),
        posexplode(sequence(lit(0), col("__n") - 1, lit(stride)))
          .as(Seq("chunk_idx", "__start")))
      .select(col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(chunkTokens), col("__n") - col("__start"))
          .cast("long").as("n_chunk_tokens"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Stage 5 (optional): eval-set decontamination — drop docs sharing
    * long n-grams with the benchmark table (see
    * [[graft.dedup.Decontaminate]]; corpus side never shuffles — the
    * distinct benchmark gram-hash set is broadcast).
    */
  def decontaminateAgainst(docs: DataFrame, cfg: Config): DataFrame =
    cfg.benchmarks match {
      case Some(bench) => graft.dedup.Decontaminate.decontaminate(
        docs, bench, "doc_id", "text", "text",
        cfg.decontamNgram, cfg.decontamMinHits)
      case None => docs
    }

  case class Report(input: Long, afterFilter: Long, afterExact: Long,
      afterNear: Long, output: DataFrame, afterDecontam: Option[Long] = None,
      afterMix: Option[Long] = None)

  /** Full chain with per-stage retention counts. Intermediate stages are
    * persisted for the duration of the call so the counts run the
    * annotate/filter/dedup work once, not once per count, then released.
    * `Report.output` is returned still cached — the caller writes it out
    * (the normal 100 TB ending) or unpersists it when done.
    */
  def run(docs: DataFrame, cfg: Config = Config()): Report = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val annotated = annotate(docs)
    val filtered = repetitionFilter(qualityFilter(annotated, cfg), cfg)
      .persist(MEMORY_AND_DISK)
    val exact = exactDedup(filtered).persist(MEMORY_AND_DISK)
    val near = nearDedup(exact, cfg.nearDupThreshold).persist(MEMORY_AND_DISK)
    val (decontamed, afterDecontam) = cfg.benchmarks match {
      case Some(_) =>
        val d = decontaminateAgainst(near, cfg).persist(MEMORY_AND_DISK)
        (d, Some(d.count()))
      case None => (near, None)
    }
    val (output, afterMix) = cfg.mixTargetFrac match {
      case Some(f) =>
        val m = temperatureSample(decontamed, cfg.mixStrataCol, "doc_id",
          f, cfg.mixAlpha).persist(MEMORY_AND_DISK)
        (m, Some(m.count()))
      case None => (decontamed, None)
    }
    val report = Report(docs.count(), filtered.count(), exact.count(),
      near.count(), output, afterDecontam, afterMix)
    filtered.unpersist()
    exact.unpersist()
    if (afterDecontam.isDefined || afterMix.isDefined) near.unpersist()
    if (afterMix.isDefined && afterDecontam.isDefined) decontamed.unpersist()
    report
  }
}
