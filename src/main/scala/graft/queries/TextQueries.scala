package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** Text and corpus preparation: tokenization and BPE, language ID and
  * quality signals, curation chains, splits and samples,
  * decontamination, PII redaction, web extraction, relevance scoring
  * and n-gram language models.
  */
private[graft] object TextQueries {

  /** EXACT replay of distributed BPE merge INDUCTION (q75) — the
    * learning loop, not just q76's fixed-merge application: `numMerges`
    * unrolled rounds, each counting every adjacent symbol position of
    * the previous dictionary state (Sennrich counting, weighted by word
    * frequency), taking the argmax with the (cnt DESC, l, r) tie-break
    * (DuckDB's default binary collation = Spark's UTF8 orderBy), and
    * rewriting via the q76 '|sym ' string encoding, whose replace() is
    * precisely pairMerge's greedy non-overlapping left-to-right pass.
    * Counting happens on token LISTS (every position), application on
    * the rendered string (non-overlapping) — the same asymmetry the
    * engine implements.
    */
  private def bpeLearnOracleSql(numMerges: Int): String = {
    val sb = new StringBuilder
    // MATERIALIZED is load-bearing: each d(n) references d(n-1) twice
    // (pair counting + rewrite), so inlined CTEs would expand the plan
    // — and the base-table opens — exponentially in numMerges
    sb ++= """WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents),
      |dict AS (SELECT w, COUNT(*) AS freq FROM tok WHERE len(w) > 0 GROUP BY w),
      |d0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '|\1 ', 'g') AS f, freq FROM dict)""".stripMargin
    for (n <- 1 to numMerges) {
      sb ++= s""",
        |c$n AS (SELECT substr(p.l, 2) AS l, substr(p.r, 2) AS r,
        |  CAST(SUM(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, unnest(list_transform(range(1, len(tl)), i ->
        |          struct_pack(l := tl[i], r := tl[i+1]))) AS p
        |        FROM (SELECT list_filter(string_split(trim(f), ' '),
        |                x -> len(x) > 0) AS tl, freq
        |              FROM d${n - 1}))
        |  GROUP BY 1, 2),
        |m$n AS MATERIALIZED (SELECT l, r, cnt FROM c$n ORDER BY cnt DESC, l, r LIMIT 1),
        |d$n AS MATERIALIZED (SELECT replace(f, '|' || m.l || ' |' || m.r || ' ',
        |    '|' || m.l || m.r || ' ') AS f, freq
        |  FROM d${n - 1}, m$n m)""".stripMargin
    }
    sb ++= "\nSELECT * FROM (\n" + (1 to numMerges).map(n =>
      s"SELECT CAST($n AS BIGINT) AS rank, l AS merge_left, " +
        s"r AS merge_right, cnt AS pair_count FROM m$n")
      .mkString("\nUNION ALL\n") + "\n)"
    sb.toString
  }

  // Token counting + vocabulary stats (whitespace tokenization)
  val q17 = Query("q17_token_stats", (s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        length(col("text")).cast(IntegerType).as("n_chars_actual"),
        ((length(col("text")).cast(DoubleType) - (size(toks) - 1).cast(DoubleType)) /
          size(toks).cast(DoubleType)).as("mean_token_len"))
    },
    """WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
      |  CAST(LENGTH(text) AS INT) AS n_chars_actual,
      |  (CAST(LENGTH(text) AS DOUBLE) - CAST(len(toks) - 1 AS DOUBLE))
      |    / CAST(len(toks) AS DOUBLE) AS mean_token_len
      |FROM t""".stripMargin)

  // Heuristic quality scoring (stopword density / diversity / length);
  // score computed once, bucket derived from the column
  val q18 = Query("q18_quality_score", (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .select(col("doc_id"), col("quality"),
          floor(col("quality") * 10).cast(IntegerType).as("quality_bucket"))
    },
    """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
      |s AS (SELECT doc_id,
      |  (CAST(list_contains(toks,'the') AS INT) + CAST(list_contains(toks,'and') AS INT)
      |   + CAST(list_contains(toks,'of') AS INT) + CAST(list_contains(toks,'to') AS INT)
      |   + CAST(list_contains(toks,'a') AS INT) + CAST(list_contains(toks,'in') AS INT)
      |   + CAST(list_contains(toks,'is') AS INT)) AS hits,
      |  CAST(len(toks) AS DOUBLE) AS n,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) AS nd
      |  FROM t),
      |q AS (SELECT doc_id,
      |  0.3 * LEAST((CAST(hits AS DOUBLE) / 7.0) * 2.0, 1.0)
      |  + 0.4 * (nd / n) + 0.3 * LEAST(n / 100.0, 1.0) AS quality FROM s)
      |SELECT doc_id, quality, CAST(FLOOR(quality * 10) AS INT) AS quality_bucket FROM q""".stripMargin)

  // Stopword-hit language ID vs the labeled lang column (confusion counts)
  val q19 = Query("q19_lang_id", (s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("lang"), TextFunctions.langId(toks).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("cnt"))
    },
    """WITH t AS (SELECT lang, string_split(trim(text), ' ') AS toks FROM documents),
      |s AS (SELECT lang,
      |  (CAST(list_contains(toks,'the') AS INT) + CAST(list_contains(toks,'and') AS INT)
      |   + CAST(list_contains(toks,'of') AS INT) + CAST(list_contains(toks,'to') AS INT)
      |   + CAST(list_contains(toks,'a') AS INT) + CAST(list_contains(toks,'in') AS INT)
      |   + CAST(list_contains(toks,'is') AS INT)) AS s_en,
      |  (CAST(list_contains(toks,'el') AS INT) + CAST(list_contains(toks,'la') AS INT)
      |   + CAST(list_contains(toks,'de') AS INT) + CAST(list_contains(toks,'que') AS INT)
      |   + CAST(list_contains(toks,'y') AS INT) + CAST(list_contains(toks,'en') AS INT)) AS s_es,
      |  (CAST(list_contains(toks,'le') AS INT) + CAST(list_contains(toks,'les') AS INT)
      |   + CAST(list_contains(toks,'des') AS INT) + CAST(list_contains(toks,'et') AS INT)
      |   + CAST(list_contains(toks,'une') AS INT) + CAST(list_contains(toks,'dans') AS INT)) AS s_fr,
      |  (CAST(list_contains(toks,'der') AS INT) + CAST(list_contains(toks,'die') AS INT)
      |   + CAST(list_contains(toks,'und') AS INT) + CAST(list_contains(toks,'das') AS INT)
      |   + CAST(list_contains(toks,'ist') AS INT) + CAST(list_contains(toks,'nicht') AS INT)) AS s_de,
      |  (CAST(list_contains(toks,'的') AS INT) + CAST(list_contains(toks,'了') AS INT)
      |   + CAST(list_contains(toks,'是') AS INT)) AS s_zh
      |  FROM t),
      |p AS (SELECT lang,
      |  CASE WHEN s_en = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'en'
      |       WHEN s_es = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'es'
      |       WHEN s_fr = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'fr'
      |       WHEN s_de = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'de'
      |       ELSE 'zh' END AS predicted FROM s)
      |SELECT lang, predicted, COUNT(*) AS cnt FROM p GROUP BY lang, predicted""".stripMargin)

  // BPE-ish regex tokenization (letter runs / digit runs / single
  // punctuation) — codegen'd regexp_extract_all, oracle-checked
  val q29 = Query("q29_bpe_tokens", (s, dir) => {
      val toks = TextFunctions.regexTokens(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(toks).as("n_bpe_tokens"),
        size(array_distinct(toks)).as("n_bpe_distinct"),
        element_at(toks, 1).as("first_token"))
    },
    """WITH t AS (SELECT doc_id,
      |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS INT) AS n_bpe_tokens,
      |  CAST(len(list_distinct(toks)) AS INT) AS n_bpe_distinct,
      |  toks[1] AS first_token
      |FROM t""".stripMargin)

  // End-to-end corpus curation through the SQL-expressible stages:
  // annotate (lang ID, token stats, quality) → language+quality gate →
  // exact dedup keep-smallest-id. The full chain incl. MinHash near-dedup
  // is CorpusPipelineSpec's job; this registers the composed pipeline
  // under the DuckDB oracle.
  val q37 = Query("q37_corpus_curation", (s, dir) => {
      val cfg = graft.pipeline.CorpusPipeline.Config(
        langs = Seq("en"), minQuality = 0.5, minTokens = 10)
      val annotated = graft.pipeline.CorpusPipeline.annotate(Tables.documents(s, dir))
      // eager barrier after the gate: without it the filter predicate and
      // BOTH sides of exactDedup's semi-join re-expand the full
      // tokenize+langId+quality expression chain (~4 corpus passes,
      // measured 4.6 -> ~1.5 s at sf0.1). The standard 100 TB shape:
      // annotate+gate once, materialize the (much smaller) survivor set,
      // dedup over that.
      val filtered = graft.pipeline.CorpusPipeline.qualityFilter(annotated, cfg)
        .localCheckpoint()
      graft.pipeline.CorpusPipeline.exactDedup(filtered)
        .select(col("doc_id"), col("pred_lang"), col("n_tokens"), col("quality"))
    },
    """WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, text, toks,
      |  (CAST(list_contains(toks,'the') AS INT) + CAST(list_contains(toks,'and') AS INT)
      |   + CAST(list_contains(toks,'of') AS INT) + CAST(list_contains(toks,'to') AS INT)
      |   + CAST(list_contains(toks,'a') AS INT) + CAST(list_contains(toks,'in') AS INT)
      |   + CAST(list_contains(toks,'is') AS INT)) AS s_en,
      |  (CAST(list_contains(toks,'el') AS INT) + CAST(list_contains(toks,'la') AS INT)
      |   + CAST(list_contains(toks,'de') AS INT) + CAST(list_contains(toks,'que') AS INT)
      |   + CAST(list_contains(toks,'y') AS INT) + CAST(list_contains(toks,'en') AS INT)) AS s_es,
      |  (CAST(list_contains(toks,'le') AS INT) + CAST(list_contains(toks,'les') AS INT)
      |   + CAST(list_contains(toks,'des') AS INT) + CAST(list_contains(toks,'et') AS INT)
      |   + CAST(list_contains(toks,'une') AS INT) + CAST(list_contains(toks,'dans') AS INT)) AS s_fr,
      |  (CAST(list_contains(toks,'der') AS INT) + CAST(list_contains(toks,'die') AS INT)
      |   + CAST(list_contains(toks,'und') AS INT) + CAST(list_contains(toks,'das') AS INT)
      |   + CAST(list_contains(toks,'ist') AS INT) + CAST(list_contains(toks,'nicht') AS INT)) AS s_de,
      |  (CAST(list_contains(toks,'的') AS INT) + CAST(list_contains(toks,'了') AS INT)
      |   + CAST(list_contains(toks,'是') AS INT)) AS s_zh,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  CAST(len(toks) AS DOUBLE) AS n,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) AS nd
      |  FROM t),
      |p AS (SELECT *,
      |  CASE WHEN s_en = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'en'
      |       WHEN s_es = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'es'
      |       WHEN s_fr = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'fr'
      |       WHEN s_de = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'de'
      |       ELSE 'zh' END AS pred_lang,
      |  0.3 * LEAST((CAST(s_en AS DOUBLE) / 7.0) * 2.0, 1.0)
      |  + 0.4 * (nd / n) + 0.3 * LEAST(n / 100.0, 1.0) AS quality
      |  FROM s),
      |f AS (SELECT * FROM p
      |  WHERE pred_lang = 'en' AND quality >= 0.5 AND n_tokens >= 10),
      |k AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY text)
      |SELECT f.doc_id, f.pred_lang, f.n_tokens, f.quality
      |FROM f JOIN k USING (doc_id)""".stripMargin)

  // The corpus-curation chain END-TO-END: annotate → gate → exact dedup
  // → MinHash-LSH near-dedup with TRANSITIVE clustering (a~b, b~c ⇒ one
  // survivor for {a,b,c}). Oracled: the LSH candidates are
  // recall-complete at j >= 0.8 on the gate data (q20) and cluster
  // survivors are canonical (min doc_id), so DuckDB replays the whole
  // chain — filter → dedup → exhaustive pairs → recursive-CTE closure.
  // CorpusPipelineSpec keeps the brute-force union-find equality proof.
  val q42 = Query("q42_corpus_curation_full", (s, dir) => {
      val cfg = graft.pipeline.CorpusPipeline.Config(
        langs = Seq("en"), minQuality = 0.5, minTokens = 10,
        nearDupThreshold = 0.8)
      val annotated = graft.pipeline.CorpusPipeline.annotate(Tables.documents(s, dir))
      // first barrier: run annotate+gate ONCE (the filter predicate and
      // both semi-join branches would otherwise re-expand the expression
      // chain — see q37)
      val filtered = graft.pipeline.CorpusPipeline.qualityFilter(annotated, cfg)
        .localCheckpoint()
      // second barrier: the gated/deduped (small) survivor set feeds
      // THREE consumers downstream — minhash signatures, the pair-verify
      // join, and the final cluster anti-join. Without it each consumer
      // re-runs the dedup lineage (measured 9.7 s → 4.4 s at sf0.1). At
      // 100 TB this is the standard "checkpoint-after-the-big-filter"
      // step.
      val exact = graft.pipeline.CorpusPipeline.exactDedup(filtered).localCheckpoint()
      graft.pipeline.CorpusPipeline
        .nearDedup(exact, cfg.nearDupThreshold, transitive = true)
        .select(col("doc_id"), col("pred_lang"), col("n_tokens"), col("quality"))
    },
    // q37's chain extended to the FULL pipeline: after the exact dedup,
    // exhaustive 3-gram Jaccard pairs at j >= 0.8 among survivors
    // (recall-complete on the gate data — see q20) feed a recursive-CTE
    // transitive closure; each cluster keeps its min doc_id (the
    // dropDuplicateClusters rule: survivor ⇔ own id = component min)
    """WITH RECURSIVE t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, text, toks,
      |  (CAST(list_contains(toks,'the') AS INT) + CAST(list_contains(toks,'and') AS INT)
      |   + CAST(list_contains(toks,'of') AS INT) + CAST(list_contains(toks,'to') AS INT)
      |   + CAST(list_contains(toks,'a') AS INT) + CAST(list_contains(toks,'in') AS INT)
      |   + CAST(list_contains(toks,'is') AS INT)) AS s_en,
      |  (CAST(list_contains(toks,'el') AS INT) + CAST(list_contains(toks,'la') AS INT)
      |   + CAST(list_contains(toks,'de') AS INT) + CAST(list_contains(toks,'que') AS INT)
      |   + CAST(list_contains(toks,'y') AS INT) + CAST(list_contains(toks,'en') AS INT)) AS s_es,
      |  (CAST(list_contains(toks,'le') AS INT) + CAST(list_contains(toks,'les') AS INT)
      |   + CAST(list_contains(toks,'des') AS INT) + CAST(list_contains(toks,'et') AS INT)
      |   + CAST(list_contains(toks,'une') AS INT) + CAST(list_contains(toks,'dans') AS INT)) AS s_fr,
      |  (CAST(list_contains(toks,'der') AS INT) + CAST(list_contains(toks,'die') AS INT)
      |   + CAST(list_contains(toks,'und') AS INT) + CAST(list_contains(toks,'das') AS INT)
      |   + CAST(list_contains(toks,'ist') AS INT) + CAST(list_contains(toks,'nicht') AS INT)) AS s_de,
      |  (CAST(list_contains(toks,'的') AS INT) + CAST(list_contains(toks,'了') AS INT)
      |   + CAST(list_contains(toks,'是') AS INT)) AS s_zh,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  CAST(len(toks) AS DOUBLE) AS n,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) AS nd
      |  FROM t),
      |p AS (SELECT *,
      |  CASE WHEN s_en = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'en'
      |       WHEN s_es = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'es'
      |       WHEN s_fr = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'fr'
      |       WHEN s_de = GREATEST(s_en,s_es,s_fr,s_de,s_zh) THEN 'de'
      |       ELSE 'zh' END AS pred_lang,
      |  0.3 * LEAST((CAST(s_en AS DOUBLE) / 7.0) * 2.0, 1.0)
      |  + 0.4 * (nd / n) + 0.3 * LEAST(n / 100.0, 1.0) AS quality
      |  FROM s),
      |f AS (SELECT * FROM p
      |  WHERE pred_lang = 'en' AND quality >= 0.5 AND n_tokens >= 10),
      |k AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY text),
      |d AS (SELECT f.* FROM f JOIN k USING (doc_id)),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
      |    ELSE [] END) AS sset FROM d),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
      |      / CAST(len(list_distinct(list_concat(a.sset, b.sset))) AS DOUBLE) >= 0.8),
      |edge AS (SELECT id_a AS a, id_b AS b FROM pairs
      |         UNION SELECT id_b, id_a FROM pairs),
      |reach(a, b) AS (SELECT a, b FROM edge
      |  UNION SELECT r.a, e.b FROM reach r JOIN edge e ON r.b = e.a),
      |m AS (SELECT a AS id, MIN(b) AS mn FROM reach GROUP BY a)
      |SELECT d.doc_id, d.pred_lang, d.n_tokens, d.quality
      |FROM d LEFT JOIN m ON m.id = d.doc_id
      |WHERE COALESCE(m.mn, d.doc_id) >= d.doc_id""".stripMargin)

  // Token-budget capping: per language keep the longest docs while the
  // running token total stays within budget — the data-mixing step of
  // a corpus build (one window cumsum = one shuffle on the group key)
  val q44 = Query("q44_token_budget", (s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      val annotated = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), size(toks).as("n_tokens"))
      graft.pipeline.CorpusPipeline.tokenBudget(
        annotated, "lang", "n_tokens", budget = 5000L,
        Seq(col("n_tokens").desc, col("doc_id").asc))
    },
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(trim(text), ' ')) AS INT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT *, SUM(n_tokens) OVER (PARTITION BY lang
      |    ORDER BY n_tokens DESC, doc_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT doc_id, lang, n_tokens FROM c WHERE cum <= 5000""".stripMargin)

  // Deterministic train/val/test split: md5-of-id vs fixed hex
  // thresholds — engine-independent, RNG-free, re-run-stable (the
  // no-test-leakage property); DuckDB computes the identical split
  val q45 = Query("q45_dataset_split", (s, dir) => {
      graft.pipeline.CorpusPipeline.datasetSplit(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", valFrac = 0.1, testFrac = 0.1)
    },
    s"""SELECT doc_id, lang,
       |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '${graft.pipeline.CorpusPipeline.hexThreshold(0.1)}' THEN 'val'
       |       WHEN md5(CAST(doc_id AS VARCHAR)) < '${graft.pipeline.CorpusPipeline.hexThreshold(0.2)}' THEN 'test'
       |       ELSE 'train' END AS split
       |FROM documents""".stripMargin)

  // Deterministic stratified downsampling — per-language mixing rates
  // applied via the same md5-threshold trick as q45: RNG-free,
  // engine-identical row selection, nested across rates
  val q48 = Query("q48_stratified_sample", (s, dir) => {
      graft.pipeline.CorpusPipeline.stratifiedSample(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "lang", "doc_id", Map("en" -> 0.5, "fr" -> 1.0, "de" -> 0.25))
    },
    s"""SELECT doc_id, lang FROM documents
       |WHERE (lang = 'en' AND md5(CAST(doc_id AS VARCHAR)) < '${graft.pipeline.CorpusPipeline.hexThreshold(0.5)}')
       |   OR (lang = 'fr')
       |   OR (lang = 'de' AND md5(CAST(doc_id AS VARCHAR)) < '${graft.pipeline.CorpusPipeline.hexThreshold(0.25)}')""".stripMargin)

  // Eval-set decontamination: per training doc, how many distinct
  // 8-grams it shares with ANY benchmark doc (benchmark = every 10th
  // doc, the q07-style derived split). Corpus side never shuffles —
  // the distinct benchmark gram-hash set is broadcast; grams travel as
  // 64-bit hashes, never text.
  val q51 = Query("q51_decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.dedup.Decontaminate.overlapStats(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", "text", n = 8)
    },
    """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(w) >= 8
      |    THEN list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))
      |    ELSE [] END) AS gs FROM t),
      |tg AS (SELECT doc_id, gs FROM sh WHERE doc_id % 10 <> 7),
      |bg AS (SELECT DISTINCT g FROM (
      |  SELECT unnest(gs) AS g FROM sh WHERE doc_id % 10 = 7)),
      |h AS (SELECT doc_id, COUNT(*) AS n_hits FROM (
      |    SELECT doc_id, unnest(gs) AS g FROM tg) x
      |  JOIN bg USING (g) GROUP BY doc_id)
      |SELECT tg.doc_id, CAST(len(gs) AS INT) AS n_grams,
      |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  COALESCE(h.n_hits, 0) >= 1 AS contaminated
      |FROM tg LEFT JOIN h USING (doc_id)""".stripMargin)

  // Gopher-style repetition/boilerplate signals: duplicate-2-gram
  // fraction, top-2-gram fraction, top-token fraction — all narrow
  // codegen'd array folds (sort + run-length scan), no explode/groupBy
  // shuffle per doc
  val q52 = Query("q52_repetition_stats", (s, dir) => {
      graft.pipeline.CorpusPipeline.annotateRepetition(Tables.documents(s, dir))
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).as("n_tokens"),
          col("dup_2gram_frac"), col("top_2gram_frac"), col("top_token_frac"))
    },
    """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |g AS (SELECT doc_id, w, CASE WHEN len(w) >= 2
      |  THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
      |  ELSE [] END AS g2 FROM t),
      |tm AS (SELECT doc_id, MAX(c) AS topt FROM (
      |    SELECT doc_id, tok, COUNT(*) AS c FROM (
      |      SELECT doc_id, unnest(w) AS tok FROM t) x GROUP BY 1, 2) y
      |  GROUP BY 1),
      |gm AS (SELECT doc_id, MAX(c) AS topg FROM (
      |    SELECT doc_id, gr, COUNT(*) AS c FROM (
      |      SELECT doc_id, unnest(g2) AS gr FROM g) x GROUP BY 1, 2) y
      |  GROUP BY 1)
      |SELECT g.doc_id, CAST(len(w) AS INT) AS n_tokens,
      |  CASE WHEN len(g2) > 0 THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
      |    / CAST(len(g2) AS DOUBLE) ELSE 0.0 END AS dup_2gram_frac,
      |  CASE WHEN len(g2) > 0 THEN CAST(COALESCE(gm.topg, 0) AS DOUBLE)
      |    / CAST(len(g2) AS DOUBLE) ELSE 0.0 END AS top_2gram_frac,
      |  CASE WHEN len(w) > 0 THEN CAST(COALESCE(tm.topt, 0) AS DOUBLE)
      |    / CAST(len(w) AS DOUBLE) ELSE 0.0 END AS top_token_frac
      |FROM g LEFT JOIN gm USING (doc_id) LEFT JOIN tm USING (doc_id)""".stripMargin)

  // Sequence packing: concatenate-and-chunk into 2048-token training
  // sequences per language — each doc tagged with the sequence it
  // starts in and its offset (one window cumsum = one shuffle; pure
  // integer arithmetic, so the packing is engine-reproducible like the
  // q45 split)
  val q54 = Query("q54_sequence_pack", (s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      val annotated = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), size(toks).as("n_tokens"))
      graft.pipeline.CorpusPipeline.packSequences(
        annotated, "lang", "n_tokens", seqLen = 2048L, Seq(col("doc_id").asc))
    },
    """WITH t AS (SELECT doc_id, lang,
      |  CAST(len(string_split(trim(text), ' ')) AS INT) AS n_tokens FROM documents),
      |c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY lang
      |  ORDER BY doc_id ASC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
      |SELECT doc_id, lang, n_tokens,
      |  CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS seq_id,
      |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_offset
      |FROM c""".stripMargin)

  // Corpus-frequency familiarity (CCNet-style quality signal without a
  // pretrained LM): mean corpus frequency of each doc's tokens —
  // formulated as one exact long sum + one double division so it
  // hash-matches across engines (a mean of ln() probs would differ in
  // the last ulp)
  val q55 = Query("q55_familiarity", (s, dir) => {
      // topK = 0 (no vocabulary cap): the oracle computes full-vocab
      // frequencies, so the registered path must too — a finite cap
      // would silently diverge once the corpus vocabulary outgrows it
      graft.pipeline.CorpusPipeline.familiarityScore(
        Tables.documents(s, dir), "doc_id", "text", topK = 0)
    },
    """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      |  FROM documents),
      |f AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok),
      |tot AS (SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM f),
      |d AS (SELECT doc_id, CAST(SUM(f.freq) AS BIGINT) AS sum_freq,
      |    COUNT(*) AS n FROM tok JOIN f USING (tok) GROUP BY doc_id)
      |SELECT doc_id, sum_freq, CAST(n AS BIGINT) AS n_tokens,
      |  CAST(sum_freq AS DOUBLE) / (CAST(n AS DOUBLE) * tot.total) AS familiarity
      |FROM d CROSS JOIN tot""".stripMargin)

  // The benchmark-side contamination report (the reverse of q51): per
  // eval item, how many distinct training docs share an 8-gram with it
  // and the largest overlap — what an eval owner reads to retire
  // compromised items
  val q57 = Query("q57_benchmark_report", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.dedup.Decontaminate.benchmarkReport(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", "doc_id", "text", n = 8)
    },
    """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(w) >= 8
      |    THEN list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))
      |    ELSE [] END) AS gs FROM t),
      |tg AS (SELECT doc_id AS tid, unnest(gs) AS g FROM sh WHERE doc_id % 10 <> 7),
      |bg AS (SELECT doc_id AS bench_id, unnest(gs) AS g FROM sh WHERE doc_id % 10 = 7),
      |p AS (SELECT bench_id, tid, COUNT(*) AS shared
      |  FROM tg JOIN bg USING (g) GROUP BY 1, 2),
      |r AS (SELECT bench_id, COUNT(*) AS n_contaminating_docs,
      |    MAX(shared) AS max_shared_grams
      |  FROM p WHERE shared >= 1 GROUP BY 1)
      |SELECT b.doc_id AS bench_id,
      |  CAST(COALESCE(r.n_contaminating_docs, 0) AS BIGINT) AS n_contaminating_docs,
      |  CAST(COALESCE(r.max_shared_grams, 0) AS BIGINT) AS max_shared_grams
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) b
      |LEFT JOIN r ON b.doc_id = r.bench_id""".stripMargin)

  // BM25 relevance of every doc against a fixed query-term bag: the
  // query-term filter runs BEFORE the postings shuffle, so only |Q|
  // terms' posting lists ever shuffle; df and corpus stats broadcast
  // back as single rows. logIdf=false (rational idf core) because the
  // gate compares doubles bit-exactly and JVM Math.log != glibc log in
  // the last ulp — the log variant is RelevanceSpec-verified instead.
  val q60 = Query("q60_bm25", (s, dir) => {
      graft.functions.Relevance.bm25(Tables.documents(s, dir),
        "doc_id", "text", Seq("join", "hash", "scan"), logIdf = false)
    },
    // BM25 with the rational idf core; every constant is cast to DOUBLE
    // (DuckDB parses bare decimals as DECIMAL) and the parenthesization
    // mirrors the Spark expression operation-for-operation — IEEE
    // +,-,*,/ are bit-deterministic given identical operand order
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
      |  FROM tf GROUP BY doc_id)
      |SELECT doc_id,
      |  CAST(CASE WHEN tf0 IS NULL THEN 0 ELSE 1 END
      |    + CASE WHEN tf1 IS NULL THEN 0 ELSE 1 END
      |    + CASE WHEN tf2 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS n_matched,
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
      |FROM p CROSS JOIN dfs CROSS JOIN stats""".stripMargin)

  // PII detect + redact: narrow codegen'd regex chain, zero shuffles.
  // The synthetic corpus is PII-free word salad, so the query PLANTS
  // deterministic id-derived PII first (the q56 pattern) and the
  // oracle replays the same arithmetic; patterns live in the
  // Java-regex ∩ RE2 subset so both engines match identically
  val q61 = Query("q61_pii_redact", (s, dir) => {
      val planted = Tables.documents(s, dir).withColumn("pii_text",
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".25 logged"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call 555-867-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" today"))).otherwise(lit(""))))
      graft.functions.Pii.redact(
          graft.functions.Pii.annotate(planted, "pii_text"),
          "pii_text", "redacted")
        .select(col("doc_id"), col("n_email"), col("n_ipv4"),
          col("n_phone"), col("redacted"))
    },
    // DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all semantics; patterns are byte-identical to Pii.scala's
    """WITH aug AS (SELECT doc_id, text
      |  || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
      |       || '@example.com now' ELSE '' END
      |  || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
      |       || '.25 logged' ELSE '' END
      |  || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-'
      |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
      |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
      |  regexp_replace(regexp_replace(regexp_replace(t,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
      |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
      |FROM aug""".stripMargin)

  // Top-100 corpus vocabulary with cumulative coverage: distributed
  // TakeOrdered for the winners, narrow pass for the token total,
  // single-partition window only over the 100 survivors
  val q63 = Query("q63_vocabulary", (s, dir) => {
      graft.pipeline.CorpusPipeline.vocabulary(
        Tables.documents(s, dir), "text", topK = 100)
    },
    """WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents),
      |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tok),
      |f AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
      |top AS (SELECT token, freq FROM f ORDER BY freq DESC, token LIMIT 100)
      |SELECT token,
      |  CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank,
      |  freq,
      |  CAST(SUM(freq) OVER (ORDER BY freq DESC, token
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot.total AS coverage
      |FROM top CROSS JOIN tot""".stripMargin)

  // Temperature-reweighted source mixing at alpha=0.5: rates are
  // targetFrac * sqrt(n_max/n_s) (sqrt is IEEE-correctly-rounded in
  // every engine, and the relative-to-largest form needs no
  // order-sensitive cross-source float sum), sampling is the md5
  // hex-threshold rule — DuckDB reproduces the exact surviving rows
  val q64 = Query("q64_temperature_mix", (s, dir) => {
      graft.pipeline.CorpusPipeline.temperatureSample(
          Tables.documents(s, dir), "source", "doc_id",
          targetFrac = 0.5, alpha = 0.5)
        .select(col("doc_id"), col("source"))
    },
    // rate = 0.5 * sqrt(nmax/ns) mirrored op-for-op; the 12-hex-digit
    // threshold replays CorpusPipeline.hexThreshold (trunc before the
    // BIGINT cast -- CAST alone rounds, Scala toLong truncates)
    """WITH n AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY source),
      |mx AS (SELECT MAX(ns) AS nmax FROM n),
      |r AS (SELECT source,
      |  CAST(0.5 AS DOUBLE) * sqrt(CAST(nmax AS DOUBLE) / CAST(ns AS DOUBLE)) AS rate
      |  FROM n CROSS JOIN mx)
      |SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source
      |WHERE rate >= 1.0 OR md5(CAST(doc_id AS VARCHAR)) <
      |  printf('%012x', CAST(trunc(rate * 281474976710656.0) AS BIGINT))
      |    || '00000000000000000000'""".stripMargin)

  // Per-doc OOV rate vs the top-20 corpus vocab (tokenizer-fit
  // metric): vocab broadcasts, one per-doc rollup shuffle, exact
  // long/long fraction
  val q66 = Query("q66_oov_rate", (s, dir) => {
      graft.pipeline.CorpusPipeline.oovStats(
        Tables.documents(s, dir), "doc_id", "text", topK = 20)
    },
    """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
      |  FROM documents),
      |f AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
      |top AS (SELECT token FROM f ORDER BY freq DESC, token LIMIT 20)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN token IN (SELECT token FROM top) THEN 0 ELSE 1 END)
      |    AS BIGINT) AS n_oov,
      |  CAST(SUM(CASE WHEN token IN (SELECT token FROM top) THEN 0 ELSE 1 END)
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_frac
      |FROM tok GROUP BY doc_id""".stripMargin)

  // Context-window chunking: 32-token windows every 24 tokens (8-token
  // overlap) — the read-side twin of q54's sequence packing. Map-only
  // plan (spec-proven), so it scales embarrassingly.
  val q72 = Query("q72_chunking", (s, dir) => {
      graft.pipeline.CorpusPipeline.chunk(
        Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 32, stride = 24)
    },
    // generate_series and Spark's sequence are both stop-INCLUSIVE;
    // list_slice clamps past the end like Spark's slice
    """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
      |           FROM documents),
      |s AS (SELECT doc_id, toks, len(toks) AS n,
      |        unnest(generate_series(0, len(toks) - 1, 24)) AS start
      |      FROM t)
      |SELECT doc_id, CAST(start / 24 AS BIGINT) AS chunk_idx,
      |  CAST(LEAST(32, n - start) AS BIGINT) AS n_chunk_tokens,
      |  array_to_string(list_slice(toks, start + 1, start + 32), ' ')
      |    AS chunk_text
      |FROM s""".stripMargin)

  // Distributed BPE merge induction, fully oracled: DuckDB replays
  // all 16 learning rounds exactly (bpeLearnOracleSql — per-round
  // Sennrich pair counting, binary-collation tie-break, greedy
  // rewrite), and BpeSpec proves agreement with the single-node
  // reference incl. tie-breaks and the O(affected-words) incremental
  // pair store. The corpus is scanned once for the word-frequency
  // dictionary; 16 merge rounds then run over the dictionary alone.
  val q75 = Query("q75_bpe_merges", (s, dir) => {
      graft.functions.Bpe.learnMerges(Tables.documents(s, dir), "text", 16)
    },
    // full 16-round learning replay — see bpeLearnOracleSql
    bpeLearnOracleSql(16))

  // BPE compression stats under a fixed merge table: pieces are
  // computed once per DISTINCT word (chained codegen'd pairMerge
  // kernels) and broadcast back; corpus side is explode + rollup.
  // Rows-only (greedy merge replay is not SQL-expressible);
  // spec-verified against the reference tokenizer.
  val q76 = Query("q76_bpe_compression", (s, dir) => {
      graft.functions.Bpe.compressionStats(
        Tables.documents(s, dir), "doc_id", "text",
        Seq(("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
          ("an", "d"), ("o", "r"), ("e", "s"), ("s", "t"), ("o", "n")))
    },
    // EXACT replay of greedy left-to-right BPE merge application: each
    // word renders as '|c |c …' (corpus is pipe- and newline-free ASCII,
    // probed before this oracle landed) and each of the query's ten
    // literal merges becomes one replace() — '|a |b ' → '|ab ' scans
    // left-to-right without consuming the next token's '|', which is
    // precisely pairMerge's non-overlapping greedy semantics. Piece
    // count = surviving '|' markers.
    """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
      |             FROM documents),
      |t AS (SELECT doc_id, w FROM tok WHERE len(w) > 0),
      |d AS (SELECT DISTINCT w FROM t),
      |p AS (SELECT w,
      |  replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(
      |    regexp_replace(w, '(.)', '|\1 ', 'g'),
      |    '|t |h ', '|th '),
      |    '|th |e ', '|the '),
      |    '|i |n ', '|in '),
      |    '|e |r ', '|er '),
      |    '|a |n ', '|an '),
      |    '|an |d ', '|and '),
      |    '|o |r ', '|or '),
      |    '|e |s ', '|es '),
      |    '|s |t ', '|st '),
      |    '|o |n ', '|on ') AS f
      |  FROM d)
      |SELECT t.doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(len(f) - len(replace(f, '|', ''))) AS BIGINT) AS n_pieces
      |FROM t JOIN p USING (w) GROUP BY t.doc_id""".stripMargin)

  // Bigram LM training (the CCNet quality-scoring model): two grouped
  // counts + a distinct-count, one corpus pass; add-k probabilities
  // are one IEEE division of exact integer terms — bit-reproducible,
  // so the TRAINED TABLE is oracle-gated.
  val q82 = Query("q82_lm_train", (s, dir) => {
      graft.functions.LanguageModel.trainBigrams(
        Tables.documents(s, dir), "text", k = 0.5)
    },
    // parallel unnest zips the two shifted slices into bigram pairs;
    // the add-k division mirrors Spark operand-for-operand
    """WITH tok AS (SELECT string_split(trim(text), ' ') AS w FROM documents),
      |big AS (SELECT unnest(list_slice(w, 1, len(w) - 1)) AS w1,
      |               unnest(list_slice(w, 2, len(w))) AS w2
      |        FROM tok WHERE len(w) >= 2),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT t) AS v
      |      FROM (SELECT unnest(w) AS t FROM tok))
      |SELECT w1, w2, c12, c1, v,
      |  (CAST(c12 AS DOUBLE) + 0.5) /
      |    (CAST(c1 AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)) AS prob
      |FROM c12 JOIN c1 USING (w1), v""".stripMargin)

  // Per-doc LM fluency under the self-trained model (avg negative
  // log-prob; natural-log sums are JVM floating point → rows-only;
  // LanguageModelSpec pins the backoff arithmetic exactly).
  val q83 = Query("q83_lm_score", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = graft.functions.LanguageModel.trainBigrams(docs, "text", k = 0.5)
      val scored = graft.functions.LanguageModel.scoreDocs(docs, "doc_id", "text", model)
      // q33 contract form: per-doc log-prob sums are order-dependent IEEE,
      // so emit the exact bigram/unseen counts plus booleans asserting the
      // smoothing invariants — scoring the training corpus itself means
      // every bigram is in-model (n_unseen = 0, an exact check of the
      // scoring joins), every probability lies in (0,1) so the average
      // negative log is positive, and add-k smoothing floors each
      // probability at k/(max c1 + kV), bounding the average by
      // log((max c1 + kV)/k). DuckDB recomputes the counts and emits true.
      val bounds = model.agg(
        max(col("c1")).as("__maxc1"), first(col("v")).as("__v"))
      scored.crossJoin(broadcast(bounds))
        .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
          (col("avg_neg_logp") > 0.0).as("logp_positive_ok"),
          (col("avg_neg_logp") <=
            log((col("__maxc1") + lit(0.5) * col("__v")) / lit(0.5)))
            .as("logp_bounded_ok"))
    },
    // exact bigram counts; scoring the training corpus itself means no
    // bigram can be unseen, and the smoothing-floor booleans are
    // required TRUE (q33 contract form for IEEE log-sums)
    """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS w
      |             FROM documents)
      |SELECT doc_id, CAST(len(w) - 1 AS BIGINT) AS n_bigrams,
      |  CAST(0 AS BIGINT) AS n_unseen,
      |  TRUE AS logp_positive_ok, TRUE AS logp_bounded_ok
      |FROM tok WHERE len(w) >= 2""".stripMargin)

  // Top-3 TF-IDF keywords per doc (rational idf — bit-exact across
  // engines, see tfidfKeywords scaladoc); per-doc rank compiles to
  // WindowGroupLimit, ties pinned by term
  val q86 = Query("q86_tfidf_keywords", (s, dir) => {
      graft.pipeline.CorpusPipeline.tfidfKeywords(
        Tables.documents(s, dir), "doc_id", "text", k = 3)
    },
    // rational-idf score mirrored operand-for-operand (same bit-exact
    // contract as q60's bm25); ties pinned by term ASC
    """WITH tok AS (SELECT doc_id,
      |    unnest(string_split(trim(text), ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      |s AS (SELECT doc_id, term, tf,
      |    CAST(tf AS DOUBLE) *
      |      ((n.n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |      AS score
      |  FROM tf JOIN df USING (term), n),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, term ASC) AS rnk FROM s)
      |SELECT doc_id, term, tf, score, rnk FROM r WHERE rnk <= 3""".stripMargin)

  // Deterministic 20-per-source sample (md5-ranked — the exact-size,
  // engine-reproducible reservoir equivalent)
  val q87 = Query("q87_hash_sample", (s, dir) => {
      graft.pipeline.CorpusPipeline.hashSamplePerGroup(
        Tables.documents(s, dir).select("source", "doc_id", "n_chars"),
        "source", "doc_id", k = 20)
    },
    // md5 of the id string ranks identically in both engines — the
    // sample is a pure function of the data
    """WITH r AS (SELECT source, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rnk
      |  FROM documents)
      |SELECT source, doc_id, n_chars, rnk FROM r WHERE rnk <= 20""".stripMargin)

  // HTML boilerplate extraction — the crawl front door. The corpus is
  // plain text, so the query PLANTS a deterministic id-derived HTML
  // wrapper (title, style/script containers, a comment, an id-gated
  // nav with two anchors — the q56/q61 planting pattern) and strips
  // it back; the oracle recomputes the expected visible text and
  // link stats arithmetically from the same plant inputs. WebSpec
  // covers the messy-HTML corners (entities, uppercase tags, nested
  // anchors) on handcrafted fixtures.
  val q95 = Query("q95_html_extract", (s, dir) => {
      import graft.functions.Web
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>p{color:red}</style></head><body>"),
        when(col("doc_id") % 4 === 0,
          lit("<nav><a href=\"/h\">Home</a> <a href=\"/a\">About us</a></nav>"))
          .otherwise(lit("")),
        lit("<p>"), col("text"),
        lit("</p><!-- hidden --><script>var x=1;</script></body></html>"))
      Tables.documents(s, dir)
        .select(col("doc_id"), html.as("__html"))
        .select(col("doc_id"),
          Web.htmlText(col("__html")).as("clean_text"),
          Web.linkCount(col("__html")).as("n_links"),
          Web.linkDensity(col("__html")).as("link_density"))
    },
    // the oracle replays the PLANT arithmetically: the expected visible
    // text is 'Doc <id>' + optional nav text + the document body, and
    // the link stats follow from the two planted anchors ('Home' = 4
    // chars, 'About us' = 8 chars)
    """WITH e AS (SELECT doc_id,
      |  'Doc ' || CAST(doc_id AS VARCHAR)
      |    || CASE WHEN doc_id % 4 = 0 THEN ' Home About us' ELSE '' END
      |    || ' ' || text AS clean_text,
      |  CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS n_links,
      |  CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 0 END AS link_chars
      |  FROM documents)
      |SELECT doc_id, clean_text, CAST(n_links AS BIGINT) AS n_links,
      |  CASE WHEN len(clean_text) > 0
      |    THEN CAST(link_chars AS DOUBLE) / CAST(len(clean_text) AS DOUBLE)
      |    ELSE 0.0 END AS link_density
      |FROM e""".stripMargin)

  // URL canonicalization + exact URL dedup — id-derived messy URLs
  // (uppercase scheme/host, default port, trailing slash, tracking
  // params, unsorted query, fragment) must collapse to the canonical
  // key the oracle constructs directly; the per-key count is the
  // crawl-frontier dedup signal
  val q96 = Query("q96_url_canonical", (s, dir) => {
      import graft.functions.Web
      val url = concat(
        lit("HTTP://WWW.Example"), (col("doc_id") % 7).cast("string"),
        lit(".COM"),
        when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit("")),
        lit("/Products/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=news&id="), (col("doc_id") % 25).cast("string"),
        lit("&b=2"),
        when(col("doc_id") % 5 === 0, lit("&fbclid=XYZ")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canonical_url"))
      Tables.documents(s, dir)
        .select(col("doc_id"), Web.canonicalizeUrl(url).as("canonical_url"))
        .withColumn("n_same_canonical", count(lit(1)).over(w))
    },
    // canonical key constructed directly from the plant inputs: scheme/
    // host lowercased, :80 dropped, trailing slash stripped, tracking
    // params dropped, survivors sorted ('b=2' < 'id=…'), fragment gone
    """WITH u AS (SELECT doc_id,
      |  'http://www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com/Products/'
      |    || CAST(doc_id % 50 AS VARCHAR) || '?b=2&id='
      |    || CAST(doc_id % 25 AS VARCHAR) AS canonical_url
      |  FROM documents)
      |SELECT doc_id, canonical_url,
      |  COUNT(*) OVER (PARTITION BY canonical_url) AS n_same_canonical
      |FROM u""".stripMargin)

  // Declarative data-quality expectations with a dead-letter side
  // (the ingest constraint gate): four rules compile into ONE
  // codegen'd projection, violating rows route to quarantine with the
  // sorted names of every failed rule. NULL predicate = violation
  // (retain-on-true, the pipeline posture — NOT SQL CHECK's
  // accept-on-unknown). Map-only; ExpectationsSpec covers the
  // valid-side split, the report aggregate, and null routing.
  val q97 = Query("q97_expectations", (s, dir) => {
      import graft.pipeline.{Expectation, Expectations}
      val rules = Seq(
        Expectation("price_cap", col("o_totalprice") <= 400000.0),
        Expectation("status_finalized", col("o_orderstatus") =!= "P"),
        Expectation("priority_known", col("o_orderpriority").rlike("^[1-5]-")),
        Expectation("custkey_present", col("o_custkey").isNotNull))
      val (_, quarantine) = Expectations.split(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey",
          "o_orderstatus", "o_totalprice", "o_orderpriority"), rules)
      quarantine.select(col("o_orderkey"),
        array_join(col("violations"), ",").as("violations"))
    },
    // replays every rule with the same retain-on-true null semantics;
    // rule names concatenate in the operator's sorted order
    """WITH a AS (SELECT o_orderkey,
      |  array_to_string(list_filter([
      |    CASE WHEN o_custkey IS NULL THEN 'custkey_present' END,
      |    CASE WHEN NOT COALESCE(o_totalprice <= 400000.0, FALSE)
      |      THEN 'price_cap' END,
      |    CASE WHEN NOT COALESCE(regexp_matches(o_orderpriority,
      |      '^[1-5]-'), FALSE) THEN 'priority_known' END,
      |    CASE WHEN NOT COALESCE(o_orderstatus <> 'P', FALSE)
      |      THEN 'status_finalized' END
      |  ], x -> x IS NOT NULL), ',') AS violations
      |  FROM orders)
      |SELECT o_orderkey, violations FROM a
      |WHERE violations <> ''""".stripMargin)

  // Leakage-safe train/test split: the split key is the URL HOST, not
  // the document id, so every page of one site lands on the same side
  // — near-duplicate pages from one host can never straddle train and
  // eval (the q94/q20 dedup operators catch within-corpus dups; this
  // closes the split-boundary leak). Same md5-threshold rule as q45 —
  // deterministic, engine-reproducible, zero shuffle (map-only).
  val q98 = Query("q98_group_split", (s, dir) => {
      import graft.functions.Web
      val url = concat(lit("http://www.example"),
        (col("doc_id") % 7).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string"))
      graft.pipeline.CorpusPipeline.datasetSplit(
        Tables.documents(s, dir)
          .select(col("doc_id"), Web.urlHost(url).as("host")),
        "host", valFrac = 0.2, testFrac = 0.2)
    },
    // the q45 md5-threshold rule keyed on the HOST: the oracle proves
    // every doc of one host takes the same side
    s"""WITH h AS (SELECT doc_id,
       |  'www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host
       |  FROM documents)
       |SELECT doc_id, host,
       |  CASE WHEN md5(host) < '${graft.pipeline.CorpusPipeline.hexThreshold(0.2)}' THEN 'val'
       |       WHEN md5(host) < '${graft.pipeline.CorpusPipeline.hexThreshold(0.4)}' THEN 'test'
       |       ELSE 'train' END AS split
       |FROM h""".stripMargin)

  // C4 page/line cleaning (Raffel et al. 2020 §2.2) on a planted
  // page shape: three prose lines that pass every rule, a too-short
  // line, the corpus text (no terminal punctuation), a javascript
  // notice, plus page-killing lorem-ipsum (%13) and code-brace (%17)
  // lines — so line rules, page rules, and their interaction are all
  // exercised and the oracle replays every decision. One codegen
  // projection, zero shuffles.
  val q104 = Query("q104_c4_line_clean", (s, dir) => {
      val planted = Tables.documents(s, dir).select(col("doc_id"), concat(
        lit("Alpha section covers doc number "),
        (col("doc_id") % 11).cast("string"), lit(" today.\n"),
        lit("Beta sentence keeps exactly seven words here.\n"),
        lit("Gamma line closes with a question mark?\n"),
        lit("tiny line.\n"),
        col("text"), lit("\n"),
        lit("Please enable javascript to view this page."),
        when(col("doc_id") % 13 === 0,
          lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit("\nif (x) { return y; }")).otherwise(lit(""))).as("text"))
      graft.functions.CorpusFilters.c4LineClean(planted, "doc_id", "text")
    },
    // full declarative replay of the C4 rule set over the same planted
    // page: line keep = terminal punctuation + >=5 words + no
    // javascript; page keep = no brace, no lorem ipsum, >=3 kept lines
    """WITH planted AS (
      |  SELECT doc_id,
      |    'Alpha section covers doc number ' || CAST(doc_id % 11 AS VARCHAR)
      |      || ' today.' || chr(10) ||
      |    'Beta sentence keeps exactly seven words here.' || chr(10) ||
      |    'Gamma line closes with a question mark?' || chr(10) ||
      |    'tiny line.' || chr(10) ||
      |    text || chr(10) ||
      |    'Please enable javascript to view this page.' ||
      |    CASE WHEN doc_id % 13 = 0
      |      THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
      |    CASE WHEN doc_id % 17 = 0
      |      THEN chr(10) || 'if (x) { return y; }' ELSE '' END AS text
      |  FROM documents),
      |l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls
      |      FROM planted),
      |k AS (SELECT doc_id, text, ls,
      |        list_filter(ls, x -> right(x, 1) IN ('.', '!', '?', '"')
      |          AND len(string_split(trim(x), ' ')) >= 5
      |          AND NOT contains(lower(x), 'javascript')) AS kept
      |      FROM l),
      |p AS (SELECT doc_id, ls, kept,
      |        contains(text, '{') AS has_code,
      |        contains(lower(text), 'lorem ipsum') AS has_lorem,
      |        (NOT contains(text, '{'))
      |          AND (NOT contains(lower(text), 'lorem ipsum'))
      |          AND len(kept) >= 3 AS page_kept
      |      FROM k)
      |SELECT doc_id, page_kept, has_code, has_lorem,
      |  CAST(len(ls) AS BIGINT) AS n_lines,
      |  CAST(CASE WHEN page_kept THEN len(kept) ELSE 0 END AS BIGINT)
      |    AS n_lines_kept,
      |  CASE WHEN page_kept THEN array_to_string(kept, chr(10))
      |       ELSE '' END AS clean_text
      |FROM p""".stripMargin)

  // Gopher/MassiveText document-quality rules (Rae et al. 2021 table
  // A1) on planted pages: the corpus text supplies natural word-count
  // and word-length variance, residue-classed lines plant stopword
  // boosts (%3), bullet lines (%4), ellipsis lines (%6) and
  // hash-symbol spam (%9) — every signal fires on a known subset and
  // the keep decision varies realistically. One codegen projection.
  val q105 = Query("q105_gopher_rules", (s, dir) => {
      val planted = Tables.documents(s, dir).select(col("doc_id"),
        concat_ws("\n",
          col("text"),
          when(col("doc_id") % 3 === 0,
            lit("the data goes to all of them and that would have been " +
              "fine with everyone")).otherwise(lit("closing words here")),
          when(col("doc_id") % 4 === 0, lit("- bullet item one"))
            .otherwise(lit("plain line one")),
          when(col("doc_id") % 6 === 0, lit("trailing thought..."))
            .otherwise(lit("trailing thought")),
          when(col("doc_id") % 9 === 0,
            lit("#tag #promo #spam #viral #follow #like #share #win " +
              "#free #now #deal #hot")).otherwise(lit("regular closing line")))
          .as("text"))
      graft.functions.CorpusFilters.gopherQuality(planted, "doc_id", "text")
    },
    // full declarative replay of the Gopher table-A1 rules over the
    // same planted page; ratios are exact-int / exact-int in doubles on
    // both engines, so threshold comparisons hash-match bit-exactly
    """WITH planted AS (
      |  SELECT doc_id,
      |    text || chr(10) ||
      |    CASE WHEN doc_id % 3 = 0
      |      THEN 'the data goes to all of them and that would have been fine with everyone'
      |      ELSE 'closing words here' END || chr(10) ||
      |    CASE WHEN doc_id % 4 = 0 THEN '- bullet item one'
      |      ELSE 'plain line one' END || chr(10) ||
      |    CASE WHEN doc_id % 6 = 0 THEN 'trailing thought...'
      |      ELSE 'trailing thought' END || chr(10) ||
      |    CASE WHEN doc_id % 9 = 0
      |      THEN '#tag #promo #spam #viral #follow #like #share #win #free #now #deal #hot'
      |      ELSE 'regular closing line' END AS text
      |  FROM documents),
      |t AS (SELECT doc_id, string_split(text, chr(10)) AS ls,
      |        list_filter(flatten(list_transform(
      |          string_split(text, chr(10)),
      |          l -> string_split(trim(l), ' '))), w -> len(w) > 0) AS toks
      |      FROM planted),
      |s AS (SELECT doc_id, ls, toks,
      |        CAST(len(toks) AS BIGINT) AS n_words,
      |        CASE WHEN len(toks) > 0 THEN
      |          CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE)
      |            / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS mean_word_len,
      |        CASE WHEN len(toks) > 0 THEN
      |          CAST(len(list_filter(toks, w -> contains(w, '#')
      |            OR contains(w, '...'))) AS DOUBLE)
      |            / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS symbol_ratio,
      |        CASE WHEN len(toks) > 0 THEN
      |          CAST(len(list_filter(toks,
      |            w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
      |            / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS alpha_word_frac,
      |        CASE WHEN len(ls) > 0 THEN
      |          CAST(len(list_filter(ls, l -> starts_with(l, '- ')
      |            OR starts_with(l, '• '))) AS DOUBLE)
      |            / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS bullet_line_frac,
      |        CASE WHEN len(ls) > 0 THEN
      |          CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS DOUBLE)
      |            / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS ellipsis_line_frac,
      |        CAST((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
      |          + (CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END)
      |          + (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END)
      |          + (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END)
      |          + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
      |          + (CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END)
      |          + (CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END)
      |          + (CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END)
      |          AS BIGINT) AS stopword_hits
      |      FROM t)
      |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
      |  alpha_word_frac, bullet_line_frac, ellipsis_line_frac,
      |  stopword_hits,
      |  n_words >= 50 AND n_words <= 100000
      |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
      |    AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9
      |    AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
      |    AND stopword_hits >= 2 AS keep
      |FROM s""".stripMargin)

  val all: Seq[Query] = Seq(q17, q18, q19, q29, q37, q42, q44, q45, q48, q51,
    q52, q54, q55, q57, q60, q61, q63, q64, q66, q72, q75, q76, q82, q83, q86,
    q87, q95, q96, q97, q98, q104, q105)
}
