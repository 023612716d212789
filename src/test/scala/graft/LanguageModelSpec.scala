package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.LanguageModel

class LanguageModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("trainBigrams: hand-computed counts, V, and add-k probabilities") {
    val docs = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    val m = LanguageModel.trainBigrams(docs, "text", k = 0.5)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // bigrams: (a,b)x2, (b,a)x1, (a,a)x1; c1: a->3, b->1; V = 2
    assert(m(("a", "b")) === ((2L, 3L, 2L, (2.0 + 0.5) / (3.0 + 0.5 * 2))))
    assert(m(("b", "a")) === ((1L, 1L, 2L, (1.0 + 0.5) / (1.0 + 0.5 * 2))))
    assert(m(("a", "a")) === ((1L, 3L, 2L, (1.0 + 0.5) / (3.0 + 0.5 * 2))))
    assert(m.size === 3)
  }

  test("scoreDocs: seen / seen-history / unseen-history backoff, exact values") {
    val train = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    val model = LanguageModel.trainBigrams(train, "text", k = 0.5)
    val probe = Seq((10L, "a b"), (11L, "a z"), (12L, "z z"), (13L, "x"))
      .toDF("doc_id", "text")
    val out = LanguageModel.scoreDocs(probe, "doc_id", "text", model, k = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val eps = 1e-12
    // seen bigram: p = 2.5/4
    assert(out(10L)._1 === 1L && out(10L)._2 === 0L)
    assert(math.abs(out(10L)._3 - (-math.log(2.5 / 4.0))) < eps)
    // unseen bigram, seen history 'a': p = k/(c1 + kV) = 0.5/4
    assert(out(11L)._2 === 1L)
    assert(math.abs(out(11L)._3 - (-math.log(0.5 / 4.0))) < eps)
    // unseen history 'z': p = 1/V = 0.5
    assert(math.abs(out(12L)._3 - (-math.log(0.5))) < eps)
    // single-token doc: no bigrams, no row
    assert(!out.contains(13L))
  }

  test("fluent text scores lower than out-of-distribution junk") {
    val docs = Tables.documents(spark, SparkTestSession.sfTiny)
    val model = LanguageModel.trainBigrams(docs, "text")
    val typical = docs.select($"text").as[String].head()
    val probe = Seq((1L, typical), (2L, "zzq vvk qqj xxw zzq vvk qqj xxw"))
      .toDF("doc_id", "text")
    val scores = LanguageModel.scoreDocs(probe, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scores(1L) < scores(2L),
      s"in-distribution text must be more fluent: ${scores(1L)} vs ${scores(2L)}")
  }

  test("scoreDocs materializes the model once — no training aggregates in the scoring plan") {
    val train = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    val model = LanguageModel.trainBigrams(train, "text", k = 0.5)
    val probe = Seq((10L, "a b a")).toDF("doc_id", "text")
    val out = LanguageModel.scoreDocs(probe, "doc_id", "text", model, k = 0.5)
    val p = out.queryExecution.executedPlan.toString
    // Without the checkpoint barrier the model's training lineage (two
    // grouped aggregations) re-expands under EACH of the two scoring
    // joins. With it, the model side is checkpoint scans; the only
    // aggregates left are the per-doc rollup and the c1 dedup.
    assert(p.contains("ExistingRDD"),
      s"model side must be a checkpoint scan, not re-derived:\n$p")
    assert("HashAggregate".r.findAllIn(p).size <= 4,
      s"scoring plan re-expands the training aggregations:\n$p")
  }

  test("scoreDocs on an empty model fails with a clear message") {
    val train = Seq((1L, "solo")).toDF("doc_id", "text") // no 2+-token doc
    val model = LanguageModel.trainBigrams(train, "text")
    val probe = Seq((10L, "a b")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      LanguageModel.scoreDocs(probe, "doc_id", "text", model)
    }
    assert(e.getMessage.contains("no bigram"),
      s"unhelpful empty-model failure: ${e.getMessage}")
  }
}
