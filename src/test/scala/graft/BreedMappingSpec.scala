package graft

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Enrich, Standardize}
import graft.pipeline.BreedMapping

/** The full curated dim (reference sql/breed_mapping.py:19-578, shipped
  * as a TSV resource) and the runbook's coverage arithmetic
  * (docs/runbook.md:89-93) over a fixture.
  */
class BreedMappingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("reference dim loads all curated pairs, normalized and deduplicated") {
    assert(BreedMapping.referencePairs.size == 552)
    val dim = BreedMapping.referenceDim(spark)
    val rows = dim.as[(String, String)].collect().toMap
    // 487 distinct raw keys; normalization (strip non-alnum) merges the
    // spaced variants ('BOSTON TERRIER', 'BORDERTER RIER') into their
    // compact twins → 486
    assert(rows.size == 486, s"distinct normalized keys, got ${rows.size}")
    // keys obey silver's normalization contract (upper, alnum only)
    assert(rows.keys.forall(_.matches("^[A-Z0-9]+$")))
    // spot checks incl. the one escaped-quote standard value
    assert(rows("GOLDENRETR") == "GOLDEN RETRIEVER")
    assert(rows("DSH") == "DOMESTIC SHORTHAIR")
    assert(rows("GERMANSHEPARD") == "GERMAN SHEPHERD DOG")
    assert(rows("CIRNECO") == "CIRNECO DELL'ETNA")
    // conflicting duplicates resolve by max(breed_standard) — the
    // reference's OWN dedup rule (breed_mapping.py:590-593): the curated
    // list maps SHIHTZU to both 'SHIHTZU' and 'SHIH TZU', and max picks
    // 'SHIHTZU' there exactly as the reference deployment does
    assert(rows("SHIHTZU") == "SHIHTZU")
  }

  /** The reference's normalize-then-max dedup as a Spark aggregate. */
  private def aggregated(pairs: Seq[(String, String)]) =
    pairs.toDF("breed_raw", "breed_standard")
      .select(Standardize.normalizedKey(col("breed_raw")).as("breed_variant_key"),
        upper(trim(col("breed_standard"))).as("breed_standard"))
      .groupBy("breed_variant_key")
      .agg(max("breed_standard").as("breed_standard"))

  test("normalizedUpdates equals Spark's normalize-and-max aggregate, as a local relation") {
    // beyond the curated pairs: null variant and standards, and two
    // standards whose UTF-16 order differs from Spark's (UTF-8 byte) order
    val edge: Seq[(String, String)] = Seq((null, "A"), ("n", null), ("n2", null), ("n2", "b"),
      ("k", "\uFFFF"), ("k", "\uD83D\uDE00"))
    for (pairs <- Seq(BreedMapping.referencePairs, BreedMapping.referencePairs ++ edge, edge)) {
      val dim = BreedMapping.normalizedUpdates(spark, pairs)
      val want = aggregated(pairs)
      assert(dim.schema == want.schema) // nullability included
      assert(dim.exceptAll(want).isEmpty, "dim rows the aggregate lacks")
      assert(want.exceptAll(dim).isEmpty, "aggregate rows the dim lacks")
      assert(dim.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        dim.queryExecution.optimizedPlan)
    }
    val k = BreedMapping.normalizedUpdates(spark, edge)
      .filter(col("breed_variant_key") === "K").as[(String, String)].collect()
    assert(k.toSeq == Seq(("K", "\uD83D\uDE00")))
  }

  test("building and collecting the reference dim launches no Spark job") {
    assert(SparkTestSession.jobs(
      assert(BreedMapping.referenceDim(spark).collect().length == 486)) == 0)
  }

  test("runbook coverage arithmetic reproduces over a fixture silver") {
    val dim = BreedMapping.referenceDim(spark)
    // 10 rows: 7 breeds the dim maps, 3 it does not
    val breeds = Seq(
      "Golden Retr", "golden retr", "Labrador Retr", "D.S.H.", "Mix",
      "German Shepard", "Domestic Short Hair",
      "Unicorn Breed", "UNICORN BREED", "Basilisk")
    val silverish = breeds.zipWithIndex
      .map { case (b, i) => (i.toLong, b) }.toDF("_id", "PRIMARY_BREED")
      .withColumn("breed_raw", upper(trim(col("PRIMARY_BREED"))))
      .withColumn("breed_variant_key", Standardize.normalizedKey(col("breed_raw")))
    val mapped = Enrich.fromDim(
      silverish, dim.select("breed_variant_key", "breed_standard"),
      "breed_variant_key", "breed_standard",
      "breed_standard", "breed_raw", "breed_mapped")

    // runbook.md:89-93: unmapped count + pct_mapped ratio
    val cov = BreedMapping.coveragePct(mapped).first()
    assert(cov.getAs[Long]("total_rows") == 10L)
    assert(cov.getAs[Long]("mapped_rows") == 7L)
    assert(math.abs(cov.getAs[Double]("pct_mapped") - 70.0) < 1e-9)

    // unmappedKeys: frequency-ordered distinct keys absent from the dim
    val unmapped = BreedMapping.unmappedKeys(mapped, dim)
      .as[(String, Long)].collect().toSeq
    assert(unmapped == Seq(("UNICORNBREED", 2L), ("BASILISK", 1L)))
  }

  test("silver enrichment with the full dim maps known variants, falls back on unknown") {
    val dim = BreedMapping.referenceDim(spark)
    val out = Enrich.fromDim(
      Seq((1L, "GOLDENRETR"), (2L, "NOSUCHBREED")).toDF("_id", "k")
        .withColumn("breed_raw", col("k"))
        .withColumn("breed_variant_key", col("k")),
      dim.select("breed_variant_key", "breed_standard"),
      "breed_variant_key", "breed_standard",
      "breed_standard", "breed_raw", "breed_mapped")
      .select("_id", "breed_standard", "breed_mapped")
      .as[(Long, String, Boolean)].collect().toMap2
    assert(out(1L) == ("GOLDEN RETRIEVER", true))
    assert(out(2L) == ("NOSUCHBREED", false))
  }

  implicit class RowsOps(rows: Array[(Long, String, Boolean)]) {
    def toMap2: Map[Long, (String, Boolean)] =
      rows.map(r => r._1 -> (r._2, r._3)).toMap
  }
}
