package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Merge, Standardize}

/** Breed reference dim maintenance (reference: sql/breed_mapping.py —
  * literal VALUES relation → key normalization → dedup by max →
  * MERGE upsert → silver backfill → coverage diagnostics).
  *
  * The full curated dim (the reference's ~552 variant→standard VALUES
  * rows, sql/breed_mapping.py:19-578) ships as a TSV resource —
  * curation is data, not engine — loaded by `referencePairs`.
  * `upsertMapping` emulates MERGE with the library's full-outer-join
  * upsert (no Delta in this environment).
  *
  * Scale notes: `normalizedUpdates` normalizes and deduplicates its pairs
  * on the driver and returns a local relation, so neither building the
  * 552-pair `referenceDim` nor broadcasting it into silver's enrichment
  * join launches a Spark job.
  */
object BreedMapping {

  /** The reference's complete curated pair list (sql/breed_mapping.py:
    * 19-578), transcribed as data: one `variant<TAB>standard` row per
    * VALUES tuple, duplicates included (the normalize→dedup contract
    * collapses them exactly like the reference's GROUP BY).
    */
  lazy val referencePairs: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/breed_mapping_pairs.tsv")
    require(in != null, "missing resource graft/breed_mapping_pairs.tsv")
    try
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.stripSuffix("\r")) // tolerate a CRLF checkout
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { line =>
          val parts = line.split("\t", 2)
          require(parts.length == 2 && parts.forall(_.trim.nonEmpty),
            s"breed_mapping_pairs.tsv: malformed line '$line' (want variant<TAB>standard)")
          (parts(0), parts(1))
        }.toVector
    finally in.close()
  }

  /** Small inline subset kept for fast mechanism tests. */
  val seedPairs: Seq[(String, String)] = Seq(
    "Golden Retr" -> "GOLDEN RETRIEVER",
    "GOLDEN RETRIEVER" -> "GOLDEN RETRIEVER",
    "German Shepard" -> "GERMAN SHEPHERD DOG",
    "GERMAN SHEPHERD" -> "GERMAN SHEPHERD DOG",
    "Lab. Retriever" -> "LABRADOR RETRIEVER",
    "LABRADOR" -> "LABRADOR RETRIEVER",
    "D.S.H." -> "DOMESTIC SHORTHAIR",
    "DSH" -> "DOMESTIC SHORTHAIR",
    "Domestic Short Hair" -> "DOMESTIC SHORTHAIR",
    "D.M.H." -> "DOMESTIC MEDIUMHAIR",
    "MIX" -> "MIXED BREED",
    "Mixed" -> "MIXED BREED",
    "SHIH-TZU" -> "SHIH TZU",
    "Poodle (Toy)" -> "POODLE TOY")

  /** The full dim, normalized and deduplicated — what a deployment loads. */
  def referenceDim(spark: SparkSession): DataFrame =
    normalizedUpdates(spark, referencePairs)

  /** The schema of the mapping dim `normalizedUpdates` returns. */
  val dimSchema: StructType = StructType(Seq(
    StructField("breed_variant_key", StringType),
    StructField("breed_standard", StringType)))

  /** Build the normalized, deduplicated mapping updates from raw pairs
    * (reference: breed_mapping.py:581-593 — normalize with the SAME
    * expression silver uses, then max(breed_standard) per key). The
    * projection over the local pairs collects without a Spark job; the max
    * per key is taken on the driver under Spark's string order, as `max`
    * does, and the result is a local relation.
    */
  def normalizedUpdates(spark: SparkSession, pairs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val normalized = pairs.toDF("breed_raw", "breed_standard")
      .select(Standardize.normalizedKey(col("breed_raw")),
        upper(trim(col("breed_standard"))))
      .collect()
    val rows = normalized.groupBy(_.getString(0)).map { case (key, group) =>
      Row(key, group.flatMap(r => Option(r.getString(1)))
        .maxByOption(UTF8String.fromString).orNull)
    }
    spark.createDataFrame(rows.toSeq.asJava, dimSchema)
  }

  /** MERGE-upsert updates into the dim (reference: breed_mapping.py:596-603). */
  def upsertMapping(current: DataFrame, updates: DataFrame): DataFrame =
    Merge.upsert(current, updates, Seq("breed_variant_key"))

  /** Backfill already-written silver rows from a refreshed dim
    * (reference: breed_mapping.py:609-618): matched rows get the new
    * standard + mapped=true; everything else untouched.
    */
  def backfillSilver(silver: DataFrame, mapping: DataFrame): DataFrame = {
    val m = broadcast(mapping.select(col("breed_variant_key"),
      col("breed_standard").as("__new_standard")))
    silver.join(m, Seq("breed_variant_key"), "left")
      .withColumn("breed_standard", coalesce(col("__new_standard"), col("breed_standard")))
      .withColumn("breed_mapped", col("breed_mapped") || col("__new_standard").isNotNull)
      .drop("__new_standard")
  }

  /** Coverage diagnostics (reference: breed_mapping.py:623-648): unmapped
    * keys by frequency + overall coverage pct via 1x1 cross join.
    */
  def unmappedKeys(silver: DataFrame, mapping: DataFrame): DataFrame =
    silver.select("breed_variant_key")
      .join(mapping.select("breed_variant_key"), Seq("breed_variant_key"), "left_anti")
      .groupBy("breed_variant_key").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("breed_variant_key").asc)

  def coveragePct(silver: DataFrame): DataFrame = {
    val total = silver.agg(count(lit(1)).as("total_rows"))
    val mapped = silver.filter(col("breed_mapped"))
      .agg(count(lit(1)).as("mapped_rows"))
    total.crossJoin(mapped)
      .withColumn("pct_mapped",
        when(col("total_rows") === 0, lit(null).cast("double"))
          .otherwise(lit(100.0) * col("mapped_rows") / col("total_rows")))
  }
}
