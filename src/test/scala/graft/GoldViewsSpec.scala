package graft

import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Rankings
import graft.pipeline.{Gold, Model}

/** The gold views that take a group total from a window over their one
  * aggregate answer exactly what the reference's CTE-and-JOIN shape
  * (notebooks/gold.py) answers — same rows, same schema, nullability
  * included — and plan one silver scan and no join.
  */
class GoldViewsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The reference's shape: a second aggregate for the group total,
    * joined back on the group keys.
    */
  private object Joined {
    def totalsByYearType(src: DataFrame): DataFrame = {
      val totals = src.groupBy(col("Year"), col("ANIMAL_TYPE"))
        .agg(count(lit(1)).as("total_count"))
      val breedCounts = src.groupBy(col("Year"), col("ANIMAL_TYPE"), col("breed_standard"))
        .agg(count(lit(1)).as("breed_count"))
      val ranked = Rankings.topNPerGroup(
        Seq("ANIMAL_TYPE", "Year"),
        Seq(col("breed_count").desc, col("breed_standard").asc), 10,
        rankName = "popularity")(breedCounts)
      totals.join(ranked, Seq("Year", "ANIMAL_TYPE"))
        .select(col("Year"), col("ANIMAL_TYPE"), col("total_count"),
          col("popularity"), col("breed_standard").as("Top_Breeds"),
          col("breed_count").as("Breed_Count"),
          round(lit(100.0) * col("breed_count") / col("total_count"), 2).as("top_breed_pct"))
    }

    private def top3Pivot(src: DataFrame, areaCol: String): DataFrame = {
      val keys = Seq("Year", "ANIMAL_TYPE", areaCol)
      val totals = src.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("total"))
      val byBreed = src.groupBy(col("Year"), col("ANIMAL_TYPE"), col(areaCol), col("breed"))
        .agg(count(lit(1)).as("cnt"))
      val ranked = Rankings.topNPerGroup(keys,
        Seq(col("cnt").desc, col("breed").asc), 3)(byBreed)
      val pivoted = ranked.groupBy(col("Year"), col("ANIMAL_TYPE"), col(areaCol))
        .agg(
          max(when(col("rnk") === 1, col("breed"))).as("top1_breed"),
          max(when(col("rnk") === 1, col("cnt"))).as("top1_cnt"),
          max(when(col("rnk") === 2, col("breed"))).as("top2_breed"),
          max(when(col("rnk") === 2, col("cnt"))).as("top2_cnt"),
          max(when(col("rnk") === 3, col("breed"))).as("top3_breed"),
          max(when(col("rnk") === 3, col("cnt"))).as("top3_cnt"))
      pivoted.join(totals, Seq("Year", "ANIMAL_TYPE", areaCol))
        .select(col("Year"), col("ANIMAL_TYPE").as("Animal_Type"), col(areaCol),
          col("total"), col("top1_breed"), col("top1_cnt"),
          col("top2_breed"), col("top2_cnt"), col("top3_breed"), col("top3_cnt"))
    }

    def fsaTop3Breeds(src: DataFrame): DataFrame =
      top3Pivot(
        src.filter(col("FSA").isNotNull)
          .select(col("Year"), col("ANIMAL_TYPE"), col("FSA"),
            col("breed_standard").as("breed")),
        "FSA")

    def fsa2Top3Breeds(src: DataFrame): DataFrame =
      top3Pivot(
        src.filter(col("FSA").isNotNull && length(col("FSA")) >= 2)
          .select(col("Year"), col("ANIMAL_TYPE"),
            substring(col("FSA"), 1, 2).as("FSA2"),
            col("breed_standard").as("breed")),
        "FSA2")

    def breedShareCitywide(src: DataFrame): DataFrame = {
      val c = src.groupBy(col("Year"), col("ANIMAL_TYPE"),
        col("breed_standard").as("breed"))
        .agg(count(lit(1)).as("cnt"))
      val t = c.groupBy(col("Year"), col("ANIMAL_TYPE"))
        .agg(sum("cnt").as("tot"))
      c.join(t, Seq("Year", "ANIMAL_TYPE"))
        .select(col("Year"), col("ANIMAL_TYPE"), col("breed"), col("cnt"),
          round(col("cnt") / col("tot"), 4).as("share"))
    }
  }

  private val views: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("v_totals_by_year_type", Gold.totalsByYearType, Joined.totalsByYearType),
    ("v_fsa_top3_breeds", Gold.fsaTop3Breeds, Joined.fsaTop3Breeds),
    ("v_fsa2_top3_breeds", Gold.fsa2Top3Breeds, Joined.fsa2Top3Breeds),
    ("v_breed_share_citywide", Gold.breedShareCitywide, Joined.breedShareCitywide))

  /** (Year, ANIMAL_TYPE, FSA, breed_standard, rows). 2023 DOG has 13
    * breeds with a tie across the top-10 cut; 2023 CAT has 2 and 2024 DOG
    * has 1; FSA groups hold 1 to 5 breeds with ties, plus null FSA and an
    * FSA shorter than 2 characters. The last three specs are rows `src`
    * drops: null Year, a type outside the whitelist, a null breed.
    */
  private val specs: Seq[(Integer, String, String, String, Int)] =
    (1 to 13).map(i => (Integer.valueOf(2023), "DOG", if (i % 2 == 0) "M5V" else "M4C",
      f"BREED$i%02d", if (i <= 8) 20 - i else 3)) ++ Seq[(Integer, String, String, String, Int)](
      (2023, "DOG", "M5V", "BREED01", 2),
      (2023, "DOG", null, "BREED02", 4),
      (2023, "DOG", "M", "BREED03", 1),
      (2023, "CAT", "M5V", "SIAMESE", 3),
      (2023, "CAT", "M5V", "PERSIAN", 3),
      (2023, "CAT", "K1A", "SIAMESE", 1),
      (2023, "CAT", null, "PERSIAN", 2),
      (2024, "DOG", "L4B", "POODLE", 5),
      (2024, "DOG", "L", "POODLE", 1),
      (2024, "CAT", "K2B", "TABBY", 2),
      (2024, "CAT", "K2B", "MAINE COON", 2),
      (2024, "CAT", "K2B", "SPHYNX", 2),
      (2024, "CAT", "K2B", "RAGDOLL", 2),
      (2024, "CAT", "K2C", "TABBY", 1),
      (null, "DOG", "M5V", "BREED01", 2),
      (2024, "BIRD", "M5V", "PARROT", 2),
      (2024, "DOG", "M5V", null, 2))

  private def withSilver(body: DataFrame => Unit): Unit = {
    val s = spark
    import s.implicits._
    val ts = Timestamp.valueOf("2025-06-01 10:00:00")
    val rows = specs.flatMap { case (y, t, fsa, breed, n) => Seq.fill(n)((y, t, fsa, breed)) }
      .zipWithIndex.map { case ((y, t, fsa, breed), i) =>
        (i, Option(y).map(_.intValue), t, fsa, fsa != null, breed, breed, breed, breed,
          i % 3 != 0, Date.valueOf("2025-06-01"), ts, ts)
      }
    val root: Path = Files.createTempDirectory("graft-gold-views")
    try {
      rows.toDF("_id", "Year", "ANIMAL_TYPE", "FSA", "FSA_VALID", "PRIMARY_BREED",
        "breed_raw", "breed_variant_key", "breed_standard", "breed_mapped",
        "ingestion_date", "ingestion_ts", "processed_ts")
        .write.partitionBy(Model.PartitionCols: _*).parquet(s"$root/silver")
      body(spark.read.parquet(s"$root/silver"))
    } finally {
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  test("one-aggregate views return the join shape's rows and schema") {
    withSilver { silver =>
      val src = Gold.src(silver)
      // the fixture cuts a group at the top 10: its total counts breeds
      // the view does not show
      val cut = Joined.totalsByYearType(src).groupBy("Year", "ANIMAL_TYPE")
        .agg(max("total_count").as("total"), sum("Breed_Count").as("shown"))
        .filter(col("total") > col("shown"))
      assert(cut.count() == 1)
      views.foreach { case (name, view, oracle) =>
        val got = view(src)
        val want = oracle(src)
        assert(got.schema == want.schema, s"$name schema")
        assert(got.exceptAll(want).isEmpty, s"$name has rows the join shape lacks")
        assert(want.exceptAll(got).isEmpty, s"$name lacks rows of the join shape")
        assert(got.count() > 0, s"$name is empty")
      }
    }
  }

  test("each one-aggregate view plans one silver scan and no join") {
    withSilver { silver =>
      views.foreach { case (name, view, _) =>
        val plan = view(Gold.src(silver)).queryExecution.optimizedPlan
        assert(plan.collect { case j: Join => j }.isEmpty, s"$name joins:\n$plan")
        assert(plan.collect { case r: LogicalRelation => r }.size == 1,
          s"$name scans silver more than once:\n$plan")
      }
    }
  }
}
