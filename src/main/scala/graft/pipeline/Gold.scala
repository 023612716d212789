package graft.pipeline

import java.lang.ref.WeakReference
import java.util.{Collections, WeakHashMap}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternal
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.Driver
import graft.operators.{Aggregates, Rankings}

/** Gold analytic view layer (reference: notebooks/gold.py — 8 views over
  * one source view). Each view is a plain `DataFrame => DataFrame`
  * function (SURVEY.md §1.3: testable, no catalog dependency); use
  * `registerAll` for a temp-view façade when SQL access is wanted.
  *
  * Scale notes: each view aggregates silver once, on low-cardinality keys
  * (Year × ANIMAL_TYPE × breed/FSA), and takes a group total as a window
  * sum over those counts, never from a second aggregate joined back.
  * Partial aggregation collapses the fact rows map-side, so the shuffles
  * move group cardinality, not data volume. A top-N view's rank limit runs
  * above the total's window, so not map-side: its window exchange moves
  * every per-breed count (fewer jobs, more shuffle bytes). Collecting a
  * view's builder runs 3 Spark jobs (quality 2; breed stats and daily
  * totals 4). The source view's filters push down into the silver scan
  * (partition pruning on Year). `registerAll` analyses the ten views once
  * per silver snapshot: a call over unchanged silver input files registers
  * nothing. Its eight aggregate views hold their results on the driver:
  * the first read of a view per snapshot collects the builder (at most
  * `Driver.MaxRows` rows), and every later `SELECT *` is answered on the
  * driver with no Spark job.
  */
object Gold {

  /** Source view (gold.py:12-25): valid-year, whitelisted type,
    * non-null standard breed.
    */
  def src(silver: DataFrame): DataFrame =
    silver
      .filter(col("Year").isNotNull &&
        col("ANIMAL_TYPE").isin(Model.AnimalTypes: _*) &&
        col("breed_standard").isNotNull)
      .select("_id", "Year", "ANIMAL_TYPE", "FSA", "breed_standard",
        "breed_mapped", "ingestion_ts", "processed_ts")

  /** v_totals_by_year_type (gold.py:32-73): top-10 breeds per Year × type
    * with share of the group total.
    */
  def totalsByYearType(src: DataFrame): DataFrame = {
    // topNPerGroup's keys, in its order, so both windows share one exchange
    val keys = Seq("ANIMAL_TYPE", "Year")
    val counted = breedCounts(src).withColumn("total_count", groupTotal("cnt", keys))
    Rankings.topNPerGroup(keys, Seq(col("cnt").desc, col("breed").asc), 10,
      rankName = "popularity")(counted)
      .select(col("Year"), col("ANIMAL_TYPE"), col("total_count"),
        col("popularity"), col("breed").as("Top_Breeds"), col("cnt").as("Breed_Count"),
        round(lit(100.0) * col("cnt") / col("total_count"), 2).as("top_breed_pct"))
  }

  /** v_breed_stats (gold.py:88-136): share + rank + LAG year-over-year
    * deltas on count and share.
    */
  def breedStats(src: DataFrame): DataFrame = {
    val group = Window.partitionBy("Year", "ANIMAL_TYPE")
    val series = Window.partitionBy("ANIMAL_TYPE", "breed").orderBy("Year")
    val withShare = breedCounts(src)
      .withColumn("total_in_group", sum("cnt").over(group))
      .withColumn("rnk", rank().over(group.orderBy(col("cnt").desc, col("breed").asc)))
      .withColumn("share", round(col("cnt") / col("total_in_group"), 4))
    withShare
      .withColumn("prev_cnt", lag("cnt", 1).over(series))
      .withColumn("prev_share", lag("share", 1).over(series))
      .select(
        col("Year"), col("ANIMAL_TYPE").as("Animal_Type"), col("breed"),
        col("cnt"), col("total_in_group").as("total"), col("share"),
        col("rnk").as("rank_in_year_type"), col("prev_cnt"),
        (col("cnt") - col("prev_cnt")).as("yoy_cnt_diff"),
        when(col("prev_cnt") > 0,
          round((col("cnt") - col("prev_cnt")) / col("prev_cnt"), 4))
          .as("yoy_cnt_pct_change"),
        col("prev_share"),
        round(col("share") - col("prev_share"), 4).as("yoy_share_point_diff"),
        when(col("prev_share") > 0,
          round((col("share") - col("prev_share")) / col("prev_share"), 4))
          .as("yoy_share_pct_change"))
  }

  /** Shared shape of v_fsa_top3_breeds / v_fsa2_top3_breeds
    * (gold.py:149-208, 219-278): per-area top-3 pivoted to columns.
    */
  private def top3Pivot(src: DataFrame, area: Column, areaCol: String): DataFrame = {
    val keys = Seq("Year", "ANIMAL_TYPE", areaCol)
    val byBreed = src.groupBy(col("Year"), col("ANIMAL_TYPE"), area.as(areaCol),
      col("breed_standard").as("breed"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("total", groupTotal("cnt", keys))
    val ranked = Rankings.topNPerGroup(keys,
      Seq(col("cnt").desc, col("breed").asc), 3)(byBreed)
    // `total` is constant within a group, so grouping on it keeps the groups
    // and places it before the picks
    ranked.groupBy((keys :+ "total").map(col): _*)
      .agg(
        max(when(col("rnk") === 1, col("breed"))).as("top1_breed"),
        max(when(col("rnk") === 1, col("cnt"))).as("top1_cnt"),
        max(when(col("rnk") === 2, col("breed"))).as("top2_breed"),
        max(when(col("rnk") === 2, col("cnt"))).as("top2_cnt"),
        max(when(col("rnk") === 3, col("breed"))).as("top3_breed"),
        max(when(col("rnk") === 3, col("cnt"))).as("top3_cnt"))
      .withColumnRenamed("ANIMAL_TYPE", "Animal_Type")
  }

  /** v_fsa_top3_breeds (gold.py:149-208). */
  def fsaTop3Breeds(src: DataFrame): DataFrame =
    top3Pivot(src.filter(col("FSA").isNotNull), col("FSA"), "FSA")

  /** v_fsa2_top3_breeds (gold.py:219-278): 2-char FSA prefix variant. */
  def fsa2Top3Breeds(src: DataFrame): DataFrame =
    top3Pivot(src.filter(col("FSA").isNotNull && length(col("FSA")) >= 2),
      substring(col("FSA"), 1, 2), "FSA2")

  /** licensed_pets_gold_quality (gold.py:289-309) — reads silver directly. */
  def quality(silver: DataFrame): DataFrame =
    silver.groupBy(col("Year"), col("ANIMAL_TYPE"))
      .agg(
        count(lit(1)).as("rows"),
        Aggregates.conditionalCount(col("breed_mapped")).as("mapped_rows"),
        Aggregates.conditionalCount(col("FSA").isNull).as("null_fsa_rows"),
        max(col("processed_ts")).as("last_processed_ts"))
      .select(col("Year"), col("ANIMAL_TYPE"), col("rows"), col("mapped_rows"),
        when(col("rows") === 0, lit(null).cast("double"))
          .otherwise(col("mapped_rows").cast("double") / col("rows")).as("pct_mapped"),
        col("null_fsa_rows"), col("last_processed_ts"))

  /** v_daily_totals (gold.py:323-329). */
  def dailyTotals(src: DataFrame): DataFrame =
    src.groupBy(to_date(col("ingestion_ts")).as("day"), col("ANIMAL_TYPE"))
      .agg(count(lit(1)).as("total"))
      .orderBy("day")

  /** v_breed_share_citywide (gold.py:341-353): each breed's share of its
    * Year × type total.
    */
  def breedShareCitywide(src: DataFrame): DataFrame =
    breedCounts(src).withColumn("share",
      round(col("cnt") / groupTotal("cnt", Seq("Year", "ANIMAL_TYPE")), 4))

  /** v_breed_rank_citywide (gold.py:364-373). */
  def breedRankCitywide(src: DataFrame): DataFrame =
    breedCounts(src).withColumn("rnk", row_number().over(
      Window.partitionBy("Year", "ANIMAL_TYPE")
        .orderBy(col("cnt").desc, col("breed").asc)))

  /** Rows per Year × type × breed: the one aggregate of the breed views. */
  private def breedCounts(src: DataFrame): DataFrame =
    src.groupBy(col("Year"), col("ANIMAL_TYPE"), col("breed_standard").as("breed"))
      .agg(count(lit(1)).as("cnt"))

  /** Sum of `counts` over the group: its row count, as `src` has no null
    * breed. Coalesced so that it stays non-null like a count.
    */
  private def groupTotal(counts: String, keys: Seq[String]): Column =
    coalesce(sum(counts).over(Window.partitionBy(keys.map(col): _*)), lit(0L))

  /** The temp views `registerAll` creates, silver first. */
  private[graft] val viewNames = Seq("licensed_pets_silver",
    "licensed_pets_gold_src", "v_totals_by_year_type", "v_breed_stats",
    "v_fsa_top3_breeds", "v_fsa2_top3_breeds", "licensed_pets_gold_quality",
    "v_daily_totals", "v_breed_share_citywide", "v_breed_rank_citywide")

  /** What `registerAll` last stored in a session: silver's sorted input
    * files, the session time zone the views were analysed under, and the
    * raw temp-view relations, in `viewNames` order. The relations are held
    * weakly, as they reach the session that keys this map; while a view
    * stays registered its catalog holds it.
    */
  private final case class Registered(files: Seq[String], timeZone: String,
      views: Seq[WeakReference[TemporaryViewRelation]])

  private val registered =
    Collections.synchronizedMap(new WeakHashMap[SparkSession, Registered])

  /** Optional SQL façade: register silver + every view as temp views.
    *
    * Scale notes: registering analyses ten views, which costs more than a
    * re-run's bronze and silver together. So a second call in the same live
    * session over unchanged silver returns without touching the catalog:
    * when the session still holds the ten views this method stored, silver
    * has the same non-empty input files and a plan with the same result,
    * and the session time zone (which fixes `v_daily_totals`' day buckets
    * at analysis) is unchanged. Other settings Spark applies at analysis
    * are assumed unchanged between the two calls. A silver that gained a
    * file, an in-memory silver, a new session (a fresh process), or any
    * view dropped or replaced since, registers all ten again.
    *
    * The eight aggregate views are registered over their results held
    * on the driver (see [[Held]]): registering launches no job, the first
    * read of a view collects its builder once, and every later `SELECT *`
    * is a local scan that launches no job; SQL that filters or projects
    * runs one small job over the held rows. Each result is keyed by
    * Year × type × {breed, FSA, FSA2, day}, so its size follows key
    * cardinality, not silver rows, and a collect past `Driver.MaxRows` rows
    * fails the read. Nothing is persisted: the rows live as long as the
    * temp view that reads them, so a session holds at most eight such
    * results, and a view dropped or replaced lets its rows go. The
    * row-level silver and source views stay plain.
    */
  def registerAll(silver: DataFrame): Unit = {
    val spark = silver.sparkSession
    val catalog = spark.sessionState.catalog
    val files = silver.inputFiles.sorted.toSeq
    val timeZone = spark.sessionState.conf.sessionLocalTimeZone
    val same = Option(registered.get(spark)).exists { r =>
      val current = r.views.map(_.get)
      files.nonEmpty && r.files == files && r.timeZone == timeZone &&
        viewNames.zip(current).forall { case (name, v) =>
          catalog.getRawTempView(name).exists(_ eq v)
        } &&
        current.head.plan.exists(_.sameResult(silver.queryExecution.analyzed))
    }
    if (same) return

    val s = src(silver)
    silver.createOrReplaceTempView("licensed_pets_silver")
    s.createOrReplaceTempView("licensed_pets_gold_src")
    held(totalsByYearType(s), "v_totals_by_year_type")
    held(breedStats(s), "v_breed_stats")
    held(fsaTop3Breeds(s), "v_fsa_top3_breeds")
    held(fsa2Top3Breeds(s), "v_fsa2_top3_breeds")
    held(quality(silver), "licensed_pets_gold_quality")
    held(dailyTotals(s), "v_daily_totals")
    held(breedShareCitywide(s), "v_breed_share_citywide")
    held(breedRankCitywide(s), "v_breed_rank_citywide")
    registered.put(spark, Registered(files, timeZone,
      viewNames.map(n => new WeakReference(catalog.getRawTempView(n).get))))
  }

  /** Register `view` as `name` over its result held on the driver. */
  private def held(view: DataFrame, name: String): Unit =
    new Held(name, view, Driver.MaxRows).frame.createOrReplaceTempView(name)

  /** A gold view's result, held on the driver for the views registered
    * over one silver snapshot. Its scan is a `LocalScan`, which Spark plans
    * as a `LocalTableScanExec`, so a read is answered from the held rows.
    * The first read collects `view` through `Driver.collectBounded` with
    * `cap`, naming the view, and keeps the rows as compact `UnsafeRow`
    * copies; a read that fails leaves nothing held, so the next one
    * collects again.
    */
  private[pipeline] final class Held(viewName: String, view: DataFrame, cap: Int)
      extends Table with SupportsRead {
    private val readSchema = view.schema
    private lazy val rows: Array[InternalRow] = {
      val toRow = ExpressionEncoder(readSchema, true).createSerializer()
      Driver.collectBounded(view, cap, s"gold view $viewName").map(toRow(_).copy())
    }

    override def name(): String = viewName
    override def schema(): StructType = readSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new LocalScan {
          override def readSchema(): StructType = Held.this.readSchema
          override def rows(): Array[InternalRow] = Held.this.rows
        }
      }

    /** A DataFrame that reads this table. */
    def frame: DataFrame = GraftInternal.ofPlan(view.sparkSession,
      DataSourceV2Relation.create(this, None, None))
  }
}
