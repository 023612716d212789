package graft.pipeline

import java.sql.Timestamp
import java.time.LocalDate
import java.time.format.DateTimeParseException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.BatchLedger
import Model.ledgerSchema

/** Run ledger (reference: notebooks/bronze.py:41-56 `pets.core.load_control`):
  * whole-run skip detection for incremental batch ingestion. Plain parquet
  * append — the reference's own idempotency never needs ACID because the
  * pipeline is single-writer (SURVEY.md §7.4).
  *
  * Layout: partitioned by (dataset, ingestion_date), so a run's row lives
  * under `dataset=<d>/ingestion_date=<yyyy-MM-dd>` and the probe is a
  * directory listing. Actions per run: a probe launches no Spark job; a
  * record is one 1-row write.
  *
  * A ledger written before the partitioned layout holds flat files at its
  * root. The probe still answers from them, with one scan and a warning,
  * whenever the partitioned layout has no row for the day. Because the two
  * layouts conflict under partition discovery, read such a mixed ledger one
  * layout at a time.
  */
object LoadControl {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** True iff (dataset, ingestionDate) was already loaded: a data file
    * sits in the day's partition directory, or a flat ledger file names
    * the day.
    */
  def alreadyLoaded(spark: SparkSession, dir: String, dataset: String,
      ingestionDate: String): Boolean = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val day = parse(ingestionDate)
    BatchLedger.hasDataFile(fs, new Path(root, s"dataset=$dataset/ingestion_date=$day")) ||
      fs.exists(root) && {
        val flat = fs.listStatus(root).filter(BatchLedger.isDataFile)
        flat.nonEmpty && {
          log.warn(s"load ledger $dir holds ${flat.length} flat file(s) written " +
            s"before the ledger was partitioned; scanning them for ($dataset, $day)")
          !spark.read.schema(ledgerSchema).parquet(flat.toSeq.map(_.getPath.toString): _*)
            .filter(col("dataset") === dataset && col("ingestion_date") === lit(day))
            .isEmpty
        }
      }
  }

  /** Append the run record (reference: bronze.py:119-122 INSERT VALUES). */
  def record(spark: SparkSession, dir: String, dataset: String,
      ingestionDate: String, now: Timestamp): Unit = {
    import spark.implicits._
    Seq((dataset, parse(ingestionDate), now)).toDF("dataset", "ingestion_date", "loaded_ts")
      .write.partitionBy("dataset", "ingestion_date").mode("append").parquet(dir)
  }

  /** The run date; its `toString` is the partition directory Spark writes. */
  private def parse(ingestionDate: String): LocalDate =
    try LocalDate.parse(ingestionDate)
    catch {
      case e: DateTimeParseException => throw new IllegalArgumentException(
        s"invalid ingestion_date '$ingestionDate' (want yyyy-MM-dd)", e)
    }
}
