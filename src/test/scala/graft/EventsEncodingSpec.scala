package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The events table's physical `ts` encoding is not under our control —
  * driver testdata drops have shipped INT64 TIMESTAMP(NANOS) (read as
  * long via the legacy flag), TIMESTAMP(MICROS, NTZ), and plain
  * TIMESTAMP(MICROS) at different times, and a silent swap once zeroed
  * out the entire temporal query family for a round. This spec pins
  * `Tables.events`' encoding adaptivity: the SAME logical events
  * written in all three encodings must normalize to identical
  * session-zoned micros and produce identical q50/q39 answers.
  */
class EventsEncodingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic corpus: 4 users × 60 events at 0/10/45-minute gaps
    * (so 1800-s sessionization actually splits), every 5th a purchase.
    * `ts` is epoch MICROS as long; encoders derive their physical form.
    */
  private lazy val base: DataFrame = {
    val epoch0 = 1700000000000000L // 2023-11-14T22:13:20Z in micros
    (0 until 240).map { i =>
      val user = i % 4
      val step = (i / 4).toLong
      val gapUs = (step % 3) match {
        case 0 => 0L
        case 1 => 600L * 1000000
        case 2 => 2700L * 1000000
      }
      (i.toLong, epoch0 + step * 60000000L + gapUs * (step / 3 + 1), user.toLong,
        if (i % 5 == 0) "purchase" else "view", i * 1.25, s"p$i")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  private def writeDir(encode: DataFrame => DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-evenc").toString
    encode(base).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // the three physical encodings the testdata has actually shipped
  private lazy val longNanosDir = writeDir(
    _.withColumn("ts", col("ts") * 1000L)) // plain INT64 epoch nanos
  private lazy val ntzMicrosDir = writeDir(
    _.withColumn("ts", timestamp_micros(col("ts")).cast(TimestampNTZType)))
  private lazy val tzMicrosDir = writeDir(
    _.withColumn("ts", timestamp_micros(col("ts"))))

  private lazy val allDirs =
    Seq("int64-nanos" -> longNanosDir, "ntz-micros" -> ntzMicrosDir,
      "tz-micros" -> tzMicrosDir)

  test("every encoding normalizes to session-zoned TimestampType micros") {
    for ((name, dir) <- allDirs) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType,
        s"$name must normalize to TimestampType")
      val tsSet = ev.select(unix_micros(col("ts"))).as[Long].collect().sorted
      val expected = base.select(col("ts")).as[Long].collect().sorted
      assert(tsSet === expected, s"$name instants must be byte-identical")
    }
  }

  test("q50 sessionize and q39 as-of agree across all three encodings") {
    for (q <- Seq("q50_sessionize", "q39_asof_join")) {
      val results = allDirs.map { case (name, dir) =>
        name -> SparkEntry.queries(q)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
      }
      val (refName, refRows) = results.head
      assert(refRows.nonEmpty, s"$q returned no rows on $refName")
      for ((name, rows) <- results.tail)
        assert(rows === refRows, s"$q: $name disagrees with $refName")
    }
  }

  test("an unsupported encoding fails loudly, not silently") {
    val dir = writeDir(_.withColumn("ts", col("ts").cast("string")))
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unsupported events.ts encoding"))
  }
}
