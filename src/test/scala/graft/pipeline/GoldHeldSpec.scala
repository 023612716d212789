package graft.pipeline

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** A gold view's driver-held result is bounded: a result past its row cap
  * fails the read, naming the view.
  */
class GoldHeldSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a gold view past its row cap fails its read, naming the view") {
    val ts = Timestamp.valueOf("2025-06-01 10:00:41")
    val silver = spark.createDataFrame(Seq("LAB", "PUG", "BOXER").zipWithIndex.map { case (b, i) =>
      Row(i, "M5V", true, b, b, b, b, true, java.sql.Date.valueOf("2025-06-01"), ts, ts,
        2024, "DOG")
    }.asJava, Model.silverSchema)
    val view = Gold.breedRankCitywide(Gold.src(silver))
    assert(new Gold.Held("v_breed_rank_citywide", view, 3).frame.collect().length == 3)
    val e = intercept[IllegalStateException] {
      new Gold.Held("v_breed_rank_citywide", view, 2).frame.collect()
    }
    assert(e.getMessage.contains("gold view v_breed_rank_citywide") &&
      e.getMessage.contains("more than 2 rows"), e.getMessage)
  }
}
