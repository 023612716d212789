package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite {

  test("listener totals match a query of known job, task and shuffle shape") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try assert(Recorder.selfCheck(spark) == Nil)
    finally spark.stop()
  }

  test("job spans are merged before they are subtracted from wall time") {
    assert(Recorder.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Recorder.unionMs(Seq((5L, 5L))) == 0L)
    assert(Recorder.unionMs(Nil) == 0L)
  }
}
