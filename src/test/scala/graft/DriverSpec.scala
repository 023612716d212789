package graft

import org.scalatest.funsuite.AnyFunSuite

class DriverSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("collectBounded returns every row at the cap and fails loudly past it") {
    val atCap = spark.range(5).toDF("id")
    assert(Driver.collectBounded(atCap, 5, "five ids").map(_.getLong(0)).sorted
      .sameElements(0L until 5L))
    val e = intercept[IllegalStateException] {
      Driver.collectBounded(spark.range(6).toDF("id"), 5, "six ids")
    }
    assert(e.getMessage.contains("six ids") && e.getMessage.contains("5"))
  }
}
