package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Session]] is the one session policy. A JVM holds one SparkContext,
  * so the pure [[Session.conf]] is pinned here and the shared test
  * session is checked against it.
  */
class SessionSpec extends AnyFunSuite {

  private def policy(partitions: Int, advisory: Long) = Seq(
    "spark.sql.extensions" -> "graft.sources.v2.GraftSqlExtension",
    "spark.sql.shuffle.partitions" -> partitions.toString,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      partitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory.toString,
    "spark.ui.enabled" -> "false")

  test("conf pins partitions and advisory size across scales") {
    // no input: the core-count floor and the 1 MiB advisory floor
    assert(Session.conf(4, 0L) == policy(4, 1L << 20))
    // 100 MiB on 4 cores: still the core floor; advisory 100 MiB / 16
    assert(Session.conf(4, 100L << 20) == policy(4, (100L << 20) / 16))
    // sf100 on 32 cores: 16 GiB / 64 MiB = 256 partitions, advisory
    // capped at 64 MiB
    assert(Session.conf(32, 16L << 30) == policy(256, 64L << 20))
  }

  test("the test session runs the production policy at 4 cores") {
    val conf = SparkTestSession.spark.conf
    Session.conf(4, 0L).foreach { case (k, v) =>
      assert(conf.get(k) == v, s"test session diverges on $k")
    }
  }

  test("sizing a missing dir warns and returns 0") {
    val missing = java.nio.file.Files.createTempDirectory("graft-session")
      .resolve("absent").toString
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val bytes = try Session.inputBytes(missing) finally System.setErr(saved)
    assert(bytes == 0L)
    val warning = err.toString("UTF-8")
    assert(warning.contains("could not size") && warning.contains(missing),
      s"no warning on stderr: $warning")
  }

  test("src/main builds sessions only through graft.Session") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repository root: ${root.toAbsolutePath}")
    val factory = root.resolve("graft/Session.scala")
    val s = java.nio.file.Files.walk(root)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != factory)
        .filter(p => java.nio.file.Files.readString(p)
          .contains("SparkSession.builder()"))
        .map(root.relativize(_).toString).toList
    } finally s.close()
    assert(offenders.isEmpty, s"build the session via graft.Session: $offenders")
  }
}
