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

  test("sessions are built only through graft.Session and the test factory") {
    import java.nio.file.{Files, Paths}
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r),
      s"run from the repository root: ${r.toAbsolutePath}"))
    val factories = Set(Paths.get("src/main/scala/graft/Session.scala"),
      Paths.get("src/test/scala/graft/SparkTestSession.scala"))
    // split so this file does not match its own search
    val builder = "SparkSession" + ".builder()"
    val offenders = roots.flatMap { root =>
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") && !factories(p))
          .filter(p => Files.readString(p).contains(builder))
          .map(_.toString).toList
      } finally s.close()
    }
    assert(offenders.isEmpty,
      s"build the session via graft.Session or SparkTestSession.build: $offenders")
  }
}
