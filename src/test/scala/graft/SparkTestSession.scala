package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites run
  * sequentially in the forked test JVM).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // in-process specs commit and vacuum within milliseconds; the
    // production manifest-age grace (the slot-resurrection defense the
    // multi-JVM race harnesses run WITH) would make those vacuums
    // no-ops, so the seam zeroes it for this JVM only
    graft.sources.VersionedTable.vacuumManifestGraceMs = 0L
    val s = SparkSession.builder()
      // local[cores, maxTaskFailures]: allow ONE task retry, so the
      // task-retry idempotency specs (TaskRetrySpec) can plant
      // first-attempt failures inside write stages — a real cluster's
      // most common failure mode — and prove the staged-write paths
      // commit exactly-once anyway. (In local mode the conf key
      // spark.task.maxFailures is ignored; only the master string
      // carries it.)
      .master("local[4, 2]")
      .appName("graft-test")
      // the production session policy at 4 cores, sized for no input
      .config(Session.conf(4, 0L).toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfTiny = "/root/testdata/sf0.001"

  /** Number of Spark jobs `body` launches on the shared session. */
  def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerSync.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerSync.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    started.get
  }
}
