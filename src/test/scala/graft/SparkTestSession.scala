package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites run
  * sequentially in the forked test JVM), and the one test-side session
  * builder.
  */
object SparkTestSession {

  /** A session on `master` under the production policy at `cpus` cores,
    * sized for no input. The shared test session and the race harnesses'
    * JVMs ([[graft.tools.Race.session]]) build here.
    */
  def build(master: String, cpus: Int, logLevel: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config(Session.conf(cpus, 0L).toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  lazy val spark: SparkSession = {
    // in-process specs commit and vacuum within milliseconds; the
    // production manifest-age grace (the slot-resurrection defense the
    // multi-JVM race harnesses run WITH) would make those vacuums
    // no-ops, so the seam zeroes it for this JVM only
    graft.sources.VersionedTable.vacuumManifestGraceMs = 0L
    // local[cores, maxTaskFailures]: allow ONE task retry, so the
    // task-retry idempotency specs (TaskRetrySpec) can plant
    // first-attempt failures inside write stages — a real cluster's
    // most common failure mode — and prove the staged-write paths
    // commit exactly-once anyway. (In local mode the conf key
    // spark.task.maxFailures is ignored; only the master string
    // carries it.)
    build("local[4, 2]", 4, "WARN")
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
