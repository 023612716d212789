package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer: name, start, end, the span that caused it,
  * and the run it belongs to. Times are driver wall-clock milliseconds (the
  * clock Spark stamps jobs with) plus a nanosecond duration.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Long, endMs: Long, nanos: Long)

/** Totals of the Spark work attributed to a set of spans. */
final case class Work(spans: Int, wallS: Double, driverS: Double, jobs: Int,
    tasks: Int, failedTasks: Int, scanBytes: Long, cpuS: Double,
    shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long)

/** Span recorder for the traced run. The benchmark wraps each call into a
  * layer in `span`; while a span is open the driver thread carries its id
  * as a Spark local property, so the listener can attribute every job, and
  * through its stages every task, to the innermost open span. Spans stay
  * in memory until `write`.
  *
  * A disabled recorder registers no listener and only runs the body, so
  * the untraced run pays nothing for it.
  */
final class Recorder(spark: SparkSession, runId: String, val enabled: Boolean) {
  import Recorder._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  private final class JobRec(val span: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  private final class TaskTotals {
    var tasks, failed = 0
    var scanBytes, cpuNs, shuffleBytes, shuffleRecords, spillBytes = 0L
  }
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val taskTotals = mutable.Map.empty[Int, TaskTotals]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(Unattributed)
      synchronized {
        jobs(e.jobId) = new JobRec(span, e.time)
        e.stageIds.foreach(stageSpan(_) = span)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t = taskTotals.getOrElseUpdate(
        stageSpan.getOrElse(e.stageId, Unattributed), new TaskTotals)
      t.tasks += 1
      if (e.reason != org.apache.spark.Success) t.failed += 1
      Option(e.taskMetrics).foreach { m =>
        t.scanBytes += m.inputMetrics.bytesRead
        t.cpuNs += m.executorCpuTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        t.spillBytes += m.diskBytesSpilled
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as a span named `name`, a child of the open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(Unattributed)
      open = id :: open
      sc.setLocalProperty(SpanProperty, id.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val nanos = System.nanoTime() - t0
        spans += Span(id, name, parent, runId, startMs, System.currentTimeMillis(), nanos)
        open = open.tail
        sc.setLocalProperty(SpanProperty,
          open.headOption.map(_.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.toSeq

  /** Spans named `name` whose outermost ancestor is named `root`. */
  def under(root: String, name: String): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    def top(s: Span): Span = byId.get(s.parent).map(top).getOrElse(s)
    spans.toSeq.filter(s => s.name == name && top(s).name == root)
  }

  /** Work of the given spans, each together with its descendants. Wall
    * time sums the spans' durations; driver time is the part of each span
    * that no job of the span overlaps (the union of job intervals is
    * subtracted, so concurrent jobs are not counted twice).
    */
  def work(roots: Seq[Span]): Work = synchronized {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Int] =
      s.id +: children.getOrElse(s.id, Nil).toSeq.flatMap(subtree)
    var wall, driver = 0.0
    var nJobs = 0
    val acc = new TaskTotals
    roots.foreach { s =>
      val ids = subtree(s).toSet
      val own = jobs.values.filter(j => ids.contains(j.span)).toSeq
      nJobs += own.size
      val covered = unionMs(own.map(j =>
        (math.max(j.startMs, s.startMs),
          math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
      val wallS = s.nanos / 1e9
      wall += wallS
      driver += math.max(0.0, wallS - covered / 1e3)
      ids.foreach(i => taskTotals.get(i).foreach { t =>
        acc.tasks += t.tasks; acc.failed += t.failed
        acc.scanBytes += t.scanBytes; acc.cpuNs += t.cpuNs
        acc.shuffleBytes += t.shuffleBytes; acc.shuffleRecords += t.shuffleRecords
        acc.spillBytes += t.spillBytes
      })
    }
    Work(roots.size, wall, driver, nJobs, acc.tasks, acc.failed, acc.scanBytes,
      acc.cpuNs / 1e9, acc.shuffleBytes, acc.shuffleRecords, acc.spillBytes)
  }

  /** Spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.nanos / 1e9}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Recorder {
  val SpanProperty = "perfbench.span"
  val Unattributed: Int = -1

  /** Length of the union of [start, end] intervals, in milliseconds. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total, curStart, curEnd = 0L
    var first = true
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (first) { curStart = a; curEnd = b; first = false }
      else if (a > curEnd) { total += curEnd - curStart; curStart = a; curEnd = b }
      else curEnd = math.max(curEnd, b)
    }
    if (first) 0L else total + curEnd - curStart
  }

  /** Run a query whose Spark shape is known and check the recorder's totals
    * against it: one job of two stages (4 map tasks, 2 reduce tasks), a
    * map-side combine that writes exactly 4 × 10 shuffle records, and a
    * driver time between 0 and the span's wall time. Returns the problems
    * found; empty when the recorder is sound.
    */
  def selfCheck(spark: SparkSession): Seq[String] = {
    val rec = new Recorder(spark, "selfcheck", enabled = true)
    try {
      val out = rec.span("probe") {
        spark.sparkContext.parallelize(1 to 1000, 4).map(x => (x % 10, 1))
          .reduceByKey(_ + _, 2).collect().toMap
      }
      rec.drain()
      val w = rec.work(rec.all)
      Seq(
        (out.values.sum == 1000) -> s"probe result ${out.values.sum} != 1000",
        (w.jobs == 1) -> s"jobs ${w.jobs} != 1",
        (w.tasks == 6) -> s"tasks ${w.tasks} != 6",
        (w.shuffleRecords == 40) -> s"shuffle records ${w.shuffleRecords} != 40",
        (w.shuffleBytes > 0) -> "no shuffle bytes",
        (w.cpuS > 0) -> "no executor cpu time",
        (w.failedTasks == 0) -> s"${w.failedTasks} failed tasks",
        (w.driverS >= 0 && w.driverS <= w.wallS) ->
          s"driver_s ${w.driverS} outside [0, wall_s ${w.wallS}]",
      ).collect { case (false, msg) => msg }
    } finally rec.close()
  }
}
