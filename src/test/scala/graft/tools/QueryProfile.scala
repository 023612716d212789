package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job wall-time profile of one registered query, run solo under the
  * bench's exact session config. Usage:
  *   Test/runMain graft.tools.QueryProfile <queryName> [sfDir] [nRuns]
  * Prints one line per Spark job (duration, #stages, description) plus
  * stage-level shuffle bytes, so "where does this 2 s go" is answerable
  * without the UI (headless box). The first run is discarded as warmup
  * unless nRuns == 1.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: QueryProfile <queryName> [sfDir] [nRuns]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val nRuns = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Session.build(sfDir)
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    @volatile var record = false
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val shuffle = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (record) {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        jobs.put(js.jobId, (js.time, desc, js.stageIds.size))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (record) {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc, nst) =>
          lines.add(f"job ${je.jobId}%4d ${(je.time - t0) / 1000.0}%7.3f s  stages=$nst%-3d $desc")
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record) {
          val m = sc.stageInfo.taskMetrics
          if (m != null) shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          val ms = if (m == null) -1L else m.executorRunTime
          lines.add(f"  stage ${sc.stageInfo.stageId}%4d tasks=" +
            f"${sc.stageInfo.numTasks}%-4d cpuSum=${ms / 1000.0}%7.3f s " +
            sc.stageInfo.name.takeWhile(_ != '\n').take(60))
        }
    })

    (1 to nRuns).foreach { run =>
      val timed = run == nRuns || nRuns == 1
      if (timed) { record = true }
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"== run $run ($name): $dt%.3f s ${if (timed) "[profiled]" else "[warmup]"}")
      if (timed) {
        record = false
        Thread.sleep(300)
        import scala.jdk.CollectionConverters._
        lines.asScala.toSeq.sorted.foreach(println)
        println(f"total shuffle write: ${shuffle.get() / 1024.0 / 1024.0}%.2f MiB")
      }
    }
    spark.stop()
  }
}
