package graft.tools

/** Writes `.explain("formatted")` output for the named queries to
  * `<outDir>/<query>_<suffix>.txt`, under the bench's exact session
  * config (same master/AQE/shuffle-partition policy), so plan shape
  * claims in OPTIMIZATION notes are reproducible artifacts. Usage:
  *   Test/runMain graft.tools.PlanDump <outDir> <suffix> <q1> [q2 ...]
  * Note: for the imperative lakehouse gates (DML-then-read) the dump is
  * the final read's plan — the DML writes are side effects the optimizer
  * never sees; their cost story lives in the journal instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q...>")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.Session.build(sfDir)
    names.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"wrote ${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
