package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>`.
  *
  * Prints, as its last line, one JSON object with `correct`, `attempted`,
  * `failed` and `metrics`: the end-to-end metrics when untraced, the
  * per-layer metrics when traced. Exits non-zero when a check fails.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path)

  final case class Metric(value: Double, unit: String)

  /** What a workload reports back. */
  final class Result {
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, Metric]
    /** Raw timings behind the reported medians, kept in the run's record. */
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    def check(ok: Boolean, problem: => String): Unit = if (!ok) problems += problem
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = Metric(value, unit)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")), Paths.get(kv("out")))
    val workload = Workloads.all.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; known: ${Workloads.all.keys.mkString(", ")}"))
    val res = new Result
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val session = new SessionHolder(cpus)
    try workload(o, session, res)
    finally session.stop()

    val json = resultJson(res)
    writeRecord(o, res, session, cpus)
    res.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    println(json)
    if (res.problems.nonEmpty || res.failed > 0) sys.exit(1)
  }

  /** The session is built lazily, once the inputs exist: Bench sizes its
    * shuffle parallelism from the input bytes.
    */
  final class SessionHolder(val cpus: Int) {
    private var s: Option[SparkSession] = None
    var conf: Map[String, String] = Map.empty
    def apply(inputBytes: Long): SparkSession = s.getOrElse {
      val spark = Session.build(cpus, inputBytes)
      s = Some(spark)
      conf = spark.conf.getAll
      spark
    }
    def stop(): Unit = s.foreach(_.stop())
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def resultJson(r: Result): String = {
    val ms = r.metrics.map { case (k, m) =>
      s"""${str(k)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}}"""
    }.mkString(", ")
    s"""{"correct": ${r.problems.isEmpty}, "attempted": ${math.max(1, r.attempted)}, """ +
      s""""failed": ${r.failed}, "metrics": {$ms}}"""
  }

  /** The full record of a run: metrics, failed checks, and the effective
    * session conf, cores and heap cap, so two session builders can later be
    * shown to agree.
    */
  private def writeRecord(o: Opts, r: Result, s: SessionHolder, cpus: Int): Unit = {
    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("-Xmx")).lastOption.getOrElse("")
    val conf = s.conf.toSeq.sorted.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(", ")
    val json = s"""{"workload": ${str(o.workload)}, "seed": ${o.seed}, "seconds": ${o.seconds}, """ +
      s""""trace": ${o.trace}, "cpus": $cpus, "xmx": ${str(xmx)}, """ +
      s""""max_heap_mb": ${Runtime.getRuntime.maxMemory / 1048576}, """ +
      s""""problems": [${r.problems.map(str).mkString(", ")}], "result": ${resultJson(r)}, """ +
      s""""samples": {${r.samples.map { case (k, v) =>
        s"${str(k)}: [${v.map(num).mkString(", ")}]" }.mkString(", ")}}, """ +
      s""""spark_conf": {$conf}}"""
    Files.createDirectories(o.out)
    Files.write(o.out.resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      (json + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Bench's session, conf for conf (`graft.Bench.main`): `local[cpus]`, one
  * shuffle partition per 64 MB of input floored at the core count, and an
  * AQE advisory size of input / (4 × cores) clamped to [1 MiB, 64 MiB].
  */
object Session {
  def build(cpus: Int, inputBytes: Long): SparkSession = {
    val shufflePartitions = math.max(cpus, (inputBytes / (64L << 20)).toInt)
    val advisoryBytes = math.min(64L << 20, math.max(1L << 20, inputBytes / (4L * cpus)))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.sources.v2.GraftSqlExtension")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisoryBytes.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    finally s.close()
  }
}
