package graft.tools

import java.io.{FileWriter, PrintWriter}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkTestSession

/** The kit the multi-process race harnesses ([[CommitRace]], [[DvRace]],
  * [[RestoreRace]], [[VacuumRace]], [[StreamMaintRace]]) share.
  *
  * A harness is one orchestrator main per JVM. It spawns writer, reader
  * and vacuum JVMs ([[spawn]]) that share nothing with it but the
  * filesystem and report through flat JSONL logs ([[readLog]]). It
  * records every assertion with [[check]], bounds every wait for a child
  * with [[await]] (a missed deadline is a failed check, never a silent
  * carry-on), and ends with [[finish]], which exits 2 if any check failed.
  */
object Race {

  /** The one compressed clock for child JVMs whose phases churn
    * versions in seconds ([[RestoreRace]]'s): the maintenance-lock
    * reclaim grace (production 60 s → 3 s) and the vacuum manifest-age
    * grace (production 30 s → 2 s), so manifests age past the grace
    * INSIDE a phase. [[DvRace]] and [[VacuumRace]]'s children run the
    * production values, so the slot-resurrection defense the manifest
    * grace backs stays exercised at full strength.
    */
  val CompressedClock = Seq("-Dgraft.vt.maintLockGraceMs=3000",
    "-Dgraft.vt.vacuumManifestGraceMs=2000")

  /** A `local[cpus]` session under the production policy (orchestrators
    * and children alike).
    */
  def session(cpus: Int = 2): SparkSession =
    SparkTestSession.build(s"local[$cpus]", cpus, "ERROR")

  /** The harness's output directory: `args(0)`, else a fresh temp dir. */
  def outDir(args: Array[String], prefix: String): Path = {
    val d = Paths.get(if (args.nonEmpty) args(0)
      else Files.createTempDirectory(prefix).toString)
    Files.createDirectories(d)
  }

  private var failures = 0
  private[tools] def failed: Int = failures

  def check(cond: Boolean, what: String): Unit = {
    if (cond) println(s"  OK   $what")
    else { failures += 1; println(s"  FAIL $what") }
  }

  /** Poll `cond` every `pollMs` until it holds or `timeoutMs` passes.
    * Silent when met; a missed deadline records one FAIL naming `what`.
    */
  def await(what: String, pollMs: Long = 50, timeoutMs: Long = 120000)(
      cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var met = cond
    while (!met && System.currentTimeMillis() < deadline) {
      Thread.sleep(pollMs)
      met = cond
    }
    if (!met) check(false, s"waited ${timeoutMs / 1000} s for $what")
    met
  }

  /** Print the harness's verdict line, stop its session and exit:
    * 0 if every check passed, else 2.
    */
  def finish(tag: String, spark: SparkSession): Nothing = {
    println(s"[$tag] done: ${if (failures == 0) "ALL CHECKS PASSED"
      else s"$failures CHECKS FAILED"}")
    spark.stop()
    sys.exit(if (failures == 0) 0 else 2)
  }

  /** Start `mainCls` in a fresh JVM with this JVM's classpath and
    * `--add-opens`, output to `<outDir>/<name>.out`.
    */
  def spawn(outDir: Path, name: String, mainCls: String,
      args: Seq[String], extraJvm: Seq[String] = Nil): Process = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx3g",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC") ++
      extraJvm ++ Seq("-cp", sys.props("java.class.path"), mainCls) ++ args
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectOutput(outDir.resolve(s"$name.out").toFile)
    pb.redirectErrorStream(true)
    pb.start()
  }

  /** A child's append-mode, line-flushed JSONL log. */
  def logWriter(path: String): PrintWriter =
    new PrintWriter(new FileWriter(path, true), true)

  /** One log line recording `e` as an `event` record, `fields` (the
    * failing child's own keys) between the event and the cause.
    */
  def errorLine(event: String, e: Throwable, fields: (String, Any)*):
      String = {
    val msg = String.valueOf(e.getMessage).take(160)
      .replaceAll("[\"\\\\\n]", " ")
    (s""""event":"$event"""" +: fields.map { case (k, v) => s""""$k":"$v"""" }
      :+ s""""kind":"${e.getClass.getSimpleName}","msg":"$msg"""")
      .mkString("{", ",", "}")
  }

  def readLog(p: Path): Seq[Map[String, String]] =
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.toSeq.flatMap(parseLine)

  /** The records of `p` whose event is `event`. */
  def events(p: Path, event: String): Seq[Map[String, String]] =
    readLog(p).filter(_.get("event").contains(event))

  /** Minimal flat-JSON-object parser for the harness's own log lines
    * (string/number values, no nesting — avoids a JSON dependency).
    */
  private def parseLine(l: String): Option[Map[String, String]] = {
    val t = l.trim
    if (!t.startsWith("{") || !t.endsWith("}")) None
    else Some(t.substring(1, t.length - 1).split(",").iterator
      .map(_.split(":", 2)).collect {
        case Array(k, v) =>
          k.trim.stripPrefix("\"").stripSuffix("\"") ->
            v.trim.stripPrefix("\"").stripSuffix("\"")
      }.toMap)
  }

  /** Check that every `what` the retained manifests reference (`refs`,
    * table-relative) exists under `dir`.
    */
  def checkRetained(dir: String, phase: String, what: String,
      refs: Seq[String]): Unit = {
    val missing = refs.filterNot(f => Files.exists(Paths.get(dir, f))).distinct
    check(missing.isEmpty,
      s"$phase: every $what referenced by a retained manifest exists " +
        s"(missing=${missing.take(3).mkString(",")})")
  }

  /** Spawn a [[VacuumLoop]] (retain 12 versions, 45 s orphan grace)
    * sweeping every `intervalMs` until `stop` appears; returns the
    * process and its log.
    */
  def spawnVacuum(outDir: Path, name: String, dir: String, stop: Path,
      intervalMs: Int, extraJvm: Seq[String] = Nil): (Process, Path) = {
    val log = outDir.resolve(s"$name.jsonl")
    (spawn(outDir, name, "graft.tools.VacuumLoop",
      Seq(dir, stop.toString, log.toString, "12", "45000",
        intervalMs.toString), extraJvm), log)
  }

  /** SIGKILL a fresh vacuum JVM once it has swept 3 times (mid-activity);
    * returns its exit code.
    */
  def killVacuum(outDir: Path, name: String, dir: String,
      extraJvm: Seq[String] = Nil): Int = {
    val (vac, log) = spawnVacuum(outDir, name, dir,
      outDir.resolve(s"$name.nostop"), 150, extraJvm)
    await(s"$name's 3rd sweep", pollMs = 20)(events(log, "sweep").size >= 3)
    vac.destroyForcibly()
    vac.waitFor()
  }

  /** Run a fresh vacuum JVM for two sweeps (completing whatever a kill
    * interrupted), then stop it; returns its exit code and log.
    */
  def finalSweep(outDir: Path, dir: String,
      extraJvm: Seq[String] = Nil): (Int, Path) = {
    val stop = outDir.resolve("vstopF")
    val (vac, log) = spawnVacuum(outDir, "vacuumF", dir, stop, 200, extraJvm)
    await("vacuumF's 2nd sweep")(events(log, "sweep").size >= 2)
    Files.write(stop, Array.emptyByteArray)
    (vac.waitFor(), log)
  }
}
