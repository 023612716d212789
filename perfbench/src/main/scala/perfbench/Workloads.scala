package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipeline.Orchestrator.RunReport

import Main.{Opts, Result, SessionHolder}

/** The benchmark's workloads. Each is one closed-loop client in one
  * process: the next call starts when the previous one returns.
  */
object Workloads {

  type Workload = (Opts, SessionHolder, Result) => Unit

  val all: Map[String, Workload] = Map(
    "daily_dag" -> dailyDag,
    "gold_serving" -> goldServing)

  /** The views `Gold.registerAll` registers over silver, in notebook order. */
  val Views = Seq("v_totals_by_year_type", "v_breed_stats", "v_fsa_top3_breeds",
    "v_fsa2_top3_breeds", "licensed_pets_gold_quality", "v_daily_totals",
    "v_breed_share_citywide", "v_breed_rank_citywide")

  val Start: LocalDate = LocalDate.of(2025, 1, 1)
  /** The reference's rows arrive in this many daily drops (about 8.7k rows each). */
  val DailyDrops = 20

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Time one named part of set-up into the run's record. */
  private def part[A](res: Result, name: String)(body: => A): A = {
    val (a, secs) = timed(body)
    res.samples(s"setup.$name") = Seq(secs)
    a
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Driver heap occupancy just after a full collection, in MiB. Spark's
    * context cleaner releases shuffle and broadcast state only after a
    * collection has cleared the references to it, so collect twice.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** One regular day as the daily job runs it: the DAG, then the gold
    * quality table, bronze and silver health and the runbook validation,
    * each checked against the planted running tally.
    */
  private def day(p: Pipeline, rec: Recorder, res: Result, d: Drops.Day,
      expect: Drops.Tally): Boolean = {
    val report = p.runDay(d.date, d.recs.size)
    if (!report.succeeded) {
      res.failed += 1
      res.problems += s"day ${d.date}: ${report.stages.mkString(", ")}"
      return false
    }
    val quality = rec.span("gold")(p.quality())
    val (bronze, silver, probes) = rec.span("health") {
      (p.bronzeHealth(), p.silverHealth(), p.checkValidate())
    }
    val problems = p.checkBronze(bronze, expect) ++ p.checkSilver(silver, expect) ++ probes ++
      (if (quality == expect.byGroup) Nil
       else Seq(s"gold quality view ${quality.toSeq.sorted} != planted ${expect.byGroup.toSeq.sorted}"))
    res.problems ++= problems.map(x => s"day ${d.date}: $x")
    problems.isEmpty
  }

  /** A day that must abort in bronze's guards and write nothing. */
  private def abortDay(p: Pipeline, rec: Recorder, res: Result, d: Drops.Day): Unit = {
    val before = p.snapshot()
    val report = rec.span("abort")(p.runDay(d.date, d.recs.size))
    val guard = d.kind match {
      case Drops.BadAnimalType => "guard: ANIMAL_TYPE outside"
      case _ => "guard: duplicate _id within batch"
    }
    res.check(report.stages.head.outcome.contains(guard) &&
      report.stages.tail.forall(_.outcome == "skipped"),
      s"${d.kind} day ${d.date} did not abort in bronze: ${report.stages.mkString(", ")}")
    res.check(p.snapshot() == before, s"${d.kind} day ${d.date} wrote to the warehouse")
  }

  /** Re-run loaded days `times` times, cycling through `dates`, and
    * return the median time. Each must write nothing. The first re-run is
    * the first call of the no-op path and pays for its class loading and
    * code generation; the median leaves it out when it is the slowest.
    *
    * Traced, the re-runs go through the benchmark's stage-by-stage copy of
    * `runAll`. One more re-run then calls `Orchestrator.runAll` itself, and
    * must report the same stage outcomes and run the same number of Spark
    * jobs as the copy's last re-run of that day, so the copy cannot drift
    * from the program's own order of stages.
    */
  private def reruns(p: Pipeline, rec: Recorder, res: Result, dates: Seq[String],
      times: Int): Double = {
    def rerun(name: String, date: String)(call: => RunReport): (RunReport, Double) = {
      res.attempted += 1
      val before = p.snapshot()
      val (report, secs) = timed(rec.span(name)(call))
      if (!report.succeeded) res.failed += 1
      res.check(p.snapshot() == before, s"re-run of loaded day $date wrote to the warehouse")
      (report, secs)
    }
    val order = Iterator.continually(dates).flatten.take(times).toSeq
    val runs = order.map(date => rerun("rerun", date)(p.runDay(date, 0)))
    if (rec.enabled) {
      val (report, _) = rerun("rerun_runall", order.last)(p.runAll(order.last))
      rec.drain()
      val jobs = Seq("rerun", "rerun_runall").map(n =>
        rec.work(rec.all.filter(_.name == n).takeRight(1)).jobs)
      res.check(report.stages == runs.last._1.stages,
        s"runAll re-run ${report.stages.mkString(", ")} != traced copy ${runs.last._1.stages.mkString(", ")}")
      res.check(jobs(0) == jobs(1), s"runAll re-run ran ${jobs(1)} jobs, the traced copy ${jobs(0)}")
    }
    res.samples("rerun_s") = runs.map(_._2)
    median(runs.map(_._2))
  }

  /** Per-layer metrics from the traced run. Each layer is given as (name,
    * the operation that calls it, the number of units to divide by), and
    * its spans are taken from under that operation only.
    */
  private def layerMetrics(stats: Pipeline.Stats, rec: Recorder, res: Result,
      layers: Seq[(String, String, Int)], opTimes: Seq[Double]): Unit = {
    rec.drain()
    layers.foreach { case (layer, op, units) =>
      val n = math.max(1, units).toDouble
      val w = rec.work(rec.under(op, layer))
      res.put(s"$layer.wall_s", w.wallS / n, "s")
      res.put(s"$layer.driver_s", w.driverS / n, "s")
      res.put(s"$layer.jobs", w.jobs / n, "count")
      res.put(s"$layer.tasks", w.tasks / n, "count")
      res.put(s"$layer.scan_bytes", w.scanBytes / n, "bytes")
      res.put(s"$layer.executor_cpu_s", w.cpuS / n, "s")
      res.put(s"$layer.shuffle_bytes", w.shuffleBytes / n, "bytes")
      res.put(s"$layer.spill_bytes", w.spillBytes / n, "bytes")
      res.put(s"$layer.failed_tasks", w.failedTasks / n, "count")
    }
    val goldUnits = layers.collectFirst { case ("gold", _, n) => math.max(1, n) }.get
    res.put("gold.plan_s", stats.planS("gold") / goldUnits, "s")
    def ratio(layer: String) = {
      val (l, o) = stats.landed(layer)
      if (o == 0) 0.0 else l.toDouble / o
    }
    res.put("bronze.land_ratio", ratio("bronze"), "ratio")
    res.put("silver.land_ratio", ratio("silver"), "ratio")
    val rerun = rec.work(rec.all.filter(_.name == "rerun"))
    val nRerun = math.max(1, rerun.spans).toDouble
    res.put("rerun.jobs", rerun.jobs / nRerun, "count")
    res.put("rerun.bronze_s", rec.work(rec.under("rerun", "bronze")).wallS / nRerun, "s")
    res.put("rerun.silver_s", rec.work(rec.under("rerun", "silver")).wallS / nRerun, "s")
    res.put("orchestrator.retries", stats.retries, "count")
    res.put("trace.op_p50_s", median(opTimes), "s")
  }

  /** The run's recorder; a traced run first checks it on a known shape. */
  private def newRecorder(spark: SparkSession, o: Opts, res: Result): Recorder = {
    if (o.trace) res.problems ++= Recorder.selfCheck(spark).map(x => s"recorder self-check: $x")
    new Recorder(spark, s"${o.workload}-${o.seed}", o.trace)
  }

  /** The reference's daily job over a multi-day backfill at the
    * reference's size: 173,937 rows over 20 daily drops of Year 2023-2025
    * × {DOG, CAT}. Days run in order until the time is up, at least two;
    * a finished backfill starts over in a fresh warehouse. Then the two
    * abort days run against the loaded warehouse, and the loaded days are
    * re-run.
    */
  def dailyDag(o: Opts, sh: SessionHolder, res: Result): Unit = {
    // set-up: generate and write the drops, then load the first day, untraced
    // (first-touch class loading, JIT and codegen); the timed days are the
    // daily increments that follow it
    val ((drops, raw, spark), setupS) = timed {
      val raw = o.work.resolve("raw")
      val drops = part(res, "generate") {
        val drops = Drops.generate(o.seed, Drops.even(Drops.ReferenceRows, DailyDrops), Start,
          aborts = true)
        Drops.write(raw, drops, files = 1)
        drops
      }
      val spark = part(res, "session")(sh(Session.dirBytes(raw)))
      val off = new Recorder(spark, "warm", false)
      val first = new Pipeline(spark, off, new Pipeline.Stats, raw, o.work.resolve("wh-0"))
      part(res, "first_day")(day(first, off, res, drops.head, drops.head.tally))
      (drops, raw, spark)
    }
    val full = drops.map(_.tally).reduce(_ + _)
    res.check(full.bronzeRows == Drops.ReferenceRows &&
      full.bronzeBadFsa == Drops.ReferenceBadFsa &&
      f"${100.0 * full.silverMapped / full.silverRows}%.2f" == "81.44",
      s"generator planted ${full.bronzeRows} rows, ${full.bronzeBadFsa} bad FSA, " +
        s"${full.silverMapped}/${full.silverRows} mapped")
    var heap = liveHeapMb()

    val rec = newRecorder(spark, o, res)
    val (regular, aborts) = drops.partition(_.kind == Drops.Regular)
    val stats = new Pipeline.Stats
    var p = new Pipeline(spark, rec, stats, raw, o.work.resolve("wh-0"))
    var epochs, loadedDays = 0
    var i = 1
    var tally = regular.head.tally
    val dayTimes = mutable.ArrayBuffer.empty[Double]
    var silverRows = 0L
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    // at least two days: a run that timed one day or two would report a
    // median of a different mix of days
    var days = 0
    while (days < 2 || System.nanoTime() < deadline) {
      days += 1
      if (i == regular.size) {
        epochs += 1
        p = new Pipeline(spark, rec, stats, raw, o.work.resolve(s"wh-$epochs"))
        i = 0
        tally = Drops.Tally()
      }
      val d = regular(i)
      i += 1
      res.attempted += 1
      tally = tally + d.tally
      val (ok, secs) = timed(rec.span("day")(day(p, rec, res, d, tally)))
      if (ok) {
        dayTimes += secs
        silverRows += d.tally.silverRows
        loadedDays += 1
      }
    }
    // untimed, so the loop's samples are all regular days
    aborts.foreach { d =>
      res.attempted += 1
      abortDay(p, rec, res, d)
    }
    val loaded = regular.take(i)
    val rerunS = reruns(p, rec, res, loaded.map(_.date), 3)
    heap = math.max(heap, liveHeapMb())
    res.samples("day_s") = dayTimes.toSeq

    if (!o.trace) {
      res.put("setup_s", setupS, "s")
      res.put("op_p50_s", median(dayTimes.toSeq), "s")
      res.put("rerun_noop_s", rerunS, "s")
      res.put("rows_per_s", silverRows / dayTimes.sum, "rows/s")
      res.put("live_heap_peak_mb", heap, "MiB")
    } else {
      layerMetrics(stats, rec, res,
        Seq("bronze", "silver", "gold", "health").map((_, "day", loadedDays)), dayTimes.toSeq)
      res.put("silver.files", p.dataFiles(p.silverDir).toDouble / math.max(1, loaded.size), "count")
      res.put("gold.scan_files", p.dataFiles(p.silverDir), "count")
      rec.write(o.out.resolve(s"spans-${o.workload}-seed${o.seed}.jsonl"))
    }
    rec.close()
  }

  /** Analyst SQL over a silver table loaded in set-up by the same pipeline
    * from one drop of four days' size. The timed loop collects every view
    * `Gold.registerAll` registers, as the reference's notebook cells do,
    * then the bronze and silver health probes, and goes round again until
    * the time is up, at least twice. Every view must answer as in the
    * first, untimed pass, and the probes must equal the planted counts.
    * Then the drop is re-run.
    */
  def goldServing(o: Opts, sh: SessionHolder, res: Result): Unit = {
    val daySize = Drops.ReferenceRows / DailyDrops
    val stats = new Pipeline.Stats
    var rec: Recorder = null
    val ((drops, p, expected), setupS) = timed {
      val raw = o.work.resolve("raw")
      val drops = part(res, "generate") {
        val drops = Drops.generate(o.seed, Seq(4 * daySize), Start, aborts = false)
        Drops.write(raw, drops, files = 4)
        drops
      }
      val spark = part(res, "session")(sh(Session.dirBytes(raw)))
      rec = newRecorder(spark, o, res)
      val p = new Pipeline(spark, rec, stats, raw, o.work.resolve("wh"))
      part(res, "load") {
        drops.foreach { d =>
          val report = rec.span("load")(p.runDay(d.date, d.recs.size))
          res.check(report.succeeded, s"load ${d.date}: ${report.stages.mkString(", ")}")
        }
      }
      val expected = part(res, "warm_pass") {
        Views.map(v => v -> p.collectView("warm", v).map(_.toString).sorted.toSeq).toMap
      }
      (drops, p, expected)
    }
    val tally = drops.map(_.tally).reduce(_ + _)
    res.check(p.quality("warm") == tally.byGroup, "gold quality view != planted counts")
    var heap = liveHeapMb()

    // whole passes only, and at least two, so every run times the same mix
    // of queries
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def op[A](layer: String, name: String)(body: => A): A = {
      res.attempted += 1
      val (a, secs) = timed(rec.span(layer)(body))
      times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs
      a
    }
    val queries: Seq[() => Unit] = Views.map { v => () =>
      val rows = op("gold", v)(p.collectView("gold", v))
      res.check(rows.map(_.toString).sorted.toSeq == expected(v), s"view $v changed between passes")
    } ++ Seq(
      () => res.problems ++= p.checkBronze(op("health", "bronze_health")(p.bronzeHealth()), tally),
      () => res.problems ++= p.checkSilver(op("health", "silver_health")(p.silverHealth()), tally))
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var passes = 0
    while (passes < 2 || System.nanoTime() < deadline) {
      rec.span("pass")(queries.foreach(q => q()))
      passes += 1
    }
    val rerunS = reruns(p, rec, res, Seq(drops.last.date), 3)
    heap = math.max(heap, liveHeapMb())
    times.foreach { case (q, ts) => res.samples(s"query_s.$q") = ts.toSeq }
    val pooled = times.values.flatten.toSeq

    if (!o.trace) {
      res.put("setup_s", setupS, "s")
      res.put("op_p50_s", median(pooled), "s")
      res.put("rerun_noop_s", rerunS, "s")
      res.put("rows_per_s", tally.silverRows * pooled.size / pooled.sum, "rows/s")
      res.put("live_heap_peak_mb", heap, "MiB")
    } else {
      val calls = times.map { case (q, ts) => q -> ts.size }
      val healthCalls = calls("bronze_health") + calls("silver_health")
      layerMetrics(stats, rec, res, Seq(("bronze", "load", drops.size),
        ("silver", "load", drops.size), ("gold", "pass", calls.values.sum - healthCalls),
        ("health", "pass", healthCalls)), pooled)
      res.put("silver.files", p.dataFiles(p.silverDir).toDouble / drops.size, "count")
      res.put("gold.scan_files", p.dataFiles(p.silverDir), "count")
      rec.write(o.out.resolve(s"spans-${o.workload}-seed${o.seed}.jsonl"))
    }
    rec.close()
  }
}
