package graft
object Bench {

  /** I/O calibration anchor (round-15), the disk-side sibling of the
    * CPU anchor below: best-of-3 of [write 256 MiB in 4 MiB chunks +
    * fsync, read it back bypassing the page cache (O_DIRECT via
    * reflection — a just-written cached read would price memory
    * bandwidth, not the device), delete]. Single-threaded and
    * Spark-free, so it is valid at ANY core count and prices exactly
    * what the CPU anchor provably cannot see: co-tenant disk
    * contention. The r14 sf100 session showed same-JVM adjacent trials
    * swinging up to 3.7x (q50 127->34 s) at a FLAT CPU anchor — this
    * probe makes such recordings self-interpreting. Runs in the scratch
    * filesystem the queries' own writes land on (java.io.tmpdir;
    * override: SPARK_GRAFT_IO_DIR).
    */
  private[graft] def ioAnchorSec(): Double = {
    val MiB = 1 << 20
    val chunkBytes = 4 * MiB
    val nChunks = 64 // 256 MiB total
    val dir = java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_IO_DIR",
      sys.props.getOrElse("java.io.tmpdir", "/tmp")))
    val payload = new Array[Byte](chunkBytes)
    new java.util.Random(42).nextBytes(payload) // zeros invite FS holes
    val wbuf = java.nio.ByteBuffer.allocateDirect(chunkBytes)
    // O_DIRECT needs 4096-aligned address/position/length; alignedSlice
    // guarantees the address, sequential 4 MiB reads from 0 the rest
    val rbuf = java.nio.ByteBuffer.allocateDirect(chunkBytes + 4096)
      .alignedSlice(4096)
    val directOpt: Option[java.nio.file.OpenOption] =
      try Class.forName("com.sun.nio.file.ExtendedOpenOption")
        .getEnumConstants.collectFirst {
          case e: java.nio.file.OpenOption if e.toString == "DIRECT" => e
        }
      catch { case _: Throwable => None }
    (1 to 3).map { _ =>
      val f = dir.resolve(
        s".graft_io_probe_${java.util.UUID.randomUUID.toString.take(8)}")
      val t0 = System.nanoTime()
      val wch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        var i = 0
        while (i < nChunks) {
          wbuf.clear(); wbuf.put(payload); wbuf.flip()
          while (wbuf.hasRemaining) wch.write(wbuf)
          i += 1
        }
        wch.force(true)
      } finally wch.close()
      val rch =
        try java.nio.channels.FileChannel.open(f,
          (java.nio.file.StandardOpenOption.READ +:
            directOpt.toSeq): _*)
        catch { case _: Throwable => // platform without O_DIRECT
          java.nio.channels.FileChannel.open(f,
            java.nio.file.StandardOpenOption.READ)
        }
      try {
        var done = false
        while (!done) {
          rbuf.clear()
          if (rch.read(rbuf) < 0) done = true
        }
      } finally rch.close()
      java.nio.file.Files.delete(f)
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    // Best-of-N per query: a single-pass time is hostage to one noisy
    // scheduling window on a shared box (the round-2 artifact recorded
    // 3x reality from co-tenant load). The min of N trials estimates
    // the code's cost; raw trials ship in the JSON for auditability.
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "2").toInt.max(1)
    val spark = Session.build(sfDir)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    // Untimed warmup: initializes codegen, parquet readers, shuffle,
    // hash-aggregate, distinct-expand, decimal-sum, higher-order-function
    // and custom-expression machinery across ALL the tables the timed
    // queries touch, so first-touch JIT/classload lands here, not in a
    // timed trial.
    try {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(count(lit(1)), countDistinct(col("l_suppkey")),
          sum(col("l_tax").cast("decimal(18,2)")))
        .write.format("noop").mode("overwrite").save()
      // documents: tokenizer + HOF aggregate + the native fingerprint
      // expressions (q16-q29 machinery) — via the SAME helpers the timed
      // queries use, so this warms the actual code paths
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"),
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("hof"),
          graft.expressions.HashExpressions.simHash64(toks).as("sh"),
          graft.expressions.HashExpressions.docFingerprint(col("text"), 8).as("fp"))
        .write.format("noop").mode("overwrite").save()
      // the full near-dedup machinery on a small slice: minhash signature
      // fold, banded self-join, exact-Jaccard verify, localCheckpoint and
      // the connected-components path (q20/q38/q42 machinery) — the
      // localCheckpoint + union-find classload/JIT otherwise lands in
      // q42's first timed trial (measured 14.7 s cold vs 6.2 s warm)
      graft.pipeline.CorpusPipeline.nearDedup(
        spark.read.parquet(s"$sfDir/documents.parquet").limit(96).localCheckpoint(),
        threshold = 0.8, transitive = true)
        .write.format("noop").mode("overwrite").save()
      // embeddings: float-array cosine path (q22-q34 machinery)
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200)
      e.select(col("vec_id"),
        graft.functions.VectorFunctions.cosine(col("embedding"), col("embedding")).as("c"))
        .write.format("noop").mode("overwrite").save()
      // events: nanos-as-long read (Tables.events) + window machinery
      Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "6 hours")).agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed (continuing): ${e.getMessage}")
    }
    // Calibration anchor (round-13): a fixed, sfDir-independent,
    // in-memory aggregate whose cost depends only on host speed —
    // recorded alongside the queries so round-over-round totals are
    // interpretable from the JSON alone (sf0.1 totals drifted
    // 55.1 -> 62.3 s across r10-r12 with flat-to-better plans, purely
    // co-tenant host drift; without an anchor that is indistinguishable
    // from a regression). Work: sum(xxhash64(id)) over a 32-slice
    // range — whole-stage codegen, zero I/O, zero shuffle beyond the
    // final partial-agg gather, so it prices CPU + scheduler, not disk
    // (bit_xor, not sum: ANSI mode overflows a sum of 2e9 hashes).
    // AnchorRefSec pins the round-13 recording (best of 3, cpus=32,
    // quiet host); host_drift = anchor_sec / AnchorRefSec (> 1 = this
    // host is slower than the reference recording), total_normalized =
    // value / host_drift. Comparable only at equal cpus — the driver
    // always runs cpus=32, and the JSON now records cpus.
    // r13 recording: best-of-3 readings 1.168/1.180/1.188 s across
    // three JVMs, cpus=32. The reference is ONLY valid at cpus=32 (the
    // driver's setting): at other core counts the fixed 32-slice job
    // times a different parallelism and host_drift would read ~8x
    // inflated on a 4-core host — so the anchor runs (and its
    // derived fields are emitted) only at cpus=32, or when forced via
    // SPARK_GRAFT_ANCHOR=1 for ad-hoc calibration (raw anchor_sec only,
    // drift fields stay null).
    val AnchorRefSec = 1.17
    val anchorValid = cpus == 32
    val anchorSec: Option[Double] =
      if (!anchorValid && !sys.env.get("SPARK_GRAFT_ANCHOR").contains("1"))
        None
      else Some {
        import org.apache.spark.sql.functions.{col, expr, xxhash64}
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          spark.range(0L, 10000000000L, 1L, 32)
            .select(xxhash64(col("id")).as("h")).agg(expr("bit_xor(h)")).head
          (System.nanoTime() - t0) / 1e9
        }.min
      }
    val hostDrift: Option[Double] =
      if (anchorValid) anchorSec.map(_ / AnchorRefSec) else None
    // I/O anchor (round-15, [[ioAnchorSec]]): unlike the CPU anchor it
    // is single-threaded, so it is valid — and emitted — at every core
    // count. IoAnchorRefSec pins the r15 recording: best-of-3 probe
    // readings across 3 JVMs (0.628/0.646/0.662 s, min 0.628) on the
    // same /tmp device the scratch writes land on; re-pin with
    // graft.tools.IoPin.
    val IoAnchorRefSec = 0.63
    val ioAnchor: Option[Double] =
      try Some(ioAnchorSec())
      catch { case e: Throwable =>
        System.err.println(s"[bench] io anchor failed: ${e.getMessage}")
        None
      }
    val ioDrift: Option[Double] = ioAnchor.map(_ / IoAnchorRefSec)
    // total_normalized previously divided by the CPU drift alone, which
    // OVERCORRECTS whenever the total is I/O- and scheduling-bound (r14:
    // raw 60.6 -> 62.5 s read as normalized 75.0 on a fast-CPU host).
    // Normalize against the geometric blend of both drifts instead —
    // equal log-weight, since the sf0.1 total is a mix of scan/write
    // and compute — and keep it honest: indicative, not a measurement.
    // Emission policy is unchanged from r14: total_normalized stays
    // null away from cpus=32 (the CPU drift is only valid there).
    val blendDrift: Option[Double] =
      hostDrift.map(c => ioDrift.fold(c)(i => math.sqrt(c * i)))
    // Optional subset selection for targeted scale runs (e.g. the heavy
    // dedup/versioned-table families at sf10): comma-separated query
    // names, matched exactly or as a prefix up to the underscore ("q10"
    // selects q10_merge_upsert but NOT q100-q107). Unset (the driver's
    // case) → every registered query runs.
    val nameFilter = sys.env.get("SPARK_GRAFT_QUERY_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = nameFilter match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) =>
        names.exists(p => n == p || n.startsWith(p + "_")) }
      case None => SparkEntry.queries
    }
    // an old-style family filter (bare "q2" used to prefix-match
    // q20-q29) now selects nothing — fail instead of shipping a
    // passing EMPTY bench a stale sweep script would read as green
    if (nameFilter.isDefined && selected.isEmpty) {
      System.err.println(s"[bench] SPARK_GRAFT_QUERY_FILTER=" +
        s"${nameFilter.get.mkString(",")} matched no registered query " +
        "(matching is exact or underscore-prefix); refusing to emit an " +
        "empty subtotal")
      spark.stop()
      sys.exit(2)
    }
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // noop sink: evaluates every output column (unlike count(), which
      // lets the optimizer prune projection-only queries to a row count).
      // ANY failed trial marks the query failed and fails the run via
      // the exit code — best-of-N is noise robustness for TIMINGS, not a
      // retry loop that would let a flaky OOM ship with a green bench.
      val ts = (1 to trials).map { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
        }
      }
      val ok = ts.filter(_ >= 0)
      val allOk = ok.size == trials
      (name, if (allOk) ok.min else -1.0, ts, allOk)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val raw = results.map { case (k, _, ts, _) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, false) => "\"" + k + "\"" }
    val total = results.collect { case (_, v, _, true) => v }.sum
    val filt = nameFilter.map(p => s""","filter":"${p.mkString(",")}"""").getOrElse("")
    // a filtered run is labeled "subtotal" so its total can never be
    // compared against a full-registry "total" by accident
    val metric = if (nameFilter.isDefined) "subtotal" else "total"
    // noise policy, machine-readable (round-14): within one session the
    // full sf0.1 bench's total spreads ~3-5% across identical runs
    // (r13: 64.6-66.6 s over 3 runs at anchor parity) — consumers must
    // not adjudicate sub-noise_floor_pct round-over-round deltas as
    // regressions; isolate the query solo before diagnosing.
    val noiseNote = "within-session full-bench total varies ~3-5% across " +
      "identical runs (r13: 64.6-66.6s x3 at anchor parity); deltas under " +
      "noise_floor_pct are noise - isolate solo readings before diagnosing"
    def num(o: Option[Double]) = o.map(_.toString).getOrElse("null")
    val json = s"""{"metric":"$metric","value":$total,"unit":"sec","queries":$qs,"trials":$raw,"n_trials":$trials,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"$filt,"shuffle_partitions":$shufflePartitions,"cpus":$cpus,"anchor_sec":${num(anchorSec)},"anchor_ref_sec":$AnchorRefSec,"host_drift":${num(hostDrift)},"io_anchor_sec":${num(ioAnchor)},"io_anchor_ref_sec":$IoAnchorRefSec,"io_drift":${num(ioDrift)},"total_normalized":${num(blendDrift.map(total / _))},"noise_floor_pct":5,"variance_note":"$noiseNote"}"""
    println(json)
    // the artifact must stand on its own: a log-tail capture truncated the
    // round-3 JSON head, so the result also lands in a file
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
