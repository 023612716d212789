package graft

import org.apache.spark.sql.SparkSession

/** The one session policy. Bench, Verify, ScaleData, the profiling tools
  * and the test session all take their conf from here, so the plans that
  * are verified, benched and profiled are the plans that ship.
  *
  * Why each setting:
  *   - `spark.sql.extensions` = [[graft.sources.v2.GraftSqlExtension]]:
  *     SQL-text DML over versioned tables plus the `simhash64`,
  *     `hamming_distance` and `doc_fingerprint` SQL functions.
  *   - Shuffle parallelism scales with the data, not the core count: at
  *     100x the bench SF a 32-partition shuffle is ~500 MB/partition and
  *     every sort/agg spills (the sf100 ladder went from 15.8x/decade at
  *     32 partitions to ~linear at 256). One shuffle partition per 64 MB
  *     of compressed parquet, floored at the core count, also seeds AQE's
  *     `initialPartitionNum` so AQE coalesces DOWN at runtime when a
  *     stage's actual shuffle volume is small. 16 GB (sf100) / 64 MB =
  *     256, exactly the value the hand-tuned ladder converged on.
  *   - `nanosAsLong`: events.parquet may be TIMESTAMP(NANOS); this is
  *     session-level, never set inside a query (see Tables.events).
  *   - `TIMESTAMP_MICROS`: INT96 (the legacy default) carries no usable
  *     footer statistics; MICROS makes staged timestamp columns
  *     footer-stats-servable (DataSkipping.footerStats). Verify and
  *     ScaleData set INT96 back on the built session, because DuckDB
  *     (`dev/check.py`) reads their output — that is the one named delta.
  *   - AQE with coalescing and skew-join splitting: the 100 TB story
  *     leans on both, so every entry point runs the plans we'd ship.
  *   - `parallelismFirst=false`: the default mode re-splits every small
  *     shuffle into up to defaultParallelism ~1 MB partitions — pure task
  *     overhead for KB-scale exchanges; at scale the 100 MB–1 GB
  *     partition guidance wants the advisory size respected.
  *   - Advisory size = clamp(input / (4 × cores), 1 MiB, 64 MiB): with the
  *     64 MB default a local[32] session only reaches full width on
  *     shuffles ≥ 2 GB, and the sf10 ladder showed the dedup family
  *     serializing onto a handful of reducers (q53 13.6 → 27.7 s). At
  *     sf0.1 the 1 MiB floor still coalesces KB-scale exchanges to one
  *     task; at sf100+ the value saturates at 64 MiB. On a real cluster
  *     input/(4·cores) lands in the 100 MB–1 GB band by itself; the cap
  *     only binds small hosts.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core of this host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Bytes of every regular file under `dir`. A mistyped or unreadable
    * dir must not silently fall back to core-count parallelism — the
    * later read failure would hide why the partition count was wrong —
    * so a failed walk warns on stderr before returning 0.
    */
  def inputBytes(dir: String): Long =
    try {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    } catch { case e: Throwable =>
      System.err.println(s"[session] could not size $dir " +
        s"(${e.getMessage}); falling back to core-count shuffle partitions")
      0L
    }

  def conf(cpus: Int, inputBytes: Long): Seq[(String, String)] = {
    val shufflePartitions =
      math.max(cpus, (inputBytes / (64L << 20)).toInt).toString
    val advisoryBytes =
      math.min(64L << 20, math.max(1L << 20, inputBytes / (4L * cpus)))
    Seq(
      "spark.sql.extensions" -> "graft.sources.v2.GraftSqlExtension",
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        shufflePartitions,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        advisoryBytes.toString,
      "spark.ui.enabled" -> "false")
  }

  /** `local[cpus]` under [[conf]], sized by the input under `sizedBy`. */
  def build(sizedBy: String): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config(conf(n, inputBytes(sizedBy)).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
