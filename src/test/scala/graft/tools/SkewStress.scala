package graft.tools

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Join-skew stress at a real scale rung (round-13, verdict item 5).
  *
  * `SkewHealthSpec` proves AQE splits a skewed join at toy scale; this
  * harness records the generic shuffle-join path surviving a planted
  * Zipfian key at sf10 (~60M lineitem rows): 10% of the fact table is
  * remapped onto ONE part key, the fact⋈dim sort-merge join runs once
  * with AQE skew-join ON and once OFF, and the artifact records
  *   - the final adaptive plan carrying the skew=true SMJ marker,
  *   - identical answers both ways (skew handling is layout-only),
  *   - per-stage task histograms: with the split ON the join stage's
  *     max task must stay <= 4x its median; with it OFF the hot task
  *     demonstrates the cliff the split removes,
  *   - wall-clock both ways.
  * Also records the grouped-aggregate path over the same hot key,
  * where map-side partial aggregation absorbs the skew with no AQE
  * intervention needed. Run:
  *
  *   CLASSES=main:test dev/run_main.sh graft.tools.SkewStress /tmp/scale_sf10
  *
  * Artifact: `dev/sweeps/r13_skew_sf10.txt`.
  */
object SkewStress {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/scale_sf10"
    val spark = graft.Session.build(sfDir)
    spark.conf.set("spark.sql.shuffle.partitions", 128)
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum", 128)
    // dim is ~2M rows (~100 MB) at sf10 — keep it on the shuffle path
    // so the SKEWED join is what we measure, not a broadcast dodge
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // production skew gates scaled to the rung: the defaults (256 MB
    // partition AND 5x median) are sized for cluster-scale shuffles;
    // at sf10 the planted hot partition carries ~150-300 MB of
    // shuffle bytes and the median ~10 MB, so a proportional 32 MB
    // threshold exercises the same gate logic (factor 5 unchanged)
    // the way a 100 TB shuffle would hit the 256 MB default
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")

    // per-stage task durations (ms)
    val stageTasks = TrieMap[Int, ArrayBuffer[Long]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        stageTasks.synchronized {
          val buf = stageTasks.getOrElseUpdate(te.stageId, ArrayBuffer())
          buf += te.taskInfo.duration
        }
    })

    val hotKey = 7L
    // Zipfian plant: ~20% of the fact rows land on ONE dim key (the
    // hot shuffle partition must clear AQE's production skew gate —
    // 256 MB AND 5x median — for the split to fire; ~12M rows of
    // lineitem shuffle payload does, ~6M sat right at the line)
    def fact = graft.Tables.lineitem(spark, sfDir)
      .withColumn("l_partkey",
        when(col("l_orderkey") % 5 === 0, lit(hotKey))
          .otherwise(col("l_partkey")))
    def dim = graft.Tables.part(spark, sfDir)
      .select("p_partkey", "p_brand", "p_retailprice")

    def query = fact.join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"))

    def taskStats(since: Set[Int]): Seq[(Int, Int, Long, Long)] =
      stageTasks.synchronized {
        stageTasks.toSeq.filterNot(kv => since(kv._1)).map { case (sid, ds) =>
          val sorted = ds.sorted
          (sid, ds.size, sorted(ds.size / 2), sorted.last)
        }.sortBy(-_._4)
      }

    def runOnce(label: String, skewOn: Boolean):
        (Seq[String], Double, Seq[(Int, Int, Long, Long)], String) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn)
      val seen = stageTasks.synchronized(stageTasks.keySet.toSet)
      val df = query
      val t0 = System.nanoTime()
      val rows = df.collect().map(_.toString).sorted.toSeq
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.executedPlan.toString
      val stats = taskStats(seen)
      println(f"[skew] $label: ${sec}%.1f s, ${rows.size} groups")
      stats.take(4).foreach { case (sid, n, med, mx) =>
        println(f"[skew]   stage $sid: n=$n median=${med}ms max=${mx}ms " +
          f"ratio=${mx.toDouble / math.max(1, med)}%.1f")
      }
      (rows, sec, stats, plan)
    }

    // prime the page cache so OFF-vs-ON measures the JOIN, not which
    // run read the parquet cold (the first draft's 23 s vs 8 s "win"
    // was entirely cache order)
    val warm0 = System.nanoTime()
    fact.write.format("noop").mode("overwrite").save()
    dim.write.format("noop").mode("overwrite").save()
    println(f"[skew] cache warmup: ${(System.nanoTime() - warm0) / 1e9}%.1f s")

    val (rowsOff, secOff, statsOff, _) = runOnce("skewJoin OFF", skewOn = false)
    val (rowsOn, secOn, statsOn, planOn) = runOnce("skewJoin ON", skewOn = true)

    import Race.check
    check(rowsOn == rowsOff && rowsOn.nonEmpty,
      s"answers identical with/without skew split (${rowsOn.size} groups)")
    check(planOn.contains("skew=true"),
      "final adaptive plan carries the skew=true SMJ marker")
    // the stage with the heaviest task is the join stage both ways
    val (joinOffId, nOff, medOff, maxOff) = statsOff.head
    val (joinOnId, nOn, medOn, maxOn) = statsOn.head
    println(f"[skew] OFF join stage $joinOffId: n=$nOff median=${medOff}ms " +
      f"max=${maxOff}ms ratio=${maxOff.toDouble / math.max(1, medOff)}%.1f")
    println(f"[skew] ON  join stage $joinOnId: n=$nOn median=${medOn}ms " +
      f"max=${maxOn}ms ratio=${maxOn.toDouble / math.max(1, medOn)}%.1f")
    check(maxOff.toDouble / math.max(1, medOff) > 4.0,
      "without the split the planted key produces a >4x straggler " +
        "(the cliff being tested)")
    check(maxOn.toDouble / math.max(1, medOn) <= 4.0,
      "with AQE skew split no task exceeds 4x the stage median")

    // grouped-aggregate path over the same hot key: partial aggregation
    // absorbs the skew before the exchange — no AQE needed
    val seen2 = stageTasks.synchronized(stageTasks.keySet.toSet)
    val t0 = System.nanoTime()
    fact.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("q"))
      .agg(count(lit(1)), max(col("cnt"))).collect()
    val aggSec = (System.nanoTime() - t0) / 1e9
    val aggStats = taskStats(seen2)
    val (aggSid, aggN, aggMed, aggMax) = aggStats.head
    println(f"[skew] hot-key groupBy: ${aggSec}%.1f s, " +
      f"stage $aggSid n=$aggN median=${aggMed}ms max=${aggMax}ms")
    check(aggMax.toDouble / math.max(1, aggMed) <= 4.0,
      "hot-key aggregation balanced by map-side partial agg")
    println(f"[skew] wall-clock: off=${secOff}%.1f s on=${secOn}%.1f s")

    Race.finish("skew", spark)
  }
}
