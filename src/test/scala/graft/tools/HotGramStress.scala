package graft.tools

import org.apache.spark.sql.functions._

/** Scale-level stress for the round-11 hot-gram skew guard
  * (`graft.dedup.Substring`): takes a real documents table, appends one
  * shared 8-token boilerplate span to 30% of the docs (the Zipfian
  * shape a real corpus has and the synthetic ladder lacks), and times
  * `dupSpans` with the guard on vs off, checking the answers agree.
  * Without the guard every position of the planted gram lands in ONE
  * window task; with it they take salted singleton partitions. Test
  * scope — a recorded-artifact harness (`dev/sweeps/r11_hotgram_*`),
  * not shipped surface. Run:
  *
  *   sbt 'Test/runMain graft.tools.HotGramStress /tmp/scale_sf1 [off]'
  *
  * (pass `off` to skip the unguarded leg when it would take too long —
  * the point of the guard is exactly that the unguarded leg degrades.)
  */
object HotGramStress {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runUnguarded = !args.drop(1).contains("off")
    val spark = graft.Session.build(sfDir)
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("PARTS", "64"))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      sys.env.getOrElse("PARTS", "64"))

    // a license-header-sized boilerplate block: 64 tokens = 57 hot
    // 8-grams, each landing in 30% of the corpus — at sf100 that is
    // ~1.5M positions PER GRAM, far over the 2^18 cap, so the probe
    // must engage; at sf1 it correctly stays cold (15K positions is a
    // trivial window partition)
    val boiler = (1 to 64).map(i => s"hot$i").mkString(" ")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 10 < 3, concat(col("text"), lit(" " + boiler)))
          .otherwise(col("text")).as("text"))
      .localCheckpoint()
    val n = docs.count()
    println(s"[hotgram] corpus=$n docs, ${(n * 3) / 10} carry the 64-token block")
    val flagged = graft.dedup.Substring.hotGrams(docs, "doc_id", "text",
      n = 8, cap = graft.dedup.Substring.DefaultHotGramCap,
      frac = graft.dedup.Substring.DefaultSampleFrac).count()
    println(s"[hotgram] probe flags $flagged grams at the default operating point")

    def time(label: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[hotgram] $label: $s%.1f s")
      s
    }

    // untimed warmup so neither leg pays first-touch JIT/classload/IO
    graft.dedup.Substring.dupSpans(docs.limit(2000), "doc_id", "text")
      .write.format("noop").mode("overwrite").save()

    val guarded = graft.dedup.Substring.dupSpans(docs, "doc_id", "text")
    val trials = sys.env.getOrElse("TRIALS", "2").toInt
    (1 to trials).foreach { t =>
      time(s"dupSpans GUARDED (default cap) trial $t") {
        guarded.write.format("noop").mode("overwrite").save()
      }
    }
    if (runUnguarded) {
      val unguarded = graft.dedup.Substring
        .dupSpans(docs, "doc_id", "text", hotGramCap = 0)
      (1 to trials).foreach { t =>
        time(s"dupSpans UNGUARDED (cap=0) trial $t") {
          unguarded.write.format("noop").mode("overwrite").save()
        }
      }
      val diff = guarded.exceptAll(unguarded).count() +
        unguarded.exceptAll(guarded).count()
      require(diff == 0, s"guard changed answers: $diff differing rows")
      println("[hotgram] answers EQUAL")
    }
    spark.stop()
  }
}
