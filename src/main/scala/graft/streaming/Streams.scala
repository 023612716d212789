package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming façade over the engine's batch semantics
  * (SURVEY.md §2.9: the reference is incremental *batch*; these are the
  * additive streaming twins of its core operators — same results, applied
  * continuously).
  *
  * Scale notes: all stateful operators key their state by the dedup/group
  * key, so state is hash-partitioned across executors exactly like the
  * batch shuffles; watermarks bound state size (without one, streaming
  * dropDuplicates state grows forever — the 100 TB failure mode).
  */
object Streams {

  /** Typed event-stream record (testdata `events` shape minus nanos:
    * streaming sources carry micros timestamps).
    */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** File-source ingestion: the streaming twin of the bronze CSV scan
    * (reference: notebooks/bronze.py:75-80 — explicit schema, never
    * inferred; `maxFilesPerTrigger` bounds batch size so one giant drop
    * can't blow executor memory).
    */
  def fileIngest(spark: SparkSession, dir: String, schema: StructType,
      format: String = "parquet", maxFilesPerTrigger: Int = 100,
      globFilter: Option[String] = None): DataFrame = {
    val reader = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(format)
    globFilter.foreach(reader.option("pathGlobFilter", _))
    reader.load(dir) // file streams require a directory, not a single file
  }

  /** Binary-file stream over a drop directory of container shards
    * (.warc.gz / .zip / .tfrecord / .tar.gz) — the ingestion front of
    * [[archiveIngest]]. The binaryFile source carries its own fixed
    * schema (path, modificationTime, length, content);
    * `maxFilesPerTrigger` bounds how many whole archives one
    * micro-batch holds (each archive is decoded on ONE task, so the
    * batch bound is the memory bound).
    */
  def archiveStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16,
      globFilter: Option[String] = None): DataFrame = {
    // the binaryFile source's schema is FIXED by the format, but the
    // streaming planner still demands it be stated (never inferred)
    val schema = new StructType()
      .add("path", org.apache.spark.sql.types.StringType)
      .add("modificationTime", org.apache.spark.sql.types.TimestampType)
      .add("length", org.apache.spark.sql.types.LongType)
      .add("content", org.apache.spark.sql.types.BinaryType)
    val reader = spark.readStream
      .format("binaryFile")
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    globFilter.foreach(reader.option("pathGlobFilter", _))
    reader.load(dir)
  }

  /** Extract container-archive rows from a (streaming or batch)
    * binaryFile DataFrame using the matching [[graft.sources]] reader.
    * Every output row carries `archive_id = xxhash64(path)` so lineage
    * back to the source shard survives the flatMap; a corrupt archive
    * surfaces as its one all-null row (the readers' loud-rejection
    * contract) rather than vanishing from the stream.
    */
  def extractArchives(archives: DataFrame, format: String): DataFrame = {
    val spark = archives.sparkSession
    import spark.implicits._
    val keyed = archives
      .select(xxhash64(col("path")).as("archive_id"), col("content"))
      .as[(Long, Array[Byte])]
    val rows = format match {
      case "warc" => graft.sources.Warc.warcResponses(keyed)
      case "zip" => graft.sources.Zip.zipEntries(keyed)
      case "tfrecord" => graft.sources.Tfrecord.tfrecordRecords(keyed)
      case "tar" => graft.sources.Tar.tarEntries(keyed)
      case other => throw new IllegalArgumentException(
        s"unknown archive format '$other' " +
          "(expected warc|zip|tfrecord|tar)")
    }
    rows.withColumnRenamed("media_id", "archive_id")
  }

  /** Continuous container ingestion: shards dropped into `srcDir`
    * stream through the matching container reader and land in a
    * [[graft.sources.VersionedTable]] under the `append#<batchId>`
    * exactly-once contract (the race-proven versioned sink: a replayed
    * or restarted batch finds its tag and skips; a partial batch can
    * never surface). This is the production shape for "a crawler keeps
    * writing .warc.gz files; the corpus table keeps growing,
    * time-travelably" — processes all currently-available input, then
    * stops (call again as more shards land).
    */
  def archiveIngest(spark: SparkSession, srcDir: String, format: String,
      tableDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 16): Unit =
    versionedIngest(
      extractArchives(archiveStream(spark, srcDir, maxFilesPerTrigger),
        format),
      tableDir, checkpointDir)

  /** Streaming insert-only idempotency: the streaming twin of the J1
    * anti-join (reference: bronze.py:111-112). State-store-backed exact
    * once-per-key within the watermark horizon; late re-deliveries beyond
    * the horizon are dropped by the watermark itself.
    */
  def dedupedIngest(stream: DataFrame, keyCol: String, tsCol: String,
      watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicates(keyCol, tsCol)

  /** Watermarked tumbling-window aggregation: the streaming twin of
    * q26 / the gold daily totals (reference: gold.py:323-329 at day
    * grain). Append mode emits a window once the watermark passes its
    * end — results then match the batch groupBy(window) exactly.
    */
  def windowedCounts(stream: DataFrame, tsCol: String, windowLen: String,
      watermark: String, keys: String*): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen) +: keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start") +: keys.map(col) :+
        col("cnt") :+ col("sum_value"): _*)

  /** Streaming keep-newest-per-key: the streaming twin of the W1 dedup
    * window (reference: silver.py:81-85) via mapGroupsWithState. Emits
    * the current winner for each key touched in a micro-batch; state is
    * one row per key (the running max by (ts, event_id)).
    */
  def latestPerUser(events: Dataset[Event]): Dataset[Event] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(
        (_: Long, batch: Iterator[Event], state: GroupState[Event]) => {
          val candidates = state.getOption.iterator ++ batch
          val best = candidates.maxBy(e => (e.ts.getTime, e.event_id))
          state.update(best)
          best
        })
  }

  /** Stateful sessionization via flatMapGroupsWithState: groups a user's
    * events into sessions closed by `gapMillis` of inactivity, emitting
    * one row per closed session. The kind of custom state logic
    * (KeyValueGroupedDataset + GroupState) that windowed aggs can't
    * express.
    */
  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, sum_value: Double)

  // must be public: the codegen'd state deserializer instantiates it
  case class SessionState(startMs: Long, endMs: Long, nEvents: Long, sumValue: Double)

  def sessionize(events: Dataset[Event], gapMillis: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) => {
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.endMs <= gapMillis =>
                cur = Some(SessionState(s.startMs, t, s.nEvents + 1, s.sumValue + e.value))
              case Some(s) =>
                closed += Session(userId, new Timestamp(s.startMs),
                  new Timestamp(s.endMs), s.nEvents, s.sumValue)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
        })
  }

  /** Watermarked NATIVE sessionization — the production shape: Spark's
    * built-in `session_window` aggregation merges windows whose gap is
    * within `gap`, keyed state is watermark-bounded, and event-time
    * robustness is built in: an out-of-order event arriving in a later
    * micro-batch still merges into its session as long as it beats the
    * watermark, and events older than the watermark are dropped at the
    * operator instead of corrupting state. (The
    * [[sessionize flatMapGroupsWithState twin]] stays as the
    * custom-state exemplar, but it processes batches in arrival order
    * with no watermark — a late event there can split or distort a
    * session.) Append mode emits a session once the watermark passes
    * session end + gap; results then match the batch
    * `operators.Sessionize.sessions` on the same rows exactly
    * (session_start/session_end are min/max event time, like the batch
    * operator — the window struct's padded end is dropped).
    */
  def sessionizeNative(stream: DataFrame, keys: Seq[String], tsCol: String,
      gap: String, watermark: String,
      extraAggs: Seq[org.apache.spark.sql.Column] = Seq.empty): DataFrame = {
    val aggs = Seq(
      min(col(tsCol)).as("session_start"),
      max(col(tsCol)).as("session_end"),
      count(lit(1)).as("n_events")) ++ extraAggs
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .drop("session_window")
  }

  /** Stream-stream interval join: the streaming twin of the batch range
    * join (q40 / `RangeJoin.pointsInIntervals` with intervals of length
    * `maxDelay` anchored at the right rows): left rows pair with right
    * rows of the same key where
    * `right.ts <= left.ts < right.ts + maxDelay` — "events within the
    * hour after a purchase", continuously.
    *
    * Both sides MUST be watermarked (done here): Spark sizes the join
    * state from watermark + time-range bounds, so state for rows older
    * than `watermark + maxDelay` is evicted instead of growing forever —
    * the stream-stream-join analog of the batch bin-bucket trick's
    * bounded shuffle. Inner join: results match the batch join exactly
    * once both watermarks pass.
    *
    * `leftTs`/`rightTs` must be DISTINCT column names (the join output
    * carries both).
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String,
      maxDelay: String, watermark: String): DataFrame = {
    // the output carries every non-key column of both sides, so any
    // shared non-key name (including the ts columns) would emit duplicate
    // columns that fail with AMBIGUOUS_REFERENCE only when first selected
    val shared = (left.columns.toSet intersect right.columns.toSet) -- keys
    require(shared.isEmpty,
      s"non-key columns shared by both sides must be renamed: ${shared.mkString(", ")}")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val rangeCond =
      l(leftTs) >= r(rightTs) &&
        l(leftTs) < r(rightTs) + expr(s"INTERVAL $maxDelay")
    // drop the right side's duplicated key columns from the output
    val out = l.join(r, keyCond && rangeCond, "inner")
    out.select(left.columns.map(l(_)).toSeq ++
      right.columns.filterNot(keys.contains).map(r(_)): _*)
  }

  /** Continuous corpus ingestion with near-dedup: every micro-batch of
    * documents dedups against the PERSISTED signature store via
    * `foreachBatch` + [[graft.dedup.IncrementalDedup]] — the streaming
    * face of the incremental posture. Survivors append to `outDir`;
    * their signatures append to `storeDir`, so the store is the
    * cross-batch state. Deliberately a TABLE, not Spark state-store
    * state: signatures must outlive the query, be shared with batch
    * jobs, and never be replayed into memory on restart (state-store
    * near-dup state would grow with the corpus — the 100 TB failure
    * mode; a parquet store is scan-pruned by the band-probe join
    * instead).
    *
    * Exactly-once across crashes/replays: each sink's batch publishes
    * as an atomically-renamed batch_id partition via [[BatchLedger]],
    * and an already-committed sink is skipped —
    * see [[processNearDedupBatch]]. Processes all
    * currently-available input, then stops (a deployment would leave the
    * query running on a trigger).
    */
  def nearDedupIngest(stream: DataFrame, idCol: String, textCol: String,
      threshold: Double, storeDir: String, outDir: String,
      checkpointDir: String): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processNearDedupBatch(batch, batchId, idCol, textCol, threshold,
          storeDir, outDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** One micro-batch of [[nearDedupIngest]], factored out so the
    * replay/crash path is directly testable. The two sink publications
    * are not atomic TOGETHER, so idempotency is per-sink via
    * [[BatchLedger]]: each sink's batch lands as an atomically-renamed
    * `batch_id=<id>` partition, an already-committed sink is skipped,
    * and a replayed batch therefore re-publishes only the sink(s) the
    * crashed attempt missed — never twice, never partially. Publish
    * ORDER is load-bearing: survivors land before the signature delta,
    * so a replay always recomputes against the same store state the
    * original attempt saw (foreachBatch is serial — no later batch can
    * have advanced the store); were the store written first, a replay
    * would find the batch's own signatures in the store and dedup the
    * batch against itself.
    */
  private[graft] def processNearDedupBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, threshold: Double,
      storeDir: String, outDir: String): Unit = {
    import graft.dedup.IncrementalDedup
    val spark = batch.sparkSession
    if (BatchLedger.isCommitted(spark, outDir, batchId) &&
      BatchLedger.isCommitted(spark, storeDir, batchId)) return
    val store =
      if (BatchLedger.hasCommits(spark, storeDir))
        spark.read.parquet(storeDir).drop("batch_id")
      else IncrementalDedup.signatureStore(batch.limit(0), idCol, textCol)
    val r = IncrementalDedup.dedupBatch(store, batch, idCol, textCol, threshold)
    // materialize survivors once; both writes (and the signature
    // delta's semi-join) read the checkpoint instead of re-running
    // the anti-join per sink
    val sv = r.survivors.localCheckpoint()
    BatchLedger.publish(sv, outDir, batchId)
    BatchLedger.publish(
      r.batchSigs.join(sv.select(col(idCol)), Seq(idCol), "left_semi"),
      storeDir, batchId)
  }

  /** Continuous cluster maintenance — the streaming face of
    * [[graft.dedup.Components.extendComponents]], completing the
    * incremental-dedup state machine: per micro-batch, the batch probes
    * the persisted signature store for near-dup pairs
    * (`IncrementalDedup.dedupBatch` — store never self-joins), the
    * persisted LABELS table extends with the batch-bounded label merge,
    * and both tables append the batch's delta. Nothing is dropped in
    * this mode: every doc enters the store and gets a cluster label
    * (downstream consumers pick winners per cluster when they need
    * dedup).
    *
    * The labels table is append-only CDC: each batch appends ONLY the
    * changed/new (id, cluster_id) rows under its batch_id partition, and
    * readers resolve current labels as latest-batch-wins per id
    * (`Dedup.latestPerKeyAgg`) — so a cluster merge that relabels an old
    * cluster writes rows proportional to that cluster, never a store
    * rewrite. Same per-sink batch_id idempotency as
    * [[processNearDedupBatch]]; labels write FIRST so a replay always
    * recomputes against the pre-batch signature store (sigs-first would
    * make the replayed batch self-filter against its own store copies).
    */
  def clusterIngest(stream: DataFrame, idCol: String, textCol: String,
      threshold: Double, storeDir: String, labelsDir: String,
      checkpointDir: String): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processClusterBatch(batch, batchId, idCol, textCol, threshold,
          storeDir, labelsDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  private[graft] def processClusterBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, threshold: Double,
      storeDir: String, labelsDir: String): Unit = {
    import graft.dedup.{Components, IncrementalDedup}
    val spark = batch.sparkSession
    if (BatchLedger.isCommitted(spark, labelsDir, batchId) &&
      BatchLedger.isCommitted(spark, storeDir, batchId)) return
    val store =
      if (BatchLedger.hasCommits(spark, storeDir))
        spark.read.parquet(storeDir).drop("batch_id")
      else IncrementalDedup.signatureStore(batch.limit(0), idCol, textCol)
    val labels =
      if (BatchLedger.hasCommits(spark, labelsDir))
        graft.operators.Dedup.latestPerKeyAgg(Seq("id"), Seq(col("batch_id")))(
          spark.read.parquet(labelsDir)).select("id", "cluster_id")
      else batch.limit(0).select(col(idCol).cast("long").as("id"),
        col(idCol).cast("long").as("cluster_id"))
    // dedupBatch supplies the pairs AND the (fresh-ids-only) signatures;
    // survivors are ignored — cluster mode keeps every doc
    val r = IncrementalDedup.dedupBatch(store, batch, idCol, textCol, threshold)
    val ext = Components.extendComponentsWithDelta(
      labels, r.batchSigs.select(col(idCol)), idCol, r.pairs)
    // materialize the delta BEFORE publishing: it lazily reads the very
    // labels files the publication below grows
    val delta = ext.delta.localCheckpoint()
    BatchLedger.publish(delta, labelsDir, batchId)
    BatchLedger.publish(r.batchSigs, storeDir, batchId)
  }

  /** Continuous line-level boilerplate removal — the streaming face of
    * [[graft.dedup.LineDedup.dropFrequentLinesWithStore]], completing the
    * incremental state-machine family (signature store, cluster labels,
    * dim snapshots, aggregate views, and now the line-frequency store):
    * per micro-batch, the batch's (line_hash, doc_freq) delta merges
    * with the persisted store and the batch rewrites against the MERGED
    * frequencies — a line the corpus has already made boilerplate drops
    * from the batch even when the batch alone would never promote it,
    * and history is never rescanned (per-batch cost = batch + store).
    *
    * The store is append-only: each batch publishes only its own delta
    * under its batch_id partition, readers aggregate (the additive-merge
    * contract — batches carry disjoint doc ids by construction here,
    * the file source delivering each doc once). Same per-sink batch_id
    * idempotency as [[processNearDedupBatch]]; the store read EXCLUDES
    * the current batch_id, so a replayed batch merges the prior store
    * with a freshly recomputed delta — the same merged (pre-batch +
    * current-batch) frequencies the first attempt saw, never
    * double-counting its own delta. The output publishes BEFORE the
    * delta, so the reachable half-commit is output-landed/delta-lost;
    * the replay regenerates both from the same inputs.
    */
  def lineDedupIngest(stream: DataFrame, idCol: String, textCol: String,
      minDocFreq: Long, storeDir: String, outDir: String,
      checkpointDir: String): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processLineDedupBatch(batch, batchId, idCol, textCol, minDocFreq,
          storeDir, outDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  private[graft] def processLineDedupBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, minDocFreq: Long,
      storeDir: String, outDir: String): Unit = {
    import graft.dedup.LineDedup
    val spark = batch.sparkSession
    if (BatchLedger.isCommitted(spark, outDir, batchId) &&
      BatchLedger.isCommitted(spark, storeDir, batchId)) return
    // materialized once: three consumers (merge, output rewrite via the
    // merged store, store publication) — and the half-committed-replay
    // guard needs the delta computed from the BATCH, not read back
    val delta = LineDedup.lineFrequencyStore(batch, idCol, textCol)
      .localCheckpoint()
    val merged =
      if (BatchLedger.hasCommits(spark, storeDir)) {
        val prior = spark.read.parquet(storeDir)
          .filter(col("batch_id") =!= batchId) // replay guard (see scaladoc)
          .drop("batch_id")
        LineDedup.mergeLineStores(Seq(prior, delta))
      } else delta
    BatchLedger.publish(
      LineDedup.dropFrequentLinesWithStore(batch, merged, idCol, textCol,
        minDocFreq),
      outDir, batchId)
    BatchLedger.publish(delta, storeDir, batchId)
  }

  /** Streaming SCD Type 2 maintenance — CDC stream in, versioned
    * dimension out, completing the incremental state-machine family
    * (signature store, cluster labels, and now the dim itself): each
    * micro-batch of updates applies [[graft.operators.Scd.applyType2]]
    * against the latest persisted snapshot and writes the NEW snapshot
    * under its batch_id partition. The batch's effective timestamp is
    * its max `tsCol` (one bounded agg); within a batch the newest row
    * per key wins ([[graft.operators.Dedup.latestPerKey]] — applyType2's
    * one-update-per-key contract).
    *
    * Snapshots are immutable once written and readers take the max
    * committed batch_id ([[currentDim]]), so idempotency is the standard
    * skip-committed-partition check, and a replayed batch recomputes
    * from exactly the snapshot its crashed attempt read. Full
    * snapshot-per-batch is right for dimension-sized tables (dims are
    * small next to facts); at 100 TB retention-compact old snapshots or
    * restate only touched partitions via `Sources.overwritePartitions`.
    */
  def scdIngest(stream: DataFrame, keys: Seq[String], tracked: Seq[String],
      tsCol: String, dimDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processScdBatch(batch, batchId, keys, tracked, tsCol, dimDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  private[graft] def processScdBatch(batch: DataFrame, batchId: Long,
      keys: Seq[String], tracked: Seq[String], tsCol: String,
      dimDir: String): Unit = {
    val spark = batch.sparkSession
    // the SCD reader promotes ONE partition to "latest", so committedness
    // must be airtight: BatchLedger's atomic rename guarantees a
    // batch_id= partition is either absent or a COMPLETE snapshot — a
    // crash mid job-commit can no longer surface a partial dim as truth
    if (BatchLedger.isCommitted(spark, dimDir, batchId)) return
    if (batch.isEmpty) return
    val dim = currentDim(spark, dimDir).getOrElse(
      batch.limit(0).select((keys ++ tracked).map(col): _*)
        .withColumn("valid_from", lit(null).cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .withColumn("is_current", lit(true)))
    val updates = graft.operators.Dedup.latestPerKey(keys,
        col(tsCol).desc +: tracked.map(col(_).asc))(batch)
      .select((keys ++ tracked).map(col): _*)
    val eff = batch.agg(max(col(tsCol))).head.getTimestamp(0)
    BatchLedger.publish(
      graft.operators.Scd.applyType2(dim, updates, keys, tracked, lit(eff)),
      dimDir, batchId)
  }

  /** The latest committed dim snapshot under `dimDir`, or None before the
    * first batch.
    */
  def currentDim(spark: SparkSession, dimDir: String): Option[DataFrame] = {
    val ids = BatchLedger.committedIds(spark, dimDir)
    if (ids.isEmpty) None
    else Some(spark.read.parquet(s"$dimDir/batch_id=${ids.max}"))
  }

  /** Continuous eval-set decontamination: docs of each micro-batch that
    * share n-grams with the STATIC benchmark table are dropped before the
    * batch lands. Stateless across batches (the benchmark set is fixed),
    * so the BATCH operator applies unchanged per micro-batch via
    * foreachBatch — no store, no cross-batch state; the benchmark gram
    * set broadcasts exactly as in the batch path. Processes all
    * currently-available input, then stops.
    */
  def decontaminateIngest(stream: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, benchTextCol: String, outDir: String,
      checkpointDir: String, n: Int = 8, minHits: Int = 1): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.dedup.Decontaminate
          .decontaminate(batch, bench, idCol, textCol, benchTextCol, n, minHits)
          .write.mode("append").parquet(outDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Run a streaming DataFrame to a named in-memory sink until all
    * available input is processed — the local smoke path.
    */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Checkpointed parquet sink — the production ending of a streaming
    * pipeline, and the durability contract at scale: the checkpoint
    * records committed source offsets and the sink's transaction log
    * records visible output files, so stopping and restarting the same
    * (sink, checkpoint) pair resumes exactly-once — already-committed
    * input is never reprocessed, half-written output never surfaces.
    * Processes all currently-available input, then stops (a deployment
    * would leave the query running on a trigger).
    */
  def runToParquet(df: DataFrame, outDir: String, checkpointDir: String): Unit = {
    val q = df.writeStream.outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming append into a [[graft.sources.VersionedTable]] — the
    * strongest sink in this file: each micro-batch commits as ONE
    * atomically-claimed manifest tagged `append#<batchId>`, so a batch
    * is either fully visible as a table version or absent entirely (a
    * partial batch CANNOT surface, where the partition-ledger sinks can
    * only make partial data unreachable), a replayed batch finds its tag
    * and skips, and every batch boundary stays time-travelable.
    * Processes all currently-available input, then stops.
    */
  def versionedIngest(stream: DataFrame, tableDir: String,
      checkpointDir: String, statsCols: Seq[String] = Seq.empty): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processVersionedBatch(batch, batchId, tableDir, statsCols)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Per-JVM incremental tag-ledger cursor for the versioned sinks.
    * `seen` accumulates the operation tag of EVERY committed version the
    * sink has scanned; `through` is the scan floor — versions at or
    * below it are fully covered, so each batch reads only the manifests
    * committed since (O(new versions) per batch instead of the previous
    * O(table history), which made a long-lived stream QUADRATIC in
    * manifest reads: thousands of batches × thousands of versions). A
    * cold cursor (`through < 0` — first batch in this JVM, i.e. exactly
    * the restart case) pays the one full scan the replay contract
    * needs. Memory: one tag string per table version per JVM — ~50 MB
    * at a million versions, far below any driver heap that could list
    * a million manifests in the first place.
    */
  private final class SinkCursor {
    val seen = new java.util.HashSet[String]()
    var through: Long = -1L
    // identity of the incarnation the cursor was built against (the
    // table UUID minted by its version-1 commit and carried by every
    // later manifest); None for pre-identity legacy tables
    var tableId: Option[String] = None
  }
  private val sinkCursors =
    new java.util.concurrent.ConcurrentHashMap[String, SinkCursor]()

  /** Test seam: forget every cursor, forcing the next batch per table
    * back to the cold full scan (simulates a driver restart).
    */
  private[graft] def resetSinkCursors(): Unit = sinkCursors.clear()

  /** Advance (or cold-start) the dir's ledger cursor and return it with
    * the resolved latest snapshot. Tags committed by ANY process at any
    * version are guaranteed to be in `seen` once this returns: the
    * floor only advances through contiguously-complete versions
    * ([[graft.sources.VersionedTable.opsAndLatestAfter]]), so no
    * version's tag can be skipped — a zombie driver's commit is caught
    * exactly like our own. A table whose latest version reads BELOW the
    * floor was deleted and recreated at the same path: the cursor
    * resets cold rather than serving the dead incarnation's tags.
    */
  private def scanLedger(spark: org.apache.spark.sql.SparkSession,
      dir: String): (SinkCursor,
        Option[graft.sources.VersionedTable.Snapshot]) = {
    import graft.sources.VersionedTable
    val c = sinkCursors.computeIfAbsent(dir, _ => new SinkCursor)
    c.synchronized {
      if (c.through >= 0) {
        val (ops, latestOpt, through) =
          VersionedTable.opsAndLatestAfter(spark, dir, c.through)
        // Recreation detection is IDENTITY-first: every table mints a
        // UUID at version 1 that all later manifests carry, so a table
        // deleted and recreated at this path is caught even when the
        // new incarnation has already grown PAST the old floor (a
        // long-idle sink restarting on a fresh checkpoint would
        // otherwise keep the dead incarnation's seen tags and silently
        // skip legitimate batches whose append#N tags collide). The
        // version-floor heuristic stays as the fallback for legacy
        // tables committed before identities existed.
        val sameIncarnation = latestOpt.exists { l =>
          l.version >= c.through &&
            ((l.tableId, c.tableId) match {
              case (Some(a), Some(b)) => a == b
              case _ => true // legacy (no id): version heuristic only
            })
        }
        if (sameIncarnation) {
          ops.foreach(c.seen.add)
          c.through = through
          // adopt the identity as soon as one is visible: a cursor
          // cold-started against an EMPTY table has none until the
          // first committed version shows it
          c.tableId = latestOpt.flatMap(_.tableId).orElse(c.tableId)
          return (c, latestOpt)
        }
        // different incarnation at this path — reset cold
        c.seen.clear(); c.through = -1L; c.tableId = None
      }
      val snaps = VersionedTable.snapshots(spark, dir)
      snaps.foreach(s => c.seen.add(s.operation))
      c.through = snaps.lastOption.map(_.version).getOrElse(0L)
      c.tableId = snaps.lastOption.flatMap(_.tableId)
      (c, snaps.lastOption)
    }
  }

  private[graft] def processVersionedBatch(batch: DataFrame, batchId: Long,
      tableDir: String, statsCols: Seq[String] = Seq.empty): Unit = {
    import graft.sources.VersionedTable
    val spark = batch.sparkSession
    val tag = s"append#$batchId"
    // ONE incremental ledger scan serves both the replay check and the
    // append's version resolution ([[scanLedger]]): per-batch manifest
    // cost is O(versions committed since the last batch), not O(table
    // history) — on a thousand-version streaming table this is the
    // difference between ~3 manifest reads per batch and ~1000.
    val (cursor, latestOpt) = scanLedger(spark, tableDir)
    if (cursor.synchronized(cursor.seen.contains(tag))) return
    if (batch.isEmpty) return
    val s = VersionedTable.write(batch, tableDir, tag, latestOpt, statsCols,
      tagged = true, maxAttempts = 5)
    cursor.synchronized(cursor.seen.add(s.operation))
  }

  /** Streaming UPSERT into a [[graft.sources.VersionedTable]] — the
    * merge-on-read sink for a keyed change stream: each micro-batch
    * commits via [[graft.sources.VersionedTable.mergeWithDv]] as ONE
    * atomically-claimed version tagged `merge#<batchId>` (matched keys
    * soft-delete positionally + post-images append; unmatched keys
    * insert), so a batch is fully visible or absent, a replayed batch
    * finds its tag and skips, and every batch boundary stays
    * time-travelable. The first batch against a non-existent table
    * lands as a plain tagged append (a merge into nothing IS an
    * insert). The stream must deliver UNIQUE keys per batch (the SQL
    * MERGE rule mergeWithDv enforces) — dedup upstream, e.g.
    * keep-newest per key on the event timestamp. Compared to rewriting
    * the dimension per batch, per-batch write cost is O(batch), not
    * O(touched files) — the continuous form of the medallion upsert.
    * Processes all currently-available input, then stops.
    */
  def upsertIngest(stream: DataFrame, tableDir: String, keys: Seq[String],
      checkpointDir: String, statsCols: Seq[String] = Seq.empty,
      densityThreshold: Double = 0.15): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processUpsertBatch(batch, batchId, tableDir, keys, statsCols,
          densityThreshold)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  private[graft] def processUpsertBatch(batch: DataFrame, batchId: Long,
      tableDir: String, keys: Seq[String],
      statsCols: Seq[String] = Seq.empty,
      densityThreshold: Double = 0.15): Unit = {
    import graft.sources.VersionedTable
    val spark = batch.sparkSession
    val tag = s"merge#$batchId"
    val (cursor, latestOpt) = scanLedger(spark, tableDir)
    if (cursor.synchronized(cursor.seen.contains(tag))) return
    if (batch.isEmpty) return
    val s = latestOpt match {
      case None => // merge into nothing is an insert: create v1 tagged
        VersionedTable.write(batch, tableDir, tag, None, statsCols,
          tagged = true, maxAttempts = 5)
      case Some(_) =>
        VersionedTable.mergeWithDv(batch, tableDir, keys,
          statsCols = statsCols, densityThreshold = densityThreshold,
          maxAttempts = 5, opTag = tag)
    }
    cursor.synchronized(cursor.seen.add(s.operation))
  }

  /** Micro-batch STREAMING SOURCE over a [[graft.sources.VersionedTable]]'s
    * commit log — the pull half of the medallion pattern: a downstream
    * table maintains itself from the source table's row-level change
    * feed instead of rescanning it. The reference runs this DAG as a
    * daily full-refresh cron (Workflow/Daily_Licensed_Pets.yaml); at
    * 100 TB the refresh must be continuous and incremental.
    *
    * Each trigger emits one commit RANGE as a classified change batch
    * ([[graft.sources.ChangeFeed.readChanges]] — insert / delete /
    * update pre+post rows with `_commit_version` attribution), capped
    * at `maxVersionsPerBatch` commits so a backlogged source drains in
    * bounded plans. Cursor durability follows the micro-batch WAL
    * protocol under `checkpointDir`, namespaced by the source table's
    * UUID identity:
    *
    *  1. an INTENT marker (`wal-<tableId>-<to>`) records the planned
    *     range end BEFORE the batch runs — a crash mid-batch replays
    *     exactly the same range, so a sink keyed on `toVersion` dedups
    *     (the offsets-log half of Structured Streaming's contract);
    *  2. a COMMIT marker (`cursor-<tableId>-<to>`) lands only after
    *     `process` returns — restart resumes from the max commit
    *     marker (checkpoint resume), and a fully-committed range is
    *     never re-emitted (replay no-op);
    *  3. a recreated source table (different UUID at the same path)
    *     resets the cursor cold instead of serving the dead
    *     incarnation's positions — [[scanLedger]]'s identity contract,
    *     applied to a SOURCE.
    *
    * End-to-end exactly-once therefore needs only an idempotent-per-
    * range sink: pass `toVersion` as the sink's batch id (the
    * versioned/SCD sinks here all dedup on it). `startingVersion = 0`
    * emits the initial snapshot first (version 1's rows as `insert` at
    * `_commit_version` 1) before tailing; pass the current version to
    * tail only new commits. Drains everything committed at call time,
    * then returns the number of batches emitted — a deployment wraps
    * it in its trigger loop exactly like the other ingest machines
    * here. Single-pump per checkpoint by contract (competing pumps are
    * benign — markers collide idempotently — but waste work).
    */
  def changeFeedIngest(spark: SparkSession, srcDir: String,
      keys: Seq[String], checkpointDir: String,
      maxVersionsPerBatch: Int = 32, startingVersion: Long = 0L)(
      process: (DataFrame, Long, Long) => Unit): Int = {
    import graft.sources.{ChangeFeed, VersionedTable}
    require(maxVersionsPerBatch >= 1, "maxVersionsPerBatch must be positive")
    val latestOpt = VersionedTable.latest(spark, srcDir)
    if (latestOpt.isEmpty) return 0
    val latest = latestOpt.get
    val tid = latest.tableId.getOrElse("legacy")
    val ckpt = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(ckpt)
    def markedVersions(prefix: String): Seq[Long] =
      fs.listStatus(ckpt).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(prefix))
        .flatMap(_.stripPrefix(prefix).toLongOption)
    def mark(prefix: String, v: Long): Unit = {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(ckpt, f"$prefix$v%012d"), true)
      out.close()
    }
    val walPrefix = s"wal-$tid-"
    val curPrefix = s"cursor-$tid-"
    var cursor = (markedVersions(curPrefix) :+ startingVersion).max
    var batches = 0
    def emit(from: Long, to: Long): Unit = {
      val changes =
        if (from == 0L) {
          // initial load: version 1's rows as inserts, in the change
          // feed's column shape (keys, values, _change_type, version)
          val snap = VersionedTable.snapshotAt(spark, srcDir, 1L)
          val valueCols = snap.columns.filterNot(keys.contains).toSeq
          snap.select(keys.map(col) ++ valueCols.map(col): _*)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(1L))
        } else ChangeFeed.readChanges(spark, srcDir, from, to, keys)
      process(changes, from, to)
      mark(curPrefix, to)
      cursor = to
      batches += 1
    }
    // recover a crashed range first: an intent past the commit cursor
    // replays with ITS OWN original boundary, so the sink's range key
    // matches the crashed attempt's
    markedVersions(walPrefix).filter(_ > cursor).sorted.foreach { to =>
      emit(cursor, math.min(to, latest.version))
    }
    while (cursor < latest.version) {
      val to =
        if (cursor == 0L) 1L // the initial snapshot is its own batch
        else math.min(cursor + maxVersionsPerBatch, latest.version)
      mark(walPrefix, to)
      emit(cursor, to)
    }
    batches
  }

  /** Streaming maintenance of an additive aggregate view — the
    * streaming twin of `IncrementalView`: each micro-batch folds into
    * the stored per-group COUNT/SUM view (batch rows at weight +1; the
    * view never rescans ingested history, so per-batch cost is
    * O(batch + view), not O(corpus)) and commits as ONE tagged
    * versioned overwrite. The view is therefore atomic per batch
    * (readers see a batch's refresh entirely or not at all), replay-safe
    * (a redelivered batch finds its `view#<id>` tag and skips — the
    * versionedIngest contract), and every batch boundary stays
    * time-travelable: the view's own version history IS its refresh
    * log. Append-only input by construction; for upstream DELETE/UPDATE
    * maintain from the batch `changedFilesFeed` instead. Processes all
    * currently-available input, then stops.
    */
  def viewIngest(stream: DataFrame, viewDir: String, checkpointDir: String,
      groupCols: Seq[String], sumCols: Seq[String]): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processViewBatch(batch, batchId, viewDir, groupCols, sumCols)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  private[graft] def processViewBatch(batch: DataFrame, batchId: Long,
      viewDir: String, groupCols: Seq[String], sumCols: Seq[String]): Unit = {
    import graft.operators.IncrementalView
    import graft.sources.VersionedTable
    val spark = batch.sparkSession
    val tag = s"view#$batchId"
    // same incremental ledger discipline as [[processVersionedBatch]]:
    // the view table gains one version per batch, so a per-batch full
    // chain listing would be quadratic over the stream's lifetime
    val (cursor, latestOpt) = scanLedger(spark, viewDir)
    if (cursor.synchronized(cursor.seen.contains(tag))) return
    if (batch.isEmpty) return
    val updated = latestOpt match {
      case None => IncrementalView.full(batch, groupCols, sumCols)
      case Some(_) => IncrementalView.applyDelta(
        VersionedTable.read(spark, viewDir),
        batch.withColumn("__weight", lit(1L)), groupCols, sumCols)
    }
    VersionedTable.write(updated, viewDir, tag, latestOpt, overwrite = true)
    cursor.synchronized(cursor.seen.add(tag))
  }
}
