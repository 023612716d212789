package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit, substring_index}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.sources.{DataSkipping, VersionedTable}

/** DataSource V2 READ connector for the versioned-table format — the
  * bridge that lets plain Spark SQL text reach a [[VersionedTable]]:
  *
  * {{{
  *   spark.read.format("graft").load(dir)                     // latest
  *   spark.read.format("graft").option("versionAsOf", 3)...   // time travel
  *   spark.read.format("graft").option("timestampAsOf", ts)...
  * }}}
  *
  * (with [[GraftCatalog]] adding `SELECT ... FROM cat.tbl VERSION AS OF 3`
  * SQL-text time travel on top). The reference consumes its whole gold
  * layer as SQL over catalog tables (`notebooks/gold.py:12`,
  * `docs/runbook.md:41-46`); this connector is that consumption mode
  * for this engine's own table format.
  *
  * Scale design — the scan IS the library's existing metadata machinery:
  *  - Snapshot resolution reads manifests only (checkpoint + deltas).
  *  - Pushed filters run through [[DataSkipping.prune]] (min/max +
  *    bloom sidecars) BEFORE planning: pruned files never become input
  *    partitions, so a point lookup on a 100 TB table plans the files
  *    the stats cannot refute, not all of them. Every pushed filter is
  *    ALSO returned as a residual — Spark re-evaluates it post-scan, so
  *    pruning is a pure I/O optimization, never a correctness input.
  *  - Column pruning maps the required LOGICAL columns to the files'
  *    PHYSICAL names (column mapping), so renamed tables read old files
  *    correctly and the parquet scan materializes only requested columns.
  *  - Deletion vectors apply per file: the parquet reader materializes
  *    the true row index (`_tmp_metadata_row_index`, the same device
  *    Delta uses), and each partition anti-filters its OWN file's
  *    positions via a sorted merge-walk — DV payload ships per task,
  *    proportional to that file's deletes.
  *  - Rows are decoded by Spark's own ParquetFileFormat reader function
  *    (vectorized when the session says so; batches are flattened at
  *    the DSv2 row boundary), so codec/rebase/timestamp semantics are
  *    identical to `spark.read.parquet`.
  *
  * The WRITE half routes SQL text back INTO the same commit protocol
  * ([[GraftWriteBuilder]]): `INSERT INTO` / CTAS / `INSERT OVERWRITE`
  * flow through `VersionedTable.appendWithRetry`/`overwrite` (CHECK
  * constraints, generated columns, per-file stats and the optimistic
  * rebase loop all apply exactly as to the Scala API), and
  * `DELETE FROM` / `TRUNCATE TABLE` land as deletion-vector DML via
  * [[SupportsDelete]]. Time-travel-pinned loads are read-only.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftDataSource.resolve(options)._2

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (dir, snap) = GraftDataSource.resolveSnap(opts)
    val pinned = opts.containsKey("versionAsOf") ||
      opts.containsKey("version") || opts.containsKey("timestampAsOf")
    new GraftTable(dir, snap, pinned)
  }
}

object GraftDataSource {
  /** (dir, logical schema) for the pinned snapshot. */
  private[v2] def resolve(options: CaseInsensitiveStringMap):
      (String, StructType) = {
    val (dir, snap) = resolveSnap(options)
    (dir, snap.schema.getOrElse(sys.error(
      s"graft DSv2 reads of $dir need a recorded schema " +
        "(every VersionedTable.create/append since schema tracking records one)")))
  }

  /** Resolve `path` + optional `versionAsOf`/`timestampAsOf` options to
    * a pinned snapshot. Pinning happens ONCE per table resolution so
    * schema and scan always agree, even if commits land mid-query.
    */
  private[v2] def resolveSnap(options: CaseInsensitiveStringMap):
      (String, VersionedTable.Snapshot) = {
    val dir = Option(options.get("path")).getOrElse(throw
      new IllegalArgumentException("graft data source requires a path"))
    val spark = SparkSession.active
    val all = VersionedTable.snapshots(spark, dir)
    require(all.nonEmpty, s"no graft versioned table at $dir")
    val byVersion = Option(options.get("versionAsOf"))
      .orElse(Option(options.get("version")))
    val byTs = Option(options.get("timestampAsOf"))
    val snap = (byVersion, byTs) match {
      case (Some(v), None) =>
        all.find(_.version == v.toLong).getOrElse(sys.error(
          s"table $dir has no version $v"))
      case (None, Some(ts)) =>
        val tsMs = ts.toLongOption.getOrElse(
          java.sql.Timestamp.valueOf(ts).getTime)
        val eligible = all.filter(_.timestampMs <= tsMs)
        require(eligible.nonEmpty,
          s"table $dir has no version committed at or before $ts")
        eligible.last
      case (None, None) => all.last
      case _ => throw new IllegalArgumentException(
        "specify at most one of versionAsOf / timestampAsOf")
    }
    (dir, snap)
  }
}

private[v2] class GraftTable(val dir: String,
    snap: VersionedTable.Snapshot, val pinned: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {
  private[v2] val logicalSchema: StructType = snap.schema.getOrElse(
    sys.error(s"graft DSv2 reads of $dir need a recorded schema"))

  override def name(): String = s"graft.`$dir`@v${snap.version}"
  override def schema(): StructType = logicalSchema
  override def capabilities(): java.util.Set[TableCapability] =
    // a time-travel-pinned load is a READ of table history; writing
    // "into the past" has no commit to claim, so pinned tables carry
    // no write capability and Spark's capability check rejects the
    // statement at analysis instead of us failing mid-write
    if (pinned) java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(dir, snap, logicalSchema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned, s"cannot write to time-travel pinned ${name()}")
    new GraftWriteBuilder(dir)
  }

  /** SQL `DELETE FROM` (and `TRUNCATE TABLE` via the AlwaysTrue
    * default): predicates our filter vocabulary can express run as
    * deletion-vector DML — [[VersionedTable.deleteWithDv]] prices DV
    * sidecar vs copy-on-write per touched file, so a SQL point delete
    * against a large table costs KB-scale sidecars, and a truncate
    * (density 1.0 everywhere) drops whole files. Unsupported predicate
    * shapes are refused in [[canDeleteWhere]], which Spark surfaces as
    * an analysis error rather than a wrong answer.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !pinned && filters.forall(f => GraftScan.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!pinned, s"cannot delete from time-travel pinned ${name()}")
    val pred = filters.flatMap(GraftScan.filterToColumn(_))
      .reduceOption(_ && _).getOrElse(lit(true))
    VersionedTable.deleteWithDv(SparkSession.active, dir, pred)
    ()
  }
}

private[v2] class GraftScanBuilder(dir: String,
    snap: VersionedTable.Snapshot, full: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  /** Accept the filters our stats machinery can evaluate; return ALL
    * of them as residuals — Spark re-applies every predicate after the
    * scan, so file skipping can only ever change bytes read, never the
    * answer (the same soundness stance as [[DataSkipping.readPruned]]).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftScan.filterToColumn(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // re-resolve against the table schema so column-mapping metadata
    // (physical name, field id) survives Spark's pruned copy
    required = StructType(requiredSchema.fields.map(f =>
      full.fields.find(_.name.equalsIgnoreCase(f.name)).getOrElse(f)))

  override def build(): Scan =
    new GraftScan(dir, snap, full, required, pushed, options)
}

private[graft] object GraftScan {
  /** Convert a DSv2 v1-Filter into the Column vocabulary
    * [[DataSkipping.prune]] evaluates. Unsupported shapes → None (the
    * file is then never pruned on them; Spark still filters rows).
    */
  private[v2] def filterToColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.And(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
    case sources.Or(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
    case sources.Not(c) => filterToColumn(c).map(!_)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** Driver-side cap on materialized DV positions for one scan. The
    * write side's density threshold rewrites files whose DVs grow dense
    * (CoW takes over), so real tables sit far below this; a table that
    * somehow exceeds it should be compacted (folding DVs away) first.
    */
  private[v2] val MaxDvScanRows = 32L * 1000 * 1000

  /** Last (kept, total) file counts a GraftScan planned — spec
    * observability, mirroring `VersionedTable.pruneInfo`.
    */
  @volatile private[graft] var lastPlanned: Option[(Int, Int)] = None
}

private[v2] class GraftScan(dir: String, snap: VersionedTable.Snapshot,
    full: StructType, required: StructType, pushed: Array[Filter],
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends Scan with Batch {
  private def spark = SparkSession.active

  private lazy val predicate: Option[Column] =
    pushed.flatMap(GraftScan.filterToColumn).reduceOption(_ && _)

  private lazy val kept: Seq[String] = predicate match {
    case Some(p) => DataSkipping.prune(spark, dir, snap, p)._1
    case None => snap.files
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft $dir v${snap.version} files=${kept.size}/${snap.files.size}" +
      (if (pushed.nonEmpty) s" PushedFilters: [${pushed.mkString(", ")}]"
       else "")

  override def planInputPartitions(): Array[InputPartition] = {
    GraftScan.lastPlanned = Some((kept.size, snap.files.size))
    GraftFiles.partitionsFor(spark, dir, snap, kept)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftFiles.readerFactory(spark, full, required, pushed.toSeq)

  /** `spark.readStream.format("graft")` — commit-log tailing as a
    * native Structured Streaming source ([[GraftMicroBatchStream]]).
    * Pushed filters don't reach the stream (Spark applies them as
    * residuals above the source); column pruning does.
    */
  override def toMicroBatchStream(checkpointLocation: String):
      MicroBatchStream =
    new GraftMicroBatchStream(dir, full, required, options)
}

/** File-level planning helpers shared by the batch [[GraftScan]] and
  * the streaming [[GraftMicroBatchStream]] — both plan one input
  * partition per manifest-listed part-file and decode through Spark's
  * own parquet reader.
  */
private[v2] object GraftFiles {

  def partitionsFor(spark: SparkSession, dir: String,
      snap: VersionedTable.Snapshot, files: Seq[String],
      withDv: Boolean = true): Array[InputPartition] = {
    val dvByBase =
      if (withDv) collectDvPositions(spark, dir, snap, files)
      else Map.empty[String, Array[Long]]
    val sizes = fileSizes(spark, dir, files)
    files.map { f =>
      val abs = VersionedTable.resolveRef(dir, f)
      val base = f.substring(f.lastIndexOf('/') + 1)
      GraftInputPartition(abs, sizes(f),
        dvByBase.getOrElse(base, Array.emptyLongArray)): InputPartition
    }.toArray
  }

  /** One listing per referenced subdirectory (not one stat per file) —
    * the same batching [[VersionedTable.requireFilesPresent]] uses, so
    * planning a million-file scan is O(dirs) namenode calls.
    */
  def fileSizes(spark: SparkSession, dir: String,
      files: Seq[String]): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.groupBy(f => f.substring(0, f.lastIndexOf('/'))).flatMap {
      case (sub, fsOfSub) =>
        val p = new Path(VersionedTable.resolveRef(dir, sub))
        val listed = p.getFileSystem(conf).listStatus(p)
          .filter(_.isFile).map(s => s.getPath.getName -> s.getLen).toMap
        fsOfSub.map { f =>
          val base = f.substring(f.lastIndexOf('/') + 1)
          f -> listed.getOrElse(base, sys.error(
            s"data file $f of $dir is missing (vacuumed?)"))
        }
    }
  }

  /** Deleted positions per part-file BASENAME, for the given files
    * only. Each input partition then carries just its own file's
    * positions — per-task DV payload is proportional to that file's
    * deletes.
    */
  def collectDvPositions(spark: SparkSession, dir: String,
      snap: VersionedTable.Snapshot,
      files: Seq[String]): Map[String, Array[Long]] = {
    val touched = files.filter(snap.dvn.contains)
    if (touched.isEmpty || snap.dvFiles.isEmpty)
      return Map.empty
    val expected = touched.map(snap.dvn).sum
    require(expected <= GraftScan.MaxDvScanRows,
      s"scan of $dir would materialize $expected deletion-vector rows " +
        s"(cap ${GraftScan.MaxDvScanRows}); compact the table to fold " +
        "dense DVs into rewritten files first")
    val wanted = touched.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    // the kept-file filter runs IN the scan (InSet over basenames), so
    // only the touched files' positions ever reach the driver — a scan
    // that prunes most of a heavily-DV'd table must not pay the whole
    // table's DV cardinality here
    spark.read.schema(VersionedTable.DvSchema)
      .parquet(snap.dvFiles.map(f => VersionedTable.resolveRef(dir, f)): _*)
      .select(substring_index(col("__vt_file"), "/", -1).as("b"),
        col("__vt_pos"))
      .where(col("b").isin(wanted.toSeq: _*))
      .collect()
      .groupBy(_.getString(0))
      .map { case (b, rows) => b -> rows.map(_.getLong(1)).sorted }
  }

  def readerFactory(spark: SparkSession, full: StructType,
      required: StructType, pushed: Seq[Filter]): PartitionReaderFactory = {
    val physFull = VersionedTable.physSchema(full)
    val physReq = VersionedTable.physSchema(required)
    // under a column mapping the pushed filters name LOGICAL columns
    // parquet files don't know; skip parquet-level pushdown there
    // (manifest-level pruning above already used them; Spark still
    // filters rows). Unmapped tables pass filters straight through for
    // row-group/page skipping.
    val mapped = full.fields.exists(f => VersionedTable.physNameOf(f) != f.name)
    val parquetFilters: Seq[Filter] = if (mapped) Nil else pushed
    val fmt = new ParquetFileFormat()
    // row output at the reader boundary (the vectorized reader still
    // decodes columnar internally; it just hands rows back) — DSv2
    // PartitionReader[InternalRow] is a row contract
    val readOpts = Map(
      org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false")
    // each build gets its OWN Configuration: buildReaderWithPartition-
    // Values writes the requested schema INTO the conf it broadcasts,
    // and in local mode a shared object would let the second build
    // overwrite what the first one reads
    val plainF = fmt.buildReaderWithPartitionValues(spark, physFull,
      new StructType(), physReq, parquetFilters, readOpts,
      spark.sessionState.newHadoopConf())
    // DV path: the parquet reader materializes the TRUE file row index
    // in the temporary metadata column (robust to row-group/page
    // skipping — this is not ordinal counting), appended last so the
    // projection below can simply drop it
    // nullable=true is load-bearing: the reader's column check treats
    // a non-nullable column absent from the file as an error, while a
    // nullable one with this magic name is recognized as generated
    val withIdx = StructType(physReq.fields :+ StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType,
      nullable = true))
    val dvF = fmt.buildReaderWithPartitionValues(spark, physFull,
      new StructType(), withIdx, parquetFilters, readOpts,
      spark.sessionState.newHadoopConf())
    new GraftReaderFactory(plainF, dvF, required)
  }
}

private[v2] case class GraftInputPartition(absPath: String, fileSize: Long,
    dvPositions: Array[Long]) extends InputPartition

private[v2] class GraftReaderFactory(
    plainF: PartitionedFile => Iterator[InternalRow],
    dvF: PartitionedFile => Iterator[InternalRow],
    required: StructType) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftInputPartition]
    val pf = PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(gp.absPath), 0L, gp.fileSize,
      Array.empty[String], 0L, gp.fileSize, Map.empty)
    // ParquetFileFormat's reader may hand back vectorized batches
    // disguised as InternalRow (the FileSourceScanExec contract);
    // flatten them at the DSv2 row boundary, order-preserving
    def flat(it: Iterator[InternalRow]): Iterator[InternalRow] =
      it.asInstanceOf[Iterator[Any]].flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case r: InternalRow => Iterator.single(r)
      }
    val proj = UnsafeProjection.create(required)
    if (gp.dvPositions.isEmpty) {
      val it = flat(plainF(pf)).map(proj)
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean =
          if (it.hasNext) { cur = it.next(); true } else false
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    } else {
      // sorted merge-walk against this file's deleted positions: row
      // indexes arrive strictly increasing, so the pointer only moves
      // forward — O(rows + deletes), no hashing
      val dv = gp.dvPositions
      val base = flat(dvF(pf))
      val idxOrdinal = required.length
      val it = new Iterator[InternalRow] {
        private var ptr = 0
        private var nextRow: InternalRow = advance()
        private def advance(): InternalRow = {
          while (base.hasNext) {
            val r = base.next()
            val idx = r.getLong(idxOrdinal)
            while (ptr < dv.length && dv(ptr) < idx) ptr += 1
            if (ptr >= dv.length || dv(ptr) != idx) return r
          }
          null
        }
        override def hasNext: Boolean = nextRow != null
        override def next(): InternalRow = {
          val r = proj(nextRow) // reads fields 0..n-1: drops the index col
          nextRow = advance()
          r
        }
      }
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean =
          if (it.hasNext) { cur = it.next(); true } else false
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }
  }
}
