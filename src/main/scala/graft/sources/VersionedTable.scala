package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Minimal versioned-table commit layer — the lakehouse ACID properties
  * the reference outsources to Delta (`MERGE INTO` staging in
  * sql/breed_mapping.py:596-618, `OPTIMIZE/VACUUM` in docs/runbook.md:
  * 55-58, atomic appends in notebooks/bronze.py:118), re-expressed with
  * nothing but parquet files and one filesystem invariant: rename is
  * atomic and fails when the destination exists.
  *
  * Layout:
  * {{{
  *   table/
  *     data/v3_ab12cd34/part-*.parquet   ← immutable; one subdir per commit
  *     _manifests/v00000003.manifest     ← one per version: FULL (complete
  *                                         file list; every create/overwrite/
  *                                         compact/cluster/restore, and every
  *                                         CheckpointEvery-th version) or
  *                                         DELTA (adds/removes vs base —
  *                                         append/merge/DML in between)
  * }}}
  *
  * CREATING THE NEXT MANIFEST IS THE COMMIT. A writer stages data files
  * in a fresh `data/v<N>_<rand>/` subdir (invisible: readers only look
  * at manifests), then EXCLUSIVE-PUBLISHES `v<N>.manifest`: on local
  * filesystems the complete body is staged in a hidden temp and
  * published with an atomic-and-exclusive hard link (link(2) fails on
  * an existing destination and exposes the full content in one step, so
  * a writer killed at ANY instant leaves either no manifest or a
  * complete one); on HDFS-like filesystems the namenode's atomic
  * create-no-overwrite claims the name and the body streams through the
  * claimed handle. Either way the publish claims version N or fails
  * because a concurrent writer claimed it first (optimistic
  * concurrency: the loser's staged files become debris, never visible,
  * and the caller retries on the new snapshot). Rename is deliberately
  * NOT the commit primitive: POSIX rename REPLACES an existing
  * destination, so a rename-based commit would let a racing writer
  * silently overwrite the winner's manifest. A manifest is only
  * COMMITTED once its `end` terminator line is present — readers treat
  * a terminator-less manifest (an HDFS-path writer crashed mid-body, or
  * foreign debris) as absent, and writers repair such a stranded claim
  * by deleting it once it is older than the [[TornClaimGraceMs]] grace.
  * There is no LATEST pointer to swap and therefore no pointer to
  * corrupt: `latest = max(version among complete manifests)`.
  *
  * This closes the reader-isolation gap of path-level tables: a reader
  * resolves a manifest ONCE into an explicit file list, so a concurrent
  * [[compact]] or [[overwrite]] (which writes NEW files and commits a
  * new manifest, touching no old file) can never show it mixed state —
  * it reads the complete old version or the complete new one. Old
  * versions stay readable ([[snapshotAt]], [[snapshotAsOf]]) until
  * [[vacuum]] reclaims their unreferenced files.
  *
  * Scale: a commit is one manifest write + one rename regardless of
  * table size; manifests list files (not rows), bounded by file count —
  * the same contract that lets Delta/Iceberg commit 100 TB tables in
  * milliseconds. Readers plan from the explicit list, so partition
  * pruning and pushdown work unchanged. Multi-writer safety is
  * conflict-DETECTION (first manifest wins), matching the reference
  * pipeline's effectively-serial orchestration; it is not a lock
  * manager.
  */
/** The commit lost the optimistic-concurrency race: another writer
  * claimed this version first. The ONLY commit failure that is safe to
  * rebase-and-retry — a plain I/O failure (disk full, HDFS hiccup)
  * deliberately does not get this type.
  */
final class ConcurrentCommitException(msg: String, cause: Throwable)
  extends java.io.IOException(msg, cause)

/** The commit lost the optimistic-concurrency race AND the competitor's
  * changes semantically conflict with this operation — it rewrote a file
  * this DML read, changed the schema, or added files that may hold rows
  * matching this DML's predicate — so silently rebasing would change
  * answers. NOT retryable by the library: re-run the operation against
  * the new table state (the rerun re-reads, so it sees the competitor's
  * rows).
  */
final class ConflictingCommitException(msg: String)
  extends java.io.IOException(msg)

/** The filesystem behind a table lacks the primitive the commit
  * protocol's atomicity rests on — exclusive create-no-overwrite
  * (conditional put). Raised by a capability probe BEFORE any manifest
  * is claimed, so a store that silently overwrites (S3-class without
  * conditional PUT) produces this typed error up front instead of
  * silent manifest corruption under concurrent writers at scale. Not
  * retryable: the store itself is unsuitable.
  */
final class UnsupportedCommitSubstrateException(msg: String)
  extends java.io.IOException(msg)

/** A write's rows (or, for ADD CONSTRAINT, the table's existing rows)
  * violate a CHECK constraint. The failed write commits NOTHING — the
  * version counter is untouched and the attempt's staged files are
  * invisible debris for [[VersionedTable.vacuumOrphans]]. Not
  * retryable as-is: the DATA is wrong, not the timing.
  */
final class ConstraintViolationException(msg: String)
  extends RuntimeException(msg)

object VersionedTable {

  /** One committed version: `operation` ∈ create|append|overwrite|compact|
    * merge|cluster (streaming sinks use caller tags). `stats` carries
    * per-file data-skipping metadata ([[DataSkipping.FileStats]]) for
    * files staged by commits that requested it; files without stats are
    * simply never pruned.
    *
    * Deletion vectors (merge-on-read DML, round-16): `dvFiles` lists
    * the live DV sidecar parquet datasets (rows `(__vt_file, __vt_pos)`
    * naming deleted row positions of data files), and `dvn` maps each
    * data file with soft-deleted rows to its CUMULATIVE deleted-row
    * count. Readers apply DVs as a positional anti-filter
    * ([[readFilesWithDv]]); files absent from `dvn` stay on the plain
    * scan path. Full-rewrite operations (overwrite/compact/cluster)
    * fold DVs into clean files and drop both fields.
    *
    * `constraints` (round-16) maps CHECK-constraint name → SQL
    * expression over logical column names; every row-adding write
    * enforces them ([[constraintGuard]]) and they change only via the
    * metadata-only [[addCheckConstraint]]/[[dropCheckConstraint]]
    * commits (deltas inherit).
    *
    * `generatedCols` (round-16) maps generated-column name → SQL
    * expression over the table's other columns, declared at [[create]]
    * (Delta's GENERATED ALWAYS AS): writes that omit the column get it
    * computed, writes that supply it get it validated, UPDATE/MERGE
    * recompute it when its sources change ([[applyGenerated]]).
    */
  final case class Snapshot(version: Long, timestampMs: Long,
      operation: String, files: Seq[String],
      stats: Map[String, DataSkipping.FileStats] = Map.empty,
      schemaJson: Option[String] = None,
      tableId: Option[String] = None,
      dvFiles: Seq[String] = Nil,
      dvn: Map[String, Long] = Map.empty,
      blooms: Map[String, Map[String, String]] = Map.empty,
      droppedCols: Map[String, Long] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      generatedCols: Map[String, String] = Map.empty) {
    /** The snapshot's recorded table schema (versions committed before
      * schema tracking have none and read footer-first as before).
      */
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val ManifestDir = "_manifests"

  /** Resolve a manifest file reference against the table directory.
    * References are table-relative (`data/v1_ab12/part-*.parquet`) for
    * files the table staged itself, and ABSOLUTE for files a SHALLOW
    * CLONE borrows from its source table ([[cloneTable]]) — the
    * zero-copy device: the clone's manifest points at the source's
    * bytes until its own rewrites fold them local.
    */
  private[sources] def resolveRef(dir: String, f: String): String =
    if (f.startsWith("/")) f else s"$dir/$f"

  /** Every `CheckpointEvery`-th version writes a FULL manifest (the
    * complete live-file list) even when the operation itself is
    * incremental; versions in between write DELTA manifests (adds +
    * removes against the previous version). This is Delta Lake's
    * log-checkpoint contract: a commit's metadata cost is O(changed
    * files), and resolving any version reads at most one full manifest
    * plus `CheckpointEvery - 1` deltas — not the whole history. Without
    * it, a streaming sink appending to a million-file table would
    * rewrite a million-line manifest every micro-batch.
    */
  private val CheckpointEvery = 10L

  private def fsFor(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestName(v: Long) = f"v$v%08d.manifest"

  /** Inverse of [[manifestName]] — lets listings filter by version
    * WITHOUT opening files (the zero-padded name encodes it).
    */
  private def versionOfName(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".manifest"))
      name.stripSuffix(".manifest").drop(1).toLongOption
    else None

  /** One on-disk manifest: either a self-contained snapshot or a delta
    * against its base version.
    */
  private sealed trait ManifestRec { def version: Long }
  private final case class FullRec(snap: Snapshot) extends ManifestRec {
    def version: Long = snap.version
  }
  private final case class DeltaRec(version: Long, timestampMs: Long,
      operation: String, base: Long, adds: Seq[String], removes: Seq[String],
      addStats: Map[String, DataSkipping.FileStats],
      schemaJson: Option[String],
      dvAdds: Seq[String] = Nil,
      dvnSets: Map[String, Long] = Map.empty) extends ManifestRec

  /** Resolve a delta against its (already-resolved) base snapshot. */
  private def applyDelta(prev: Snapshot, d: DeltaRec): Snapshot = {
    require(prev.version == d.base,
      s"manifest chain broken: delta version ${d.version} expects base " +
        s"${d.base}, resolved ${prev.version}")
    val removed = d.removes.toSet
    // DV algebra: a removed data file's dvn entry dies with it (its
    // remaining DV rows go stale-but-unmatchable); DV datasets are
    // append-only while any file has soft deletes, and the whole set is
    // dropped the moment no file does (rewrites folded every DV), so
    // dead sidecars cannot accumulate past one rewrite cycle.
    val newDvn = (prev.dvn -- removed) ++ d.dvnSets
    Snapshot(d.version, d.timestampMs, d.operation,
      prev.files.filterNot(removed) ++ d.adds,
      (prev.stats -- removed) ++ d.addStats,
      d.schemaJson.orElse(prev.schemaJson),
      prev.tableId, // identity is immutable: deltas always inherit
      if (newDvn.isEmpty) Nil else (prev.dvFiles ++ d.dvAdds).distinct,
      newDvn,
      prev.blooms -- removed, // bloom sidecars die with their data file
      prev.droppedCols, // dropped-name memory: only full commits change it
      prev.constraints, // constraints change only via metadata-only commits
      prev.generatedCols) // generation rules: declared at create, inherited
  }

  /** Test seam: manifest names dropped from directory listings,
    * deterministically simulating the non-atomic-readdir race (a
    * version published mid-listing can be MISSING while versions
    * committed later are included — ext4 returns hash order). By-name
    * reads ([[resolveByName]]) are unaffected, exactly like the real
    * race. Empty in production.
    */
  private[graft] var listingDropNames: Set[String] = Set.empty

  private def manifestFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val mdir = new Path(dir, ManifestDir)
    if (!fs.exists(mdir)) Seq.empty
    else fs.listStatus(mdir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".manifest")
        && !s.getPath.getName.startsWith(".")
        && !listingDropNames.contains(s.getPath.getName))
  }

  /** Manifest-file reads since JVM start — observability for the
    * metadata-cost specs (e.g. proving a tagged [[write]] retry reads
    * O(new versions), not O(table history)).
    */
  private[graft] val manifestReadCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def readManifestFile(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[ManifestRec] = {
    manifestReadCount.incrementAndGet()
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    parseManifest(body)
  }

  /** [[readManifestFile]] tolerating the file VANISHING between the
    * directory listing and the open: a concurrent [[vacuum]] deleting
    * dropped manifests is the one legal cause, and vacuum's
    * newest-first deletion order inside the drop set guarantees the
    * surviving reads still form a resolvable chain (a delta's base is
    * always deleted AFTER the delta itself, so an already-read delta
    * can never be stranded by a later FNF on its base).
    */
  private def readManifestIfPresent(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[ManifestRec] =
    try readManifestFile(fs, p)
    catch { case _: java.io.FileNotFoundException => None }

  /** Auto-repair the vacuum-materialization crash window on the
    * delete+rename (HDFS-class) path: [[vacuum]] stages the oldest
    * retained version's full manifest as a hidden `.v<N>.manifest.ckpt`
    * temp before swapping it in, and a crash between the delete and the
    * rename leaves the version MISSING with the COMPLETE temp alongside.
    * When a reader's chain resolution hits that exact state — manifest
    * absent, complete same-version `.ckpt` present — it publishes the
    * temp (exclusive-create, so concurrent recoverers race safely and
    * at most one wins) and the chain self-heals, replacing the old
    * "manual recovery" runbook note. A torn or version-mismatched temp
    * is never published. Returns true iff this call published it.
    */
  private def recoverCkpt(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      v: Long): Boolean = {
    val mdir = new Path(dir, ManifestDir)
    val dest = new Path(mdir, manifestName(v))
    val tmp = new Path(mdir, s".${manifestName(v)}.ckpt")
    try {
      if (fs.exists(dest)) {
        // a PREVIOUS recovery attempt can itself have crashed mid-body
        // on the HDFS-class path, leaving a TORN manifest at dest that
        // blocks every future repair (writers never re-claim an OLD
        // version, so the standard torn-claim reclaim can't help here).
        // If dest is torn, the complete `.ckpt` is still present, and
        // the corpse is older than the torn-claim grace (a live slow
        // recoverer is never robbed), clear it and fall through to
        // republish; otherwise respect it.
        val tornStale =
          try readManifestFile(fs, dest).isEmpty && fs.exists(tmp) &&
            System.currentTimeMillis() -
              fs.getFileStatus(dest).getModificationTime >= TornClaimGraceMs
          catch { case _: java.io.FileNotFoundException => false }
        if (!tornStale) return false
        fs.delete(dest, false)
      }
      if (!fs.exists(tmp)) return false
      val in = fs.open(tmp)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val ok = parseManifest(body).exists(_.version == v)
      if (!ok) return false
      if (dest.toUri.getScheme == null || dest.toUri.getScheme == "file") {
        // local: publish exactly like a commit — staged temp + atomic
        // exclusive hard link — so a concurrent reader can never observe
        // the recovered manifest torn, and racing recoverers serialize
        // on EEXIST. (create-then-write would expose a partial body.)
        val destNio = java.nio.file.Paths.get(
          new Path(fs.makeQualified(dest).toUri.getPath).toString)
        val rec = destNio.resolveSibling(
          s".${manifestName(v)}.rec.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
        java.nio.file.Files.write(rec, body.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        try java.nio.file.Files.createLink(destNio, rec)
        finally java.nio.file.Files.deleteIfExists(rec)
      } else {
        // HDFS-class: exclusive create claims, body streams through the
        // handle. A recoverer crashing mid-body leaves a torn manifest at
        // dest — readers skip it, and since the `.ckpt` temp is only
        // deleted after a COMPLETE publish, the repair can be retried by
        // hand after removing the torn file (same residual class as a
        // writer crash mid-body on this path).
        val out = fs.create(dest, false) // exclusive: one recoverer publishes
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      fs.delete(tmp, false)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.io.FileNotFoundException => false
    }
  }

  /** All committed snapshots, ascending by version. A manifest without
    * its `end` terminator (a writer crashed between claiming the version
    * and finishing the body) is in-flight/torn, not committed — skipped.
    * One forward fold resolves deltas against their predecessors, so the
    * total parse cost is O(checkpoints + changed files), not
    * O(versions × live files).
    */
  def snapshots(spark: SparkSession, dir: String): Seq[Snapshot] =
    snapshotsAttempt(spark, dir, recover = true)

  private def snapshotsAttempt(spark: SparkSession, dir: String,
      recover: Boolean): Seq[Snapshot] = {
    val (fs, _) = fsFor(spark, dir)
    // read ASCENDING by version: a concurrent vacuum deletes dropped
    // manifests newest-first, so reading oldest-first means any version
    // whose read FNF'd was deleted before every LATER version we then
    // try — the surviving reads are always a resolvable prefix
    val recs = manifestFiles(fs, dir)
      .sortBy(_.getPath.getName) // zero-padded name = version order
      .flatMap(s => readManifestIfPresent(fs, s.getPath))
      .sortBy(_.version)
    val out = Seq.newBuilder[Snapshot]
    var byVersion = Map.empty[Long, Snapshot]
    // a FULL manifest at version V supersedes everything below it: a
    // delta below V whose base chain is GONE cannot be part of the
    // canonical chain (the chain reached V without it) — it is
    // stranded-resurrection debris from a stale writer that claimed a
    // vacuum-vacated slot (the pre-claim freshness check now prevents
    // new ones; this tolerance keeps a table with legacy debris
    // readable instead of permanently erroring, and vacuum's
    // unknown-manifest sweep removes the file)
    val maxFull = recs.collect { case FullRec(s) => s.version }
      .maxOption.getOrElse(Long.MinValue)
    recs.foreach {
      case FullRec(s) =>
        out += s; byVersion += (s.version -> s)
      case d: DeltaRec =>
        val base: Option[Snapshot] = byVersion.get(d.base) match {
          case Some(s) => Some(s)
          case None =>
            // not in the fold: fetch the base chain directly by NAME
            // ([[resolveByName]] — covers the non-atomic-readdir miss
            // and the vacuum `.ckpt` crash state), then as a last
            // resort one clean re-list (a concurrent vacuum sweeping
            // between listing and reads); still broken after both =
            // stranded debris if a later full manifest supersedes it,
            // real corruption — loud — otherwise.
            resolveByName(fs, dir, d.base, byVersion) match {
              case Some(chain) =>
                // EVERY version materialized along the walk is a
                // committed snapshot the listing missed — emit them all,
                // not just the direct base, or snapshots() silently
                // omits committed versions when the listing missed >=2
                // consecutive fresh commits (tag scans would then miss
                // a committed tag and double-commit a replayed batch).
                // Ascending order holds: deltas base on version-1, so
                // the chain fills exactly the gap below d.version.
                chain.foreach { s => out += s; byVersion += (s.version -> s) }
                Some(chain.last)
              case None if recover =>
                return snapshotsAttempt(spark, dir, recover = false)
              case None if d.version < maxFull =>
                // stranded-resurrection debris (see maxFull above):
                // the canonical chain continues from the later full
                // manifest without this version — skip, don't brick
                None
              case None => sys.error(
                s"manifest chain broken: version ${d.version} of $dir is " +
                  s"a delta on missing/torn base ${d.base}")
            }
        }
        base.foreach { b =>
          val s = applyDelta(b, d)
          out += s; byVersion += (s.version -> s)
        }
    }
    out.result()
  }

  /** Resolve version `v` by walking its manifest chain DIRECTLY BY NAME
    * (manifest names are deterministic), independent of any directory
    * listing. This is the backstop for two benign races a listing-based
    * fold cannot see through: (a) directory listings are NOT atomic
    * against concurrent commits — a writer publishing version v while
    * the listing iterates can leave v out even though v+1 (committed
    * later) is included, because readdir returns hash order, not
    * creation order; (b) the vacuum-materialization crash state, healed
    * inline via [[recoverCkpt]]. Walks back until it reaches a version
    * in `resolved` or a full manifest; None only when a manifest is
    * truly absent and unrecoverable.
    *
    * Returns EVERY snapshot materialized along the walk that was not
    * already in `resolved`, ascending — the last element is version `v`
    * itself. The caller folds all of them into its chain: each one is a
    * committed version the directory listing missed, and dropping the
    * intermediates would make `snapshots()` silently omit committed
    * versions (and their operation tags).
    */
  private def resolveByName(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long,
      resolved: Map[Long, Snapshot]): Option[Seq[Snapshot]] = {
    val mdir = new Path(dir, ManifestDir)
    def fold(base: Snapshot, baseIsNew: Boolean,
        stack: List[DeltaRec]): Seq[Snapshot] = {
      val out = Seq.newBuilder[Snapshot]
      if (baseIsNew) out += base
      var acc = base
      stack.foreach { d => acc = applyDelta(acc, d); out += acc }
      out.result()
    }
    var stack = List.empty[DeltaRec]
    var cur = v
    while (true) {
      resolved.get(cur) match {
        case Some(s) => return Some(fold(s, baseIsNew = false, stack))
        case None =>
          readManifestIfPresent(fs, new Path(mdir, manifestName(cur))) match {
            case Some(FullRec(s)) =>
              return Some(fold(s, baseIsNew = true, stack))
            case Some(d: DeltaRec) =>
              // commits only ever base on version-1; a non-decreasing
              // base is corruption — fail loudly instead of walking a
              // cycle forever
              require(d.base < d.version,
                s"manifest corruption: version ${d.version} of $dir " +
                  s"declares base ${d.base}")
              stack = d :: stack; cur = d.base
            case None if recoverCkpt(fs, dir, cur) => () // healed: re-read
            case None => return None
          }
      }
    }
    None // unreachable
  }

  /** None for a torn (terminator-less or truncated) manifest. A `kind=
    * delta` line marks the incremental format; its absence means a full
    * manifest, which is also what every pre-checkpointing manifest is —
    * old tables read unchanged.
    */
  private def parseManifest(body: String): Option[ManifestRec] = {
    val lines = body.linesIterator.toSeq
    def field(k: String) = lines.collectFirst {
      case l if l.startsWith(s"$k=") => l.drop(k.length + 1)
    }
    val schema = field("schema").map(s => new String(
      java.util.Base64.getDecoder.decode(s), "UTF-8"))
    // `dvn=<datafile>|<cumulative deleted rows>` — staged paths are
    // engine-generated (`data/v<N>_<rand>/part-*.parquet`) so the plain
    // `|` split is unambiguous, same contract as the rows= stats lines
    def dvnOf(prefix: String) = lines.collect {
      case l if l.startsWith(prefix) => l.drop(prefix.length).split('|') match {
        case Array(f, n) => n.toLongOption.map(f -> _)
        case _ => None
      }
    }.flatten.toMap
    if (field("kind").contains("delta")) {
      val adds = lines.filter(_.startsWith("add=")).map(_.drop(4))
      val removes = lines.filter(_.startsWith("remove=")).map(_.drop(7))
      for {
        end <- field("end").flatMap(_.toLongOption)
        if end == adds.size + removes.size // complete body
        v <- field("version").flatMap(_.toLongOption)
        ts <- field("timestamp").flatMap(_.toLongOption)
        op <- field("operation")
        b <- field("base").flatMap(_.toLongOption)
      } yield DeltaRec(v, ts, op, b, adds, removes,
        DataSkipping.parseLines(lines), schema,
        lines.filter(_.startsWith("dvadd=")).map(_.drop(6)),
        dvnOf("dvn="))
    } else {
      val files = lines.filter(_.startsWith("file=")).map(_.drop(5))
      for {
        end <- field("end").flatMap(_.toLongOption)
        if end == files.size // complete body
        v <- field("version").flatMap(_.toLongOption)
        ts <- field("timestamp").flatMap(_.toLongOption)
        op <- field("operation")
      } yield FullRec(Snapshot(v, ts, op, files,
        DataSkipping.parseLines(lines), schema, field("tableid"),
        lines.filter(_.startsWith("dvfile=")).map(_.drop(7)),
        dvnOf("dvn="),
        // `bloom=<datafile>|<b64 col>|<sidecar path>`
        lines.collect { case l if l.startsWith("bloom=") =>
          l.drop(6).split('|') match {
            case Array(f, c, p) => scala.util.Try((f, new String(
              java.util.Base64.getDecoder.decode(c), "UTF-8"), p)).toOption
            case _ => None
          }
        }.flatten.groupBy(_._1).view
          .mapValues(_.map(t => t._2 -> t._3).toMap).toMap,
        // `dropped=<b64 physName>|<fieldId>`
        lines.collect { case l if l.startsWith("dropped=") =>
          l.drop(8).split('|') match {
            case Array(n, id) => scala.util.Try(new String(
              java.util.Base64.getDecoder.decode(n), "UTF-8") ->
              id.toLong).toOption
            case _ => None
          }
        }.flatten.toMap,
        // `constraint=<b64 name>|<b64 sql expr>`
        lines.collect { case l if l.startsWith("constraint=") =>
          l.drop(11).split('|') match {
            case Array(n, e) => scala.util.Try(
              new String(java.util.Base64.getDecoder.decode(n), "UTF-8") ->
              new String(java.util.Base64.getDecoder.decode(e), "UTF-8"))
              .toOption
            case _ => None
          }
        }.flatten.toMap,
        // `generated=<b64 col>|<b64 sql expr>`
        lines.collect { case l if l.startsWith("generated=") =>
          l.drop(10).split('|') match {
            case Array(n, e) => scala.util.Try(
              new String(java.util.Base64.getDecoder.decode(n), "UTF-8") ->
              new String(java.util.Base64.getDecoder.decode(e), "UTF-8"))
              .toOption
            case _ => None
          }
        }.flatten.toMap))
    }
  }

  private def renderManifest(s: Snapshot): String =
    (Seq(s"version=${s.version}", s"timestamp=${s.timestampMs}",
      s"operation=${s.operation}")
      ++ s.tableId.map(t => s"tableid=$t").toSeq
      ++ s.schemaJson.map(j => s"schema=${java.util.Base64.getEncoder
        .encodeToString(j.getBytes("UTF-8"))}").toSeq
      ++ s.files.map(f => s"file=$f")
      ++ s.stats.toSeq.sortBy(_._1).flatMap { case (f, fs) =>
        DataSkipping.renderLines(f, fs) }
      ++ s.dvFiles.map(f => s"dvfile=$f")
      ++ s.dvn.toSeq.sortBy(_._1).map { case (f, n) => s"dvn=$f|$n" }
      ++ s.blooms.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, p) =>
          s"bloom=$f|${java.util.Base64.getEncoder
            .encodeToString(c.getBytes("UTF-8"))}|$p" } }
      ++ s.droppedCols.toSeq.sortBy(_._1).map { case (n, id) =>
        s"dropped=${java.util.Base64.getEncoder
          .encodeToString(n.getBytes("UTF-8"))}|$id" }
      ++ s.constraints.toSeq.sortBy(_._1).map { case (n, e) =>
        s"constraint=${java.util.Base64.getEncoder
          .encodeToString(n.getBytes("UTF-8"))}|${java.util.Base64
          .getEncoder.encodeToString(e.getBytes("UTF-8"))}" }
      ++ s.generatedCols.toSeq.sortBy(_._1).map { case (n, e) =>
        s"generated=${java.util.Base64.getEncoder
          .encodeToString(n.getBytes("UTF-8"))}|${java.util.Base64
          .getEncoder.encodeToString(e.getBytes("UTF-8"))}" }
      :+ s"end=${s.files.size}")
      .mkString("", "\n", "\n")

  private def renderDelta(d: DeltaRec): String =
    (Seq(s"version=${d.version}", s"timestamp=${d.timestampMs}",
      s"operation=${d.operation}", "kind=delta", s"base=${d.base}")
      ++ d.schemaJson.map(j => s"schema=${java.util.Base64.getEncoder
        .encodeToString(j.getBytes("UTF-8"))}").toSeq
      ++ d.adds.map(f => s"add=$f")
      ++ d.removes.map(f => s"remove=$f")
      ++ d.addStats.toSeq.sortBy(_._1).flatMap { case (f, fs) =>
        DataSkipping.renderLines(f, fs) }
      ++ d.dvAdds.map(f => s"dvadd=$f")
      ++ d.dvnSets.toSeq.sortBy(_._1).map { case (f, n) => s"dvn=$f|$n" }
      :+ s"end=${d.adds.size + d.removes.size}")
      .mkString("", "\n", "\n")

  /** The latest snapshot, or None for a table with no commits. Reads
    * the NEWEST complete manifest and, when it is a delta, its base
    * chain back to the nearest full manifest — at most `CheckpointEvery`
    * manifest reads regardless of table history length. Torn claims
    * (crashed writers) are skipped, exactly as in [[snapshots]].
    */
  def latest(spark: SparkSession, dir: String): Option[Snapshot] =
    latestAttempt(spark, dir, retries = 2)

  private def latestAttempt(spark: SparkSession, dir: String,
      retries: Int): Option[Snapshot] = {
    val (fs, _) = fsFor(spark, dir)
    val mdir = new Path(dir, ManifestDir)
    manifestFiles(fs, dir)
      .sortBy(_.getPath.getName)(Ordering[String].reverse) // zero-padded
      .iterator
      .flatMap(s => readManifestIfPresent(fs, s.getPath))
      .nextOption()
      .map {
        case FullRec(s) => s
        case d: DeltaRec =>
          // walk the base chain back to the nearest full manifest, then
          // fold forward. A complete delta can never sit on a torn base
          // (a writer only claims v+1 after reading a COMPLETE v), so a
          // missing/torn base here is (a) the vacuum-materialization
          // crash state — manifest absent, complete `.ckpt` alongside,
          // self-healed via [[recoverCkpt]] — (b) a LIVE concurrent
          // vacuum that swapped an ancestor to a full checkpoint and
          // swept its bases between our read and this walk — retried
          // on a fresh listing — or (c) real corruption (loud).
          var stack = List(d)
          var full: Option[Snapshot] = None
          while (full.isEmpty) {
            val basePath = new Path(mdir, manifestName(stack.head.base))
            readManifestIfPresent(fs, basePath) match {
              case Some(FullRec(s)) => full = Some(s)
              case Some(d2: DeltaRec) =>
                require(d2.base < d2.version,
                  s"manifest corruption: version ${d2.version} of $dir " +
                    s"declares base ${d2.base}")
                stack = d2 :: stack
              case None if recoverCkpt(fs, dir, stack.head.base) =>
                // healed: loop re-reads the just-published manifest
              case None if retries > 0 =>
                return latestAttempt(spark, dir, retries - 1)
              case None => sys.error(
                s"manifest chain broken at version ${stack.head.base} of $dir")
            }
          }
          stack.foldLeft(full.get)(applyDelta)
      }
  }

  // ------------------------------------------------- column mapping (r16)

  private val FieldIdKey = "graft.fieldId"
  private val PhysNameKey = "graft.physName"

  /** The name a column is stored under in PARQUET FILES. Unmapped
    * tables: the logical name itself. After [[renameColumn]] the
    * logical name changes while the physical name (and the stable
    * field id) stay put, so files written before the rename keep
    * resolving — Delta's column-mapping contract without the uuid
    * indirection (physical names are the FIRST logical names).
    */
  private[graft] def physNameOf(f: org.apache.spark.sql.types.StructField):
      String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
    else f.name

  private[graft] def fieldIdOf(f: org.apache.spark.sql.types.StructField):
      Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  private def hasMapping(st: org.apache.spark.sql.types.StructType): Boolean =
    st.fields.exists(_.metadata.contains(PhysNameKey))

  /** The schema as parquet files spell it (logical names replaced by
    * physical ones) — what every file read binds against.
    */
  private[graft] def physSchema(st: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      st.fields.map(f => f.copy(name = physNameOf(f))))

  /** Assign ids + physical names to every unmapped field (id = next
    * free, physical name = the current logical name). Called lazily by
    * the first rename/drop, so never-renamed tables carry zero mapping
    * overhead.
    */
  private def withMapping(st: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType = {
    var next = st.fields.flatMap(fieldIdOf).foldLeft(0L)(math.max)
    org.apache.spark.sql.types.StructType(st.fields.map { f =>
      if (f.metadata.contains(PhysNameKey)) f
      else {
        next += 1
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(FieldIdKey, next)
          .putString(PhysNameKey, f.name).build())
      }
    })
  }

  /** A full-rewrite commit re-spells every physical name as the current
    * logical one (the data was just rewritten under the logical names),
    * keeping the stable field ids.
    */
  private def selfMapped(st: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(st.fields.map { f =>
      if (!f.metadata.contains(PhysNameKey)) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putString(PhysNameKey, f.name).build())
    })

  /** Marker embedded in the executor-side assert message so the driver
    * can recognize a constraint failure inside Spark's task-failure
    * wrapping and rethrow it typed ([[rethrowConstraintViolation]]).
    */
  private val ConstraintMarker = "graft.constraint.violation: "

  /** Column names a CHECK expression references (first name part of
    * each unresolved attribute, lower-cased) — the device behind the
    * rename/drop fail-fast guards and the missing-column null-fill in
    * [[constraintGuard]]. Parses only; nothing is resolved or run.
    */
  private[graft] def constraintRefs(spark: SparkSession,
      exprSql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head.toLowerCase
    }.distinct

  /** Fuse CHECK enforcement into `df`'s plan: per constraint, a filter
    * on `isnull(assert_true(coalesce(expr, true), msg))` — rows where
    * the expression is TRUE or NULL pass (SQL CHECK three-valued
    * semantics; spell NOT NULL as `c IS NOT NULL`), the first FALSE row
    * throws inside the write job itself, so enforcement costs zero
    * extra passes and stays inside whole-stage codegen. Columns a
    * constraint references but `df` lacks (a schema-evolving append)
    * evaluate as NULL, exactly how the staged file will read. The error
    * message carries the violating row's referenced columns as JSON.
    */
  private def constraintGuard(df: DataFrame,
      constraints: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions._
    if (constraints.isEmpty) return df
    val spark = df.sparkSession
    val orig = df.columns.toSeq
    val missing = constraints.values.toSeq
      .flatMap(constraintRefs(spark, _)).distinct
      .filterNot(r => orig.exists(_.equalsIgnoreCase(r)))
    val widened = missing.foldLeft(df)((d, m) => d.withColumn(m, lit(null)))
    val guarded = constraints.toSeq.sortBy(_._1)
      .foldLeft(widened) { case (d, (name, sql)) =>
        // the JSON payload names the violating row; null-filled columns
        // (NullType) are unprintable by to_json and excluded — the
        // constraint still EVALUATES them (as NULL) either way
        val refs = constraintRefs(spark, sql)
          .filter(r => d.schema.fields.exists(f =>
            f.name.equalsIgnoreCase(r) &&
              f.dataType != org.apache.spark.sql.types.NullType))
        val row =
          if (refs.isEmpty) lit("{}") else to_json(struct(refs.map(col): _*))
        d.filter(isnull(assert_true(coalesce(expr(sql), lit(true)),
          concat(lit(s"${ConstraintMarker}CHECK constraint $name " +
            s"($sql) violated by row "), row))))
      }
    if (missing.isEmpty) guarded else guarded.select(orig.map(col): _*)
  }

  /** Apply the table's generated-column rules to an incoming batch:
    * a column the batch OMITS is computed from its expression (the
    * common path — the writer never materializes it); a column the
    * batch SUPPLIES is validated against the expression with a fused
    * assert (null-safe equality), so a contradicting value can never
    * commit — Delta's GENERATED ALWAYS AS write contract. With
    * `recompute = true` (the UPDATE/MERGE rewrite lanes) supplied
    * values are recomputed instead of validated: the pre-image's
    * generated values are stale exactly when the SET touched a source
    * column, and recomputation of a pure function is always sound.
    * Runs BEFORE schema checks so an omitting batch still matches the
    * recorded schema.
    */
  private def applyGenerated(df: DataFrame,
      generated: Map[String, String],
      recompute: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    if (generated.isEmpty) return df
    generated.toSeq.sortBy(_._1).foldLeft(df) { case (d, (g, sql)) =>
      val present = d.columns.exists(_.equalsIgnoreCase(g))
      if (!present || recompute) d.withColumn(g, expr(sql))
      else d.filter(isnull(assert_true(col(g) <=> expr(sql),
        concat(lit(s"${ConstraintMarker}generated column $g " +
          s"(GENERATED ALWAYS AS $sql) supplied with a contradicting " +
          "value: "), coalesce(col(g).cast("string"), lit("null"))))))
    }
  }

  /** Run a staging job that may trip a [[constraintGuard]] assert and
    * surface the failure as a typed [[ConstraintViolationException]]
    * instead of Spark's generic job-abort wrapper.
    */
  private def rethrowConstraintViolation[A](body: => A): A =
    try body catch {
      case e: Throwable =>
        var c: Throwable = e
        var depth = 0
        while (c != null && depth < 20) {
          val m = c.getMessage
          if (m != null && m.contains(ConstraintMarker))
            throw new ConstraintViolationException(
              m.substring(m.indexOf(ConstraintMarker)
                + ConstraintMarker.length))
          c = c.getCause; depth += 1
        }
        throw e
    }

  /** ADD a CHECK constraint, metadata-only: existing rows (live rows,
    * DVs applied) must already satisfy it — validated here with one
    * limit-1 probe BEFORE the commit, Delta-style — and every later
    * row-adding write enforces it inside its own write job. `exprSql`
    * is ANSI SQL over logical column names; TRUE and NULL pass, FALSE
    * rejects (so `c IS NOT NULL` is a NOT NULL constraint). Dropping or
    * renaming a referenced column fails fast until the constraint is
    * dropped; restore carries the TARGET version's constraint set.
    */
  def addCheckConstraint(spark: SparkSession, dir: String,
      name: String, exprSql: String): Snapshot = {
    import org.apache.spark.sql.functions._
    require(name.nonEmpty && name.forall(ch =>
      ch.isLetterOrDigit || ch == '_'),
      s"constraint name must be [A-Za-z0-9_]+; got '$name'")
    val prev = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    require(!prev.constraints.keys.exists(_.equalsIgnoreCase(name)),
      s"constraint $name already exists on $dir")
    val sch = prev.schema.getOrElse(sys.error(
      s"addCheckConstraint needs a recorded schema on $dir"))
    val refs = constraintRefs(spark, exprSql)
    require(refs.nonEmpty, s"constraint $name ($exprSql) references no " +
      "column — a constant CHECK is either always true or a typo")
    refs.foreach(r => require(
      sch.fieldNames.exists(_.equalsIgnoreCase(r)),
      s"constraint $name references unknown column $r (table has " +
        sch.fieldNames.mkString("[", ",", "]") + ")"))
    val bad = read(spark, dir)
      .filter(!coalesce(expr(exprSql), lit(true))).limit(1).collect()
    if (bad.nonEmpty)
      throw new ConstraintViolationException(
        s"cannot add CHECK constraint $name ($exprSql) to $dir: " +
          s"existing row violates it: ${bad.head}")
    commit(spark, dir, prev.version + 1, "add_constraint", prev.files,
      prev.stats, prev.schemaJson, prev.tableId, prev.dvFiles, prev.dvn,
      prev.blooms, prev.droppedCols,
      prev.constraints + (name -> exprSql), prev.generatedCols)
  }

  /** DROP a CHECK constraint, metadata-only. Time travel to versions
    * where it existed still shows it in [[Snapshot.constraints]]; rows
    * are never re-validated retroactively.
    */
  def dropCheckConstraint(spark: SparkSession, dir: String,
      name: String): Snapshot = {
    val prev = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    val key = prev.constraints.keys.find(_.equalsIgnoreCase(name))
      .getOrElse(sys.error(s"no constraint $name on $dir (has " +
        prev.constraints.keys.mkString("[", ",", "]") + ")"))
    commit(spark, dir, prev.version + 1, "drop_constraint", prev.files,
      prev.stats, prev.schemaJson, prev.tableId, prev.dvFiles, prev.dvn,
      prev.blooms, prev.droppedCols, prev.constraints - key,
      prev.generatedCols)
  }

  /** RENAME a column, metadata-only: the logical name changes, the
    * stable field id and the physical name stay, so every existing file
    * keeps resolving and not one byte of data moves. Skipping stats and
    * bloom references follow the column (their keys remap with it), so
    * pruning on the new name works immediately — "stats follow the id".
    * Old versions time-travel under their own recorded names. Fails
    * fast while a CHECK constraint references the column (drop the
    * constraint first) — the constraint's SQL names columns logically
    * and silently un-binding it would stop enforcing writes.
    */
  def renameColumn(spark: SparkSession, dir: String, oldName: String,
      newName: String): Snapshot = {
    val prev = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    val sch = prev.schema.getOrElse(sys.error(
      s"renameColumn needs a recorded schema on $dir"))
    val field = sch.fields.find(_.name.equalsIgnoreCase(oldName)).getOrElse(
      sys.error(s"no column $oldName in ${sch.fieldNames.mkString(",")}"))
    require(!sch.fields.exists(_.name.equalsIgnoreCase(newName)),
      s"column $newName already exists")
    require(!newName.startsWith("__vt_"), "reserved name prefix __vt_")
    prev.constraints.foreach { case (cn, ce) =>
      require(!constraintRefs(spark, ce).exists(_.equalsIgnoreCase(oldName)),
        s"cannot rename column $oldName: CHECK constraint $cn ($ce) " +
          "references it; drop the constraint first")
    }
    // renaming a generated column follows it (the rule's KEY remaps);
    // renaming one of its SOURCE columns would orphan the expression
    prev.generatedCols.foreach { case (g, ge) =>
      require(!constraintRefs(spark, ge).exists(_.equalsIgnoreCase(oldName)),
        s"cannot rename column $oldName: generated column $g ($ge) " +
          "is computed from it; drop the generated column first")
    }
    val mapped = withMapping(sch)
    val renamed = org.apache.spark.sql.types.StructType(mapped.fields.map(
      f => if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName)
      else f))
    def remapCols[A](m: Map[String, A]): Map[String, A] =
      m.map { case (k, v) =>
        (if (k.equalsIgnoreCase(field.name)) newName else k) -> v }
    val stats = prev.stats.view.mapValues(fs =>
      DataSkipping.FileStats(fs.rowCount, remapCols(fs.cols))).toMap
    val blooms = prev.blooms.view.mapValues(remapCols).toMap
    commit(spark, dir, prev.version + 1, "rename", prev.files, stats,
      Some(renamed.json), prev.tableId, prev.dvFiles, prev.dvn, blooms,
      prev.droppedCols, prev.constraints,
      prev.generatedCols.map { case (g, e) =>
        (if (g.equalsIgnoreCase(oldName)) newName else g) -> e })
  }

  /** DROP a column, metadata-only: the field leaves the logical schema
    * (reads stop projecting it — parquet ignores unprojected columns),
    * its data stays in existing files until they rewrite, and its
    * PHYSICAL name is remembered so a later re-add of the same name
    * fails fast instead of silently resurrecting the dropped data from
    * old files under the recycled name.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Snapshot = {
    val prev = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    val sch = prev.schema.getOrElse(sys.error(
      s"dropColumn needs a recorded schema on $dir"))
    val mapped = withMapping(sch)
    val field = mapped.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      sys.error(s"no column $name in ${sch.fieldNames.mkString(",")}"))
    require(mapped.fields.length > 1, "cannot drop the only column")
    prev.constraints.foreach { case (cn, ce) =>
      require(!constraintRefs(spark, ce).exists(_.equalsIgnoreCase(name)),
        s"cannot drop column $name: CHECK constraint $cn ($ce) " +
          "references it; drop the constraint first")
    }
    // dropping a generated column takes its rule with it; dropping one
    // of its SOURCES would orphan the expression
    prev.generatedCols.foreach { case (g, ge) =>
      require(g.equalsIgnoreCase(name) ||
        !constraintRefs(spark, ge).exists(_.equalsIgnoreCase(name)),
        s"cannot drop column $name: generated column $g ($ge) " +
          "is computed from it; drop the generated column first")
    }
    val remaining = org.apache.spark.sql.types.StructType(
      mapped.fields.filterNot(_.name.equalsIgnoreCase(name)))
    val stats = prev.stats.view.mapValues(fs => DataSkipping.FileStats(
      fs.rowCount,
      fs.cols.filterNot(_._1.equalsIgnoreCase(field.name)))).toMap
    val blooms = prev.blooms.view.mapValues(
      _.filterNot(_._1.equalsIgnoreCase(field.name))).toMap
      .filter(_._2.nonEmpty)
    commit(spark, dir, prev.version + 1, "drop", prev.files, stats,
      Some(remaining.json), prev.tableId, prev.dvFiles, prev.dvn, blooms,
      prev.droppedCols +
        (physNameOf(field) -> fieldIdOf(field).getOrElse(0L)),
      prev.constraints,
      prev.generatedCols.filterNot(_._1.equalsIgnoreCase(name)))
  }

  /** ADD a column, metadata-only: the field joins the logical schema at
    * the end, nullable — existing files simply lack it and read NULL,
    * so not one byte of data moves. [[mergeSchemas]] computes the union
    * exactly as an evolving append would (fresh field id + self
    * physical name when the table carries a column mapping; fail-fast
    * on recycling a DROPPED column's name, which would resurrect the
    * dropped data from old files). NOT NULL additions are refused —
    * existing rows have no value to satisfy them.
    */
  def addColumn(spark: SparkSession, dir: String,
      field: org.apache.spark.sql.types.StructField): Snapshot = {
    val prev = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    val sch = prev.schema.getOrElse(sys.error(
      s"addColumn needs a recorded schema on $dir"))
    require(!sch.fields.exists(_.name.equalsIgnoreCase(field.name)),
      s"column ${field.name} already exists in " +
        sch.fieldNames.mkString("[", ",", "]"))
    require(!field.name.startsWith("__vt_"), "reserved name prefix __vt_")
    require(field.nullable,
      s"added column ${field.name} must be nullable: existing rows " +
        "have no value for it")
    val merged = mergeSchemas(sch,
      org.apache.spark.sql.types.StructType(Array(field)),
      prev.droppedCols)
    // mergeSchemas relaxes every prior field to nullable (right for an
    // evolving append, where old files lack new columns); a pure ADD
    // COLUMN must not touch the existing fields' nullability
    val next = org.apache.spark.sql.types.StructType(
      merged.fields.zipWithIndex.map { case (f, i) =>
        if (i < sch.fields.length) f.copy(nullable = sch.fields(i).nullable)
        else f
      })
    commit(spark, dir, prev.version + 1, "add_column", prev.files,
      prev.stats, Some(next.json), prev.tableId, prev.dvFiles, prev.dvn,
      prev.blooms, prev.droppedCols, prev.constraints, prev.generatedCols)
  }

  /** Stage `df`'s rows as immutable data files for version `v` and
    * return their table-relative paths. The subdir is random-suffixed so
    * a crashed or conflict-losing attempt leaves only invisible debris.
    */
  /** Label the Spark jobs launched inside `f` (guide §1.5) so DML and
    * staging work is attributable in the UI / listeners; thread-local,
    * restores the caller's own description afterwards (SQL-text DML
    * runs on Spark's execution pool, which sets one).
    */
  private def withJobDesc[T](spark: SparkSession, desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  private def stageFiles(df: DataFrame, dir: String, v: Long): Seq[String] = {
    val sub = s"data/v${v}_${java.util.UUID.randomUUID.toString.take(8)}"
    withJobDesc(df.sparkSession, s"vt:stage:v$v") {
      df.write.mode("overwrite").parquet(s"$dir/$sub")
    }
    val (fs, _) = fsFor(df.sparkSession, dir)
    fs.listStatus(new Path(s"$dir/$sub")).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s"$sub/${s.getPath.getName}")
  }

  /** [[stageFiles]] plus data-skipping stats over exactly the staged
    * files (empty `statsCols` = no stats job at all). When `tblSchema`
    * carries a column mapping, the frame is re-spelled to PHYSICAL
    * names before staging (files always store physical names) and the
    * collected stats keys come back remapped to the logical names the
    * manifest speaks.
    */
  private def stageWithStats(df: DataFrame, dir: String, v: Long,
      statsCols: Seq[String],
      tblSchema: Option[org.apache.spark.sql.types.StructType] = None):
      (Seq[String], Map[String, DataSkipping.FileStats]) = {
    import org.apache.spark.sql.functions.col
    tblSchema.filter(hasMapping) match {
      case None =>
        val files = stageFiles(df, dir, v)
        (files,
          DataSkipping.collectStats(df.sparkSession, dir, files, statsCols))
      case Some(sch) =>
        def physOf(logical: String): String =
          sch.fields.find(_.name.equalsIgnoreCase(logical))
            .map(physNameOf).getOrElse(logical)
        val phys = df.select(df.schema.fields.map(f =>
          col(f.name).as(physOf(f.name))).toSeq: _*)
        val files = stageFiles(phys, dir, v)
        val physCols = statsCols.map(physOf)
        val collected = DataSkipping.collectStats(df.sparkSession, dir,
          files, physCols)
        val back = physCols.zip(statsCols).toMap
        (files, collected.view.mapValues(fs => DataSkipping.FileStats(
          fs.rowCount,
          fs.cols.map { case (k, v2) => back.getOrElse(k, k) -> v2 }))
          .toMap)
    }
  }

  /** Atomically claim-and-commit `files` as manifest version `v`:
    * exclusive-create the manifest (the claim — exactly one writer can
    * win it), then write the body and the `end` terminator through the
    * claimed handle (the commit — readers ignore terminator-less
    * manifests). Throws on a concurrent-writer conflict. Rename is
    * deliberately not used: POSIX rename replaces an existing
    * destination, which would let a racing writer overwrite the winner.
    * Package-visible so the spec can drive the race window directly.
    */
  private[graft] def commit(spark: SparkSession, dir: String, v: Long,
      operation: String, files: Seq[String],
      stats: Map[String, DataSkipping.FileStats] = Map.empty,
      schemaJson: Option[String] = None,
      tableId: Option[String] = None,
      dvFiles: Seq[String] = Nil,
      dvn: Map[String, Long] = Map.empty,
      blooms: Map[String, Map[String, String]] = Map.empty,
      droppedCols: Map[String, Long] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      generatedCols: Map[String, String] = Map.empty): Snapshot = {
    // Version 1 MINTS the table identity; it is carried forward by
    // every later manifest (full manifests re-render it, deltas inherit
    // through applyDelta), so a table deleted and recreated at the same
    // path is distinguishable no matter how far the new incarnation has
    // grown — the device behind the streaming sinks' recreation reset.
    val tid =
      if (v == 1L) tableId.orElse(
        Some(java.util.UUID.randomUUID.toString.take(16)))
      else tableId
    val snap = Snapshot(v, System.currentTimeMillis(), operation, files,
      stats, schemaJson, tid, dvFiles, dvn, blooms, droppedCols,
      constraints, generatedCols)
    writeExclusive(spark, dir, v, renderManifest(snap).getBytes("UTF-8"))
    snap
  }

  /** Commit version `prev.version + 1` as a DELTA manifest (adds +
    * removes against `prev`), or as a full checkpoint manifest on every
    * [[CheckpointEvery]]-th version. Returns the RESOLVED snapshot
    * either way. This is the incremental-commit primitive behind
    * append/merge/DML: metadata cost is O(changed files) per commit,
    * bounded chain length for readers.
    */
  private[graft] def commitDelta(spark: SparkSession, dir: String,
      prev: Snapshot, operation: String,
      adds: Seq[String], removes: Seq[String],
      addStats: Map[String, DataSkipping.FileStats],
      schemaJson: Option[String],
      dvAdds: Seq[String] = Nil,
      dvnSets: Map[String, Long] = Map.empty): Snapshot = {
    val v = prev.version + 1
    val removed = removes.toSet
    val newDvn = (prev.dvn -- removed) ++ dvnSets // same algebra as applyDelta
    val resolved = Snapshot(v, System.currentTimeMillis(), operation,
      prev.files.filterNot(removed) ++ adds,
      (prev.stats -- removed) ++ addStats,
      schemaJson.orElse(prev.schemaJson),
      prev.tableId,
      if (newDvn.isEmpty) Nil else (prev.dvFiles ++ dvAdds).distinct,
      newDvn,
      prev.blooms -- removed,
      prev.droppedCols,
      prev.constraints,
      prev.generatedCols)
    if (v % CheckpointEvery == 0) {
      writeExclusive(spark, dir, v,
        renderManifest(resolved).getBytes("UTF-8"))
    } else {
      writeExclusive(spark, dir, v,
        renderDelta(DeltaRec(v, resolved.timestampMs, operation,
          prev.version, adds, removes, addStats,
          resolved.schemaJson, dvAdds, dvnSets)).getBytes("UTF-8"))
    }
    resolved
  }

  /** Fault-injection seam (test scope only, like the `onStaged` of
    * [[write]] and [[dml]]): invoked between staging the complete
    * manifest body in the hidden temp and the atomic hard-link publish —
    * exactly the window a crashed writer dies in. The commit-race
    * harness points this at `Runtime.halt` to prove a kill there leaves
    * only invisible temp debris, never a torn or claimed manifest.
    */
  private[graft] var commitCrashPoint: () => Unit = () => ()

  /** Fault-injection seam (test scope only): invoked between detecting
    * a stale torn claim and the re-stat that guards its deletion — the
    * TOCTOU window in which a competing reclaimer can have replaced the
    * corpse with a committed manifest. The spec points this at a
    * competitor publish to prove the guard aborts instead of deleting
    * an acknowledged commit.
    */
  private[graft] var reclaimPause: () => Unit = () => ()

  /** How stale a TORN manifest claim (file present, `end` terminator
    * absent) must be before a competing writer may delete and re-claim
    * its version. Local-FS commits publish via hard link and can never
    * tear, so this only fires on (a) HDFS-path crashes, where claim and
    * body are separate operations, or (b) foreign debris (partial
    * copies). The grace protects a slow-but-alive writer mid-body-write
    * from being robbed of its claim. Overridable for tests via
    * `-Dgraft.vt.tornGraceMs=`.
    */
  private[graft] val TornClaimGraceMs: Long =
    sys.props.get("graft.vt.tornGraceMs").flatMap(_.toLongOption)
      .getOrElse(10L * 60 * 1000)

  /** Vacuum never sweeps a manifest younger than this, regardless of
    * the retention count — the temporal half of the slot-resurrection
    * defense (see [[writeExclusive]]'s freshness check and
    * [[vacuumLocked]]'s grace). 30 s bounds the freshness-check-to-
    * claim window with three orders of magnitude to spare (the window
    * is two metadata RPCs); manifests are KBs, so retaining 30 s of
    * them costs nothing at any scale. Settable (system property or
    * directly — it is a test seam) for specs that vacuum immediately
    * after committing.
    */
  private[graft] var vacuumManifestGraceMs: Long =
    sys.props.get("graft.vt.vacuumManifestGraceMs").flatMap(_.toLongOption)
      .getOrElse(30L * 1000)

  /** Retry pacing for the rebase loops: when a commit attempt loses
    * and the table's latest version has NOT advanced since the last
    * attempt, the blocker is not a faster competitor but a stalled
    * claim (a fresh torn manifest inside its grace) — immediate
    * retries would burn every attempt in microseconds against the same
    * corpse. Sleeps a bounded linear backoff in that case; a normal
    * race (latest advanced) retries immediately.
    */
  private def pace(prevVersion: Long, newVersion: Long, attempt: Int): Unit =
    if (newVersion <= prevVersion)
      Thread.sleep(math.min(200L * attempt, 2000L))

  /** Grace after which a maintenance lock whose mtime stopped advancing
    * is considered abandoned (its holder died) and may be reclaimed.
    * Live holders REFRESH the lock's mtime ([[touchMaintLock]]) far more
    * often than this, so only a genuinely dead holder's lock is ever
    * taken. Override for tests: `-Dgraft.vt.maintLockGraceMs=`.
    */
  private[graft] val MaintLockGraceMs: Long =
    sys.props.get("graft.vt.maintLockGraceMs").flatMap(_.toLongOption)
      .getOrElse(60L * 1000)

  private def maintLockPath(dir: String): Path =
    new Path(new Path(dir, ManifestDir), ".maint.lock")

  /** Refresh the held lock's mtime so a long legitimate hold (a vacuum
    * deleting millions of files at 100 TB) is never mistaken for a
    * dead holder. Called from inside the held section.
    */
  private def touchMaintLock(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit =
    try fs.setTimes(maintLockPath(dir), System.currentTimeMillis(), -1)
    catch { case _: java.io.IOException => }

  /** The RESTORE-vs-VACUUM mutex (round-15): both operations run their
    * critical sections under one exclusive-create lock marker, because
    * they are the single pair whose interleaving can destroy committed
    * data — restore re-commits an OLD version's file list as the new
    * latest (resurrecting files by name), while vacuum deletes files
    * from a point-in-time live-set; a restore landing between vacuum's
    * live-set computation and its deletes would have its just-committed
    * files swept. Appends/DML/compact need no lock: they only carry
    * files forward from the retained latest, which every live-set
    * covers by construction.
    *
    * Acquisition is the commit primitive itself (atomic exclusive
    * create — nio CREATE_NEW locally, create-no-overwrite elsewhere,
    * the same capability [[probeCommitSubstrate]] verifies), so two
    * maintainers can never both hold it. A crashed holder's lock is
    * reclaimed once its mtime is older than [[MaintLockGraceMs]] —
    * live holders refresh it — and the reclaim re-checks staleness
    * immediately before deleting, the torn-claim TOCTOU discipline.
    * Waiters poll with bounded sleeps; these are rare, coarse
    * maintenance ops, not a hot path.
    */
  private def withMaintLock[A](spark: SparkSession, dir: String,
      who: String)(body: => A): A = {
    val (fs, _) = fsFor(spark, dir)
    fs.mkdirs(new Path(dir, ManifestDir))
    val lock = maintLockPath(dir)
    val isLocal =
      lock.toUri.getScheme == null || lock.toUri.getScheme == "file"
    val bytes =
      s"$who@${System.currentTimeMillis()}".getBytes("UTF-8")
    var acquired = false
    val deadline =
      System.currentTimeMillis() + MaintLockGraceMs + 120000L
    while (!acquired) {
      try {
        if (isLocal) {
          val nio = java.nio.file.Paths.get(
            new Path(fs.makeQualified(lock).toUri.getPath).toString)
          java.nio.file.Files.write(nio, bytes,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
        } else {
          val out = fs.create(lock, false)
          try out.write(bytes) finally out.close()
        }
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          val st0 =
            try Some(fs.getFileStatus(lock))
            catch { case _: java.io.FileNotFoundException => None }
          val stale = st0.exists(s =>
            System.currentTimeMillis() - s.getModificationTime >=
              MaintLockGraceMs)
          if (stale) {
            // TOCTOU re-stat before the reclaim delete, exactly like
            // the torn-claim repair: a competing reclaimer may have
            // deleted the corpse and acquired a FRESH lock here
            val still = try {
              val st1 = fs.getFileStatus(lock)
              st0.exists(s0 =>
                st1.getModificationTime == s0.getModificationTime)
            } catch { case _: java.io.FileNotFoundException => false }
            if (still)
              try fs.delete(lock, false)
              catch { case _: java.io.IOException => }
            // loop retries the exclusive create; one reclaimer wins
          } else if (System.currentTimeMillis() > deadline) {
            throw new java.io.IOException(
              s"maintenance lock on $dir held by a live maintainer for " +
                s"longer than the wait budget; retry later")
          } else Thread.sleep(50)
      }
    }
    try body
    finally {
      try fs.delete(lock, false) catch { case _: java.io.IOException => }
    }
  }

  /** Substrates (scheme://authority) whose exclusive-create capability
    * has been verified this JVM — the probe runs once per store, not
    * per commit.
    */
  private val probedSubstrates =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test seam: forget verified substrates, forcing the next commit to
    * re-probe.
    */
  private[graft] def resetProbedSubstrates(): Unit = probedSubstrates.clear()

  /** Verify, ONCE per (scheme, authority) per JVM, that the store
    * actually provides the primitive the non-local commit path claims
    * versions with: atomic exclusive create-no-overwrite. Two checks on
    * a throwaway dot-named probe file (readers skip dot-names):
    *
    *  1. the created path must be VISIBLE before close() — an object
    *     store that only materializes keys on close has no namespace
    *     claim at create time at all, so two "exclusive" writers can
    *     both hold handles to the same name and the later close wins;
    *  2. a second exclusive create of the existing path must FAIL —
    *     a store that silently overwrites turns every optimistic-
    *     concurrency loss into corruption of the winner's manifest.
    *
    * Either violation raises [[UnsupportedCommitSubstrateException]]
    * BEFORE any manifest claim, turning silent-corruption-at-scale into
    * a typed error at table creation. POSIX/HDFS pass and pay the probe
    * once; S3-class stores without conditional PUT fail loudly.
    */
  private def probeCommitSubstrate(fs: org.apache.hadoop.fs.FileSystem,
      mdir: Path): Unit = {
    val uri = fs.getUri
    val key = s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}"
    if (probedSubstrates.contains(key)) return
    val probe = new Path(mdir,
      s".probe_${java.util.UUID.randomUUID.toString.take(8)}")
    def fail(what: String): Nothing =
      throw new UnsupportedCommitSubstrateException(
        s"commit substrate $key lacks atomic exclusive create " +
          s"(create-no-overwrite / conditional put): $what. The " +
          "versioned-table commit protocol claims each version by " +
          "exclusive-creating its manifest; on a store without that " +
          "primitive, concurrent writers silently overwrite each " +
          "other's committed manifests. Use HDFS or a POSIX " +
          "filesystem, or front the store with a conditional-put " +
          "commit service.")
    var handle: org.apache.hadoop.fs.FSDataOutputStream = null
    try {
      handle = fs.create(probe, false)
      if (!fs.exists(probe))
        fail("a path under exclusive create is not visible before " +
          "close(), so no namespace claim exists at create time")
      handle.close(); handle = null
      val second =
        try Some(fs.create(probe, false))
        catch { case _: java.io.IOException => None } // refusal = correct
      second.foreach { s =>
        try s.close() catch { case _: java.io.IOException => () }
        fail("a second exclusive create of an existing path succeeded " +
          "instead of failing")
      }
      probedSubstrates.add(key)
    } finally {
      if (handle != null)
        try handle.close() catch { case _: java.io.IOException => () }
      try fs.delete(probe, false) catch { case _: java.io.IOException => () }
    }
  }

  private def writeExclusive(spark: SparkSession, dir: String, v: Long,
      bytes: Array[Byte]): Unit = {
    val (fs, _) = fsFor(spark, dir)
    val mdir = new Path(dir, ManifestDir)
    fs.mkdirs(mdir)
    val dest = new Path(mdir, manifestName(v))
    // the local branch commits via link(2), whose exclusive atomicity
    // POSIX guarantees; every other scheme claims via create(f, false)
    // and must prove the store honors it before the first claim
    if (dest.toUri.getScheme != null && dest.toUri.getScheme != "file")
      probeCommitSubstrate(fs, mdir)
    var reclaimed = false
    var headReclaimed = false
    while (true) {
      // A successful exclusive create proves only that THIS SLOT is
      // free — not that v is the table's next version. A writer whose
      // snapshot went stale past the vacuum retention floor can find
      // its target slot VACATED (the original v-manifest swept by a
      // concurrent vacuum), and a blind claim would then resurrect a
      // version BELOW the live chain: a delta whose base is gone,
      // permanently unreadable (caught live by DvRace: an auto-rebasing
      // DML writer committed v47-on-46 thirty seconds after the real
      // chain had moved past v50 and vacuum had swept 46-49). So
      // freshness-check the head IMMEDIATELY before claiming: claimable
      // iff the newest existing manifest is exactly v-1 (none for
      // v=1). == v falls through to the claim, whose EEXIST path owns
      // torn-claim repair. The residual window — head advances past v
      // AND a vacuum sweep drops the new v, all between this listing
      // and the link — is closed by vacuum's manifest-age grace
      // ([[VacuumManifestGraceMs]]): a manifest young enough to have
      // committed inside the window is never sweepable inside it.
      val maxExisting = manifestFiles(fs, dir)
        .flatMap(s => versionOfName(s.getPath.getName))
        .maxOption.getOrElse(0L)
      if (maxExisting > v) {
        // contested: a COMPLETE newer manifest proves the head moved
        // past v (stale claim — abort, typed, so rebase re-reads); a
        // TORN one above the head (crashed stale claimant, non-local FS
        // only) would wedge every writer on this check forever, so it
        // gets the same grace-guarded reclaim as a torn claim at v
        val hp = new Path(mdir, manifestName(maxExisting))
        val complete = readManifestIfPresent(fs, hp).isDefined
        val stale = !complete && (try {
          System.currentTimeMillis() -
            fs.getFileStatus(hp).getModificationTime >= TornClaimGraceMs
        } catch { case _: java.io.FileNotFoundException => false })
        if (complete || !stale || headReclaimed)
          throw new ConcurrentCommitException(
            s"VersionedTable: version $v of $dir cannot be claimed — " +
              s"the manifest head is already $maxExisting (this " +
              "writer's snapshot is stale past the vacuum retention " +
              "floor); re-read the latest snapshot and retry", null)
        headReclaimed = true
        fs.delete(hp, false)
        // loop: re-list and re-evaluate from scratch
      } else if (maxExisting < v - 1)
        throw new ConcurrentCommitException(
          s"VersionedTable: version $v of $dir cannot be claimed — its " +
            s"base ${v - 1} is not on disk (head $maxExisting; the " +
            "base was vacuumed or never committed); re-read the latest " +
            "snapshot and retry", null)
      else try {
        if (dest.toUri.getScheme == null || dest.toUri.getScheme == "file") {
          // local FS: stage the COMPLETE body in a hidden temp (readers
          // skip dot-names), fsync, then publish via hard link. link(2)
          // is atomic AND exclusive AND makes the full content appear
          // in one step, so a writer killed at ANY point — before,
          // during, or after the body write — leaves either no manifest
          // or a complete one, never a torn claim that would wedge the
          // version. (Files.write(CREATE_NEW) claims on open and writes
          // after: a kill between the two tears.) EEXIST from link is
          // the concurrent-writer loss, same as O_EXCL.
          val destNio = java.nio.file.Paths.get(
            new Path(fs.makeQualified(dest).toUri.getPath).toString)
          val tmp = destNio.resolveSibling(
            s".${manifestName(v)}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
          val ch = java.nio.channels.FileChannel.open(tmp,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          try {
            ch.write(java.nio.ByteBuffer.wrap(bytes))
            ch.force(true)
          } finally ch.close()
          commitCrashPoint()
          try java.nio.file.Files.createLink(destNio, tmp)
          finally java.nio.file.Files.deleteIfExists(tmp)
          // DURABILITY, not just atomicity: the temp's DATA was forced
          // above, but the new directory ENTRY lives in the manifest
          // directory's metadata — without a directory fsync a power
          // loss after this return could make the acknowledged version
          // vanish (process-kill atomicity alone never could). Mirror
          // the data fsync with an fsync of the directory itself.
          // Filesystems that cannot open a directory for force() skip —
          // and that refusal surfaces as UnsupportedOperationException
          // OR as plain IOException subclasses (AccessDeniedException on
          // Windows, EINVAL-mapped IOExceptions elsewhere). Swallow both
          // (as Lucene's directory-fsync does): the publish above is
          // already atomic and visible, so letting a best-effort
          // durability fsync propagate would report an acknowledged-
          // failed-but-committed write that a naive retry duplicates.
          try {
            val dch = java.nio.channels.FileChannel.open(destNio.getParent,
              java.nio.file.StandardOpenOption.READ)
            try dch.force(true) finally dch.close()
          } catch {
            case _: UnsupportedOperationException =>
            case _: java.io.IOException =>
          }
        } else {
          // HDFS-like: create-no-overwrite is atomic at the namenode
          // (the claim), but the body streams through the claimed
          // handle afterwards — a crash between the two leaves a torn
          // claim, repaired below by the next writer after the grace
          val out = fs.create(dest, false)
          try out.write(bytes) finally out.close()
        }
        return
      } catch {
        case e @ (_: java.nio.file.FileAlreadyExistsException |
                  _: org.apache.hadoop.fs.FileAlreadyExistsException) =>
          // The claim is taken. If the claimant COMMITTED (complete
          // manifest) this is the normal optimistic-concurrency loss.
          // If the existing file is TORN it will never complete, and
          // without repair the version — and with it every future
          // commit — is wedged forever: latest() skips the torn file
          // and returns v-1, so every rebase retry re-claims v and
          // loses to dead debris. Reclaim (delete + retry the claim)
          // iff the torn claim is older than [[TornClaimGraceMs]]; at
          // most once per call so a pathological directory can't loop.
          val st0 =
            try Some(fs.getFileStatus(dest))
            catch { case _: java.io.FileNotFoundException => None }
          val torn = st0.isDefined && {
            try readManifestFile(fs, dest).isEmpty
            catch { case _: java.io.FileNotFoundException => false }
          }
          val stale = torn && st0.exists(s =>
            System.currentTimeMillis() - s.getModificationTime >=
              TornClaimGraceMs)
          if (stale && !reclaimed) {
            reclaimed = true
            reclaimPause()
            // TOCTOU guard on the reclaim: between detecting the stale
            // torn claim and this delete, a COMPETING reclaimer can
            // have deleted the corpse and published a COMPLETE manifest
            // at this name — deleting now would silently destroy its
            // acknowledged commit (lost update). Re-stat and re-parse
            // immediately before acting: any change in (mtime, length),
            // or the file now parsing complete, aborts the reclaim and
            // falls through to the claim retry, which then loses to the
            // competitor's commit the normal typed way.
            val stillSameCorpse = try {
              val st1 = fs.getFileStatus(dest)
              st0.exists(s0 =>
                st1.getModificationTime == s0.getModificationTime &&
                  st1.getLen == s0.getLen) &&
                readManifestFile(fs, dest).isEmpty
            } catch { case _: java.io.FileNotFoundException => false }
            if (stillSameCorpse) fs.delete(dest, false)
            // !stillSameCorpse: leave the changed claim alone; the loop
            // retries the claim and surfaces the competitor normally
          } else throw new ConcurrentCommitException(
            s"VersionedTable: version $v of $dir was " +
              (if (torn) "claimed by a writer that has not finished " +
                s"committing (torn manifest within the ${TornClaimGraceMs} ms " +
                "grace); retry later"
              else "committed by a concurrent writer; re-read the latest " +
                "snapshot and retry"), e)
      }
    }
  }

  /** Create the table (version 1): the write step ([[write]]) with no
    * previous snapshot. Fails if commits already exist. `statsCols`
    * names columns to collect data-skipping stats for (see
    * [[DataSkipping]]); stats ride the manifest and power [[readWhere]]'s
    * file pruning. `generatedCols` declares the table's generated
    * columns (name -> SQL expression over stored columns).
    */
  def create(df: DataFrame, dir: String,
      statsCols: Seq[String] = Seq.empty,
      generatedCols: Map[String, String] = Map.empty): Snapshot = {
    require(latest(df.sparkSession, dir).isEmpty,
      s"table $dir already has commits — use append/overwrite")
    write(df, dir, "create", None, statsCols, generatedCols = generatedCols)
  }

  /** Union of two schemas for an evolving append: same-name fields
    * must agree on type (nullability relaxes to nullable — old files
    * simply lack new columns), new fields join at the end. Fails fast
    * on a type conflict, naming the column — the alternative is
    * footer-dependent silent column loss.
    */
  private def mergeSchemas(prev: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType,
      dropped: Map[String, Long] = Map.empty):
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructField
    // case-INSENSITIVE matching, like Spark's default resolution — a
    // case-variant of an existing column is the same column (keeping
    // the table's spelling), never a duplicate field that would brick
    // every subsequent schema-read
    val byName = next.fields.map(f => f.name.toLowerCase -> f).toMap
    prev.fields.foreach { pf =>
      byName.get(pf.name.toLowerCase).foreach { nf =>
        require(nf.dataType == pf.dataType,
          s"schema evolution cannot change column ${pf.name} from " +
            s"${pf.dataType.simpleString} to ${nf.dataType.simpleString}; " +
            "use overwrite for type changes")
      }
    }
    val prevNames = prev.fieldNames.map(_.toLowerCase).toSet
    // fail-fast on re-adding a DROPPED column's name: old files still
    // hold data under that physical name, and recycling it would
    // silently resurrect the dropped values on every pre-drop file
    val deadNames = dropped.keySet.map(_.toLowerCase)
    // new columns of a mapped table get a fresh id + self physical name
    val mapped = hasMapping(prev)
    var nextId = prev.fields.flatMap(fieldIdOf).foldLeft(0L)(math.max)
    org.apache.spark.sql.types.StructType(
      // keep each prev field's metadata (its id + physical name ARE the
      // column's identity) — only nullability relaxes
      prev.fields.map(_.copy(nullable = true))
        ++ next.fields.collect {
          case f if !prevNames.contains(f.name.toLowerCase) =>
            require(!deadNames.contains(f.name.toLowerCase),
              s"column ${f.name} was DROPPED from this table; re-adding " +
                "the same name would resurrect its data from pre-drop " +
                "files — use a different name (or overwrite the table)")
            if (!mapped) StructField(f.name, f.dataType, nullable = true)
            else {
              nextId += 1
              StructField(f.name, f.dataType, nullable = true,
                metadata = new org.apache.spark.sql.types.MetadataBuilder()
                  .putLong(FieldIdKey, nextId)
                  .putString(PhysNameKey, f.name).build())
            }
        })
  }

  /** Append `df` as a new version: the write step ([[write]]) against
    * the latest snapshot, one commit attempt. Previous files carry over
    * (with their stats), new files join them; old versions remain
    * readable. With the default `mergeSchema = false` the incoming
    * schema must match the table's recorded schema exactly (by field
    * name + type); with `mergeSchema = true` new columns evolve the
    * table schema and pre-existing files read as null for them
    * ([[mergeSchemas]]).
    */
  def append(df: DataFrame, dir: String,
      statsCols: Seq[String] = Seq.empty,
      mergeSchema: Boolean = false): Snapshot =
    write(df, dir, "append", existing(df.sparkSession, dir), statsCols,
      mergeSchema = mergeSchema)

  /** [[append]] with automatic conflict REBASE: the write step with up
    * to `maxAttempts` version claims. Appends commute, so when another
    * writer claims the version first, the already-staged files are
    * re-committed against the NEW latest (schema and rule sets
    * re-checked against it) instead of failing the caller. Data is
    * staged exactly once; each retry costs one manifest read + one
    * commit attempt. Gives up after `maxAttempts` claims, rethrowing the
    * conflict.
    */
  def appendWithRetry(df: DataFrame, dir: String,
      statsCols: Seq[String] = Seq.empty,
      mergeSchema: Boolean = false,
      maxAttempts: Int = 5): Snapshot =
    write(df, dir, "append", existing(df.sparkSession, dir), statsCols,
      mergeSchema = mergeSchema, maxAttempts = maxAttempts)

  /** [[append]] with a caller-supplied operation tag, creating the table
    * on first use: the write step as a tagged append with up to five
    * version claims. The tag is the streaming exactly-once device: a
    * foreachBatch sink commits each micro-batch as `append#<batchId>`
    * and a replay that finds its tag already committed skips — and
    * because the manifest claim is the commit, the append is ATOMIC (no
    * partial batch can ever be visible), which the partition-directory
    * ledger can only approximate. A tag already committed at ANY version
    * no-ops and returns the tagged snapshot instead of committing the
    * batch twice (a full-chain check: this entry point has no
    * caller-side ledger).
    */
  def appendTagged(df: DataFrame, dir: String, tag: String,
      statsCols: Seq[String] = Seq.empty): Snapshot = {
    val snaps = snapshots(df.sparkSession, dir)
    snaps.find(_.operation == tag).getOrElse(write(df, dir, tag,
      snaps.lastOption, statsCols, tagged = true, maxAttempts = 5))
  }

  /** True iff some committed version carries `tag` as its operation. */
  def hasOperation(spark: SparkSession, dir: String, tag: String): Boolean =
    snapshots(spark, dir).exists(_.operation == tag)

  /** Incremental ledger scan for streaming sinks: the operation tags of
    * committed versions STRICTLY newer than `afterVersion` (the
    * zero-padded name encodes the version, so the filter costs no
    * opens), the resolved latest snapshot, and the new scan floor — the
    * largest version V such that every version in (afterVersion, V] was
    * read COMPLETE. The floor never advances past a torn manifest (a
    * slow writer's claim may still complete, tag included), so
    * consecutive scans with the returned floor cover every committed
    * version exactly once: a sink that accumulates the returned tags
    * has seen the tag of EVERY committed version, no matter which
    * process committed it or when. Cost per call: O(versions since the
    * floor) + latest()'s checkpoint-bounded chain — not O(history).
    */
  private[graft] def opsAndLatestAfter(spark: SparkSession, dir: String,
      afterVersion: Long): (Seq[String], Option[Snapshot], Long) = {
    val (fs, _) = fsFor(spark, dir)
    val recs = manifestFiles(fs, dir)
      .filter(s => versionOfName(s.getPath.getName).exists(_ > afterVersion))
      .sortBy(_.getPath.getName)
      .flatMap(s => readManifestIfPresent(fs, s.getPath)
        .map(r => (r.version, r match {
          case FullRec(snap) => snap.operation
          case d: DeltaRec => d.operation
        })))
    // advance the floor only through the CONTIGUOUS run of complete
    // versions (versions are claimed sequentially, so a gap = a torn
    // or in-flight claim that must be re-examined next scan)
    var through = afterVersion
    val it = recs.iterator
    var contiguous = true
    while (it.hasNext && contiguous) {
      val (v, _) = it.next()
      if (v == through + 1) through = v else contiguous = false
    }
    (recs.map(_._2), latest(spark, dir), through)
  }

  /** Replace the table's contents as a new version: the write step
    * ([[write]]) as an overwrite of the latest snapshot, which never
    * rebases. Constraints and generation rules survive; old versions
    * remain readable until [[vacuum]].
    */
  def overwrite(df: DataFrame, dir: String,
      statsCols: Seq[String] = Seq.empty): Snapshot =
    write(df, dir, "overwrite", existing(df.sparkSession, dir), statsCols,
      overwrite = true)

  /** The latest snapshot of a table a write requires to exist. */
  private def existing(spark: SparkSession, dir: String): Option[Snapshot] =
    Some(latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits — use create")))

  /** The CHECK constraints and generation rules of `p` (none for None). */
  private def rulesOf(p: Option[Snapshot]):
      (Map[String, String], Map[String, String]) =
    p.fold((Map.empty[String, String], Map.empty[String, String]))(s =>
      (s.constraints, s.generatedCols))

  /** The one write step behind [[create]], [[append]],
    * [[appendWithRetry]], [[appendTagged]], [[overwrite]] and the
    * streaming sinks. Each step runs once:
    *  1. resolve: the write goes against `prev`; `None` creates version
    *     1, declaring `generatedCols` — each must reference only real
    *     incoming columns (Delta's GENERATED ALWAYS AS is a creation-time
    *     property, and generated-on-generated references would make
    *     generation order-dependent);
    *  2. check: an overwrite must keep every column a CHECK constraint or
    *     a generated column references (any other rule would poison
    *     every later append with an unresolvable expression); an append
    *     must match the recorded schema exactly, by name and type, or
    *     evolve it under `mergeSchema` ([[mergeSchemas]]). An overwrite,
    *     a create and an append to a table from before schema tracking
    *     record the batch's schema;
    *  3. stage: once, through [[stage]], with stats on `statsCols` — or,
    *     when the caller names none, on every column the table already
    *     tracks that the batch carries;
    *  4. commit: through [[commitLoop]] — a delta manifest for an append,
    *     a full one for a create or an overwrite (which keeps the table
    *     id and rule sets). When another writer claims the version first,
    *     an append re-commits the staged files against the new latest
    *     after re-checking its schema (at the commit) and the rule sets
    *     the batch was guarded with ([[ConflictingCommitException]] if a
    *     competitor changed them); a `tagged` append first looks for
    *     `op` among the versions committed after `prev` and returns that
    *     snapshot when an earlier attempt or a replay already won. An
    *     overwrite never rebases: a lost claim surfaces to the caller.
    *
    * `op` is the operation the commit records. A tagged caller must
    * have checked that `op` is absent from every version at or below
    * `prev`: the retry scans only newer ones. `onStaged` is the
    * race-window test seam: it runs after staging, before the first
    * commit attempt.
    */
  private[graft] def write(df: DataFrame, dir: String, op: String,
      prev: Option[Snapshot], statsCols: Seq[String] = Seq.empty,
      overwrite: Boolean = false, mergeSchema: Boolean = false,
      generatedCols: Map[String, String] = Map.empty,
      tagged: Boolean = false, maxAttempts: Int = 1,
      onStaged: () => Unit = () => ()): Snapshot = {
    require(maxAttempts >= 1, "maxAttempts must be at least 1")
    val spark = df.sparkSession
    generatedCols.foreach { case (g, e) =>
      require(g.nonEmpty && !g.startsWith("__vt_"),
        s"bad generated column name '$g'")
      val refs = constraintRefs(spark, e)
      require(refs.nonEmpty, s"generated column $g ($e) references no " +
        "column — a constant needs no generation rule")
      refs.foreach { r =>
        require(df.columns.exists(_.equalsIgnoreCase(r)),
          s"generated column $g references unknown column $r")
        require(!generatedCols.keys.exists(_.equalsIgnoreCase(r)),
          s"generated column $g references generated column $r; " +
            "generation rules must depend on stored columns only")
      }
    }
    val rules = rulesOf(prev)
    val (constraints, generated) = (rules._1, rules._2 ++ generatedCols)
    if (overwrite) {
      constraints.foreach { case (cn, ce) =>
        constraintRefs(spark, ce).foreach(r => require(
          df.columns.exists(_.equalsIgnoreCase(r)),
          s"overwrite drops column $r referenced by CHECK constraint " +
            s"$cn ($ce); drop the constraint first"))
      }
      generated.foreach { case (g, ge) =>
        constraintRefs(spark, ge).foreach(r => require(
          df.columns.exists(_.equalsIgnoreCase(r)),
          s"overwrite drops column $r that generated column $g ($ge) " +
            "is computed from; drop the generated column first"))
      }
    }
    // the completed batch's schema (omitted generated columns appended),
    // so an omitting batch still matches; [[stage]] completes the rows
    val full = applyGenerated(df, generated).schema
    def schemaOn(p: Option[Snapshot]): org.apache.spark.sql.types.StructType =
      p.filter(_ => !overwrite).flatMap(s => s.schema.map(s -> _)) match {
        case None => full
        case Some((s, ps)) if mergeSchema =>
          mergeSchemas(ps, full, s.droppedCols)
        case Some((_, ps)) =>
          require(ps.fields.map(f => (f.name, f.dataType)).toSeq ==
            full.fields.map(f => (f.name, f.dataType)).toSeq,
            s"$op schema ${full.simpleString} does not match table schema " +
              s"${ps.simpleString}; pass mergeSchema = true to evolve")
          ps
      }
    // naming no stats columns keeps every tracked one the batch carries
    val stats = if (statsCols.nonEmpty) statsCols else prev.toSeq
      .flatMap(_.stats.values.flatMap(_.cols.keys)).distinct.sorted
      .filter(c => full.fieldNames.exists(_.equalsIgnoreCase(c)))
    // staged files spell columns physically when the table maps them
    val (files, st) = stage(df, dir, prev.fold(1L)(_.version + 1),
      constraints, generated, stats, Some(schemaOn(prev)))
    onStaged()
    val base = prev.fold(0L)(_.version)
    commitLoop(prev, if (overwrite) 1 else maxAttempts) { p =>
      val schema = Some(schemaOn(p).json)
      p.filter(_ => !overwrite) match {
        case Some(s) =>
          commitDelta(spark, dir, s, op, files, Nil, st, schema)
        case None => commit(spark, dir, base + 1, op, files, st, schema,
          p.flatMap(_.tableId), constraints = constraints,
          generatedCols = generated)
      }
    } { p =>
      // a tagged retry scans only the versions committed after `prev`
      // (the zero-padded names filter without opens): O(versions since
      // this call began) plus latest()'s checkpoint-bounded chain
      val (ops, np) =
        if (!tagged) (Nil, latest(spark, dir))
        else opsAndLatestAfter(spark, dir, base) match {
          case (o, l, _) => (o, l)
        }
      if (ops.contains(op))
        Left(snapshots(spark, dir).find(_.operation == op).get)
      else {
        if (np.isEmpty && p.nonEmpty)
          sys.error(s"table $dir lost all commits mid-$op")
        // staged data must not slip past a rule a competitor added
        if (rulesOf(np) != rules) throw new ConflictingCommitException(
          s"$op on $dir lost the commit race and cannot rebase: a " +
            "concurrent commit changed the table's CHECK constraints or " +
            "generation rules after this batch was validated; re-run it")
        Right(np)
      }
    }
  }

  /** The one staging step of every write and DML: generated columns
    * completed ([[applyGenerated]]; `recompute` for DML rewrites), CHECK
    * constraints enforced inside the staging job ([[constraintGuard]]),
    * then [[stageWithStats]]; a tripped guard surfaces as a
    * [[ConstraintViolationException]].
    */
  private def stage(rows: DataFrame, dir: String, v: Long,
      constraints: Map[String, String], generated: Map[String, String],
      statsCols: Seq[String],
      tblSchema: Option[org.apache.spark.sql.types.StructType],
      recompute: Boolean = false):
      (Seq[String], Map[String, DataSkipping.FileStats]) =
    rethrowConstraintViolation(stageWithStats(
      constraintGuard(applyGenerated(rows, generated, recompute),
        constraints), dir, v, statsCols, tblSchema))

  /** The one commit loop of every write and DML: commit against `prev`;
    * when another writer claimed the version first, rethrow after
    * `maxAttempts` claims, else ask `rebase` for the snapshot to commit
    * against next — or (`Left`) for a snapshot that already holds this
    * commit — [[pace]] and retry. ONLY the version-claim race retries: a
    * genuine I/O failure mid-commit surfaces as itself, not as a
    * misleading "concurrent writer" report.
    */
  private def commitLoop(prev0: Option[Snapshot], maxAttempts: Int)(
      commitOn: Option[Snapshot] => Snapshot)(
      rebase: Option[Snapshot] => Either[Snapshot, Option[Snapshot]]):
      Snapshot = {
    var prev = prev0
    var attempt = 1
    while (true) {
      try return commitOn(prev)
      catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
          rebase(prev) match {
            case Left(won) => return won
            case Right(np) =>
              pace(prev.fold(0L)(_.version), np.fold(0L)(_.version), attempt)
              prev = np
          }
      }
    }
    sys.error("unreachable")
  }

  /** The DML verbs as the planner ([[dml]]) receives them. */
  private[graft] object Dml {
    sealed trait Verb {
      def name: String
      /** The operation the commit records. */
      def op: String = name
      /** Stats columns staged files add to the table's tracked ones. */
      def statsCols: Seq[String] = Nil
    }
    final case class Delete(predicate: Column) extends Verb {
      def name = "delete"
    }
    final case class Update(predicate: Column, set: Map[String, Column])
        extends Verb {
      def name = "update"
    }
    final case class Merge(updates: DataFrame, keys: Seq[String],
        override val statsCols: Seq[String] = Nil,
        override val op: String = "merge") extends Verb {
      def name = "merge"
    }
  }

  /** One verb as the planner runs it: the predicate that prunes and
    * rebases, the `__vt_hit` marker over a positional scan (TRUE = the
    * row matches; it may project the scan down to the positions), and
    * the row function over the rewrite-lane rows and, when `usesHits`,
    * the full DV-matched rows, which the planner then persists for
    * their second reader (the sidecar).
    */
  private final case class VerbPlan(pred: Column,
      mark: DataFrame => DataFrame,
      rows: (Option[DataFrame], Option[DataFrame]) => Option[DataFrame],
      usesHits: Boolean = false)

  /** The DML planner behind DELETE, UPDATE and MERGE under both per-file
    * policies. Each step runs once, whatever the verb:
    *  1. pre-checks: `maxAttempts`, the density threshold, no SET of a
    *     generated column, and the table schema. A table committed
    *     before schema tracking reads its footer schema once and the
    *     DML commit records it; `prev` stays unpatched, so a rebase
    *     still compares against what the manifest said;
    *  2. pruning: [[DataSkipping.prune]] on the predicate, or on the
    *     merge keys' range ([[mergePreAgg]]), finds the touched files;
    *  3. shape per file. Copy-on-write (`dvThreshold = None`) rewrites
    *     every touched file and runs no pricing job. The deletion-vector
    *     policy runs ONE `vt:dml-price` aggregate (live and matching
    *     rows per touched file), then leaves a file untouched (no live
    *     row matches — a pruning over-approximation), drops it by
    *     reference (DELETE, every live row matches), rewrites it (every
    *     live row matches, or previous DV + this DML kills more than
    *     `dvThreshold` of it — its DV history folds away), or DVs it;
    *  4. staging: one sidecar write for the DV positions, one data write
    *     for all data rows — generated columns recomputed, CHECK
    *     constraints guarded, fresh stats on every tracked column;
    *  5. commit: one loop. A lost version race re-commits the staged
    *     result against the new latest once [[rebaseOrConflict]] proves
    *     the competitors disjoint, else [[ConflictingCommitException]].
    *
    * A verb supplies only its row function: DELETE keeps the rewrite
    * lane's non-matching rows; UPDATE applies its SET
    * ([[applyUpdateSet]]) to the rewrite lane plus the DV-matched rows;
    * MERGE upserts its source into the rewrite lane — one full-outer
    * join whose unmatched source rows are the DV-matched post-images and
    * the inserts. `onStaged` is the race-window test seam, as in the
    * write step ([[write]]).
    */
  private[graft] def dml(spark: SparkSession, dir: String, verb: Dml.Verb,
      dvThreshold: Option[Double], maxAttempts: Int,
      onStaged: () => Unit = () => ()): Snapshot = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    require(maxAttempts >= 1, "maxAttempts must be at least 1")
    dvThreshold.foreach(t => require(t > 0.0 && t <= 1.0,
      s"densityThreshold must be in (0, 1]; got $t"))
    val prev = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    // a table from before schema tracking: read the footer schema once;
    // `snap` scans and commits with it, `prev` stays as recorded
    val schema = prev.schema.getOrElse(
      spark.read.parquet(prev.files.map(resolveRef(dir, _)): _*).schema)
    val snap = prev.copy(schemaJson =
      prev.schemaJson.orElse(Some(schema.json)))
    val fields = schema.fieldNames.toSeq.map(n => col(n).as(n))
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      cached += df
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    def matching(p: Column)(scan: DataFrame): DataFrame =
      scan.withColumn("__vt_hit", coalesce(p, lit(false)))
    try {
    val plan = verb match {
      case Dml.Delete(p) => VerbPlan(p, matching(p),
        (rw, _) => rw.map(_.filter(!coalesce(p, lit(false)))))
      case Dml.Update(p, set) =>
        requireNotGenerated(prev, set.keys)
        VerbPlan(p, matching(p), (rw, hits) =>
          (rw ++ hits).reduceOption(_ unionByName _)
            .map(applyUpdateSet(_, p, set)), usesHits = true)
      case Dml.Merge(updates, keys, _, _) =>
        keys.foreach(k => require(schema.fieldNames.contains(k),
          s"merge key $k not in table schema " +
            schema.fieldNames.mkString("[", ",", "]")))
        // Update rows complete their generated columns (computed if
        // omitted, validated if supplied — a matched row takes the update
        // row wholesale) and align to the table's columns by name. Under
        // the DV policy the source is materialized (Delta's
        // materializeSource: spillable persist), so the prune bounds, the
        // pricing join and the upsert do not each re-evaluate its lineage;
        // copy-on-write reads it only twice, and a persist would cost a
        // cache-building job. Carried files keep the recorded types, so a
        // MERGE never changes them.
        val aligned = applyGenerated(updates, prev.generatedCols)
          .select(fields: _*)
        val src = if (dvThreshold.isEmpty) aligned else keep(aligned)
        require(schema.fields.map(_.dataType).toSeq ==
          src.schema.fields.map(_.dataType).toSeq,
          s"merge cannot change column types (${schema.simpleString} -> " +
            s"${src.schema.simpleString}); use overwrite for type changes")
        // SQL MERGE rule ("cannot update the same row twice") and the
        // key-range prune bounds in ONE job. A file may hold a matched
        // row only if EVERY key column's range intersects the updates'
        // [min, max] — a necessary condition, so pruning on it is sound;
        // NULL update keys match no target row, and min/max ignore them.
        val b = mergePreAgg(src, keys)
        requireUniqueKeys(src, keys, b)
        val keyRange = keys.zipWithIndex.map { case (k, i) =>
          col(k) >= lit(b.get(2 * i + 1)) && col(k) <= lit(b.get(2 * i + 2))
        }.reduce(_ && _)
        // keys are unique on the source side (dup rule above), so the
        // left-outer join never fans out; the narrow (file, pos, hit)
        // projection persists and serves the pricing and the DV lane
        val hit = src.select(keys.map(col): _*)
          .withColumn("__vt_hit", lit(true))
        VerbPlan(keyRange,
          scan => keep(scan.join(hit, keys, "left_outer").select(
            col("__vt_file"), col("__vt_pos"),
            coalesce(col("__vt_hit"), lit(false)).as("__vt_hit"))),
          (rw, _) => Some(rw.fold(src)(
            graft.operators.Merge.upsert(_, src, keys))))
    }
    val (touched, _) = DataSkipping.prune(spark, dir, snap, plan.pred)
    // only the DV policy reads positions; copy-on-write prices nothing
    val scan =
      if (dvThreshold.isEmpty || touched.isEmpty) None
      else Some(scanWithPos(spark, dir, snap, touched))
    val marked = scan.map(plan.mark)
    // ONE aggregation job prices every touched file (live rows under the
    // existing DVs, matches) — one result row per file, driver-bounded
    // like the manifest itself
    val counts = marked.fold(Map.empty[String, (Long, Long)])(m =>
      withJobDesc(spark, "vt:dml-price") {
        m.groupBy(col("__vt_file"))
          .agg(count(lit(1)).as("__n"),
            sum(when(col("__vt_hit"), 1L).otherwise(0L)).as("__m"))
          .collect()
      }.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap)
    var rwSet = Vector.empty[String]
    var dvSet = Vector.empty[String]
    var dead = Vector.empty[String]
    val dvnB = Map.newBuilder[String, Long]
    touched.foreach { f =>
      val (nLive, nMatch) = counts.getOrElse(f, (0L, 0L))
      val prevDel = prev.dvn.getOrElse(f, 0L)
      dvThreshold match {
        case None => rwSet :+= f
        case Some(_) if nMatch == 0L => ()
        case Some(_) if nMatch == nLive && verb.isInstanceOf[Dml.Delete] =>
          dead :+= f
        case Some(t) if nMatch == nLive ||
            (prevDel + nMatch).toDouble / (nLive + prevDel) > t => rwSet :+= f
        case Some(_) => dvSet :+= f; dvnB += f -> (prevDel + nMatch)
      }
    }
    val v = prev.version + 1
    def lane(df: DataFrame, files: Seq[String]): DataFrame =
      df.join(broadcast(files.toDF("__vt_file")), Seq("__vt_file"))
    // the DV-matched rows feed the positional sidecar and, for UPDATE,
    // the post-images: persisted once when both read them (bounded by
    // the density threshold), so the DV files are scanned once
    val hits = Some(dvSet).filter(_.nonEmpty).map { fs =>
      val h = lane(marked.get, fs).filter(col("__vt_hit"))
      if (plan.usesHits) keep(h) else h
    }
    val dvAdds = hits.fold(Seq.empty[String])(h =>
      stageFiles(h.select(col("__vt_file"), col("__vt_pos")), dir, v))
    // live rows only: a rewrite must not resurrect soft-deleted rows,
    // and the commit's removes fold the rewritten files' DV history away
    val rw = Some(rwSet).filter(_.nonEmpty).map(fs =>
      scan.fold(readFilesWithDv(spark, dir, snap, fs))(lane(_, fs))
        .select(fields: _*))
    val (adds, addStats) = plan.rows(rw,
        hits.filter(_ => plan.usesHits).map(_.select(fields: _*))) match {
      case None =>
        (Seq.empty[String], Map.empty[String, DataSkipping.FileStats])
      // staged files keep every tracked stats column prunable: a DML
      // must never silently turn off skipping on a column it served
      case Some(rows) => stage(rows, dir, v, prev.constraints,
        prev.generatedCols, (verb.statsCols ++
          prev.stats.values.flatMap(_.cols.keys)).distinct, snap.schema,
        recompute = true)
    }
    val dvn = dvnB.result()
    onStaged()
    commitLoop(Some(prev), maxAttempts) { p =>
      commitDelta(spark, dir, p.get, verb.op, adds, rwSet ++ dead, addStats,
        snap.schemaJson, dvAdds, dvn)
    } { p =>
      Right(Some(rebaseOrConflict(spark, dir, p.get, plan.pred, touched,
        verb.name)))
    }
    } finally cached.foreach(_.unpersist())
  }

  /** MERGE (upsert) into the table as a new version: matched keys take
    * the update row's values (even NULLs — SQL MERGE semantics via
    * [[graft.operators.Merge.upsert]]), unmatched rows carry over,
    * unmatched updates insert. One atomic manifest commit, so readers
    * see the pre-merge or post-merge table, never a mix, and the
    * pre-merge version stays time-travelable. This is the Delta
    * `MERGE INTO` + snapshot-isolation pair the reference leans on
    * (sql/breed_mapping.py:596-618), without Delta jars.
    *
    * The copy-on-write policy of the DML planner ([[dml]]): only files
    * whose skipping stats say they MAY hold a key in the updates'
    * [min, max] range are read, upserted and rewritten; every other file
    * (and its stats) carries into the new version BY REFERENCE, unread
    * and unwritten. The skipping analyzer's soundness contract (never
    * prune a file that may match) is exactly the carry-over-safety
    * contract, and NULL keys never match. Unmatched updates ride the
    * rewrite, or a pure-insert commit when no file may match. At 100 TB
    * this is the difference between a daily MERGE that rewrites a few
    * key-clustered files and one that rewrites the table; pair with
    * [[cluster]] on the merge key. Tables without key stats degrade to
    * the full rewrite. The update frame aligns to the table's columns by
    * name and must keep their types; rewritten files keep every tracked
    * stats column prunable, plus `statsCols`.
    */
  def merge(updates: DataFrame, dir: String, keys: Seq[String],
      statsCols: Seq[String] = Seq.empty,
      maxAttempts: Int = 5): Snapshot =
    dml(updates.sparkSession, dir, Dml.Merge(updates, keys, statsCols),
      dvThreshold = None, maxAttempts)

  /** ONE job over the update frame pricing both merge preconditions:
    * per-key counts rolled up into (max per-key count, per-key
    * min/max) — the SQL MERGE duplicate rule and the key-range prune
    * bounds together, instead of two sequential driver actions (the
    * grouped min/max over keys equals the raw min/max; grouped counts
    * feed the dup rule). Index 0 = max count (null on empty updates),
    * then (min, max) per key in order. On a dup-rule violation the
    * caller re-runs the bounded example probe — a failure-only job.
    */
  private def mergePreAgg(updates: DataFrame,
      keys: Seq[String]): org.apache.spark.sql.Row = {
    import org.apache.spark.sql.functions._
    val aggs = Seq(max(col("__n")).as("__dupmax")) ++ keys.flatMap(k =>
      Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k")))
    updates.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().head
  }

  /** The SQL MERGE duplicate rule over a [[mergePreAgg]] row: fails
    * with a bounded duplicate-key example (failure-only second job).
    * The pre-agg verdict is authoritative — the example probe only
    * enriches the message. A nondeterministic source could re-evaluate
    * duplicate-free on the probe; trusting that re-read would commit
    * exactly the fan-out corruption this check exists to prevent.
    */
  private def requireUniqueKeys(updates: DataFrame, keys: Seq[String],
      pre: org.apache.spark.sql.Row): Unit = {
    import org.apache.spark.sql.functions._
    if (!pre.isNullAt(0) && pre.getLong(0) > 1) {
      val dup = updates.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1)
        .collect()
      require(false,
        s"merge requires one update row per key (SQL MERGE rule); " +
          s"duplicate key example: ${dup.headOption.getOrElse(
            "(source re-evaluated without duplicates — " +
              "nondeterministic MERGE source)")}")
    }
  }
  /** Decide whether a DML operation that lost the version race can
    * safely REBASE onto the new latest snapshot, Delta-style. The DML
    * read exactly `touched` (every file whose stats said it may hold a
    * predicate-matching row, resolved against `base`); its staged
    * output plus the carried-by-reference files stay a correct answer
    * against any competitor history that (a) kept the schema, (b) did
    * not rewrite a file the DML read, and (c) only added files whose
    * skipping stats PROVE they hold no predicate-matching row — then
    * serializing the DML after the competitors changes nothing it
    * read or wrote. Anything else throws [[ConflictingCommitException]]
    * (competitor files without stats count as may-match, so a table
    * without skipping stats never silently rebases). Returns the new
    * latest snapshot to re-commit against.
    */
  private def rebaseOrConflict(spark: SparkSession, dir: String,
      base: Snapshot, predicate: org.apache.spark.sql.Column,
      touched: Seq[String], op: String): Snapshot = {
    val now = latest(spark, dir).getOrElse(
      sys.error(s"table $dir lost all commits mid-$op"))
    def conflict(why: String) = throw new ConflictingCommitException(
      s"$op on $dir lost the commit race (base v${base.version}, now " +
        s"v${now.version}) and cannot rebase: $why; re-run the " +
        "operation against the new table state")
    if (now.schemaJson != base.schemaJson)
      conflict("the concurrent commit changed the table schema")
    if (now.constraints != base.constraints)
      conflict("the concurrent commit changed the table's CHECK " +
        "constraints after this operation's rows were validated")
    if (now.generatedCols != base.generatedCols)
      conflict("the concurrent commit changed the table's generated-" +
        "column rules after this operation's rows were completed")
    val baseFiles = base.files.toSet
    val readRemoved = touched.filterNot(now.files.toSet)
    if (readRemoved.nonEmpty)
      conflict(s"the concurrent commit rewrote ${readRemoved.size} " +
        s"file(s) this operation read (e.g. ${readRemoved.head})")
    // a deletion-vector commit changes a file's LIVE ROWS without
    // touching the file list — a competitor DV on a file this DML read
    // is exactly as conflicting as a rewrite of it
    val dvChanged = touched.filter(f =>
      now.dvn.get(f) != base.dvn.get(f))
    if (dvChanged.nonEmpty)
      conflict(s"the concurrent commit soft-deleted rows (deletion " +
        s"vector) in ${dvChanged.size} file(s) this operation read " +
        s"(e.g. ${dvChanged.head})")
    val addedByOthers = now.files.filterNot(baseFiles)
    if (addedByOthers.nonEmpty) {
      val pseudo = Snapshot(now.version, now.timestampMs, now.operation,
        addedByOthers,
        now.stats.view.filterKeys(addedByOthers.toSet).toMap,
        now.schemaJson)
      val (mayMatch, _) = DataSkipping.prune(spark, dir, pseudo, predicate)
      if (mayMatch.nonEmpty)
        conflict(s"the concurrent commit added ${mayMatch.size} file(s) " +
          s"that may hold rows matching this operation's predicate " +
          s"(e.g. ${mayMatch.head})")
    }
    now
  }

  /** SQL DELETE: remove rows where `predicate` is TRUE (FALSE and NULL
    * rows survive — three-valued SQL semantics), committed as one
    * atomic new version. The copy-on-write policy of the DML planner
    * ([[dml]]): only may-match files are rewritten, every other file
    * carries by reference; deleting every row leaves a readable empty
    * version. The pre-delete version stays time-travelable.
    *
    * Concurrency (Delta parity, all DML entry points alike): losing
    * the version race auto-rebases BY DEFAULT (`maxAttempts = 5`) —
    * the staged result re-commits once [[rebaseOrConflict]] proves the
    * competitors touched neither the files nor the DVs this DML read
    * and added nothing its predicate may match; otherwise the typed
    * [[ConflictingCommitException]] surfaces, never a silent wrong
    * rebase. Two disjoint-predicate writers (the daily job racing a
    * backfill) both land with zero caller retry code.
    */
  def delete(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      maxAttempts: Int = 5): Snapshot =
    dml(spark, dir, Dml.Delete(predicate), dvThreshold = None, maxAttempts)

  /** SQL DELETE via DELETION VECTORS (merge-on-read): the deletion-vector
    * policy of the DML planner ([[dml]]). Rows where `predicate` is TRUE
    * are soft-deleted by recording their positions in a DV sidecar
    * instead of rewriting their files — the answer is identical to
    * [[delete]] (readers apply the DV as a positional anti-filter), but
    * a point delete against a 1 GB file costs a KB-scale sidecar write,
    * not a 1 GB rewrite. This is the write-amplification fix deletion
    * vectors exist for in Delta/Iceberg (the modern half of the
    * reference's own Delta maintenance story, docs/runbook.md:55-58).
    *
    * One pricing job counts each touched file's live and matching rows;
    * then per file: no match → untouched, not even referenced; every
    * live row matches → dropped BY REFERENCE (no rewrite, no DV);
    * cumulative deleted fraction (previous DV + this delete) above
    * `densityThreshold` → rewritten clean with its DV history folded
    * away (unbounded DV accumulation on a hot-delete file is how
    * merge-on-read tables rot); otherwise → positions append to the DV
    * (one sidecar dataset per commit; a file's DV is the union across
    * commits, so no sidecar is ever rewritten).
    *
    * All shapes land in ONE atomic delta commit; vacuum treats live
    * sidecars as referenced data, and [[compactTable]]/[[cluster]]/
    * [[overwrite]] fold every DV into clean files. Stats stay sound:
    * per-file min/max/null over-approximate the live rows and
    * [[countBounds]] prices rows as `rowCount - dvn`. Rebase contract as
    * [[delete]].
    */
  def deleteWithDv(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      densityThreshold: Double = 0.15,
      maxAttempts: Int = 5,
      onStaged: () => Unit = () => ()): Snapshot =
    dml(spark, dir, Dml.Delete(predicate), Some(densityThreshold),
      maxAttempts, onStaged)

  /** SQL UPDATE ... SET: rows where `predicate` is TRUE take the `set`
    * expressions (all of them evaluated against the OLD row — one
    * select, not chained withColumns), everything else is untouched.
    * Set values cast to the column's existing type so the table schema
    * is stable. The copy-on-write policy of the DML planner ([[dml]]):
    * only may-match files rewrite. Rebase contract as [[delete]].
    */
  def update(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      maxAttempts: Int = 5): Snapshot =
    dml(spark, dir, Dml.Update(predicate, set), dvThreshold = None,
      maxAttempts)
  /** Fail fast when a DML SET targets a generated column: its value is
    * GENERATED ALWAYS — it recomputes when its sources change and can
    * never be assigned directly (Delta's rule).
    */
  private def requireNotGenerated(prev: Snapshot,
      setCols: Iterable[String]): Unit =
    setCols.foreach(c => require(
      !prev.generatedCols.keys.exists(_.equalsIgnoreCase(c)),
      s"cannot SET generated column $c (GENERATED ALWAYS AS " +
        s"${prev.generatedCols.find(_._1.equalsIgnoreCase(c))
          .map(_._2).getOrElse("?")}); update its source columns and " +
        "it recomputes"))

  /** UPDATE's row function in the DML planner ([[dml]]): matched rows take every `set` expression
    * (all evaluated against the OLD row — one select, not chained
    * withColumns, so `SET a = b, b = a` swaps instead of clobbering),
    * cast to the column's existing type so the table schema is stable;
    * non-table columns in `df` (the `__vt_*` positional columns) are
    * dropped.
    */
  private def applyUpdateSet(df: DataFrame,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val fields = df.schema.fields.filterNot(_.name.startsWith("__vt_"))
    set.keys.foreach(c => require(
      fields.exists(_.name.equalsIgnoreCase(c)),
      s"update sets unknown column $c; table has " +
        fields.map(_.name).mkString("[", ",", "]")))
    val pTrue = coalesce(predicate, lit(false))
    df.select(fields.map { f =>
      set.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, e)) =>
          when(pTrue, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }.toSeq: _*)
  }

  /** SQL UPDATE via DELETION VECTORS (merge-on-read): the deletion-vector
    * policy of the DML planner ([[dml]]). Matched rows are soft-deleted
    * positionally — their OLD positions land in a DV sidecar, exactly
    * [[deleteWithDv]]'s shape — and their post-images APPEND as new data
    * files, all in ONE atomic commit. The answer is identical to
    * [[update]]; the cost model is not: a point update against a 1 GB
    * file writes a KB-scale sidecar plus the updated rows, never the
    * untouched 1 GB (Delta/Iceberg's merge-on-read UPDATE).
    *
    * Per touched file, as [[deleteWithDv]] except that a file whose
    * every live row matches is rewritten (the post-images ARE a full
    * rewrite; a DV killing every live row would leave a fully-dead file
    * as permanent read-side weight). Post-images and rewritten rows
    * stage in one write with fresh stats on every tracked column.
    *
    * CDC pairs the two halves back up: the change feed classifies a
    * DV'd pre-image and its appended post-image as
    * `update_preimage`/`update_postimage` on the key, not as a
    * delete+insert ([[ChangeFeed]] joins DV-deleted rows on the removed
    * side). Vacuum/restore/compaction/conflict semantics are
    * [[deleteWithDv]]'s.
    */
  def updateWithDv(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      densityThreshold: Double = 0.15,
      maxAttempts: Int = 5,
      onStaged: () => Unit = () => ()): Snapshot =
    dml(spark, dir, Dml.Update(predicate, set), Some(densityThreshold),
      maxAttempts, onStaged)

  /** SQL MERGE via DELETION VECTORS (merge-on-read): the deletion-vector
    * policy of the DML planner ([[dml]]). Matched target rows are
    * soft-deleted positionally and EVERY update row appends —
    * post-images for the matches, plain inserts for the rest — in ONE
    * atomic commit. Same answer as [[merge]] (upsert semantics: the
    * update row replaces the matched row entirely, NULLs included);
    * radically different cost model: [[merge]] rewrites every file the
    * update keys' range may touch, this writes a KB-scale sidecar plus
    * exactly `|updates|` rows. For the medallion pattern's hot path — a
    * small upsert batch against a huge dimension — that is the
    * difference between an incremental refresh and a table rewrite.
    *
    * Per touched file the same shape choice as [[updateWithDv]]; a file
    * that rewrites takes the upsert of the batch, whose unmatched rows
    * are the append lane, so each update row lands exactly once.
    *
    * CDC classifies the halves as `update_preimage`/`update_postimage`
    * on the key and unmatched update rows as `insert` ([[ChangeFeed]]
    * joins DV pre-images on the removed side). Dup-key rule, key-range
    * conflict detection, vacuum/restore/compaction semantics all
    * mirror [[merge]] / [[deleteWithDv]]. `opTag` overrides the
    * recorded operation name (default `merge`) — the streaming upsert
    * sink commits `merge#<batchId>` so the tag ledger can replay-skip,
    * the same contract as a tagged [[write]].
    */
  def mergeWithDv(updates: DataFrame, dir: String, keys: Seq[String],
      statsCols: Seq[String] = Seq.empty,
      densityThreshold: Double = 0.15,
      maxAttempts: Int = 5,
      onStaged: () => Unit = () => (),
      opTag: String = "merge"): Snapshot =
    dml(updates.sparkSession, dir, Dml.Merge(updates, keys, statsCols, opTag),
      Some(densityThreshold), maxAttempts, onStaged)

  /** Rewrite the current contents into `targetFiles` files as a new
    * version — answer-preserving OPTIMIZE. Readers of any version,
    * including one resolving mid-compact, are untouched: no pre-existing
    * file is modified or removed.
    */
  def compactTable(spark: SparkSession, dir: String,
      targetFiles: Int, statsCols: Seq[String] = Seq.empty): Snapshot = {
    require(targetFiles > 0, "targetFiles must be positive")
    val prev = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    val v = prev.version + 1
    val current = readSnapshot(spark, dir, prev)
    val (files, st) = stageWithStats(
      current.repartition(targetFiles), dir, v, statsCols)
    // a full rewrite lands under the CURRENT logical names, so the
    // mapping re-spells physical = logical (ids persist); the dropped-
    // name memory survives (old files with dropped data remain
    // time-travelable until vacuum)
    val schemaOut = prev.schema.map(s => selfMapped(s).json)
      .orElse(Some(current.schema.json))
    commit(spark, dir, v, "compact", files, st, schemaOut,
      prev.tableId, droppedCols = prev.droppedCols,
      constraints = prev.constraints, generatedCols = prev.generatedCols)
  }

  /** Answer-preserving z-order rewrite committed as a new version — the
    * OPTIMIZE ZORDER BY + stats-collection pair in one commit. Same
    * clustering recipe as [[Sources.zorderWrite]] (quantile range
    * buckets → Morton interleave → exact-histogram routing of contiguous
    * z-runs with an in-partition z-sort), but the rewritten files land through
    * the manifest commit path with skipping stats, so a subsequent
    * [[readWhere]] box predicate on the two clustered dimensions prunes
    * most files BEFORE the scan starts — the mechanism that turns a
    * 100 TB needle query into a handful of tasks. Both z-columns must
    * be double-castable (numeric); `statsCols` defaults to exactly the
    * clustering pair.
    */
  def cluster(spark: SparkSession, dir: String, zCols: (String, String),
      targetFiles: Int, statsCols: Seq[String] = Seq.empty,
      buckets: Int = 256): Snapshot = {
    val prev = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    val v = prev.version + 1
    val current = readSnapshot(spark, dir, prev)
    val arranged = Sources.zArrange(current, zCols, targetFiles, buckets)
    // always keep previously tracked columns prunable: an OPTIMIZE must
    // never silently turn off skipping on a column it used to serve
    val effStats =
      ((if (statsCols.nonEmpty) statsCols else Seq(zCols._1, zCols._2))
        ++ prev.stats.values.flatMap(_.cols.keys)).distinct
    val (files, st) = stageWithStats(arranged, dir, v, effStats)
    val schemaOut = prev.schema.map(s => selfMapped(s).json)
      .orElse(Some(arranged.schema.json))
    commit(spark, dir, v, "cluster", files, st, schemaOut,
      prev.tableId, droppedCols = prev.droppedCols,
      constraints = prev.constraints, generatedCols = prev.generatedCols)
  }

  /** Schema of a DV sidecar dataset: deleted row positions, keyed by
    * the data file's table-relative path plus the row's ordinal within
    * that file (parquet `_metadata.row_index`).
    */
  private[graft] val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("__vt_file",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("__vt_pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Above this many soft-deleted rows the DV anti-join is left to the
    * planner (shuffle/AQE); below it the DV side is explicitly
    * broadcast. The cardinality is driver-known from the manifest's
    * `dvn` counts — no job runs to decide.
    */
  private val DvBroadcastRows = 4L * 1000 * 1000

  /** Read `files` of `snap` with the snapshot's deletion vectors
    * applied. Files without soft deletes (not in `snap.dvn`) take the
    * plain scan path — no metadata columns, no join — so a table whose
    * DVs touch few files pays the anti-filter only on those. Position
    * identity is `(table-relative path, parquet row ordinal)`: the scan
    * exposes `_metadata` (file URI + row_index), maps the URI back to
    * the relative path through a broadcast basename lookup (part-file
    * basenames are UUID-unique — the same invariant
    * [[DataSkipping.collectStats]] rests on), and anti-joins the DV
    * rows. The DV side is broadcast when the manifest's recorded
    * cardinality is small, else left to the planner.
    */
  private[graft] def readFilesWithDv(spark: SparkSession, dir: String,
      snap: Snapshot, files: Seq[String]): DataFrame = {
    def plain(fs: Seq[String]): DataFrame = snap.schema match {
      case Some(st) if hasMapping(st) =>
        // column mapping: bind against the files' PHYSICAL names, then
        // present the logical ones (rename is metadata-only)
        spark.read.schema(physSchema(st))
          .parquet(fs.map(f => resolveRef(dir, f)): _*)
          .toDF(st.fieldNames.toSeq: _*)
      case Some(st) =>
        spark.read.schema(st).parquet(fs.map(f => resolveRef(dir, f)): _*)
      case None =>
        spark.read.parquet(fs.map(f => resolveRef(dir, f)): _*)
    }
    val dvd = files.filter(snap.dvn.contains)
    if (dvd.isEmpty || snap.dvFiles.isEmpty) return plain(files)
    val schema = snap.schema.getOrElse(sys.error(
      s"table $dir carries deletion vectors but no recorded schema"))
    import org.apache.spark.sql.functions.{broadcast, col}
    val lived = scanWithPos(spark, dir, snap, dvd)
      .select(schema.fieldNames.map(col).toSeq: _*)
    val plainFiles = files.filterNot(snap.dvn.contains)
    if (plainFiles.isEmpty) lived else plain(plainFiles).unionByName(lived)
  }

  /** Live rows of `files` under `snap` (existing DVs applied) WITH
    * their positional identity exposed as `__vt_file` (table-relative
    * path) and `__vt_pos` (row ordinal in file) — the working frame of
    * [[deleteWithDv]] and the CDC/feed readers, which need to address
    * rows by position.
    */
  private[graft] def scanWithPos(spark: SparkSession, dir: String,
      snap: Snapshot, files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index}
    val schema = snap.schema.getOrElse(sys.error(
      s"positional reads of $dir need a recorded schema"))
    require(!schema.fieldNames.exists(n =>
      n == "__vt_file" || n == "__vt_pos" || n == "__vt_base"),
      "table schema collides with reserved __vt_* positional columns")
    import spark.implicits._
    // positional identity keys on basenames — duplicate basenames would
    // fan out the lookup join and misattribute DV rows. UUID-staged
    // names make this structurally true; assert rather than assume
    // (mirrors BloomStats.collect / DataSkipping.collectStats).
    val bases = files.map(f => f.substring(f.lastIndexOf('/') + 1))
    require(bases.distinct.size == bases.size,
      "duplicate part-file basenames in positional scan: " +
        bases.diff(bases.distinct).distinct.take(3).mkString(", "))
    val lookup = broadcast(files.map(f =>
      (f.substring(f.lastIndexOf('/') + 1), f))
      .toDF("__vt_base", "__vt_file"))
    val raw = spark.read.schema(physSchema(schema))
      .parquet(files.map(f => resolveRef(dir, f)): _*)
      .withColumn("__vt_base",
        substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("__vt_pos", col("_metadata.row_index"))
    // physical → logical AFTER the positional columns are captured from
    // the scan (metadata columns resolve on the file relation)
    val scan = raw.select(schema.fields.map(f =>
      col(physNameOf(f)).as(f.name)) ++
      Seq(col("__vt_base"), col("__vt_pos")): _*)
      .join(lookup, Seq("__vt_base"))
    if (snap.dvFiles.isEmpty) scan.drop("__vt_base")
    else {
      // DV rows name files by the STRING the writing table recorded —
      // which, under a shallow clone, is the SOURCE's relative ref
      // while this snapshot lists the same file absolutely. The join
      // therefore keys on (basename, pos): basenames are UUID-unique
      // (the same invariant the scan-side lookup rests on), so the
      // anti-filter lands on exactly the right rows in either spelling.
      val dv = spark.read.schema(DvSchema)
        .parquet(snap.dvFiles.map(f => resolveRef(dir, f)): _*)
        .select(substring_index(col("__vt_file"), "/", -1)
          .as("__vt_base"), col("__vt_pos"))
      val dvSide =
        if (snap.dvn.values.sum <= DvBroadcastRows) broadcast(dv) else dv
      scan.join(dvSide, Seq("__vt_base", "__vt_pos"), "left_anti")
        .drop("__vt_base")
    }
  }

  private def readSnapshot(spark: SparkSession, dir: String,
      s: Snapshot): DataFrame = {
    if (s.files.isEmpty) s.schema match {
      // a version CAN be legitimately empty (e.g. delete of every row);
      // with a recorded schema that's an empty frame, not an error
      case Some(st) => return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
      case None => sys.error(s"version ${s.version} of $dir is empty")
    }
    // the recorded schema makes reads footer-order-independent: files
    // predating an evolved column read as null for it, instead of the
    // whole table silently losing the column when an old footer wins.
    // Deletion vectors, when present, apply as a positional anti-filter
    // on exactly the files that carry them ([[readFilesWithDv]]).
    readFilesWithDv(spark, dir, s, s.files)
  }

  /** The latest version's contents. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readSnapshot(spark, dir, latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits")))

  /** The latest version's rows satisfying `predicate`, with data
    * skipping: files whose manifest stats prove no row can match are
    * never opened ([[DataSkipping]]), and the predicate still applies
    * row-level to the survivors — identical answers to
    * `read(...).filter(predicate)`, strictly fewer bytes scanned.
    */
  def readWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): DataFrame = {
    val snap = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    DataSkipping.readPruned(spark, dir, snap, predicate)
  }

  /** Metadata-only (lower, upper) bounds on `COUNT(*) WHERE predicate`
    * against the latest version; answers the count exactly — no scan —
    * when they meet. None without complete per-file row counts.
    * See [[DataSkipping.countBounds]].
    */
  def countBounds(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): Option[(Long, Long)] = {
    val snap = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    DataSkipping.countBounds(spark, dir, snap, predicate)
  }

  /** (files kept, files pruned) for `predicate` against the latest
    * version — the observability hook for specs and scan planning.
    */
  def pruneInfo(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): (Int, Int) = {
    val snap = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    val (kept, pruned) = DataSkipping.prune(spark, dir, snap, predicate)
    (kept.size, pruned.size)
  }

  /** Time travel by version number. */
  def snapshotAt(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val s = snapshots(spark, dir).find(_.version == version).getOrElse(
      sys.error(s"table $dir has no version $version"))
    readSnapshot(spark, dir, s)
  }

  /** Time travel by wall clock: the newest version committed at or
    * before `tsMs`.
    */
  def snapshotAsOf(spark: SparkSession, dir: String, tsMs: Long): DataFrame = {
    val eligible = snapshots(spark, dir).filter(_.timestampMs <= tsMs)
    require(eligible.nonEmpty,
      s"table $dir has no version committed at or before $tsMs")
    readSnapshot(spark, dir, eligible.last)
  }

  /** Backfill data-skipping stats for the CURRENT version without
    * touching a single data file: one stats aggregation over the files
    * that don't already carry stats for exactly `statsCols`, committed
    * as a new version referencing the same files. This is how a legacy
    * or streamed-in table gains [[readWhere]] pruning retroactively —
    * metadata-only, so at 100 TB it costs one scan, not one rewrite.
    */
  def analyze(spark: SparkSession, dir: String,
      statsCols: Seq[String]): Snapshot = {
    require(statsCols.nonEmpty, "analyze needs at least one stats column")
    val prev = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    val wanted = statsCols.toSet
    val missing = prev.files.filterNot(f =>
      prev.stats.get(f).exists(fs => wanted.subsetOf(fs.cols.keySet)))
    // under a column mapping, files are read by PHYSICAL name and the
    // stat keys come back in the manifest's logical vocabulary
    val (readSchema, physCols, back) = prev.schema match {
      case Some(sch) if hasMapping(sch) =>
        def physOf(c: String) = sch.fields
          .find(_.name.equalsIgnoreCase(c)).map(physNameOf).getOrElse(c)
        val pc = statsCols.map(physOf)
        (Some(physSchema(sch)), pc, pc.zip(statsCols).toMap)
      case other => (other, statsCols, Map.empty[String, String])
    }
    val fresh0 = DataSkipping.collectStats(spark, dir, missing, physCols,
      readSchema) // recorded schema: evolved columns stay visible
    val fresh = fresh0.view.mapValues(fs => DataSkipping.FileStats(
      fs.rowCount,
      fs.cols.map { case (k, v) => back.getOrElse(k, k) -> v })).toMap
    // merge per file: keep any previously tracked columns, add the new
    val mergedStats = prev.stats ++ fresh.map { case (f, fs) =>
      f -> prev.stats.get(f).map(old =>
        DataSkipping.FileStats(fs.rowCount, old.cols ++ fs.cols))
        .getOrElse(fs)
    }
    commit(spark, dir, prev.version + 1, "analyze", prev.files,
      mergedStats, prev.schemaJson, prev.tableId, prev.dvFiles, prev.dvn,
      prev.blooms, prev.droppedCols, prev.constraints, prev.generatedCols)
  }

  /** Backfill per-file BLOOM stats for `cols` on the CURRENT version —
    * metadata-only like [[analyze]]: one no-shuffle job builds a bloom
    * per (file, column) over the files that don't already carry one
    * ([[BloomStats.collect]]), sidecars land beside the data, and the
    * new version references the same data files. [[readWhere]] equality
    * and IN predicates on `cols` then prune files whose bloom excludes
    * the needle — the point-lookup case min/max cannot serve on
    * unordered high-cardinality keys. `maxBytes` caps each sidecar
    * (past it the false-positive rate degrades, never the answers).
    */
  def analyzeBloom(spark: SparkSession, dir: String, cols: Seq[String],
      fpp: Double = 0.01, maxBytes: Int = 1 << 20): Snapshot = {
    require(cols.nonEmpty, "analyzeBloom needs at least one column")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1); got $fpp")
    val prev = latest(spark, dir).getOrElse(
      sys.error(s"table $dir has no commits"))
    val missing = prev.files.filterNot(f =>
      prev.blooms.get(f).exists(m =>
        cols.forall(c => m.keys.exists(_.equalsIgnoreCase(c)))))
    // column-mapping translation, mirroring analyze()
    val (readSchema, physCols, back) = prev.schema match {
      case Some(sch) if hasMapping(sch) =>
        def physOf(c: String) = sch.fields
          .find(_.name.equalsIgnoreCase(c)).map(physNameOf).getOrElse(c)
        val pc = cols.map(physOf)
        (Some(physSchema(sch)), pc, pc.zip(cols).toMap)
      case other => (other, cols, Map.empty[String, String])
    }
    val collected0 = BloomStats.collect(spark, dir, missing, physCols, fpp,
      maxBytes, readSchema,
      f => prev.stats.get(f).map(_.rowCount).filter(_ > 0L)
        .getOrElse(BloomStats.DefaultExpected))
    val collected = collected0.map { case ((f, c), bytes) =>
      (f, back.getOrElse(c, c)) -> bytes }
    val v = prev.version + 1
    val (fs, _) = fsFor(spark, dir)
    val sub = s"data/v${v}_${java.util.UUID.randomUUID.toString.take(8)}"
    if (collected.nonEmpty) fs.mkdirs(new Path(s"$dir/$sub"))
    var idx = 0
    val refs = collected.toSeq.sortBy(_._1).map { case ((f, c), bytes) =>
      val rel = s"$sub/bloom-$idx.bloom"
      idx += 1
      val out = fs.create(new Path(s"$dir/$rel"), false)
      try out.write(bytes) finally out.close()
      (f, c, rel)
    }
    val merged = prev.blooms ++ refs.groupBy(_._1).map { case (f, rs) =>
      f -> (prev.blooms.getOrElse(f, Map.empty) ++
        rs.map(r => r._2 -> r._3).toMap)
    }
    commit(spark, dir, v, "analyze", prev.files, prev.stats,
      prev.schemaJson, prev.tableId, prev.dvFiles, prev.dvn, merged,
      prev.droppedCols, prev.constraints, prev.generatedCols)
  }

  /** The table's commit history, newest first — DESCRIBE HISTORY as a
    * DataFrame: version, commit timestamp, operation, file count, and
    * which columns carry skipping stats.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    snapshots(spark, dir).reverse.map { s =>
      (s.version, new java.sql.Timestamp(s.timestampMs), s.operation,
        s.files.size,
        s.stats.values.flatMap(_.cols.keys).toSet.toSeq.sorted.mkString(","),
        s.constraints.keys.toSeq.sorted.mkString(","))
    }.toDF("version", "committed_at", "operation", "n_files", "stats_cols",
      "constraints")
  }

  /** Drop data files referenced by NO retained version (the newest
    * `retainVersions` manifests survive; older manifests are removed).
    * The youngest retained boundary keeps time travel working for the
    * retained window while reclaiming everything older — Delta VACUUM's
    * contract. Returns the number of deleted data files.
    */
  def vacuum(spark: SparkSession, dir: String,
      retainVersions: Int = 2): Int = {
    require(retainVersions >= 1, "must retain at least the latest version")
    // The WHOLE sweep — live-set computation through the last data
    // delete — holds the maintenance lock, so a RESTORE (the one
    // operation that resurrects vacuum-eligible files by name) can
    // never commit inside the window between the live-set and the
    // deletes. See [[withMaintLock]]; this closes the window the r14
    // pre-delete re-list only narrowed.
    withMaintLock(spark, dir, "vacuum") {
      vacuumLocked(spark, dir, retainVersions)
    }
  }

  private def vacuumLocked(spark: SparkSession, dir: String,
      retainVersions: Int): Int = {
    val (fs, _) = fsFor(spark, dir)
    val all = snapshots(spark, dir)
    if (all.isEmpty) return 0
    val cutoffMs = System.currentTimeMillis() - vacuumManifestGraceMs
    // sweep UNKNOWN manifest files: version-named files below the head
    // that no resolvable snapshot claims are stranded-resurrection
    // debris (a stale writer's claim of a vacuum-vacated slot — see
    // writeExclusive's freshness check); snapshots() skips them, so
    // the count-based drop below can never reach them. Age-guarded by
    // the same grace as every sweep, and never at/above the head
    // (torn-claim repair owns that region).
    val known = all.map(_.version).toSet
    val headV = all.last.version
    manifestFiles(fs, dir).foreach { st =>
      versionOfName(st.getPath.getName).foreach { mv =>
        if (!known.contains(mv) && mv < headV &&
            st.getModificationTime <= cutoffMs)
          fs.delete(st.getPath, false)
      }
    }
    val dropByCount = all.dropRight(math.min(all.size, retainVersions))
    // manifest-age grace: never sweep a manifest younger than
    // [[vacuumManifestGraceMs]], no matter the retention count. This is
    // the other half of writeExclusive's pre-claim freshness check: the
    // check proves the head is v-1 an instant before claiming v, and
    // the grace guarantees a version committed INSIDE that instant
    // cannot be swept inside it — together they make a stale writer's
    // resurrection of a vacated slot impossible rather than merely
    // unlikely. takeWhile keeps the dropped set a contiguous PREFIX
    // (commit timestamps are monotone along versions), preserving the
    // invariant that retained manifests always form a resolvable chain.
    val drop = dropByCount.takeWhile(_.timestampMs <= cutoffMs)
    val keep = all.drop(drop.size)
    if (drop.isEmpty) return 0
    // the oldest RETAINED manifest must become self-contained before its
    // ancestors disappear: a delta whose base chain is vacuumed away
    // would strand every later version. Materialize it as a full
    // manifest (Delta's checkpoint-before-clean), staged under a
    // dot-name readers already skip and swapped in ATOMICALLY: on local
    // filesystems via rename(2) with replace (a crash leaves either the
    // old delta — chain intact, ancestors not yet dropped — or the new
    // full manifest, both valid states; the previous delete-then-rename
    // had a crash window that left the version MISSING and every later
    // delta's base chain broken). HDFS rename cannot replace, so that
    // path keeps delete+rename — its crash window leaves the version
    // MISSING with the complete `.ckpt` temp alongside, a state the
    // next chain resolution AUTO-REPAIRS by publishing the temp
    // ([[recoverCkpt]]): the chain self-heals on first read instead of
    // waiting for manual recovery.
    keep.headOption.foreach { s =>
      val mdir = new Path(dir, ManifestDir)
      val mpath = new Path(mdir, manifestName(s.version))
      val isDelta = readManifestFile(fs, mpath).exists {
        case _: DeltaRec => true
        case _ => false
      }
      if (isDelta) {
        val tmpP = new Path(mdir, s".${manifestName(s.version)}.ckpt")
        val out = fs.create(tmpP, true)
        try out.write(renderManifest(s).getBytes("UTF-8")) finally out.close()
        if (mpath.toUri.getScheme == null || mpath.toUri.getScheme == "file") {
          val mq = fs.makeQualified(mpath).toUri.getPath
          val tq = fs.makeQualified(tmpP).toUri.getPath
          java.nio.file.Files.move(java.nio.file.Paths.get(tq),
            java.nio.file.Paths.get(mq),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } else {
          fs.delete(mpath, false)
          if (!fs.rename(tmpP, mpath)) sys.error(
            s"vacuum: failed to materialize manifest for version ${s.version}")
        }
      }
    }
    val live = keep.flatMap(s =>
      s.files ++ s.dvFiles ++ s.blooms.values.flatMap(_.values)).toSet
    // Drop the MANIFESTS first, NEWEST-first: at every instant during
    // the sweep (and after a mid-sweep crash) the remaining manifests
    // form a resolvable chain — a delta is always deleted before the
    // base it depends on, so a concurrent snapshots()/latest() never
    // observes a broken chain, it just sees retention shrink. Data
    // files go second: once a version's manifest is gone no NEW reader
    // can resolve to its files, and a reader already holding a
    // resolved file list PAST retention fails loudly (FileNotFound on
    // the scan), never silently wrong — Delta VACUUM's contract. Files
    // referenced by ANY retained version (`live`, which also covers
    // every concurrent commit: appends/CoW-DML only carry files forward
    // from the retained latest) are never touched.
    drop.reverse.foreach { s =>
      fs.delete(new Path(new Path(dir, ManifestDir),
        manifestName(s.version)), false)
    }
    vacuumPause()
    // Re-list RIGHT BEFORE touching data files and union the FRESH
    // live-set over the one computed at sweep start: any commit that
    // landed while the manifests were being dropped — appends, DML,
    // compactions — is invisible to the original point-in-time listing
    // but visible here. The one commit class this defense-in-depth
    // re-list could NOT close on its own — a RESTORE resurrecting
    // dropped files by name in the instants between this re-list and
    // the deletes — is excluded structurally: restore and vacuum
    // serialize on the maintenance lock this whole sweep holds
    // ([[withMaintLock]]), so no restore can commit anywhere inside the
    // window. One extra chain listing per vacuum — O(retained
    // manifests), trivial next to the deletes themselves.
    val live2 = live ++ snapshots(spark, dir)
      .flatMap(s => s.files ++ s.dvFiles ++ s.blooms.values.flatMap(_.values))
    var deleted = 0
    var sinceTouch = 0
    drop.foreach { s =>
      (s.files ++ s.dvFiles ++ s.blooms.values.flatMap(_.values))
        .filterNot(live2)
        // absolute refs are a shallow clone's borrowed SOURCE files —
        // never this table's to delete, no matter how unreferenced
        .filterNot(_.startsWith("/"))
        .foreach { f =>
        if (fs.delete(new Path(s"$dir/$f"), false)) deleted += 1
        sinceTouch += 1
        if (sinceTouch >= 4096) {
          // keep the lock visibly LIVE during a huge delete pass (100 TB
          // tables can drop millions of files), so the crashed-holder
          // reclaim never robs a working vacuum
          touchMaintLock(fs, dir)
          sinceTouch = 0
        }
      }
    }
    deleted
  }

  /** Fault-injection seam (test scope only): invoked between [[vacuum]]'s
    * manifest sweep and the data-file deletion pass — the window in
    * which a concurrent commit (e.g. a restore resurrecting
    * vacuum-eligible files) must be caught by the pre-delete re-list.
    */
  private[graft] var vacuumPause: () => Unit = () => ()

  /** Delete ORPHANED staging debris: `data/v*_*` subdirs that no
    * committed manifest references and never will, plus hidden
    * manifest-body temps — the debris of crashed writers and conflict
    * losers (their staged subdirs are invisible to readers but
    * [[vacuum]] never touches them, because vacuum only walks manifest
    * file lists).
    *
    * SUBDIR-granular by design: [[stageFiles]] gives every commit
    * attempt its own `data/v<N>_<rand>/` subdir and a committing writer
    * references ALL of that subdir's data files, so "orphan" is a
    * property of whole subdirs, never of individual files inside a live
    * one. That makes the scan one listing of `data/` — O(commit
    * attempts), not O(data files) — plus a recursive walk of debris
    * candidates only. Live subdirs are never walked or stat'ed, so a
    * vacuum over a million-file table is a handful of driver RPCs
    * instead of a per-file mtime storm.
    *
    * `graceMs` protects in-flight commits: a writer stages files BEFORE
    * claiming a manifest, so a candidate subdir is deleted only when
    * NOTHING under it (at any depth — a mid-write job keeps refreshing
    * task files deep under `_temporary`) is newer than the grace
    * window. Same modification-time retention contract as Delta VACUUM.
    * Returns the number of deleted data files.
    */
  def vacuumOrphans(spark: SparkSession, dir: String,
      graceMs: Long = 24L * 3600 * 1000): Int = {
    require(graceMs >= 0, "graceMs must be non-negative")
    val (fs, _) = fsFor(spark, dir)
    // manifest-dir temp debris: a local writer killed between staging
    // its manifest body and the hard-link publish leaves a hidden
    // `.v*.manifest.*.tmp` (invisible to readers — dot-name). Same
    // grace contract as the data sweep below.
    val mdir = new Path(dir, ManifestDir)
    if (fs.exists(mdir)) {
      val mcut = System.currentTimeMillis() - graceMs
      fs.listStatus(mdir).foreach { s =>
        if (s.isFile && s.getPath.getName.startsWith(".") &&
            s.getPath.getName.endsWith(".tmp") &&
            s.getModificationTime < mcut)
          fs.delete(s.getPath, false)
      }
    }
    val dataDir = new Path(dir, "data")
    if (!fs.exists(dataDir)) return 0
    val referencedSubs = snapshots(spark, dir)
      .flatMap(s => s.files ++ s.dvFiles ++ s.blooms.values.flatMap(_.values))
      .map(f => f.substring(0, f.lastIndexOf('/'))).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    var deleted = 0
    fs.listStatus(dataDir).filter(_.isDirectory).foreach { sub =>
      if (!referencedSubs.contains(s"data/${sub.getPath.getName}")) {
        var fresh = sub.getModificationTime >= cutoff
        var parquet = 0
        try {
          val it = fs.listFiles(sub.getPath, true)
          while (it.hasNext && !fresh) {
            val st = it.next()
            if (st.getModificationTime >= cutoff) fresh = true
            else if (st.getPath.getName.endsWith(".parquet") &&
                !st.getPath.getName.startsWith(".")) parquet += 1
          }
        } catch {
          // the recursive walk raced an IN-FLIGHT writer mutating its
          // staging subdir: task `_temporary` entries vanish between
          // the directory list and the per-file stat (which on the
          // local FS can even shell out and surface a RuntimeException
          // rather than FNF). Active mutation IS freshness — keep the
          // subdir this sweep; a genuinely dead subdir stops mutating
          // and is reclaimed by the next one.
          case _: java.io.FileNotFoundException => fresh = true
          case _: RuntimeException => fresh = true
          // the local FS can also deny a task's `_temporary` attempt dir
          // while the writer creates it: the same race. A denial that
          // persists would keep the subdir forever, so it is logged.
          case e: java.nio.file.AccessDeniedException =>
            log.warn(s"vacuumOrphans: access denied walking ${sub.getPath} " +
              s"(${e.getMessage}); keeping it this sweep")
            fresh = true
        }
        if (!fresh && fs.delete(sub.getPath, true)) deleted += parquet
      }
    }
    deleted
  }

  /** Metadata-only ROLLBACK: commit version `version`'s exact file
    * list (with its stats and schema) as the NEW latest — no data file
    * is read, copied, or deleted, so restoring a 100 TB table costs a
    * handful of directory listings (one per staged subdir, not one RPC
    * per file) plus one manifest write. History is preserved: the bad
    * versions stay time-travelable until [[vacuum]], and the restore
    * itself is a version (operation `restore`). Fails if `version`
    * does not exist or its files have already been vacuumed away.
    *
    * Restoring a version that predates schema tracking records the
    * mergeSchema union of the restored files' footers, so the table
    * stays schema-tracked (footer-order-independent reads) instead of
    * regressing to untracked.
    *
    * Concurrency: like every maintenance operation here, restore is
    * conflict-DETECTED, not lock-coordinated — do not run it
    * concurrently with [[vacuum]]/[[vacuumOrphans]], whose live-file
    * computation cannot see a restore resurrecting vacuum-eligible
    * files mid-flight (the module contract: effectively-serial
    * orchestration, no lock manager).
    */
  def restore(spark: SparkSession, dir: String, version: Long): Snapshot =
    // Restore is the ONE commit that resurrects old files by name, so
    // its read-check-commit runs under the maintenance lock: a vacuum
    // cannot compute a live-set, delete, or even start while this holds,
    // and conversely this cannot commit inside a vacuum's delete window
    // ([[withMaintLock]]). Interleavings either order cleanly: restore
    // first → the next vacuum's live-set covers the resurrected files;
    // vacuum first → the target version (or its files) is gone and the
    // checks below fail LOUDLY — never a silently swept restore.
    withMaintLock(spark, dir, "restore") {
      restoreLocked(spark, dir, version)
    }

  /** Fail loudly if any file a snapshot references is gone (vacuumed):
    * one directory listing per referenced subdir, not one stat per
    * file. Shared by [[restore]] and [[cloneTable]] — the two
    * operations that resurrect old files by reference.
    */
  private def requireFilesPresent(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, target: Snapshot, what: String): Unit =
    (target.files ++ target.dvFiles ++ target.blooms.values.flatMap(_.values))
      .groupBy(f => f.substring(0, f.lastIndexOf('/'))).foreach {
      case (sub, fsOfSub) =>
        val present =
          try fs.listStatus(new Path(resolveRef(dir, sub)))
            .filter(_.isFile).map(_.getPath.getName).toSet
          catch { case _: java.io.FileNotFoundException => Set.empty[String] }
        val missing = fsOfSub
          .map(f => f.substring(f.lastIndexOf('/') + 1))
          .filterNot(present)
        require(missing.isEmpty,
          s"cannot $what: data file(s) " +
            s"${missing.take(3).mkString(", ")} under $sub were vacuumed")
    }

  private def restoreLocked(spark: SparkSession, dir: String,
      version: Long): Snapshot = {
    val all = snapshots(spark, dir)
    val target = all.find(_.version == version).getOrElse(
      sys.error(s"table $dir has no version $version"))
    val (fs, _) = fsFor(spark, dir)
    requireFilesPresent(fs, dir, target, s"restore version $version")
    val schema = target.schemaJson.orElse(Some(
      spark.read.option("mergeSchema", "true")
        .parquet(target.files.map(f => resolveRef(dir, f)): _*)
        .schema.json))
    val latestV = all.last.version
    commit(spark, dir, latestV + 1, "restore",
      target.files, target.stats, schema, all.last.tableId,
      target.dvFiles, target.dvn, target.blooms, target.droppedCols,
      target.constraints, target.generatedCols)
  }

  /** CLONE a table (Delta's CREATE TABLE ... CLONE): `dstDir` becomes a
    * NEW table (fresh identity — streaming cursors treat it cold) whose
    * v1 is the source's chosen `version` (default: latest), carrying
    * schema, column mapping, skipping stats, bloom sidecars, deletion
    * vectors, dropped-name memory, CHECK constraints, and generation
    * rules.
    *
    * SHALLOW (default): zero-copy — the clone's manifest references the
    * source's data/DV/bloom files by ABSOLUTE path; not one data byte
    * moves, so cloning a 100 TB table is one manifest write. The
    * clone's own writes land locally; rewrites (compact/cluster/
    * overwrite/CoW-DML) progressively fold borrowed refs into local
    * files; the clone's vacuum NEVER deletes borrowed files (absolute
    * refs are structurally excluded from its delete set). The one
    * sharp edge is Delta's own: the SOURCE's vacuum does not know
    * about clones, so vacuuming the source can strand a still-shallow
    * clone — reads then fail LOUDLY (missing files), never silently
    * wrong. Deep-clone (or compact) before vacuuming a source whose
    * clones must outlive it. Paths are same-filesystem.
    *
    * DEEP (`shallow = false`): every referenced file is copied under
    * `dstDir` (borrowed absolute refs land under `data/v1_cloneabs/`,
    * basenames are UUID-unique) — fully independent from birth, cost
    * proportional to data size. Copied DV sidecars keep naming files by
    * the source's ref strings; reads are immune because the DV
    * anti-join keys on (basename, position).
    */
  def cloneTable(spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Long] = None, shallow: Boolean = true): Snapshot = {
    require(latest(spark, dstDir).isEmpty,
      s"clone target $dstDir already has commits")
    // the whole clone — snapshot resolution, presence check, file copy
    // (deep) or borrow (shallow), v1 commit — holds the SOURCE's
    // maintenance lock: a concurrent source vacuum cannot sweep files
    // between the resolution and the commit, so a clone is never
    // stranded AT BIRTH (post-birth source vacuums remain the caller's
    // documented shallow-clone hazard). Same serialization device as
    // restore, the other old-files-by-reference operation.
    withMaintLock(spark, srcDir, "clone") {
      cloneLocked(spark, srcDir, dstDir, version, shallow)
    }
  }

  private def cloneLocked(spark: SparkSession, srcDir: String,
      dstDir: String, version: Option[Long], shallow: Boolean): Snapshot = {
    val all = snapshots(spark, srcDir)
    require(all.nonEmpty, s"clone source $srcDir has no commits")
    val target = version match {
      case Some(v) => all.find(_.version == v).getOrElse(
        sys.error(s"clone source $srcDir has no version $v"))
      case None => all.last
    }
    val (sfs, _) = fsFor(spark, srcDir)
    requireFilesPresent(sfs, srcDir, target,
      s"clone version ${target.version} of $srcDir")
    // borrowed refs are scheme-less absolute PATHS, so they can only
    // ever resolve on the destination's filesystem — a cross-FS shallow
    // clone (s3a source, local dest) would commit a manifest whose refs
    // can never resolve. Enforce the documented same-filesystem
    // contract up front instead of stranding the clone at birth.
    val (dfs0, _) = fsFor(spark, dstDir)
    require(sfs.getUri == dfs0.getUri,
      s"clone requires source and target on the same filesystem; " +
        s"got ${sfs.getUri} vs ${dfs0.getUri}")
    // the DV anti-join and per-file stats attribution key rows by
    // part-file BASENAME; a basename collision anywhere in the clone's
    // lineage would silently misattribute rows. Self-staged names are
    // UUID-unique, but assert it — a violation must fail loudly here,
    // not drop live rows on a later read.
    locally {
      val bases = (target.files ++ target.dvFiles)
        .map(f => f.substring(f.lastIndexOf('/') + 1))
      require(bases.distinct.size == bases.size,
        "clone source carries duplicate part-file basenames: " +
          bases.diff(bases.distinct).distinct.take(3).mkString(", "))
    }
    val srcAbs = sfs.makeQualified(new Path(srcDir)).toUri.getPath
    if (shallow) {
      def abs(f: String) = if (f.startsWith("/")) f else s"$srcAbs/$f"
      commit(spark, dstDir, 1L, "clone",
        target.files.map(abs),
        target.stats.map { case (f, st) => abs(f) -> st },
        target.schemaJson, None,
        target.dvFiles.map(abs),
        target.dvn.map { case (f, n) => abs(f) -> n },
        target.blooms.map { case (f, m) =>
          abs(f) -> m.view.mapValues(abs).toMap },
        target.droppedCols, target.constraints, target.generatedCols)
    } else {
      val (dfs, _) = fsFor(spark, dstDir)
      val conf = spark.sparkContext.hadoopConfiguration
      def place(f: String): String =
        if (!f.startsWith("/")) f
        else s"data/v1_cloneabs/${f.substring(f.lastIndexOf('/') + 1)}"
      (target.files ++ target.dvFiles ++
        target.blooms.values.flatMap(_.values)).distinct.foreach { f =>
        val to = new Path(s"$dstDir/${place(f)}")
        dfs.mkdirs(to.getParent)
        require(org.apache.hadoop.fs.FileUtil.copy(
          sfs, new Path(resolveRef(srcAbs, f)), dfs, to,
          false, false, conf),
          s"deep clone failed copying $f")
      }
      commit(spark, dstDir, 1L, "clone",
        target.files.map(place),
        target.stats.map { case (f, st) => place(f) -> st },
        target.schemaJson, None,
        target.dvFiles.map(place),
        target.dvn.map { case (f, n) => place(f) -> n },
        target.blooms.map { case (f, m) =>
          place(f) -> m.view.mapValues(place).toMap },
        target.droppedCols, target.constraints, target.generatedCols)
    }
  }
}
