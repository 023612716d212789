package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file BLOOM FILTER stats for [[VersionedTable]] — the point-lookup
  * half of data skipping. Min/max pruning ([[DataSkipping]]) is blind on
  * a high-cardinality UNORDERED key: every file's [min, max] covers the
  * needle, so `doc_id = k` scans the whole table. A per-file bloom
  * answers "could this file hold value v" probabilistically — false
  * positives only — so for equality/IN predicates the analyzer can drop
  * every file whose bloom excludes the needle. Soundness is structural:
  * a bloom can only KEEP a file (false positive) or prove absence,
  * never hide a present value, and files without a bloom always stay.
  * This is Delta/Iceberg's bloom-index story re-expressed as manifest
  * sidecars.
  *
  * Build is distributed and shuffle-light: each partition folds its
  * rows into per-(file, column) partial blooms, and only the BLOOMS
  * (not rows) shuffle for the per-file merge — identical create
  * parameters per file make `mergeInPlace` legal. Expected-item counts
  * come from the manifest's per-file row counts when present. Sidecar
  * size is capped (`maxBytes`): past the cap the filter keeps its bit
  * budget and the false-positive rate degrades gracefully, which costs
  * scans, never answers.
  *
  * Domains: integral columns hash `putLong`, strings `putString`
  * (UTF-8) — the two shapes a training corpus's point lookups take
  * (doc ids, content hashes). Other types simply carry no bloom.
  *
  * Reference anchor: the reference's OPTIMIZE/ZORDER runbook ops
  * (docs/runbook.md:55-58) are Delta's skipping maintenance; blooms are
  * the equality-predicate extension of the same contract.
  */
object BloomStats {

  /** Column types a bloom can index. */
  def bloomable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  private[sources] val DefaultExpected = 1000000L

  private def create(expected: Long, fpp: Double, maxBytes: Int): BloomFilter = {
    val n = math.max(1L, expected)
    val bits = math.min(
      BloomFilter.optimalNumOfBits(n, fpp), maxBytes.toLong * 8L)
    BloomFilter.create(n, math.max(64L, bits))
  }

  private def toBytes(bf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  private def fromBytes(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(b))

  private def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val bf = fromBytes(a)
    bf.mergeInPlace(fromBytes(b))
    toBytes(bf)
  }

  /** Build one bloom per (file, column) over exactly `files`, keyed by
    * table-relative path. `expectedRows` supplies the per-file sizing
    * (manifest row counts; [[DefaultExpected]] fallback). One job; rows
    * never shuffle — per-partition partial blooms merge by key.
    */
  private[sources] def collect(spark: SparkSession, dir: String,
      files: Seq[String], cols: Seq[String], fpp: Double, maxBytes: Int,
      schema: Option[StructType],
      expectedRows: String => Long): Map[(String, String), Array[Byte]] = {
    if (files.isEmpty || cols.isEmpty) return Map.empty
    // resolveRef, not "$dir/$f": a shallow clone's manifest holds
    // absolute borrowed refs (see DataSkipping.collectStats)
    val paths = files.map(f => VersionedTable.resolveRef(dir, f))
    val df = schema match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
    val fields = cols.map { c =>
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        sys.error(s"bloom column $c not in table schema " +
          df.schema.fieldNames.mkString("[", ",", "]")))
      require(bloomable(f.dataType),
        s"bloom column $c has unsupported type ${f.dataType.simpleString} " +
          "(integral and string only)")
      f
    }
    // same basename-attribution invariant as DataSkipping.collectStats
    val basenames = files.map(f => f.substring(f.lastIndexOf('/') + 1))
    require(basenames.distinct.size == files.size,
      "duplicate part-file basenames in one bloom collection")
    val byBase = basenames.zip(files).toMap
    val expectedByBase = byBase.map { case (b, f) => b -> expectedRows(f) }
    val sel = df.select(input_file_name().as("__f") +:
      fields.map(f => col(f.name)): _*)
    val nCols = fields.size
    val partial = sel.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap[(String, Int), BloomFilter]()
      it.foreach { row =>
        val p = row.getString(0)
        val base = p.substring(p.lastIndexOf('/') + 1)
        var i = 0
        while (i < nCols) {
          val v = row.get(1 + i)
          if (v != null) {
            val bf = acc.getOrElseUpdate((base, i),
              create(expectedByBase.getOrElse(base, DefaultExpected),
                fpp, maxBytes))
            v match {
              case n: Number => bf.putLong(n.longValue)
              case s: String => bf.putString(s)
              case other => bf.putString(String.valueOf(other))
            }
          }
          i += 1
        }
      }
      acc.iterator.map { case (k, bf) => (k, toBytes(bf)) }
    }
    partial.reduceByKey(mergeBytes _).collect().flatMap {
      case ((base, i), bytes) =>
        byBase.get(base).map(f => (f, fields(i).name) -> bytes)
    }.toMap
  }

  // ------------------------------------------------------------ evaluation

  /** Per-prune lazy sidecar loader with a call-scoped cache; any read
    * failure degrades that bloom to absent (keep the file).
    */
  private[sources] final class Loader(spark: SparkSession, dir: String) {
    private val cache =
      scala.collection.mutable.HashMap[String, Option[BloomFilter]]()
    def apply(path: String): Option[BloomFilter] =
      cache.getOrElseUpdate(path, {
        try {
          val p = new org.apache.hadoop.fs.Path(
            VersionedTable.resolveRef(dir, path))
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val in = fs.open(p)
          try Some(BloomFilter.readFrom(in)) finally in.close()
        } catch { case _: java.io.IOException => None }
      })
  }

  private def bareAttr(e: Expression): Option[(String, DataType)] = e match {
    case a: AttributeReference => Some((a.name, a.dataType))
    case _: UnresolvedAttribute => None // unresolved: no reliable type
    case _ => None
  }

  private def constOf(e: Expression): Option[Any] =
    if (!e.foldable) None
    else try Option(e.eval(null)) catch { case _: Exception => None }

  /** MAY a row of the file match `e`, judged by blooms alone? True on
    * every shape blooms cannot decide — only a conjunctively-reachable
    * equality/IN on a bloom'd column can prune. NOT/ranges/casts all
    * degrade to true; composition with the min/max verdict is a plain
    * AND of two independently sound over-approximations.
    */
  private[sources] def mayMatch(e: Expression,
      refs: Map[String, String], load: String => Option[BloomFilter]):
      Boolean = e match {
    case And(l, r) => mayMatch(l, refs, load) && mayMatch(r, refs, load)
    case Or(l, r) => mayMatch(l, refs, load) || mayMatch(r, refs, load)
    case EqualTo(a, b) => eqMay(a, b, refs, load)
    case EqualNullSafe(a, b) => eqMay(a, b, refs, load)
    case In(a, list) =>
      val consts = list.map(constOf)
      if (consts.exists(_.isEmpty)) true // non-constant / null element
      else consts.flatten match {
        case Nil => true // IN(null...): min/max eval already handles
        case vs => vs.exists(v => valueMay(a, v, refs, load))
      }
    case _ => true
  }

  private def eqMay(a: Expression, b: Expression,
      refs: Map[String, String], load: String => Option[BloomFilter]):
      Boolean =
    (bareAttr(a), constOf(b)) match {
      case (Some(_), Some(v)) => valueMay(a, v, refs, load)
      case _ => (bareAttr(b), constOf(a)) match {
        case (Some(_), Some(v)) => valueMay(b, v, refs, load)
        case _ => true
      }
    }

  private def valueMay(attr: Expression, v: Any,
      refs: Map[String, String], load: String => Option[BloomFilter]):
      Boolean =
    (for {
      (name, dt) <- bareAttr(attr)
      path <- refs.get(name).orElse(
        refs.find(_._1.equalsIgnoreCase(name)).map(_._2))
      bf <- load(path)
      verdict <- (dt, v) match {
        case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
          Some(bf.mightContainLong(n.longValue))
        case (StringType, s) => Some(bf.mightContainString(s.toString))
        case _ => None // coerced/unknown pairing: cannot consult
      }
    } yield verdict).getOrElse(true)
}
