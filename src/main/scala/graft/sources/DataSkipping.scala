package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.Base64

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File-level data skipping for [[VersionedTable]] — the lakehouse
  * min/max pruning the reference gets from Delta's stats collection
  * (docs/runbook.md:55-58 pairs OPTIMIZE ZORDER with skipping-driven
  * reads), re-expressed as plain manifest metadata plus a sound
  * predicate analyzer.
  *
  * At commit time each staged file gets, per configured stats column:
  * row count, null count, and min/max (one extra Spark aggregation over
  * only the NEWLY staged files, grouped by `input_file_name` — the
  * driver holds one row per file, the same bound as the manifest
  * itself). At read time [[prune]] walks the caller's predicate and
  * drops every file whose stats PROVE no row can match; the surviving
  * files are scanned with the same predicate applied, so pruning can
  * only ever remove work, never change an answer.
  *
  * The analyzer is deliberately three-valued and conservative: each
  * node evaluates to (mayMatch, allMatch) for a file, unknown
  * expression shapes return (true, false) — "cannot prune, cannot
  * assume" — and cross-type comparisons that Spark would resolve by
  * lossy coercion (e.g. a BIGINT column against a fractional DOUBLE
  * literal) bail out rather than risk pruning a file Spark's own
  * cast-then-compare would have matched. NaN never produces a bound
  * (a NaN min/max is stored as "unbounded"), -0.0 is canonicalized to
  * 0.0 on both sides (Spark treats them equal in comparisons), and
  * strings compare in UTF-8 binary order via [[UTF8String]] — exactly
  * Spark's ordering, not Java's UTF-16 order, which diverges above the
  * BMP.
  *
  * 100 TB story: stats ride the manifest (KBs per thousand files), the
  * prune is a driver-side walk over the file list — no Spark job — and
  * combined with [[VersionedTable.cluster]]'s z-order layout a 2-D box
  * predicate eliminates most of the scan before the first task
  * launches. This is the same contract that lets Delta/Iceberg serve
  * needle-in-haystack queries from 100 TB tables.
  */
object DataSkipping {

  /** Per-column stats for one file. `min`/`max` are serialized in the
    * column's canonical string form ([[serialize]]); None means
    * "unbounded on this side" — either no non-null values exist or the
    * true extremum is not representable as a bound (NaN).
    */
  final case class ColStats(typeTag: String, nullCount: Long,
      min: Option[String], max: Option[String])

  /** All stats for one file. Columns absent from `cols` were not
    * collected — the analyzer keeps the file for predicates on them.
    */
  final case class FileStats(rowCount: Long, cols: Map[String, ColStats])

  // ---------------------------------------------------------------- types

  /** Canonical tag for a supported stats column type; None = the type
    * cannot carry skipping stats (arrays, structs, maps, binary).
    */
  def typeTagOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case FloatType | DoubleType                        => Some("double")
    case _: DecimalType                                => Some("decimal")
    case StringType                                    => Some("string")
    case DateType                                      => Some("date")
    case TimestampType | TimestampNTZType              => Some("ts")
    case BooleanType                                   => Some("bool")
    case _                                             => None
  }

  /** Serialize one collected min/max value to its canonical string, or
    * None when the value cannot serve as a bound (NaN).
    */
  private def serialize(tag: String, v: Any): Option[String] = (tag, v) match {
    case (_, null) => None
    case ("long", n: Number) => Some(n.longValue.toString)
    case ("double", n: Number) =>
      val d = n.doubleValue
      if (d.isNaN) None
      else Some((if (d == 0.0) 0.0 else d).toString) // canonical +0.0
    case ("decimal", d: java.math.BigDecimal) => Some(d.toPlainString)
    case ("string", s: String) => Some(s)
    case ("date", d: java.sql.Date) => Some(d.toLocalDate.toEpochDay.toString)
    case ("date", d: LocalDate) => Some(d.toEpochDay.toString)
    case ("ts", t: java.sql.Timestamp) =>
      // getTime includes the nanos' millisecond part; rebuild micros
      // from whole seconds + full nano field to avoid double counting
      Some((Math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000L).toString)
    case ("ts", i: java.time.Instant) =>
      Some((i.getEpochSecond * 1000000L + i.getNano / 1000L).toString)
    case ("ts", t: LocalDateTime) =>
      Some((t.toEpochSecond(ZoneOffset.UTC) * 1000000L +
        t.getNano / 1000L).toString)
    case ("bool", b: Boolean) => Some(if (b) "1" else "0")
    case _ => None
  }

  // ------------------------------------------------------------ collection

  /** Compute [[FileStats]] for freshly staged files of one commit: one
    * aggregation over exactly those files, one result row per file.
    * `files` are table-relative paths; matching back from
    * `input_file_name` uses the part-file basename, which Spark makes
    * globally unique (UUID-suffixed).
    */
  def collectStats(spark: SparkSession, dir: String, files: Seq[String],
      statsCols: Seq[String],
      schema: Option[StructType] = None): Map[String, FileStats] = {
    if (files.isEmpty || statsCols.isEmpty) return Map.empty
    // Parquet footers already carry exact per-column min/max/null-count
    // per row group — read THOSE (driver-side metadata, no Spark job)
    // instead of re-scanning every staged byte of the stats columns
    // (guide §1/§6: an append was paying a second full read of its own
    // output). Files whose footer can't serve a requested bound
    // (INT96 timestamps, dropped oversized binary bounds, foreign
    // writers without stats) fall back to the original scan-based
    // aggregation, so the result is byte-identical either way.
    val byFooter = footerStats(spark, dir, files, statsCols, schema)
    val missing = files.filterNot(byFooter.contains)
    if (missing.isEmpty) byFooter
    else byFooter ++ scanStats(spark, dir, missing, statsCols, schema)
  }

  /** Per-file stats from parquet footer metadata alone. Files that
    * cannot be fully served (any requested column with absent/unusable
    * statistics) are simply left out of the result — the caller scans
    * those. Values are converted to exactly [[serialize]]'s canonical
    * forms, and string order is parquet's unsigned-byte order, which is
    * [[UTF8String]]'s (Spark's) order — so footer stats match the scan
    * path bit for bit.
    */
  private[graft] def footerStats(spark: SparkSession, dir: String,
      files: Seq[String], statsCols: Seq[String],
      schema: Option[StructType]): Map[String, FileStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration

    // canonical tag from the FILE's physical+logical type (must agree
    // with typeTagOf over the Spark type the file reads back as)
    def tagOf(t: org.apache.parquet.schema.PrimitiveType): Option[String] = {
      val ann = t.getLogicalTypeAnnotation
      (t.getPrimitiveTypeName, ann) match {
        case (_, _: DecimalLogicalTypeAnnotation) => Some("decimal")
        case (INT32, _: DateLogicalTypeAnnotation) => Some("date")
        case (INT32, _) | (INT64, null) => Some("long")
        case (INT64, _: TimestampLogicalTypeAnnotation) => Some("ts")
        case (INT64, a: IntLogicalTypeAnnotation) if a.getBitWidth == 64 =>
          Some("long")
        case (FLOAT, _) | (DOUBLE, _) => Some("double")
        case (BOOLEAN, _) => Some("bool")
        case (BINARY, _: StringLogicalTypeAnnotation) => Some("string")
        case _ => None // INT96 and friends: scan fallback
      }
    }
    def toMicros(ann: LogicalTypeAnnotation, v: Long): Long = ann match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit match {
        case LogicalTypeAnnotation.TimeUnit.MILLIS => Math.multiplyExact(v, 1000L)
        case LogicalTypeAnnotation.TimeUnit.MICROS => v
        case LogicalTypeAnnotation.TimeUnit.NANOS => Math.floorDiv(v, 1000L)
      }
      case _ => sys.error("not a timestamp annotation")
    }
    def decOf(t: org.apache.parquet.schema.PrimitiveType, v: Any):
        java.math.BigDecimal = {
      val scale = t.getLogicalTypeAnnotation
        .asInstanceOf[DecimalLogicalTypeAnnotation].getScale
      v match {
        case n: java.lang.Integer =>
          java.math.BigDecimal.valueOf(n.longValue, scale)
        case n: java.lang.Long => java.math.BigDecimal.valueOf(n, scale)
        case b: org.apache.parquet.io.api.Binary =>
          new java.math.BigDecimal(
            new java.math.BigInteger(b.getBytes), scale)
        case other => sys.error(s"unexpected decimal stat $other")
      }
    }
    // serialize one footer stat value into the canonical string form
    def render(tag: String, t: org.apache.parquet.schema.PrimitiveType,
        v: Any): Option[String] = tag match {
      case "long" => Some(v.asInstanceOf[Number].longValue.toString)
      case "double" =>
        val d = v.asInstanceOf[Number].doubleValue
        if (d.isNaN) None else Some((if (d == 0.0) 0.0 else d).toString)
      case "decimal" => Some(decOf(t, v).toPlainString)
      case "string" => Some(new String(
        v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes, UTF_8))
      case "date" => Some(v.asInstanceOf[Number].longValue.toString)
      case "ts" => Some(
        toMicros(t.getLogicalTypeAnnotation,
          v.asInstanceOf[Number].longValue).toString)
      case "bool" => Some(if (v.asInstanceOf[Boolean]) "1" else "0")
      case _ => None
    }
    // evolved columns: a file predating a column reads as all-null for
    // it — the tag then comes from the recorded table schema
    def schemaTag(c: String): Option[(String, String)] = schema.flatMap(st =>
      st.fields.find(_.name.equalsIgnoreCase(c)).flatMap(f =>
        typeTagOf(f.dataType).map(t => f.name -> t)))

    // deliberate control flow: any unusable footer stat aborts THIS
    // file's footer path (the caller scans it instead)
    object Bail extends Exception { override def fillInStackTrace() = this }
    def oneFile(rel: String): Option[FileStats] = {
      val p = new org.apache.hadoop.fs.Path(VersionedTable.resolveRef(dir, rel))
      try {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try {
          val md = reader.getFooter
          val msgType = md.getFileMetaData.getSchema
          val blocks = md.getBlocks.asScala.toSeq
          val rowCount = blocks.map(_.getRowCount).sum
          val cols = statsCols.map { c =>
            msgType.getFields.asScala
              .find(_.getName.equalsIgnoreCase(c)) match {
              case None =>
                // column absent from this file: all rows read null for it
                schemaTag(c) match {
                  case Some((name, tag)) =>
                    name -> ColStats(tag, rowCount, None, None)
                  case None => throw Bail // no recorded type: let scan decide
                }
              case Some(f) if !f.isPrimitive => throw Bail
              case Some(f) =>
                val pt = f.asPrimitiveType
                val tag = tagOf(pt).getOrElse(throw Bail)
                var nulls = 0L
                var mn: Option[String] = None
                var mx: Option[String] = None
                def lt(a: String, b: String): Boolean = tag match {
                  case "string" => UTF8String.fromString(a)
                    .compareTo(UTF8String.fromString(b)) < 0
                  case "decimal" => new java.math.BigDecimal(a)
                    .compareTo(new java.math.BigDecimal(b)) < 0
                  case "double" => a.toDouble < b.toDouble
                  case _ => a.toLong < b.toLong
                }
                blocks.foreach { blk =>
                  if (blk.getRowCount > 0L) {
                    val cc = blk.getColumns.asScala.find(
                      _.getPath.toDotString == f.getName)
                      .getOrElse(throw Bail)
                    val st = cc.getStatistics
                    if (st == null || st.isEmpty || !st.isNumNullsSet)
                      throw Bail
                    nulls += st.getNumNulls
                    if (st.hasNonNullValue) {
                      (render(tag, pt, st.genericGetMin),
                        render(tag, pt, st.genericGetMax)) match {
                        case (Some(bmn), Some(bmx)) =>
                          if (mn.forall(lt(bmn, _))) mn = Some(bmn)
                          if (mx.forall(lt(_, bmx))) mx = Some(bmx)
                        case _ =>
                          // NaN bound: the scan path's min/max semantics
                          // (NaN sorts last) are not reconstructable from
                          // the footer alone — scan this file
                          throw Bail
                      }
                    }
                  }
                }
                f.getName -> ColStats(tag, nulls, mn, mx)
            }
          }.toMap
          Some(FileStats(rowCount, cols))
        } finally reader.close()
      } catch { case _: Throwable => None }
    }

    // bounded per commit (one footer read per staged file); parallel
    // for analyze()-style backfills over many files
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(files.size, 16)))
    try {
      val futs = files.map(f => f ->
        pool.submit(new java.util.concurrent.Callable[Option[FileStats]] {
          def call(): Option[FileStats] = oneFile(f)
        }))
      futs.flatMap { case (f, fut) => fut.get().map(f -> _) }.toMap
    } finally pool.shutdown()
  }

  /** The original scan-based collection: one aggregation job over the
    * named files, one result row per file — the fallback when a footer
    * cannot serve a bound, and the reference semantics the footer path
    * must match exactly.
    */
  private[graft] def scanStats(spark: SparkSession, dir: String, files: Seq[String],
      statsCols: Seq[String],
      schema: Option[StructType] = None): Map[String, FileStats] = {
    if (files.isEmpty || statsCols.isEmpty) return Map.empty
    // the recorded table schema (when given) keeps evolved columns
    // visible over files that predate them — those files' rows read as
    // null, which IS the truth the stats should record
    // refs resolve through VersionedTable.resolveRef: a shallow clone's
    // manifest carries ABSOLUTE refs borrowed from its source, and
    // "$dir/$f" would mangle those into <dir>//abs/... — analyze() on a
    // clone reads borrowed bytes where they actually live
    val paths = files.map(f => VersionedTable.resolveRef(dir, f))
    val df = schema match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
    val tags = statsCols.map { c =>
      val field = df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        sys.error(s"stats column $c not in table schema " +
          df.schema.fieldNames.mkString("[", ",", "]")))
      field.name -> typeTagOf(field.dataType).getOrElse(
        sys.error(s"stats column $c has unsupported type ${field.dataType}"))
    }
    val aggs = count(lit(1)).as("__rc") +: tags.zipWithIndex.flatMap {
      case ((c, _), i) => Seq(min(col(c)).as(s"__mn$i"),
        max(col(c)).as(s"__mx$i"), count(col(c)).as(s"__ct$i"))
    }
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    // aggregation rows map back to files by part-file BASENAME — Spark's
    // per-job UUID suffix makes these globally unique, but if a caller
    // ever passed two same-named files (analyze() spans commits), the
    // toMap below would silently collapse them and the empty-file
    // fallback would record a non-empty file as provably empty — an
    // UNSOUND prune. Fail fast instead of guessing.
    val basenames = files.map(f => f.substring(f.lastIndexOf('/') + 1))
    require(basenames.distinct.size == files.size,
      "duplicate part-file basenames in one stats collection: " +
        basenames.diff(basenames.distinct).distinct.take(3).mkString(", ") +
        " — per-file stats cannot be attributed soundly")
    val byBase = basenames.zip(files).toMap
    // a zero-row file produces no aggregation group; record it as
    // explicitly empty — every predicate then prunes it, and COUNT
    // bounds stay computable
    val emptyFs = FileStats(0L,
      tags.map { case (c, tag) => c -> ColStats(tag, 0L, None, None) }.toMap)
    val collected = rows.flatMap { r =>
      val base = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
      byBase.get(base).map { rel =>
        val rc = r.getLong(1)
        val cols = tags.zipWithIndex.map { case ((c, tag), i) =>
          val nulls = rc - r.getLong(2 + i * 3 + 2)
          c -> ColStats(tag, nulls,
            serialize(tag, r.get(2 + i * 3)), serialize(tag, r.get(2 + i * 3 + 1)))
        }.toMap
        rel -> FileStats(rc, cols)
      }
    }.toMap
    collected ++ files.filterNot(collected.contains).map(_ -> emptyFs)
  }

  // --------------------------------------------------- manifest round-trip

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), UTF_8)

  /** `rows=`/`stats=` manifest lines for one file's stats. Values are
    * base64-coded so string minima/maxima with `|` or newlines cannot
    * corrupt the line format.
    */
  private[sources] def renderLines(file: String, fs: FileStats): Seq[String] =
    s"rows=$file|${fs.rowCount}" +: fs.cols.toSeq.sortBy(_._1).map {
      case (c, s) =>
        s"stats=$file|${b64(c)}|${s.typeTag}|${s.nullCount}|" +
          s"${s.min.map(b64).getOrElse("")}|${s.max.map(b64).getOrElse("")}"
    }

  /** Rebuild the per-file stats map from manifest lines (inverse of
    * [[renderLines]]); unparseable or alien lines are ignored so old
    * manifests and future extensions both degrade to "no pruning".
    */
  private[sources] def parseLines(lines: Seq[String]): Map[String, FileStats] = {
    val rows = lines.collect { case l if l.startsWith("rows=") =>
      l.drop(5).split('|') match {
        case Array(f, n) => n.toLongOption.map(f -> _)
        case _ => None // malformed: that file degrades to "no pruning"
      }
    }.flatten.toMap
    val stats = lines.collect { case l if l.startsWith("stats=") =>
      scala.util.Try { // any corruption (base64, count) → line ignored
        l.drop(6).split("\\|", -1) match {
          case Array(f, c, tag, nulls, mn, mx) =>
            nulls.toLongOption.map(n => (f, unb64(c), ColStats(tag, n,
              if (mn.isEmpty) None else Some(unb64(mn)),
              if (mx.isEmpty) None else Some(unb64(mx)))))
          case _ => None
        }
      }.toOption.flatten
    }.flatten
    val byFile = stats.groupBy(_._1) // one pass, not O(files × stats)
    rows.map { case (f, rc) =>
      f -> FileStats(rc,
        byFile.getOrElse(f, Nil).map { case (_, c, s) => c -> s }.toMap)
    }
  }

  // ----------------------------------------------------------- comparison

  /** A comparable value in one of three domains. Domains never mix: the
    * stats column's tag picks the domain and literal conversion either
    * lands in the same domain or bails.
    */
  private sealed trait CV {
    def cmp(o: CV): Int = (this, o) match {
      case (NumV(a), NumV(b)) => a.compareTo(b)
      case (DblV(a), DblV(b)) => java.lang.Double.compare(a, b)
      case (StrV(a), StrV(b)) => a.compareTo(b)
      case _ => sys.error("mixed comparison domains")
    }
  }
  private final case class NumV(v: java.math.BigDecimal) extends CV
  private final case class DblV(v: Double) extends CV
  private final case class StrV(v: UTF8String) extends CV

  /** Parse a stored bound into its domain value. */
  private def boundTo(tag: String, s: String): CV = tag match {
    case "long" | "date" | "ts" | "bool" =>
      NumV(java.math.BigDecimal.valueOf(s.toLong))
    case "decimal" => NumV(new java.math.BigDecimal(s))
    case "double" =>
      val d = s.toDouble; DblV(if (d == 0.0) 0.0 else d)
    case "string" => StrV(UTF8String.fromString(s))
  }

  /** Convert an already-evaluated literal to the domain tag `tag`, or
    * None when the pairing needs a coercion whose semantics we refuse
    * to model (lossy directions, string-to-date parsing, NaN).
    * Analysis has coerced both comparison sides to a common type (the
    * attr-side cast is modeled separately by [[castDomain]]), so in
    * practice the literal's type already matches the domain.
    */
  private def litTo(tag: String, dt: DataType, value: Any): Option[CV] = {
    if (value == null) return None
    (tag, dt) match {
      case ("long" | "decimal", ByteType | ShortType | IntegerType | LongType) =>
        Some(NumV(java.math.BigDecimal.valueOf(
          value.asInstanceOf[Number].longValue)))
      case ("long" | "decimal", _: DecimalType) =>
        Some(NumV(value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal))
      case ("double", ByteType | ShortType | IntegerType | LongType) =>
        Some(DblV(value.asInstanceOf[Number].longValue.toDouble))
      case ("double", FloatType | DoubleType) =>
        val d = value.asInstanceOf[Number].doubleValue
        if (d.isNaN) None else Some(DblV(if (d == 0.0) 0.0 else d))
      case ("double", _: DecimalType) =>
        Some(DblV(value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toDouble))
      case ("string", StringType) => Some(StrV(
        UTF8String.fromString(value.toString)))
      case ("date", DateType) =>
        Some(NumV(java.math.BigDecimal.valueOf(
          value.asInstanceOf[Number].longValue)))
      case ("ts", TimestampType | TimestampNTZType) =>
        Some(NumV(java.math.BigDecimal.valueOf(
          value.asInstanceOf[Number].longValue)))
      case ("bool", BooleanType) =>
        Some(NumV(java.math.BigDecimal.valueOf(
          if (value.asInstanceOf[Boolean]) 1L else 0L)))
      case _ => None
    }
  }

  // ------------------------------------------------------------ evaluator

  /** The attr side of a comparison: bare column, or a column under ONE
    * cast. Returns (name, cast target or None).
    */
  private def attrAndCast(e: Expression): Option[(String, Option[DataType])] =
    e match {
      case a: AttributeReference => Some((a.name, None))
      case u: UnresolvedAttribute => Some((u.nameParts.last, None))
      case c: Cast => c.child match {
        case a: AttributeReference => Some((a.name, Some(c.dataType)))
        case u: UnresolvedAttribute => Some((u.nameParts.last, Some(c.dataType)))
        case _ => None
      }
      case _ => None
    }

  /** Comparison domain after an (optional) attr-side cast: the literal
    * conversion tag plus the bound-mapping function. Only MONOTONE,
    * never-failing casts are modeled — for a monotone cast f, the
    * bounds of {f(x)} are exactly [f(min), f(max)], so mapping the
    * stored bounds through f stays sound even when f is lossy (e.g.
    * BIGINT→DOUBLE). Everything else bails (None → keep the file).
    */
  private def castDomain(tag: String, cast: Option[DataType]):
      Option[(String, CV => CV)] = cast match {
    case None => Some((tag, identity))
    case Some(DoubleType) if tag == "long" || tag == "decimal" =>
      Some(("double", { case NumV(bd) =>
        val d = bd.doubleValue; DblV(if (d == 0.0) 0.0 else d)
        case v => v }))
    case Some(LongType) if tag == "long" =>
      Some(("long", identity)) // widening integral: numerically exact
    case Some(dt: DecimalType) if tag == "long" && dt.precision - dt.scale >= 20 =>
      Some(("decimal", identity)) // cannot overflow any long: exact
    case _ => None
  }

  /** Fold a constant expression (analysis wraps literals in casts, e.g.
    * `dateCol < '2020-01-15'` becomes `Cast(str → date)`) down to its
    * value and type. None for non-constant or failing expressions.
    */
  private def constOf(e: Expression): Option[(Any, DataType)] =
    if (!e.foldable) None
    else try Some((e.eval(null), e.dataType)) catch { case _: Exception => None }

  /** (column stats, bound mapper, literal-in-domain) for a comparison's
    * two sides, in (attr, lit) orientation; None when the shape/typing
    * is unprunable.
    */
  private def sides(fs: FileStats, a: Expression, b: Expression):
      Option[(ColStats, CV => CV, CV)] =
    for {
      (n, cast) <- attrAndCast(a)
      cs <- fs.cols.get(n).orElse(
        fs.cols.find(_._1.equalsIgnoreCase(n)).map(_._2))
      (litTag, mapBound) <- castDomain(cs.typeTag, cast)
      (value, dt) <- constOf(b)
      v <- litTo(litTag, dt, value)
    } yield (cs, mapBound, v)

  /** Evaluate one comparison against a file's bounds.
    * `lo`/`hi` None = unbounded. A file with no non-null values can
    * never satisfy a comparison (null compare is null, not true).
    */
  private def cmpEval(fs: FileStats, cs: ColStats, mapBound: CV => CV,
      v: CV, op: String): (Boolean, Boolean) = {
    if (cs.nullCount == fs.rowCount) return (false, false)
    // an unparseable stored bound (corruption) degrades to unbounded
    def parse(s: String) =
      scala.util.Try(mapBound(boundTo(cs.typeTag, s))).toOption
    val lo = cs.min.flatMap(parse)
    val hi = cs.max.flatMap(parse)
    val noNulls = cs.nullCount == 0L
    op match {
      case "=" => (
        lo.forall(_.cmp(v) <= 0) && hi.forall(v.cmp(_) <= 0),
        noNulls && lo.exists(_.cmp(v) == 0) && hi.exists(_.cmp(v) == 0))
      case "<" => (lo.forall(_.cmp(v) < 0), noNulls && hi.exists(_.cmp(v) < 0))
      case "<=" => (lo.forall(_.cmp(v) <= 0), noNulls && hi.exists(_.cmp(v) <= 0))
      case ">" => (hi.forall(_.cmp(v) > 0), noNulls && lo.exists(_.cmp(v) > 0))
      case ">=" => (hi.forall(_.cmp(v) >= 0), noNulls && lo.exists(_.cmp(v) >= 0))
    }
  }

  private def flip(op: String): String = op match {
    case "<" => ">" case "<=" => ">=" case ">" => "<" case ">=" => "<="
    case o => o
  }

  /** UTF-8 byte successor of a prefix: smallest byte string greater
    * than every string starting with `p`. None when p is all-0xFF (no
    * successor — every s >= p starts with p).
    */
  private def prefixSuccessor(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  private def bytesCmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Tri-state evaluation of `e` against one file: (some row MAY
    * satisfy e, ALL rows DEFINITELY satisfy e). "Satisfy" is SQL
    * three-valued truth — a null outcome is not a match. Unknown shapes
    * return (true, false): never prune on what we cannot prove.
    */
  private[sources] def eval(e: Expression, fs: FileStats): (Boolean, Boolean) =
    e match {
      case Literal(v, BooleanType) =>
        val t = v == true; (t, t)
      case Literal(null, _) => (false, false)
      case And(l, r) =>
        val (ml, al) = eval(l, fs); val (mr, ar) = eval(r, fs)
        (ml && mr, al && ar)
      case Or(l, r) =>
        val (ml, al) = eval(l, fs); val (mr, ar) = eval(r, fs)
        (ml || mr, al || ar)
      case Not(x) =>
        // a row matches NOT x only when x is FALSE there; if every row
        // satisfies x none can, otherwise assume some may. allMatch
        // would need null-freedom tracking through x — stay false.
        val (_, ax) = eval(x, fs)
        (!ax, false)
      case EqualTo(a, b) => cmpBoth(fs, a, b, "=")
      case LessThan(a, b) => cmpBoth(fs, a, b, "<")
      case LessThanOrEqual(a, b) => cmpBoth(fs, a, b, "<=")
      case GreaterThan(a, b) => cmpBoth(fs, a, b, ">")
      case GreaterThanOrEqual(a, b) => cmpBoth(fs, a, b, ">=")
      case EqualNullSafe(a, b) =>
        (constOf(a), constOf(b)) match {
          case (Some((null, _)), _) => evalIsNull(fs, b)
          case (_, Some((null, _))) => evalIsNull(fs, a)
          case _ => cmpBoth(fs, a, b, "=")
        }
      case In(a, list) =>
        val consts = list.map(constOf)
        if (consts.exists(_.isEmpty)) (true, false) // non-constant element
        else {
          val evals = consts.flatten.filter(_._1 != null).map {
            case (value, dt) =>
              (for {
                (n, cast) <- attrAndCast(a)
                cs <- colStats(fs, n)
                (litTag, mapBound) <- castDomain(cs.typeTag, cast)
                v <- litTo(litTag, dt, value)
              } yield cmpEval(fs, cs, mapBound, v, "=")).getOrElse((true, false))
          }
          if (evals.isEmpty) (false, false) // IN () / IN (null): never true
          else (evals.exists(_._1), evals.exists(_._2))
        }
      case IsNull(a) => evalIsNull(fs, a)
      case IsNotNull(a) => bareCol(fs, a) match {
        case Some(cs) => (cs.nullCount < fs.rowCount, cs.nullCount == 0L)
        case None => (true, false)
      }
      case StartsWith(a, p) => constOf(p) match {
        case Some((v, StringType)) if v != null =>
          startsWithEval(fs, a, v.toString)
        case Some((null, _)) => (false, false)
        case _ => (true, false)
      }
      case _ => (true, false)
    }

  private def colStats(fs: FileStats, name: String): Option[ColStats] =
    fs.cols.get(name).orElse(
      fs.cols.find(_._1.equalsIgnoreCase(name)).map(_._2))

  /** Stats for a BARE column reference only. Null-ness analysis must
    * not look through casts: a cast can turn non-null into null (bad
    * string→date) so a cast-wrapped column's null count is unknowable
    * from the child's stats.
    */
  private def bareCol(fs: FileStats, e: Expression): Option[ColStats] =
    e match {
      case a: AttributeReference => colStats(fs, a.name)
      case u: UnresolvedAttribute => colStats(fs, u.nameParts.last)
      case _ => None
    }

  private def cmpBoth(fs: FileStats, a: Expression, b: Expression,
      op: String): (Boolean, Boolean) = {
    // a comparison against a null constant is never true — no stats needed
    if (constOf(a).exists(_._1 == null) || constOf(b).exists(_._1 == null))
      return (false, false)
    sides(fs, a, b).map { case (cs, m, v) => cmpEval(fs, cs, m, v, op) }
      .orElse(sides(fs, b, a).map { case (cs, m, v) =>
        cmpEval(fs, cs, m, v, flip(op)) })
      .getOrElse((true, false))
  }

  private def evalIsNull(fs: FileStats, a: Expression): (Boolean, Boolean) =
    bareCol(fs, a) match {
      case Some(cs) => (cs.nullCount > 0L, cs.nullCount == fs.rowCount)
      case None => (true, false)
    }

  private def startsWithEval(fs: FileStats, a: Expression,
      prefix: String): (Boolean, Boolean) = {
    bareCol(fs, a) match {
      case Some(cs) if cs.typeTag == "string" =>
        if (cs.nullCount == fs.rowCount) return (false, false)
        if (prefix.isEmpty) return (true, cs.nullCount == 0L)
        val p = prefix.getBytes(UTF_8)
        val lo = cs.min.map(_.getBytes(UTF_8))
        val hi = cs.max.map(_.getBytes(UTF_8))
        val succ = prefixSuccessor(p)
        // s startsWith p  ⟺  p <= s < succ(p) in byte order
        val may = hi.forall(h => bytesCmp(h, p) >= 0) &&
          succ.forall(su => lo.forall(l => bytesCmp(l, su) < 0))
        val all = cs.nullCount == 0L &&
          lo.exists(l => bytesCmp(l, p) >= 0) &&
          (succ match {
            case Some(su) => hi.exists(h => bytesCmp(h, su) < 0)
            case None => hi.isDefined // all-0xFF prefix: s >= p suffices
          }) && hi.exists(h => bytesCmp(h, p) >= 0)
        (may, all)
      case _ => (true, false)
    }
  }

  // --------------------------------------------------------------- prune

  /** Resolve `predicate` against the table's schema and return the
    * ANALYZED filter condition — real Catalyst nodes with resolved
    * attributes, coercion casts, and typed literals, i.e. exactly the
    * comparison Spark will execute (Spark 4's Column DSL itself yields
    * opaque ColumnNode trees, so analysis is also the only reliable way
    * to see the predicate's structure). None when no Filter survives.
    */
  private def resolve(schemaDf: DataFrame, predicate: Column):
      Option[Expression] =
    schemaDf.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }

  /** Partition a snapshot's files into (kept, pruned) under `predicate`.
    * Files without stats are always kept. Driver-side walk — resolving
    * the predicate opens one parquet footer for the schema; no job runs.
    */
  def prune(spark: SparkSession, dir: String,
      snap: VersionedTable.Snapshot, predicate: Column):
      (Seq[String], Seq[String]) = {
    if (snap.files.isEmpty ||
      (snap.stats.isEmpty && snap.blooms.isEmpty)) return (snap.files, Nil)
    val schemaDf = schemaProbe(spark, dir, snap)
    resolve(schemaDf, predicate) match {
      case None => (snap.files, Nil)
      case Some(e) =>
        // bloom sidecars load lazily, at most once per prune call, and
        // ONLY for files the min/max verdict kept — the point-lookup
        // extension composes as a plain AND of two sound mayMatch
        // over-approximations
        val loader = new BloomStats.Loader(spark, dir)
        snap.files.partition { f =>
          val statsMay = snap.stats.get(f) match {
            case Some(fs) => eval(e, fs)._1
            case None => true
          }
          statsMay && (snap.blooms.get(f) match {
            case Some(refs) if refs.nonEmpty =>
              BloomStats.mayMatch(e, refs, loader(_))
            case _ => true
          })
        }
    }
  }

  /** Read a snapshot with file pruning, then apply the same predicate
    * as a row filter — answers are identical to an unpruned
    * read+filter by construction; only scanned bytes change.
    */
  def readPruned(spark: SparkSession, dir: String,
      snap: VersionedTable.Snapshot, predicate: Column): DataFrame = {
    val (kept, _) = prune(spark, dir, snap, predicate)
    if (kept.isEmpty)
      // preserve the table schema; scan nothing
      schemaProbe(spark, dir, snap).where(lit(false))
    else
      // DV-aware: soft-deleted rows are filtered positionally before
      // the row predicate applies (file-level min/max stay sound over
      // the live subset — stats over-approximate, pruning only keeps)
      VersionedTable.readFilesWithDv(spark, dir, snap, kept)
        .where(predicate)
  }

  /** Metadata-only COUNT bounds for `predicate` over the latest
    * snapshot: (lower, upper) on the number of matching rows, computed
    * from the tri-state evaluation alone — a file where ALL rows
    * provably match contributes its full row count to the lower bound,
    * a file where some row MAY match contributes to the upper. When
    * the bounds meet, `count(*) WHERE p` has been answered without
    * scanning a byte (the metadata-only count fast path; Delta does
    * the same for partition-aligned predicates). Files without stats
    * contribute (0, unknown→None).
    *
    * Returns None when any file lacks row counts (no stats ever
    * collected) — there is no finite upper bound to report.
    */
  def countBounds(spark: SparkSession, dir: String,
      snap: VersionedTable.Snapshot, predicate: Column):
      Option[(Long, Long)] = {
    if (snap.files.isEmpty) return Some((0L, 0L))
    if (!snap.files.forall(snap.stats.contains)) return None
    val schemaDf = schemaProbe(spark, dir, snap)
    resolve(schemaDf, predicate) match {
      case None => None
      case Some(e) =>
        val perFile = snap.files.map { f =>
          val fs = snap.stats(f)
          val (may, all) = eval(e, fs)
          // live rows = physical rows minus the file's deletion-vector
          // cardinality (manifest-recorded, exact). allMatch stays a
          // sound LOWER bound under DVs: live ⊆ physical, so "every
          // physical row matches" implies every live row does; the
          // deleted rows' matches are simply not counted either way.
          val live = fs.rowCount - snap.dvn.getOrElse(f, 0L)
          (if (all) live else 0L, if (may) live else 0L)
        }
        Some((perFile.map(_._1).sum, perFile.map(_._2).sum))
    }
  }

  /** A schema-bearing frame for resolving predicates in the table's
    * LOGICAL vocabulary. With a recorded schema this is an in-memory
    * empty frame — no file opens, and under column mapping the
    * predicate resolves against logical names (files spell physical
    * ones, which the readers translate). Only legacy schema-less
    * tables still probe a file footer.
    */
  private def schemaProbe(spark: SparkSession, dir: String,
      snap: VersionedTable.Snapshot): DataFrame = snap.schema match {
    case Some(st) =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    case None => spark.read.parquet(
      VersionedTable.resolveRef(dir, snap.files.head))
  }
}
