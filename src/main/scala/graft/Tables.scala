package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types._

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * All scans go through here so scale-oriented read settings live in one
  * place. At 100 TB the same call pattern holds: a parquet (or Iceberg)
  * table scan whose partition pruning / predicate pushdown is driven by
  * the downstream plan, never by eager materialization here.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Encoding-adaptive column normalization: the physical parquet types
    * of driver testdata drops are not under our control (a pyarrow
    * re-encode has shipped int32 ids, binary-not-utf8 strings, and
    * float64 embedding lists at different times — the events.ts swap
    * zeroed a whole query family in round 7). Columns named in `canon`
    * are cast to their canonical Spark type when the physical type
    * drifted; everything else passes through. Cast-only (no renames, no
    * reorder), so column pruning and parquet predicate pushdown are
    * unaffected for untouched columns.
    */
  // nullability differences are not drift (a pyarrow writer may mark
  // list elements non-nullable) — only shape/width changes trigger a cast
  private def sameShape(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: ArrayType, y: ArrayType) => sameShape(x.elementType, y.elementType)
    case _ => a == b
  }

  private def isTimestamp(t: DataType): Boolean =
    t == TimestampType || t == TimestampNTZType

  private def normalize(df: DataFrame, canon: Map[String, DataType]): DataFrame = {
    val needs = df.schema.fields.exists(f =>
      canon.get(f.name).exists(t => !sameShape(f.dataType, t)))
    if (!needs) df
    else df.select(df.schema.fields.map { f =>
      canon.get(f.name) match {
        case Some(t) if !sameShape(f.dataType, t) =>
          // a timestamp column may only drift between timestamp
          // flavors (zoned <-> NTZ casts are instant-identity under
          // UTC); a numeric arrival would cast as SECONDS and corrupt
          // every date silently — the events-table nanos lesson
          if (isTimestamp(t) && !isTimestamp(f.dataType))
            throw new IllegalStateException(
              s"unsupported ${f.name} encoding: ${f.dataType.simpleString}" +
                " (expected a timestamp flavor; numeric epoch encodings" +
                " need an explicit decode like Tables.events)")
          col(f.name).cast(t).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  private val documentsCanon: Map[String, DataType] = Map(
    "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
    "source" -> StringType, "n_chars" -> LongType)

  private val embeddingsCanon: Map[String, DataType] = Map(
    "vec_id" -> LongType,
    "embedding" -> ArrayType(FloatType),
    "label" -> IntegerType)

  // TPC-H-ish canon (round-13): a testdata regeneration that narrows
  // int64 keys to int32 or doubles to float32 (the pyarrow drift class
  // that bit events in r7 and documents/embeddings in r12) would
  // otherwise silently change join/agg result types across the core
  // family. Timestamps canonize to TimestampNTZType — what the driver's
  // pyarrow writer has ALWAYS shipped for these tables (timestamp[us],
  // isAdjustedToUTC=false) and what 12 rounds of oracles validated; a
  // zoned drift casts (identity on the instant under the UTC sessions
  // every entrypoint pins), and canonical inputs pay NO projection, so
  // parquet pushdown on the date columns is untouched. A numeric epoch
  // encoding fails loudly instead of silently mis-casting (see
  // [[normalize]]); events is the one table with nanos-as-long
  // provenance and keeps its dedicated decode in [[events]].
  private val lineitemCanon: Map[String, DataType] = Map(
    "l_orderkey" -> LongType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
    "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
    "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> TimestampNTZType)

  private val ordersCanon: Map[String, DataType] = Map(
    "o_orderkey" -> LongType, "o_custkey" -> LongType,
    "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
    "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType)

  private val partCanon: Map[String, DataType] = Map(
    "p_partkey" -> LongType, "p_name" -> StringType,
    "p_brand" -> StringType, "p_type" -> StringType,
    "p_size" -> IntegerType, "p_retailprice" -> DoubleType)

  // the small dims, same contract (note the driver ships nation/region
  // keys as int32 TODAY — canon matches, so these are no-ops until a
  // regeneration widens or re-encodes them)
  private val customerCanon: Map[String, DataType] = Map(
    "c_custkey" -> LongType, "c_name" -> StringType,
    "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
    "c_mktsegment" -> StringType)
  private val supplierCanon: Map[String, DataType] = Map(
    "s_suppkey" -> LongType, "s_name" -> StringType,
    "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
  private val nationCanon: Map[String, DataType] = Map(
    "n_nationkey" -> IntegerType, "n_name" -> StringType,
    "n_regionkey" -> IntegerType)
  private val regionCanon: Map[String, DataType] = Map(
    "r_regionkey" -> IntegerType, "r_name" -> StringType)

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    normalize(load(spark, sfDir, "lineitem"), lineitemCanon)
  def orders(spark: SparkSession, sfDir: String): DataFrame =
    normalize(load(spark, sfDir, "orders"), ordersCanon)
  def part(spark: SparkSession, sfDir: String): DataFrame =
    normalize(load(spark, sfDir, "part"), partCanon)
  def customer(spark: SparkSession, sfDir: String): DataFrame =
    normalize(load(spark, sfDir, "customer"), customerCanon)
  def supplier(spark: SparkSession, sfDir: String): DataFrame =
    normalize(load(spark, sfDir, "supplier"), supplierCanon)
  def nation(spark: SparkSession, sfDir: String): DataFrame =
    normalize(load(spark, sfDir, "nation"), nationCanon)
  def region(spark: SparkSession, sfDir: String): DataFrame =
    normalize(load(spark, sfDir, "region"), regionCanon)

  /** events.parquet's physical `ts` encoding has varied across testdata
    * drops — INT64 TIMESTAMP(NANOS) (readable only as long via
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set in
    * `graft.Session.conf`), TIMESTAMP(MICROS, NTZ), and plain
    * TIMESTAMP(MICROS). A real engine reads what the lake
    * contains, so branch on the arrived type and normalize every path to
    * session-zoned TimestampType at microsecond precision:
    *
    *   - LongType (nanos-as-long): integral `DIV 1000` then
    *     `timestamp_micros` — division as double would lose precision on
    *     epoch nanos (1.7e18 exceeds double's 53-bit mantissa), and the
    *     truncation matches DuckDB's implicit ns→us narrowing. A per-row
    *     magnitude guard (`raise_error` under 10¹⁶) fails fast with a
    *     descriptive message if a future drop encodes ts as plain epoch
    *     MICROS in an INT64 column: micros for any date through 2100 stay
    *     below 4.2e15, nanos for any date after 1970-04-26 exceed 10¹⁶,
    *     so the bound cleanly separates the encodings instead of letting
    *     a silent 1000× scale error surface as an oracle mismatch.
    *   - TimestampNTZType: cast to TimestampType. The session is pinned
    *     to UTC (`graft.Session` + build.sbt), so the naive wall-clock
    *     value maps to the identical microsecond instant DuckDB reads
    *     natively.
    *   - TimestampType: already what we want.
    *
    * A registered query never mutates shared session config (a concurrent
    * user of the same session reading nanos parquet would silently get
    * longs), which is why the legacy flag lives in `graft.Session`.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType        =>
        // assert_true sits INSIDE the ts expression (a detached guard
        // column would be pruned away by Catalyst and never evaluate)
        raw.withColumn("ts", timestamp_micros(expr(
          "IF(assert_true(ts IS NULL OR ts >= 10000000000000000, " +
            "concat('events.ts INT64 value ', ts, " +
            "' is below the epoch-nanos range - likely plain epoch " +
            "micros; events() assumes nanos-as-long provenance')) IS NULL, " +
            "ts DIV 1000, NULL)")))
      case TimestampNTZType =>
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events with TIMESTAMP_NTZ ts require spark.sql.session.timeZone=UTC " +
            "so the naive→zoned cast is identity and the DuckDB oracle hash-matches")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType   => raw
      case other => throw new IllegalStateException(
        s"unsupported events.ts encoding: $other (expected INT64 nanos-as-long, " +
          "TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    normalize(load(spark, sfDir, "documents"), documentsCanon)
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    normalize(load(spark, sfDir, "embeddings"), embeddingsCanon)
}
