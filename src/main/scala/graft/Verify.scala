package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The names in `subset` that match no registered query, in order. */
  def unknownQueries(subset: Seq[String]): Seq[String] =
    subset.filterNot(SparkEntry.queries.contains).distinct

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: run only the named queries (dev loop);
    // the driver passes exactly two args and gets the full registry
    val only = args.drop(2).toSet
    val unknown = unknownQueries(args.drop(2).toSeq)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] no registered query named ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = Session.build(sfDir)
    // DuckDB (dev/check.py) reads this output: INT96 is the encoding it
    // renders as a naive timestamp, where MICROS (isAdjustedToUTC) would
    // re-render every event-timestamp answer as timestamptz and fail the
    // string compare on encoding, not on values
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
