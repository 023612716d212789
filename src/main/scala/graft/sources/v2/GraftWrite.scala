package graft.sources.v2

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.write.{SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation

import graft.sources.VersionedTable

/** DSv2 WRITE builder for the versioned-table format — the half that
  * lets `INSERT INTO` / `INSERT OVERWRITE` / CTAS / `df.write.format
  * ("graft")` text reach [[VersionedTable]]'s commit protocol:
  *
  * {{{
  *   spark.sql("INSERT INTO gvt.orders SELECT ...")          // append
  *   spark.sql("INSERT OVERWRITE gvt.orders SELECT ...")     // replace
  *   spark.sql("CREATE TABLE gvt.t AS SELECT ...")           // CTAS
  *   df.write.format("graft").mode("append").save(dir)
  * }}}
  *
  * The write is a [[V1Write]] on purpose: the table format's entire
  * commit discipline — CHECK-constraint enforcement inside the staging
  * job, generated-column compute/validate, per-file min/max stats,
  * column-mapping physical spelling, and the optimistic-concurrency
  * REBASE loop (stage once, re-commit against the new latest when a
  * concurrent writer claims the version) — already lives in
  * `VersionedTable`'s one write step, which `appendWithRetry` and
  * `overwrite` wrap and which takes a DataFrame. A native `BatchWrite`
  * would have to re-implement all of it per-task or silently skip it;
  * handing the plan back as a DataFrame keeps SQL-text writes
  * byte-identical in behavior to Scala-API writes (Delta shipped its
  * DSv2 writes through the same fallback for years for the same
  * reason). The data path stays fully
  * distributed — the DataFrame is the query's plan, not collected
  * rows; only the commit (a manifest rename) is driver-side.
  *
  * Stats columns carry forward automatically: a SQL INSERT cannot name
  * them, and a write that names none collects min/max for every column
  * the table already tracks that the batch carries — skipping keeps
  * working across SQL-text appends without re-ANALYZE.
  */
private[v2] class GraftWriteBuilder(dir: String)
    extends WriteBuilder with SupportsTruncate {
  private var overwriteAll = false

  /** `INSERT OVERWRITE` (static, full-table) — Spark signals it by
    * calling truncate() on the builder; the V1 fallback exec then
    * invokes insert() with its overwrite flag hardwired false, so the
    * mode must live here, not in that flag.
    */
  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          if (overwriteAll || overwrite) VersionedTable.overwrite(data, dir)
          else VersionedTable.appendWithRetry(data, dir)
          ()
        }
      }
  }
}
