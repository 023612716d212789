package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture helpers shared by more than one query family. */
private[graft] object Fixtures {

  def decSum(c: String): Column =
    sum(col(c).cast(DecimalType(18, 2))).cast(DoubleType)

  /** Per-sfDir name tag for JVM-global fixtures (scratch dirs, catalog
    * tables): the first 64 bits of the SHA-256 of the full path, not the
    * 32-bit `hashCode`, which two dirs can share ("/x/Aa", "/x/BB") and
    * so silently share one fixture.
    */
  def fixtureTag(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  private lazy val jvmId: String = java.util.UUID.randomUUID().toString.take(8)

  /** Per-JVM scratch location for the queries that demonstrate table
    * maintenance / DML by writing real files (q36/q59/q81/q84/q88/q89/
    * q90/q91/q99/q100). The per-JVM suffix keeps concurrent processes
    * apart and repeated in-process runs overwriting; the shutdown hook
    * deletes everything this JVM created — at the sf100 ladder point
    * one bench run's scratch is ~15 GB, which silently accumulated
    * across runs (and eventually filled the disk) before this hook.
    */
  private val scratchCreated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val scratchHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      scratchCreated.forEach(dir => rm(new java.io.File(dir)))
    }))

  def scratchPath(tag: String): String = {
    scratchHookInstalled
    val p = System.getProperty("java.io.tmpdir") + s"/graft_${tag}_$jvmId"
    scratchCreated.add(p)
    p
  }

  /** Planted-twin id offset: the smallest multiple of 1,000,000 past the
    * table's max id. A FIXED 1M offset collided with real ids once the
    * corpus passed 1M rows — at sf100 every planted twin id named an
    * existing doc too, and id-keyed anchor joins went ambiguous (the q25
    * sf100 gate caught it). Oracles replay the same derivation as a
    * scalar subquery: `(max(id) // 1000000 + 1) * 1000000`.
    */
  def plantOffset(df: DataFrame, idCol: String): Long = {
    // max() of an empty table is null — fail with the real diagnosis
    // (mis-pointed sfDir) instead of an opaque NullPointerException.
    // cast("long") first: a physically-narrowed id column (the pyarrow
    // int32 drift class Tables.normalize handles) must not turn the
    // derivation into a ClassCastException
    val mx = df.agg(max(col(idCol).cast("long"))).head.getAs[java.lang.Long](0)
    require(mx != null,
      s"plantOffset: table is empty (max($idCol) is null) — check sfDir")
    (mx / 1000000L + 1L) * 1000000L
  }

  /** Per-JVM memoized input fixtures (round 17): each DML gate query
    * needs a freshly-mutable versioned table of the same base content,
    * and building a full table per query per run was ~20% of the sf0.1
    * bench total — pure table-build, not operator.
    * Each fixture is built ONCE per (sfDir, kind) per JVM, into a fresh
    * scratch dir whose path is returned; every gate invocation
    * SHALLOW-CLONES a versioned base (one manifest write, zero data
    * bytes; CloneSpec proves DML-on-clone end to end) and mutates the
    * clone. Answers stay byte-identical: a clone's v1 IS the base
    * content, stats carry, and the base itself is never mutated. q36's
    * catalog-registered bucketed tables take the same memo. This is
    * also the registry rule going forward: new table-building gates
    * must amortize fixtures this way.
    */
  private val vtBaseCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  def vtBase(s: SparkSession, dir: String, kind: String)(
      build: String => Unit): String =
    vtBaseCache.computeIfAbsent((dir, kind), _ => {
      val tmp = scratchPath(
        s"vtbase_${kind}_${fixtureTag(dir)}")
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      build(tmp)
      tmp
    })
}
