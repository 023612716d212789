package graft.sources.v2

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.{GraftFunctions, GraftInternal}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit

import graft.sources.VersionedTable

/** The one session extension ([[graft.Session]] configures it). It
  * injects the custom SQL functions of [[GraftFunctions]] (`simhash64`,
  * `hamming_distance`, `doc_fingerprint`) and completes the SQL-text DML
  * surface over the versioned-table format — `UPDATE` and `MERGE INTO`
  * (plus a richer `DELETE FROM` than the v1-Filter vocabulary allows):
  *
  * {{{
  *   spark.builder.config("spark.sql.extensions",
  *     "graft.sources.v2.GraftSqlExtension")
  *   spark.sql("UPDATE gvt.t SET price = price * 1.1 WHERE region = 'EU'")
  *   spark.sql("MERGE INTO gvt.t USING updates ON t.id = updates.id " +
  *     "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
  *   spark.sql("DELETE FROM gvt.t WHERE id % 10 = 3")
  * }}}
  *
  * Spark's own route for these statements is the row-level-operation
  * framework, whose group-replacement write would sit OUTSIDE this
  * format's commit discipline (DV-vs-CoW per-file pricing, conflict
  * rebase, the tag ledger). Instead — the same architectural choice
  * Delta makes — a post-hoc resolution rule swaps the analyzed
  * `UpdateTable`/`MergeIntoTable`/`DeleteFromTable` plan for an eager
  * command that calls the format's own merge-on-read DML
  * ([[VersionedTable.updateWithDv]]/[[VersionedTable.mergeWithDv]]/
  * [[VersionedTable.deleteWithDv]]), so SQL text and Scala API are the
  * SAME code path: one skipping-pruned pricing job, per-file DV-vs-CoW
  * choice, optimistic rebase on disjoint conflicts.
  *
  * Scope (rejected shapes fail loudly, never silently misexecute):
  * UPDATE takes any deterministic subquery-free SET/WHERE over the
  * table's columns; MERGE takes the canonical upsert — equi-join ON
  * clause, `WHEN MATCHED THEN UPDATE SET *`, `WHEN NOT MATCHED THEN
  * INSERT *` (exactly [[VersionedTable.mergeWithDv]]'s contract);
  * DELETE takes any deterministic subquery-free predicate. Analyzed
  * attribute references are rebound BY NAME against the command's own
  * fresh scan — sound because every expression references only this
  * table's (or for MERGE, the source plan's) columns.
  */
class GraftSqlExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(_ => GraftDmlRule)
    GraftFunctions.functions.foreach(ext.injectFunction)
  }
}

private[v2] object GraftDmlRule extends Rule[LogicalPlan] {

  /** The graft table under a (possibly aliased) DSv2 relation. */
  private def graftTableOf(plan: LogicalPlan): Option[GraftTable] =
    plan match {
      case SubqueryAlias(_, child) => graftTableOf(child)
      case r: DataSourceV2Relation => r.table match {
        case gt: GraftTable => Some(gt)
        case _ => None
      }
      case _ => None
    }

  /** Rebind an analyzed expression's attribute references by NAME so
    * the command can re-resolve them against its own scan of the
    * table. Subqueries are out of scope — fail at analysis, loudly.
    */
  private def unresolve(e: Expression): Expression = {
    require(!SubqueryExpression.hasSubquery(e),
      s"graft DML does not support subqueries in conditions yet: ${e.sql}")
    e.transform { case a: AttributeReference =>
      UnresolvedAttribute.quoted(a.name)
    }
  }

  private def checkWritable(gt: GraftTable, stmt: String): Unit =
    require(!gt.pinned,
      s"cannot $stmt a time-travel pinned version of ${gt.name()}")

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(rel, assignments, condition)
        if u.resolved && graftTableOf(rel).isDefined =>
      val gt = graftTableOf(rel).get
      checkWritable(gt, "UPDATE")
      val set = assignments.map {
        case Assignment(key: AttributeReference, value) =>
          key.name -> GraftInternal.column(unresolve(value))
        case other => sys.error(
          s"graft UPDATE supports plain column assignments; got ${other.sql}")
      }.toMap
      GraftUpdateCommand(gt.dir,
        condition.map(c => GraftInternal.column(unresolve(c))), set)

    case d @ DeleteFromTable(rel, condition)
        if d.resolved && graftTableOf(rel).isDefined =>
      val gt = graftTableOf(rel).get
      checkWritable(gt, "DELETE FROM")
      GraftDeleteCommand(gt.dir, GraftInternal.column(unresolve(condition)))

    case m @ MergeIntoTable(target, source, cond,
          matched, notMatched, notMatchedBySource, withSchemaEvolution)
        if m.resolved && graftTableOf(target).isDefined =>
      val gt = graftTableOf(target).get
      checkWritable(gt, "MERGE INTO")
      require(!withSchemaEvolution,
        "graft MERGE does not support WITH SCHEMA EVOLUTION")
      require(notMatchedBySource.isEmpty,
        "graft MERGE supports the upsert shape only; " +
          "WHEN NOT MATCHED BY SOURCE is not supported")
      val cols = gt.logicalSchema.fieldNames
      requireUpsertShape(matched, notMatched, cols)
      val keys = equiJoinKeys(cond, cols)
      GraftMergeCommand(gt.dir, source, keys)

    case _ => plan
  }

  /** MERGE actions must be exactly the unconditional upsert pair —
    * `WHEN MATCHED THEN UPDATE SET *` and `WHEN NOT MATCHED THEN
    * INSERT *` (the analyzer may have expanded the stars into aligned
    * by-name assignments; both spellings are accepted).
    */
  private def requireUpsertShape(matched: Seq[MergeAction],
      notMatched: Seq[MergeAction], cols: Array[String]): Unit = {
    def isStarAligned(as: Seq[Assignment]): Boolean =
      as.length == cols.length && as.forall {
        case Assignment(k: AttributeReference, v: AttributeReference) =>
          k.name.equalsIgnoreCase(v.name)
        case _ => false
      }
    val okMatched = matched match {
      case Seq(UpdateStarAction(None)) => true
      case Seq(UpdateAction(None, as, _)) => isStarAligned(as)
      case _ => false
    }
    val okNotMatched = notMatched match {
      case Seq(InsertStarAction(None)) => true
      case Seq(InsertAction(None, as)) => isStarAligned(as)
      case _ => false
    }
    require(okMatched && okNotMatched,
      "graft MERGE supports exactly 'WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *' (unconditional upsert); for " +
        "other shapes use the VersionedTable API")
  }

  /** ON clause → merge keys: a conjunction of `target.k = source.k`
    * equality pairs over same-named columns.
    */
  private def equiJoinKeys(cond: Expression,
      cols: Array[String]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    split(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name.equalsIgnoreCase(b.name) &&
            cols.exists(_.equalsIgnoreCase(a.name)) => a.name
      case other => sys.error(
        "graft MERGE ON clause must be a conjunction of same-named " +
          s"key equalities (t.k = s.k); got ${other.sql}")
    }.distinct
  }
}

/** `UPDATE` as an eager command over [[VersionedTable.updateWithDv]]:
  * merge-on-read semantics, per-file DV-vs-CoW pricing, rebase on
  * disjoint concurrent commits — identical to the Scala API call.
  */
private[v2] case class GraftUpdateCommand(dir: String,
    condition: Option[org.apache.spark.sql.Column],
    set: Map[String, org.apache.spark.sql.Column])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.updateWithDv(spark, dir,
      condition.getOrElse(lit(true)), set)
    Seq.empty
  }
}

/** `DELETE FROM` with the full expression vocabulary (the
  * [[SupportsDelete]] path stays for sessions without the extension,
  * but only speaks v1 Filters — no arithmetic, no functions).
  */
private[v2] case class GraftDeleteCommand(dir: String,
    condition: org.apache.spark.sql.Column)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.deleteWithDv(spark, dir, condition)
    Seq.empty
  }
}

/** `MERGE INTO` upsert as an eager command over
  * [[VersionedTable.mergeWithDv]]: matched rows soft-delete
  * positionally, every source row appends once, one atomic commit.
  * The analyzed source PLAN rides along and is executed as the update
  * frame — any SQL relation (subquery, join, view) can feed the merge.
  */
private[v2] case class GraftMergeCommand(dir: String,
    sourcePlan: LogicalPlan, keys: Seq[String])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(sourcePlan)
  override def run(spark: SparkSession): Seq[Row] = {
    val source = GraftInternal.ofPlan(spark, sourcePlan)
    VersionedTable.mergeWithDv(source, dir, keys)
    Seq.empty
  }
}
