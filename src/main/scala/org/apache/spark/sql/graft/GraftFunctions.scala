// Lives beside the expressions it names (GraftExpressions.scala).
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The SQL names of the custom Catalyst expressions, so
  * `spark.sql("SELECT simhash64(...)")` works alongside the Column API.
  * [[graft.sources.v2.GraftSqlExtension]] injects every entry, so the one
  * `spark.sql.extensions` entry of [[graft.Session]] gives a session both
  * these functions and SQL-text DML.
  */
object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[SimHash64].getName, null, name, usage, "")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array"),
      (children: Seq[Expression]) => SimHash64(children.head)),
    (FunctionIdentifier("hamming_distance"),
      info("hamming_distance", "hamming_distance(a, b) - bit distance of two longs"),
      (children: Seq[Expression]) => HammingDistance(children(0), children(1))),
    (FunctionIdentifier("doc_fingerprint"),
      info("doc_fingerprint", "doc_fingerprint(text, window) - winnowing min-hash fingerprint"),
      (children: Seq[Expression]) => children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(w: Int, _) =>
          DocFingerprint(children.head, w)
        case other => throw new IllegalArgumentException(
          s"doc_fingerprint window must be an integer literal, got $other")
      }))
}
