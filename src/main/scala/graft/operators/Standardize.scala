package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text standardization operators (reference: notebooks/bronze.py:84-95,
  * notebooks/silver.py:38-49). The stages inline their upper/trim, regex
  * flag and null-out steps as plain Column expressions; what lives here is
  * the one expression two sides must share. It is made of Spark built-ins,
  * so it stays inside WholeStageCodegen — one narrow map, no shuffle.
  */
object Standardize {

  /** Canonical join-key normalization: upper/trim then strip non-alphanumerics
    * (reference: notebooks/silver.py:49, sql/breed_mapping.py:583). Both the
    * fact side and the dim side must use this same expression or the
    * enrichment join silently loses matches.
    */
  def normalizedKey(c: Column): Column =
    regexp_replace(upper(trim(c)), "[^A-Z0-9]", "")
}
