package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Distillation: first-match precedence over multiple candidate sources,
  * with optional validation — the Spark-first re-expression of
  * /root/reference/rialto_airflow/distiller/utils.py (`first`, `all`,
  * `JsonPathRule`, `FuncRule`).
  *
  * The reference walks an ordered rule list per row in Python; here each
  * rule is a Column expression and the precedence collapses into a single
  * `coalesce`, so the whole distillation of a 100 TB table is one
  * codegen'd projection — no UDF, no per-row interpreter.
  */
object Distill {

  /** First non-NULL candidate, in precedence order (distiller.first). */
  def firstValid(candidates: Column*): Column = coalesce(candidates: _*)

  /** JsonPathRule over a JSON-string column: `$.a.b[0]` etc. */
  def jsonRule(jsonCol: Column, path: String): Column =
    get_json_object(jsonCol, "$." + path)

  /** open_access resolution (distiller/open_access.py): preprints
    * short-circuit to "preprint"; otherwise the first Dimensions OA
    * value that isn't "oa_all", then the OpenAlex oa_status.
    */
  def openAccess(types: Column, dimOa: Column, openalexOa: Column): Column =
    when(array_contains(types, "Preprint"), lit("preprint"))
      .otherwise(
        firstValid(
          // try_element_at: ANSI mode errors on element_at over an
          // empty array
          try_element_at(filter(dimOa, v => v.isNotNull && v =!= "oa_all"), lit(1)),
          openalexOa
        )
      )

  /** pages assembly (distiller/pages.py _openalex_pages): "first-last"
    * when both present, else whichever side exists.
    */
  def pagesRange(first: Column, last: Column): Column =
    when(first.isNotNull && last.isNotNull, concat(first, lit("-"), last))
      .otherwise(coalesce(first, last))

  /** utils._ensure_valid_year: integer, not in the future, else NULL.
    * try_cast mirrors the reference swallowing ValueError/TypeError.
    */
  def validYear(c: Column, currentYear: Int): Column = {
    val y = c.try_cast("long")
    when(y.isNotNull && y <= currentYear, y)
  }

  /** utils._ensure_positive_number: integer >= 0, else NULL. */
  def positiveNumber(c: Column): Column = {
    val n = c.try_cast("long")
    when(n.isNotNull && n >= 0, n)
  }
}
