package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality validation — the Spark form of
  * rialto-airflow's validate.py: its cohort-level coverage
  * percentages ("X% of faculty have ORCIDs"), computed as one
  * aggregation pass instead of pandas slicing.
  */
object Validation {

  /** Per-cohort field coverage: rows, rows with `field` present, and
    * the percentage (1 decimal, like the reference's round(...,1)).
    */
  def cohortFieldCoverage(df: DataFrame, cohortCols: Seq[String], field: Column): DataFrame =
    df.groupBy(cohortCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        count(field).as("n_present"),
        round(count(field) * lit(100.0) / count(lit(1)), 1).as("pct_present")
      )
}
