package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Normalizers

/** Denormalized report builders — the Spark form of
  * /root/reference/rialto_airflow/publish/publication.py.
  *
  * Role-named inputs (rename your columns into these before calling):
  *   pubs:      one row per publication, `pub_id` + payload columns
  *   pubAuthor: association rows `pub_id`, `author_id`
  *   authors:   `author_id` + dimension columns (school, dept, ...)
  *   pubFunder: association rows `pub_id`, `funder_id`
  *   assoc:     association rows `pub_id`, `author_id`, `funder_id`
  *   funders:   `funder_id`, boolean `federal`
  *
  * The reference streams Postgres cursors row-by-row into per-row
  * INSERTs; here each report is one plan. The publications report
  * pre-aggregates the funder-federal flag per publication (a small
  * shuffle keyed by pub_id) and joins it; the by-author and by-dim
  * reports read one association frame carrying both the author and
  * the funder of each link, aggregated once on its pub_id partitioning.
  * Authors/funders dims are broadcast-sized in practice.
  * `federally_funded = any(federal)` ≡ jsonb_agg_strict + any()
  * (publication.py:77,108) with any([]) == false.
  */
object Reports {

  /** Per-publication `federally_funded` flag. */
  def federallyFunded(pubFunder: DataFrame, funders: DataFrame): DataFrame =
    pubFunder
      .join(broadcast(funders), "funder_id")
      .groupBy("pub_id")
      .agg(bool_or(col("federal")).as("federally_funded"))

  /** Per-publication authored flags (harvest_incremental/distill.py
    * :72-87): `academic_council_authored` = any joined author flagged
    * academic_council (_academic_council), `faculty_authored` = any
    * author whose role is 'faculty' (_faculty_authored). Same engine
    * shape as [[federallyFunded]]: broadcast the author dim into the
    * association, one bool_or aggregation keyed by pub_id. Pubs with
    * no author rows get no row here — the caller left-joins and
    * coalesces to false, matching the reference's any([]) == False.
    * `authors` must carry boolean `academic_council` and string `role`.
    */
  def authoredFlags(pubAuthor: DataFrame, authors: DataFrame): DataFrame =
    pubAuthor
      .join(broadcast(authors), "author_id")
      .groupBy("pub_id")
      .agg(
        bool_or(col("academic_council")).as("academic_council_authored"),
        bool_or(col("role") === "faculty").as("faculty_authored"))

  /** publications report: pub grain, aggregated funder flag. */
  def publications(pubs: DataFrame, pubFunder: DataFrame, funders: DataFrame): DataFrame =
    pubs
      .join(federallyFunded(pubFunder, funders), Seq("pub_id"), "left")
      .withColumn("federally_funded", coalesce(col("federally_funded"), lit(false)))

  /** The association `assoc` (rows `pub_id`, `author_id`, `funder_id`)
    * left-joined to both broadcast dims, with `__authored` true where
    * the author matched. A left join, so a row whose author is not in
    * the dim still carries its funder into the pub's flag.
    */
  private def linked(assoc: DataFrame, authors: DataFrame, funders: DataFrame): DataFrame =
    assoc
      .join(broadcast(authors.withColumn("__authored", lit(true))), Seq("author_id"), "left")
      .join(broadcast(funders), Seq("funder_id"), "left")

  /** publications_by_<dim> report: pub × author-dim grain.
    * One pass over the association, hash-partitioned by pub_id: the
    * (pub_id, dims) aggregate and the pub's `federally_funded` (a max
    * window over pub_id) both run on that one partitioning, so no flag
    * frame is built, broadcast and joined apart. Groups no matched
    * author reached are dropped only after the window has read their
    * funders. The pub payload joins last: it is functionally dependent
    * on pub_id, so it never rides the aggregate.
    */
  def publicationsByGroup(
      pubs: DataFrame,
      assoc: DataFrame,
      authors: DataFrame,
      funders: DataFrame,
      groupCols: Seq[String]
  ): DataFrame = {
    val dims = linked(assoc, authors, funders)
      .groupBy((Seq("pub_id") ++ groupCols).map(col): _*)
      .agg(count(col("__authored")).as("__n_authored"), bool_or(col("federal")).as("__federal"))
      .withColumn("federally_funded",
        coalesce(max(col("__federal")).over(Window.partitionBy("pub_id")), lit(false)))
      .filter(col("__n_authored") > 0)
    pubs.join(dims, "pub_id")
      .select((pubs.columns ++ Seq("federally_funded") ++ groupCols).map(col): _*)
  }

  /** publications_by_author report: pub × author grain with author-list
    * aggregates distilled from the association itself, and the funder
    * flag from the same one aggregate by pub_id.
    */
  def publicationsByAuthor(
      pubs: DataFrame,
      assoc: DataFrame,
      authors: DataFrame,
      funders: DataFrame
  ): DataFrame = {
    val perPub = linked(assoc, authors, funders)
      .groupBy("pub_id")
      .agg(
        bool_or(col("federal")).as("federally_funded"),
        when(count(col("__authored")) > 0,
          Normalizers.piped(array_sort(collect_set(col("author_name"))))).as("author_list_names"),
        min(col("author_name")).as("first_author_name"),
        max(col("author_name")).as("last_author_name")
      )
    pubs.join(perPub, Seq("pub_id"), "left")
      .select(pubs.columns.map(col) ++ Seq(
        coalesce(col("federally_funded"), lit(false)).as("federally_funded"),
        col("author_list_names"), col("first_author_name"), col("last_author_name")): _*)
  }
}
