package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Normalizers

/** Rialto domain operators, re-expressed as distributed transforms.
  *
  * The reference performs these row-at-a-time against Postgres
  * (deduplicate.py, authors.py, apc.py, funders/dataset.py); here each is
  * a declarative plan: window-dedup instead of per-id SELECT loops,
  * full-outer merge instead of per-row upsert, broadcast set membership
  * instead of an in-process dict.
  */
object Rialto {

  /** merge_pubs as one old→new id map (deduplicate.py:187-217): for
    * every row of `df`, `old_id` is its `idCol`, `new_id` the `idCol`
    * of its key group's survivor (the newest by `newestBy`, descending;
    * the caller provides enough columns for determinism) and `n_merged`
    * the group's size. One window pass: the survivor is the first row
    * of the ordered group, so no survivor frame is joined back.
    */
  def mergeMap(df: DataFrame, idCol: String, keys: Seq[String], newestBy: Seq[Column])
      : DataFrame = {
    val group = Window.partitionBy(keys.map(col): _*).orderBy(newestBy.map(_.desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.select(
      col(idCol).as("old_id"),
      first(col(idCol)).over(group).as("new_id"),
      count(lit(1)).over(group).as("n_merged"))
  }

  /** Duplicate-group merge: groupBy the dup key, keep the max "payload"
    * and union the association sets — the relational form of moving
    * author/funder links onto the surviving publication.
    */
  def mergeAssociations(df: DataFrame, keys: Seq[String], payload: Column, assoc: Column)
      : DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        max(payload).as("payload"),
        Normalizers.piped(array_sort(collect_set(assoc.cast("string")))).as("assoc_ids")
      )

  /** Harvest fill-in merge (harvest_incremental modules): per-source
    * publication batches keyed by normalized DOI fold into one row with
    * a struct column per source (≈ the dim_json/openalex_json/...
    * JSONB columns); each source's non-key columns nest under
    * `<name>_json`, NULL where the source lacks the key.
    *
    * One union and one aggregate: each source's rows carry their own
    * struct and NULL for the others, and a group by the key takes each
    * source's one struct. A key held by more than one row of one source
    * fails the query with a named error, raised by a filter on that
    * aggregate's per-source counts (a filter, so the check runs even for
    * a consumer that reads no payload). Rows with a NULL key match
    * nothing and stay one output row each.
    */
  def harvestMerge(sources: Seq[(String, DataFrame)], key: String): DataFrame = {
    val nested = sources.map { case (name, df) =>
      val payload = df.columns.filterNot(_ == key)
      df.select(col(key), struct(payload.map(col): _*).as(s"${name}_json"))
    }
    val outs = nested.map(_.schema(1))
    val tagged = nested.zipWithIndex.map { case (df, i) =>
      df.select(col(key) +: outs.zipWithIndex.map { case (f, j) =>
        if (j == i) col(f.name) else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }.reduce(_ union _)
    val aggs = outs.flatMap(f => Seq(
      first(col(f.name), ignoreNulls = true).as(f.name), count(col(f.name)).as(s"__n_${f.name}")))
    val unique = sources.zip(outs).foldLeft(lit(true)) { case (ok, ((name, _), f)) =>
      val n = col(s"__n_${f.name}")
      when(n > 1, raise_error(concat(lit(s"harvestMerge: source '$name' holds key "),
        col(key).cast("string"), lit(" in "), n.cast("string"), lit(" rows")))).otherwise(ok)
    }
    tagged
      .withColumn("__row", when(col(key).isNull, monotonically_increasing_id()))
      .groupBy(col(key), col("__row"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(unique)
      .select(col(key) +: outs.map(f => col(f.name)): _*)
  }

  /** authors.upsert_author as a batch merge: incoming wins over existing
    * on the natural key; rows only in one side pass through. `action` is
    * inserted/updated/noop like the reference's return value.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, key: String): DataFrame = {
    val e = existing.select(col(key).as("k"), struct(existing.columns.map(col): _*).as("e"))
    val i = incoming.select(col(key).as("k"), struct(incoming.columns.map(col): _*).as("i"))
    e.join(i, Seq("k"), "full_outer")
      .select(
        col("k").as(key),
        coalesce(col("i"), col("e")).as("row"),
        when(col("e").isNull, "inserted")
          .when(col("i").isNull, "noop")
          .when(col("i") === col("e"), "noop")
          .otherwise("updated")
          .as("action")
      )
  }

  /** APC resolution (distiller/apc.py): a located positive value wins
    * unless the publication is closed-access; otherwise OA-status
    * defaults. `candidate` must already be validated positive (use
    * Distill.positiveNumber).
    */
  def apc(candidate: Column, oaStatus: Column, isPreprint: Column = lit(false)): Column = {
    val oa = lower(coalesce(oaStatus, lit("")))
    when(isPreprint, lit(0L))
      .when(candidate.isNotNull && oa === "closed", lit(0L))
      .when(candidate.isNotNull, candidate)
      .when(oa === "diamond", lit(0L))
      .when(oa === "gold", lit(2450L))
      .when(oa === "hybrid", lit(3600L))
      .otherwise(lit(null).cast("long"))
  }

  /** Federal-funder test on the normalized NAME (funders/dataset.py
    * is_federal, :8-10). The dataset is small (~239 rows) so it
    * travels as a literal array — a broadcast in cluster terms,
    * constant-folded into codegen here. GRID-id membership is the
    * separate [[isFederalGridId]].
    */
  def isFederal(name: Column, federalNames: Seq[String]): Column =
    Normalizers.normalizeFunderName(name).isInCollection(federalNames)

  /** Federal-funder test on the GRID id (funders/dataset.py
    * is_federal_grid_id, :14-16): raw id membership, no
    * normalization.
    */
  def isFederalGridId(gridId: Column, federalGridIds: Seq[String]): Column =
    gridId.isInCollection(federalGridIds)

  /** ROR→GRID equivalence translation (funders/ror_grid_dataset.py:17-25,
    * applied at linker.py:178 before the federal GRID-id test):
    * OpenAlex funders carry ROR ids, and an OpenAlex-only federal
    * funder is invisible to [[isFederalGridId]] until its ROR is
    * translated. Left-joins the mapping and adds `grid_from_ror` —
    * NULL where no equivalence exists (convert_ror_to_grid returns
    * None), so callers must COALESCE any boolean built on it.
    *
    * The real mapping is ~100k rows — broadcast-join scale, far too
    * big for a codegen literal map — so it arrives as a DataFrame
    * (columns ror_id, grid_id), not a Scala Map.
    */
  def rorToGrid(df: DataFrame, rorCol: String, rorGrid: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val m = rorGrid.select(col("ror_id").as("__ror"), col("grid_id").as("grid_from_ror"))
    df.join(broadcast(m), df(rorCol) === col("__ror"), "left").drop("__ror")
  }

  /** The external APC dataset lookup (apc/__init__.py get_apc +
    * distiller/apc.py _apc_oa_dataset): for each publication, walk its
    * `issnsCol` array IN ORDER and take the first ISSN whose
    * (ISSN_1|ISSN_2, APC_year) match has a truthy cost — get_apc
    * returns None for negative costs and `if cost:` skips 0, so only
    * cost > 0 hits.
    *
    * Engine shape: the dataset (~20k rows in the reference) flattens
    * in one explode to (issn, year, cost) and broadcasts; the pubs run
    * through [[firstListHit]] with the pub year as the second join key.
    * Adds an `apc_dataset` column; `lookup` needs columns issn_1,
    * issn_2, apc_year, apc_usd.
    */
  def apcDatasetLookup(pubs: DataFrame, issnsCol: String, yearCol: String,
      lookup: DataFrame): DataFrame = {
    val flat = lookup
      .select(explode(array(col("issn_1"), col("issn_2"))).as("__hit"),
        col("apc_year").as("__hit_year"), col("apc_usd").as("__usd"))
      .filter(col("__usd").isNotNull && col("__usd") > 0)
    firstListHit(pubs, col(issnsCol), flat, col("__usd"), "apc_dataset",
      Seq(col(yearCol).as("__y")), Some(col("__y") === col("__hit_year")))
      .select(col("__pub.*"), col("apc_dataset"))
  }

  /** The one-pass list lookup behind [[apcDatasetLookup]] and
    * [[Distillers.joinIssnSource]]. Each pub row is read once: tagged
    * with a per-row id and carried whole as the struct `__pub`, it is
    * exploded to (pos, element) pairs of `list` (posexplode_outer, so
    * a NULL or empty list keeps one row), left-joined to the broadcast
    * `hits` on element = `__hit` (and `on`, over the `carry` columns
    * taken next to the list) and folded back by one aggregate on the
    * row id, whose exchange is the plan's only shuffle. `out` is the
    * `value` of the hit at the earliest matched position, NULL when
    * none matched. Every input row comes out once, each with its own
    * list's result, also when two rows share a pub id or have none.
    */
  private[operators] def firstListHit(pubs: DataFrame, list: Column, hits: DataFrame,
      value: Column, out: String, carry: Seq[Column] = Nil, on: Option[Column] = None): DataFrame = {
    // the id is taken before the explode: a generator in the same
    // select would put the projection, and so a fresh id, above it
    val tagged = pubs.select(Seq(monotonically_increasing_id().as("__row"),
      struct(pubs.columns.map(col): _*).as("__pub")) ++ carry :+ list.as("__issns"): _*)
    tagged
      .select(tagged.columns.init.map(col).toSeq :+
        posexplode_outer(col("__issns")).as(Seq("__pos", "__issn")): _*)
      .join(broadcast(hits), on.foldLeft(col("__issn") === col("__hit"))(_ && _), "left")
      .groupBy("__row")
      .agg(first(col("__pub")).as("__pub"),
        min_by(value, when(col("__hit").isNotNull, col("__pos"))).as(out))
  }
}
