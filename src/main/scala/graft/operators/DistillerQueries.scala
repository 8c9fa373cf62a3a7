package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.sources.Tables

/** The reference's per-field distiller chains exercised END-TO-END as
  * oracle-checked queries: per-source structs (the post-harvestMerge
  * row layout of the harvest_incremental modules) are synthesized
  * deterministically from the testdata tables, then distilled with
  * [[Distillers]] — title/pub_year/issue/volume/journal_issn in one
  * projection, the four-branch abstract chain, the ISSN→source
  * lookup realization of journal_name/publisher, and the APC
  * ISSN×year dataset lookup (distiller/apc.py:48-59).
  *
  * Every query is a single codegen'd projection (plus one broadcast
  * join where the reference calls an external lookup) — the shape a
  * 100 TB distillation run needs: no UDFs, no per-row interpreter,
  * JSON parsed at most once per source.
  */
object DistillerQueries {
  type Q = (SparkSession, String) => DataFrame

  private val CurrentYear = 2026

  val queries: Map[String, Q] = Map(
    // distiller/{title,pub_year,issue,volume,journal_issn}.py over the
    // post-harvestMerge struct layout. Sources are struct columns
    // (absent → NULL struct, exercising the reference's None-source
    // guard); each precedence arm is reachable via a residue class.
    "q_distill_fields" -> { (s, dir) =>
      // Par.spread: the distiller expression tree measured as ONE
      // 2.2 s task on the unsplittable orders scan (StageProf r14)
      val o = Par.spread(Tables(s, dir).orders, col("o_orderkey"))
      val k = col("o_orderkey")
      val ks = k.cast("string")
      val y = year(col("o_orderdate")).cast("long")

      val sul = struct(
        when(k % 2 === 1, concat(lit("S:"), col("o_orderpriority"))).as("title"),
        when(k % 5 === 2, concat(lit("B:"), col("o_orderstatus"))).as("booktitle"),
        when(k % 7 === 0, (y - 3).cast("string")).when(k % 5 === 0, lit("n/a")).as("year"),
        struct(
          lit("1990").as("year"),
          when(k % 4 === 2, lit("4D")).as("issue"),
          lit("40").as("volume")
        ).as("journal"),
        // space separator at index 4: valid per the reference check
        when(k % 5 === 1, lit("5555 666X")).when(k % 5 === 0, lit("bad-issn")).as("issn")
      )
      val dim = struct(
        when(k % 5 === 3, concat(lit("D:"), col("o_orderpriority"))).as("title"),
        when(k % 3 === 0, lit(3000L)).otherwise(y).as("year"),
        // numeric (non-string) issue/volume: if they win, the whole
        // distill is NULL (issue.py `case _`)
        when(k % 3 === 2, k % 100).as("issue"),
        when(k % 7 === 2, k % 50).as("volume"),
        when(k % 7 === 0, array(lit("7777-8888"), lit("not-valid"))).as("issn")
      )
      val oa = struct(
        when(k % 5 === 4, concat(lit("O:"), ks)).as("title"),
        when(k % 4 === 0, y - 1).as("publication_year"),
        struct(
          when(k % 3 === 1, lit("1A")).as("issue"),
          when(k % 7 === 1, lit("10")).as("volume")
        ).as("biblio"),
        when(k % 2 === 0, lit("1111-2222")).as("issn_l"),
        when(k % 3 === 0, array(lit("1111-2222"), lit("3333-444X"))).as("issn")
      )
      val wos = when(k % 10 =!= 0, struct(
        array(struct(array(
          struct(lit("source").as("type"), lit("J of K").as("content")),
          struct(lit("item").as("type"), concat(lit("W:"), ks).as("content"))
        ).as("title"))).as("titles"),
        (y - 2).as("pubyear")
      ))
      val pubmed = when(k % 9 =!= 0, struct(
        when(k % 4 === 0, lit("3C")).as("issue"),
        when(k % 2 === 0, lit("30")).as("volume"),
        when(k % 4 === 0, lit("2222-3333")).as("issn_text")
      ))
      val crossref = struct(
        when(k % 11 === 0, array(lit("9999-000X"))).as("issn")
      )

      o.select(k, sul.as("sulpub_json"), dim.as("dim_json"), oa.as("openalex_json"),
          wos.as("wos_json"), pubmed.as("pubmed_json"), crossref.as("crossref_json"))
        .select(
          k,
          Distillers.title(
            col("sulpub_json.title"), col("sulpub_json.booktitle"),
            col("dim_json.title"), col("openalex_json.title"),
            col("wos_json.titles")).as("title"),
          Distillers.pubYear(
            col("dim_json.year"), col("openalex_json.publication_year"),
            col("wos_json.pubyear"), col("sulpub_json.year"),
            col("sulpub_json.journal.year"), CurrentYear).as("pub_year"),
          Distillers.issue(
            (col("openalex_json.biblio.issue"), true), (col("dim_json.issue"), false),
            (col("pubmed_json.issue"), true), (col("sulpub_json.journal.issue"), true)).as("issue"),
          Distillers.volume(
            (col("openalex_json.biblio.volume"), true), (col("dim_json.volume"), false),
            (col("pubmed_json.volume"), true), (col("sulpub_json.journal.volume"), true)).as("volume"),
          Distillers.journalIssn(
            Distillers.one(col("openalex_json.issn_l")), col("openalex_json.issn"),
            Distillers.one(col("sulpub_json.issn")), col("dim_json.issn"),
            col("crossref_json.issn"), Distillers.one(col("pubmed_json.issn_text"))).as("journal_issn")
        )
    },

    // distiller/abstract.py — all four branches: openalex inverted-
    // index rebuild, dimensions passthrough, pubmed string-or-object
    // segment join (VARIANT dispatch), crossref tag-strip fallback.
    "q_distill_abstract" -> { (s, dir) =>
      val d = Tables(s, dir).documents
      val id = col("doc_id")
      val oaIdx = when(id % 4 === 1, TextAnalysis.buildInvertedIndex(col("text")))
      val dimAbs = when(id % 4 === 2, concat(lit("D:"), substring(col("text"), 1, 30)))
      val pmSegs =
        when(id % 12 === 3, lit("[]"))
          .when(id % 20 === 7, lit("""["",{"#text":""}]"""))
          .otherwise(concat(
            lit("[\"P"), (id % 10).cast("string"),
            lit("\",{\"#text\":\"Q"), (id % 7).cast("string"),
            lit("\"},\"\",{\"Label\":\"NoText\"}]")))
      val pmJson = when(id % 4 === 3, concat(
        lit("{\"MedlineCitation\":{\"Article\":{\"Abstract\":{\"AbstractText\":"),
        pmSegs, lit("}}}}")))
      val cxMarkup = concat(
        lit("<jats:title>Abstract</jats:title><jats:p>C:"),
        (id % 1000).cast("string"), lit("</jats:p>"))
      d.select(
        id,
        Distillers.abstractOf(oaIdx, dimAbs, pmJson, cxMarkup).as("abstract")
      )
    },

    // journal_name.py / publisher.py with the engine-level
    // source_by_issn: a broadcast ISSN→source lookup joined on the
    // earliest ISSN in the pub's own piped list.
    "q_journal_lookup" -> { (s, dir) =>
      val t = Tables(s, dir)
      val k = col("o_orderkey")
      val ks = k.cast("string")
      val lookup = t.nation.select(
        concat(lpad(col("n_nationkey").cast("string"), 4, "0"), lit("-111X")).as("issn"),
        concat(lit("J-"), col("n_name")).as("display_name"),
        concat(lit("H-"), col("n_name")).as("host_organization_name"))
      val dn = when(k % 12 === 0, lit("")).otherwise(concat(lit("OA-J-"), ks))
      val pubs = t.orders.select(
        k,
        concat_ws("|",
          concat(lpad((k % 30).cast("string"), 4, "0"), lit("-111X")),
          concat(lpad((k % 7).cast("string"), 4, "0"), lit("-111X"))).as("journal_issn"),
        when(k % 6 === 0,
          array(struct(struct(lit("journal").as("type"), dn.as("display_name")).as("source")))
        ).as("oa_locations"),
        when(k % 8 === 0, concat(lit("OA-H-"), ks)).when(k % 8 === 4, lit("")).as("oa_host"))
      Distillers.joinIssnSource(pubs, "journal_issn", lookup)
        .select(
          k,
          Distillers.journalName(col("oa_locations"), col("lookup_display_name")).as("journal_name"),
          Distillers.publisher(col("oa_host"), col("lookup_host_org")).as("publisher"))
    },

    // distiller/apc.py incl. the external ISSN×year dataset
    // (apc/__init__.py get_apc): openalex apc_paid → dataset lookup
    // over dim_json.issn[] in list order → openalex apc_list, then
    // the OA-status resolution.
    "q_apc_lookup" -> { (s, dir) =>
      val t = Tables(s, dir)
      val k = col("o_orderkey")
      val y = year(col("o_orderdate")).cast("long")
      val lookup = t.nation
        .crossJoin(s.range(1996, 2001).select(col("id").as("apc_year")))
        .select(
          concat(lpad(col("n_nationkey").cast("string"), 4, "0"), lit("-111X")).as("issn_1"),
          concat(lpad(col("n_nationkey").cast("string"), 4, "0"), lit("-222X")).as("issn_2"),
          col("apc_year"),
          when(col("n_nationkey") % 4 === 0, lit(0L))
            .otherwise(col("n_nationkey") * 100 + (col("apc_year") - 1992)).as("apc_usd"))
      val oaStatuses = typedlit(Seq("closed", "diamond", "gold", "hybrid", "bronze"))
      val pubs = t.orders.select(
        k,
        y.as("pub_year"),
        when(k % 3 =!= 0, array(
          concat(lpad((k % 30).cast("string"), 4, "0"), lit("-111X")),
          concat(lpad((k % 7).cast("string"), 4, "0"), lit("-222X")))).as("dim_issns"),
        when(k % 5 === 0, (k % 7) - 1).as("oa_paid"),
        when(k % 11 === 0, lit(750L)).as("oa_list"),
        element_at(oaStatuses, (k % 5 + 1).cast("int")).as("oa_status"),
        (k % 13 === 0).as("is_preprint"))
      Rialto.apcDatasetLookup(pubs, "dim_issns", "pub_year", lookup)
        .select(
          k,
          Rialto.apc(
            Distill.firstValid(
              Distill.positiveNumber(col("oa_paid")),
              col("apc_dataset"),
              Distill.positiveNumber(col("oa_list"))),
            col("oa_status"), col("is_preprint")).as("apc"))
    },

    // publish/orcid.py:17-48 export_author_orcids — the author_orcids
    // reports-table projection: blank orcidid → NULL, string
    // 'true'/'false' scope → boolean, primary_* denormalization.
    "q_author_orcids" -> { (s, dir) =>
      val t = Tables(s, dir)
      val c = col("c_custkey")
      val orcidRaw = when(c % 3 === 0, lit(""))
        .when(c % 3 === 1, concat(lit("https://orcid.org/0000-0001-"), lpad(c.cast("string"), 4, "0")))
        .otherwise(concat(lit("0000-0002-"), lpad(c.cast("string"), 4, "0")))
      val scopeRaw = when(c % 2 === 0, lit("True")).otherwise(lit("FALSE"))
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .select(
          concat(lit("u"), c.cast("string")).as("sunetid"),
          element_at(split(col("c_name"), "#"), 1).as("first_name"),
          element_at(split(col("c_name"), "#"), 2).as("last_name"),
          when(trim(orcidRaw) =!= "", orcidRaw).as("orcidid"),
          (lower(scopeRaw) === "true").as("orcid_update_scope"),
          col("c_mktsegment").as("role"),
          col("n_name").as("primary_school"))
    },

    // harvest_incremental/deduplicate.py:38-217 end-to-end: NULL-doi
    // rows keyed by their one per-source id (openalex/dim/sulpub/wos/
    // pubmed), keep-newest survivor per key, author+funder
    // associations moved to the survivor, then orphan (author-less)
    // publications removed. The reference runs the five id passes
    // SEQUENTIALLY; when each row carries at most one per-source id
    // (the shape harvested here — ids are source-disjoint), one pass
    // over the source-tagged coalesced key is equivalent. Rows with
    // ids from several sources would need the passes iterated.
    "q_dedupe_null_doi" -> { (s, dir) =>
      val t = Tables(s, dir)
      val k = col("o_orderkey")
      val doi = when(k % 4 =!= 0, concat(lit("10.1/"), k.cast("string")))
      val srcTag = element_at(typedlit(Seq("W", "D", "S", "X", "P")), (k % 5 + 1).cast("int"))
      val dk = when(doi.isNull, concat(srcTag, expr("o_orderkey div 40").cast("string")))
      val pubs = t.orders.select(
        k.as("pub_id"), doi.as("doi"), col("o_orderdate").as("updated_at"), dk.as("dk"))

      // one window pass maps every keyed pub to its group's survivor
      val mapping = Rialto.mergeMap(pubs.filter(col("dk").isNotNull), "pub_id", Seq("dk"),
        Seq(col("updated_at"), col("pub_id")))

      // author and funder links in ONE lineitem pass, remapped onto the
      // survivor and aggregated together; collect_set dedupes, so no
      // distinct() runs before the remap
      def pipedSet(id: Column): Column =
        graft.functions.Normalizers.piped(array_sort(collect_set(id.cast("string"))))
      val author = when(col("l_suppkey") % 3 =!= 0, col("l_suppkey"))
      val funder = when(col("l_linenumber") === 1 && col("l_partkey") % 4 === 0, col("l_partkey"))
      val links = t.lineitem.filter(col("l_linenumber") <= 2)
        .select(col("l_orderkey").as("pub_id"), author.as("author_id"), funder.as("funder_id"))
      val assoc = links.join(mapping, links("pub_id") === mapping("old_id"), "left")
        .groupBy(coalesce(col("new_id"), col("pub_id")).as("pub_id"))
        .agg(count(col("author_id")).as("n_authors"), count(col("funder_id")).as("n_funders"),
          pipedSet(col("author_id")).as("author_ids"), pipedSet(col("funder_id")).as("funder_ids"))
        // n_authors > 0 = remove_orphan_publications: pubs without any
        // author association are dropped
        .filter(col("n_authors") > 0)
        .select(col("pub_id"), col("author_ids"),
          when(col("n_funders") > 0, col("funder_ids")).as("funder_ids"))

      // one left join to the map drops the merged-away pubs and brings
      // each survivor's group size
      pubs.join(mapping, pubs("pub_id") === mapping("old_id"), "left")
        .filter(col("new_id").isNull || col("new_id") === col("pub_id"))
        .join(assoc, Seq("pub_id"))
        .select(
          col("pub_id"), col("doi"),
          coalesce(col("n_merged"), lit(1L)).as("n_merged"),
          col("author_ids"), col("funder_ids"))
    },

    // distiller/citation_count.py — max over sources incl. the WOS
    // silo_tc jsonpath-filter rule (first coll_id=="WOS" entry wins;
    // decoy silos before and after it must be skipped).
    "q_citation_distill" -> { (s, dir) =>
      val k = col("o_orderkey")
      val oa = when(k % 2 === 0, pmod(k, lit(90)))
      val dim = when(k % 3 === 0, pmod(k, lit(70)))
      val wosSilo = when(k % 5 =!= 1, array(
        struct(lit("SCI").as("coll_id"), (pmod(k, lit(40)) + 1000).as("local_count")),
        struct(lit("WOS").as("coll_id"), pmod(k, lit(40)).as("local_count")),
        struct(lit("WOS").as("coll_id"), lit(9999L).as("local_count"))))
      Tables(s, dir).orders.select(
        k,
        Distillers.citationCount(oa, dim, wosSilo).as("citation_count"))
    },

    // distiller/author_names.py — the 7-rule author_list_names chain
    // with list semantics: null jsonpath matches dropped, present-but-
    // empty rule = miss (falls through), first/last positional names.
    // Residue classes reach every arm incl. both WOS variants and the
    // sulpub comma-flip.
    "q_distill_author_names" -> { (s, dir) =>
      val o = Par.spread(Tables(s, dir).orders, col("o_orderkey"))
      val k = col("o_orderkey")
      val ks = k.cast("string")

      val oaA = when(k % 5 === 0, array(
          struct(struct(concat(lit("OA1_"), ks).as("display_name")).as("author")),
          struct(struct(lit(null).cast("string").as("display_name")).as("author")),
          struct(struct(concat(lit("OA2_"), ks).as("display_name")).as("author"))))
        .when(k % 5 === 4, array().cast("array<struct<author:struct<display_name:string>>>"))
      val dimA = when(k % 5 === 1, array(
          struct(lit("Ann").as("first_name"), concat(lit("D"), ks).as("last_name")),
          struct(lit("Bob").as("first_name"), concat(lit("E"), ks).as("last_name"))))
        .when(k % 5 === 2, array().cast("array<struct<first_name:string,last_name:string>>"))
      val pmA = when(k % 5 === 2, array(
          struct(lit(null).cast("string").as("ForeName"), concat(lit("P"), ks).as("LastName")),
          struct(lit("Q").as("ForeName"), concat(lit("R"), ks).as("LastName"))))
      val wosList = when(k % 5 === 3 && k % 2 === 1,
        array(concat(lit("W1_"), ks), concat(lit("W2_"), ks)))
      val wosScalar = when(k % 5 === 3 && k % 2 === 0, concat(lit("Ws_"), ks))
      val crA = when(k % 5 === 4 && k % 3 =!= 0,
        array(struct(lit("Cg").as("given"), concat(lit("Cf"), ks).as("family"))))
      val sulN = when(k % 5 === 4,
        array(concat(lit("Zulu"), ks, lit(", F. M."))))

      val names = Distillers.authorListNames(
        transform(oaA, x => x.getField("author").getField("display_name")),
        Distillers.joinedNames(dimA, "first_name", "last_name", strict = true),
        Distillers.joinedNames(pmA, "ForeName", "LastName"),
        wosList,
        Distillers.one(wosScalar),
        Distillers.joinedNames(crA, "given", "family"),
        transform(sulN, graft.functions.Normalizers.flipName _))

      o.select(
        k,
        array_join(names, "|").as("authors"),
        Distillers.firstAuthorName(names).as("first_author"),
        Distillers.lastAuthorName(names).as("last_author"),
        size(names).cast("long").as("n_authors"))
    },

    // distiller/author_orcids.py — all-rules union (normalize, dedupe,
    // sort, pipe) plus the first/last positional chains, incl. the
    // pubmed @Source=="ORCID" identifier filter and the authors[-1]
    // empty-orcid miss.
    "q_distill_author_orcids" -> { (s, dir) =>
      val o = Par.spread(Tables(s, dir).orders, col("o_orderkey"))
      val k = col("o_orderkey")
      val lp = lpad((k % 9999).cast("string"), 4, "0")

      val oaA = when(k % 2 === 0, array(
        struct(struct(
          when(k % 6 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("https://orcid.org/0000-0001-"), lp)).as("orcid")).as("author")),
        struct(struct(concat(lit("0000-0006-"), lp).as("orcid")).as("author"))))
      val dimA = when(k % 3 === 0, array(
        struct(array(concat(lit("0000-0002-"), lp)).as("orcid")),
        struct(array().cast("array<string>").as("orcid"))))
      val pmA = when(k % 4 === 0, array(
        struct(array(struct(lit("ORCID").as("source"), concat(lit("0000-0003-"), lp).as("text"))).as("identifiers")),
        struct(array(struct(lit("GRID").as("source"), lit("grid.1").as("text"))).as("identifiers"))))
      val wosA = when(k % 5 === 0, array(struct(concat(lit("0000-0004-"), lp).as("orcid_id"))))
      val crA = when(k % 7 === 0, array(struct(concat(lit("HTTPS://ORCID.ORG/0000-0005-"), lp).as("ORCID"))))

      val allOrcids = Distillers.authorListOrcids(
        transform(oaA, x => x.getField("author").getField("orcid")),
        flatten(transform(dimA, x => x.getField("orcid"))),
        Distillers.pubmedOrcids(flatten(transform(pmA, x => x.getField("identifiers")))),
        transform(wosA, x => x.getField("orcid_id")),
        transform(crA, x => x.getField("ORCID")))

      val firstOrcid = Distillers.positionalOrcid(
        try_element_at(oaA, lit(1)).getField("author").getField("orcid"),
        try_element_at(try_element_at(dimA, lit(1)).getField("orcid"), lit(1)),
        try_element_at(Distillers.pubmedOrcids(try_element_at(pmA, lit(1)).getField("identifiers")), lit(1)),
        try_element_at(wosA, lit(1)).getField("orcid_id"),
        try_element_at(crA, lit(1)).getField("ORCID"))
      val lastOrcid = Distillers.positionalOrcid(
        try_element_at(oaA, lit(-1)).getField("author").getField("orcid"),
        try_element_at(try_element_at(dimA, lit(-1)).getField("orcid"), lit(1)),
        try_element_at(Distillers.pubmedOrcids(try_element_at(pmA, lit(-1)).getField("identifiers")), lit(1)),
        try_element_at(wosA, lit(-1)).getField("orcid_id"),
        try_element_at(crA, lit(-1)).getField("ORCID"))

      o.select(
        k,
        array_join(allOrcids, "|").as("orcids"),
        firstOrcid.as("first_orcid"),
        lastOrcid.as("last_orcid"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q_distill_fields" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderpriority AS pri, o_orderstatus AS st,
        |                  year(o_orderdate) AS y FROM orders),
        |li AS (SELECT k,
        |  CAST([] AS VARCHAR[])
        |  || (CASE WHEN k%2=0 THEN ['1111-2222'] ELSE [] END)
        |  || (CASE WHEN k%3=0 THEN ['1111-2222','3333-444X'] ELSE [] END)
        |  || (CASE WHEN k%5=1 THEN ['5555 666X'] ELSE [] END)
        |  || (CASE WHEN k%7=0 THEN ['7777-8888'] ELSE [] END)
        |  || (CASE WHEN k%11=0 THEN ['9999-000X'] ELSE [] END)
        |  || (CASE WHEN k%4=0 AND k%9<>0 THEN ['2222-3333'] ELSE [] END) AS l
        |  FROM b)
        |SELECT b.k AS o_orderkey,
        |  CASE WHEN k%2=1 THEN 'S:'||pri
        |       WHEN k%5=2 THEN 'B:'||st
        |       WHEN k%5=3 THEN 'D:'||pri
        |       WHEN k%5=4 THEN 'O:'||k
        |       WHEN k%10=0 THEN NULL
        |       ELSE 'W:'||k END AS title,
        |  CASE WHEN k%3<>0 THEN y
        |       WHEN k%4=0 THEN y-1
        |       WHEN k%10<>0 THEN y-2
        |       WHEN k%7=0 THEN y-3
        |       ELSE 1990 END AS pub_year,
        |  CASE WHEN k%3=1 THEN '1A'
        |       WHEN k%3=2 THEN NULL
        |       WHEN k%4=0 AND k%9<>0 THEN '3C'
        |       WHEN k%4=2 THEN '4D'
        |       ELSE NULL END AS issue,
        |  CASE WHEN k%7=1 THEN '10'
        |       WHEN k%7=2 THEN NULL
        |       WHEN k%2=0 AND k%9<>0 THEN '30'
        |       ELSE '40' END AS volume,
        |  CASE WHEN len(li.l)>0 THEN array_to_string(list_sort(list_distinct(li.l)), '|') END AS journal_issn
        |FROM b JOIN li USING (k)""".stripMargin,
    "q_distill_abstract" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id%4=1 THEN array_to_string(string_split(lower(text), ' '), ' ')
        |       WHEN doc_id%4=2 THEN 'D:' || substring(text, 1, 30)
        |       WHEN doc_id%4=3 AND doc_id%12=3 THEN 'C:' || CAST(doc_id%1000 AS VARCHAR)
        |       WHEN doc_id%20=7 THEN ''
        |       WHEN doc_id%4=3 THEN 'P' || CAST(doc_id%10 AS VARCHAR) || ' Q' || CAST(doc_id%7 AS VARCHAR)
        |       ELSE 'C:' || CAST(doc_id%1000 AS VARCHAR) END AS abstract
        |FROM documents""".stripMargin,
    "q_journal_lookup" ->
      """SELECT k AS o_orderkey,
        |  CASE WHEN k%6=0 AND k%12<>0 THEN 'OA-J-'||k
        |       ELSE COALESCE('J-'||a.n_name, 'J-'||b.n_name) END AS journal_name,
        |  CASE WHEN k%8=0 THEN 'OA-H-'||k
        |       ELSE COALESCE('H-'||a.n_name, 'H-'||b.n_name) END AS publisher
        |FROM (SELECT o_orderkey AS k FROM orders) o
        |LEFT JOIN nation a ON a.n_nationkey = k%30
        |LEFT JOIN nation b ON b.n_nationkey = k%7""".stripMargin,
    "q_apc_lookup" ->
      """WITH c AS (SELECT o_orderkey AS k, year(o_orderdate) AS y,
        |  CASE WHEN o_orderkey%5=0 AND o_orderkey%7>=1 THEN o_orderkey%7-1 END AS c0,
        |  CASE WHEN o_orderkey%3<>0 AND o_orderkey%30<=24 AND (o_orderkey%30)%4<>0
        |            AND year(o_orderdate) BETWEEN 1996 AND 2000
        |       THEN (o_orderkey%30)*100 + (year(o_orderdate)-1992) END AS c1,
        |  CASE WHEN o_orderkey%3<>0 AND (o_orderkey%7)%4<>0
        |            AND year(o_orderdate) BETWEEN 1996 AND 2000
        |       THEN (o_orderkey%7)*100 + (year(o_orderdate)-1992) END AS c2,
        |  CASE WHEN o_orderkey%11=0 THEN 750 END AS c3,
        |  CASE o_orderkey%5 WHEN 0 THEN 'closed' WHEN 1 THEN 'diamond' WHEN 2 THEN 'gold'
        |       WHEN 3 THEN 'hybrid' ELSE 'bronze' END AS oa
        |  FROM orders),
        |cand AS (SELECT k, oa, COALESCE(c0, c1, c2, c3) AS v FROM c)
        |SELECT k AS o_orderkey,
        |  CAST(CASE WHEN k%13=0 THEN 0
        |       WHEN v IS NOT NULL AND oa='closed' THEN 0
        |       WHEN v IS NOT NULL THEN v
        |       WHEN oa='diamond' THEN 0
        |       WHEN oa='gold' THEN 2450
        |       WHEN oa='hybrid' THEN 3600
        |       ELSE NULL END AS BIGINT) AS apc
        |FROM cand""".stripMargin,
    "q_author_orcids" ->
      """SELECT 'u'||c_custkey AS sunetid,
        |  string_split(c_name, '#')[1] AS first_name,
        |  string_split(c_name, '#')[2] AS last_name,
        |  CASE WHEN c_custkey%3=1 THEN 'https://orcid.org/0000-0001-'||lpad(CAST(c_custkey AS VARCHAR),4,'0')
        |       WHEN c_custkey%3=2 THEN '0000-0002-'||lpad(CAST(c_custkey AS VARCHAR),4,'0') END AS orcidid,
        |  c_custkey%2=0 AS orcid_update_scope,
        |  c_mktsegment AS role,
        |  n_name AS primary_school
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q_dedupe_null_doi" ->
      """WITH p AS (SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey%4<>0 THEN '10.1/'||o_orderkey END AS doi,
        |    o_orderdate AS u FROM orders),
        |keyed AS (SELECT k, u,
        |    (CASE k%5 WHEN 0 THEN 'W' WHEN 1 THEN 'D' WHEN 2 THEN 'S' WHEN 3 THEN 'X' ELSE 'P' END)
        |      || CAST(k//40 AS VARCHAR) AS dk
        |  FROM p WHERE doi IS NULL),
        |r AS (SELECT k, dk, row_number() OVER (PARTITION BY dk ORDER BY u DESC, k DESC) AS rn FROM keyed),
        |m AS (SELECT r.k AS old_id, s.k AS new_id
        |      FROM r JOIN (SELECT dk, k FROM r WHERE rn=1) s USING (dk)),
        |nm AS (SELECT new_id, count(*) AS cnt FROM m GROUP BY new_id),
        |fp AS (SELECT p.k, p.doi FROM p
        |       WHERE p.k NOT IN (SELECT old_id FROM m WHERE old_id <> new_id)),
        |a AS (SELECT DISTINCT l_orderkey AS pid, l_suppkey AS aid FROM lineitem
        |      WHERE l_linenumber <= 2 AND l_suppkey%3 <> 0),
        |ar AS (SELECT DISTINCT COALESCE(m.new_id, a.pid) AS pid, aid
        |       FROM a LEFT JOIN m ON m.old_id = a.pid),
        |aagg AS (SELECT pid, string_agg(DISTINCT CAST(aid AS VARCHAR), '|'
        |                  ORDER BY CAST(aid AS VARCHAR)) AS author_ids FROM ar GROUP BY pid),
        |f AS (SELECT DISTINCT l_orderkey AS pid, l_partkey AS fid FROM lineitem
        |      WHERE l_linenumber = 1 AND l_partkey%4 = 0),
        |fr AS (SELECT DISTINCT COALESCE(m.new_id, f.pid) AS pid, fid
        |       FROM f LEFT JOIN m ON m.old_id = f.pid),
        |fagg AS (SELECT pid, string_agg(DISTINCT CAST(fid AS VARCHAR), '|'
        |                  ORDER BY CAST(fid AS VARCHAR)) AS funder_ids FROM fr GROUP BY pid)
        |SELECT fp.k AS pub_id, fp.doi, COALESCE(nm.cnt, 1) AS n_merged,
        |       aagg.author_ids, fagg.funder_ids
        |FROM fp JOIN aagg ON aagg.pid = fp.k
        |LEFT JOIN nm ON nm.new_id = fp.k
        |LEFT JOIN fagg ON fagg.pid = fp.k""".stripMargin,
    "q_citation_distill" ->
      """SELECT o_orderkey,
        |  greatest(
        |    CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 90 END,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 70 END,
        |    CASE WHEN o_orderkey % 5 <> 1 THEN o_orderkey % 40 END) AS citation_count
        |FROM orders""".stripMargin,
    "q_distill_author_names" ->
      """WITH b AS (SELECT o_orderkey AS k FROM orders),
        |n AS (SELECT k,
        |  CASE k%5
        |    WHEN 0 THEN ['OA1_'||k, 'OA2_'||k]
        |    WHEN 1 THEN ['Ann D'||k, 'Bob E'||k]
        |    WHEN 2 THEN ['P'||k, 'Q R'||k]
        |    WHEN 3 THEN CASE WHEN k%2=1 THEN ['W1_'||k, 'W2_'||k] ELSE ['Ws_'||k] END
        |    ELSE CASE WHEN k%3<>0 THEN ['Cg Cf'||k] ELSE ['F. M. Zulu'||k] END
        |  END AS names
        |  FROM b)
        |SELECT k AS o_orderkey,
        |  array_to_string(names, '|') AS authors,
        |  names[1] AS first_author,
        |  names[-1] AS last_author,
        |  CAST(len(names) AS BIGINT) AS n_authors
        |FROM n""".stripMargin,
    "q_distill_author_orcids" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |             lpad(CAST(o_orderkey % 9999 AS VARCHAR), 4, '0') AS lp FROM orders),
        |l AS (SELECT k, lp,
        |  CAST([] AS VARCHAR[])
        |  || (CASE WHEN k%2=0 AND k%6<>0 THEN ['0000-0001-'||lp] ELSE [] END)
        |  || (CASE WHEN k%3=0 THEN ['0000-0002-'||lp] ELSE [] END)
        |  || (CASE WHEN k%4=0 THEN ['0000-0003-'||lp] ELSE [] END)
        |  || (CASE WHEN k%5=0 THEN ['0000-0004-'||lp] ELSE [] END)
        |  || (CASE WHEN k%7=0 THEN ['0000-0005-'||lp] ELSE [] END)
        |  || (CASE WHEN k%2=0 THEN ['0000-0006-'||lp] ELSE [] END) AS ids
        |  FROM b)
        |SELECT k AS o_orderkey,
        |  COALESCE(array_to_string(list_sort(list_distinct(ids)), '|'), '') AS orcids,
        |  CASE WHEN k%2=0 AND k%6<>0 THEN '0000-0001-'||lp
        |       WHEN k%3=0 THEN '0000-0002-'||lp
        |       WHEN k%4=0 THEN '0000-0003-'||lp
        |       WHEN k%5=0 THEN '0000-0004-'||lp
        |       WHEN k%7=0 THEN '0000-0005-'||lp END AS first_orcid,
        |  CASE WHEN k%2=0 THEN '0000-0006-'||lp
        |       WHEN k%5=0 THEN '0000-0004-'||lp
        |       WHEN k%7=0 THEN '0000-0005-'||lp END AS last_orcid
        |FROM l""".stripMargin
  )
}
