package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.functions.{Normalizers, TypeNormalize}
import graft.operators.{Distill, Distillers, Rialto}

/** The reference distiller test MATRIX, ported fixture-for-fixture:
  * every case in /root/reference/test/distiller/test_*.py that
  * exercises pure data semantics has a named twin here, driven by the
  * same JSON payloads (test/distiller/conftest.py + test/conftest.py)
  * through the repo's Column chains. The DuckDB oracle proves
  * Spark ≡ the builder's SQL; THIS file proves Spark ≡ the reference
  * Python's edge-case behavior.
  *
  * Out of scope, by design: the reference's rule-engine plumbing
  * (test_utils.py FuncRule/JsonPathRule dispatch — engine-specific),
  * live OpenAlex API lookups (stubbed as broadcast lookup tables,
  * which IS the engine-level design), and DB-session scaffolding.
  */
class DistillerFixturesSpec extends SparkSpec {
  import spark.implicits._

  private val CurrentYear = 2026

  // ── fixtures (conftest.py, verbatim payloads) ─────────────────────

  private val sulpubJson =
    """{"title": "On the dangers of stochastic parrots (sulpub)",
      |"year": "2020", "issn": "3333-3333", "journal": {"pages": "1-7"}}""".stripMargin

  private val dimJson =
    """{"title": "On the dangers of stochastic parrots (dim)", "year": 2021,
      |"open_access": ["oa_all", "green"], "type": "article", "issn": "1111-1111"}""".stripMargin

  private val openalexJson =
    """{"title": "On the dangers of stochastic parrots (openalex)",
      |"publication_year": 2022, "open_access": {"oa_status": "gold"}, "type": "article",
      |"abstract_inverted_index": {"This": [0], "is": [1, 5], "an": [2], "abstract": [3],
      |  "which": [4], "inverted.": [6]},
      |"primary_location": {"source": {"id": "https://openalex.org/S2764375719",
      |  "display_name": "Choice Reviews Online", "issn_l": "0009-4978",
      |  "issn": ["0009-4978", "1523-8253", "1943-5975"],
      |  "host_organization_name": "Association of College and Research Libraries",
      |  "type": "journal"}},
      |"biblio": {"issue": "11", "first_page": "1", "last_page": "9", "volume": "2"}}""".stripMargin

  private val wosJson =
    """{"static_data": {"summary": {"pub_info": {"pubyear": 2023},
      |"titles": {"count": 6, "title": [
      |  {"type": "source", "content": "FAccT '21: Proceedings"},
      |  {"type": "source_abbrev", "content": "FAACT"},
      |  {"type": "abbrev_iso", "content": "FAccT J."},
      |  {"type": "item", "content": "On the dangers of stochastic parrots (wos)"}]}}}}""".stripMargin

  // test/conftest.py pubmed_json — the four-segment abstract with a
  // null "#text" and a label-only segment.
  private val pubmedJson =
    """{"MedlineCitation": {"Article": {"ArticleTitle": "Example Title",
      |"Abstract": {"AbstractText": [
      |  {"#text": "Comorbid insomnia with obstructive sleep apnea (COMISA) is associated with worse daytime function and more medical/psychiatric comorbidities vs either condition alone.",
      |   "@Label": "OBJECTIVE/BACKGROUND"},
      |  {"#text": "E2006-G000-304 was a phase 3, one-month polysomnography trial in adults aged \u226555 years with insomnia."},
      |  {"#text": null}, {"@Label": "METHODS"}]},
      |"Title": "Example Journal"}}}""".stripMargin

  // ── parse helpers (the engine-level from_json realization of the
  //    reference's jsonpath rules) ────────────────────────────────────

  private def ddl(s: String): DataType = DataType.fromDDL(s)

  private val wosTitlesSchema = ddl(
    "STRUCT<static_data: STRUCT<summary: STRUCT<titles: STRUCT<title: ARRAY<STRUCT<type: STRING, content: STRING>>>>>>")

  /** The WOS fixture's `titles` is an OBJECT holding a `title` list
    * (the reference jsonpath `titles[*].title[*]` spans both shapes);
    * wrap the parsed object as the one-element array [[Distillers.wosTitle]]
    * expects.
    */
  private def wosTitles(c: Column): Column = {
    val t = from_json(c, wosTitlesSchema).getField("static_data").getField("summary").getField("titles")
    when(t.isNotNull, array(t))
  }

  private def jstr(c: Column, path: String): Column = get_json_object(c, "$." + path)

  private def distillTitle(sul: Column, dim: Column, oa: Column, wos: Column): Column =
    Distillers.title(jstr(sul, "title"), jstr(sul, "booktitle"), jstr(dim, "title"),
      jstr(oa, "title"), wosTitles(wos))

  private def distillPubYear(sul: Column, dim: Column, oa: Column, wos: Column): Column =
    Distillers.pubYear(jstr(dim, "year"), jstr(oa, "publication_year"),
      jstr(wos, "static_data.summary.pub_info.pubyear"),
      jstr(sul, "year"), jstr(sul, "journal.year"), CurrentYear)

  // ── title.py ──────────────────────────────────────────────────────

  test("title precedence: sulpub > dim > openalex > wos (test_title.py peel-away)") {
    val cases = Seq(
      (sulpubJson, dimJson, openalexJson, wosJson, "On the dangers of stochastic parrots (sulpub)"),
      (null, dimJson, openalexJson, wosJson, "On the dangers of stochastic parrots (dim)"),
      (null, null, openalexJson, wosJson, "On the dangers of stochastic parrots (openalex)"),
      (null, null, null, wosJson, "On the dangers of stochastic parrots (wos)"),
      (null, null, null, null, null)
    )
    val out = cases.toDF("sul", "dim", "oa", "wos", "expected")
      .select(distillTitle(col("sul"), col("dim"), col("oa"), col("wos")).as("t"), col("expected"))
      .collect()
    out.foreach(r => assert(Option(r.getString(0)) == Option(r.getString(1))))
  }

  test("title from sulpub booktitle when nothing else has one (test_title_booktitle)") {
    val out = Seq("""{"booktitle": "Gravity's Rainbow"}""").toDF("sul")
      .select(distillTitle(col("sul"), lit(null), lit(null), lit(null)).as("t"))
      .collect()(0)
    assert(out.getString(0) == "Gravity's Rainbow")
  }

  // ── pub_year.py ───────────────────────────────────────────────────

  test("pub_year precedence + validity (test_pub_year.py matrix)") {
    val dimFuture = """{"title": "x", "year": "2105", "type": "article"}"""
    val cases = Seq(
      // (sul, dim, oa, wos, expected)
      (sulpubJson, null, null, null, Some(2020L)),             // test_sulpub
      (null, dimJson, openalexJson, wosJson, Some(2021L)),     // test_dim
      (sulpubJson, dimFuture, openalexJson, wosJson, Some(2022L)), // test_dim_future -> openalex
      (sulpubJson, null, openalexJson, wosJson, Some(2022L)),  // test_openalex
      (sulpubJson, null, null, wosJson, Some(2023L)),          // test_wos
      (null, null, null, null, None),                          // test_none
      ("""{"year": "nope"}""", """{"year": null}""", null, null, None), // test_non_int_year
      (null, """{"year": "nope"}""", """{"publication_year": 2022}""", null, Some(2022L)) // fallback
    )
    val out = cases.map { case (s, d, o, w, _) => (s, d, o, w) }
      .toDF("sul", "dim", "oa", "wos")
      .select(distillPubYear(col("sul"), col("dim"), col("oa"), col("wos")).as("y"))
      .collect()
    out.zip(cases).foreach { case (r, c) =>
      assert((if (r.isNullAt(0)) None else Some(r.getLong(0))) == c._5, s"case $c")
    }
  }

  test("pub_year from sulpub journal.year when not at top level (test_from_journal_sulpub)") {
    val sul = """{"title": "x", "issn": "3333-3333", "journal": {"name": "J", "year": "2013", "issue": "1"}}"""
    val out = Seq(sul).toDF("sul")
      .select(distillPubYear(col("sul"), lit(null), lit(null), lit(null)).as("y")).collect()(0)
    assert(out.getLong(0) == 2013L)
  }

  // ── issue.py / volume.py ──────────────────────────────────────────

  test("issue/volume peel-away precedence incl. list arm (test_issue.py, test_volume.py)") {
    val oaI = """{"biblio": {"issue": "2", "volume": "1"}}"""
    val dimI = """{"issue": "4", "volume": "3"}"""
    val pmI = """{"MedlineCitation": {"Article": {"Journal": {"JournalIssue": {"Issue": "6", "Volume": "5"}}}}}"""
    val sulI = """{"journal": {"issue": "8", "volume": "7"}}"""
    val cases = Seq(
      (oaI, dimI, pmI, sulI, "2", "1"),
      (null, dimI, pmI, sulI, "4", "3"),
      (null, null, pmI, sulI, "6", "5"),
      (null, null, null, sulI, "8", "7"),
      (null, null, null, null, null, null)
    )
    val out = cases.toDF("oa", "dim", "pm", "sul", "expI", "expV")
      .select(
        Distillers.issue(
          (jstr(col("oa"), "biblio.issue"), true), (jstr(col("dim"), "issue"), true),
          (jstr(col("pm"), "MedlineCitation.Article.Journal.JournalIssue.Issue"), true),
          (jstr(col("sul"), "journal.issue"), true)).as("i"),
        Distillers.volume(
          (jstr(col("oa"), "biblio.volume"), true), (jstr(col("dim"), "volume"), true),
          (jstr(col("pm"), "MedlineCitation.Article.Journal.JournalIssue.Volume"), true),
          (jstr(col("sul"), "journal.volume"), true)).as("v"),
        col("expI"), col("expV"))
      .collect()
    out.foreach { r =>
      assert(Option(r.getString(0)) == Option(r.getString(2)))
      assert(Option(r.getString(1)) == Option(r.getString(3)))
    }
  }

  test("issue/volume list arm takes the head (test_issue_list, test_volume_list)") {
    import Distillers.ScalarKind._
    val oa = Seq(("""{"biblio": {"issue": ["615"], "volume": ["24"]}}""")).toDF("oa")
      .select(from_json(col("oa"), ddl("STRUCT<biblio: STRUCT<issue: ARRAY<STRING>, volume: ARRAY<STRING>>>")).as("j"))
    val out = oa.select(
      Distillers.firstScalar(Seq((col("j.biblio.issue"), StrList))).as("i"),
      Distillers.firstScalar(Seq((col("j.biblio.volume"), StrList))).as("v")).collect()(0)
    assert(out.getString(0) == "615" && out.getString(1) == "24")
  }

  // ── pages.py ──────────────────────────────────────────────────────

  private def distillPages(oa: Column, dim: Column, sul: Column): Column =
    Distill.firstValid(
      Distill.pagesRange(jstr(oa, "biblio.first_page"), jstr(oa, "biblio.last_page")),
      jstr(dim, "pages"),
      jstr(sul, "journal.pages"))

  test("pages: openalex range, start-only, end-only, dim, sulpub (test_pages.py)") {
    val cases = Seq(
      (openalexJson, null, null, "1-9"),                                        // test_openalex
      ("""{"biblio": {"issue": "11", "first_page": "1", "volume": "2"}}""", null, null, "1"),
      ("""{"biblio": {"issue": "11", "last_page": "9", "volume": "2"}}""", null, null, "9"),
      (null, null, sulpubJson, "1-7"),                                          // test_sulpub_fields
      (null, """{"pages": "1-10", "doi": "10.000/000003"}""", null, "1-10")     // test_dimensions_fields
    )
    val out = cases.toDF("oa", "dim", "sul", "expected")
      .select(distillPages(col("oa"), col("dim"), col("sul")).as("p"), col("expected"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  // ── abstract.py ───────────────────────────────────────────────────

  test("pubmed abstract: fixture segment join drops null-#text and label-only segments (test_pubmed_abstract)") {
    val out = Seq(pubmedJson).toDF("pm")
      .select(Distillers.pubmedAbstract(col("pm")).as("a")).collect()(0)
    assert(out.getString(0) ==
      "Comorbid insomnia with obstructive sleep apnea (COMISA) is associated with worse daytime function and more medical/psychiatric comorbidities vs either condition alone. E2006-G000-304 was a phase 3, one-month polysomnography trial in adults aged \u226555 years with insomnia.")
  }

  test("pubmed abstract: plain string segments join; absent Abstract is None (test_pubmed, test_pubmed_fields_no_abstract)") {
    val strings =
      """{"MedlineCitation": {"Article": {"Abstract": {"AbstractText":
        |["This is the abstract.", "It provides a summary of the article."]}}}}""".stripMargin
    val noAbs = """{"MedlineCitation": {"Article": {"ArticleTitle": "Example Title"}}}"""
    val out = Seq(strings, noAbs).toDF("pm")
      .select(Distillers.pubmedAbstract(col("pm")).as("a")).collect()
    assert(out(0).getString(0) == "This is the abstract. It provides a summary of the article.")
    assert(out(1).isNullAt(0))
  }

  test("abstract chain: dim passthrough, openalex inverted rebuild, null index (test_dimensions_fields, test_openalex, test_rebuild_empty_abstract)") {
    val invIdx = ddl("MAP<STRING, ARRAY<INT>>")
    val cases = Seq(
      (null, "This is a sample Dimensions abstract.", null, null,
        "This is a sample Dimensions abstract."),
      (openalexJson, null, null, null, "This is an abstract which is inverted."),
      ("""{"id": "https://openalex.org/W123456789", "abstract_inverted_index": null}""",
        null, null, null, null)
    )
    val out = cases.toDF("oa", "dimAbs", "pm", "cx", "expected")
      .select(Distillers.abstractOf(
        from_json(jstr(col("oa"), "abstract_inverted_index"), invIdx),
        col("dimAbs"), col("pm"), col("cx")).as("a"), col("expected"))
      .collect()
    out.foreach(r => assert(Option(r.getString(0)) == Option(r.getString(1))))
  }

  test("crossref abstract: the full jats/tag/edge matrix (test_crossref_abstract_*)") {
    val cases = Seq(
      ("<jats:title>Abstract</jats:title><jats:p>A generic search is presented for the associated production of a Z boson or a photon with an additional unspecified massive particle X.</jats:p>",
        "A generic search is presented for the associated production of a Z boson or a photon with an additional unspecified massive particle X."),
      // multiple paragraphs: tags stripped, NO space inserted between them
      ("<jats:title>Abstract</jats:title><jats:p>First paragraph of abstract.</jats:p><jats:p>Second paragraph continues here.</jats:p>",
        "First paragraph of abstract.Second paragraph continues here."),
      ("<p>Text with <b>bold</b> and <i>italic</i> formatting.</p>",
        "Text with bold and italic formatting."),
      ("This is a plain abstract without any markup.",
        "This is a plain abstract without any markup."),
      // angle brackets in prose are NOT tags: "< 3" does not open one
      ("We compare values where 2 < 3 and X > Y in our analysis.",
        "We compare values where 2 < 3 and X > Y in our analysis."),
      ("", ""),
      // only a jats:title block -> nothing left after the title> split
      ("<jats:title>Abstract</jats:title>", "")
    )
    val out = cases.toDF("markup", "expected")
      .select(Distillers.crossrefAbstract(col("markup")).as("a"), col("expected"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1), s"got '${r.getString(0)}'"))
    // missing abstract key / null markup -> NULL (falls out of the chain)
    val none = Seq(Option.empty[String]).toDF("m")
      .select(Distillers.crossrefAbstract(col("m")).as("a")).collect()(0)
    assert(none.isNullAt(0))
  }

  // ── open_access.py ────────────────────────────────────────────────

  private def distillOa(types: Column, dim: Column, oa: Column): Column =
    Distill.openAccess(types,
      from_json(jstr(dim, "open_access"), ddl("ARRAY<STRING>")),
      jstr(oa, "open_access.oa_status"))

  test("open_access: dim beats openalex, oa_all skipped, preprint short-circuit (test_open_access.py)") {
    val noTypes = array().cast("array<string>")
    val cases = Seq(
      (dimJson, null, "green"),                       // test_dimensions
      (dimJson, """{"open_access": []}""", "green"),  // test_open_access_null
      (dimJson, openalexJson, "green"),               // test_prefer_dimensions
      (null, openalexJson, "gold"),                   // test_fallback_to_openalex
      ("""{"open_access": []}""", """{"open_access": []}""", null) // neither
    )
    val out = cases.toDF("dim", "oa", "expected")
      .select(distillOa(noTypes, col("dim"), col("oa")).as("v"), col("expected"))
      .collect()
    out.foreach(r => assert(Option(r.getString(0)) == Option(r.getString(1))))

    // preprint short-circuits regardless of either source's status
    val pp = Seq(
      (null, """{"type": "preprint", "open_access": {"oa_status": "gold"}}"""),
      ("""{"type": "preprint", "open_access": ["oa_all", "closed"]}""", null),
      ("""{"type": "preprint", "open_access": ["oa_all", "green"]}""",
        """{"type": "preprint", "open_access": {"oa_status": "gold"}}""")
    ).toDF("dim", "oa")
      .select(distillOa(array(lit("Preprint")), col("dim"), col("oa")).as("v"))
      .collect()
    pp.foreach(r => assert(r.getString(0) == "preprint"))
  }

  // ── apc.py ────────────────────────────────────────────────────────

  test("apc: value rules, dataset lookup, OA defaults, preprint gate (test_apc.py matrix)") {
    // the 2024 dataset fixture row the reference's test_dataset hits
    val apcLookup = Seq(("2376-0605", "2376-0613", 2022, 400L))
      .toDF("issn_1", "issn_2", "apc_year", "apc_usd")

    val cases = Seq(
      // (id, oaJson, dimJson, pubYear, oaStatus, onlyPreprint, expected)
      (1L, """{"apc_paid": {"value_usd": 123}, "apc_list": {"value_usd": 1234}}""",
        null, None, None, false, Some(123L)),                      // test_openalex
      (2L, """{"apc_list": {"value_usd": 1234}}""",
        null, None, None, false, Some(1234L)),                     // test_openalex_fallback
      (3L, """{"apc_paid": {"value_usd": -123}}""",
        null, None, None, false, None),                            // test_negative
      (4L, """{"apc_paid": {"value_usd": "junk"}}""",
        null, None, None, false, None),                            // test_not_a_number
      (5L, null, """{"year": 2022, "apc_list": {"value_usd": 123}, "issn": ["1234-5678", "2376-0605"]}""",
        Some(2022L), None, false, Some(400L)),                     // test_dataset
      (6L, """{"apc_paid": {"value_usd": 123}}""", """{"year": 2021, "issn": null}""",
        Some(2021L), Some("closed"), false, Some(0L)),             // test_closed_oa
      (7L, null, """{"year": 2021, "issn": null}""",
        Some(2021L), Some("diamond"), false, Some(0L)),            // test_diamond_apc
      (8L, null, """{"year": 2021, "issn": null}""",
        Some(2021L), Some("hybrid"), false, Some(3600L)),          // test_hybrid_apc
      (9L, null, """{"year": 2021, "issn": null}""",
        Some(2021L), Some("gold"), false, Some(2450L)),            // test_gold_apc
      (10L, null, """{"year": 2022, "apc_list": {"value_usd": 123}, "issn": null}""",
        Some(2022L), None, false, None),                           // test_missing_dim_issn
      (11L, """{"apc_paid": {"value_usd": 123}}""",
        null, None, None, true, Some(0L)),                         // preprint only
      (12L, """{"apc_paid": {"value_usd": 123}}""",
        null, None, Some("bronze"), false, Some(123L))             // Preprint+Article keeps 123
    )

    val base = cases.map { case (id, oa, dim, py, st, pp, _) =>
      (id, oa, dim, py.map(Long.box).orNull, st.orNull, pp)
    }.toDF("id", "oa", "dim", "pub_year", "oa_status", "only_preprint")
      .withColumn("dim_issns",
        when(col("pub_year").isNotNull,
          from_json(jstr(col("dim"), "issn"), ddl("ARRAY<STRING>"))))

    // apc_paid -> dataset -> apc_list (apc.py rule order), then the
    // closed/diamond/gold/hybrid resolution in Rialto.apc.
    val looked = Rialto.apcDatasetLookup(base, "dim_issns", "pub_year", apcLookup)
    val out = looked.select(col("id"),
        Rialto.apc(
          Distill.firstValid(
            Distill.positiveNumber(jstr(col("oa"), "apc_paid.value_usd")),
            col("apc_dataset"),
            Distill.positiveNumber(jstr(col("oa"), "apc_list.value_usd"))),
          col("oa_status"), col("only_preprint")).as("apc"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    cases.foreach { c => assert(out(c._1) == c._7, s"case ${c._1}") }
  }

  // ── citation_count.py ─────────────────────────────────────────────

  test("citation_count: sulpub-only publication has none (test_citation_count.py)") {
    val out = Seq(sulpubJson).toDF("sul")
      .select(Distillers.citationCount(
        lit(null).cast("long"), lit(null).cast("long"),
        lit(null).cast("array<struct<coll_id: string, local_count: long>>")).as("c"))
      .collect()(0)
    assert(out.isNullAt(0))
  }

  // ── types.py ──────────────────────────────────────────────────────

  test("types: peel-away precedence, pubmed list dedupe+sort, unknown json -> [] (test_types)") {
    val dimT = """{"type": "Book"}"""
    val oaT = """{"type": "Chapter"}"""
    val sulT = """{"type": "Dissertation"}"""
    val cxT = """{"type": "Dataset"}"""
    val wosT = """{"static_data": {"fullrecord_metadata": {"normalized_doctypes": {"doctype": "Article"}}}}"""
    val pmT =
      """{"MedlineCitation": {"Article": {"PublicationTypeList": {"PublicationType": [
        |{"#text": "Article"}, {"#text": "Preprint"}, {"#text": "Article"}]}}}}""".stripMargin

    def pmTypes(c: Column): Column =
      transform(
        from_json(jstr(c, "MedlineCitation.Article.PublicationTypeList.PublicationType"),
          ddl("ARRAY<STRUCT<`#text`: STRING>>")),
        x => x.getField("#text"))

    def typesOf(dim: Column, oa: Column, pm: Column, wos: Column, cx: Column, sul: Column): Column = {
      // an empty candidate array is a rule MISS (falls through), not a hit
      def hitOrMiss(c: Column) = when(size(c) > 0, c)
      val hit = Distill.firstValid(
        hitOrMiss(Distillers.one(jstr(dim, "type"))),
        hitOrMiss(Distillers.one(jstr(oa, "type"))),
        hitOrMiss(pmTypes(pm)),
        hitOrMiss(Distillers.one(jstr(wos, "static_data.fullrecord_metadata.normalized_doctypes.doctype"))),
        hitOrMiss(Distillers.one(jstr(cx, "type"))),
        hitOrMiss(Distillers.one(jstr(sul, "type"))))
      TypeNormalize.normalizeTypes(coalesce(hit, array().cast("array<string>")))
    }

    val cases = Seq(
      (dimT, oaT, pmT, wosT, cxT, sulT, Seq("Book")),
      (null, oaT, pmT, wosT, cxT, sulT, Seq("Chapter")),
      (null, null, pmT, wosT, cxT, sulT, Seq("Article", "Preprint")),
      (null, null, null, wosT, cxT, sulT, Seq("Article")),
      (null, null, null, null, cxT, sulT, Seq("Dataset")),
      (null, null, null, null, null, sulT, Seq("Dissertation")),
      (null, null, null, null, null, """{"foo": "bar"}""", Seq.empty[String]),
      (null, null, null, null, null, "{}", Seq.empty[String])
    )
    val out = cases.map(c => (c._1, c._2, c._3, c._4, c._5, c._6)).toDF("dim", "oa", "pm", "wos", "cx", "sul")
      .select(typesOf(col("dim"), col("oa"), col("pm"), col("wos"), col("cx"), col("sul")).as("t"))
      .collect()
    out.zip(cases).foreach { case (r, c) => assert(r.getSeq[String](0) == c._7, s"case $c") }
  }

  test("_normalize_type: the full reference mapping table (test_normalize_type)") {
    val cases = Seq(
      "book" -> "Book", "book-chapter" -> "Chapter", "book-part" -> "Chapter",
      "book-section" -> "Chapter", "book-series" -> "Other", "book-set" -> "Other",
      "component" -> "Other", "database" -> "Other", "dataset" -> "Dataset",
      "dissertation" -> "Dissertation", "edited-book" -> "Book", "journal" -> "Other",
      "journal article" -> "Article", "journal-article" -> "Article",
      "journal-issue" -> "Other", "monograph" -> "Book", "other" -> "Other",
      "posted-content" -> "Other", "proceedings" -> "Other",
      "proceedings-article" -> "Article", "reference-book" -> "Other",
      "reference-entry" -> "Other", "report" -> "Other", "report-component" -> "Other",
      "report-series" -> "Other", "standard" -> "Other", "abstract" -> "Other",
      "address" -> "Other", "art and literature" -> "Other", "article" -> "Article",
      "bibliography" -> "Other", "biography" -> "Book", "case reports" -> "Other",
      "caseStudy" -> "Other", "chapter" -> "Chapter", "congress" -> "Other",
      "correction" -> "Correction/Retraction", "data paper" -> "Article",
      "data set" -> "Dataset", "data study" -> "Other", "dictionary" -> "Other",
      "early access" -> "Article", "editorial" -> "Editorial Material ",
      "editorial material" -> "Editorial Material ",
      "erratum" -> "Correction/Retraction",
      "expression of concern" -> "Correction/Retraction", "festschrift" -> "Book",
      "inbook" -> "Chapter", "inproceedings" -> "Article", "interview" -> "Other",
      "introductory journal article" -> "Other",
      "item withdrawal" -> "Correction/Retraction", "lecture" -> "Other",
      "letter" -> "Other", "libguides" -> "Other", "meeting" -> "Other",
      "news" -> "Other", "otherPaper" -> "Other", "paratext" -> "Other",
      "patient education handout" -> "Other", "peer-review" -> "Other",
      "personal narrative" -> "Other", "preprint" -> "Preprint",
      "proceeding" -> "Article",
      "publication with expression of concern" -> "Correction/Retraction",
      "published erratum" -> "Correction/Retraction",
      "retracted publication" -> "Correction/Retraction",
      "retraction" -> "Correction/Retraction",
      "retraction notice" -> "Correction/Retraction", "review" -> "Article",
      "seminar" -> "Other", "supplementary-materials" -> "Other",
      "technicalReport" -> "Other", "withdrawn publication" -> "Correction/Retraction",
      "workingPaper" -> "Other", "autobiography" -> "Book",
      "clinical conference" -> "Other", "clinical study" -> "Other",
      "clinical trial" -> "Other", "clinical trial protocol" -> "Other",
      "clinical trial, phase i" -> "Other", "clinical trial, phase ii" -> "Other",
      "clinical trial, phase iii" -> "Other", "clinical trial, phase iv" -> "Other",
      "comment" -> "Other", "comparative study" -> "Other",
      "consensus development conference" -> "Other",
      "consensus development conference, nih" -> "Other",
      "controlled clinical trial" -> "Other", "english abstract" -> "Other",
      "equivalence trial" -> "Other", "evaluation study" -> "Other",
      "guideline" -> "Other", "historical article" -> "Article",
      "interactive tutorial" -> "Other", "legal case" -> "Other",
      "meta-analysis" -> "Article", "multicenter study" -> "Other",
      "network meta-analysis" -> "Article", "observational study" -> "Other",
      "overall" -> "Other", "portrait" -> "Other", "practice guideline" -> "Other",
      "pragmatic clinical trial" -> "Other",
      "randomized controlled trial" -> "Other",
      "research support, american recovery and reinvestment act" -> "Other",
      "research support, n.i.h., extramural" -> "Other",
      "research support, n.i.h., intramural" -> "Other",
      "research support, non-u.s. gov't" -> "Other",
      "research support, u.s. gov't, non-p.h.s." -> "Other",
      "research support, u.s. gov't, p.h.s." -> "Other",
      "scoping review" -> "Article", "systematic review" -> "Article",
      "technical report" -> "Other", "twin study" -> "Other",
      "validation study" -> "Other", "video-audio media" -> "Other",
      "webcast" -> "Other",
      "awesome" -> "Awesome" // no mapping -> capitalize
    )
    val out = cases.map(_._1).toDF("t")
      .select(col("t"), TypeNormalize.normalizeType(col("t")).as("n")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, exp) => assert(out(in) == exp, s"'$in'") }
  }

  // ── author_names.py ───────────────────────────────────────────────

  // pub_with_authors fixture, per-source author JSON payloads
  private val oaAuthors =
    """{"authorships": [
      |{"author": {"display_name": "Jane Open Alex", "orcid": "jane-open-alex"}},
      |{"author": {"display_name": "Mike Open Alex", "orcid": "mike-open-alex"}},
      |{"author": {"display_name": "Leland Open Alex", "orcid": "leland-open-alex"}}]}""".stripMargin
  private val dimAuthors =
    """{"authors": [
      |{"first_name": "Jane", "last_name": "Dimensions", "orcid": ["jane-dimensions"]},
      |{"first_name": "Mike", "last_name": "Dimensions", "orcid": ["mike-dimensions"]},
      |{"first_name": "Leland", "last_name": "Dimensions", "orcid": ["leland-dimensions"]}]}""".stripMargin
  private val pmAuthors =
    """{"MedlineCitation": {"Article": {"AuthorList": {"Author": [
      |{"ForeName": "Jane", "LastName": "Pubmed", "Identifier": {"@Source": "ORCID", "#text": "jane-pubmed"}},
      |{"ForeName": "Mike", "LastName": "Pubmed", "Identifier": {"@Source": "ORCID", "#text": "mike-pubmed"}},
      |{"ForeName": "Leland", "LastName": "Pubmed", "Identifier": {"@Source": "ORCID", "#text": "leland-pubmed"}}]}}}}""".stripMargin
  private val wosAuthors =
    """{"static_data": {"summary": {"names": {"name": [
      |{"display_name": "Jane Wos", "orcid_id": "jane-wos"},
      |{"display_name": "Mike Wos", "orcid_id": "mike-wos"},
      |{"display_name": "Leland Wos", "orcid_id": "leland-wos"}]}}}}""".stripMargin
  private val cxAuthors =
    """{"author": [
      |{"given": "Jane", "family": "Crossref", "ORCID": "https://orcid.org/jane-crossref"},
      |{"given": "Mike", "family": "Crossref", "ORCID": "https://orcid.org/mike-crossref"},
      |{"given": "Leland", "family": "Crossref", "ORCID": "https://orcid.org/leland-crossref"}]}""".stripMargin
  private val sulAuthors =
    """{"author": [
      |{"name": "Sulpub, Jane Elizabeth Lathrop"}, {"name": "Sulpub, Mike"},
      |{"name": "Sulpub, Leland DeWitt"}]}""".stripMargin
  // one_author fixture: Author / name as a SINGLE OBJECT, not a list —
  // from_json with an array-root schema wraps the object.
  private val pmOneAuthor =
    """{"MedlineCitation": {"Article": {"AuthorList": {"Author":
      |{"ForeName": "Jane", "LastName": "Pubmed", "Identifier": {"@Source": "ORCID", "#text": "jane-pubmed"}}}}}}""".stripMargin
  private val wosOneAuthor =
    """{"static_data": {"summary": {"names": {"name":
      |{"display_name": "Jane Wos", "orcid_id": "jane-wos"}}}}}""".stripMargin

  private val pmAuthorSchema = ddl(
    "ARRAY<STRUCT<ForeName: STRING, LastName: STRING, " +
      "Identifier: STRUCT<`@Source`: STRING, `#text`: STRING>>>")
  private val pmAuthorIdListSchema = ddl(
    "ARRAY<STRUCT<ForeName: STRING, LastName: STRING, " +
      "Identifier: ARRAY<STRUCT<`@Source`: STRING, `#text`: STRING>>>>")
  private val wosNameSchema = ddl("ARRAY<STRUCT<display_name: STRING, orcid_id: STRING>>")

  private def pmAuthorArr(pm: Column): Column =
    from_json(jstr(pm, "MedlineCitation.Article.AuthorList.Author"), pmAuthorSchema)
  private def wosNameArr(wos: Column): Column =
    from_json(jstr(wos, "static_data.summary.names.name"), wosNameSchema)

  private def namesOf(oa: Column, dim: Column, pm: Column, wos: Column, cx: Column, sul: Column): Column =
    Distillers.authorListNames(
      transform(from_json(jstr(oa, "authorships"), ddl("ARRAY<STRUCT<author: STRUCT<display_name: STRING>>>")),
        x => x.getField("author").getField("display_name")),
      Distillers.joinedNames(
        from_json(jstr(dim, "authors"), ddl("ARRAY<STRUCT<first_name: STRING, last_name: STRING>>")),
        "first_name", "last_name", strict = true),
      Distillers.joinedNames(pmAuthorArr(pm), "ForeName", "LastName"),
      transform(wosNameArr(wos), x => x.getField("display_name")),
      Distillers.joinedNames(from_json(jstr(cx, "author"), ddl("ARRAY<STRUCT<given: STRING, family: STRING>>")),
        "given", "family"),
      transform(
        from_json(jstr(sul, "author"), ddl("ARRAY<STRUCT<name: STRING>>")),
        x => Normalizers.flipName(x.getField("name"))))

  test("author_list_names: six-source peel-away with sulpub comma-flip (test_author_names)") {
    val cases = Seq(
      (oaAuthors, dimAuthors, pmAuthors, wosAuthors, cxAuthors, sulAuthors,
        Seq("Jane Open Alex", "Mike Open Alex", "Leland Open Alex")),
      (null, dimAuthors, pmAuthors, wosAuthors, cxAuthors, sulAuthors,
        Seq("Jane Dimensions", "Mike Dimensions", "Leland Dimensions")),
      (null, null, pmAuthors, wosAuthors, cxAuthors, sulAuthors,
        Seq("Jane Pubmed", "Mike Pubmed", "Leland Pubmed")),
      (null, null, null, wosAuthors, cxAuthors, sulAuthors,
        Seq("Jane Wos", "Mike Wos", "Leland Wos")),
      (null, null, null, null, cxAuthors, sulAuthors,
        Seq("Jane Crossref", "Mike Crossref", "Leland Crossref")),
      (null, null, null, null, null, sulAuthors,
        Seq("Jane Elizabeth Lathrop Sulpub", "Mike Sulpub", "Leland DeWitt Sulpub")),
      (null, null, null, null, null, null, Seq.empty[String])
    )
    val out = cases.map(c => (c._1, c._2, c._3, c._4, c._5, c._6))
      .toDF("oa", "dim", "pm", "wos", "cx", "sul")
      .select(namesOf(col("oa"), col("dim"), col("pm"), col("wos"), col("cx"), col("sul")).as("n"))
      .collect()
    out.zip(cases).foreach { case (r, c) =>
      val names = r.getSeq[String](0)
      assert(names == c._7, s"case $c")
      val first = if (names.isEmpty) None else Some(names.head)
      val last = if (names.isEmpty) None else Some(names.last)
      assert(first == c._7.headOption && last == c._7.lastOption)
    }
  }

  test("author names: single-object Author/name variants parse as one-element lists (test_one_author)") {
    val out = Seq((pmOneAuthor, wosOneAuthor), (null, wosOneAuthor))
      .toDF("pm", "wos")
      .select(namesOf(lit(null), lit(null), col("pm"), col("wos"), lit(null), lit(null)).as("n"))
      .collect()
    assert(out(0).getSeq[String](0) == Seq("Jane Pubmed"))
    assert(out(1).getSeq[String](0) == Seq("Jane Wos"))
  }

  test("author names: missing given/fore names are skipped, not blanked (test_crossref_missing_given_name, test_pubmed_missing_given_name)") {
    val cx = """{"author": [{"family": "Crossref", "ORCID": "https://orcid.org/jane-crossref"},
               |{"given": "Mike", "family": "Crossref", "ORCID": "https://orcid.org/mike-crossref"}]}""".stripMargin
    val pm = """{"MedlineCitation": {"Article": {"AuthorList": {"Author": [
               |{"LastName": "Pubmed", "Identifier": {"@Source": "ORCID", "#text": "jane-pubmed"}},
               |{"ForeName": "Mike", "LastName": "Pubmed", "Identifier": {"@Source": "ORCID", "#text": "mike-pubmed"}}]}}}}""".stripMargin
    val out = Seq((cx, null), (null, pm)).toDF("cx", "pm")
      .select(namesOf(lit(null), lit(null), col("pm"), lit(null), col("cx"), lit(null)).as("n"))
      .collect()
    assert(out(0).getSeq[String](0) == Seq("Crossref", "Mike Crossref"))
    assert(out(1).getSeq[String](0) == Seq("Pubmed", "Mike Pubmed"))
  }

  // ── author_orcids.py ──────────────────────────────────────────────

  /** Identifier is a dict OR a list of dicts (author_orcids.py:82-99):
    * parse under both schemas and take whichever field survived.
    */
  private def pmIdentifiers(pm: Column): Column = {
    val raw = jstr(pm, "MedlineCitation.Article.AuthorList.Author")
    val asStruct = from_json(raw, pmAuthorSchema)
    val asList = from_json(raw, pmAuthorIdListSchema)
    flatten(zip_with(asList, asStruct,
      (l, s) => coalesce(l.getField("Identifier"),
        filter(array(s.getField("Identifier")), x => x.isNotNull))))
  }

  private def orcidsOf(oa: Column, dim: Column, pm: Column, wos: Column, cx: Column): Column =
    Distillers.authorListOrcids(
      transform(from_json(jstr(oa, "authorships"), ddl("ARRAY<STRUCT<author: STRUCT<orcid: STRING>>>")),
        x => x.getField("author").getField("orcid")),
      flatten(transform(from_json(jstr(dim, "authors"), ddl("ARRAY<STRUCT<orcid: ARRAY<STRING>>>")),
        x => x.getField("orcid"))),
      Distillers.pubmedOrcids(
        transform(pmIdentifiers(pm),
          i => struct(i.getField("@Source").as("source"), i.getField("#text").as("text")))),
      transform(wosNameArr(wos), x => x.getField("orcid_id")),
      transform(from_json(jstr(cx, "author"), ddl("ARRAY<STRUCT<ORCID: STRING>>")),
        x => x.getField("ORCID")))

  private def positionalOrcidsOf(oa: Column, dim: Column, pm: Column, wos: Column, cx: Column,
      pos: Int): Column = {
    val p = lit(pos)
    val pmIds = pmIdentifiers(pm) // flattened across authors; per-author below
    val raw = jstr(pm, "MedlineCitation.Article.AuthorList.Author")
    val asStruct = from_json(raw, pmAuthorSchema)
    val asList = from_json(raw, pmAuthorIdListSchema)
    val pmAuthorIds = zip_with(asList, asStruct,
      (l, s) => coalesce(l.getField("Identifier"),
        filter(array(s.getField("Identifier")), x => x.isNotNull)))
    val pmPosIds = transform(try_element_at(pmAuthorIds, p),
      i => struct(i.getField("@Source").as("source"), i.getField("#text").as("text")))
    val _ = pmIds
    Distillers.positionalOrcid(
      try_element_at(from_json(jstr(oa, "authorships"), ddl("ARRAY<STRUCT<author: STRUCT<orcid: STRING>>>")), p)
        .getField("author").getField("orcid"),
      try_element_at(
        try_element_at(from_json(jstr(dim, "authors"), ddl("ARRAY<STRUCT<orcid: ARRAY<STRING>>>")), p)
          .getField("orcid"), lit(1)),
      try_element_at(Distillers.pubmedOrcids(pmPosIds), lit(1)),
      try_element_at(wosNameArr(wos), p).getField("orcid_id"),
      try_element_at(from_json(jstr(cx, "author"), ddl("ARRAY<STRUCT<ORCID: STRING>>")), p)
        .getField("ORCID"))
  }

  test("author_list_orcids: all-rules union peel-away, sorted+deduped (test_author_orcids)") {
    val cases = Seq(
      (oaAuthors, dimAuthors, pmAuthors, wosAuthors, cxAuthors,
        Seq("jane-crossref", "jane-dimensions", "jane-open-alex", "jane-pubmed", "jane-wos",
          "leland-crossref", "leland-dimensions", "leland-open-alex", "leland-pubmed", "leland-wos",
          "mike-crossref", "mike-dimensions", "mike-open-alex", "mike-pubmed", "mike-wos"),
        "jane-open-alex", "leland-open-alex"),
      (null, dimAuthors, pmAuthors, wosAuthors, cxAuthors,
        Seq("jane-crossref", "jane-dimensions", "jane-pubmed", "jane-wos",
          "leland-crossref", "leland-dimensions", "leland-pubmed", "leland-wos",
          "mike-crossref", "mike-dimensions", "mike-pubmed", "mike-wos"),
        "jane-dimensions", "leland-dimensions"),
      (null, null, pmAuthors, wosAuthors, cxAuthors,
        Seq("jane-crossref", "jane-pubmed", "jane-wos", "leland-crossref", "leland-pubmed",
          "leland-wos", "mike-crossref", "mike-pubmed", "mike-wos"),
        "jane-pubmed", "leland-pubmed"),
      (null, null, null, wosAuthors, cxAuthors,
        Seq("jane-crossref", "jane-wos", "leland-crossref", "leland-wos", "mike-crossref", "mike-wos"),
        "jane-wos", "leland-wos"),
      (null, null, null, null, cxAuthors,
        Seq("jane-crossref", "leland-crossref", "mike-crossref"),
        "jane-crossref", "leland-crossref"),
      (null, null, null, null, null, Seq.empty[String], null, null)
    )
    val out = cases.map(c => (c._1, c._2, c._3, c._4, c._5))
      .toDF("oa", "dim", "pm", "wos", "cx")
      .select(
        orcidsOf(col("oa"), col("dim"), col("pm"), col("wos"), col("cx")).as("all"),
        positionalOrcidsOf(col("oa"), col("dim"), col("pm"), col("wos"), col("cx"), 1).as("first"),
        positionalOrcidsOf(col("oa"), col("dim"), col("pm"), col("wos"), col("cx"), -1).as("last"))
      .collect()
    out.zip(cases).foreach { case (r, c) =>
      assert(r.getSeq[String](0) == c._6, s"union for $c")
      assert(Option(r.getString(1)) == Option(c._7), s"first for $c")
      assert(Option(r.getString(2)) == Option(c._8), s"last for $c")
    }
  }

  test("author orcids: non-ORCID identifier source yields nothing (test_pubmed_non_orcid)") {
    val pm = """{"MedlineCitation": {"Article": {"AuthorList": {"Author":
               |{"ForeName": "Jane", "LastName": "Pubmed", "Identifier": {"@Source": "SOCIAL", "#text": "jane-pubmed"}}}}}}""".stripMargin
    val out = Seq(pm).toDF("pm")
      .select(
        orcidsOf(lit(null), lit(null), col("pm"), lit(null), lit(null)).as("all"),
        positionalOrcidsOf(lit(null), lit(null), col("pm"), lit(null), lit(null), 1).as("first"))
      .collect()(0)
    assert(out.getSeq[String](0) == Seq.empty[String] && out.isNullAt(1))
  }

  test("author orcids: Identifier-as-list and one-author variants (test_pubmed_identifier_list, test_one_author)") {
    val pmIdList = """{"MedlineCitation": {"Article": {"AuthorList": {"Author":
                    |{"ForeName": "Jane", "LastName": "Pubmed",
                    |"Identifier": [{"@Source": "ORCID", "#text": "jane-pubmed"}]}}}}}""".stripMargin
    val out = Seq((pmIdList, null), (pmOneAuthor, null), (null, wosOneAuthor))
      .toDF("pm", "wos")
      .select(
        orcidsOf(lit(null), lit(null), col("pm"), col("wos"), lit(null)).as("all"),
        positionalOrcidsOf(lit(null), lit(null), col("pm"), col("wos"), lit(null), 1).as("first"),
        positionalOrcidsOf(lit(null), lit(null), col("pm"), col("wos"), lit(null), -1).as("last"))
      .collect()
    assert(out(0).getSeq[String](0) == Seq("jane-pubmed"))
    assert(out(0).getString(1) == "jane-pubmed" && out(0).getString(2) == "jane-pubmed")
    assert(out(1).getSeq[String](0) == Seq("jane-pubmed"))
    assert(out(1).getString(1) == "jane-pubmed" && out(1).getString(2) == "jane-pubmed")
    assert(out(2).getSeq[String](0) == Seq("jane-wos"))
    assert(out(2).getString(1) == "jane-wos" && out(2).getString(2) == "jane-wos")
  }

  // ── publisher.py / journal_name.py / journal_issn.py ──────────────

  test("publisher from primary_location, journal_name from first journal-typed location (test_openalex_publisher_journal)") {
    val oa =
      """{"primary_location": {"source": {"display_name": "Not the journal name to use",
        |  "issn_l": "0009-4978", "host_organization_name": "Some Publisher", "type": "journal"}},
        |"locations": [
        |  {"source": {"display_name": "Real Journal Name", "issn_l": "9999-9999", "type": "journal"}},
        |  {"source": {"display_name": "Internet Archive (Internet Archive)", "issn_l": "8888-8888", "type": "repository"}}]}""".stripMargin
    val locSchema = ddl("ARRAY<STRUCT<source: STRUCT<type: STRING, display_name: STRING>>>")
    val out = Seq(oa).toDF("oa")
      .select(
        Distillers.publisher(jstr(col("oa"), "primary_location.source.host_organization_name"),
          lit(null)).as("p"),
        Distillers.journalName(from_json(jstr(col("oa"), "locations"), locSchema), lit(null)).as("j"))
      .collect()(0)
    assert(out.getString(0) == "Some Publisher")
    assert(out.getString(1) == "Real Journal Name")
  }

  test("pubmed/dim ISSN -> journal_issn -> lookup-backed journal/publisher (test_pubmed_publisher_journal, test_dimensions_publisher_journal)") {
    // The reference calls the live OpenAlex Sources API here; the
    // engine-level twin is the broadcast ISSN->source lookup.
    val pmIssn =
      """{"MedlineCitation": {"Article": {"Journal": {"Title": "The Medical Journal",
        |"ISSN": {"#text": "1873-2054", "@IssnType": "Electronic"}}}}}""".stripMargin
    val dimIssn = """{"type": "article", "issn": "1476-4687"}"""
    val lookup = Seq(
      ("1873-2054", "Health & Place", "Elsevier BV"),
      ("1476-4687", "Nature", "Nature Portfolio")
    ).toDF("issn", "display_name", "host_organization_name")

    val pubs = Seq((1L, pmIssn, null), (2L, null, dimIssn)).toDF("id", "pm", "dim")
      .select(col("id"),
        Distillers.journalIssn(
          Distillers.one(jstr(col("dim"), "issn")),
          Distillers.one(jstr(col("pm"), "MedlineCitation.Article.Journal.ISSN.#text"))).as("issns"))
    val out = Distillers.joinIssnSource(pubs, "issns", lookup)
      .select(col("id"), col("issns"),
        Distillers.journalName(lit(null).cast("array<struct<source: struct<type: string, display_name: string>>>"),
          col("lookup_display_name")).as("j"),
        Distillers.publisher(lit(null), col("lookup_host_org")).as("p"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "1873-2054")
    assert(out(0).getString(2) == "Health & Place" && out(0).getString(3) == "Elsevier BV")
    assert(out(1).getString(1) == "1476-4687")
    assert(out(1).getString(2) == "Nature" && out(1).getString(3) == "Nature Portfolio")
  }
}
