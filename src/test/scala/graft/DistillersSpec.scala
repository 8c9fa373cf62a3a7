package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.operators.Distillers

/** Semantics mirror /root/reference/rialto_airflow/distiller/
  * {title,pub_year,issue,volume,abstract,journal_issn}.py and
  * test/distiller tests.
  */
class DistillersSpec extends SparkSpec {
  import spark.implicits._

  private val wosSchema = DataType.fromDDL(
    "STRUCT<static_data: STRUCT<summary: STRUCT<titles: ARRAY<STRUCT<title: ARRAY<STRUCT<type: STRING, content: STRING>>>>>>>")

  test("wosTitle picks the first type=item entry in document order") {
    val json =
      """{"static_data":{"summary":{"titles":[
        |{"title":[{"type":"source","content":"J of Testing"},{"type":"item","content":"The Real Title"}]},
        |{"title":[{"type":"item","content":"Later Title"}]}]}}}""".stripMargin.replaceAll("\n", "")
    val df = Seq(json, """{"static_data":{"summary":{"titles":[{"title":[{"type":"source","content":"only source"}]}]}}}""")
      .toDF("wos_json")
      .select(from_json(col("wos_json"), wosSchema).as("w"))
    val out = df.select(Distillers.wosTitle(col("w.static_data.summary.titles")).as("t")).collect()
    assert(out(0).getString(0) == "The Real Title")
    assert(out(1).isNullAt(0))
  }

  test("firstScalarString: non-string winner nulls the whole distill (issue.py match)") {
    // (oa issue string, dim issue numeric, sul issue string)
    val df = Seq(
      (Some("12"), Option.empty[Long], Some("s1")),  // oa wins -> "12"
      (None, Some(7L), Some("s2")),                  // dim wins but numeric -> NULL (no fallthrough)
      (None, None, Some("s3")),                      // sul wins -> "s3"
      (None, None, None)                             // nothing -> NULL
    ).toDF("oa", "dim", "sul")
    val out = df.select(Distillers.firstScalarString(
      (col("oa"), true), (col("dim"), false), (col("sul"), true)).as("issue")).collect()
    assert(out(0).getString(0) == "12")
    assert(out(1).isNullAt(0))
    assert(out(2).getString(0) == "s3")
    assert(out(3).isNullAt(0))
  }

  test("pubmedAbstract joins string-or-dict segments, dropping empties") {
    val mixed =
      """{"MedlineCitation":{"Article":{"Abstract":{"AbstractText":
        |["Plain segment", {"#text":"Dict segment","Label":"BG"}, "", {"Label":"NoText"}, "  ", "End"]}}}}"""
        .stripMargin.replaceAll("\n", "")
    val allEmpty = """{"MedlineCitation":{"Article":{"Abstract":{"AbstractText":["", "  "]}}}}"""
    val emptyArr = """{"MedlineCitation":{"Article":{"Abstract":{"AbstractText":[]}}}}"""
    val missing = """{"MedlineCitation":{"Article":{}}}"""
    val df = Seq(mixed, allEmpty, emptyArr, missing, null).toDF("pm")
    val out = df.select(Distillers.pubmedAbstract(col("pm")).as("a")).collect()
    assert(out(0).getString(0) == "Plain segment Dict segment End")
    assert(out(1).getString(0) == "") // segments existed, all empty -> "" (a match, like the reference)
    // [] is falsy for the reference's `if abstract_text:` -> no match,
    // crossref gets its turn
    assert(out(2).isNullAt(0))
    assert(out(3).isNullAt(0))
    assert(out(4).isNullAt(0))
  }

  test("firstScalar list arm: winner list yields its head, empty list is no hit") {
    import Distillers.ScalarKind._
    val df = Seq(
      (Some(Seq("7", "8")), Some("s1")), // list wins -> "7"
      (Some(Seq.empty[String]), Some("s2")), // [] is not a match -> sul wins
      (None, Some("s3")),
      (None, None)
    ).toDF("lst", "sul")
    val out = df.select(Distillers.firstScalar(Seq(
      (col("lst"), StrList), (col("sul"), Str))).as("v")).collect()
    assert(out(0).getString(0) == "7")
    assert(out(1).getString(0) == "s2")
    assert(out(2).getString(0) == "s3")
    assert(out(3).isNullAt(0))
  }

  test("journalName/publisher: empty-string OpenAlex value falls through to lookup") {
    val schema = DataType.fromDDL(
      "ARRAY<STRUCT<source: STRUCT<type: STRING, display_name: STRING>>>")
    val df = Seq(
      ("""[{"source":{"type":"journal","display_name":""}}]""", "Lookup J", "", "Lookup H"),
      ("""[{"source":{"type":"journal","display_name":"Real J"}}]""", "Lookup J", "Real H", "Lookup H")
    ).toDF("locs", "lookup_dn", "oa_host", "lookup_host")
    val out = df.select(
      Distillers.journalName(from_json(col("locs"), schema), col("lookup_dn")).as("j"),
      Distillers.publisher(col("oa_host"), col("lookup_host")).as("p")).collect()
    assert(out(0).getString(0) == "Lookup J" && out(0).getString(1) == "Lookup H")
    assert(out(1).getString(0) == "Real J" && out(1).getString(1) == "Real H")
  }

  test("isValidIssn ignores the separator character like the reference") {
    import graft.functions.Normalizers
    val df = Seq("1234-567X", "1234 5678", "1234X5678", "12345678", "123-45678").toDF("i")
    val out = df.select(Normalizers.isValidIssn(col("i")).as("ok")).collect().map(_.getBoolean(0))
    assert(out.sameElements(Array(true, true, true, false, false)))
  }

  test("crossrefAbstract drops the jats title block and strips tags") {
    val df = Seq(
      "<jats:title>Abstract</jats:title><jats:p>Real text here.</jats:p>",
      "<p>No title block</p>"
    ).toDF("x")
    val out = df.select(Distillers.crossrefAbstract(col("x")).as("a")).collect()
    assert(out(0).getString(0) == "Real text here.")
    assert(out(1).getString(0) == "No title block")
  }

  test("journalIssn flattens scalar+list rules, validates, dedupes, sorts, pipes") {
    val df = Seq((
      Some("1234-5678"),                      // issn_l scalar
      Seq("9999-999X", "bogus", "1234-5678"), // openalex list (dup + invalid)
      Option.empty[String],                   // sulpub scalar absent
      Seq("0001-0002")                        // dim list
    )).toDF("issn_l", "oa_list", "sul", "dim_list")
    val out = df.select(Distillers.journalIssn(
      Distillers.one(col("issn_l")), col("oa_list"), Distillers.one(col("sul")), col("dim_list")).as("issns"))
      .collect()(0).getString(0)
    assert(out == "0001-0002|1234-5678|9999-999X")
    val none = Seq((Option.empty[String], Seq("junk"))).toDF("a", "b")
      .select(Distillers.journalIssn(Distillers.one(col("a")), col("b")).as("i")).collect()(0)
    assert(none.isNullAt(0))
  }

  test("journalName prefers the first journal-typed location, falls back to lookup") {
    val schema = DataType.fromDDL(
      "ARRAY<STRUCT<source: STRUCT<type: STRING, display_name: STRING>>>")
    val df = Seq(
      ("""[{"source":{"type":"repository","display_name":"arXiv"}},{"source":{"type":"journal","display_name":"Nature"}}]""", "Fallback J"),
      ("""[{"source":{"type":"repository","display_name":"arXiv"}}]""", "Fallback J"),
      (null, "Fallback J")
    ).toDF("locs", "lookup")
    val out = df.select(Distillers.journalName(from_json(col("locs"), schema), col("lookup")).as("j")).collect()
    assert(out(0).getString(0) == "Nature")
    assert(out(1).getString(0) == "Fallback J")
    assert(out(2).getString(0) == "Fallback J")
  }

  test("joinIssnSource keeps the match for the earliest ISSN in the pub's list") {
    val lookup = Seq(
      ("2222-2222", "Journal B", "Org B"),
      ("3333-3333", "Journal C", "Org C")
    ).toDF("issn", "display_name", "host_organization_name")
    val pubs = Seq(
      (1L, "1111-1111|3333-3333|2222-2222"), // first hit is 3333 (pos 1)
      (2L, "0000-0000")                      // no hit
    ).toDF("id", "issns")
    val out = Distillers.joinIssnSource(pubs, "issns", lookup)
      .orderBy("id").collect()
    assert(out(0).getString(2) == "Journal C" && out(0).getString(3) == "Org C")
    assert(out(1).isNullAt(2))
  }

  test("joinIssnSource contract: every pub row comes out once with its own list's earliest match") {
    val lookup = Seq(
      ("2222-2222", "Journal B", "Org B"),
      ("3333-3333", null, null)               // a match with a NULL payload
    ).toDF("issn", "display_name", "host_organization_name")
    val pubs = Seq(
      (Option(1L), null),                     // NULL list
      (Option(2L), ""),                       // empty list
      (Option(3L), "0000-0000"),              // no match
      (Option(4L), "0000-0000|1111-1111|2222-2222"), // match only at a later position
      (Option(5L), "3333-3333|2222-2222"),    // the earliest match wins, NULL payload and all
      (Option(6L), "2222-2222"),              // two pubs share an id ...
      (Option(6L), "0000-0000"),              // ... each gets its own list's match
      (None, "2222-2222")                     // NULL id
    ).toDF("id", "issns")
    val out = Distillers.joinIssnSource(pubs, "issns", lookup)
    assert(out.columns.toSeq == Seq("id", "issns", "lookup_display_name", "lookup_host_org"))
    val got = out.collect().map(r => (Option(r.get(0)), Option(r.getString(1)),
      Option(r.getString(2)), Option(r.getString(3)))).toSeq
    val b = (Some("Journal B"), Some("Org B"))
    val want = Seq[(Option[Any], Option[String], (Option[String], Option[String]))](
      (Some(1L), None, (None, None)),
      (Some(2L), Some(""), (None, None)),
      (Some(3L), Some("0000-0000"), (None, None)),
      (Some(4L), Some("0000-0000|1111-1111|2222-2222"), b),
      (Some(5L), Some("3333-3333|2222-2222"), (None, None)),
      (Some(6L), Some("2222-2222"), b),
      (Some(6L), Some("0000-0000"), (None, None)),
      (None, Some("2222-2222"), b)
    ).map { case (id, l, (d, h)) => (id, l, d, h) }
    assert(got.sortBy(_.toString) == want.sortBy(_.toString))
  }

  test("title + pubYear chains follow reference precedence") {
    val df = Seq(
      (Some("S"), Some("B"), Some("D"), Some("O")),
      (None, Some("B"), Some("D"), Some("O")),
      (None, None, None, None)
    ).toDF("sul", "book", "dim", "oa")
    val out = df.select(Distillers.title(col("sul"), col("book"), col("dim"), col("oa"),
      lit(null).cast("array<struct<title: array<struct<type: string, content: string>>>>")).as("t")).collect()
    assert(out(0).getString(0) == "S")
    assert(out(1).getString(0) == "B")
    assert(out(2).isNullAt(0))

    val y = Seq(
      (Some(2050L), Some("2001"), Some(1999L)),  // dim in future -> oa (string year, like wos/sulpub)
      (None, None, Some(1999L))
    ).toDF("dim", "oa", "sul")
    val yo = y.select(Distillers.pubYear(col("dim"), col("oa"), lit(null), col("sul"), lit(null), 2026).as("y")).collect()
    assert(yo(0).getLong(0) == 2001L)
    assert(yo(1).getLong(0) == 1999L)
  }
}
