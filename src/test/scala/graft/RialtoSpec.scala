package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Rialto

class RialtoSpec extends SparkSpec {
  import spark.implicits._

  /** merge_pubs survivor pick as a row filter (deduplicate.py:187-217):
    * one row per key, newest first by `newestBy` (descending). It is
    * the reference that `Rialto.mergeMap`'s survivors are checked
    * against.
    */
  private def keepNewest(df: DataFrame, keys: Seq[String], newestBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(newestBy.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** The chained full-outer-join fold `Rialto.harvestMerge` replaced,
    * kept as the reference for its output.
    */
  private def outerJoinFold(sources: Seq[(String, DataFrame)], key: String): DataFrame =
    sources.map { case (name, df) =>
      val payload = df.columns.filterNot(_ == key)
      df.select(col(key), struct(payload.map(col): _*).as(s"${name}_json"))
    }.reduce((a, b) => a.join(b, Seq(key), "full_outer"))

  test("upsert action column: inserted / updated / noop") {
    val existing = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val incoming = Seq((2L, "b"), (3L, "C"), (4L, "d")).toDF("k", "v")
    val out = Rialto.upsert(existing, incoming, "k")
      .select(col("k"), col("row.v").as("v"), col("action"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      (1L, "a", "noop"),      // only existing
      (2L, "b", "noop"),      // identical in both
      (3L, "C", "updated"),   // incoming differs and wins
      (4L, "d", "inserted")   // only incoming
    ))
  }

  test("apcDatasetLookup contract: every pub row comes out once with its own list's first positive cost") {
    val lookup = Seq(
      ("1111-1111", "1111-2222", 2020L, Option(500L)),
      ("3333-3333", null, 2020L, None),        // a match with a NULL cost is no hit
      ("4444-4444", null, 2020L, Option(0L)),  // nor is a zero cost
      ("5555-5555", "5555-6666", 2021L, Option(700L))
    ).toDF("issn_1", "issn_2", "apc_year", "apc_usd")
    val pubs = Seq(
      (Option(1L), 2020L, null),                                         // NULL list
      (Option(2L), 2020L, Seq.empty[String]),                            // empty list
      (Option(3L), 2020L, Seq("0000-0000")),                             // no match
      (Option(4L), 2020L, Seq("0000-0000", "3333-3333", "4444-4444", "1111-2222")), // later position
      (Option(5L), 2020L, Seq("5555-5555")),                             // other year only
      (Option(6L), 2020L, Seq("1111-1111")),                             // two pubs share an id ...
      (Option(6L), 2021L, Seq("5555-6666")),                             // ... each gets its own
      (None, 2021L, Seq("5555-5555"))                                    // NULL id
    ).toDF("id", "pub_year", "issns")
    val out = Rialto.apcDatasetLookup(pubs, "issns", "pub_year", lookup)
    assert(out.columns.toSeq == Seq("id", "pub_year", "issns", "apc_dataset"))
    val got = out.collect().map(r => (Option(r.get(0)), r.getLong(1),
      Option(r.getSeq[String](2)).map(_.toList), Option(r.get(3)))).toSeq
    val want = Seq(
      (Some(1L), 2020L, None, None),
      (Some(2L), 2020L, Some(Nil), None),
      (Some(3L), 2020L, Some(List("0000-0000")), None),
      (Some(4L), 2020L, Some(List("0000-0000", "3333-3333", "4444-4444", "1111-2222")), Some(500L)),
      (Some(5L), 2020L, Some(List("5555-5555")), None),
      (Some(6L), 2020L, Some(List("1111-1111")), Some(500L)),
      (Some(6L), 2021L, Some(List("5555-6666")), Some(700L)),
      (None, 2021L, Some(List("5555-5555")), Some(700L)))
    assert(got.sortBy(_.toString) == want.sortBy(_.toString))
  }

  test("harvestMerge keeps every key and nests payloads per source") {
    val s1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price")
    val s2 = Seq((2L, "x"), (3L, "y")).toDF("k", "tag")
    val m = Rialto.harvestMerge(Seq("a" -> s1, "b" -> s2), "k")
    assert(m.count() == 3)
    val r2 = m.filter(col("k") === 2).select(col("a_json.price"), col("b_json.tag")).collect()(0)
    assert(r2.getDouble(0) == 20.0 && r2.getString(1) == "x")
    val r3 = m.filter(col("k") === 3).select(col("a_json")).collect()(0)
    assert(r3.isNullAt(0))
  }

  test("keepNewest keeps exactly one deterministic row per key") {
    val df = Seq((1L, 5, "old"), (1L, 9, "new"), (2L, 1, "only")).toDF("k", "ver", "tag")
    val out = keepNewest(df, Seq("k"), Seq(col("ver")))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(out == Set((1L, "new"), (2L, "only")))
  }

  test("harvestMerge fails with a named error when one source holds a key twice") {
    val s1 = Seq((1L, 10.0), (2L, 20.0), (2L, 21.0)).toDF("k", "price")
    val s2 = Seq((2L, "x"), (3L, "y")).toDF("k", "tag")
    val m = Rialto.harvestMerge(Seq("a" -> s1, "b" -> s2), "k")
    // raised even when no payload column of the duplicated source is read
    for (df <- Seq(m, m.select("k"))) {
      val e = intercept[Exception](df.collect())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => Option(c.getMessage).exists(
        _.contains("harvestMerge: source 'a' holds key 2 in 2 rows"))), e.toString)
    }
  }

  test("harvestMerge keeps each NULL-key row as its own output row") {
    val s1 = Seq((Some(1L), 10.0), (None, 11.0), (None, 12.0)).toDF("k", "price")
    val s2 = Seq((Some(1L), "x"), (None, "y")).toDF("k", "tag")
    val rows = Rialto.harvestMerge(Seq("a" -> s1, "b" -> s2), "k")
      .filter(col("k").isNull)
      .select(col("a_json.price"), col("b_json.tag"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(rows == Set((Some(11.0), None), (Some(12.0), None), (None, Some("y"))))
  }

  test("harvestMerge matches the full-outer-join fold row for row on three sources") {
    val o = spark.range(1, 61).select(col("id").as("k"), (col("id") * 1.5).as("price"),
      concat(lit("p"), col("id").cast("string")).as("prio"), (col("id") % 3).as("status"))
    val sources = Seq(
      "sulpub" -> o.filter(col("k") % 2 === 0).select("k", "price"),
      "openalex" -> o.filter(col("k") % 3 === 0).select("k", "prio"),
      "wos" -> o.filter(col("k") % 5 === 0).select("k", "status")
    ).map { case (n, df) =>
      // a NULL key in every source, which the fold never matches
      n -> df.union(df.filter(col("k") === 30).withColumn("k", lit(null).cast("long")))
    }
    val got = Rialto.harvestMerge(sources, "k")
    val want = outerJoinFold(sources, "k")
    assert(got.columns.toSeq == want.columns.toSeq)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(want))
    assert(rows(got).size == 47)
  }

  test("mergeMap maps every keyed row to its keepNewest survivor and counts the group") {
    val df = Seq((1L, "a", 5), (2L, "a", 9), (3L, "a", 9), (4L, "b", 1), (5L, "c", 2), (6L, "c", 2))
      .toDF("id", "dk", "ver")
    val newest = Seq(col("ver"), col("id"))
    val map = Rialto.mergeMap(df, "id", Seq("dk"), newest)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(map == Set((1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L), (4L, 4L, 1L), (5L, 6L, 2L), (6L, 6L, 2L)))
    val survivors = keepNewest(df, Seq("dk"), newest).collect().map(_.getLong(0)).toSet
    assert(map.collect { case (o, n, _) if o == n => o } == survivors)
  }

  test("job counts of the rialto pipeline queries on the fixture") {
    // Every job, build and execution, of one warm run (the first run
    // memoizes the table schemas) of each of pipebench's 25
    // rialto_small queries. At sf 0.001 a job costs a roughly fixed
    // 35-60 ms whatever it computes, so each job is pass time. A change
    // may lower a count; raising one needs a reason written here.
    val pins = Seq(
      "q_harvest_merge" -> 2,
      "q_upsert_merge" -> 3,
      "q_dedupe_null_doi" -> 7,
      "q_dedupe_merge_assoc" -> 2,
      "q_dedupe_keep_newest" -> 2,
      "q_orphan_removal" -> 2,
      "q_normalize_ids" -> 1,
      "q_type_normalize" -> 1,
      "q_distill_fields" -> 2,
      "q_distill_abstract" -> 1,
      "q_distill_author_names" -> 2,
      "q_distill_author_orcids" -> 2,
      "q_citation_distill" -> 1,
      "q_apc_lookup" -> 4,
      "q_journal_lookup" -> 3,
      "q_issn_clean" -> 1,
      "q_funder_link" -> 3,
      "q_federal_match" -> 2,
      "q_distill_authored" -> 4,
      "q_pipeline_full" -> 10,
      "q_report_publications" -> 4,
      "q_report_by_author" -> 5,
      "q_report_by_dept" -> 7,
      "q_report_by_group" -> 6,
      "q_orcid_stats" -> 2)
    val got = pins.map { case (q, _) =>
      SparkEntry.queries(q)(spark, sfDir).collect()
      q -> jobsDuring(SparkEntry.queries(q)(spark, sfDir).collect())._2
    }
    assert(got == pins)
  }
}
