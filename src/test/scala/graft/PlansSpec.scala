package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{TextDedup, VectorOps}

/** The native codegen expressions must be bit-identical to the composed
  * HOF formulations they replace.
  */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  test("MinHashSig equals the HOF minhash signature bit-for-bit") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
      .select(TextAnalysis.wordNgrams(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val diff = docs.select(
      TextDedup.minhashSignature(col("sh"), 64).as("fast"),
      HofOracles.minhashSignatureHof(col("sh"), 64).as("ref")
    ).filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("PortableMinHashSig equals the HOF portable signature bit-for-bit (plain + salted)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
      .select(TextAnalysis.wordNgrams(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val diff = docs.select(
      TextDedup.portableSignature(col("sh"), 16).as("fast"),
      HofOracles.portableSignatureHof(col("sh"), 16).as("ref"),
      graft.plans.PortableMinHashSig(col("sh"), 8, "cr2:").as("fast_s"),
      HofOracles.portableSignatureHof(col("sh"), 8, "cr2:").as("ref_s")
    ).filter(col("fast") =!= col("ref") || col("fast_s") =!= col("ref_s")).count()
    assert(diff == 0)
    // edge semantics, HOF-equal on the full domain: NULL array -> h
    // nulls (outer transform ranges over sequence, never null), empty
    // or all-null array -> h nulls, null elements skipped
    val edge = spark.sql(
      """SELECT sh FROM VALUES
        | (CAST(NULL AS array<string>)),
        | (array()),
        | (array(CAST(NULL AS string))),
        | (array('x', CAST(NULL AS string), 'y')) t(sh)""".stripMargin)
    val bad = edge.select(
      TextDedup.portableSignature(col("sh"), 4).as("fast"),
      HofOracles.portableSignatureHof(col("sh"), 4).as("ref"))
      .filter(!(col("fast") <=> col("ref"))).count()
    assert(bad == 0)
    // interpreted eval (local relation, no whole-stage) agrees too
    val local = Seq(Seq("a", "bb", "ccc")).toDF("sh").select(
      TextDedup.portableSignature(col("sh"), 4).as("fast"),
      HofOracles.portableSignatureHof(col("sh"), 4).as("ref"))
    assert(local.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("ChunkedMinHashSig equals the composed filter+portableSignature form bit-for-bit") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
      .select(TextAnalysis.wordNgrams(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val loRef = filter(col("sh"), x => substring(md5(x), 1, 1) < "8")
    val hiRef = filter(col("sh"), x => substring(md5(x), 1, 1) >= "8")
    // reference side stays the composed HOF form (portableSignature is
    // itself native since round 13)
    val both = docs.select(
      graft.plans.ChunkedMinHashSig(col("sh"), 8).as("cs"),
      when(size(loRef) > 0, HofOracles.portableSignatureHof(loRef, 8)).as("lo_ref"),
      when(size(hiRef) > 0, HofOracles.portableSignatureHof(hiRef, 8)).as("hi_ref"),
      HofOracles.portableSignatureHof(col("sh"), 8).as("full_ref"))
    assert(both.filter(
      !(col("cs.lo") <=> col("lo_ref")) ||
      !(col("cs.hi") <=> col("hi_ref")) ||
      !(col("cs.full") <=> col("full_ref"))).count() == 0)
    // single-chunk docs: lo/hi null handling — a one-shingle doc lands
    // in exactly one chunk and full == that chunk's signature
    val one = spark.sql("SELECT array('only one shingle here') AS sh")
    val r = one.select(graft.plans.ChunkedMinHashSig(col("sh"), 8).as("cs"))
      .selectExpr("cs.lo IS NULL AS lon", "cs.hi IS NULL AS hin",
        "cs.full = coalesce(cs.lo, cs.hi) AS eq")
      .collect()(0)
    assert(r.getAs[Boolean]("lon") != r.getAs[Boolean]("hin"))
    assert(r.getAs[Boolean]("eq"))
  }

  test("NgramShingles equals the HOF shingles on real documents") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val diff = docs.select(
      TextAnalysis.wordNgrams(col("text"), 3).as("fast"),
      HofOracles.wordNgramsHof(col("text"), 3).as("ref")
    ).filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("VecDot equals the HOF dot bit-for-bit on float embeddings") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
    val pairs = e.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .limit(500)
    val diff = pairs.select(
      VectorOps.dot(col("va"), col("vb")).as("fast"),
      HofOracles.dotHof(col("va"), col("vb")).as("ref")
    ).filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("SortedKeyDot equals the posting-grain sorted fold bit-for-bit (and codegen == interpreted)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(60)
    val wt = docs
      .select(col("doc_id").as("id"), explode(TextAnalysis.wordNgrams(col("text"), 3)).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).cast("double").as("wt"))
    val vecs = wt.groupBy("id")
      .agg(sort_array(collect_list(struct(col("w"), col("wt").as("t")))).as("arr"))
    val pairs = vecs.select(col("id").as("a"), col("arr").as("va"))
      .crossJoin(vecs.select(col("id").as("b"), col("arr").as("vb"))).limit(400)
    // reference: the old posting-join formulation — shared-key products
    // folded in ascending-key order through sort_array + aggregate
    def ref(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val m = map_from_entries(transform(b, x => struct(x.getField("w"), x.getField("t"))))
      aggregate(
        filter(a, x => map_contains_key(m, x.getField("w"))),
        lit(0.0), (acc, x) => acc + x.getField("t") * element_at(m, x.getField("w")))
    }
    val diff = pairs.select(
      graft.plans.SortedKeyDot(col("va"), col("vb")).as("fast"),
      ref(col("va"), col("vb")).as("slow")
    ).filter(col("fast") =!= col("slow")).count()
    assert(diff == 0)
    // self-dot = squared norm, same fold order as the per-doc aggregate
    val selfDiff = vecs.select(
      graft.plans.SortedKeyDot(col("arr"), col("arr")).as("fast"),
      aggregate(col("arr"), lit(0.0), (acc, x) => acc + x.getField("t") * x.getField("t")).as("slow")
    ).filter(col("fast") =!= col("slow")).count()
    assert(selfDiff == 0)
    // interpreted eval (local relation, no codegen) agrees
    import spark.implicits._
    val local = Seq(
      (Seq(("a", 1.5), ("c", 2.0), ("d", -1.0)), Seq(("a", 2.0), ("b", 9.0), ("d", 4.0)))
    ).toDF("x", "y").select(
      graft.plans.SortedKeyDot(
        transform(col("x"), e => struct(e.getField("_1").as("w"), e.getField("_2").as("t"))),
        transform(col("y"), e => struct(e.getField("_1").as("w"), e.getField("_2").as("t")))).as("d"))
    assert(local.collect()(0).getDouble(0) == 1.5 * 2.0 + (-1.0) * 4.0)
  }

  test("SimHashBits equals the HOF simhash bits bit-for-bit") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val toks = docs.select(TextAnalysis.tokenize(col("text")).as("t"))
    val diff = toks.select(
      TextDedup.simhashBits(col("t")).as("fast"),
      HofOracles.simhashBitsHof(col("t")).as("ref")
    ).filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("native inverted index round-trips and matches HOF rebuild output") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val canon = docs.select(
      array_join(TextAnalysis.tokenize(col("text")), " ").as("canon"),
      TextAnalysis.rebuildInvertedIndex(TextAnalysis.buildInvertedIndex(col("text"))).as("nat"),
      HofOracles.rebuildInvertedIndexHof(HofOracles.buildInvertedIndexHof(col("text"))).as("hof")
    )
    assert(canon.filter(col("nat") =!= col("canon") || col("hof") =!= col("canon")).count() == 0)
  }

  test("VecDot interpreted eval path matches as well") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val v = df.select(VectorOps.dot(col("a"), col("b")).as("d")).collect()(0).getDouble(0)
    assert(math.abs(v - 32.0) < 1e-12)
  }

  test("DamerauLevenshtein matches the DuckDB-probed reference values (TRUE Damerau, not OSA)") {
    // probed against duckdb damerau_levenshtein 2026-08-13
    val cases = Seq(
      ("ca", "abc", 2), // OSA would say 3 — the defining TRUE-Damerau case
      ("abc", "acb", 1),
      ("abcdef", "abcfed", 2),
      ("kitten", "sitting", 3),
      ("", "abc", 3),
      ("", "", 0),
      ("a", "a", 0),
      ("ab", "ba", 1),
      ("abab", "baba", 2),
      ("aXbY", "abXY", 1),
      ("üx", "xü", 2) // byte-wise, not codepoint-wise
    )
    val df = cases.toDF("a", "b", "want")
    val bad = df.select(col("a"), col("b"), col("want"),
        graft.plans.DamerauLevenshtein(col("a"), col("b")).as("got"))
      .filter(col("got") =!= col("want"))
    assert(bad.count() == 0, bad.collect().mkString("; "))
    import org.apache.spark.unsafe.types.UTF8String
    for ((a, b, want) <- cases) {
      val got = graft.plans.DamerauLevenshtein.distance(
        UTF8String.fromString(a).getBytes, UTF8String.fromString(b).getBytes)
      assert(got == want, s"eval($a, $b) = $got, want $want")
    }
  }

  test("JaroWinkler matches the DuckDB-probed reference values exactly") {
    // probed against duckdb jaro_winkler_similarity 2026-08-13: bytes,
    // integer transposition halving, 0.7 boost gate, empty -> 0
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("dwayne", "duane", 0.8400000000000001),
      ("crate", "trace", 0.7333333333333333),
      ("prefix", "prefax", 0.9333333333333333),
      ("a", "ab", 0.85),
      ("abcd", "badc", 0.8333333333333334),
      ("abcdef", "bcadef", 0.9444444444444445), // integer halving, not 0.9166...
      ("abxxxxxxxx", "abyyyyyyyy", 0.4666666666666666), // below gate: no boost
      ("abc", "abc", 1.0),
      ("abc", "", 0.0),
      ("", "", 0.0),
      ("ab", "ba", 0.0),
      ("üx", "üy", 0.8222222222222223) // byte-wise, not codepoint-wise
    )
    val df = cases.toDF("a", "b", "want")
    val bad = df.select(col("a"), col("b"), col("want"),
        graft.plans.JaroWinkler(col("a"), col("b")).as("got"))
      .filter(abs(col("got") - col("want")) > 1e-12)
    assert(bad.count() == 0, bad.collect().mkString("; "))
    // interpreted eval path agrees with codegen
    import org.apache.spark.unsafe.types.UTF8String
    for ((a, b, want) <- cases) {
      val got = graft.plans.JaroWinkler.similarity(
        UTF8String.fromString(a).getBytes, UTF8String.fromString(b).getBytes)
      assert(math.abs(got - want) < 1e-12, s"eval($a, $b) = $got, want $want")
    }
  }
}
