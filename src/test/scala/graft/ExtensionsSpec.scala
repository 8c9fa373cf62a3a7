package graft

import org.apache.spark.sql.functions._

import graft.operators.Salt

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("RewriteDotProduct turns the HOF dot shape into VecDot") {
    // apply the rule directly to the analyzed plan (the shared session
    // was built without extensions; rule injection is exercised here)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(10)
    val df = e.select(HofOracles.dotHof(col("embedding"), col("embedding")).as("d"))
    val rewritten = graft.plans.RewriteDotProduct(df.queryExecution.analyzed)
    assert(rewritten.expressions.exists(_.exists(_.isInstanceOf[graft.plans.VecDot])))
    assert(df.count() == 10)
  }

  test("TopK.perKey equals the window row_number formulation") {
    import org.apache.spark.sql.expressions.Window
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_partkey", "l_orderkey", "l_linenumber", "l_quantity")
    val native = graft.operators.TopK.perKey(
      li, Seq("l_partkey"),
      struct(-col("l_quantity"), col("l_orderkey"), col("l_linenumber")), 2)
    val w = Window.partitionBy("l_partkey")
      .orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"))
    val ref = li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2).drop("rn")
    assert(native.count() == ref.count())
    assert(native.exceptAll(ref).isEmpty && ref.exceptAll(native).isEmpty)
    // physical plan contains the custom operators
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK") && plan.contains("PartialTopK"))
  }

  test("RewriteThresholdedLevenshtein: banded form in the plan, identical results, pinned -1 semantics") {
    // pin Spark's documented threshold semantics the rewrite relies on:
    // <= threshold -> the distance, above it -> -1
    val sem = Seq(("kitten", "sitting"), ("abc", "abd"), ("same", "same"))
      .toDF("a", "b")
      .selectExpr("levenshtein(a, b, 2) AS t2", "levenshtein(a, b) AS full")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(sem.toSeq == Seq((-1, 3), (1, 1), (0, 0)), sem.toSeq.toString)

    val names = spark.read.parquet(s"$sfDir/customer.parquet").limit(300)
      .select(col("c_custkey").as("id"), col("c_name").as("nm"))
    val pairs = names.as("x").crossJoin(names.as("y"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.nm").as("na"), col("y.nm").as("nb"))
    val filtered = pairs.filter(expr("levenshtein(na, nb)") <= 2)
    // the rule fired: optimized filter carries the 3-arg thresholded form
    val rewritten = graft.plans.RewriteThresholdedLevenshtein(filtered.queryExecution.analyzed)
    assert(rewritten.expressions.exists(_.exists {
      case org.apache.spark.sql.catalyst.expressions.Levenshtein(_, _, Some(_)) => true
      case _ => false
    }), rewritten.toString.take(2000))
    // identical results: rewritten predicate vs driver-side full-DP check
    val got = filtered.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pairs.selectExpr("id_a", "id_b", "levenshtein(na, nb) AS d")
      .collect().filter(_.getInt(2) <= 2).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("injected SQL functions resolve and match the Column API bit-for-bit") {
    // the shared session is built through GraftSession → GraftExtensions,
    // so a pure spark.sql user sees the graft_* registry
    import graft.plans.{CharEntropy, DamerauLevenshtein, JaroWinkler, SimHashBits, VecDot, ZOrder2}

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), coalesce(col("text"), lit("")).as("text")).limit(80)
    docs.createOrReplaceTempView("docs_sqlreg")
    val viaSql = spark.sql(
      """SELECT id,
               graft_char_entropy(text)                      AS ent,
               graft_simhash_bits(split(lower(text), '\\s+')) AS sh,
               graft_shingles(text, 5)                        AS sg,
               graft_minhash_sig(graft_shingles(text, 5), 16) AS mh
          FROM docs_sqlreg""")
    val viaCol = docs.select(col("id"),
      CharEntropy(col("text")).as("ent"),
      SimHashBits(split(lower(col("text")), "\\s+")).as("sh"),
      graft.plans.NgramShingles(col("text"), 5).as("sg"),
      graft.plans.MinHashSig(graft.plans.NgramShingles(col("text"), 5), 16).as("mh"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding")).limit(40)
    emb.createOrReplaceTempView("emb_sqlreg")
    val dotSql = spark.sql(
      "SELECT id, graft_vec_dot(embedding, embedding) AS d FROM emb_sqlreg")
    val dotCol = emb.select(col("id"), VecDot(col("embedding"), col("embedding")).as("d"))
    assert(dotSql.exceptAll(dotCol).isEmpty && dotCol.exceptAll(dotSql).isEmpty)

    // literal reference values pin the semantics through the SQL path
    // the combining acute is embedded from Scala: Spark SQL's CHAR()
    // wraps at 256, so 'e' || CHAR(769) would silently test CHAR(1)
    val r = spark.sql(
      s"""SELECT graft_jaro_winkler('MARTHA', 'MARHTA')      AS jw,
               graft_damerau_levenshtein('ca', 'abc')       AS dl,
               graft_char_entropy('aaaa')                   AS e0,
               graft_nfc_normalize('é')               AS nfc,
               graft_zorder2(3, 5, 4)                       AS z""").collect()(0)
    assert(math.abs(r.getAs[Double]("jw") - 0.9611111111111111) < 1e-12)
    assert(r.getAs[Int]("dl") == 2) // true DL, not OSA's 3
    assert(r.getAs[Double]("e0") == 0.0)
    assert(r.getAs[String]("nfc") == "é")
    assert(r.getAs[Long]("z") == ZOrder2.interleave(3L, 5L, 4))

    // arity errors surface at analysis time, like built-in functions
    val err = intercept[Exception](spark.sql("SELECT graft_vec_dot(array(1.0D))").collect())
    assert(err.getMessage.contains("graft_vec_dot"))
  }

  test("MaterializedViews: count-by-source rewrites to the summary scan and back") {
    import graft.plans.MaterializedViews
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val summary = base.groupBy("source").agg(count(lit(1)).as("cnt")).localCheckpoint(true)
    val expect = summary.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    MaterializedViews.register("docs_by_source", "documents.parquet", "source", summary)
    try {
      val q = spark.read.parquet(s"$sfDir/documents.parquet").groupBy("source").count()
      // rewritten: the base parquet scan is gone from the physical plan
      assert(!q.queryExecution.executedPlan.toString.contains("documents.parquet"))
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect)
      // different grouping column -> pattern miss, base scan stays
      val other = spark.read.parquet(s"$sfDir/documents.parquet").groupBy("lang").count()
      assert(other.queryExecution.executedPlan.toString.contains("documents.parquet"))
      assert(other.count() > 0)
    } finally MaterializedViews.clear()
    // registry cleared -> the same query scans the base again
    val back = spark.read.parquet(s"$sfDir/documents.parquet").groupBy("source").count()
    assert(back.queryExecution.executedPlan.toString.contains("documents.parquet"))
    assert(back.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expect)
  }

  test("MaterializedViews: self-referential summary does not loop; suffix collision not matched") {
    import graft.plans.MaterializedViews
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    // the NATURAL formulation — no localCheckpoint: its plan scans the
    // registered base, so the raw rewrite would substitute itself
    // forever. register() must eagerly materialize it instead.
    val naturalSummary = base.groupBy("source").agg(count(lit(1)).as("cnt"))
    val expect = naturalSummary.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    MaterializedViews.register("docs_by_source_nat", "documents.parquet", "source", naturalSummary)
    try {
      val q = spark.read.parquet(s"$sfDir/documents.parquet").groupBy("source").count()
      // terminates (no optimizer StackOverflow) and is answered from the
      // materialized summary, not the base scan
      assert(!q.queryExecution.executedPlan.toString.contains("documents.parquet"))
      assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expect)

      // an UNRELATED table whose path merely ends with the registered
      // suffix (test_documents.parquet vs documents.parquet) and shares
      // the group-column name must NOT be answered from the summary
      val dir = java.nio.file.Files.createTempDirectory("mv_collide").toString
      val collidePath = s"$dir/test_documents.parquet"
      Seq(("only_src", 1L)).toDF("source", "x").write.mode("overwrite").parquet(collidePath)
      val collide = spark.read.parquet(collidePath).groupBy("source").count()
      assert(collide.queryExecution.executedPlan.toString.contains("test_documents.parquet"))
      assert(collide.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("only_src" -> 1L))
    } finally MaterializedViews.clear()
  }

  test("MaterializedViews: a summary registered in one session never rewrites another's plans") {
    import graft.plans.MaterializedViews
    val summary = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("source").agg(count(lit(1)).as("cnt")).localCheckpoint(true)
    val expect = summary.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    MaterializedViews.register("docs_by_source_scoped", "documents.parquet", "source", summary)
    try {
      val own = spark.read.parquet(s"$sfDir/documents.parquet").groupBy("source").count()
      assert(!own.queryExecution.executedPlan.toString.contains("documents.parquet"))
      // a second session on the same context runs the same optimizer
      // extensions, but the registrant's summary is not its data
      val other = spark.newSession().read.parquet(s"$sfDir/documents.parquet")
        .groupBy("source").count()
      assert(other.queryExecution.executedPlan.toString.contains("documents.parquet"))
      assert(other.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expect)
    } finally MaterializedViews.clear()
  }

  test("saltedEquiJoin equals the plain join") {
    val big = spark.read.parquet(s"$sfDir/lineitem.parquet").select("l_orderkey", "l_partkey", "l_quantity")
    val small = spark.read.parquet(s"$sfDir/part.parquet").select("p_partkey", "p_size")
      .withColumnRenamed("p_partkey", "l_partkey")
    val plain = big.join(small, "l_partkey")
    val salted = Salt.saltedEquiJoin(big, small, "l_partkey", n = 4)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }
}
