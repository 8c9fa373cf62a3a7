package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Expression, LambdaFunction}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Bloom, TextDedup, TextEval, TextRank, VectorOps}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenize/counts/quality on known text") {
    val df = Seq("The quick brown fox jumps over the lazy dog").toDF("text")
    val r = df.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.stopwordHits(col("text"), TextAnalysis.langProfiles("en")).as("s"),
      TextAnalysis.bpeTokenEstimate(TextAnalysis.tokenize(col("text"))).as("b")
    ).collect()(0)
    assert(r.getLong(0) == 9)
    assert(r.getLong(1) == 2) // "the" twice
    // ceil(3/4)+ceil(5/4)+ceil(5/4)+ceil(3/4)+ceil(5/4)+ceil(4/4)+ceil(3/4)+ceil(4/4)+ceil(3/4)
    assert(r.getLong(2) == 1 + 2 + 2 + 1 + 2 + 1 + 1 + 1 + 1)
  }

  test("predictLang picks profile with most hits, default on zero") {
    val profiles = Seq("en", "es").map(l => l -> TextAnalysis.langProfiles(l))
    val df = Seq("el perro y la casa de los gatos", "the cat and the hat", "zzz qqq").toDF("text")
    val out = df.select(TextAnalysis.predictLang(col("text"), profiles, "und")).collect().map(_.getString(0))
    assert(out.toSeq == Seq("es", "en", "und"))
  }

  test("wordNgrams and jaccard") {
    val df = Seq(("a b c d", "a b c e")).toDF("x", "y")
    val r = df.select(
      TextAnalysis.jaccard(
        TextAnalysis.wordNgrams(col("x"), 2),
        TextAnalysis.wordNgrams(col("y"), 2)
      ).as("j")
    ).collect()(0).getDouble(0)
    // bigrams x: {a b, b c, c d}; y: {a b, b c, c e}; i=2 u=4
    assert(math.abs(r - 0.5) < 1e-9)
  }

  test("kneserNeyScore matches the hand-computed interpolated-KN probabilities") {
    // corpus bigrams: (a,b)x2, (b,a)x1, (b,c)x1 → npairs=3, every word's
    // continuation count is 1 → Pcont = 1/3 each.
    //   P(b|a) = (2-0.75 + 0.75·1·⅓)/2 = 0.75
    //   P(a|b) = (1-0.75 + 0.75·2·⅓)/2 = 0.375 = P(c|b)
    val docs = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextRank.kneserNeyScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r4(x: Double) = math.round(x * 1e4) / 1e4
    val l75 = math.log(0.75) / math.log(2); val l375 = math.log(0.375) / math.log(2)
    assert(got(1L) == (3L, r4((2 * l75 + l375) / 3)))
    assert(got(2L) == (1L, r4(l375)))
  }

  test("rakeKeyphrases reproduces the Rose et al. worked example") {
    import spark.implicits._
    // "Compatibility of systems of linear constraints over the set of
    // natural numbers" with stopwords {of, over, the} → candidates:
    // compatibility | systems | linear constraints | set | natural numbers
    // word deg/freq: multi-word phrase members score 2, singletons 1;
    // phrase score = sum → the two 2-word phrases lead with 4.0.
    val docs = Seq(
      "Compatibility of systems of linear constraints over the set of natural numbers")
      .toDF("text")
    val got = TextRank.rakeKeyphrases(docs, "text", Seq("of", "over", "the"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("linear constraints", 1L, 4.0),
      ("natural numbers", 1L, 4.0),
      ("compatibility", 1L, 1.0),
      ("set", 1L, 1.0),
      ("systems", 1L, 1.0)), got.toSeq.toString)
  }

  test("buildPostings renders canonical ordered postings with df and occurrence totals") {
    val docs = Seq((2L, "b a b"), (1L, "a b a")).toDF("doc_id", "text")
    val got = TextRank.buildPostings(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got("a") == (2L, 3L, "1:1,3;2:2"))
    assert(got("b") == (2L, 3L, "1:2;2:1,3"))
  }

  test("charEntropy: uniform/degenerate/empty/unicode cases exact") {
    val df = Seq("aaaa", "ab", "abcd", "", "ééaa").toDF("t")
    val got = df.select(graft.plans.CharEntropy(col("t")).as("e")).collect().map(_.getDouble(0))
    assert(got(0) == 0.0)                       // one symbol: no surprise
    assert(math.abs(got(1) - 1.0) < 1e-12)      // two equiprobable symbols
    assert(math.abs(got(2) - 2.0) < 1e-12)      // four equiprobable symbols
    assert(got(3) == 0.0)                       // empty: defined as 0
    assert(math.abs(got(4) - 1.0) < 1e-12)      // non-ASCII counted per code point
    val nul = Seq((1L, null.asInstanceOf[String])).toDF("id", "t")
      .select(graft.plans.CharEntropy(col("t")).as("e")).collect()
    assert(nul(0).isNullAt(0))                  // null in, null out
  }

  test("containment is asymmetric: full for a quote in its source, partial the other way, 0 on empty") {
    val df = Seq(("b c d", "a b c d e f g")).toDF("frag", "src")
    val r = df.select(
      TextAnalysis.containment(
        TextAnalysis.wordNgrams(col("frag"), 2), TextAnalysis.wordNgrams(col("src"), 2)).as("fwd"),
      TextAnalysis.containment(
        TextAnalysis.wordNgrams(col("src"), 2), TextAnalysis.wordNgrams(col("frag"), 2)).as("rev"),
      TextAnalysis.jaccard(
        TextAnalysis.wordNgrams(col("frag"), 2), TextAnalysis.wordNgrams(col("src"), 2)).as("j")
    ).collect()(0)
    // frag bigrams {b c, c d} ⊂ src's 6 bigrams: containment 1.0, but
    // only 2 of src's 6 appear in frag, and Jaccard sees 2/6.
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 2.0 / 6) < 1e-9)
    assert(math.abs(r.getDouble(2) - 2.0 / 6) < 1e-9)
    val empty = Seq(("x", "a b c")).toDF("frag", "src").select(
      TextAnalysis.containment(
        TextAnalysis.wordNgrams(col("frag"), 2), TextAnalysis.wordNgrams(col("src"), 2)).as("c")
    ).collect()(0).getDouble(0)
    assert(empty == 0.0)
  }

  test("inverted index round-trips") {
    val df = Seq("to be or not to be").toDF("text")
    val r = df.select(
      TextAnalysis.rebuildInvertedIndex(TextAnalysis.buildInvertedIndex(col("text"))).as("t")
    ).collect()(0).getString(0)
    assert(r == "to be or not to be")
  }

  test("simhash: identical texts distance 0, disjoint texts far") {
    val df = Seq(
      ("a", "spark window merge join batch"),
      ("b", "spark window merge join batch"),
      ("c", "xylophone quartz vivid jumble kraken")
    ).toDF("id", "text")
    val sh = df.select(col("id"), TextDedup.simhashBits(TextAnalysis.tokenize(col("text"))).as("bits"))
    val pairs = sh.as("x").join(sh.as("y"), col("x.id") < col("y.id"))
      .select(concat(col("x.id"), col("y.id")).as("p"), TextDedup.hamming(col("x.bits"), col("y.bits")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pairs("ab") == 0L)
    assert(pairs("ac") > 10L)
  }

  /** Doc 2 is doc 1 plus one token; doc 3 shares no trigram with either. */
  private def nearDupDocs = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the deep green forest tonight"
    Seq(
      (1L, base),
      (2L, base + " again"),
      (3L, "completely different words about databases indexes queries optimizers plans shuffles and joins everywhere")
    ).toDF("doc_id", "text")
  }

  test("minhash LSH finds a near-duplicate and skips unrelated docs") {
    val docs = nearDupDocs
    val pairs = TextDedup.minhashNearDups(docs, "doc_id", "text", minJaccard = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  /** Every expression of `plan`, of its subqueries and of the plans
    * cached beneath it (an InMemoryRelation's physical plan).
    */
  private def allExpressions(plan: QueryPlan[_]): Seq[Expression] =
    plan.expressions ++ (plan.children ++ plan.innerChildren).flatMap {
      case p: QueryPlan[_] => allExpressions(p)
      case _ => Nil
    }

  test("minhash near-dups: the signature is projected before the band explode, never inside its lambda") {
    // A higher-order-function lambda gets no common-subexpression
    // elimination: a signature inside the band lambda is computed once
    // per band.
    val docs = nearDupDocs
    val xx = TextDedup.minhashNearDups(docs, "doc_id", "text", minJaccard = 0.5)
    val md5 = TextDedup.minhashNearDupsPortable(docs, "doc_id", "text", minJaccard = 0.5)
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSet
    // the xxhash64 path returns the raw Jaccard, the portable path rounds to 4 dp
    assert(pairs(xx) == Set((1L, 2L, 17.0 / 18)))
    assert(pairs(md5) == Set((1L, 2L, 0.9444)))
    for (df <- Seq(xx, md5)) {
      val inLambda = allExpressions(df.queryExecution.optimizedPlan).flatMap(_.collect {
        case l: LambdaFunction => l.collect {
          case s @ (_: graft.plans.MinHashSig | _: graft.plans.PortableMinHashSig) => s
        }
      }).flatten
      assert(inLambda.isEmpty, s"signature inside a lambda: ${inLambda.mkString(", ")}")
    }
  }

  test("minhash near-dups: the verify join evaluates each pair's Jaccard in one projection only") {
    // The threshold filter must not be pushed into the join condition,
    // where it would compute the Jaccard a second time for every pair.
    for (df <- Seq(TextDedup.minhashNearDups(nearDupDocs, "doc_id", "text", minJaccard = 0.5),
        TextDedup.minhashNearDupsPortable(nearDupDocs, "doc_id", "text", minJaccard = 0.5))) {
      val intersects = df.queryExecution.optimizedPlan.collect {
        case p => p.expressions.flatMap(_.collect { case i: ArrayIntersect => i })
      }.filter(_.nonEmpty)
      assert(intersects.map(_.size) == Seq(1), df.queryExecution.optimizedPlan.toString)
    }
  }

  test("minhashNearDupsPortable: job count on the near-dup fixture") {
    // The portable path runs twice per graph_iter pass (q_fuzzy_dedup
    // and q_communities). A change may lower the count; raising it
    // needs a reason written here.
    spark.catalog.clearCache()
    val (pairs, jobs) = jobsDuring(
      TextDedup.minhashNearDupsPortable(nearDupDocs, "doc_id", "text").collect())
    assert(pairs.length == 1)
    assert(jobs == 11)
  }

  test("bigram LM score: corpus-frequent bigrams score high, rare ones low") {
    // c(a·)=3: (a,b) twice → p=2/3; (a,c) once → p=1/3
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "x")).toDF("doc_id", "text")
    val out = TextRank.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == (1L, math.floor(math.log(2.0 / 3) / math.log(2) * 10000 + 0.5) / 10000))
    assert(out(3L)._2 < out(1L)._2)
    assert(!out.contains(4L)) // single-token doc has no bigrams
  }

  test("centroid outlier flags the vector pointing away from its label centroid") {
    val vecs = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.9f, 0.1f)), (3L, 0, Seq(-1.0f, 0.0f)),
      (4L, 1, Seq(0.0f, 1.0f)), (5L, 1, Seq(0.1f, 0.9f))
    ).toDF("vec_id", "label", "embedding")
    val out = VectorOps.centroidOutliers(vecs, "label", "vec_id", "embedding", simThreshold = 0.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> false, 2L -> false, 3L -> true, 4L -> false, 5L -> false))
  }

  test("lsh ANN recall vs brute force on seeded vectors") {
    val vecs = (0 until 50).map { i =>
      val v = Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat)
      (i.toLong, v.toSeq)
    }
    val df = vecs.toDF("id", "vec")
    val bf = VectorOps.bruteForceTopK(df.filter(col("id") % 10 === 0), df, 1)
      .select("probe_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.lshTopK(df.filter(col("id") % 10 === 0), df, 3, planes = 2, dim = 8)
      .select("probe_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // with 2 planes (4 buckets) some overlap of exact top-1 is expected
    assert(bf.nonEmpty && lsh.nonEmpty)
  }

  test("bloom filter: zero false negatives, FPR within theory, ragged word count") {
    val k = 5
    val mBits = 16384 // n=1000 keys -> kn/m ~ 0.3 -> FPR ~ 0.12%
    val keys = (0 until 1000).map(i => s"member-$i").toDF("g")
    val bitmap = Bloom.build(keys, "g", k, mBits)
    // Membership is NEVER missed — a deterministic property, not a bound.
    val fn = keys.crossJoin(broadcast(bitmap))
      .filter(!Bloom.mightContain(col("g"), col("bitmap"), k, mBits)).count()
    assert(fn == 0L, s"$fn false negatives")
    // False positives stay near (1 - e^(-kn/m))^k; 8x headroom kills flake.
    val fp = (0 until 10000).map(i => s"other-$i").toDF("g")
      .crossJoin(broadcast(bitmap))
      .filter(Bloom.mightContain(col("g"), col("bitmap"), k, mBits)).count()
    assert(fp < 100, s"$fp false positives out of 10000 (theory ~12)")
    // 63-bit words: mBits that is not a multiple of 63 still rounds up.
    assert(Bloom.numWords(64) == 2 && Bloom.numWords(63) == 1)
  }

  test("decontaminateBloom is result-identical to exact decontaminate") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma nothing shared here at all"),
      (3L, "completely different words everywhere today"),
      (10L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 10)
    val bench = docs.filter(col("doc_id") >= 10)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.toString.toLong).toSeq
    val exact = TextDedup.decontaminate(corpus, bench, "doc_id", "text", 3, 0.1)
    val bloom = TextDedup.decontaminateBloom(corpus, bench, "doc_id", "text", 3, 0.1,
      k = 5, mBits = 1 << 12)
    assert(canon(exact) == canon(bloom))
  }

  test("prefixFilterJoin equals brute force exactly (zero false negatives, zero extras)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val got = TextDedup.prefixFilterJoin(docs, "doc_id", "text", tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force over every pair, same token sets, same rounded cut
    val sets = docs.select(col("doc_id").as("id"),
        array_distinct(split(lower(col("text")), " ")).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa intersect sb).size
      j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.8 &&
        sa.size * 0.8 <= sb.size && sb.size * 0.8 <= sa.size
    } yield (ia, ib, j)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty, "brute force found no pairs — test corpus too sparse to prove anything")
  }

  test("prefixFilterProbe finds each planted variant's original") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val probes = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zq1 zq2")).as("text"))
    val pairs = TextDedup.prefixFilterProbe(probes, docs, "doc_id", "text", tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = probes.select(col("doc_id")).collect().map(_.getLong(0))
      .map(p => (p, p - 1000000)).toSet
    assert(expected.subsetOf(pairs),
      s"variants not matched to originals: ${(expected -- pairs).take(5)}")
  }

  test("ngramCoverage: contained test doc scores 1e6 ppm, alien doc scores 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", false),
      (2L, "alpha beta gamma", true),                // both trigrams in doc 1
      (3L, "one two three four", true)               // nothing shared
    ).toDF("doc_id", "text", "is_test")
    val r = TextDedup.ngramCoverage(docs, "doc_id", "text", col("is_test"))
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Long]("coverage_ppm")).toMap
    assert(r(2L) == 1000000L)
    assert(r(3L) == 0L)
  }

  test("tfidfCosinePairs: identical docs rank first at cosine 1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "quasar pulsar nebula white dwarf"),
      (2L, "quasar pulsar nebula white dwarf"),   // identical -> cosine 1.0
      (3L, "quasar pulsar nebula red giant"),     // shares 1 of its 3 trigrams
      (4L, "totally different words here now")
    ).toDF("doc_id", "text")
    val out = TextRank.tfidfCosinePairs(docs, "doc_id", "text", maxDf = 10, topK = 10)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(out.head.getAs[Long]("id_a") == 1L && out.head.getAs[Long]("id_b") == 2L)
    assert(out.head.getAs[Double]("cosine") == 1.0)
    // docs 1/2 each pair with 3 via the shared "quasar pulsar nebula"
    assert(out.length == 3)
    assert(out(1).getAs[Double]("cosine") == out(2).getAs[Double]("cosine"))
    assert(out(1).getAs[Double]("cosine") < 1.0 && out(1).getAs[Double]("cosine") > 0.0)
    // doc 4 shares no trigram with anyone -> appears in no pair
    assert(!out.exists(r => r.getAs[Long]("id_a") == 4L || r.getAs[Long]("id_b") == 4L))
  }

  test("tfidfCosinePairs: bound-pruned k>=3 refold emits the identical top-K (boundary ties included)") {
    import spark.implicits._
    // Every pair shares the 4 trigrams of the common 6-word phrase
    // (k >= 3, so every pair sits in the ordered-refold tail), with
    // per-doc noise words grading the cosines; docs 1-3 are identical
    // so three cosine-1.0 pairs stress the id tiebreak at the top.
    // topK = 5 over ~91 such pairs forces the c_lo bound to actually
    // drop most of the tail — the pruned run must still match the
    // topK-prefix of a run whose topK exceeds the pair count (there
    // c_lo is the global minimum lower bound, so nothing is pruned
    // and every pair flows through the refold: the unpruned
    // reference).
    val docs = (1 to 14).map { i =>
      val noise = if (i <= 3) "" else (1 to i).map(j => s"pad${i}_$j").mkString(" ", " ", "")
      (i.toLong, "alpha beta gamma delta epsilon zeta" + noise)
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("id_a"),
        r.getAs[Long]("id_b"), r.getAs[Double]("cosine"))).sortBy(_._1)
    val pruned = rows(TextRank.tfidfCosinePairs(docs, "doc_id", "text", maxDf = 1000, topK = 5))
    val full = rows(TextRank.tfidfCosinePairs(docs, "doc_id", "text", maxDf = 1000, topK = 200))
    assert(full.length > 80, s"corpus should have ~91 k>=3 pairs, got ${full.length}")
    assert(pruned.length == 5)
    assert(pruned.toSeq == full.take(5).toSeq)
    assert(pruned.take(3).forall(_._4 == 1.0)) // the identical-doc tie block survives intact
  }

  test("tfidfCosinePairs: self-scaling df cap enforces the df²-mass budget") {
    import spark.implicits._
    // 12 docs sharing one common trigram (df=12) plus pairwise-shared
    // rarer trigrams; with the default budget the tiny corpus keeps
    // every term (cap = max df), so derived == uncapped
    val docs = (1 to 12).map { i =>
      (i.toLong, s"common shared trigram unique$i word$i tail${i % 4} x${i % 4} y${i % 4}")
    }.toDF("doc_id", "text")
    val derived = TextRank.tfidfCosinePairs(docs, "doc_id", "text", topK = 100)
    val uncapped = TextRank.tfidfCosinePairs(docs, "doc_id", "text", maxDf = 1000, topK = 100)
    assert(derived.exceptAll(uncapped).isEmpty && uncapped.exceptAll(derived).isEmpty)
    // a unit budget constant forces the floor cap of 2: the df=12
    // common trigram (mass 144 > 12^0.75) must be pruned
    val floored = TextRank.tfidfCosinePairs(docs, "doc_id", "text", topK = 100,
      capBudgetC = 1)
    val fixed2 = TextRank.tfidfCosinePairs(docs, "doc_id", "text", maxDf = 2, topK = 100)
    assert(floored.exceptAll(fixed2).isEmpty && fixed2.exceptAll(floored).isEmpty)
    assert(floored.count() < uncapped.count())
  }

  test("centroidDrift: orthogonal snapshots score cosine 0 / L2 sqrt2; identical score 1 / 0") {
    import spark.implicits._
    val rows =
      Seq.fill(3)((1, true, Seq(1.0f, 0.0f))) ++ Seq.fill(3)((1, false, Seq(0.0f, 1.0f))) ++
      Seq.fill(2)((2, true, Seq(1.0f, 1.0f))) ++ Seq.fill(2)((2, false, Seq(1.0f, 1.0f)))
    val df = rows.toDF("label", "a", "embedding")
    val r = VectorOps.centroidDrift(df, "label", "embedding", col("a"))
      .collect().map(x => x.getAs[Int]("label") ->
        (x.getAs[Double]("centroid_cosine"), x.getAs[Double]("centroid_l2"))).toMap
    assert(r(1) == (0.0, 1.4142))
    assert(r(2) == (1.0, 0.0))
  }

  test("bleuPairs: identical pair scores 1.0, disjoint scores 0, worked example matches") {
    import spark.implicits._
    val pairs = Seq(
      (1L, "the cat sat on the mat", "the cat sat on the mat"), // identical -> 1.0
      (2L, "the cat sat on the mat", "dog runs fast here now"), // disjoint -> 0.0
      // cand = ref + 1 extra token: m1=6/7, m2=5/6, BP=1 (cand longer)
      (3L, "the cat sat on the mat", "the cat sat on the mat quickly")
    ).toDF("id", "ref", "cand")
    val r = TextEval.bleuPairs(pairs, "id", "ref", "cand")
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("bleu")).toMap
    assert(r(1L) == 1.0)
    assert(r(2L) == 0.0)
    val expected = math.sqrt((6.0 / 7.0) * (5.0 / 6.0))
    assert(math.abs(r(3L) - expected) < 1e-4, s"got ${r(3L)}, want $expected")
  }

  test("werPairs: token edits count insertions/substitutions, identical is 0") {
    import spark.implicits._
    val pairs = Seq(
      (1L, "alpha beta gamma", "alpha beta gamma"),        // 0 edits
      (2L, "alpha beta gamma", "alpha delta gamma"),       // 1 substitution
      (3L, "alpha beta gamma", "alpha beta gamma delta"),  // 1 insertion
      (4L, "alpha beta gamma delta", "beta gamma")         // 2 deletions
    ).toDF("id", "ref", "cand")
    val r = TextEval.werPairs(pairs, "id", "ref", "cand")
      .collect().map(x => x.getAs[Long]("id") ->
        (x.getAs[Long]("token_edits"), x.getAs[Long]("wer_ppm"))).toMap
    assert(r(1L) == (0L, 0L))
    assert(r(2L) == (1L, 333333L))
    assert(r(3L) == (1L, 333333L))
    assert(r(4L) == (2L, 500000L))
    // WER@k semantics: edits beyond the scored prefix are invisible
    val trunc = TextEval.werPairs(
      Seq((7L, "alpha beta gamma delta", "alpha beta zzz zzz")).toDF("id", "ref", "cand"),
      "id", "ref", "cand", maxTokens = 2).collect().head
    assert(trunc.getAs[Long]("n_ref") == 2L && trunc.getAs[Long]("token_edits") == 0L)
  }

  test("lshDedupEval: identical planted pair is found and verified at recall 1e6") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base),                                   // exact dup pair
      (3L, "one two three four five six seven eight nine ten")  // unrelated
    ).toDF("doc_id", "text")
    val truth = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r = TextDedup.lshDedupEval(docs, "doc_id", "text", truth,
      h = 8, bands = 4).collect().head
    assert(r.getAs[Long]("n_truth") == 1L)
    assert(r.getAs[Long]("truth_found") == 1L)      // LSH surfaced the pair
    assert(r.getAs[Long]("verified_truth") == 1L)   // Jaccard confirmed it
    assert(r.getAs[Long]("recall_ppm") == 1000000L)
    assert(r.getAs[Long]("n_verified") <= r.getAs[Long]("n_candidates"))
  }
}
