package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learnMerges reproduces the hand-computed merge sequence") {
    // pairs: (a,b) freq 8 wins round 1; then (ab,c) freq 3 wins round 2
    val words = Seq(("ab", 5L), ("abc", 3L)).toDF("w", "wc")
    val merges = Bpe.learnMerges(words, "w", "wc", nMerges = 2)
    assert(merges == Seq(("a", "b"), ("ab", "c")))
  }

  test("greedy left-to-right merge: 'aaa' + (a,a) -> [aa, a]") {
    val df = Seq("aaa").toDF("w")
    val out = Bpe.encode(df, "w", Seq(("a", "a"))).select("tokens").as[Seq[String]].head()
    assert(out == Seq("aa", "a"))
  }

  test("learnMerges stops early when no pairs remain and encode round-trips") {
    val words = Seq(("ab", 2L)).toDF("w", "wc")
    val merges = Bpe.learnMerges(words, "w", "wc", nMerges = 10)
    assert(merges == Seq(("a", "b"))) // after merging, single symbols only
    val enc = Bpe.encode(Seq("abab", "ba").toDF("w"), "w", merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(enc("abab") == List("ab", "ab"))
    assert(enc("ba") == List("b", "a"))
    // concatenating tokens always reconstructs the word
    assert(enc.forall { case (w, ts) => ts.mkString == w })
  }

  test("replace-chain encoder (symbolizedColumn) == array-fold encode on adversarial words") {
    // overlapping merges, chained merges consuming earlier outputs,
    // repeats, and words untouched by any merge
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "a", "e" -> "e")
    val words = Seq("the", "thethe", "ththe", "aaaa", "aaaaa", "eee", "theee", "x", "").toDF("w")
    val viaFold = Bpe.encode(words, "w", merges)
      .select(col("w"), col("tokens"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    // decode wrapped symbols: split on R markers, drop the trailing
    // empty field, strip each token's leading L marker
    val parts = split(Bpe.symbolizedColumn(col("w"), merges), Bpe.SymR, -1)
    val viaChain = words
      .select(col("w"),
        transform(slice(parts, lit(1), size(parts) - 1),
          t => t.substr(lit(2), length(t))).as("tokens"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    // empty word excluded from the fold comparison: encode()'s
    // sequence(1, length(w)) DESCENDS for length 0 (sequence(1,0) =
    // [1,0]) and emits two empty symbols — the chain's [] is the sane
    // answer, pinned below
    words.collect().map(_.getString(0)).filter(_.nonEmpty).foreach { w =>
      assert(viaChain(w) == viaFold(w), s"word '$w'")
      assert(viaChain(w).mkString == w, s"reconstruction of '$w'")
    }
    assert(viaChain("") == Nil)
    assert(viaChain("aaaa") == List("aa", "aa") && viaChain("aaaaa") == List("aa", "aa", "a"))
    assert(viaChain("thethe") == List("the", "the"))
  }

  test("encodeTokenCounts: vocab-first counts match per-occurrence encoding") {
    val docs = Seq((1L, "the cat the cat mat"), (2L, "in the rain"), (3L, "xyz")).toDF("doc_id", "text")
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "t", "i" -> "n")
    val out = Bpe.encodeTokenCounts(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1: the->1, cat->2 (c,at), mat->2 (m,at); words: the,cat,the,cat,mat = 5 words, 1+2+1+2+2=8 toks
    assert(out(1L) == ((5L, 8L, 1.6)))
    // doc 2: in->1, the->1, rain->3 (r,a,in... wait a+t no; r,ain? i+n merges: r-a-in = 3)
    assert(out(2L) == ((3L, 5L, round4(5.0 / 3))))
    assert(out(3L) == ((1L, 3L, 3.0)))
  }

  private def round4(d: Double): Double = math.rint(d * 10000) / 10000

  test("frequency-weighted argmax with deterministic tiebreak on the classic corpus") {
    // Sennrich-style toy: low x5, lower x2, newest x6, widest x3
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)).toDF("w", "wc")
    val merges = Bpe.learnMerges(words, "w", "wc", nMerges = 3)
    // e-s (9) wins round 1, then es-t (9), then lexicographic among 7s: (l,o)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o")))
  }

  test("learnMerges past MaxFoldDepth matches plain-Scala BPE with bounded fold depth") {
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L),
      ("abcabc", 4L), ("abcdefghijklmnopqrstuvwxyz", 1L))
    val nMerges = 20
    assert(Bpe.MaxFoldDepth < nMerges - 1, "the spec must learn enough merges to pass a checkpoint")
    // per SQL execution: the aggregate() lambdas its analyzed plan nests
    val depths = scala.collection.mutable.ListBuffer.empty[(String, Int)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        val n = qe.analyzed.collect { case p =>
          p.expressions.map(_.collect {
            case _: org.apache.spark.sql.catalyst.expressions.ArrayAggregate => 1
          }.sum).sum
        }.sum
        depths.synchronized { depths += funcName -> n }
      }
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val merges = try {
      val m = Bpe.learnMerges(vocab.toDF("w", "wc"), "w", "wc", nMerges)
      // listener delivery is async: wait for every round's argmax collect
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def collects = depths.synchronized(depths.count(_._1 == "collect"))
      while (collects < nMerges && System.nanoTime() < deadline) Thread.sleep(50)
      m
    } finally spark.listenerManager.unregister(listener)
    assert(merges == plainBpe(vocab, nMerges))
    val seen = depths.synchronized(depths.toList)
    assert(seen.count(_._1 == "collect") == nMerges)
    assert(seen.map(_._2).max <= Bpe.MaxFoldDepth, seen.toString)
  }

  /** Textbook BPE on a (word, count) list: greedy left-to-right merge
    * application, argmax pair by (freq desc, a asc, b asc).
    */
  private def plainBpe(vocab: Seq[(String, Long)], n: Int): Seq[(String, String)] = {
    def merge(syms: Vector[String], a: String, b: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b) else acc :+ x
      }
    var words = vocab.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var done = false
    while (!done && out.size < n) {
      val freq = words.flatMap { case (s, c) => s.zip(s.tail).map(_ -> c) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (freq.isEmpty) done = true
      else {
        val (a, b) = freq.toSeq.minBy { case ((a, b), f) => (-f, a, b) }._1
        out += ((a, b))
        words = words.map { case (s, c) => (merge(s, a, b), c) }
      }
    }
    out.toList
  }
}
