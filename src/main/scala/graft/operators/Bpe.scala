package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer induction (Sennrich et al. 2016) as a driver-bounded
  * Spark loop — the step that turns a curated corpus into a tokenizer.
  *
  * Scale shape: everything after the one-time word-count aggregation
  * operates on the VOCABULARY weighted by word counts, never the
  * corpus — the classic BPE trick. Each merge round is one pair-count
  * aggregate over the symbolized vocab (rows = vocab size, shrinking
  * as merges apply) and collects exactly ONE row (the argmax pair)
  * back to the driver; the merge application is a per-row fold. At
  * 100 TB the corpus is touched once for word counts; every round
  * after that costs the same as at 1 GB.
  */
object Bpe {

  /** Greedy left-to-right application of one merge (a, b) → "ab" to a
    * symbol array — the standard BPE semantics ("aaa" + (a,a) →
    * ["aa", "a"]).
    */
  private[operators] def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x)))
    )

  /** Adjacent-pair weighted frequencies of a symbolized vocab. */
  private[operators] def pairCounts(symbolized: DataFrame): DataFrame =
    symbolized
      .filter(size(col("s")) >= 2)
      // both slices bounded by size (slice with Int.MaxValue length
      // overflows on the interpreted path); equal lengths mean
      // zip_with never pads
      .select(col("wc"), explode(
        zip_with(slice(col("s"), lit(1), size(col("s")) - 1),
          slice(col("s"), lit(2), size(col("s")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .filter(col("p.b").isNotNull)
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wc")).as("freq"))

  /** Most merges one round folds over its frame: every MaxFoldDepth
    * merges the symbolized vocab is checkpointed and the fold restarts
    * there, so no plan nests more aggregate() lambdas than this.
    */
  private[graft] val MaxFoldDepth = 16

  /** Learn `nMerges` merges from a (word, count) table. Deterministic:
    * argmax pair with (freq desc, a asc, b asc) tiebreak. Stops early
    * if no pair remains. Returns merges in application order.
    */
  def learnMerges(words: DataFrame, wordCol: String, countCol: String, nMerges: Int): Seq[(String, String)] = {
    val base = words
      .select(col(countCol).cast("long").as("wc"),
        expr(s"transform(sequence(1, length($wordCol)), i -> substr($wordCol, i, 1))").as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    def fold(df: DataFrame, ms: Seq[(String, String)]): DataFrame = ms.foldLeft(df) { case (d, (a, b)) =>
      d.select(col("wc"), applyMerge(col("s"), a, b).as("s"))
    }
    var from = base
    try {
      // Each round's symbolization is the cached base (or the last
      // checkpoint) plus the merges learned since, re-applied as a
      // narrow per-row fold — NOT a per-round persist+count chain:
      // materializing every round cost one extra eager job + a
      // persisted copy per merge (measured 4.6 s wall / 0.8 s cpu at
      // sf0.1 — pure serial-job latency on a vocab-bounded table),
      // while re-folding k tiny column lambdas over one cached scan is
      // map-side-only work. One job per round (the argmax collect)
      // remains — the algorithmic floor — plus one checkpoint job per
      // MaxFoldDepth merges.
      var continue = true
      while (continue && merges.size < nMerges) {
        if (merges.nonEmpty && merges.size % MaxFoldDepth == 0) {
          val cut = Rounds.checkpoint(fold(from, merges.takeRight(MaxFoldDepth).toSeq)).df
          if (from ne base) Rounds.release(from)
          from = cut
        }
        val top = pairCounts(fold(from, merges.takeRight(merges.size % MaxFoldDepth).toSeq))
          .orderBy(col("freq").desc, col("a"), col("b")).limit(1).collect()
        if (top.isEmpty) continue = false
        else merges += ((top(0).getString(0), top(0).getString(1)))
      }
      merges.toList
    } finally {
      if (from ne base) Rounds.release(from)
      base.unpersist(false)
    }
  }

  /** Tokenize words with a learned merge list (applied in order) —
    * returns (word, tokens). The runtime encoder a pipeline would
    * broadcast; here it doubles as the spec's round-trip check.
    */
  def encode(words: DataFrame, wordCol: String, merges: Seq[(String, String)]): DataFrame = {
    val base = expr(s"transform(sequence(1, length($wordCol)), i -> substr($wordCol, i, 1))")
    val toks = merges.foldLeft(base: Column) { case (acc, (a, b)) => applyMerge(acc, a, b) }
    words.select(col(wordCol), toks.as("tokens"))
  }

  /** Symbol-boundary markers for [[symbolizedColumn]]'s string-encoded
    * symbol sequence: control chars tokenizer input text never
    * contains. Every symbol is stored as L+sym+R; BOTH markers matter
    * — a single separator admits two bugs: a pair search "e SEP e"
    * falsely matches the SUFFIX of a neighboring symbol (["the","e"]
    * would merge into "thee"), and a search that consumes its trailing
    * separator breaks adjacency for the next greedy match ([e,e,e,e]
    * would yield [ee,e,e], not [ee,ee]). Wrapped symbols make
    * "La R Lb R" match exactly complete adjacent symbols and leave the
    * neighbors' markers intact.
    */
  val SymL = "\u0001"
  val SymR = "\u0002"

  /** Symbol sequence of `wordCol` as a marker-wrapped string, with the
    * merge list applied greedily left-to-right in order. KEY IDENTITY:
    * standard string replace (non-overlapping, left-to-right) of
    * "La R Lb R" → "Lab R" over wrapped symbols IS greedy BPE
    * application of merge (a, b) — exactly [[applyMerge]]'s semantics
    * (the new token can never re-match within the same pass: ab==a or
    * ab==b would need an empty side) — so the whole encoder is a
    * codegen'd string-function chain (no interpreted array lambda, no
    * UDF) that any engine with replace() reproduces bit-for-bit.
    */
  def symbolizedColumn(wordCol: Column, merges: Seq[(String, String)]): Column = {
    val base = regexp_replace(wordCol, "(.)", SymL + "$1" + SymR)
    merges.foldLeft(base) { case (acc, (a, b)) =>
      replace(acc, lit(SymL + a + SymR + SymL + b + SymR), lit(SymL + a + b + SymR))
    }
  }

  /** Token count of a [[symbolizedColumn]] string: one R marker per
    * symbol; empty word → 0 tokens. split with limit -1 keeps the
    * trailing empty field so the count is exact on every engine.
    */
  def symbolTokenCount(sym: Column): Column =
    (size(split(sym, SymR, -1)) - 1).cast("long")

  /** Corpus tokenization stats under a FIXED merge list (the runtime
    * half of BPE: a tokenizer learned once is applied to every corpus
    * snapshot forever after). Returns per-document (n_words,
    * bpe_tokens, fertility = tokens/word).
    *
    * Scale shape — the tokenize-the-VOCAB trick: the replace-chain
    * encoder runs over DISTINCT words only; documents then join their
    * per-word counts to the vocab-sized (word, n_tokens) table and
    * aggregate. 100 TB of text pays one word-count aggregation plus a
    * vocab-scale encode, never a per-occurrence encode. The join
    * shuffles (word, count) pairs — AQE broadcasts the encoded vocab
    * when it fits.
    */
  def encodeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                        merges: Seq[(String, String)]): DataFrame = {
    val perDocWord = docs
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).as("w"))
      .groupBy(idCol, "w").agg(count(lit(1)).as("cnt"))
    val encoded = perDocWord.select("w").distinct()
      .select(col("w"),
        symbolTokenCount(symbolizedColumn(col("w"), merges)).as("ntoks"))
    perDocWord.join(encoded, "w")
      .groupBy(idCol)
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("ntoks")).as("bpe_tokens"))
      .select(col(idCol), col("n_words"), col("bpe_tokens"),
        round(col("bpe_tokens").cast("double") / col("n_words"), 4).as("fertility"))
  }

  /** DuckDB expression computing the same symbolized string as
    * [[symbolizedColumn]] over SQL expression `w` — for oracle
    * formulations.
    */
  def symbolizedSqlDuck(w: String, merges: Seq[(String, String)]): String = {
    val base = s"regexp_replace($w, '(.)', chr(1)||'\\1'||chr(2), 'g')"
    merges.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc, chr(1)||'$a'||chr(2)||chr(1)||'$b'||chr(2), chr(1)||'${a + b}'||chr(2))"
    }
  }
}
