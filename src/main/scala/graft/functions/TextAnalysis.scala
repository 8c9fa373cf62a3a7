package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a large-scale training-data pipeline:
  * tokenization, token counting, stopword hits, language-ID heuristics,
  * n-gram shingling, Jaccard similarity, and document fingerprinting.
  *
  * All pure Column expressions — per-row, embarrassingly parallel, inside
  * whole-stage codegen. Nothing here shuffles; shuffling belongs to the
  * operators that consume these (dedup joins, LSH buckets).
  */
object TextAnalysis {

  /** Whitespace tokenization (lowercased). */
  def tokenize(text: Column): Column = split(lower(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokenize(text)).cast("long")

  /** BPE-ish token estimate of a token array (e.g. [[tokenize]]'s):
    * ceil(len/4) subword chunks per word — the ~4-chars-per-token
    * heuristic used for budget estimates. Taking the array lets a
    * caller that also counts words split the text once.
    */
  def bpeTokenEstimate(tokens: Column): Column =
    aggregate(tokens, lit(0L), (acc, w) => acc + ceil(length(w) / 4.0).cast("long"))

  /** Number of tokens that appear in `stopwords`. */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokenize(text), t => t.isInCollection(stopwords))).cast("long")

  /** Per-language stopword profiles for the language-ID heuristic. */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "es" -> Seq("el", "la", "de", "los", "las", "y", "es", "en", "un", "una"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "un", "une", "dans", "pour")
  )

  /** Argmax language by stopword hits; `default` when every profile
    * scores zero. Ties break by profile order.
    *
    * Column-inline form: every `hits` leaf re-tokenizes the text
    * (Catalyst does no CSE inside higher-order-function lambdas, and
    * the argmax fold duplicates its accumulator per step, so the text
    * is re-split up to 2^profiles times per row). Hot paths should use
    * [[withProfileHits]] + [[predictFromHits]], which tokenize once per
    * row (measured 3.7x at sf0.1 on the confusion-matrix scan).
    */
  def predictLang(text: Column, profiles: Seq[(String, Seq[String])], default: String): Column =
    argmaxByHits(profiles.map { case (lang, words) => (lang, stopwordHits(text, words)) }, default)

  /** Shared argmax fold over (lang, hits) columns: strict >, first
    * profile wins ties, `default` when the best score is zero.
    */
  private def argmaxByHits(scored: Seq[(String, Column)], default: String): Column = {
    val best = scored.tail.foldLeft(struct(lit(scored.head._1).as("lang"), scored.head._2.as("hits"))) {
      case (acc, (lang, hits)) =>
        when(hits > acc.getField("hits"), struct(lit(lang).as("lang"), hits.as("hits"))).otherwise(acc)
    }
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit(default))
  }

  /** `df` plus one `prefix+lang` stopword-hit-count column per profile,
    * all computed from a SINGLE tokenization: the token array lands in
    * its own projection and the per-profile filters reference it as an
    * attribute, so the text is split once per row instead of once per
    * profile copy (CollapseProject keeps the two projections apart
    * because the non-cheap split is referenced more than once). Hit
    * counts are exactly [[stopwordHits]] (long; NULL on NULL text).
    */
  def withProfileHits(df: org.apache.spark.sql.DataFrame, text: Column,
                      profiles: Seq[(String, Seq[String])],
                      prefix: String = "hits_"): org.apache.spark.sql.DataFrame = {
    val ws = "__toks"
    val keep = df.columns.map(col).toSeq
    df.withColumn(ws, tokenize(text))
      .select(keep ++ profiles.map { case (lang, words) =>
        size(filter(col(ws), t => t.isInCollection(words))).cast("long").as(prefix + lang)
      }: _*)
  }

  /** [[predictLang]] over the hit columns appended by
    * [[withProfileHits]] — identical argmax/tie/default semantics, but
    * the fold duplicates only attribute references, not tokenizations.
    */
  def predictFromHits(profiles: Seq[(String, Seq[String])], default: String,
                      prefix: String = "hits_"): Column =
    argmaxByHits(profiles.map { case (lang, _) => (lang, col(prefix + lang)) }, default)

  /** `df` plus the [[predictLang]] prediction as `out`, computed via the
    * one-tokenization [[withProfileHits]] path; the intermediate hit
    * columns are projected away.
    */
  def withLangPrediction(df: org.apache.spark.sql.DataFrame, text: Column,
                         profiles: Seq[(String, Seq[String])], default: String,
                         out: String): org.apache.spark.sql.DataFrame = {
    val keep = df.columns.map(col).toSeq
    withProfileHits(df, text, profiles)
      .select(keep :+ predictFromHits(profiles, default).as(out): _*)
  }

  /** Distinct word n-grams ("shingles"); empty array when too few
    * words. Native expression (graft.plans.NgramShingles); the specs'
    * interpreted-HOF form (`HofOracles.wordNgramsHof`, src/test)
    * re-splits the text per element and is O(words^2) per document.
    */
  def wordNgrams(text: Column, n: Int): Column =
    graft.plans.NgramShingles(text, n)

  /** Jaccard similarity of two (distinct-element) arrays, 0 when both
    * are empty.
    */
  def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b)).cast("double")
    val u = size(array_union(a, b)).cast("double")
    when(u === 0, lit(0.0)).otherwise(i / u)
  }

  /** Containment (asymmetric Jaccard) of `a` in `b`: |A∩B| / |A|,
    * 0 when A is empty. The doc-in-doc signal symmetric Jaccard
    * misses — an excerpt quoted inside a much larger document scores
    * near 1.0 here while its Jaccard stays low (the union is
    * dominated by the big side), which is why dedup pipelines that
    * only threshold Jaccard keep quote-of-a-document duplicates.
    */
  def containment(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b)).cast("double")
    val d = size(a).cast("double")
    when(d === 0, lit(0.0)).otherwise(i / d)
  }

  /** 64-bit content fingerprint (xxhash64 of the full text). */
  def fingerprint(text: Column): Column = xxhash64(text)

  /** Shingle fingerprint: min xxhash64 over word 3-grams — a 1-wide
    * MinHash, stable under word order far from the minimum.
    */
  def shingleFingerprint(text: Column): Column =
    array_min(transform(wordNgrams(text, 3), s => xxhash64(s)))

  /** Rebuild an abstract from a positional inverted index
    * (map word -> positions), the OpenAlex format — mirrors
    * /root/reference/rialto_airflow/distiller/abstract.py:66-94 as one
    * native expression: entries → (pos, word) pairs → sort → join.
    * `HofOracles.rebuildInvertedIndexHof` (src/test) is the
    * interpreted-HOF form the specs compare it against.
    */
  def rebuildInvertedIndex(m: Column): Column =
    graft.plans.InvertedIndexExprs.rebuild(m)

  /** Inverse of rebuildInvertedIndex for round-trip tests: text → map
    * word -> sorted positions (0-based). Its interpreted-HOF form,
    * `HofOracles.buildInvertedIndexHof` (src/test), is O(words^2)
    * because the token array re-materializes inside the lambdas.
    */
  def buildInvertedIndex(text: Column): Column =
    graft.plans.InvertedIndexExprs.build(text)
}
