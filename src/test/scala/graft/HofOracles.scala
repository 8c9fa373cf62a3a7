package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** The interpreted higher-order-function forms of graft's native
  * expressions, composed from Spark's built-in functions only. The
  * specs compare each native expression against its form here
  * (PlansSpec, ExtensionsSpec); no query runs them.
  */
object HofOracles {

  /** TextAnalysis.wordNgrams (graft.plans.NgramShingles): same results
    * on whitespace-normalized text.
    */
  def wordNgramsHof(text: Column, n: Int): Column = {
    val ws = TextAnalysis.tokenize(text)
    val grams = transform(
      sequence(lit(1), size(ws) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*)
    )
    array_distinct(when(size(ws) >= n, grams).otherwise(array()))
  }

  /** TextAnalysis.rebuildInvertedIndex (same results). */
  def rebuildInvertedIndexHof(m: Column): Column = {
    val pairs = flatten(
      transform(
        map_entries(m),
        e => transform(e.getField("value"), p => struct(p.as("pos"), e.getField("key").as("w")))
      )
    )
    array_join(transform(array_sort(pairs), p => p.getField("w")), " ")
  }

  /** TextAnalysis.buildInvertedIndex (same results, O(words^2) because
    * the token array re-materializes inside the lambdas).
    */
  def buildInvertedIndexHof(text: Column): Column = {
    val ws = TextAnalysis.tokenize(text)
    val dw = array_distinct(ws)
    map_from_arrays(
      dw,
      transform(
        dw,
        w => filter(transform(sequence(lit(1), size(ws)), i => i - 1), p => element_at(ws, p + 1) === w)
      )
    )
  }

  /** TextDedup.minhashSignature (graft.plans.MinHashSig), bit-identical. */
  def minhashSignatureHof(shingles: Column, h: Int): Column =
    transform(
      sequence(lit(0), lit(h - 1)),
      i => array_min(transform(shingles, s => xxhash64(s, i)))
    )

  /** TextDedup.portableSignature (graft.plans.PortableMinHashSig),
    * bit-identical; this is also exactly what the DuckDB oracles inline.
    */
  def portableSignatureHof(shingles: Column, h: Int, saltPrefix: String = ""): Column =
    transform(sequence(lit(0), lit(h - 1)), i =>
      array_min(transform(shingles, s =>
        substring(md5(concat(lit(saltPrefix), s, lit(":"), i.cast("string"))), 1, 16))))

  /** TextDedup.simhashBits (graft.plans.SimHashBits), bit-identical and
    * ~60x slower: the hash transform is duplicated into all 64 bit
    * expressions.
    */
  def simhashBitsHof(tokens: Column): Column = {
    val hs = transform(tokens, t => xxhash64(t))
    array((0 until 64).map { i =>
      val vote = aggregate(
        hs,
        lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)
      )
      when(vote > 0, 1L).otherwise(0L)
    }: _*)
  }

  /** VectorOps.dot (graft.plans.VecDot), bit-identical: double math,
    * left fold.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v
    )
}
