package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-ladder data generator: `runMain graft.tools.ScaleUp <inDir>
  * <outDir> [factor]` writes a factor× (default 10×) copy of a
  * testdata directory so Bench can measure how each query's wall time
  * scales with data volume — the 100 TB posture argued from plan
  * shapes, tested at one order of magnitude. Runs on [[graft.GraftSession.local]].
  *
  * Construction: facts and mid-size dims replicate as `factor`
  * disjoint key-shifted copies (join fan-outs and per-key densities
  * stay exactly those of the source); region/nation stay fixed like
  * real-world small dims. Two decorrelations keep workload growth
  * ~linear where naive duplication would be quadratic:
  *   - documents: each copy's text goes through a cyclic letter
  *     substitution (copy 0 untouched), so near-dup shingles differ
  *     across copies — otherwise every doc gains factor-1 planted
  *     twins and LSH candidate pairs grow ~factor², which benchmarks
  *     the synthetic duplication, not the operator.
  *   - embeddings: each copy's vector is cyclically rotated (norms
  *     preserved, directions decorrelated), so ANN doesn't rank
  *     factor-1 exact clones at sim 1.0 for every probe.
  */
object ScaleUp {
  // larger than any key in the source data, and multiples of it stay
  // clear of the +1000000 planted-near-dup id offset used by queries
  private val Shift = 10000000L

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local()

    def read(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_ unionByName _)
    def shifted(df: DataFrame, keys: String*): DataFrame =
      copies(df)((d, i) => keys.foldLeft(d)((acc, k) => acc.withColumn(k, col(k) + i * Shift)))

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(shifted(read("customer"), "c_custkey"), "customer")
    write(shifted(read("supplier"), "s_suppkey"), "supplier")
    write(shifted(read("part"), "p_partkey"), "part")
    write(shifted(read("orders"), "o_orderkey", "o_custkey"), "orders")
    write(shifted(read("lineitem"), "l_orderkey", "l_partkey", "l_suppkey"), "lineitem")
    // events keep their timestamps: factor× the rows in the SAME time
    // range is the realistic shape for windowed/sessionized workloads.
    // Read through Tables.events, which normalizes whichever layout
    // the driver generated (long nanos via nanosAsLong, or plain
    // timestamp[us]/NTZ) to a session-UTC timestamp — a raw-nanos
    // BIGINT column would overflow every epoch_ms() in the DuckDB
    // oracles, and the hard-coded `ts div 1000` this replaced threw
    // outright on the NTZ layout.
    write(shifted(graft.sources.Tables(spark, inDir).events, "event_id", "user_id"), "events")

    // TWO independent cyclic substitutions so the per-copy text
    // transformation stays INJECTIVE past 10 copies: rotating only
    // "abcdefghij" by i%10 made copies i and i+10 byte-identical, so a
    // factor-30 build planted every doc in exact triplicate and the
    // sf3 ladder benchmarked that synthetic duplication, not the
    // operators (q_substring_remove measured 6.5x at the 3x step; the
    // whole corpus became "duplicated substrings"). The second wheel
    // ("klmnopqrstuvwxyz", keyed by i/10) is identity for i < 10, so
    // factor-10 output — and every committed sf1 measurement — is
    // bit-identical to the old scheme; copies are pairwise distinct up
    // to factor 160.
    val alphaA = "abcdefghij"
    val alphaB = "klmnopqrstuvwxyz"
    write(copies(read("documents")) { (d, i) =>
      val rA = i % alphaA.length
      val rB = (i / alphaA.length) % alphaB.length
      val rotA = alphaA.drop(rA) + alphaA.take(rA)
      val rotB = alphaB.drop(rB) + alphaB.take(rB)
      val t0 = if (rA == 0) col("text") else translate(col("text"), alphaA, rotA)
      val t1 = if (rB == 0) t0 else translate(t0, alphaB, rotB)
      d.withColumn("doc_id", col("doc_id") + i * Shift)
        .withColumn("text", t1)
      // n_chars untouched: translate is length-preserving
    }, "documents")

    // embedding width read off the data (hard-coding it would silently
    // truncate vectors if the testdata dim ever changes); slice lengths
    // still use size(embedding) per row so a ragged row fails loudly in
    // downstream dot products rather than being quietly clipped here
    val dim = read("embeddings").select(size(col("embedding"))).head.getInt(0)
    write(copies(read("embeddings")) { (d, i) =>
      val r = i % dim
      val e = col("embedding")
      val rotated =
        if (r == 0) e
        else concat(slice(e, lit(r + 1), size(e) - r), slice(e, lit(1), lit(r)))
      d.withColumn("vec_id", col("vec_id") + i * Shift).withColumn("embedding", rotated)
    }, "embeddings")

    println(s"""{"scaled": "$outDir", "factor": $factor}""")
    spark.stop()
  }
}
