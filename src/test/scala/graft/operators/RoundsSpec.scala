package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Pins for the round checkpoint of the iterative graph operators:
  * its statistics are the exact row count it observed, joins plan
  * from those statistics, and an observed convergence signature is
  * the one a separate job would have read.
  */
class RoundsSpec extends graft.SparkSpec {
  import spark.implicits._

  test("a checkpoint's stats.rowCount equals its row count") {
    val cp = Rounds.checkpoint(spark.range(0, 1000).filter(col("id") % 7 === 0)
      .select(col("id"), (col("id") * 2).as("twice")))
    val stats = cp.df.queryExecution.optimizedPlan.stats
    assert(cp.rows == 143L)
    assert(stats.rowCount.contains(BigInt(cp.df.count())))
    // 8 bytes of row overhead plus two longs per row
    assert(stats.sizeInBytes == BigInt(143 * 24))
    val empty = Rounds.checkpoint(Seq.empty[Long].toDF("id"))
    assert(empty.rows == 0L)
    assert(empty.df.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(0)))
  }

  test("a join broadcasts a small checkpoint before AQE runs, and not one above the threshold") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(threshold)
    // 16 bytes a row (overhead plus one long): 10 rows fit in 1 KiB, 100 do not
    spark.conf.set(threshold, "1024")
    try {
      val probe = spark.range(0, 100000).select(col("id"))
      def broadcasts(state: DataFrame): Boolean =
        probe.join(state, "id").queryExecution.sparkPlan.collect {
          case j: BroadcastHashJoinExec => j
        }.nonEmpty
      // each state is cut from a self-join whose estimate is the
      // product of its sides, so without the exact count neither fits
      def state(n: Long): DataFrame = {
        val r = spark.range(0, n)
        Rounds.checkpoint(r.join(r.select(col("id").as("j")), col("id") === col("j"))
          .select("id")).df
      }
      assert(broadcasts(state(10)))
      assert(!broadcasts(state(100)))
    } finally spark.conf.set(threshold, saved)
  }

  test("star steps: one shuffle per minimum, and the aggregate-then-join round's edge set") {
    // Shuffles in the plan before AQE runs it: a window minimum is one,
    // and the round's one distinct (in smallStar) another.
    def shuffles(df: DataFrame): Int = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case x: ShuffleExchangeLike => x }.size
    val probe = Seq((1L, 2L), (2L, 3L)).toDF("u", "v").localCheckpoint(true)
    assert(shuffles(Graph.largeStar(probe)) == 1)
    assert(shuffles(Graph.smallStar(probe)) == 2)
    // The round as it was before the window form: each star step an
    // aggregate, a join back and a distinct (Kiveris et al. 2014).
    def largeRef(e: DataFrame) = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).filter(col("u") =!= col("v")).distinct()
    }
    def smallRef(e: DataFrame) = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
      oriented.join(mins, "u").select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    val rnd = new scala.util.Random(7)
    for (n <- Seq(12, 40)) {
      var e = Seq.fill(2 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).distinct.toDF("u", "v")
      var ref = e
      for (_ <- 1 to 3) {
        assert(Graph.largeStar(e).collect().toSet == largeRef(e).collect().toSet)
        e = Graph.smallStar(Graph.largeStar(e)).localCheckpoint(true)
        ref = smallRef(largeRef(ref)).localCheckpoint(true)
        assert(e.collect().toSet == ref.collect().toSet)
        assert(e.count() == e.distinct().count())
      }
    }
  }

  test("connectedComponents: the observed signature and round count match separate head() jobs") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L), (5L, 6L),
      (7L, 1L), (10L, 11L), (12L, 11L)).toDF("s", "d")
    // the loop before the observed signature: a head() job per round
    def sig(d: DataFrame) =
      d.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
    var e = edges.select(col("s").as("u"), col("d").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    var prev = sig(e)
    var converged = false
    var rounds = 0
    while (!converged) {
      e = Graph.smallStar(Graph.largeStar(e)).localCheckpoint(true)
      val next = sig(e)
      converged = next == prev
      prev = next
      rounds += 1
    }
    val forest = Graph.starForest(edges, "s", "d", maxRounds = 20)
    assert(forest.seen == prev)
    assert(forest.round == rounds)
    assert(forest.df.collect().toSet == e.collect().toSet)
  }
}
