package graft.tools

import graft.{GraftSession, SparkEntry}

/** AQE / broadcast-threshold sensitivity sweep over a query subset —
  * the "are the session defaults actually the right ones at scale"
  * check a tuning doc should cite numbers for, not vibes.
  *
  *   SPARK_GRAFT_SF_DIR=benchdata/sf3 SPARK_GRAFT_CPUS=4 \
  *     SPARK_GRAFT_QUERIES=q_a,q_b java -cp ... graft.tools.Sensitivity
  *
  * Protocol: WITHIN-QUERY INTERLEAVING. For each query, one untimed
  * warm run, then median-of-3 under EVERY config variant back-to-back
  * before moving to the next query. Two earlier protocols both failed
  * on this host:
  *   - one JVM, variant-major order: the leading variant paid the
  *     OS-page-cache cold read for everyone (q_ppr 25.3 s cold vs
  *     3.4 s warm at sf3) and later variants drifted under
  *     accumulated JIT/GC state;
  *   - one JVM per variant, run sequentially: the shared host's load
  *     swings 0 → 26 on ~10-minute scales, so each ~15-minute variant
  *     saw different weather and cross-variant ratios were noise.
  * Interleaving puts all four configs within a couple of minutes of
  * each other PER QUERY, so host drift cancels in the within-query
  * ratios — the only comparisons the sweep is for. (Both toggled
  * settings are runtime SQL confs, so flipping them per measurement is
  * sound; plans re-optimize per action.)
  *
  * Variants price the session's two tuning levers:
  * `spark.sql.autoBroadcastJoinThreshold` (32 MiB default / 8 MiB
  * memory-constrained / -1 off — "off" shows what every automatic
  * broadcast in the plan is worth; explicit broadcast() hints are
  * unaffected) and `spark.sql.adaptive.enabled` (off prices AQE's
  * runtime coalesce + skew-join re-planning).
  */
object Sensitivity {

  private val variants: Seq[(String, Map[String, String])] = Seq(
    "default" -> Map(
      "spark.sql.autoBroadcastJoinThreshold" -> (32L * 1024 * 1024).toString,
      "spark.sql.adaptive.enabled" -> "true"),
    "bcast_off" -> Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true"),
    "bcast_8m" -> Map(
      "spark.sql.autoBroadcastJoinThreshold" -> (8L * 1024 * 1024).toString,
      "spark.sql.adaptive.enabled" -> "true"),
    "aqe_off" -> Map(
      "spark.sql.autoBroadcastJoinThreshold" -> (32L * 1024 * 1024).toString,
      "spark.sql.adaptive.enabled" -> "false"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "benchdata/sf3")
    val spark = GraftSession.local()

    val subset = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    val selected = subset.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))

    def runOn(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    def medianOf3(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); runOn(fn); (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }
    def setConf(v: Map[String, String]): Unit =
      v.foreach { case (k, s) => spark.conf.set(k, s) }

    val perQuery = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      setConf(variants.head._2)
      val ok = try { runOn(fn); true } catch { case _: Throwable => false }
      val row = variants.map { case (vn, settings) =>
        val t =
          if (!ok) -1.0
          else {
            // Clear persisted intermediates BEFORE each variant, not
            // once per query: frames persisted during the warm/default
            // run (memoized edges, minhash cache handles) would
            // otherwise stay materialized across variants, so a conf
            // flip could never re-plan the cached stages and the A/B
            // delta would price only the uncached tail. Page-cache
            // warmth is the only carryover; the median-of-3 discards
            // the re-persist cost of each variant's first run.
            clearCaches()
            setConf(settings)
            try medianOf3(fn) catch { case _: Throwable => -1.0 }
          }
        vn -> math.round(t * 100) / 100.0
      }
      clearCaches()
      name -> row
    }
    setConf(variants.head._2)
    for ((vn, _) <- variants) {
      val qjson = perQuery
        .map { case (q, row) => "\"" + q + "\":" + row.toMap.getOrElse(vn, -1.0) }
        .mkString("{", ",", "}")
      println(s"""{"variant":"$vn","sf":"$sfDir","queries":$qjson}""")
    }
    spark.stop()
  }
}
