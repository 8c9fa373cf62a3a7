package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Scan-parallelism repair for expensive per-row pipelines (round 14).
  *
  * The driver's testdata ships each table as ONE parquet file with ONE
  * row group, so a scan can never split past a single task no matter
  * what `spark.sql.files.maxPartitionBytes` / `minPartitionNum` say
  * (parquet splits at row-group granularity) — and a pipeline whose
  * heavy per-row compute sits directly on the scan serializes entirely
  * (q_cohens_kappa measured as ONE 4.5 s task at sf0.1 on a 32-core
  * session). At production scale the same pipelines parallelize for
  * free (many files / many row groups), which is exactly what the
  * guard below detects: the repartition is inserted ONLY when the
  * planned scan has fewer partitions than the cluster's default
  * parallelism, so at 100 TB this is a no-op and no corpus-wide
  * shuffle is ever added. Row-identity is unchanged either way (the
  * spread hash-partitions on the row id: it moves rows, never alters
  * them).
  */
object Par {

  /** `df` widened to `defaultParallelism` partitions iff its planned
    * scan cannot already supply that much parallelism. Call on the
    * NARROW base projection (before the expensive expressions), so the
    * shuffle carries source columns, not computed ones.
    *
    * The partition count is the sum over the planned leaf file scans
    * of `df.queryExecution`; nothing is executed (`df.rdd` would run
    * every upstream AQE stage of a shuffled frame and plan it twice).
    * A frame whose plan already holds an Exchange is returned
    * unchanged: its parallelism is the exchange's, not the scan's.
    *
    * Spread by a high-cardinality KEY (the row id) rather than
    * round-robin: RoundRobinPartitioning pays a whole-row local sort
    * before the exchange (spark.sql.execution.sortBeforeRepartition,
    * needed for retry determinism — StageProf measured it as a 1.6 s
    * single-task sort of full document text on q_cohens_kappa), while
    * hash partitioning is retry-deterministic for free and only hashes
    * the key.
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    if (plan.exists(_.isInstanceOf[Exchange]) ||
        plan.collectLeaves().collect { case s: FileSourceScanExec => s.inputRDD.getNumPartitions }.sum >= p) df
    else df.repartition(p, key)
  }
}
