package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to `classic.Dataset.ofRows` and `Dataset.logicalPlan` —
  * private[sql], so this lives under the org.apache.spark.sql package
  * tree.
  *
  * Why it exists: a `localCheckpoint` keeps the size estimate of the
  * plan it was cut from. Without column statistics Catalyst multiplies
  * the sizes of a join's inputs, so the estimates of iterative state
  * compound round after round and pass `autoBroadcastJoinThreshold`
  * while the state itself is a few rows: the join against it is
  * planned sort-merge and AQE shuffles both sides before it demotes
  * the join to a broadcast. Given the checkpoint's exact row count,
  * the size follows from the row width, so the first plan already
  * broadcasts small state and still shuffles large state.
  */
object CheckpointStats {

  /** `checkpoint` — a frame whose plan is the one LogicalRDD a
    * checkpoint leaves — with `rows` as its row count and the size
    * Catalyst derives from that count and the row width.
    */
  def withRowCount(checkpoint: DataFrame, rows: Long): DataFrame = {
    val ds = checkpoint.asInstanceOf[ClassicDataset[_]]
    ds.logicalPlan match {
      case l: LogicalRDD =>
        val stats = Statistics(
          sizeInBytes = EstimationUtils.getOutputSize(l.output, BigInt(rows)),
          rowCount = Some(BigInt(rows)))
        ClassicDataset.ofRows(ds.sparkSession,
          l.copy()(ds.sparkSession, Some(stats), Some(l.constraints)))
      case other =>
        throw new IllegalArgumentException(s"not a checkpoint: ${other.nodeName}")
    }
  }
}
