package pipebench

import scala.collection.mutable

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** What one executed query plan reports to the traced run: the
  * `QueryPlanningTracker` phase spans (epoch ms) and the shape of its
  * final (post-AQE) physical plan.
  */
final case class PlanEvent(
    phases: Map[String, (Long, Long)],
    exchanges: Int,
    broadcasts: Int,
    filesWritten: Long) {
  def phaseMs(name: String): Long = phases.get(name).fold(0L) { case (s, e) => e - s }
  def startMs: Long = if (phases.isEmpty) Long.MaxValue else phases.values.map(_._1).min
}

/** Collects a [[PlanEvent]] for every query execution that succeeds while
  * it is registered. Installed only for traced passes.
  */
final class PlanTap extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val events = mutable.ArrayBuffer.empty[PlanEvent]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val ev = PlanEvent(
      qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) },
      collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size,
      collectWithSubqueries(plan) { case e: BroadcastExchangeLike => e }.size,
      collectWithSubqueries(plan) { case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").fold(0L)(_.value)
      }.sum)
    synchronized(events += ev)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Removes and returns every event collected so far. */
  def drain(): Seq[PlanEvent] = synchronized {
    val out = events.toList
    events.clear()
    out
  }
}
