package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.CheckpointStats

/** The checkpoint and round loop of the iterative graph operators.
  *
  * Every checkpoint runs under a `Dataset.observe` row count, plus any
  * convergence metrics the caller asks for, so the count and the
  * metrics come out of the checkpoint's own job: no `count()` or
  * `head()` job per round. The count becomes the checkpoint's
  * statistics ([[CheckpointStats]]), so a join against small round
  * state is planned as a broadcast from the start instead of a
  * sort-merge that AQE demotes after shuffling both sides.
  */
private[operators] object Rounds {

  /** A checkpointed frame and what its job observed: the row count
    * first, then the caller's metrics in order. `round` is the number
    * of [[iterate]] rounds that produced it.
    */
  final case class State(df: DataFrame, seen: Row, round: Int = 0) {
    def rows: Long = seen.getLong(0)
  }

  private val Observed = "graft_round"

  /** Eager `localCheckpoint` of `df` with its row count and `metrics`
    * (aggregate columns) observed in the same job. The count is exact:
    * it counts the rows the checkpoint materialized.
    */
  def checkpoint(df: DataFrame, metrics: Column*): State = {
    val watched = df.observe(Observed, count(lit(1)).as("rows"), metrics: _*)
    val cut = watched.localCheckpoint(true)
    val seen = watched.queryExecution.observedMetrics(Observed)
    State(CheckpointStats.withRowCount(cut, seen.getLong(0)), seen)
  }

  /** Drop the storage blocks behind a checkpointed frame.
    * Dataset.unpersist only clears plan caches — the checkpoint's RDD
    * must be unpersisted directly, and it sits in the LogicalRDD leaf
    * the checkpoint call left as the frame's plan.
    *
    * Contract: this unpersists EVERY LogicalRDD in the frame's
    * analyzed plan, not just its own. Pass only a frame that is itself
    * a checkpoint (or a projection of one); a lazy frame derived from
    * several checkpoints would free all of them, including blocks that
    * later consumers still read.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Up to `rounds` rounds of `step` from `init`. Each round's frame is
    * checkpointed with `metrics` observed, and the state it replaces is
    * released, `init` included, so `init` must be a checkpoint the
    * caller no longer reads. The loop ends early once
    * `done(previous, next)` holds on two consecutive states' observed
    * rows. Returns the last state and whether `done` ended the loop.
    */
  def iterate(init: State, rounds: Int, metrics: Column*)(step: DataFrame => DataFrame)(
      done: (Row, Row) => Boolean = (_, _) => false): (State, Boolean) = {
    var state = init
    var stopped = false
    while (!stopped && state.round - init.round < rounds) {
      val next = checkpoint(step(state.df), metrics: _*).copy(round = state.round + 1)
      release(state.df)
      stopped = done(state.seen, next.seen)
      state = next
    }
    (state, stopped)
  }
}
