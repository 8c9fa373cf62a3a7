package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ingest — the Spark form of the reference's recurring
  * harvest DAG (weekly incremental pulls, watermark = previous finished
  * harvest; schema/rialto.py:218-239). Structured Streaming gives the
  * same semantics continuously: event-time windows bounded by a
  * watermark, plus custom session state where windows don't fit.
  *
  * Every transform here accepts either a batch or a streaming DataFrame
  * — the logical plan is identical, which is exactly the point: the
  * harvest can run as a weekly batch today and a continuous stream
  * tomorrow without rewriting the pipeline.
  */
object EventStreams {

  /** Event-time windowed aggregation with a watermark for late data. */
  def windowedCounts(events: DataFrame, watermarkDelay: String, windowLen: String): DataFrame = {
    // Watermarks only apply to streaming plans; on batch input the same
    // aggregation runs unbounded.
    val src = if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    src
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"), col("sum_value"))
  }

  /** Streaming count-min sketch over a key column: the d×w counter
    * table IS the entire streaming state — bounded regardless of key
    * cardinality, where a naive per-key streaming count grows without
    * bound on an open-vocabulary stream. That is the whole reason the
    * sketch family exists in a streaming engine: heavy-hitter tracking
    * over an unbounded stream in kilobytes of state. Update/complete-
    * mode aggregation (no watermark — counters are cumulative); the
    * same plan runs unbounded on a batch frame, and StreamingSpec
    * proves the streamed counters equal graft.operators.CountMin
    * .sketch over the same rows (whose construction q_countmin proves
    * oracle-exact against DuckDB). Estimates come from
    * CountMin.estimate against the latest counter snapshot.
    */
  def streamingCountMin(events: DataFrame, keyCol: String,
                        depth: Int, width: Int, seed: Long): DataFrame =
    events.select(org.apache.spark.sql.functions.posexplode(
        org.apache.spark.sql.functions.array((0 until depth).map(j =>
          graft.operators.CountMin.bucket(col(keyCol), j, width, seed)): _*))
        .as(Seq("depth", "bucket")))
      .groupBy("depth", "bucket").agg(count(lit(1)).as("cnt"))

  /** Incremental-harvest filter: only events after the previous
    * harvest's completion timestamp (Harvest.get_previous()).
    */
  def since(events: DataFrame, watermark: Timestamp): DataFrame =
    events.filter(col("ts") > lit(watermark))

  /** Stream-stream (or batch) interval join: right rows within
    * [left.ts - lookback, left.ts] per key. With watermarks on both
    * sides Spark bounds the join state; the same plan runs batch.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      lookback: String,
      watermarkDelay: String,
      joinType: String = "inner"
  ): DataFrame = {
    val (l, r) =
      if (left.isStreaming)
        (left.withWatermark("ts", watermarkDelay), right.withWatermark("ts", watermarkDelay))
      else (left, right)
    val lt = l.select(col(key), col("ts").as("l_ts"), col("event_id").as("l_event_id"))
    val rt = r.select(col(key).as("__rk"), col("ts").as("r_ts"), col("event_id").as("r_event_id"))
    lt.join(
      rt,
      col(key) === col("__rk") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookback") &&
        col("r_ts") <= col("l_ts"),
      joinType
    ).drop("__rk")
  }

  /** Exact dedup with bounded state — the streaming face of the LLM
    * pipeline's exact-dedup operator (TextDedup.exactDupGroups) and of
    * the reference's per-source upsert keys. Streaming uses
    * dropDuplicatesWithinWatermark: a key's state is evicted once the
    * watermark passes its event time, so state is bounded by the
    * watermark window, not by all keys ever seen (a plain
    * dropDuplicates on an unbounded stream leaks state forever). A
    * duplicate arriving after the watermark passes is re-admitted —
    * the contract is "no dups within the dedup horizon", which is
    * the right trade for continuous ingest. Batch input gets the
    * deterministic twin: first arrival by (ts, event_id).
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String], watermarkDelay: String,
                           arrivalOrder: Seq[String] = Seq("ts", "event_id")): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermarkDelay).dropDuplicatesWithinWatermark(keys)
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(keys.map(col): _*).orderBy(arrivalOrder.map(col): _*)
      events.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }

  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  final case class SessionSummary(user_id: Long, start: Timestamp, end: Timestamp, n_events: Long, total_value: Double)
  // public: the state encoder's generated (Janino) serializer needs
  // reflective access to the accessors
  final case class SessionState(start: Long, end: Long, n: Long, total: Double)

  /** Gap-based sessionization with explicit state
    * (flatMapGroupsWithState): closes a session when `gapMs` passes
    * without an event. State is one small record per active user —
    * at cluster scale the state store shards by user_id.
    *
    * Idle users are handled with an event-time timeout: when the
    * watermark passes `session end + gapMs` with no new event, the open
    * session is emitted and its state entry evicted — state stays
    * bounded by the number of *currently active* users, not every user
    * ever seen. On batch input timeouts never fire (Spark calls each
    * group exactly once); use [[sessionizeBatch]] there, which also
    * flushes the tail session.
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long,
      watermarkDelay: String = "10 minutes"
  ): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", watermarkDelay) else events
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()
      ) { (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          // Watermark passed end + gapMs with no event: close + evict.
          val st = state.get
          state.remove()
          Iterator.single(
            SessionSummary(userId, new Timestamp(st.start), new Timestamp(st.end), st.n, st.total))
        } else {
          // Events arrive unordered within a batch: sort locally (bounded
          // by per-user batch size, not the partition).
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, Long.MinValue, 0, 0.0))
          val closed = Seq.newBuilder[SessionSummary]
          for (e <- sorted) {
            val t = e.ts.getTime
            if (st.n == 0) st = SessionState(t, t, 1, e.value)
            else if (t - st.end > gapMs) {
              closed += SessionSummary(userId, new Timestamp(st.start), new Timestamp(st.end), st.n, st.total)
              st = SessionState(t, t, 1, e.value)
            } else st = SessionState(st.start, t, st.n + 1, st.total + e.value)
          }
          if (st.n > 0) {
            state.update(st)
            // setTimeoutTimestamp requires a watermark — streaming only.
            if (streaming) state.setTimeoutTimestamp(st.end + gapMs)
          } else state.remove()
          closed.result().iterator
        }
      }
  }

  /** Flush any open sessions (batch-mode tail call after sessionize). */
  def sessionizeBatch(events: Dataset[Event], gapMs: Long): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    // In batch mode state never persists across (single) triggers, so a
    // pure groupBy formulation is equivalent and cheaper: split sessions
    // where the gap to the previous event exceeds gapMs.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    val df = events.toDF()
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "new_session",
        when(col("prev_ts").isNull || unix_millis(col("ts")) - unix_millis(col("prev_ts")) > gapMs, 1L).otherwise(0L)
      )
      .withColumn("session_id", sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    df.groupBy("user_id", "session_id")
      .agg(
        min("ts").as("start"),
        max("ts").as("end"),
        count(lit(1)).as("n_events"),
        sum("value").as("total_value")
      )
      .drop("session_id")
      .as[SessionSummary]
  }

  final case class CdcRow(key: Long, seq: Long, op: String, payload: Double)
  final case class CdcState(seq: Long, op: String, payload: Double, n: Long)
  final case class CdcCurrent(key: Long, seq: Long, payload: Double, n_changes: Long)

  /** Streaming CDC apply — the continuous twin of
    * TimeSeries.cdcApply's batch changelog compaction: state is the
    * LATEST (by sequence) change per key, and every micro-batch emits
    * the key's current materialized row (or a tombstone emission skip
    * when the latest op is a delete). mapGroupsWithState in Update
    * mode: per key ONE small state record regardless of change volume
    * — the state store shards by key at cluster scale, exactly the
    * MERGE-target shape Debezium feeds. Out-of-order changes within
    * and across batches resolve by sequence (a stale arrival never
    * regresses the materialized row); deletes keep the seq so a
    * late pre-delete update stays dead.
    */
  def cdcApplyStream(changes: Dataset[CdcRow]): Dataset[CdcCurrent] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.key)
      .mapGroupsWithState[CdcState, Option[(Long, CdcState)]](
        GroupStateTimeout.NoTimeout()
      ) { (key: Long, rows: Iterator[CdcRow], state: GroupState[CdcState]) =>
        var st = state.getOption.orNull
        for (r <- rows) {
          val n = if (st == null) 1L else st.n + 1
          st = if (st == null || r.seq > st.seq) CdcState(r.seq, r.op, r.payload, n)
               else st.copy(n = n)
        }
        state.update(st)
        if (st.op == "D") None else Some((key, st))
      }
      .flatMap(_.toSeq)
      .map { case (k, st) => CdcCurrent(k, st.seq, st.payload, st.n) }
  }
}
