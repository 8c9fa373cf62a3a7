package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  test("windowedCounts runs as a real stream with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(5), "click", 1.0),
      Event(1, ts(10), "click", 2.0),
      Event(2, ts(40), "buy", 5.0)
    )
    val q = EventStreams.windowedCounts(input.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, cnt, sum_value FROM wc ORDER BY event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq(("buy", 1L, 5.0), ("click", 2L, 3.0)))
    } finally q.stop()
  }

  test("streamingCountMin: streamed counters equal the batch sketch across multiple batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val batch1 = Seq(
      Event(1, ts(1), "click", 1.0), Event(2, ts(2), "click", 1.0),
      Event(3, ts(3), "buy", 1.0), Event(4, ts(4), "scroll", 1.0))
    val batch2 = Seq(
      Event(5, ts(5), "click", 1.0), Event(6, ts(6), "buy", 1.0),
      Event(7, ts(7), "click", 1.0), Event(8, ts(8), "error", 1.0))
    input.addData(batch1: _*)
    val q = EventStreams.streamingCountMin(input.toDF(), "event_type",
        depth = 4, width = 64, seed = 7L)
      .writeStream.format("memory").queryName("cms").outputMode("complete").start()
    try {
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT depth, bucket, cnt FROM cms")
      val batch = graft.operators.CountMin.sketch(
        (batch1 ++ batch2).toDF(), "event_type", depth = 4, width = 64, seed = 7L)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "streamed counter table diverges from the batch sketch")
      // state is sketch-sized: at most depth*width rows ever
      assert(streamed.count() <= 4 * 64)
    } finally q.stop()
  }

  test("stateful sessionize (flatMapGroupsWithState) closes sessions on gap") {
    // batch run of the stateful operator: state starts empty, closed
    // sessions are emitted, the open tail session stays in state
    val events = Seq(
      Event(1, ts(0), "a", 1.0),
      Event(1, ts(1), "a", 1.0),
      Event(1, ts(30), "a", 1.0) // > 10 min gap -> closes first session
    ).toDS()
    val out = EventStreams.sessionize(events, gapMs = 600000L).collect()
    assert(out.length == 1)
    assert(out(0).n_events == 2 && out(0).start == ts(0) && out(0).end == ts(1))
  }

  test("sessionize emits idle sessions via event-time timeout and evicts state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(Event(1, ts(0), "a", 1.0), Event(1, ts(1), "a", 2.0))
    val q = EventStreams.sessionize(input.toDS(), gapMs = 600000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_to").outputMode("append").start()
    try {
      q.processAllAvailable() // batch 1: user 1 session open, watermark -> ts(1)
      input.addData(Event(9, ts(40), "b", 1.0))
      q.processAllAvailable() // batch 2: watermark advances past ts(1) + gap
      input.addData(Event(9, ts(41), "b", 1.0))
      q.processAllAvailable() // batch 3: user 1 times out -> emitted + evicted
      val rows = spark.sql("SELECT user_id, n_events, total_value FROM sess_to WHERE user_id = 1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((1L, 2L, 3.0)), s"timed-out session not emitted: ${rows.toSeq}")
    } finally q.stop()
  }

  test("sessionizeBatch matches stateful semantics and flushes tail") {
    val events = Seq(
      Event(1, ts(0), "a", 1.0),
      Event(1, ts(1), "a", 2.0),
      Event(1, ts(30), "a", 3.0),
      Event(2, ts(5), "b", 4.0)
    ).toDS()
    val out = EventStreams.sessionizeBatch(events, gapMs = 600000L)
      .collect().sortBy(s => (s.user_id, s.start.getTime))
    assert(out.length == 3)
    assert(out(0).n_events == 2 && math.abs(out(0).total_value - 3.0) < 1e-9)
    assert(out(1).n_events == 1 && out(1).start == ts(30))
    assert(out(2).user_id == 2)
  }

  test("native session_window: gap semantics pin the islands oracle (boundary MERGES)") {
    // gap 10 min: events at :00, :05 merge; an event at EXACTLY
    // last + gap (:15) also merges — Spark extends the session for
    // t <= last + gap, so the islands oracle must break only on
    // `diff > gap` (strictly). One second past the gap splits.
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (1L, Timestamp.valueOf("2024-01-01 10:05:00"), 2.0),
      (1L, Timestamp.valueOf("2024-01-01 10:15:00"), 3.0), // == last + gap -> merges
      (1L, Timestamp.valueOf("2024-01-01 10:25:01"), 4.0)  // > last + gap -> splits
    ).toDF("user_id", "ts", "value")
    val out = df.groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("sw.start").cast("string").as("s"), col("n"))
      .collect().map(r => r.getAs[String]("s") -> r.getAs[Long]("n")).toMap
    assert(out == Map("2024-01-01 10:00:00" -> 3L, "2024-01-01 10:25:01" -> 1L))
  }

  test("intervalJoin runs as a stream-stream join with watermarks") {
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val ri = MemoryStream[(Long, Long, java.sql.Timestamp)]
    li.addData((100L, 1L, ts(30)))
    ri.addData((200L, 1L, ts(10)), (201L, 1L, ts(50)), (202L, 2L, ts(29)))
    val l = li.toDF().toDF("event_id", "user_id", "ts")
    val r = ri.toDF().toDF("event_id", "user_id", "ts")
    val q = EventStreams.intervalJoin(l, r, "user_id", "30 MINUTES", "2 hours")
      .writeStream.format("memory").queryName("ij").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT l_event_id, r_event_id FROM ij").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // only error 200 (20 min before purchase 100, same user) matches
      assert(rows == Set((100L, 200L)))
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched purchases with nulls") {
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val ri = MemoryStream[(Long, Long, java.sql.Timestamp)]
    li.addData((100L, 1L, ts(30)), (101L, 2L, ts(31)))
    ri.addData((200L, 1L, ts(10)))
    val l = li.toDF().toDF("event_id", "user_id", "ts")
    val r = ri.toDF().toDF("event_id", "user_id", "ts")
    val q = EventStreams.intervalJoin(l, r, "user_id", "30 MINUTES", "10 minutes", "left_outer")
      .writeStream.format("memory").queryName("loj").outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance the watermark far enough to close user 2's window
      li.addData((999L, 9L, Timestamp.valueOf("2024-01-01 13:00:00")))
      ri.addData((998L, 9L, Timestamp.valueOf("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT l_event_id, r_event_id FROM loj WHERE l_event_id IN (100, 101)")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((100L, 200L)))
      assert(rows.contains((101L, -1L)), s"unmatched left row missing: $rows")
    } finally q.stop()
  }

  test("since filters by harvest watermark") {
    val df = Seq(Event(1, ts(0), "a", 1.0), Event(1, ts(30), "a", 1.0)).toDS().toDF()
    assert(EventStreams.since(df, ts(10)).count() == 1)
  }

  test("dedupWithinWatermark drops in-horizon dups, re-admits after eviction") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupWithinWatermark(
      input.toDF(), Seq("user_id", "event_type"), "10 minutes")
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      input.addData(Event(1, ts(0), "a", 1.0), Event(1, ts(1), "a", 2.0), Event(2, ts(1), "a", 3.0))
      q.processAllAvailable() // dup (1,a)@ts(1) dropped within horizon
      input.addData(Event(9, ts(40), "b", 1.0))
      q.processAllAvailable() // watermark -> ts(30): (1,a) state evicted
      input.addData(Event(1, ts(35), "a", 9.0))
      q.processAllAvailable() // same key after horizon: re-admitted
      val rows = spark.sql("SELECT user_id, event_type, value FROM sdedup ORDER BY value")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((1L, "a", 1.0), (2L, "a", 3.0), (9L, "b", 1.0), (1L, "a", 9.0)).sortBy(_._3))
    } finally q.stop()
  }

  test("curation gates run unchanged on a document stream (quality + watermark dedup)") {
    // The curation operators are stateless Column algebra, so the same
    // expressions run on a stream; exact dedup gets bounded state from
    // the watermark. This is the continuous-ingest form of
    // q_curation_pipeline's first two stages.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Curation
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "event_id", "text")
    val gated = docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .filter(col("n_tokens") >= 3 && !Curation.hashSample(col("event_id"), "00000001"))
    val deduped = EventStreams.dedupWithinWatermark(gated, Seq("text"), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("scur").outputMode("append").start()
    try {
      input.addData(
        (ts(0), 1L, "alpha beta gamma"),
        (ts(1), 2L, "alpha beta gamma"), // dup text -> dropped
        (ts(1), 3L, "too short"),        // quality-gated
        (ts(2), 4L, "delta epsilon zeta eta"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id FROM scur").collect().map(_.getLong(0)).toSet
      assert(rows == Set(1L, 4L), rows.toString)
    } finally q.stop()
  }

  test("lshNearDupStreamStream: growing state flags a later near-dup against the FIRST arrival") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val hits = graft.operators.TextDedup.lshNearDupStreamStream(
      stream, "doc_id", "text", tsCol = "ts", ngram = 3, h = 8, bands = 4)
    val q = hits.writeStream.format("memory").queryName("ssnd").outputMode("append").start()
    try {
      // batch 1 seeds state: two unrelated docs, no hits possible
      input.addData(
        (1L, ts(0), "the quick brown fox jumps over the lazy dog today"),
        (2L, ts(1), "completely unrelated text about catalyst plans here"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM ssnd").count() == 0L)
      // batch 2: doc 3 is a near-dup of doc 1 (arrived earlier ->
      // doc 1 is the bucket occupant); doc 4 matches nothing
      input.addData(
        (3L, ts(5), "the quick brown fox jumps over the lazy dog today as well"),
        (4L, ts(6), "nothing shared with either of the previous documents"))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT DISTINCT id, first_id FROM ssnd")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((3L, 1L)), pairs.toString)
    } finally q.stop()
  }

  test("nearDupsAgainstReference flags stream docs colliding with the static corpus") {
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (200L, "completely unrelated reference text about spark plans")
    ).toDF("doc_id", "text")
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val (flagged, handle) = graft.operators.TextDedup.nearDupsAgainstReferenceReleasable(
      stream, reference, "doc_id", "text", tsCol = "ts",
      ngram = 3, h = 8, bands = 4, minJaccard = 0.5)
    val q = flagged.writeStream.format("memory").queryName("snd").outputMode("append").start()
    try {
      input.addData(
        (1L, ts(0), "the quick brown fox jumps over the lazy dog today as well"),
        (2L, ts(1), "nothing in common with anything in the corpus here"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, ref_id, jaccard FROM snd")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.map(x => (x._1, x._2)).toSet == Set((1L, 100L)), rows.mkString(","))
      assert(rows.head._3 >= 0.5)
      // batch twin over identical inputs produces the same pairs
      val batch = Seq(
        (1L, ts(0), "the quick brown fox jumps over the lazy dog today as well"),
        (2L, ts(1), "nothing in common with anything in the corpus here")
      ).toDF("doc_id", "ts", "text")
      val twin = graft.operators.TextDedup.nearDupsAgainstReference(
        batch, reference, "doc_id", "text", tsCol = "ts",
        ngram = 3, h = 8, bands = 4, minJaccard = 0.5)
        .select("id", "ref_id").as[(Long, Long)].collect().toSet
      assert(twin == Set((1L, 100L)), twin.toString)
    } finally { q.stop(); handle.release() }
  }

  test("dedupWithinWatermark batch twin keeps deterministic first arrival") {
    val df = Seq(
      (1L, ts(5), "a", 10L), (1L, ts(0), "a", 7L), (1L, ts(0), "a", 3L),
      (2L, ts(1), "a", 5L)
    ).toDF("user_id", "ts", "event_type", "event_id")
    val out = EventStreams.dedupWithinWatermark(df, Seq("user_id", "event_type"), "10 minutes")
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 3L), (2L, 5L))) // min (ts, event_id) wins
  }

  test("cdcApplyStream: per-key latest-by-seq materialization, stale rows ignored, deletes stay dead") {
    import graft.streaming.EventStreams.{CdcCurrent, CdcRow}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CdcRow]
    val q = EventStreams.cdcApplyStream(input.toDS())
      .writeStream.format("memory").queryName("cdc_cur").outputMode("update").start()
    try {
      input.addData(
        CdcRow(1L, 1L, "I", 10.0), CdcRow(2L, 1L, "I", 20.0), CdcRow(1L, 2L, "U", 11.0))
      q.processAllAvailable()
      val b1 = spark.table("cdc_cur").as[CdcCurrent].collect().map(c => c.key -> c).toMap
      assert(b1(1L).payload == 11.0 && b1(1L).seq == 2L && b1(1L).n_changes == 2L)
      assert(b1(2L).payload == 20.0)

      // batch 2: key 2 deleted (no emission), key 1 gets a STALE
      // out-of-order row (seq 0 — must not regress), key 3 appears
      input.addData(
        CdcRow(2L, 2L, "D", 0.0), CdcRow(1L, 0L, "U", 99.0), CdcRow(3L, 1L, "I", 30.0))
      q.processAllAvailable()
      val all = spark.table("cdc_cur").as[CdcCurrent].collect()
      val latest = all.groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n_changes) }
      // stale row counted but payload/seq unchanged
      assert(latest(1L).payload == 11.0 && latest(1L).seq == 2L && latest(1L).n_changes == 3L)
      assert(latest(3L).payload == 30.0)
      // the delete emitted nothing: key 2's only sink row is batch 1's
      assert(all.count(_.key == 2L) == 1)

      // final stream state equals the batch changelog compaction on
      // the same six rows (key 2 tombstoned out)
      val log = Seq((1L, 1L, "I", 10.0), (2L, 1L, "I", 20.0), (1L, 2L, "U", 11.0),
        (2L, 2L, "D", 0.0), (1L, 0L, "U", 99.0), (3L, 1L, "I", 30.0))
        .toDF("key", "seq", "op", "payload")
      val batch = graft.operators.TimeSeries.cdcApply(log, "key",
        Seq(col("seq")), col("op") === "D")
        .select("key", "payload").as[(Long, Double)].collect().toMap
      assert(batch == Map(1L -> 11.0, 3L -> 30.0))
      assert(batch == Map(1L -> latest(1L).payload, 3L -> latest(3L).payload))
    } finally q.stop()
  }
}
