package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams
import graft.streaming.EventStreams.EventIn

// file-scope (not test-local): encoders for test-method-local case classes
// would capture the non-serializable suite as $outer
final case class NEv(user_id: Option[Long], ts: java.sql.Timestamp,
                     event_type: String)
final case class SEv(event_id: Long, user_id: Option[Long],
                     ts: java.sql.Timestamp)

/** Degenerate-input sweep for the streaming face: zero-row micro-batches,
  * all-late data beyond the watermark, NULL keys on the untyped stateful
  * surfaces, and a state-store restart mid-stream (including on the
  * RocksDB provider). The typed flatMapGroupsWithState key is
  * `user_id: Long` — non-nullable BY CONSTRUCTION (the product encoder
  * rejects a null primitive at ingest), so the NULL-key cases target the
  * untyped surfaces where a null CAN arrive: streaming dedup, windowed
  * grouping, and the stream-stream outer join. */
class StreamingDegenerateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("flatMapGroupsWithState: a ZERO-ROW micro-batch still fires pending " +
    "event-time timeouts; all-late rows beyond the watermark are dropped " +
    "without touching state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // by default Spark inserts NO-DATA micro-batches that fire pending
    // timeouts as soon as the watermark moves — which means production
    // already gets the flush "for free". Disabling them isolates the
    // EXPLICIT zero-row-batch path (a source delivering an empty block),
    // which must fire the same timeouts.
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val noDataPrev = spark.conf.get(noDataKey)
    spark.conf.set(noDataKey, "false")
    val stream = MemoryStream[EventIn]
    val q = EventStreams.closedSessions(stream.toDS())
      .writeStream.format("memory").queryName("degen_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: user 1 opens a session (deadline 05:35); user 2's event at
      // 08:00 pushes the NEXT batch's watermark to 07:50 — past the deadline
      stream.addData(
        EventIn(1L, ts("2024-01-01 05:00:00"), "click", 1.0),
        EventIn(1L, ts("2024-01-01 05:05:00"), "click", 1.0),
        EventIn(2L, ts("2024-01-01 08:00:00"), "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("degen_sessions").isEmpty,
        "watermark for batch 1 derives from PRIOR batches - nothing closes yet")
      // batch 2: ZERO rows. The timeout path must still run under the
      // advanced watermark and flush user 1's session.
      stream.addData(Seq.empty[EventIn])
      q.processAllAvailable()
      val closed = spark.table("degen_sessions").as[EventStreams.SessionOut]
        .collect().toSeq
      assert(closed.map(_.user_id) == Seq(1L),
        s"empty micro-batch must fire the pending timeout, got $closed")
      assert(closed.head.n_events == 2L &&
        closed.head.session_start == ts("2024-01-01 05:00:00") &&
        closed.head.session_end == ts("2024-01-01 05:05:00"))
      // batch 3: ALL-LATE data — user 3's events sit far below the 07:50
      // watermark, so Spark drops them before the state function: no new
      // state, no session ever, and user 2's open session is untouched.
      stream.addData(
        EventIn(3L, ts("2024-01-01 01:00:00"), "click", 1.0),
        EventIn(3L, ts("2024-01-01 01:05:00"), "click", 1.0))
      q.processAllAvailable()
      // batch 4: advance the watermark far past everything; only user 2's
      // session (08:00, deadline 08:30) flushes — user 3 must NOT appear.
      stream.addData(EventIn(4L, ts("2024-01-02 00:00:00"), "click", 1.0))
      q.processAllAvailable()
      stream.addData(Seq.empty[EventIn])
      q.processAllAvailable()
      val all = spark.table("degen_sessions").as[EventStreams.SessionOut]
        .collect().toSeq.sortBy(_.user_id)
      assert(all.map(_.user_id) == Seq(1L, 2L),
        s"late rows must be dropped, not sessionized: $all")
    } finally {
      q.stop()
      spark.conf.set(noDataKey, noDataPrev)
    }
  }

  test("NULL keys on the untyped surfaces: dedup keeps a null-keyed row as " +
    "its own key; windowed grouping forms a null group; the stream-stream " +
    "LEFT OUTER join emits a null-keyed probe row with null match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // (a) dropDuplicatesWithinWatermark on a nullable key column
    val dedupIn = MemoryStream[NEv]
    val qd = EventStreams.firstPerKeyStream(dedupIn.toDF())
      .writeStream.format("memory").queryName("degen_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      dedupIn.addData(
        NEv(None, ts("2024-01-01 05:00:00"), "click"),
        NEv(None, ts("2024-01-01 05:01:00"), "click"), // dup of the null key
        NEv(Some(7L), ts("2024-01-01 05:02:00"), "click"))
      qd.processAllAvailable()
      val dd = spark.table("degen_dedup").collect()
      assert(dd.length == 2,
        s"null key dedups against itself, not against real keys: ${dd.toSeq}")
      assert(dd.count(_.isNullAt(0)) == 1)
    } finally qd.stop()

    // (b) chained stateful agg: a null user_id forms its OWN level-1
    // (window, user) group — so it counts as one "active user" at level 2
    // (SQL GROUP BY semantics: the null group is a group) and its events
    // stay in total_events. The pin documents that shape.
    val aggIn = MemoryStream[NEv]
    // chained stateful aggregations only support Append: windows emit once
    // the watermark passes their end, so a later batch finalizes 05:00
    val qa = EventStreams.hourlyActiveUsers(aggIn.toDF(), withWatermark = true)
      .writeStream.format("memory").queryName("degen_hourly")
      .outputMode(OutputMode.Append).start()
    try {
      aggIn.addData(
        NEv(None, ts("2024-01-01 05:00:00"), "click"),
        NEv(Some(7L), ts("2024-01-01 05:01:00"), "click"),
        NEv(Some(7L), ts("2024-01-01 05:02:00"), "view"))
      qa.processAllAvailable()
      aggIn.addData(NEv(Some(9L), ts("2024-01-01 09:00:00"), "click"))
      qa.processAllAvailable()
      aggIn.addData(Seq.empty[NEv])
      qa.processAllAvailable()
      val hr = spark.table("degen_hourly")
        .filter(col("window_start") === ts("2024-01-01 05:00:00")).collect()
      assert(hr.length == 1 &&
        hr.head.getAs[Long]("n_active_users") == 2L &&
        hr.head.getAs[Long]("total_events") == 3L,
        s"null key = one level-1 group; its rows must not vanish: ${hr.toSeq}")
    } finally qa.stop()

    // (c) stream-stream LEFT OUTER interval join: a purchase with NULL
    // user_id can never equi-match, so it must emit with a NULL click —
    // exactly once, when the watermark clears its match window
    val pIn = MemoryStream[SEv]
    val cIn = MemoryStream[SEv]
    val qj = EventStreams.purchasesWithClick(pIn.toDF(), cIn.toDF(),
        streaming = true)
      .writeStream.format("memory").queryName("degen_join")
      .outputMode(OutputMode.Append).start()
    try {
      pIn.addData(SEv(100L, None, ts("2024-01-01 05:00:00")),
        SEv(101L, Some(7L), ts("2024-01-01 05:00:00")))
      cIn.addData(SEv(200L, Some(7L), ts("2024-01-01 04:50:00")))
      qj.processAllAvailable()
      // advance BOTH sides' watermarks far past the null purchase's window
      pIn.addData(SEv(102L, Some(8L), ts("2024-01-01 09:00:00")))
      cIn.addData(SEv(201L, Some(8L), ts("2024-01-01 09:00:00")))
      qj.processAllAvailable()
      pIn.addData(SEv(103L, Some(9L), ts("2024-01-01 12:00:00")))
      cIn.addData(SEv(202L, Some(9L), ts("2024-01-01 12:00:00")))
      qj.processAllAvailable()
      val rows = spark.table("degen_join").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      assert(rows.contains((101L, 200L)), s"real match must join: $rows")
      assert(rows.contains((100L, -1L)),
        s"null-keyed purchase must emit with NULL click once certain: $rows")
      assert(rows.count(_._1 == 100L) == 1,
        s"the null-keyed outer row must emit exactly once: $rows")
    } finally qj.stop()
  }

  test("state-store restart mid-stream: closedSessions over a file source " +
    "restores open sessions from the checkpoint across separate queries, " +
    "on both the default (HDFS) and RocksDB providers") {
    for (provider <- Seq(
      None,
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))) {
      val confKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(confKey)
      provider.foreach(spark.conf.set(confKey, _))
      try {
        val base = Files.createTempDirectory("graft_sess_restart").toString
        val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
        val eventSchema = org.apache.spark.sql.Encoders.product[EventIn].schema
        def sessions(df: org.apache.spark.sql.DataFrame) =
          EventStreams.closedSessions(df.as[EventIn])
        // run 1: user 1's session opens (deadline 05:35); max event time
        // 05:05 → watermark 04:55 — nothing can close in this run
        Seq(EventIn(1L, ts("2024-01-01 05:00:00"), "click", 1.0),
          EventIn(1L, ts("2024-01-01 05:05:00"), "click", 1.0))
          .toDS().write.parquet(s"$in/b1")
        val q1 = EventStreams.runAvailableNow(spark, in, out, ckpt,
          eventSchema, Map("recursiveFileLookup" -> "true"))(sessions)
        q1.awaitTermination()
        val afterRun1 = spark.read.schema(
            org.apache.spark.sql.Encoders.product[EventStreams.SessionOut].schema)
          .parquet(out)
        assert(afterRun1.isEmpty, "no watermark passage in run 1 - the open " +
          "session must stay in the state store, not the sink")
        // run 2 (a NEW query over the same checkpoint): a later file pushes
        // the watermark past the restored session's deadline — it must
        // close with run 1's counts, proving the state survived the restart
        Seq(EventIn(2L, ts("2024-01-01 09:00:00"), "click", 1.0))
          .toDS().write.parquet(s"$in/b2")
        val q2 = EventStreams.runAvailableNow(spark, in, out, ckpt,
          eventSchema, Map("recursiveFileLookup" -> "true"))(sessions)
        q2.awaitTermination()
        val closed = spark.read.parquet(out).as[EventStreams.SessionOut]
          .collect().toSeq
        assert(closed.map(_.user_id) == Seq(1L),
          s"restored session must close after restart (provider=$provider): $closed")
        assert(closed.head.n_events == 2L &&
          closed.head.session_start == ts("2024-01-01 05:00:00") &&
          closed.head.session_end == ts("2024-01-01 05:05:00"),
          s"state content must survive the restart intact: ${closed.head}")
      } finally prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }
}
