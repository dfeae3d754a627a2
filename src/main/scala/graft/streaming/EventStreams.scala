package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming layer. The reference is batch-only (SURVEY §2.14);
  * this subsumes its batch-incremental patterns (B2 skip-existing, B7
  * staleness) with a file-source stream + `Trigger.AvailableNow`, and adds
  * the event-analytics jobs a 100 TB event feed needs: watermarked
  * tumbling and sliding windows, keep-first dedup, interval joins and gap
  * sessions.
  *
  * The window and join transforms are plain DataFrame functions shared
  * verbatim by their batch queries (s1, s4–s9) — one definition, two
  * execution modes, which is the Spark-native guarantee that batch
  * backfill and live streaming agree. s3's batch twin is a row_number
  * form of [[firstPerKeyStream]]. Sessionization is NOT shared:
  * s2_sessionize runs a lag/cumulative-gap form over the events, in which
  * a gap of exactly 30 minutes stays one session (a new session needs a
  * gap > 1800000000 µs). [[closedSessions]] closes on the same strict `>`;
  * Spark's `session_window` would instead open a new session at exactly
  * the gap.
  */
object EventStreams {

  /** Tumbling 1h counts + sums per event_type. In streaming mode, late data
    * beyond the watermark is dropped; in batch mode the same plan runs
    * without state. */
  def hourlyByType(events: DataFrame, withWatermark: Boolean): DataFrame = {
    val src = if (withWatermark) events.withWatermark("ts", "1 hour") else events
    src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** CHAINED stateful aggregation: per-(hour, user) counts re-aggregated to
    * per-hour active-user counts — two stateful operators in one streaming
    * query (supported since Spark 3.4's multiple-stateful-operator work;
    * the second groupBy keys on the FIRST aggregation's window column, so
    * the watermark propagates through and both state stores evict). The
    * two-level shape is the scalable form of COUNT(DISTINCT user): the
    * first level's state is (window, user) — partitioned by user, no
    * per-window giant set; the second level sees one row per active user
    * per window, not one per event. Same plan batch or streaming
    * (s8_active_users is the oracle-gated batch twin). */
  def hourlyActiveUsers(events: DataFrame, withWatermark: Boolean): DataFrame = {
    val src = if (withWatermark) events.withWatermark("ts", "1 hour") else events
    src.groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("window"))
      .agg(count(lit(1)).as("n_active_users"), sum(col("n")).as("total_events"))
      .select(col("window.start").as("window_start"),
        col("n_active_users"), col("total_events"))
  }

  /** Stream-static enrichment: the event stream joined to a SMALL static
    * dimension (user → market segment), then windowed per-segment rollups.
    * The canonical streaming topology Spark executes without extra state:
    * a stream-static inner join is a per-micro-batch broadcast hash join —
    * the dim is re-resolvable each batch (picks up slowly-changing dims on
    * restart), no join state, no second watermark. Same plan in batch mode
    * (s6_stream_enrich is the twin the oracle gates). */
  def hourlyBySegment(events: DataFrame, userDim: DataFrame,
                      withWatermark: Boolean): DataFrame = {
    val src = if (withWatermark) events.withWatermark("ts", "1 hour") else events
    src.join(broadcast(userDim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("window_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))
  }

  /** Sliding 2h/30m counts + sums per event_type: each event contributes to
    * 4 overlapping epoch-aligned windows. Same plan batch or streaming
    * (watermark bounds window state in streaming mode); the batch twin is
    * s5_sliding_window. */
  def slidingByType(events: DataFrame, withWatermark: Boolean): DataFrame = {
    val src = if (withWatermark) events.withWatermark("ts", "1 hour") else events
    src.groupBy(window(col("ts"), "2 hours", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Streaming keep-first dedup per (user_id, event_type): keeps the first
    * ARRIVAL, with dedup state evicted once the watermark passes a key's
    * event time. `dropDuplicatesWithinWatermark` is the API that actually
    * evicts — plain `dropDuplicates` on a key subset WITHOUT the event-time
    * column never drops state even under a watermark, so keys accumulate
    * forever. On an in-ts-order feed "first arrival" is the earliest
    * event, i.e. exactly the batch twin s3_stream_dedup computes with an
    * explicit row_number (deterministic on unordered batch data).
    * Agreement pinned by ScaleOpsSpec. */
  def firstPerKeyStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** The inactivity gap that closes a session: 30 minutes. */
  private val SessionGapMs = 30 * 60L * 1000L

  /** Open-session state for [[closedSessions]]. */
  final case class SessionAgg(start: java.sql.Timestamp,
                              last: java.sql.Timestamp, n: Long)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, n_events: Long)

  /** Closed-session emitter via `flatMapGroupsWithState` + EVENT-TIME
    * timeout — the arbitrary-stateful path `session_window` and
    * `mapGroupsWithState` can't express together: events are absorbed
    * silently (zero outputs), intra-batch gaps close sessions immediately,
    * and an open session is flushed when the WATERMARK passes its
    * gap-deadline (no processing-time flakiness). State per key is one
    * small struct; timeout eviction bounds it. */
  def closedSessions(events: Dataset[EventIn]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAgg, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[SessionAgg]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, s.start, s.last, s.n))
          } else {
            val incoming = rows.toSeq.sortBy(_.ts.getTime)
            var open = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            incoming.foreach { e =>
              open match {
                case Some(s) if e.ts.getTime - s.last.getTime > SessionGapMs =>
                  closed += SessionOut(uid, s.start, s.last, s.n)
                  open = Some(SessionAgg(e.ts, e.ts, 1L))
                case Some(s) =>
                  // a late (post-watermark but out-of-order) event must not
                  // move the session end BACKWARD — that would shrink the
                  // gap window and split one real session in two
                  val last = if (e.ts.after(s.last)) e.ts else s.last
                  open = Some(SessionAgg(s.start, last, s.n + 1))
                case None =>
                  open = Some(SessionAgg(e.ts, e.ts, 1L))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last.getTime + SessionGapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Stream-stream interval join: every (purchase, click) pair by the same
    * user with the click in the 30 minutes at or before the purchase. Both
    * inputs need (event_id, user_id, ts). In streaming mode both sides are
    * watermarked and the BETWEEN bounds give Spark the state-cleanup range
    * it requires for stream-stream joins (clicks held ~30 min + watermark,
    * purchases until their window can no longer match); in batch mode the
    * same plan is a hash equi-join on user_id + range filter. One
    * definition, two execution modes (like hourlyByType). */
  def clicksBeforePurchase(purchases: DataFrame, clicks: DataFrame,
                           streaming: Boolean): DataFrame = {
    val p = (if (streaming) purchases.withWatermark("ts", "1 hour")
             else purchases).alias("p")
    val c = (if (streaming) clicks.withWatermark("ts", "2 hours")
             else clicks).alias("c")
    p.join(c, expr("p.user_id = c.user_id AND " +
        "c.ts >= p.ts - INTERVAL 30 MINUTES AND c.ts <= p.ts"))
      .select(col("p.event_id").as("purchase_id"),
        col("c.event_id").as("click_id"), col("p.user_id").as("user_id"))
  }

  /** Stream-stream LEFT OUTER interval join: every purchase, with its
    * preceding-30-minutes clicks attached — or NULLs once it's certain no
    * click can match. The outer side is the capability inner joins don't
    * exercise: a purchase row is held in state and emitted with NULLs only
    * when the watermark passes its match window's upper bound (`c.ts <=
    * p.ts` means no future click can match once the watermark clears
    * p.ts), so null emission is event-time-deterministic, not timing-
    * dependent. Batch mode: the same plan as a left outer hash join +
    * range filter (s7_stream_left_join gates it). */
  def purchasesWithClick(purchases: DataFrame, clicks: DataFrame,
                         streaming: Boolean): DataFrame = {
    val p = (if (streaming) purchases.withWatermark("ts", "10 minutes")
             else purchases).alias("p")
    val c = (if (streaming) clicks.withWatermark("ts", "10 minutes")
             else clicks).alias("c")
    p.join(c, expr("p.user_id = c.user_id AND " +
        "c.ts >= p.ts - INTERVAL 30 MINUTES AND c.ts <= p.ts"), "left_outer")
      .select(col("p.event_id").as("purchase_id"),
        col("c.event_id").as("click_id"), col("p.user_id").as("user_id"))
  }

  /** Stream-stream FULL OUTER interval join — completes the join-mode
    * matrix (inner s4, left outer s7): unmatched rows from BOTH sides
    * emit with NULLs once the watermark clears their side's match window.
    * Full outer requires the time constraint to bound each side relative
    * to the other (here `c.ts ∈ [p.ts - 30m, p.ts]` does both), or state
    * on the unbounded side could never be evicted. Batch mode is the
    * plain full outer join + range condition (s9_stream_full_join gates
    * it). */
  def purchasesFullClicks(purchases: DataFrame, clicks: DataFrame,
                          streaming: Boolean): DataFrame = {
    val p = (if (streaming) purchases.withWatermark("ts", "10 minutes")
             else purchases).alias("p")
    val c = (if (streaming) clicks.withWatermark("ts", "10 minutes")
             else clicks).alias("c")
    p.join(c, expr("p.user_id = c.user_id AND " +
        "c.ts >= p.ts - INTERVAL 30 MINUTES AND c.ts <= p.ts"), "full_outer")
      .select(col("p.event_id").as("purchase_id"),
        col("c.event_id").as("click_id"),
        coalesce(col("p.user_id"), col("c.user_id")).as("user_id"))
  }

  /** File-source drive of a streaming transform with `Trigger.AvailableNow`
    * — the incremental pattern that replaces the reference's
    * mtime-staleness checks: `transform` runs over the parquet files under
    * `inputDir` (read with `schema` and `readOptions`, e.g.
    * maxFilesPerTrigger to slice the input into micro-batches), its rows
    * are appended to the parquet sink at `outputDir`, and the query stops
    * once all available data is processed. State (watermarks, dedup keys,
    * open windows and sessions) lives under `checkpoint`, so a later run
    * over newly arrived files resumes it; MicroBatchExecution runs one
    * extra batch after the last data batch when the watermark advanced, so
    * timeouts and windows pending at end of input fire before the stop.
    * Drives [[hourlyByType]] (s1), [[firstPerKeyStream]] (s3),
    * [[slidingByType]] (s5) and [[closedSessions]]. */
  def runAvailableNow(spark: SparkSession, inputDir: String,
                      outputDir: String, checkpoint: String,
                      schema: StructType,
                      readOptions: Map[String, String] = Map.empty)
                     (transform: DataFrame => Dataset[_]): StreamingQuery =
    transform(spark.readStream.schema(schema).options(readOptions).parquet(inputDir))
      .writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One event of the typed surface [[closedSessions]] consumes. */
  final case class EventIn(user_id: Long, ts: java.sql.Timestamp,
                           event_type: String, value: Double)
}
