package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming layer. The reference is batch-only (SURVEY §2.14);
  * this subsumes its batch-incremental patterns (B2 skip-existing, B7
  * staleness) with a file-source stream + `Trigger.AvailableNow`, and adds
  * the event-analytics jobs a 100 TB event feed needs: watermarked tumbling
  * windows and gap sessionization.
  *
  * The transforms are plain DataFrame functions shared verbatim by the
  * batch queries (s1_event_hourly / s2_sessionize) — one definition, two
  * execution modes, which is the Spark-native guarantee that batch backfill
  * and live streaming agree.
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
  def closedSessions(events: Dataset[EventIn],
                     gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
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
                case Some(s) if e.ts.getTime - s.last.getTime > gapMs =>
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
              state.setTimeoutTimestamp(s.last.getTime + gapMs)
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

  /** Streaming keyed upsert into a parquet store via foreachBatch — the
    * incremental-maintenance sink: each micro-batch merges into the store
    * with keep-last-per-key semantics (batch rows beat stored rows on ties
    * via the is-new flag), so replays and restarts are idempotent — the
    * exactly-once story for a sink without transactional writes. The store
    * rewrite is proportional to the store, not the history; a real
    * warehouse target (Delta/Iceberg MERGE) would make it proportional to
    * the touched partitions — the pattern (dedupe inside foreachBatch,
    * idempotent under redelivery) is the part that carries.
    *
    * Uses Trigger.AvailableNow: processes everything pending, then stops —
    * the incremental-job shape (B2 skip-existing) run on a schedule. */
  def upsertAvailableNow(spark: SparkSession, inputDir: String,
                         storeDir: String, checkpoint: String,
                         schema: StructType, keyCols: Seq[String],
                         tsCol: String): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, lit}
    // ingest directories arrive as per-delivery subfolders — list them all
    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(inputDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // a crash between the two swap moves leaves the good store at
        // .old and nothing at the store path — restore it BEFORE deciding
        // this is a first batch, or the replay would rebuild the store
        // from the batch alone and drop every previously-merged key
        recoverStore(storeDir)
        val store = new java.io.File(storeDir)
        val merged =
          if (store.exists()) {
            val cur = spark.read.parquet(storeDir).withColumn("__new", lit(0))
            graft.core.SeriesOps.keepLastBy(
              cur.unionByName(batch.withColumn("__new", lit(1))),
              keyCols, Seq(col(tsCol), col("__new")))
              .drop("__new")
          } else graft.core.SeriesOps.keepLastBy(batch, keyCols, Seq(col(tsCol)))
        // stage-then-swap; every move THROWS on failure (NIO, not the
        // silent boolean File.renameTo), so a failed swap fails the batch
        // and the checkpoint never commits input files whose upserts were
        // lost — redelivery is safe because the merge is idempotent
        val tmp = storeDir + ".staging"
        merged.write.mode("overwrite").parquet(tmp)
        swapInStore(tmp, storeDir)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming MATERIALIZED AGGREGATE: each micro-batch is partialized
    * (core.IncrementalAgg) and folded into the stored per-key state —
    * the streaming twin of q93's incremental maintenance. Additive merge
    * is NOT naturally idempotent (replaying a batch would double-count),
    * so the store carries the last folded batch id in a `_batch_id`
    * sidecar ("_"-prefixed files are invisible to parquet readers) that
    * travels through the same stage-then-swap as the data: a replayed
    * batch after a checkpoint/swap race is detected and skipped, which
    * restores exactly-once. Batch ids are only comparable WITHIN one
    * checkpoint lineage (a rebuilt checkpoint restarts at 0 and re-bundles
    * inputs differently), so the sidecar also records the streaming query
    * id from the checkpoint metadata: a marker from a different lineage
    * FAILS the query loudly — skipping would silently drop any new data
    * riding the replay, folding would double-count; neither is
    * recoverable automatically. Operators must move store and checkpoint
    * together. Store size is O(keys), not O(history) — the whole point:
    * the 100 TB of events never gets re-scanned. */
  def aggregateStoreAvailableNow(spark: SparkSession, inputDir: String,
                                 storeDir: String, checkpoint: String,
                                 schema: StructType, keyCols: Seq[String],
                                 measure: String): StreamingQuery = {
    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(inputDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        recoverStore(storeDir)
        val store = new java.io.File(storeDir)
        val lineage = checkpointQueryId(checkpoint)
        val marker = readBatchMarker(storeDir)
        marker match {
          case Some((storedLineage, _)) if storedLineage != lineage =>
            throw new IllegalStateException(
              s"aggregate store $storeDir was built by checkpoint lineage " +
                s"$storedLineage but the query is running as $lineage — " +
                "batch ids are not comparable across lineages. Restore the " +
                "matching checkpoint, or delete BOTH store and checkpoint " +
                "to rebuild from the full input.")
          case Some((_, lastId)) if batchId <= lastId =>
            () // replay of an already-folded batch within this lineage
          case _ =>
            val newState = graft.core.IncrementalAgg
              .partialize(batch, keyCols, measure)
            val merged =
              if (store.exists())
                graft.core.IncrementalAgg.merge(
                  Seq(spark.read.parquet(storeDir), newState), keyCols, measure)
              else newState
            val tmp = storeDir + ".staging"
            merged.write.mode("overwrite").parquet(tmp)
            writeBatchMarker(tmp, lineage, batchId)
            swapInStore(tmp, storeDir)
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming observability twin of `Validation.observedStats`: a
    * listener that accumulates per-query input-row and processed-rows
    * counts from the engine's own progress events — no extra action, no
    * second pass, works for ANY running query. At fleet scale this is
    * what feeds lag/throughput dashboards; here it's the minimal
    * thread-safe core (progress events arrive on the listener bus
    * thread). Register via `spark.streams.addListener`. */
  final class ProgressTracker
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val rows = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()
    private val batches = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      rows.merge(e.progress.id, e.progress.numInputRows, (a, b) => a + b)
      batches.merge(e.progress.id, 1L, (a, b) => a + b)
      ()
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def inputRows(queryId: java.util.UUID): Long = rows.getOrDefault(queryId, 0L)
    def nBatches(queryId: java.util.UUID): Long = batches.getOrDefault(queryId, 0L)
  }

  /** The streaming query id from `<checkpoint>/metadata` — stable across
    * restarts of the SAME checkpoint, different for a rebuilt one. The
    * file exists by the time the first batch runs (written at query
    * start). */
  private[graft] def checkpointQueryId(checkpoint: String): String = {
    val f = java.nio.file.Paths.get(checkpoint, "metadata")
    val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
      .map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"no query id in checkpoint metadata at $f"))
  }

  private[graft] def readBatchMarker(storeDir: String): Option[(String, Long)] = {
    val f = java.nio.file.Paths.get(storeDir, "_batch_id")
    if (java.nio.file.Files.exists(f)) {
      val parts = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .trim.split('|')
      Some((parts(0), parts(1).toLong))
    } else None
  }

  private[graft] def writeBatchMarker(storeDir: String, lineage: String,
                                      batchId: Long): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(storeDir, "_batch_id"),
      s"$lineage|$batchId".getBytes("UTF-8"))
    ()
  }

  /** Crash recovery for [[upsertAvailableNow]]'s two-move swap: if the
    * store vanished mid-swap, the previous store is intact at `.old`. */
  private[graft] def recoverStore(storeDir: String): Unit = {
    val store = new java.io.File(storeDir)
    val old = new java.io.File(storeDir + ".old")
    if (!store.exists() && old.exists())
      java.nio.file.Files.move(old.toPath, store.toPath)
    ()
  }

  /** store -> .old, staging -> store, drop .old. Directory renames aren't
    * jointly atomic — [[recoverStore]] covers the window between them. */
  private[graft] def swapInStore(tmp: String, storeDir: String): Unit = {
    val store = new java.io.File(storeDir)
    val old = new java.io.File(storeDir + ".old")
    deleteRecursively(old) // stale leftover from a crash after a good swap
    if (store.exists())
      java.nio.file.Files.move(store.toPath, old.toPath)
    java.nio.file.Files.move(new java.io.File(tmp).toPath, store.toPath)
    deleteRecursively(old)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    if (f.exists() && !f.delete())
      throw new java.io.IOException(s"could not delete ${f.getPath}")
  }

  /** Per-user running profile maintained with custom state
    * (`mapGroupsWithState`) — the arbitrary-stateful-processing path for
    * semantics `session_window` can't express (running aggregates that
    * survive across sessions, custom eviction). State is per-key in the
    * state store; processing-time timeout evicts idle users. */
  final case class EventIn(user_id: Long, ts: java.sql.Timestamp,
                           event_type: String, value: Double)
  final case class UserProfile(user_id: Long, n_events: Long,
                               n_purchases: Long, total_value: Double,
                               last_seen: java.sql.Timestamp)

  def userProfiles(events: Dataset[EventIn],
                   timeout: GroupStateTimeout =
                     GroupStateTimeout.NoTimeout): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserProfile, UserProfile](timeout) {
        case (uid, rows, state: GroupState[UserProfile]) =>
          val prev = state.getOption
            .getOrElse(UserProfile(uid, 0L, 0L, 0.0, new java.sql.Timestamp(0)))
          val updated = rows.foldLeft(prev) { (p, e) =>
            UserProfile(uid, p.n_events + 1,
              p.n_purchases + (if (e.event_type == "purchase") 1 else 0),
              p.total_value + e.value,
              if (e.ts.after(p.last_seen)) e.ts else p.last_seen)
          }
          state.update(updated)
          updated
      }
  }

  /** Count-Min sketch over the user-id stream — the bounded-state
    * frequency face of [[graft.operators.CountMin]]: the sketch build IS
    * a streaming aggregation (groupBy on the bounded (seed, bucket)
    * domain), so state is capped at depth×width counters NO MATTER how
    * many distinct users flow past — the structure exact per-key
    * counting can't offer a stream. Complete/update output mode; no
    * watermark needed (the key domain, not time, bounds the state).
    * Counter addition is the merge, so micro-batching commutes with the
    * sketch — StreamingMacroSpec proves streamed ≡ batch; the judged
    * batch twin is s10_event_cms. */
  def userCmsSketch(events: DataFrame, depth: Int = 4,
                    width: Int = 256): DataFrame =
    graft.operators.CountMin.sketch(
      events.select(col("user_id").cast("string").as("user_key")),
      "user_key", depth, width)

  /** Gap-based sessionization (stateful): session_window groups events per
    * user with a 30-min inactivity gap — Spark's native session state, the
    * scalable path (state store per key, watermark-evicted). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     withWatermark: Boolean = true): DataFrame = {
    val src = if (withWatermark) events.withWatermark("ts", "1 hour") else events
    src.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"),
        col("sum_value"))
  }
}
