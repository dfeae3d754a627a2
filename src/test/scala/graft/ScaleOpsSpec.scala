package graft

import org.apache.spark.sql.functions._
import graft.core.{RangeJoin, RuntimeFilters}
import graft.operators.Chunking
import graft.streaming.EventStreams

/** Scale operators: bloom-prefiltered joins, the point-in-interval
  * aggregate, chunking, and the stream/batch dedup agreement. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("bloomSemiJoin equals the plain semi-join row-for-row") {
    val big = (1L to 2000L).map(i => (i, i % 37)).toDF("k", "payload")
    val small = Seq(3L, 37L, 999L, 1500L, 4242L).toDF("sk")
    val viaBloom = RuntimeFilters.bloomSemiJoin(big, "k", small, "sk",
      expectedItems = 100L, fpp = 0.1)
    val plain = big.join(small.select(col("sk").as("k")), Seq("k"), "left_semi")
    assert(viaBloom.orderBy("k").collect().toSeq ==
      plain.orderBy("k").collect().toSeq)
    // exactness holds even when the filter is saturated with false positives
    val tiny = RuntimeFilters.bloomSemiJoin(big, "k", small, "sk",
      expectedItems = 1L, fpp = 0.5)
    assert(tiny.orderBy("k").collect().toSeq ==
      plain.orderBy("k").collect().toSeq)
  }

  test("bloomSemiJoin: string keys use the string hash path (no false negatives)") {
    val big = Seq("a", "b", "c", "42").toDF("k")
    val small = Seq("b", "42", "zz").toDF("sk")
    val got = RuntimeFilters.bloomSemiJoin(big, "k", small, "sk")
      .as[String].collect().sorted.toSeq
    assert(got == Seq("42", "b"))
  }

  test("bloomPredicate alone drops null string keys (xxhash64(null) is the seed, not null)") {
    val big = Seq(Some("a"), None, Some("b")).toDF("k")
    val small = Seq(Some("a"), None).toDF("sk")
    val pred = RuntimeFilters.bloomPredicate(small, "sk", big, "k")
    // standalone prefilter semantics: null never passes, even with a null
    // present on the build side
    assert(big.filter(pred).as[String].collect().toSeq == Seq("a"))
  }

  test("bloom prefilter is the native might_contain expression, not a udf") {
    // spark.range (not a local relation, which Catalyst would fold away
    // with the filter) so the prefilter survives into the physical plan
    val big = spark.range(1, 101).select(col("id").as("k"))
    val small = Seq(3L, 7L).toDF("sk")
    val plan = RuntimeFilters.bloomSemiJoin(big, "k", small, "sk")
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("bloomSemiJoin rejects mismatched or unsupported key types up front") {
    val longs = Seq(1L).toDF("k")
    val strs = Seq("1").toDF("sk")
    val ex = intercept[IllegalArgumentException] {
      RuntimeFilters.bloomSemiJoin(longs, "k", strs, "sk")
    }
    assert(ex.getMessage.contains("integral or string"))
  }

  test("kmv_distinct rejects non-bigint input at analysis time") {
    graft.functions.GraftFunctions.registerAll(spark)
    (1 to 5).map(i => ("g", i)).toDF("g", "v").createOrReplaceTempView("kmv_bad")
    val ex = intercept[Exception] {
      spark.sql("SELECT kmv_distinct(v, 4) FROM kmv_bad GROUP BY g").collect()
    }
    assert(ex.getMessage.toLowerCase.contains("bigint"), ex.getMessage)
  }

  test("bloomSemiJoin drops null keys (semi-join semantics)") {
    val big = Seq(Some(1L), None, Some(2L)).toDF("k")
    val small = Seq(1L).toDF("sk")
    assert(RuntimeFilters.bloomSemiJoin(big, "k", small, "sk")
      .as[Long].collect().toSeq == Seq(1L))
  }

  test("intervalPrefixAgg equals the naive BETWEEN aggregate (pairs never materialized)") {
    val pts = Seq[(String, Option[Double])](
      ("2024-01-01", Some(1.5)), ("2024-01-15", Some(2.25)),
      ("2024-01-15", Some(4.0)), ("2024-02-10", Some(3.0)),
      ("2024-03-01", Some(4.5)),
      ("2024-02-19", Some(1.0)), ("2024-03-06", Some(2.0)), // a day outside g
      ("2024-02-20", Some(7.0)), ("2024-03-05", Some(8.0)), // g's own ends
      (null, Some(9.0)),                                     // null point
      ("2024-04-09", Some(5.0)), ("2024-04-10", None))       // NULL value
      .toDF("d", "v")
      .select(col("d").cast("date").as("d"),
        col("v").cast("decimal(18,2)").as("v"))
    val iv = Seq(("a", "2024-01-01", "2024-01-20"),
      ("b", "2024-01-10", "2024-02-15"),
      ("c", "2024-05-01", "2024-05-02"),    // matches nothing: dropped
      ("d", "2024-02-01", "2024-01-01"),    // end < start: dropped
      ("e", "2023-01-01", "2024-01-01"),    // clamps below the domain
      ("f", "2024-02-20", "2026-01-01"),    // clamps above the domain
      ("g", "2024-02-20", "2024-03-05"),    // ends inclusive, neighbors out
      ("h", null, "2024-03-05"),            // null bound: dropped
      ("i", "2024-04-10", "2024-04-10"),    // only a NULL value: sum is NULL
      ("j", "2024-04-09", "2024-04-10"))    // NULL value beside a real one
      .toDF("iid", "s", "e")
      .select(col("iid"), col("s").cast("date").as("s"),
        col("e").cast("date").as("e"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("iid").collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getDecimal(2)).map(_.doubleValue))).toSeq
    val naive = rows(pts.crossJoin(iv).filter(col("d").between(col("s"), col("e")))
      .groupBy("iid").agg(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    assert(naive == Seq(("a", 3L, Some(7.75)), ("b", 3L, Some(9.25)),
      ("e", 1L, Some(1.5)), ("f", 6L, Some(26.5)), ("g", 3L, Some(19.5)),
      ("i", 1L, None), ("j", 2L, Some(5.0))))
    val got = rows(RangeJoin.intervalPrefixAgg(pts, iv, "d", "s", "e",
        Seq("sv" -> col("v")))
      .select("iid", "n_points", "sv"))
    assert(got == naive)
    // empty points: full-schema empty result, no crash
    assert(RangeJoin.intervalPrefixAgg(
      pts.limit(0), iv, "d", "s", "e", Seq("sv" -> col("v"))).count() == 0)
  }

  test("chunkByTokens golden: window 3, stride 2 over 7 tokens") {
    val docs = Seq((1L, "t1 t2 t3 t4 t5 t6 t7")).toDF("doc_id", "text")
    val got = Chunking.chunkByTokens(docs, "doc_id", "text", 3, 2)
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk_text", "n_chunk_tokens")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((0L, "t1 t2 t3", 3L), (1L, "t3 t4 t5", 3L),
      (2L, "t5 t6 t7", 3L), (3L, "t7", 1L)))
  }

  test("chunkByTokens: doc shorter than one window yields a single short chunk") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val got = Chunking.chunkByTokens(docs, "doc_id", "text", 50, 40)
      .select("chunk_idx", "chunk_text", "n_chunk_tokens")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((0L, "a b", 2L)))
  }

  test("kmv sketch: exact below k, estimator formula at k, partition-invariant merge") {
    import graft.functions.{KmvAgg, TextFns}
    val df = (1 to 1000).map(i => ("g", i.toLong)).toDF("g", "v")
    def est(d: org.apache.spark.sql.DataFrame): Double = d.groupBy("g")
      .agg(KmvAgg.kmvDistinct(TextFns.hash32(col("v").cast("string")), 64).as("est"))
      .select("est").as[Double].head()
    val one = est(df)
    // merge path: many partitions -> partial sketches -> union+trim
    assert(est(df.repartition(13)) == one)
    // the estimate is exactly (k-1) * 2^32 / kth-smallest distinct hash
    val hs = df.select(TextFns.hash32(col("v").cast("string")).as("h")).as[Long]
      .collect().distinct.sorted
    assert(one == 63.0 * 4294967296.0 / hs(63).toDouble)
    // sanity: within 30% of the true cardinality at k=64
    assert(math.abs(one - 1000.0) / 1000.0 < 0.3)
    // below k the count is exact
    val small = (1 to 50).map(i => ("g", i.toLong)).toDF("g", "v")
    assert(est(small) == 50.0)
    // duplicates don't inflate the sketch
    val dup = ((1 to 50) ++ (1 to 50)).map(i => ("g", i.toLong)).toDF("g", "v")
    assert(est(dup) == 50.0)
  }

  test("kmv_distinct is SQL-callable") {
    graft.functions.GraftFunctions.registerAll(spark)
    (1 to 10).map(i => ("g", i.toLong)).toDF("g", "v")
      .createOrReplaceTempView("kmv_in")
    val out = spark.sql(
      """SELECT kmv_distinct(CAST(conv(substring(md5(CAST(v AS STRING)),1,8),16,10) AS BIGINT), 5) AS est
         FROM kmv_in""").as[Double].head()
    assert(out > 0.0)
  }

  test("joinForward: earliest at-or-after match, atomic struct carry, no backward look") {
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, "u1", t("2024-01-01 01:00:00")),
      (2L, "u1", t("2024-01-01 05:00:00")),
      (3L, "u2", t("2024-01-01 01:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(("u1", t("2024-01-01 02:00:00"), Option.empty[Double], Some(7.0)),
      ("u1", t("2024-01-01 04:00:00"), Some(9.0), Some(9.0)),
      ("u2", t("2024-01-01 00:30:00"), Some(1.0), Some(1.0)))
      .toDF("user_id", "ts", "v1", "v2")
    val out = graft.core.AsOf.joinForward(left, right, Seq("user_id"), "ts",
        Seq("v1", "v2"))
      .select("event_id", "v1", "v2").orderBy("event_id")
      .as[(Long, Option[Double], Option[Double])].collect().toSeq
    // event 1: matches the 02:00 row ATOMICALLY -> (null, 7), v1 not
    // backfilled from the later 04:00 row; event 2: nothing at/after 05:00;
    // event 3: u2's only right row is EARLIER -> no match (forward only)
    assert(out == Seq((1L, None, Some(7.0)), (2L, None, None), (3L, None, None)))
    // equal timestamps match (inclusive)
    val leftEq = Seq((1L, "u1", t("2024-01-01 02:00:00"))).toDF("event_id", "user_id", "ts")
    val eq = graft.core.AsOf.joinForward(leftEq, right, Seq("user_id"), "ts",
      Seq("v2")).select("v2").as[Option[Double]].head()
    assert(eq == Some(7.0))
  }

  test("buildScd2: non-overlapping intervals, tie collapse, is_current on the last row") {
    val d = (s: String) => java.sql.Date.valueOf(s)
    val changes = Seq(
      ("k1", d("2024-01-01"), 10.0, 1L),
      ("k1", d("2024-01-01"), 11.0, 2L),  // same day: higher seq wins
      ("k1", d("2024-03-01"), 12.0, 1L),
      ("k2", d("2024-02-01"), 20.0, 1L))
      .toDF("k", "change_d", "price", "seq")
    val out = graft.core.SeriesOps.buildScd2(changes, Seq("k"), "change_d",
        tieBreak = Seq(col("seq")))
      .select("k", "valid_from", "valid_to", "is_current", "price")
      .orderBy("k", "valid_from")
      .as[(String, java.sql.Date, Option[java.sql.Date], Boolean, Double)]
      .collect().toSeq
    assert(out == Seq(
      ("k1", d("2024-01-01"), Some(d("2024-03-01")), false, 11.0),
      ("k1", d("2024-03-01"), None, true, 12.0),
      ("k2", d("2024-02-01"), None, true, 20.0)))
  }

  test("d21's explode-slice shingles equal the production distinct_shingles set") {
    import graft.functions.{TextExprs, TextFns}
    val docs = Seq((1L, "a b c d e f"), (2L, "x y z"), (3L, "one two"))
      .toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
    val prod = toks
      .select(col("doc_id"),
        explode(TextExprs.distinctShingles(col("toks"), 3)).as("shingle"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val oracleBasis = toks.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - 2)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("toks"), col("i"), lit(3))).as("shingle"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(prod == oracleBasis)
    assert(prod.contains((1L, "a b c")) && prod.contains((1L, "d e f")))
    assert(!prod.exists(_._1 == 3L)) // < k tokens -> no shingles on either path
  }

  test("connectedComponents: chains, cycles, and separate components resolve to min ids") {
    import graft.operators.Dedup
    // component {1,2,3,4} as a chain (diameter 3), {10,11,12} as a cycle,
    // {20,21} as an isolated pair; pair direction is not always min-first
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (21L, 20L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // a long path still converges (diameter 9 < default round cap)
    val path = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(path, "id_a", "id_b")
      .select("component").distinct().as[Long].collect().toSeq
    assert(comps == Seq(1L))
  }

  test("connectedComponents: a path converges in O(log diameter) rounds") {
    import graft.operators.Dedup
    // 256-node path (diameter 255). Pointer jumping halves the remaining
    // distance per round, so 2·ceil(log2 256) + 4 = 20 rounds is ample;
    // min-label propagation alone would need ~255. connectedComponents
    // throws when the round cap is hit.
    val n = 256L
    val path = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(path, "id_a", "id_b", maxIter = 20)
      .as[(Long, Long)].collect()
    assert(cc.length == n)
    assert(cc.forall(_._2 == 1L))
  }

  test("stream-stream interval join agrees with the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val purchases = Seq((100L, 1L, t("2024-01-01 05:00:00")),
      (101L, 2L, t("2024-01-01 06:00:00")))
    val clicks = Seq(
      (1L, 1L, t("2024-01-01 04:20:00")),  // > 30 min before: out
      (2L, 1L, t("2024-01-01 04:40:00")),  // in window
      (3L, 1L, t("2024-01-01 05:00:00")),  // equal ts: in (inclusive)
      (4L, 2L, t("2024-01-01 06:10:00")),  // after the purchase: out
      (5L, 3L, t("2024-01-01 05:50:00")))  // other user: out
    val pStream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cStream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def named(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "user_id", "ts")
    val q = graft.streaming.EventStreams.clicksBeforePurchase(
        named(pStream.toDF()), named(cStream.toDF()), streaming = true)
      .writeStream.format("memory").queryName("ssj_test")
      .outputMode(OutputMode.Append).start()
    try {
      pStream.addData(purchases)
      cStream.addData(clicks)
      q.processAllAvailable()
      val streamed = spark.table("ssj_test")
        .select("purchase_id", "click_id").orderBy("purchase_id", "click_id")
        .as[(Long, Long)].collect().toSeq
      val batch = graft.streaming.EventStreams.clicksBeforePurchase(
          named(purchases.toDF()), named(clicks.toDF()), streaming = false)
        .select("purchase_id", "click_id").orderBy("purchase_id", "click_id")
        .as[(Long, Long)].collect().toSeq
      assert(streamed == batch)
      assert(streamed == Seq((100L, 2L), (100L, 3L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState closes sessions on intra-batch gaps and event-time timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[EventStreams.EventIn]
    val q = EventStreams.closedSessions(stream.toDS())
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: u1 has an open 2-event session; u2's intra-batch 90-min
      // gap closes the first session immediately
      stream.addData(
        EventStreams.EventIn(1L, t("2024-01-01 05:00:00"), "click", 1.0),
        EventStreams.EventIn(1L, t("2024-01-01 05:10:00"), "view", 1.0),
        EventStreams.EventIn(2L, t("2024-01-01 05:00:00"), "click", 1.0),
        EventStreams.EventIn(2L, t("2024-01-01 06:30:00"), "view", 1.0))
      q.processAllAvailable()
      // u2's first session closed by the gap; u1's session closed by the
      // EVENT-TIME timeout — the 06:30 event pushes the watermark to 06:20,
      // past u1's 05:40 deadline, and processAllAvailable runs the
      // follow-up micro-batch that fires it
      val afterB1 = spark.table("sessions_test")
        .select("user_id", "n_events").as[(Long, Long)].collect().toSet
      assert(afterB1 == Set((2L, 1L), (1L, 2L)))
      // a later event moves the watermark past u2's 07:00 deadline and
      // flushes its open 06:30 session
      stream.addData(EventStreams.EventIn(9L, t("2024-01-01 07:20:00"), "click", 1.0))
      q.processAllAvailable()
      val all = spark.table("sessions_test")
        .select("user_id", "session_start", "session_end", "n_events")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      assert(all.contains((1L, t("2024-01-01 05:00:00"), t("2024-01-01 05:10:00"), 2L)),
        all.toString)
      assert(all.contains((2L, t("2024-01-01 05:00:00"), t("2024-01-01 05:00:00"), 1L)),
        all.toString)
      assert(all.contains((2L, t("2024-01-01 06:30:00"), t("2024-01-01 06:30:00"), 1L)),
        all.toString)
    } finally q.stop()
  }

  test("closedSessions: an out-of-order event never moves the session end backward") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[EventStreams.EventIn]
    val q = EventStreams.closedSessions(stream.toDS())
      .writeStream.format("memory").queryName("sessions_ooo_test")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(
        EventStreams.EventIn(1L, t("2024-01-01 10:00:00"), "click", 1.0),
        EventStreams.EventIn(1L, t("2024-01-01 10:25:00"), "click", 1.0))
      q.processAllAvailable()
      // watermark is now 10:15; a 10:16 event is late-but-valid and must
      // not shrink the session end from 10:25
      stream.addData(EventStreams.EventIn(1L, t("2024-01-01 10:16:00"), "click", 1.0))
      q.processAllAvailable()
      // 10:48 is 23 min after the TRUE end (10:25) -> same session; with
      // the backward-moving-end bug the gap from 10:16 is 32 min -> split
      stream.addData(EventStreams.EventIn(1L, t("2024-01-01 10:48:00"), "click", 1.0))
      q.processAllAvailable()
      stream.addData(EventStreams.EventIn(9L, t("2024-01-01 12:00:00"), "click", 1.0))
      q.processAllAvailable()
      val u1 = spark.table("sessions_ooo_test").filter(col("user_id") === 1L)
        .select("session_start", "session_end", "n_events")
        .as[(java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSeq
      assert(u1 == Seq((t("2024-01-01 10:00:00"), t("2024-01-01 10:48:00"), 4L)), u1.toString)
    } finally q.stop()
  }

  test("streaming firstPerKeyStream agrees with the batch row_number twin on an in-order feed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.EventIn]
    val q = EventStreams.firstPerKeyStream(stream.toDF())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append).start()
    val rows = Seq(
      EventStreams.EventIn(1L, java.sql.Timestamp.valueOf("2024-01-01 05:00:00"), "click", 1.0),
      EventStreams.EventIn(1L, java.sql.Timestamp.valueOf("2024-01-01 05:01:00"), "click", 2.0),
      EventStreams.EventIn(2L, java.sql.Timestamp.valueOf("2024-01-01 05:02:00"), "view", 3.0),
      EventStreams.EventIn(1L, java.sql.Timestamp.valueOf("2024-01-01 05:03:00"), "view", 4.0),
      EventStreams.EventIn(2L, java.sql.Timestamp.valueOf("2024-01-01 05:04:00"), "view", 5.0))
    try {
      stream.addData(rows.take(3))
      q.processAllAvailable()
      stream.addData(rows.drop(3))
      q.processAllAvailable()
      val streamed = spark.table("dedup_test")
        .select("user_id", "event_type", "value")
        .orderBy("user_id", "event_type")
        .as[(Long, String, Double)].collect().toSeq
      // batch twin: earliest (ts, ...) row per key
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts")
      val batch = rows.toDF()
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "event_type", "value")
        .orderBy("user_id", "event_type")
        .as[(Long, String, Double)].collect().toSeq
      assert(streamed == batch)
      assert(streamed == Seq((1L, "click", 1.0), (1L, "view", 4.0),
        (2L, "view", 3.0)))
    } finally q.stop()
  }
}
