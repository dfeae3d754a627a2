package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Specs for the seventh coverage batch (d31-d33, s8). The DuckDB oracle
  * pins full-output equality; these pin the dedup-signal semantics on
  * constructed corpora and the chained-stateful streaming/batch agreement.
  */
object Coverage7Spec {
  final case class Ev(event_id: Long, user_id: Long, ts: java.sql.Timestamp)
}

class Coverage7Spec extends SparkSpec {
  import spark.implicits._

  private val t = (s: String) => java.sql.Timestamp.valueOf(s)

  private def seg20(docId: Long, toks: Seq[String]) = (docId, toks.mkString(" "))

  test("segment dedup: a 20-token block shared across docs is flagged in both, unique blocks are not") {
    val block = (1 to 20).map(i => s"w$i")
    val uniqA = (1 to 20).map(i => s"a$i")
    val uniqB = (1 to 20).map(i => s"b$i")
    val docs = Seq(
      seg20(1L, block ++ uniqA),   // 2 segments: shared + unique
      seg20(2L, block ++ uniqB),   // 2 segments: shared + unique
      seg20(3L, (1 to 15).map(i => s"c$i"))) // <20 tokens → 0 segments
      .toDF("doc_id", "text")
    val toks = docs.select($"doc_id", graft.functions.TextFns.tokens($"text").as("toks"))
    val segs = toks.filter(size($"toks") >= 20)
      .select($"doc_id", explode(sequence(lit(1), (size($"toks") / 20).cast("int"))).as("i"), $"toks")
      .select($"doc_id", md5(concat_ws(" ", slice($"toks", ($"i" - 1) * 20 + 1, lit(20)))).as("h"))
    val dups = segs.groupBy("h").agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"h", lit(1).as("isdup"))
    val per = segs.join(dups, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"), count($"isdup").as("n_dup_segments"))
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(per == Seq((1L, 2L, 1L), (2L, 2L, 1L))) // doc 3 has no segments
  }

  test("dup-ngram coverage: fully-templated doc scores 1.0, disjoint doc scores 0.0") {
    val shared = (1 to 10).map(i => s"s$i") // doc 1 ⊂ doc 2's vocabulary
    val docs = Seq(
      (1L, shared.mkString(" ")),
      (2L, (shared ++ (1 to 3).map(i => s"x$i")).mkString(" ")),
      (3L, (1 to 10).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val grams = docs.select($"doc_id", graft.functions.TextFns.tokens($"text").as("toks"))
      .filter(size($"toks") >= 5)
      .select($"doc_id", explode(sequence(lit(1), size($"toks") - 4)).as("i"), $"toks")
      .select($"doc_id", md5(concat_ws(" ", slice($"toks", $"i", lit(5)))).as("h"))
      .distinct()
    val shared2 = grams.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter($"nd" >= 2).select($"h", lit(1).as("issh"))
    val cov = grams.join(shared2, Seq("h"), "left")
      .groupBy("doc_id")
      .agg((count($"issh") / count(lit(1))).as("coverage"))
      .orderBy("doc_id").as[(Long, Double)].collect().toMap
    assert(cov(1L) == 1.0)      // every 5-gram of doc 1 appears in doc 2
    assert(cov(3L) == 0.0)      // doc 3 shares nothing
    assert(cov(2L) > 0.0 && cov(2L) < 1.0)
  }

  test("globalRowIds equals the single-partition row_number and avoids its plan") {
    import org.apache.spark.sql.expressions.Window
    // skewed keys + duplicates (tie-break column makes the order total)
    val df = (1 to 500).map(i => (math.min(i, 450).toLong, i.toLong))
      .toDF("k", "tb")
    val got = graft.core.Indexing.globalRowIds(df, "k", "rid",
      nBuckets = 16, tieBreak = Seq("tb"))
    val want = df.withColumn("rid",
      row_number().over(Window.orderBy($"k", $"tb")) - 1)
    assert(got.select("k", "tb", "rid").except(want.select("k", "tb", "rid")).isEmpty &&
      want.select("k", "tb", "rid").except(got.select("k", "tb", "rid")).isEmpty)
    // ids are dense 0..n-1
    val ids = got.select("rid").as[Long].collect().sorted
    assert(ids.toSeq == (0L until 500L))
    // the scalable plan must not sort everything into one partition: the
    // only SinglePartition exchange allowed is over the tiny bucket
    // histogram (its input is an aggregate, not the full input relation)
    val plan = got.queryExecution.executedPlan.toString
    val naive = want.queryExecution.executedPlan.toString
    assert(naive.contains("SinglePartition"), "baseline should show the hazard")
    val winLines = plan.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!winLines.contains("__bucket ASC") || !plan.contains("rangepartitioning(k"),
      s"row ids must come from the per-bucket window, got:\n$plan")
  }

  test("globalRowIds: null keys get the FIRST ids (nulls-first), nothing dropped or shifted") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq((Some(5L), 1L), (None, 2L), (Some(1L), 3L), (None, 4L))
      .toDF("k", "tb")
    val got = graft.core.Indexing.globalRowIds(df, "k", "rid",
      nBuckets = 4, tieBreak = Seq("tb"))
    assert(got.count() == 4, "null-key rows must survive")
    val want = df.withColumn("rid",
      row_number().over(Window.orderBy($"k".asc_nulls_first, $"tb")) - 1)
    assert(got.select("k", "tb", "rid").except(want.select("k", "tb", "rid")).isEmpty &&
      want.select("k", "tb", "rid").except(got.select("k", "tb", "rid")).isEmpty)
    // all-null degenerate: ids still dense over the tie-break order
    val allNull = Seq((Option.empty[Long], 1L), (None, 2L)).toDF("k", "tb")
    val ids = graft.core.Indexing.globalRowIds(allNull, "k", "rid",
      nBuckets = 4, tieBreak = Seq("tb"))
      .orderBy("tb").select("rid").as[Long].collect()
    assert(ids.toSeq == Seq(0L, 1L))
  }

  test("globalNtile equals single-partition ntile exactly, including uneven fills") {
    import org.apache.spark.sql.expressions.Window
    // 503 rows: 503 mod 10 = 3 → first 3 tiles hold 51 rows, the rest 50;
    // duplicate keys so the tie-break carries the ordering
    val df = (1 to 503).map(i => (math.min(i, 470).toLong, i.toLong))
      .toDF("k", "tb")
    val got = graft.core.Indexing.globalNtile(df, 10, "k", "dec",
      descending = true, tieBreak = Seq("tb"), nBuckets = 16)
    val want = df.withColumn("dec",
      ntile(10).over(Window.orderBy($"k".desc, $"tb")))
    assert(got.select("k", "tb", "dec").except(want.select("k", "tb", "dec")).isEmpty &&
      want.select("k", "tb", "dec").except(got.select("k", "tb", "dec")).isEmpty)
    // fewer rows than tiles: tile = rank, matching ntile's one-per-tile fill
    val tiny = Seq((5L, 1L), (1L, 2L), (9L, 3L)).toDF("k", "tb")
    val gotTiny = graft.core.Indexing.globalNtile(tiny, 10, "k", "dec",
      tieBreak = Seq("tb"))
    val wantTiny = tiny.withColumn("dec", ntile(10).over(Window.orderBy($"k", $"tb")))
    assert(gotTiny.select("k", "dec").except(wantTiny.select("k", "dec")).isEmpty &&
      wantTiny.select("k", "dec").except(gotTiny.select("k", "dec")).isEmpty)
  }

  test("globalNtile descending: null and NaN keys order like the desc window") {
    import org.apache.spark.sql.expressions.Window
    // Window.orderBy(desc) is desc_nulls_last with NaN greatest (FIRST);
    // the bucketed pass must reproduce that, not the ascending reserve order
    val df = Seq((Some(5.0), 1L), (None, 2L), (Some(Double.NaN), 3L),
      (Some(1.0), 4L), (Some(9.0), 5L)).toDF("k", "tb")
    val got = graft.core.Indexing.globalNtile(df, 3, "k", "dec",
      descending = true, tieBreak = Seq("tb"), nBuckets = 4)
    val want = df.withColumn("dec", ntile(3).over(Window.orderBy($"k".desc, $"tb")))
    assert(got.select("tb", "dec").except(want.select("tb", "dec")).isEmpty &&
      want.select("tb", "dec").except(got.select("tb", "dec")).isEmpty)
  }

  test("globalNtile descending stays exact for Long keys beyond 2^53") {
    import org.apache.spark.sql.expressions.Window
    // Adjacent longs past 2^53 collide under the double cast that builds
    // the descending bucketing key; exactness requires the within-bucket
    // sort to use the ORIGINAL key, not the negated double; sorted on
    // __negkey these rows would tie and fall to the tie-break (ascending),
    // inverting the tile boundary between them.
    val base = (1L << 53) + 10
    val df = (0L until 7L).map(i => (base + i, 100L - i)).toDF("k", "tb")
    val got = graft.core.Indexing.globalNtile(df, 3, "k", "dec",
      descending = true, tieBreak = Seq("tb"), nBuckets = 4)
    val want = df.withColumn("dec", ntile(3).over(Window.orderBy($"k".desc, $"tb")))
    assert(got.select("k", "dec").except(want.select("k", "dec")).isEmpty &&
      want.select("k", "dec").except(got.select("k", "dec")).isEmpty)
  }

  test("groupQuantiles equals the percentile aggregate: ties, tiny groups, constant groups") {
    // mixed shapes the bucketed select must survive: heavy ties (bucket
    // row_number picks among equals — value-deterministic), a 1-row group
    // (pos = 0 for every q), a constant group (width 0 → single bucket),
    // interpolated positions (group sizes not divisible by 4), and a null
    // value ignored like percentile ignores it
    val df = (Seq.tabulate(103)(i => ("a", Some(i % 7 * 1.5))) ++
      Seq(("b", Some(42.0))) ++
      Seq.tabulate(10)(_ => ("c", Some(3.0))) ++
      Seq(("a", Option.empty[Double])))
      .toDF("g", "v")
    val qs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    val got = graft.core.Indexing.groupQuantiles(df, Seq("g"), "v", qs, nBuckets = 8)
      .select($"g", $"__q", round($"__quantile", 9).as("r"))
    val want = df.groupBy("g")
      .agg(percentile($"v", typedLit(qs.toArray)).as("ps"))
      .select($"g", explode(arrays_zip(typedLit(qs.toArray).as("__q"),
        $"ps".as("p"))).as("z"))
      .select($"g", $"z.__q", round($"z.p", 9).as("r"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "bucketed order-statistic select must equal the aggregate form")
  }

  test("groupQuantiles discrete mode equals percentile_disc: ties, tiny, constant, q=0/1") {
    // same torture fixture as the continuous test; the discrete rule is the
    // ordered-set one — the ACTUAL value at order statistic
    // max(ceil(q*n)-1, 0), no interpolation — so results must be exact
    // data values (no rounding needed), including q=0 (first value) and
    // q=1 (last value), and a null value ignored like the aggregate
    val df = (Seq.tabulate(103)(i => ("a", Some(i % 7 * 1.5))) ++
      Seq(("b", Some(42.0))) ++
      Seq.tabulate(10)(_ => ("c", Some(3.0))) ++
      Seq(("a", Option.empty[Double])))
      .toDF("g", "v")
    val qs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    val got = graft.core.Indexing
      .groupQuantiles(df, Seq("g"), "v", qs, nBuckets = 8, discrete = true)
      .select($"g", $"__q", $"__quantile".as("r"))
    df.createOrReplaceTempView("gq_disc_v")
    val want = qs.map { q =>
      spark.sql(
        s"""SELECT g, CAST($q AS DOUBLE) AS __q,
            percentile_disc($q) WITHIN GROUP (ORDER BY v) AS r
          FROM gq_disc_v GROUP BY g""")
    }.reduce(_ unionAll _)
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "discrete order-statistic select must equal percentile_disc")
  }

  test("globalRowIds: NaN and infinity keys keep window order, never poison buckets") {
    import org.apache.spark.sql.expressions.Window
    // NaN must not poison the max-bound (Spark max treats NaN > any double),
    // one ±Inf must not drive the bucket width to Infinity (which would
    // collapse every finite key into a single bucket), and neither may
    // vanish on the bucket join (floor(NaN) casts to a null bucket)
    val df = Seq((5.0, 1L), (Double.NaN, 2L), (1.0, 3L), (Double.NaN, 4L),
      (9.0, 5L), (Double.PositiveInfinity, 6L), (Double.NegativeInfinity, 7L))
      .toDF("k", "tb")
    val got = graft.core.Indexing.globalRowIds(df, "k", "rid",
      nBuckets = 4, tieBreak = Seq("tb"))
    assert(got.count() == 7, "NaN/Inf-key rows must survive")
    val want = df.withColumn("rid",
      row_number().over(Window.orderBy($"k".asc_nulls_first, $"tb")) - 1)
    assert(got.select("tb", "rid").except(want.select("tb", "rid")).isEmpty &&
      want.select("tb", "rid").except(got.select("tb", "rid")).isEmpty)
  }

  test("globalRowIds: single-value key collapses to one bucket and still works") {
    val df = Seq(5L, 5L, 5L).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "tb")
    val got = graft.core.Indexing.globalRowIds(df, "k", "rid",
      nBuckets = 8, tieBreak = Seq("tb"))
      .orderBy("tb").select("rid").as[Long].collect()
    assert(got.toSeq == Seq(0L, 1L, 2L))
  }

  test("observe: metrics ride the consuming action, no second scan") {
    val df = Seq((1L, Some(2.0)), (2L, None), (3L, Some(9.0))).toDF("id", "v")
    val (instrumented, obs) = graft.operators.Validation.observedStats(df, Seq("v"))
    assert(instrumented.count() == 3) // the action that materializes metrics
    val m = obs.get
    assert(m("n_rows") == 3L)
    assert(m("v_nulls") == 1L)
    assert(m("v_min") == 2.0 && m("v_max") == 9.0)
  }

  test("NOT IN with a null in the subquery returns empty; NOT EXISTS anti-joins") {
    Seq(1L, 2L, 3L).toDF("id").createOrReplaceTempView("trap_l")
    Seq(Some(1L), None).toDF("k").createOrReplaceTempView("trap_r")
    val notIn = spark.sql(
      "SELECT COUNT(*) FROM trap_l WHERE id NOT IN (SELECT k FROM trap_r)").head().getLong(0)
    val notExists = spark.sql(
      """SELECT COUNT(*) FROM trap_l l WHERE NOT EXISTS (
           SELECT 1 FROM trap_r r WHERE r.k = l.id)""").head().getLong(0)
    assert(notIn == 0L)      // three-valued logic: id <> NULL is unknown
    assert(notExists == 2L)  // ids 2 and 3 have no match
  }

  test("exceptAll keeps surplus duplicate multiplicity; except collapses it") {
    val a = Seq("x", "x", "x", "y").toDF("v")
    val b = Seq("x", "z").toDF("v")
    assert(a.exceptAll(b).groupBy("v").count().orderBy("v")
      .as[(String, Long)].collect().toSeq == Seq(("x", 2L), ("y", 1L)))
    assert(a.except(b).orderBy("v").as[String].collect().toSeq == Seq("y"))
  }

  test("lag ignore nulls skips over null rows to the last real value") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1, Some(10.0)), (2, None), (3, None), (4, Some(40.0)))
      .toDF("i", "x")
    val got = df.select($"i",
        lag($"x", 1, null, ignoreNulls = true).over(Window.orderBy("i")).as("p"))
      .orderBy("i").collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq
    assert(got == Seq(None, Some(10.0), Some(10.0), Some(10.0)))
  }

  test("approx_percentile stays within a 2% rank envelope of the exact quantiles") {
    val dir = "/root/testdata/sf0.01"
    val li = graft.core.Tables.lineitem(spark, dir)
    val approx = li.agg(approx_percentile($"l_extendedprice",
      array(lit(0.25), lit(0.5), lit(0.75)), lit(10000))).head().getSeq[Double](0)
    val n = li.count().toDouble
    // measure the realized rank of each approximate cut — the sketch bound
    // is on RANK error (<= 1/accuracy), not on the value
    approx.zip(Seq(0.25, 0.5, 0.75)).foreach { case (cut, p) =>
      val rank = li.filter($"l_extendedprice" <= cut).count() / n
      assert(math.abs(rank - p) <= 0.02, s"cut $cut for p=$p landed at rank $rank")
    }
  }

  test("incremental agg: merged partials equal the one-shot aggregate on any split") {
    import graft.core.IncrementalAgg._
    val rng = new scala.util.Random(7)
    val rows = (1 to 300).map(_ => (rng.nextInt(10).toLong, rng.nextInt(1000) / 4.0))
    val df = rows.toDF("k", "v")
    // split into 3 arbitrary uneven partitions
    val parts = Seq(df.filter($"v" < 60), df.filter($"v" >= 60 && $"v" < 90),
      df.filter($"v" >= 90))
    val inc = finalizeState(
      merge(parts.map(p => partialize(p, Seq("k"), "v")), Seq("k"), "v"), "v")
    val oneShot = finalizeState(partialize(df, Seq("k"), "v"), "v")
    assert(inc.except(oneShot).isEmpty && oneShot.except(inc).isEmpty)
    // folding a NEW partition into stored state changes only affected keys
    val newPart = Seq((3L, 10000.0)).toDF("k", "v")
    val updated = finalizeState(
      merge(Seq(partialize(df, Seq("k"), "v"), partialize(newPart, Seq("k"), "v")),
        Seq("k"), "v"), "v")
    val hi3 = updated.filter($"k" === 3L).select("hi").head().getDouble(0)
    assert(hi3 == 10000.0)
    assert(updated.filter($"k" =!= 3L).except(oneShot.filter($"k" =!= 3L)).isEmpty)
  }

  test("full outer stream-stream join emits NULLs on BOTH sides after the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    import Coverage7Spec.Ev
    val purchases = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val joined = EventStreams.purchasesFullClicks(
      purchases.toDF(), clicks.toDF(), streaming = true)
    val q = joined.writeStream.format("memory").queryName("fulljoin_test")
      .outputMode(OutputMode.Append).start()
    try {
      // p1 has a click 10 min earlier (match); p2 has none; c99's user
      // never purchases — both one-sided rows must surface as NULLs
      purchases.addData(Ev(100L, 1L, t("2024-01-01 10:10:00")),
        Ev(200L, 2L, t("2024-01-01 10:12:00")))
      clicks.addData(Ev(10L, 1L, t("2024-01-01 10:00:00")),
        Ev(99L, 7L, t("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // push both watermarks far past every match window
      purchases.addData(Ev(900L, 50L, t("2024-01-01 13:00:00")))
      clicks.addData(Ev(901L, 51L, t("2024-01-01 13:00:00")))
      q.processAllAvailable()
      purchases.addData(Ev(902L, 50L, t("2024-01-01 14:00:00")))
      clicks.addData(Ev(903L, 51L, t("2024-01-01 14:00:00")))
      q.processAllAvailable()
      val rows = spark.table("fulljoin_test")
        .filter($"purchase_id" < 900L || $"purchase_id".isNull)
        .filter($"click_id" < 900L || $"click_id".isNull)
        .collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
          Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet
      assert(rows.contains((Some(100L), Some(10L))), "matched pair")
      assert(rows.contains((Some(200L), None)), "purchase with no click")
      assert(rows.contains((None, Some(99L))), "click with no purchase")
    } finally q.stop()
  }

  test("streaming aggregation runs on the RocksDB state store provider") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    // large-state deployments move state off-heap: same query, RocksDB
    // provider — results must be identical to the default HDFS-backed one
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[EventStreams.EventIn]
      val q = EventStreams.hourlyByType(stream.toDF(), withWatermark = false)
        .writeStream.format("memory").queryName("rocksdb_test")
        .outputMode(OutputMode.Complete).start()
      try {
        stream.addData(
          EventStreams.EventIn(1L, t("2024-01-01 05:07:00"), "click", 1.0),
          EventStreams.EventIn(2L, t("2024-01-01 05:30:00"), "click", 2.0))
        q.processAllAvailable()
        stream.addData(EventStreams.EventIn(3L, t("2024-01-01 05:40:00"), "click", 4.0))
        q.processAllAvailable()
        val r = spark.table("rocksdb_test")
          .select("n", "sum_value").as[(Long, Double)].collect().toSeq
        assert(r == Seq((3L, 7.0)), s"state must accumulate across batches, got $r")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("chained stateful streaming: hourly active users agrees with the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      EventStreams.EventIn(1L, t("2024-01-01 05:07:00"), "click", 1.0),
      EventStreams.EventIn(1L, t("2024-01-01 05:30:00"), "view", 2.0),
      EventStreams.EventIn(2L, t("2024-01-01 05:59:00"), "view", 2.0),
      EventStreams.EventIn(1L, t("2024-01-01 06:20:00"), "click", 4.0))
    // watermark pusher: far-future event closes the 05h and 06h windows
    val pusher = EventStreams.EventIn(9L, t("2024-01-01 09:00:00"), "click", 0.0)
    val stream = MemoryStream[EventStreams.EventIn]
    val q = EventStreams.hourlyActiveUsers(stream.toDF(), withWatermark = true)
      .writeStream.format("memory").queryName("active_test")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(rows.take(3)); q.processAllAvailable()
      stream.addData(rows.drop(3)); q.processAllAvailable()
      stream.addData(Seq(pusher)); q.processAllAvailable()
      // one more batch so the new watermark actually evicts + emits
      stream.addData(Seq(pusher)); q.processAllAvailable()
      val streamed = spark.table("active_test")
        .filter($"window_start" < t("2024-01-01 09:00:00"))
        .orderBy("window_start")
        .as[(java.sql.Timestamp, Long, Long)].collect().toSeq
      val batch = EventStreams.hourlyActiveUsers(
          rows.toDF().select($"user_id", $"ts", $"event_type", $"value"),
          withWatermark = false)
        .orderBy("window_start")
        .as[(java.sql.Timestamp, Long, Long)].collect().toSeq
      assert(streamed == batch)
      // two users in the 05h window, one in the 06h window
      assert(batch.map(x => (x._2, x._3)) == Seq((2L, 3L), (1L, 1L)))
    } finally q.stop()
  }
}
