package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.Bucketing
import graft.streaming.EventStreams
import java.nio.file.Files

class BucketingStreamSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed join on the bucket key plans without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = (1 to 1000).map(i => (i.toLong % 100, i.toDouble)).toDF("k", "v")
      val dims = (0 until 100).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
      Bucketing.writeBucketed(facts, "graft_facts", Seq("k"), 8)
      Bucketing.writeBucketed(dims, "graft_dims", Seq("k"), 8)
      val joined = Bucketing.bucketedJoin(spark, "graft_facts", "graft_dims", Seq("k"))
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"),
        s"bucketed join should be shuffle-free, got:\n$physical")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_facts")
      spark.sql("DROP TABLE IF EXISTS graft_dims")
    }
  }

  test("range-partitioned write produces disjoint per-file key ranges") {
    val dir = Files.createTempDirectory("graft_range").toString
    val df = (1 to 10000).map(i => ((i * 7919) % 10000L, i.toDouble))
      .toDF("k", "v")
    Bucketing.writeRangePartitioned(df, dir, numFiles = 4, sortCols = Seq("k"))
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length == 4, files.mkString(", "))
    // each file owns a contiguous, disjoint key range => parquet min/max
    // footer stats prune a point/range read to one file
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("k"), max("k")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) =>
        assert(hiA < loB, s"overlapping file ranges: ${ranges.mkString(", ")}")
      case _ =>
    }
    // nothing lost in the re-layout
    assert(spark.read.parquet(dir).count() == 10000)
  }

  test("zOrderValue interleaves bits (Morton order)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L))
      .toDF("x", "y")
    val z = df.select(Bucketing.zOrderValue(col("x"), col("y"), 3).as("z"))
      .as[Long].collect().toSeq
    // (x=3, y=5): x bits 011 -> odd positions, y bits 101 -> even positions
    // z = y0 + 2*x0 + 4*y1 + 8*x1 + 16*y2 + 32*x2 = 1 + 2 + 0 + 8 + 16 + 0
    assert(z == Seq(0L, 2L, 1L, 3L, 27L))
  }

  test("zOrderValue fails loudly out of range, passes nulls through") {
    val bad = Seq((64L, 0L)).toDF("x", "y")
      .select(Bucketing.zOrderValue(col("x"), col("y"), 6).as("z"))
    val e = intercept[Exception] { bad.collect() }
    assert(e.getMessage != null)
    val nulls = Seq((Some(1L), Option.empty[Long])).toDF("x", "y")
      .select(Bucketing.zOrderValue(col("x"), col("y"), 6).as("z"))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("upsert store swap survives the mid-swap crash window (recoverStore)") {
    val base = Files.createTempDirectory("graft_swap").toString
    val store = s"$base/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(store)
    // simulate a crash between the two moves: store renamed away, staging
    // never promoted
    java.nio.file.Files.move(
      new java.io.File(store).toPath, new java.io.File(store + ".old").toPath)
    assert(!new java.io.File(store).exists())
    EventStreams.recoverStore(store)
    assert(spark.read.parquet(store).count() == 1)
    // recovery is a no-op when the store is healthy
    EventStreams.recoverStore(store)
    assert(spark.read.parquet(store).count() == 1)
    // a stale .old left after a successful swap is cleared by the next swap
    Seq((2L, "b")).toDF("k", "v").write.parquet(store + ".old")
    Seq((3L, "c")).toDF("k", "v").write.parquet(store + ".staging")
    EventStreams.swapInStore(store + ".staging", store)
    assert(spark.read.parquet(store).select("k").as[Long].collect().toSeq == Seq(3L))
    assert(!new java.io.File(store + ".old").exists())
  }

  test("z-order layout prunes 2-D box queries better than linear sort") {
    val dir = Files.createTempDirectory("graft_zorder").toString
    val dirLin = Files.createTempDirectory("graft_linear").toString
    // 64x64 grid of points, both layouts into 16 files
    val pts = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong, (x * 64 + y).toDouble)).toDF("x", "y", "v")
    Bucketing.writeZOrdered(pts, dir, numFiles = 16, "x", "y", bits = 6)
    Bucketing.writeRangePartitioned(pts, dirLin, numFiles = 16, Seq("x", "y"))
    def filesIntersectingBox(d: String, lo: Int, hi: Int): Int = {
      val files = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      files.count { f =>
        val r = spark.read.parquet(f)
          .agg(min("x"), max("x"), min("y"), max("y")).head()
        !(r.getLong(1) < lo || r.getLong(0) > hi ||
          r.getLong(3) < lo || r.getLong(2) > hi)
      }
    }
    // an 8x8 box: z-order files have compact 2-D bboxes -> few intersect;
    // the linear layout slices only on x, every file spans all of y -> the
    // box's x-range hits ~ numFiles * 8/64 files PLUS each spans full y
    val zHits = filesIntersectingBox(dir, 24, 31)
    val linHits = filesIntersectingBox(dirLin, 24, 31)
    assert(zHits < linHits,
      s"z-order should prune better: z=$zHits linear=$linHits")
    assert(zHits <= 4, s"8x8 box in a 64x64/16-file z-layout hit $zHits files")
    // both layouts preserve the data
    assert(spark.read.parquet(dir).count() == 64 * 64)
  }

  test("foreachBatch upsert store: incremental merge, keep-last per key, idempotent rerun") {
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("graft_upsert").toString
    val (in, store, ckpt) = (s"$base/in", s"$base/store", s"$base/ckpt")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("ts", LongType),
      StructField("v", StringType)))
    def run(): Unit = {
      val q = EventStreams.upsertAvailableNow(spark, in, store, ckpt,
        schema, keyCols = Seq("k"), tsCol = "ts")
      q.awaitTermination(); ()
    }
    def storeRows(): Set[(Long, Long, String)] =
      spark.read.parquet(store).as[(Long, Long, String)].collect().toSet

    Seq((1L, 10L, "a"), (2L, 10L, "b"), (1L, 11L, "a2"))
      .toDF("k", "ts", "v").write.parquet(s"$in/batch1")
    run()
    assert(storeRows() == Set((1L, 11L, "a2"), (2L, 10L, "b")))

    // late update for k=1, new key k=3; stale row (ts 5) must lose
    Seq((1L, 12L, "a3"), (3L, 10L, "c"), (2L, 5L, "stale"))
      .toDF("k", "ts", "v").write.parquet(s"$in/batch2")
    run()
    assert(storeRows() == Set((1L, 12L, "a3"), (2L, 10L, "b"), (3L, 10L, "c")))

    // nothing new pending: rerun is a no-op (idempotent restart)
    run()
    assert(storeRows() == Set((1L, 12L, "a3"), (2L, 10L, "b"), (3L, 10L, "c")))
  }

  test("streaming materialized aggregate: incremental fold equals one-shot, replay-safe") {
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("graft_aggstore").toString
    val (in, store, ckpt) = (s"$base/in", s"$base/store", s"$base/ckpt")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    def run(): Unit = {
      val q = EventStreams.aggregateStoreAvailableNow(spark, in, store, ckpt,
        schema, keyCols = Seq("k"), measure = "v")
      q.awaitTermination(); ()
    }
    def result(): Map[Long, (Double, Long, Double, Double, Double)] =
      graft.core.IncrementalAgg.finalizeState(spark.read.parquet(store), "v")
        .as[(Long, Double, Long, Double, Double, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap

    Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("k", "v").write.parquet(s"$in/b1")
    run()
    assert(result() == Map(1L -> ((30.0, 2L, 10.0, 20.0, 15.0)),
      2L -> ((5.0, 1L, 5.0, 5.0, 5.0))))

    // snapshot the checkpoint BEFORE b2 so the replay scenario below can
    // roll back to it (same lineage, earlier committed offset)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(ckpt), new java.io.File(s"$base/ckpt_snapshot"))

    // second delivery folds WITHOUT re-reading the first
    Seq((1L, 30.0), (3L, 7.0)).toDF("k", "v").write.parquet(s"$in/b2")
    run()
    val wantAfterB2 = Map(1L -> ((60.0, 3L, 10.0, 30.0, 20.0)),
      2L -> ((5.0, 1L, 5.0, 5.0, 5.0)), 3L -> ((7.0, 1L, 7.0, 7.0, 7.0)))
    assert(result() == wantAfterB2)

    // restart with nothing pending: no double-count
    run()
    assert(result() == wantAfterB2)

    // SAME-LINEAGE replay: roll the checkpoint back to its pre-b2
    // snapshot (simulates the commit-after-swap crash window). The stream
    // re-delivers b2 under the same lineage with the same batch id; the
    // _batch_id marker must skip it — folding again would double-count.
    val markerBefore = EventStreams.readBatchMarker(store)
    assert(markerBefore.exists(_._2 >= 0L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$base/ckpt_snapshot"), new java.io.File(ckpt))
    run() // re-delivers b2 as the same lineage + batch id
    assert(EventStreams.readBatchMarker(store) == markerBefore)
    assert(result() == wantAfterB2, "replayed batches must not double-count")

    // CROSS-LINEAGE guard: a REBUILT checkpoint restarts batch numbering,
    // so the marker is incomparable — the query must fail loudly instead
    // of silently skipping (drops new data) or folding (double-counts)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    Seq((4L, 1.0)).toDF("k", "v").write.parquet(s"$in/b3")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    def causeChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causeChain(ex).exists(c =>
      c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("checkpoint lineage")))
    assert(result() == wantAfterB2, "a failed guard must leave the store untouched")
  }

  test("mapGroupsWithState keeps running per-user profiles across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.EventIn]
    val q = EventStreams.userProfiles(stream.toDS())
      .writeStream.format("memory").queryName("profiles_test")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(
        EventStreams.EventIn(1L, java.sql.Timestamp.valueOf("2024-01-01 05:00:00"), "click", 10.0),
        EventStreams.EventIn(1L, java.sql.Timestamp.valueOf("2024-01-01 05:01:00"), "purchase", 99.0))
      q.processAllAvailable()
      // second micro-batch: state must carry the first batch's counts
      stream.addData(
        EventStreams.EventIn(1L, java.sql.Timestamp.valueOf("2024-01-01 05:02:00"), "purchase", 1.0))
      q.processAllAvailable()
      val last = spark.table("profiles_test")
        .orderBy(col("n_events").desc).collect()(0)
      assert(last.getAs[Long]("n_events") == 3L)
      assert(last.getAs[Long]("n_purchases") == 2L)
      assert(math.abs(last.getAs[Double]("total_value") - 110.0) < 1e-9)
    } finally q.stop()
  }

  test("AvailableNow file-stream processes a parquet directory then stops") {
    val dir = Files.createTempDirectory("graft-stream")
    val input = dir.resolve("in").toString
    val output = dir.resolve("out").toString
    val ckpt = dir.resolve("ckpt").toString
    val events = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 05:10:00"), 1L, "click", 10.0),
      (java.sql.Timestamp.valueOf("2024-01-01 06:20:00"), 2L, "view", 5.0))
      .toDF("ts", "user_id", "event_type", "value")
    events.write.parquet(input)
    val q = EventStreams.runAvailableNow(spark, input, output, ckpt,
      events.schema)(EventStreams.hourlyByType(_, withWatermark = true))
    q.awaitTermination(60000)
    // append-mode windows flush when the stream ends (AvailableNow finalizes)
    val out = spark.read.parquet(output)
    assert(out.columns.toSet ==
      Set("window_start", "event_type", "n", "sum_value"))
    // rerun with same checkpoint: no new data, no duplicate output
    val n1 = out.count()
    val q2 = EventStreams.runAvailableNow(spark, input, output, ckpt,
      events.schema)(EventStreams.hourlyByType(_, withWatermark = true))
    q2.awaitTermination(60000)
    assert(spark.read.parquet(output).count() == n1)
  }
}
