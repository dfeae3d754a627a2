package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.CountMin
import graft.queries.TextVector14

/** Construction pins for the Zipf / span-corruption / sparse-retrieval /
  * streaming-CMS batch. */
class TextVector14Spec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("tv14").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events")) {
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(s"$d/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    val docs = Seq(
      // doc 0/1: identical → d79 must retrieve each other at cos 1
      (0L, "alpha beta gamma", "en", "srcA", 16L),
      (1L, "alpha beta gamma", "en", "srcA", 16L),
      (2L, "alpha alpha alpha alpha delta", "en", "srcB", 29L),
      // doc 3: 25 tokens → exactly one corruption span
      (3L, (1 to 25).map(_ => "w").mkString(" "), "en", "srcB", 49L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("d77: OLS slope/intercept/r2 replayed by hand on the fixture vocabulary") {
    // vocab counts: w=25, alpha=6, beta=2, gamma=2, delta=1 →
    // ranks 1..5 by (cnt desc, token asc): w, alpha, beta, gamma, delta
    val cnts = Seq(25.0, 6.0, 2.0, 2.0, 1.0)
    val x = cnts.indices.map(i => math.log(i + 1.0))
    val y = cnts.map(math.log)
    val n = cnts.size.toDouble
    val (sx, sy) = (x.sum, y.sum)
    val (sxy, sxx, syy) = (x.zip(y).map(p => p._1 * p._2).sum,
      x.map(v => v * v).sum, y.map(v => v * v).sum)
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val r = TextVector14.d77.fn(spark, dir).head()
    assert(r.getLong(0) == 5L)
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r.getDouble(1) - r6(-slope)) < 2e-6, s"alpha ${r.getDouble(1)} vs ${-slope}")
    assert(math.abs(r.getDouble(2) - r6((sy - slope * sx) / n)) < 2e-6)
    val r2 = (n * sxy - sx * sy) * (n * sxy - sx * sy) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(math.abs(r.getDouble(3) - r6(r2)) < 2e-6)
  }

  test("d78: spans are in-bounds, non-overlapping, 3 tokens apart per segment, " +
    "and the md5 offset replays in the JVM") {
    val rows = TextVector14.d78.fn(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    rows.groupBy(_._1).foreach { case (_, g) =>
      val spans = g.sortBy(_._2).map(_._5).toSeq
      spans.sliding(2).foreach {
        case Seq(a, b) => assert(b >= a + 3, "spans must not overlap")
        case _ =>
      }
      g.foreach { case (_, idx, n, nSpans, start) =>
        assert(start >= 1 && start + 2 <= n, s"span [$start,${start + 2}] out of 1..$n")
        assert(idx >= 1 && idx <= nSpans)
      }
    }
    // doc 3: n=25 → n_spans=1, seg_len=25, off = md5("3:1") % 23
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("3:1".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val off = java.lang.Long.parseLong(hex, 16) % 23
    val d3 = rows.filter(_._1 == 3L)
    assert(d3.length == 1 && d3.head._5 == 1 + off,
      s"doc 3 span_start must be ${1 + off}, got ${d3.map(_._5).toSeq}")
  }

  test("d79: an identical twin is the top retrieval at cosine 1") {
    val rows = TextVector14.d79.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // only query: doc 0 (doc_id % 100 == 0); doc 1 is its exact copy
    val top = rows.filter(r => r._1 == 0L && r._2 == 1).head
    assert(top._3 == 1L && top._4 == 1.0,
      s"identical doc must rank first at cos 1.0: $top")
  }

  test("s10: the CMS streamed over micro-batches equals the batch sketch " +
    "(counter addition IS the merge)") {
    implicit val sqlCtx = spark.sqlContext
    def userKeys(events: org.apache.spark.sql.DataFrame) =
      events.select(col("user_id").cast("string").as("user_key"))
    val ev = (1 to 200).map(i =>
      Ev(java.sql.Timestamp.valueOf("2024-01-01 05:00:00"), (i % 17).toLong,
        "click", 1.0))
    val stream = MemoryStream[Ev]
    val q = CountMin.sketch(userKeys(stream.toDF()), "user_key", 4, 8)
      .writeStream.format("memory").queryName("cms_test")
      .outputMode(OutputMode.Complete).start()
    try {
      stream.addData(ev.take(77): _*)
      q.processAllAvailable()
      stream.addData(ev.drop(77): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cms_test").orderBy("seed", "bucket")
      .collect().map(_.toSeq)
    val batch = CountMin.sketch(userKeys(ev.toDF()), "user_key", 4, 8)
      .orderBy("seed", "bucket").collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq,
      "two-delivery streamed counters must equal the one-shot batch sketch")
  }
}
