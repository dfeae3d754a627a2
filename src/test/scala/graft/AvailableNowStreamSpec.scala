package graft

import graft.streaming.EventStreams
import java.nio.file.Files

/** The file-source `Trigger.AvailableNow` driver ([[EventStreams.runAvailableNow]]). */
class AvailableNowStreamSpec extends SparkSpec {
  import spark.implicits._

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
