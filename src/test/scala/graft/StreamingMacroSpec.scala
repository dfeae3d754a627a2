package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventStreams
import graft.pipeline.MacroPipeline

case class Ev(ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingMacroSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def d(s: String) = java.sql.Date.valueOf(s)

  test("streaming hourly agg over MemoryStream matches the batch transform") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Ev(ts("2024-01-01 05:10:00"), 1, "click", 10.0),
      Ev(ts("2024-01-01 05:40:00"), 2, "click", 20.0),
      Ev(ts("2024-01-01 06:05:00"), 1, "view", 5.0))
    val stream = MemoryStream[Ev]
    stream.addData(events: _*)
    val q = EventStreams.hourlyByType(stream.toDF(), withWatermark = true)
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; advance the clock
      stream.addData(Ev(ts("2024-01-01 09:00:00"), 9, "late", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hourly_test")
      .select("window_start", "event_type", "n", "sum_value")
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq)
    val batch = EventStreams.hourlyByType(events.toDF(), withWatermark = false)
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
  }

  private def macroRow(country: String, dt: String, gdp: Double, gdpPc: Double,
                       infl: Double, unemp: Double, cons: Double, exp: Double) =
    (country, d(dt), gdp, gdpPc, infl, unemp, cons, exp)

  test("macro features: YoY on backfilled year, inflation difference, /100 conversion") {
    val raw = Seq(
      macroRow("DEU", "2021-12-31", 100.0, 50.0, 2.0, 5.0, 52.0, 40.0),
      macroRow("DEU", "2022-12-31", 110.0, 55.0, 3.0, 5.5, 53.0, 41.0),
      macroRow("DEU", "2023-12-31", 121.0, 60.5, 4.0, 6.0, 54.0, 42.0),
      macroRow("DEU", "2024-12-31", 130.0, 65.0, 3.5, 5.8, 55.0, 43.0))
      .toDF("country", "date", "GDP (USD)", "GDP per Capita (const USD)",
        "Inflation (%)", "Unemployment (%)", "Private Consumption (% GDP)",
        "Exports (% GDP)")
    val grid = Seq(("DEU", 2024)).toDF("country", "as_of_year")
    val row = MacroPipeline.features(grid, raw, todayYear = 2026).collect()(0)
    val m = row.getValuesMap[Any](MacroPipeline.outputCols)
    assert(m("as_of_year") == 2024 && m("backfilled_year") == 2023)
    // gdp yoy on 2023 vs 2022: (121-110)/110
    assert(m("gdp_yoy_backfilled").asInstanceOf[Double] ~= (11.0 / 110.0, 1e-12))
    // inflation latest = 2024 value / 100; yoy = (3.5 - 4.0)/100
    assert(m("inflation_latest").asInstanceOf[Double] ~= 0.035)
    assert(m("inflation_yoy").asInstanceOf[Double] ~= (-0.005, 1e-12))
    assert(m("unemployment_latest").asInstanceOf[Double] ~= 0.058)
    // consumption/exports from the backfilled year (2023)
    assert(m("consumption_backfilled").asInstanceOf[Double] ~= 0.54)
    assert(m("exports_backfilled").asInstanceOf[Double] ~= 0.42)
  }

  test("macro: current-year as_of downshifts a year") {
    val raw = Seq(
      macroRow("FRA", "2023-12-31", 100.0, 50.0, 2.0, 5.0, 52.0, 40.0),
      macroRow("FRA", "2024-12-31", 110.0, 55.0, 3.0, 5.5, 53.0, 41.0),
      macroRow("FRA", "2025-12-31", 121.0, 60.5, 4.0, 6.0, 54.0, 42.0))
      .toDF("country", "date", "GDP (USD)", "GDP per Capita (const USD)",
        "Inflation (%)", "Unemployment (%)", "Private Consumption (% GDP)",
        "Exports (% GDP)")
    val grid = Seq(("FRA", 2026)).toDF("country", "as_of_year")
    val row = MacroPipeline.features(grid, raw, todayYear = 2026).collect()(0)
    assert(row.getAs[Int]("as_of_year") == 2025)
    assert(row.getAs[Int]("backfilled_year") == 2024)
  }

  test("macro: incomplete year (NaN features) is dropped") {
    val raw = Seq(macroRow("ITA", "2023-12-31", 100.0, 50.0, 2.0, 5.0, 52.0, 40.0))
      .toDF("country", "date", "GDP (USD)", "GDP per Capita (const USD)",
        "Inflation (%)", "Unemployment (%)", "Private Consumption (% GDP)",
        "Exports (% GDP)")
    val grid = Seq(("ITA", 2024)).toDF("country", "as_of_year")
    assert(MacroPipeline.features(grid, raw, todayYear = 2026).count() == 0)
  }

  test("date normalization: clean casts pass, messy strings salvage via regex") {
    val df = Seq("2023-07-15", "2023/07/15", "year 2023 month 7 day 5", "garbage")
      .toDF("raw")
    val out = df.select(MacroPipeline.normalizeDateColumn(col("raw")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDate(0).toString)
    assert(out(0) == "2023-07-15")
    assert(out(1) == "2023-07-15")
    assert(out(2) == "2023-07-05")
    assert(out(3) == null)
  }

  test("legacy store repair injects empty validation columns") {
    import graft.pipeline.TickerFeaturePipeline
    val legacy = Seq(("T", 1.0f)).toDF("ticker", "6m_return")
    val repaired = TickerFeaturePipeline.repairLegacyStore(legacy)
    assert(repaired.columns.contains("validation_status"))
    assert(repaired.select("violations").as[String].head() == "")
    // already-repaired frames pass through unchanged
    assert(TickerFeaturePipeline.repairLegacyStore(repaired).columns.length ==
      repaired.columns.length)
  }

  test("macro replaceYears: overwrite matching (country, year), keep others") {
    val store = Seq(("DEU", 2023, 0.1), ("DEU", 2024, 0.2), ("FRA", 2024, 0.3))
      .toDF("country", "as_of_year", "gdp_yoy_backfilled")
    val fresh = Seq(("DEU", 2024, 0.9)).toDF("country", "as_of_year", "gdp_yoy_backfilled")
    val out = MacroPipeline.replaceYears(store, fresh, Seq("country", "as_of_year"))
      .orderBy("country", "as_of_year")
      .select("country", "as_of_year", "gdp_yoy_backfilled")
      .as[(String, Int, Double)].collect()
    assert(out.toSeq == Seq(("DEU", 2023, 0.1), ("DEU", 2024, 0.9), ("FRA", 2024, 0.3)))
  }
}
