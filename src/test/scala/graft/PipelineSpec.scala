package graft

import org.apache.spark.sql.functions._
import graft.features.{TickerFeatures, TickerStatics}
import graft.pipeline.TickerFeaturePipeline
import java.nio.file.Files

/** End-to-end incremental maintenance: grid -> gate -> features -> validate
  * -> normalize -> merge -> partitioned store, then a second run that
  * anti-joins away existing cells (B2) and leaves the store unchanged. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  private def mkInputs: TickerFeatures.Inputs = {
    val days = (0 until 300).map(java.time.LocalDate.of(2022, 6, 1).plusDays(_))
    val prices = (for {
      t <- Seq("AAA", "BBB")
      (day, i) <- days.zipWithIndex
    } yield (t, java.sql.Date.valueOf(day), 100.0 + i * 0.05 + (if (t == "BBB") 20 else 0)))
      .toDF("ticker", "date", "close")
    val dividends = Seq(("AAA", d("2022-09-01"), 1.0), ("AAA", d("2023-03-01"), 1.1))
      .toDF("ticker", "date", "dividend")
    val splits = Seq.empty[(String, java.sql.Date, Double)]
      .toDF("ticker", "date", "split_ratio")
    val ratios = Seq(
      ("AAA", d("2022-12-31"), 15.0, 14.0, 0.4, 0.03, 2.0),
      ("AAA", d("2023-03-31"), 16.0, 15.0, 0.4, 0.032, 2.1),
      ("BBB", d("2022-12-31"), 22.0, 20.0, 0.3, 0.01, 3.0))
      .toDF("ticker", "date", "priceEarningsRatio", "priceToFreeCashFlowsRatio",
        "payoutRatio", "dividendYield", "freeCashFlowPerShare")
    val income = Seq(
      ("AAA", d("2022-12-31"), 2.0, 500.0, 50.0, 30.0, 600.0),
      ("BBB", d("2022-12-31"), 3.0, 800.0, 10.0, 40.0, 900.0))
      .toDF("ticker", "date", "eps", "incomeBeforeTax", "interestExpense",
        "depreciationAndAmortization", "operatingIncome")
    val balance = Seq(
      ("AAA", d("2022-12-31"), 100.0, 400.0),
      ("BBB", d("2022-12-31"), 150.0, 300.0))
      .toDF("ticker", "date", "cashAndShortTermInvestments", "totalDebt")
    // one statement table: AAA's 2023-03-31 ratio row carries no income
    // or balance columns
    val statements = ratios.join(income, Seq("ticker", "date"), "full")
      .join(balance, Seq("ticker", "date"), "full")
    TickerFeatures.Inputs(prices, dividends, splits, statements)
  }

  /** Both tickers track one market ETF, a daily series over the price days. */
  private val spyMap = Seq(("AAA", "SPY"), ("BBB", "SPY")).toDF("ticker", "etf")
  private def spyIndex = (0 until 300).map { i =>
    ("SPY", java.sql.Date.valueOf(java.time.LocalDate.of(2022, 6, 1).plusDays(i)), 50.0 + i * 0.01)
  }.toDF("etf", "date", "close")

  test("full pipeline run, partitioned store write, incremental no-op rerun") {
    val in = mkInputs
    val tickers = Seq("AAA", "BBB").toDF("ticker")
    val grid = TickerFeaturePipeline.grid(spark, tickers, "2023-03-31", 1)

    // first run: empty store
    val first = TickerFeaturePipeline.run(grid, in, spyMap, spyIndex,
      existing = None)
    val rows = first.collect()
    assert(rows.length == 2) // both tickers pass the 260-day gate
    assert(first.columns.contains("validation_status"))
    assert(first.schema("6m_return").dataType.typeName == "float") // round2f32

    // persisted partitioned store
    val store = Files.createTempDirectory("graft-store").resolve("hist").toString
    val hash1 = TickerFeaturePipeline.writeStore(first, store)
    val readBack = spark.read.parquet(store)
    assert(readBack.count() == 2)
    assert(readBack.columns.contains("ticker")) // partition column survives

    // partition pruning: a single-ticker read plans with PartitionFilters
    // on the ticker partition column (the per-ticker reader path at scale)
    val pruned = spark.read.parquet(store).filter(col("ticker") === "AAA")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("AAA"),
      s"expected partition pruning in:\n$scan")
    assert(pruned.count() == 1)

    // second run against the store: B2 anti-join leaves nothing to compute
    val second = TickerFeaturePipeline.run(grid, in, spyMap, spyIndex,
      existing = Some(readBack))
    assert(second.count() == 2) // merged store is unchanged
    val hash2 = TickerFeaturePipeline.contentHash(
      second.select(first.columns.map(col): _*))
    val hash1Again = TickerFeaturePipeline.contentHash(
      readBack.select(first.columns.map(col): _*))
    assert(hash2 == hash1Again)
  }

  test("merge: new rows win over store rows per (ticker, as_of)") {
    val store = Seq(("AAA", d("2023-03-31"), 1.0f, "ok", ""))
      .toDF("ticker", "as_of", "6m_return", "validation_status", "violations")
    val fresh = Seq(("AAA", d("2023-03-31"), 9.0f, "ok", ""))
      .toDF("ticker", "as_of", "6m_return", "validation_status", "violations")
    val merged = TickerFeaturePipeline.merge(store, fresh)
    assert(merged.count() == 1)
    assert(merged.select("6m_return").as[Float].head() == 9.0f)
  }

  test("reference quirk: any case of technology/it one-hots as sector_other") {
    // the reference's alias normalization rewrites technology/it (case-
    // insensitive) to "Information Technology", which is NOT in ALL_SECTORS
    // — so even the exact vocab value "Technology" lands in the other
    // bucket (verified against _encode_one_hot).
    val profile = Seq(("T1", "Technology", "USA"), ("T2", "technology", "USA"),
      ("T3", "it", "USA"), ("T4", "Information Technology", "USA"))
      .toDF("ticker", "sector", "country")
    val rows = TickerStatics.staticRows(profile).orderBy("ticker")
      .select("sector_technology", "sector_other").as[(Int, Int)].collect()
    rows.foreach { case (tech, other) => assert(tech == 0 && other == 1) }
  }

  test("sector -> ETF lookup with SPY fallback (S7)") {
    val profile = Seq(("AAA", "Technology", "USA"), ("BBB", "Basic Materials", "UK"),
      ("CCC", "Consumer Staples", "DE"))
      .toDF("ticker", "sector", "country")
    val out = TickerStatics.etfSymbol(profile).orderBy("ticker")
      .select("etf").as[String].collect()
    // raw "Consumer Staples" is unnormalized (the reference's shadowed-
    // function quirk) -> SPY fallback
    assert(out.toSeq == Seq("XLK", "XLB", "SPY"))
  }

  test("S7 flow: per-ticker sector index series via ETF lookup join") {
    // profile -> etfSymbol -> the engine's ticker→ETF map over one compact
    // ETF index: XLE gains 10% over the window, SPY 100%
    val profile = Seq(("AAA", "Energy", "USA"), ("BBB", "Nonsense", "UK"))
      .toDF("ticker", "sector", "country")
    val tickerEtf = TickerStatics.etfSymbol(profile)
    assert(tickerEtf.orderBy("ticker").as[(String, String)].collect().toSeq ==
      Seq(("AAA", "XLE"), ("BBB", "SPY"))) // unknown sector -> SPY fallback
    val etfIndex = Seq(
      ("XLE", d("2022-06-01"), 10.0), ("XLE", d("2023-03-31"), 11.0),
      ("SPY", d("2022-06-01"), 99.0), ("SPY", d("2023-03-31"), 198.0))
      .toDF("etf", "date", "close")
    val grid = Seq(("AAA", d("2023-03-31")), ("BBB", d("2023-03-31"))).toDF("ticker", "as_of")
    val out = TickerFeatures.dynamicFeaturesSharedIndex(grid, mkInputs, tickerEtf, etfIndex,
        minPriceRows = 0, seriesPriceBlock = false)
      .orderBy("ticker").select("sector_relative_6m").as[Double].collect()
    // stock legs: the first and last of 300 daily closes 100 + i*0.05 (+20 for BBB)
    assert(out(0) ~= ((100.0 + 299 * 0.05) / 100.0 - 1 - 0.1, 1e-9))  // vs XLE
    assert(out(1) ~= ((120.0 + 299 * 0.05) / 120.0 - 1 - 1.0, 1e-9)) // vs SPY
  }

  test("static upsert + OHE projection") {
    val profile = Seq(("AAA", "Energy", "USA"), ("BBB", "Unknown Sector", "Atlantis"))
      .toDF("ticker", "sector", "country")
    val static = TickerStatics.staticRows(profile)
    val row = static.filter(col("ticker") === "AAA").collect()(0)
    assert(row.getAs[Int]("sector_energy") == 1)
    assert(row.getAs[Int]("country_usa") == 1)
    val other = static.filter(col("ticker") === "BBB").collect()(0)
    assert(other.getAs[Int]("sector_other") == 1)
    assert(other.getAs[Int]("country_other") == 1)

    val updated = TickerStatics.staticRows(
      Seq(("BBB", "Energy", "UK")).toDF("ticker", "sector", "country"))
    val upserted = TickerFeaturePipeline.mergeStatic(static, updated)
    assert(upserted.count() == 2)
    assert(upserted.filter(col("ticker") === "BBB")
      .select("sector_energy").as[Int].head() == 1)

    val ohe = TickerFeaturePipeline.oheProjection(upserted)
    assert(ohe.columns.forall(c => c == "ticker" ||
      c.startsWith("sector_") || c.startsWith("country_")))
    assert(ohe.schema.fields.filter(_.name != "ticker")
      .forall(_.dataType.typeName == "float"))
  }

  test("p1 yearly statement inputs do not depend on join strategy or partitioning") {
    // the orders⨝liAgg join feeding p1's yearly aggregate runs as a
    // broadcast or a sort-merge join; each delivers rows to the sums in a
    // different order, and p1's violations text prints the ratios built
    // from those sums at full precision. The same holds for the built
    // features' volatility, which violations also prints when out of range.
    val dir = s"${sys.props("user.home")}/testdata/sf0.001"
    def build(conf: (String, String)*) = {
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      val in = graft.queries.Pipeline.inputsForProbe(s, dir)
      val features = graft.queries.Pipeline.p1Validated(s, dir)
        .select("ticker", "as_of", "volatility", "violations")
      (in.statements.orderBy("ticker", "date").collect().toSeq,
        features.orderBy("ticker", "as_of").collect().toSeq)
    }
    val (broadcast, broadcastFeatures) = build("spark.sql.shuffle.partitions" -> "3")
    val (sortMerge, sortMergeFeatures) = build(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "7")
    assert(broadcast.nonEmpty)
    assert(broadcast == sortMerge)
    assert(broadcastFeatures.nonEmpty &&
      broadcastFeatures.size == sortMergeFeatures.size)
    val differing = broadcastFeatures.zip(sortMergeFeatures).filter { case (a, b) => a != b }
    assert(differing.isEmpty,
      s"${differing.size} feature rows differ, e.g. ${differing.take(2).mkString("; ")}")
  }
}
