package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.features.TickerFeatures

/** Golden values ported 1:1 from the reference's pytest suite
  * (tests/dataprep/features/engineering/) — they pin the 0.0/NaN/null
  * conventions of every feature (SURVEY §5 item 1).
  */
class TickerFeaturesSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  private def gridAt(asOf: String): DataFrame =
    Seq(("T", d(asOf))).toDF("ticker", "as_of")

  private def prices(rows: (String, Double)*): DataFrame =
    rows.map { case (dt, c) => ("T", d(dt), c) }.toDF("ticker", "date", "close")

  private def priceRow(name: String, grid: DataFrame, p: DataFrame): Double =
    TickerFeatures.priceBlock(grid, p).select(name).as[Double].head()

  /** The S7 sector side of the single-ticker specs: T is measured against
    * ETF X, whose index rows are `rows` (date, close). */
  private def etfX(rows: (String, Double)*): DataFrame =
    rows.map { case (dt, c) => ("X", d(dt), c) }.toDF("etf", "date", "close")

  /** The engine entry with T → X, no history gate, grid price form. */
  private def features(grid: DataFrame, in: TickerFeatures.Inputs,
                       etfIndex: DataFrame): DataFrame =
    TickerFeatures.dynamicFeaturesSharedIndex(grid, in,
      Seq(("T", "X")).toDF("ticker", "etf"), etfIndex,
      minPriceRows = 0, seriesPriceBlock = false)

  /** Inputs with T's price series `p` and every other input empty. */
  private def priceOnly(p: DataFrame): TickerFeatures.Inputs = TickerFeatures.Inputs(
    prices = p,
    dividends = Seq.empty[(String, java.sql.Date, Double)].toDF("ticker", "date", "dividend"),
    splits = Seq.empty[(String, java.sql.Date, Double)].toDF("ticker", "date", "split_ratio"),
    ratios = ratios(),
    income = Seq.empty[(String, java.sql.Date, Double, Double)]
      .toDF("ticker", "date", "eps", "incomeBeforeTax"),
    balance = Seq.empty[(String, java.sql.Date, Double)].toDF("ticker", "date", "totalDebt"))

  test("6m return: 100 -> 120 = 0.2 (test_compute_6m_return)") {
    val p = prices("2024-01-01" -> 100.0, "2024-07-01" -> 120.0)
    assert(priceRow("6m_return", gridAt("2024-07-01"), p) ~= (0.2, 1e-9))
  }

  test("6m return precise dates: (211.26-228)/228 (test_compute_6m_return_precise_date)") {
    val p = prices("2024-11-17" -> 228.0, "2025-05-17" -> 211.26)
    val expected = (211.26 - 228.0) / 228.0
    assert(priceRow("6m_return", gridAt("2025-05-17"), p) ~= (expected, 1e-9))
  }

  test("12m return: 100 -> 130 = 0.3 (test_compute_12m_return)") {
    val p = prices("2023-07-01" -> 100.0, "2024-07-01" -> 130.0)
    assert(priceRow("12m_return", gridAt("2024-07-01"), p) ~= (0.3, 1e-9))
  }

  test("6m return with no past price defaults to 0.0") {
    val p = prices("2024-06-30" -> 100.0, "2024-07-01" -> 120.0)
    assert(priceRow("6m_return", gridAt("2024-07-01"), p) ~= 0.0)
  }

  test("max drawdown basic: peak 150 trough 90 = 0.4 (test_compute_max_drawdown_basic)") {
    val p = prices("2023-01-01" -> 100.0, "2023-06-01" -> 150.0, "2023-12-31" -> 90.0)
    assert(priceRow("max_drawdown_1y", gridAt("2023-12-31"), p) ~= ((150.0 - 90.0) / 150.0, 1e-9))
  }

  test("max drawdown multi-peak within window: 120 -> 80 = 1/3") {
    val closes = Seq(50.0, 100.0, 110.0, 95.0, 120.0, 80.0, 90.0, 130.0, 125.0)
    val p = prices(closes.zipWithIndex.map { case (c, i) =>
      f"2023-${i + 1}%02d-01" -> c
    }: _*)
    assert(priceRow("max_drawdown_1y", gridAt("2023-12-31"), p) ~= (1.0 / 3.0, 1e-9))
  }

  test("drawdown window honors the 365+15d grace boundary") {
    // crash at end-381d is OUTSIDE the [end-380, end] window; the in-window
    // series only has a (100 -> 95) dip.
    val end = java.time.LocalDate.of(2024, 12, 31)
    val p = prices(
      end.minusDays(381).toString -> 200.0, // excluded peak+crash source
      end.minusDays(380).toString -> 100.0, // window start (inclusive)
      end.minusDays(100).toString -> 95.0,
      end.toString -> 96.0)
    val dd = priceRow("max_drawdown_1y", gridAt(end.toString), p)
    assert(dd ~= ((100.0 - 95.0) / 100.0, 1e-9))
    // one day later the 200 peak enters the window: dd from 200 -> 95
    val p2 = prices(
      end.minusDays(380).toString -> 200.0,
      end.minusDays(100).toString -> 95.0,
      end.toString -> 96.0)
    assert(priceRow("max_drawdown_1y", gridAt(end.toString), p2) ~=
      ((200.0 - 95.0) / 200.0, 1e-9))
  }

  test("volatility equals stddev(daily returns) * sqrt(252)") {
    val p = prices("2024-01-01" -> 100.0, "2024-01-02" -> 101.0, "2024-01-03" -> 102.0)
    val r1 = 101.0 / 100.0 - 1
    val r2 = 102.0 / 101.0 - 1
    val mean = (r1 + r2) / 2
    val sd = math.sqrt((math.pow(r1 - mean, 2) + math.pow(r2 - mean, 2)) / 1)
    assert(priceRow("volatility", gridAt("2024-01-03"), p) ~= (sd * math.sqrt(252.0), 1e-9))
  }

  test("volatility of a single price is 0.0") {
    val p = prices("2024-01-01" -> 100.0)
    assert(priceRow("volatility", gridAt("2024-01-03"), p) ~= 0.0)
  }

  test("sma 50/200 delta on 250-day ramp ~= 0.065 (test_compute_sma_delta_with_enough_data)") {
    val p = prices((0 until 250).map { i =>
      java.time.LocalDate.of(2023, 1, 1).plusDays(i).toString -> (100.0 + i * 0.1)
    }: _*)
    val sma50 = (0 until 50).map(i => 100.0 + (200 + i) * 0.1).sum / 50
    val sma200 = (0 until 200).map(i => 100.0 + (50 + i) * 0.1).sum / 200
    val expected = (sma50 - sma200) / sma200
    assert(priceRow("sma_50_200_delta", gridAt("2023-12-31"), p) ~= (expected, 1e-9))
  }

  test("sma delta with all-zero closes is 0.0 (zero-division guard)") {
    val p = prices((0 until 200).map { i =>
      java.time.LocalDate.of(2023, 1, 1).plusDays(i).toString -> 0.0
    }: _*)
    assert(priceRow("sma_50_200_delta", gridAt("2023-12-31"), p) ~= 0.0)
  }

  test("sma delta with <200 rows is null (reference raises; gate filters)") {
    val p = prices("2023-01-01" -> 1.0, "2023-01-02" -> 2.0)
    val row = TickerFeatures.priceBlock(gridAt("2023-12-31"), p)
      .select("sma_50_200_delta").collect()(0)
    assert(row.isNullAt(0))
  }

  test("sector relative return (365d window): (120/100) - (210/200) = 0.15") {
    val stock = prices("2023-07-05" -> 100.0, "2024-01-01" -> 120.0)
    val etf = etfX("2023-07-05" -> 200.0, "2024-01-01" -> 210.0)
    val out = features(gridAt("2024-01-01"), priceOnly(stock), etf)
      .select("sector_relative_6m").as[Double].head()
    assert(out ~= (0.15, 1e-9))
  }

  test("sector relative return with <2 sector rows is 0.0") {
    val stock = prices("2023-07-05" -> 100.0, "2024-01-01" -> 120.0)
    val etf = etfX("2024-01-01" -> 210.0)
    val out = features(gridAt("2024-01-01"), priceOnly(stock), etf)
      .select("sector_relative_6m").as[Double].head()
    assert(out ~= 0.0)
  }

  private def income(rows: (String, Double)*): DataFrame =
    rows.map { case (dt, e) => ("T", d(dt), e) }.toDF("ticker", "date", "eps")

  test("eps CAGR: [2.0 .. 4.0] over 3y = 2^(1/3)-1 (test_compute_cagr_basic)") {
    val inc = income("2021-01-01" -> 2.0, "2022-01-01" -> 2.5,
      "2023-01-01" -> 3.0, "2024-01-01" -> 4.0)
    val out = TickerFeatures.incomeGrowthBlock(gridAt("2024-01-01"), inc)
      .select("eps_cagr_3y").as[Double].head()
    assert(out ~= (math.pow(2.0, 1.0 / 3) - 1, 1e-9))
  }

  test("eps CAGR single point is NaN (insufficient data)") {
    val inc = income("2024-01-01" -> 2.0)
    val out = TickerFeatures.incomeGrowthBlock(gridAt("2024-01-01"), inc)
      .select("eps_cagr_3y").as[Double].head()
    assert(out.isNaN)
  }

  test("eps CAGR grace-window miss is NaN") {
    // 3y lookback from 2024 lands at 2021 +/- 90d; earliest row is 2022.
    val inc = income("2022-01-01" -> 2.0, "2023-01-01" -> 2.5, "2024-01-01" -> 3.0)
    val out = TickerFeatures.incomeGrowthBlock(gridAt("2024-01-01"), inc)
      .select("eps_cagr_3y").as[Double].head()
    assert(out.isNaN)
  }

  test("dividend CAGR 5y with empty splits: 2^(1/5)-1 (test_compute_dividend_cagr_basic)") {
    val divs = Seq(("T", d("2019-01-01"), 1.0), ("T", d("2020-01-01"), 1.1),
      ("T", d("2024-01-01"), 2.0)).toDF("ticker", "date", "dividend")
    val splits = Seq.empty[(String, java.sql.Date, Double)]
      .toDF("ticker", "date", "split_ratio")
    val out = TickerFeatures.dividendBlock(gridAt("2024-01-01"), divs, splits)
      .select("dividend_cagr_5y").as[Double].head()
    assert(out ~= (math.pow(2.0, 1.0 / 5) - 1, 1e-9))
  }

  test("net debt / EBITDA on latest row: (1000-200)/480 (test_compute_net_debt_to_ebitda)") {
    val inc = Seq(("T", d("2023-12-31"), 400.0, 50.0, 30.0, 999.0),
      ("T", d("2022-12-31"), 300.0, 60.0, 40.0, 999.0))
      .toDF("ticker", "date", "incomeBeforeTax", "interestExpense",
        "depreciationAndAmortization", "operatingIncome")
    val bal = Seq(("T", d("2023-12-31"), 200.0, 1000.0),
      ("T", d("2022-12-31"), 300.0, 1200.0))
      .toDF("ticker", "date", "cashAndShortTermInvestments", "totalDebt")
    val out = TickerFeatures.fundamentalsBlock(gridAt("2024-01-01"), inc, bal)
      .select("net_debt_to_ebitda").as[Double].head()
    assert(out ~= ((1000.0 - 200.0) / 480.0, 1e-9))
  }

  test("ebit interest cover falls back to incomeBeforeTax: 500/100 = 5.0") {
    val inc = Seq(("T", d("2023-12-31"), 500.0, 100.0, 0.0),
      ("T", d("2022-12-31"), 400.0, 200.0, 0.0))
      .toDF("ticker", "date", "incomeBeforeTax", "interestExpense",
        "depreciationAndAmortization")
    val bal = Seq(("T", d("2023-12-31"), 0.0, 0.0), ("T", d("2022-12-31"), 0.0, 0.0))
      .toDF("ticker", "date", "cashAndShortTermInvestments", "totalDebt")
    val out = TickerFeatures.fundamentalsBlock(gridAt("2024-01-01"), inc, bal)
    val row = out.select("ebit_interest_cover", "ebit_interest_cover_capped").collect()(0)
    assert(row.getDouble(0) ~= 5.0)
    assert(!row.getBoolean(1))
  }

  test("ebit interest cover above cap stores inf + capped flag") {
    val inc = Seq(("T", d("2023-12-31"), 5000.0, 1.0, 0.0))
      .toDF("ticker", "date", "incomeBeforeTax", "interestExpense",
        "depreciationAndAmortization")
    val bal = Seq(("T", d("2023-12-31"), 0.0, 0.0))
      .toDF("ticker", "date", "cashAndShortTermInvestments", "totalDebt")
    val row = TickerFeatures.fundamentalsBlock(gridAt("2024-01-01"), inc, bal)
      .select("ebit_interest_cover", "ebit_interest_cover_capped").collect()(0)
    assert(row.getDouble(0).isPosInfinity)
    assert(row.getBoolean(1))
  }

  private def ratios(rows: (String, Double, Double, Double, Double, Double)*): DataFrame =
    rows.map { case (dt, pe, pfcf, po, dy, fcf) => ("T", d(dt), pe, pfcf, po, dy, fcf) }
      .toDF("ticker", "date", "priceEarningsRatio", "priceToFreeCashFlowsRatio",
        "payoutRatio", "dividendYield", "freeCashFlowPerShare")

  test("latest valid P/E + P/FCF skips non-positive rows (test_valuation)") {
    val r = ratios(
      ("2022-01-01", 32.9, 32.6, 0.3, 0.02, 1.0),
      ("2023-01-01", 0.0, 0.0, 0.4, 0.02, 1.2))
    val row = TickerFeatures.ratiosBlock(gridAt("2024-01-01"), r)
      .select("pe_ratio", "pfcf_ratio", "payout_ratio").collect()(0)
    assert(row.getDouble(0) ~= 32.9)
    assert(row.getDouble(1) ~= 32.6)
    assert(row.getDouble(2) ~= 0.4) // payout takes latest positive independently
  }

  test("no valid P/E rows defaults to (0.0, 0.0)") {
    val r = ratios(("2023-01-01", 0.0, 0.0, 0.0, 0.0, 1.0))
    val row = TickerFeatures.ratiosBlock(gridAt("2024-01-01"), r)
      .select("pe_ratio", "pfcf_ratio", "payout_ratio").collect()(0)
    assert(row.getDouble(0) ~= 0.0)
    assert(row.getDouble(1) ~= 0.0)
    assert(row.getDouble(2) ~= 0.0)
  }

  test("yield vs 5y median: positive-only, (cur - med)/med") {
    val r = ratios(
      ("2021-01-01", 10.0, 10.0, 0.3, 0.02, 1.0),
      ("2022-01-01", 10.0, 10.0, 0.3, 0.04, 1.0),
      ("2023-01-01", 10.0, 10.0, 0.3, 0.06, 1.0))
    val out = TickerFeatures.ratiosBlock(gridAt("2024-01-01"), r)
      .select("yield_vs_5y_median").as[Double].head()
    // median of (0.02, 0.04, 0.06) = 0.04; current = 0.06
    assert(out ~= ((0.06 - 0.04) / 0.04, 1e-9))
  }

  test("priceBlockSeries matches priceBlock across a randomized multi-ticker grid") {
    // deterministic synthetic series: varying lengths, densities, and gaps,
    // plus as_ofs before the first price, inside, and past the last price
    val tickers = (1 to 8).map(i => s"T$i")
    val rows = for {
      (t, ti) <- tickers.zipWithIndex
      k <- 0 until (20 + (ti * 37) % 180)
    } yield {
      val base = java.time.LocalDate.of(2018, 1, 1)
        .plusDays((k * (2 + (ti % 3))).toLong)
      val close = 50.0 + ((k * 7919 + ti * 104729) % 1000) / 10.0
      (t, java.sql.Date.valueOf(base), close)
    }
    val p = rows.toDF("ticker", "date", "close")
    val asOfs = Seq("2017-06-30", "2018-03-31", "2018-07-01", "2018-12-31",
      "2019-12-31", "2021-12-31")
    val grid = tickers.flatMap(t => asOfs.map(a => (t, d(a))))
      .toDF("ticker", "as_of")
    val gridForm = TickerFeatures.priceBlock(grid, p)
      .orderBy("ticker", "as_of").collect()
    val seriesForm = TickerFeatures.priceBlockSeries(grid, p)
      .orderBy("ticker", "as_of").collect()
    assert(gridForm.length == tickers.size * asOfs.size)
    assert(gridForm.length == seriesForm.length)
    // volatility + SMAs accumulate in different orders between the forms —
    // tolerance there; every other field is an exact pick/max/count
    val tolerant = Set("volatility", "sma_50_200_delta")
    val fields = gridForm.head.schema.fieldNames
    gridForm.zip(seriesForm).foreach { case (ga, sa) =>
      fields.foreach { f =>
        val (x, y) = (ga.getAs[Any](f), sa.getAs[Any](f))
        (x, y) match {
          case (a: Double, b: Double) if tolerant(f) =>
            assert(a.isNaN == b.isNaN &&
              (a.isNaN || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))),
              s"$f: ${ga.getAs[String]("ticker")}@${ga.getAs[Any]("as_of")}: $a vs $b")
          case _ =>
            assert(x == y ||
              (x.isInstanceOf[Double] && y.isInstanceOf[Double] &&
                x.asInstanceOf[Double].isNaN && y.asInstanceOf[Double].isNaN),
              s"$f: ${ga.getAs[String]("ticker")}@${ga.getAs[Any]("as_of")}: $x vs $y")
        }
      }
    }
  }

  test("choosePriceForm picks grid for short histories, series for long ones, never series for 1 as_of") {
    def shape(nTickers: Int, histLen: Int, nAsOfs: Int) = {
      val prices = (for {
        t <- 1 to nTickers; k <- 0 until histLen
      } yield (s"T$t", java.sql.Date.valueOf(
        java.time.LocalDate.of(2010, 1, 1).plusDays(k.toLong)), 100.0))
        .toDF("ticker", "date", "close")
      val grid = (for {
        t <- 1 to nTickers; a <- 0 until nAsOfs
      } yield (s"T$t", java.sql.Date.valueOf(
        java.time.LocalDate.of(2020, 1, 1).plusDays(a * 365L))))
        .toDF("ticker", "as_of")
      (grid, prices)
    }
    // p1's sf0.1 shape: ~100-row histories x 5 as_ofs -> grid form
    val (g1, p1) = shape(4, 100, 5)
    assert(!graft.features.TickerFeatures.choosePriceForm(g1, p1))
    // 100 TB shape: multi-year daily history x yearly as_ofs -> series form
    val (g2, p2) = shape(2, 1200, 5)
    assert(graft.features.TickerFeatures.choosePriceForm(g2, p2))
    // a single as_of never replicates: grid form regardless of length
    val (g3, p3) = shape(2, 1200, 1)
    assert(!graft.features.TickerFeatures.choosePriceForm(g3, p3))
    // empty series: degenerate, grid form
    val (g4, p4) = shape(1, 1, 1)
    assert(!graft.features.TickerFeatures.choosePriceForm(g4, p4.limit(0)))
  }

  test("dynamicFeatures emits the exact reference column set (test_ticker_row_builder)") {
    val grid = gridAt("2024-01-01")
    val in = TickerFeatures.Inputs(
      prices = prices("2023-01-01" -> 100.0, "2023-06-01" -> 110.0),
      dividends = Seq(("T", d("2023-01-01"), 1.0)).toDF("ticker", "date", "dividend"),
      splits = Seq.empty[(String, java.sql.Date, Double)].toDF("ticker", "date", "split_ratio"),
      ratios = ratios(("2023-06-01", 10.0, 10.0, 0.3, 0.02, 1.0)),
      income = Seq(("T", d("2023-06-01"), 2.0, 100.0, 10.0, 5.0))
        .toDF("ticker", "date", "eps", "incomeBeforeTax", "interestExpense",
          "depreciationAndAmortization"),
      balance = Seq(("T", d("2023-06-01"), 0.0, 100.0))
        .toDF("ticker", "date", "cashAndShortTermInvestments", "totalDebt"))
    val expected = Set("ticker", "as_of", "6m_return", "12m_return",
      "volatility", "max_drawdown_1y", "sector_relative_6m", "sma_50_200_delta",
      "net_debt_to_ebitda", "ebit_interest_cover", "ebit_interest_cover_capped",
      "eps_cagr_3y", "fcf_cagr_3y", "dividend_yield", "dividend_cagr_3y",
      "dividend_cagr_5y", "yield_vs_5y_median", "pe_ratio", "pfcf_ratio",
      "payout_ratio", "has_eps_cagr_3y", "has_fcf_cagr_3y", "has_dividend_yield",
      "has_dividend_cagr_3y", "has_dividend_cagr_5y", "has_ebit_interest_cover")
    assert(features(grid, in, etfX("2023-01-01" -> 100.0)).columns.toSet == expected)
  }

  test("cell survives with reference defaults when every input row is dated after as_of") {
    // Backfill grids whose earliest as_of predates the first input row:
    // the reference filters inputs to date<=as_of FIRST, then computes
    // defaults over the empty frame — the cell must not vanish.
    val grid = gridAt("2020-01-01")
    val inc = Seq(("T", d("2023-06-01"), 2.0, 100.0, 10.0, 5.0))
      .toDF("ticker", "date", "eps", "incomeBeforeTax", "interestExpense",
        "depreciationAndAmortization")
    val bal = Seq(("T", d("2023-06-01"), 0.0, 100.0))
      .toDF("ticker", "date", "cashAndShortTermInvestments", "totalDebt")
    val f = TickerFeatures.fundamentalsBlock(grid, inc, bal)
      .select("net_debt_to_ebitda", "ebit_interest_cover", "ebit_interest_cover_capped")
      .collect()
    assert(f.length == 1)
    assert(f(0).getDouble(0) ~= 0.0)
    assert(f(0).getDouble(1) ~= 0.0)
    assert(!f(0).getBoolean(2))

    val r = TickerFeatures.ratiosBlock(grid,
      ratios(("2023-06-01", 10.0, 10.0, 0.3, 0.02, 1.0)))
      .select("dividend_yield", "pe_ratio", "pfcf_ratio", "payout_ratio",
        "yield_vs_5y_median", "fcf_cagr_3y").collect()
    assert(r.length == 1)
    assert(r(0).getDouble(0) ~= 0.0)
    assert(r(0).getDouble(1) ~= 0.0)
    assert(r(0).getDouble(2) ~= 0.0)
    assert(r(0).getDouble(3) ~= 0.0)
    assert(r(0).getDouble(4).isNaN)
    assert(r(0).getDouble(5).isNaN)

    val p = TickerFeatures.priceBlock(grid, prices("2023-01-01" -> 100.0))
      .select("6m_return", "12m_return", "volatility", "max_drawdown_1y").collect()
    assert(p.length == 1)
    assert(p(0).getDouble(0) ~= 0.0)
    assert(p(0).getDouble(1) ~= 0.0)
    assert(p(0).getDouble(2) ~= 0.0)
    assert(p(0).getDouble(3) ~= 0.0)

    val g = TickerFeatures.incomeGrowthBlock(grid, income("2023-01-01" -> 2.0))
      .select("eps_cagr_3y").as[Double].collect()
    assert(g.length == 1 && g(0).isNaN)
  }

  test("has_ flags: NaN CAGR -> 0, present value -> 1, default 0.0 yield -> 1") {
    val grid = gridAt("2024-01-01")
    val in = TickerFeatures.Inputs(
      prices = prices((0 until 250).map { i =>
        java.time.LocalDate.of(2023, 1, 1).plusDays(i).toString -> (100.0 + i)
      }: _*),
      dividends = Seq(("T", d("2023-01-01"), 1.0)).toDF("ticker", "date", "dividend"),
      splits = Seq.empty[(String, java.sql.Date, Double)].toDF("ticker", "date", "split_ratio"),
      ratios = ratios(("2023-06-01", 10.0, 10.0, 0.3, 0.02, 1.0)),
      income = Seq(("T", d("2023-06-01"), 2.0, 100.0, 10.0, 5.0))
        .toDF("ticker", "date", "eps", "incomeBeforeTax", "interestExpense",
          "depreciationAndAmortization"),
      balance = Seq(("T", d("2023-06-01"), 0.0, 100.0))
        .toDF("ticker", "date", "cashAndShortTermInvestments", "totalDebt"))
    val row = features(grid, in, etfX("2023-01-01" -> 100.0, "2024-01-01" -> 110.0))
      .select("has_eps_cagr_3y", "has_dividend_yield", "has_dividend_cagr_3y")
      .collect()(0)
    assert(row.getInt(0) == 0) // single-point eps -> NaN -> 0
    assert(row.getInt(1) == 1) // yield present
    assert(row.getInt(2) == 0) // single dividend -> NaN
  }

  test("fused path equals the separate blocks (exact; vol/sma to ulp tolerance)") {
    // three tickers x three as_of dates; statements span 6 years with edge
    // cases on every branch: zero EBITDA (inf nde), zero interest, negative
    // eps, zero dividendYield rows, non-positive pe rows.
    val tickers = Seq("A", "B", "C")
    val years = 2018 to 2023
    val stRows = for (t <- tickers; y <- years) yield {
      val i = y - 2018
      (t, d(s"$y-12-31"),
        if (t == "A" && y == 2020) 0.0 else 100.0 + i * 10, // incomeBeforeTax
        if (y == 2021) 0.0 else 10.0 + i,                   // interestExpense
        5.0 + i,                                            // d&a
        if (t == "B" && y == 2019) -2.0 else 2.0 + i * 0.1, // eps
        if (y == 2018) 0.0 else 0.02 + i * 0.01,            // dividendYield
        if (y == 2022) -1.0 else 20.0 + i,                  // pe
        15.0 + i,                                           // pfcf
        0.3,                                                // payoutRatio
        1.0 + i * 0.2)                                      // fcf/share
    }
    val st = stRows.toDF("ticker", "date", "incomeBeforeTax",
      "interestExpense", "depreciationAndAmortization", "eps",
      "dividendYield", "priceEarningsRatio", "priceToFreeCashFlowsRatio",
      "payoutRatio", "freeCashFlowPerShare")
      .withColumn("cashAndShortTermInvestments", col("incomeBeforeTax") / 10)
      .withColumn("totalDebt", col("incomeBeforeTax") / 5)
    val grid = (for (t <- tickers; a <- Seq("2019-06-30", "2022-06-30", "2024-06-30"))
      yield (t, d(a))).toDF("ticker", "as_of")
    val px = (for (t <- tickers; y <- years) yield (t, d(s"$y-06-30"), 50.0 + y - 2018))
      .toDF("ticker", "date", "close")
    val dv = (for (t <- tickers; y <- years) yield (t, d(s"$y-03-31"), 0.5 + (y - 2018) * 0.1))
      .toDF("ticker", "date", "dividend")
    def inputs(statements: Option[DataFrame]) = TickerFeatures.Inputs(
      prices = px, dividends = dv,
      splits = Seq.empty[(String, java.sql.Date, Double)].toDF("ticker", "date", "split_ratio"),
      ratios = st.select("ticker", "date", "priceEarningsRatio",
        "priceToFreeCashFlowsRatio", "payoutRatio", "dividendYield",
        "freeCashFlowPerShare"),
      income = st.select("ticker", "date", "eps", "incomeBeforeTax",
        "interestExpense", "depreciationAndAmortization"),
      balance = st.select("ticker", "date", "cashAndShortTermInvestments", "totalDebt"),
      statements = statements)
    // sector side: A and B track two ETFs with different index cadences;
    // C's ETF has no index rows (NaN sector_relative_6m). The 2024 as_of
    // has fewer than 2 stock rows in its 365 days (0.0).
    val tickerEtf = Seq(("A", "XA"), ("B", "XB"), ("C", "XC")).toDF("ticker", "etf")
    val etfIndex = ((0 until 78).map(k =>
        ("XA", d(java.time.LocalDate.of(2018, 1, 15).plusMonths(k).toString), 100.0 + k * 1.5)) ++
      (0 until 26).map(k =>
        ("XB", d(java.time.LocalDate.of(2018, 2, 1).plusMonths(3L * k).toString), 80.0 - k * 0.7)))
      .toDF("etf", "date", "close")
    def frame(in: TickerFeatures.Inputs, seriesPriceBlock: Boolean): DataFrame =
      TickerFeatures.dynamicFeaturesSharedIndex(grid, in, tickerEtf, etfIndex,
        minPriceRows = 0, seriesPriceBlock = seriesPriceBlock)
    def rows(df: DataFrame): Seq[org.apache.spark.sql.Row] =
      df.orderBy("ticker", "as_of").collect().toSeq
    val separate = rows(frame(inputs(None), seriesPriceBlock = false))
    val fused = rows(frame(inputs(Some(st)), seriesPriceBlock = false))
    // the series price form assembles from the separate statement blocks
    // even when `statements` is set
    val series = rows(frame(inputs(Some(st)), seriesPriceBlock = true))
    assert(separate.nonEmpty && separate.size == fused.size && separate.size == series.size)
    val cols = frame(inputs(None), seriesPriceBlock = false).columns
    // the sector feature takes every branch: a value, the <2-rows 0.0 and NaN
    val sr = separate.map(_.getDouble(cols.indexOf("sector_relative_6m")))
    assert(sr.exists(_.isNaN) && sr.contains(0.0) && sr.exists(v => !v.isNaN && v != 0.0))
    // volatility and the SMA delta accumulate in DIFFERENT orders between
    // the forms (shuffle-arrival avg/stddev vs the fused path's date-order
    // fold or the series form's running window) — last-ulp differences by
    // design, absorbed by the pipeline's round(6); every other column is
    // exact picks/counts/IEEE arithmetic on identical inputs and must match
    // bit-for-bit.
    val ulpCols = Set("volatility", "sma_50_200_delta")
    (separate.zip(fused) ++ separate.zip(series)).foreach { case (a, b) =>
      cols.zipWithIndex.foreach { case (c, i) =>
        if (ulpCols(c)) {
          val (x, y) = (a.get(i), b.get(i))
          if (x == null || y == null) assert(x == y, s"$c: $x vs $y")
          else {
            val (dx, dy) = (a.getDouble(i), b.getDouble(i))
            assert(dx == dy || math.abs(dx - dy) <= 1e-9 * math.max(math.abs(dx), 1.0),
              s"$c beyond ulp tolerance: $dx vs $dy")
          }
        } else assert(a.get(i) == b.get(i) ||
            (a.get(i) != null && a.get(i).equals(b.get(i))),
          s"$c: ${a.get(i)} vs ${b.get(i)} in $a / $b")
      }
    }
  }
}
