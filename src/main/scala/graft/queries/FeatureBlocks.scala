package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.features.TickerFeatures
import QueryDef.{cagrSql, dividendBlockCtes, moneySum, priceBlockCtes,
  priceOutputsSql, ratiosOutputsSql, statementBlockCtes}

/** Oracle conversions for the ticker-feature blocks that were previously
  * pinned only by golden specs (SURVEY §2.6 W6/W9/W10/W11/W14): the judged
  * queries drive the ACTUAL pipeline operators (`TickerFeatures.ratiosBlock`
  * / `dividendBlock`, including `SeriesOps.adjustForSplits`) over series
  * synthesized deterministically from the orders table, and DuckDB
  * recomputes the full semantics — grace windows, month-clamped date
  * arithmetic, validity-filtered max_by/median, NaN policies — from the
  * same rows. Money-derived bases go through DECIMAL sums so every input
  * double is shuffle-order independent; judged doubles round(6) to absorb
  * interpolation ulp differences in the median.
  */
object FeatureBlocks {

  def defs: Seq[QueryDef] = Seq(w1, w2, w3)

  /** Deterministic per-(customer, date) base series: one ratio spine, no
    * duplicate dates (max_by ties would be engine-arbitrary otherwise). */
  private def base(orders: DataFrame): DataFrame =
    orders.groupBy(
      col("o_custkey").cast(StringType).as("ticker"),
      col("o_orderdate").as("date"))
      .agg(moneySum(col("o_totalprice")).as("b"))

  /** (ticker, as_of) grid over the distinct keys of `keyCol` — the two
    * judged as-of dates live here and in the two oracle SQL strings. */
  private def gridFrom(src: DataFrame, keyCol: String): DataFrame =
    src.select(col(keyCol).cast(StringType).as("ticker")).distinct()
      .withColumn("as_of", explode(array(
        to_date(lit("1997-06-30")), to_date(lit("1998-06-30")))))

  private def gridOf(orders: DataFrame): DataFrame = gridFrom(orders, "o_custkey")

  private val oracleGrid =
    """grid AS (
      SELECT DISTINCT o_custkey::VARCHAR AS ticker, t.as_of
      FROM orders CROSS JOIN (VALUES (DATE '1997-06-30'), (DATE '1998-06-30')) t(as_of))"""

  private val oracleBase =
    """base AS (
      SELECT o_custkey::VARCHAR AS ticker, o_orderdate AS date,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS b
      FROM orders GROUP BY 1, 2)"""

  /** W9/W10/W11 (+ fcf CAGR): the full ratios block — dividend yield with
    * 0.0-on-empty, yield vs the 5y-window median (90d grace, NaN below 2
    * points), latest-valid P/E and P/FCF (positive-only max_by), latest
    * payout, and the 3y FCF CAGR whose start value comes from a ±90d
    * grace window. pfcf is shifted so some rows go negative and the
    * validity filters actually discriminate. Divisor choice is
    * load-bearing: b carries cents (n/100), so divisors are powers of
    * ten ≤ 1e4 (or /50) making every DIRECTLY-copied output terminate
    * within 6 decimals — a /1e5-style divisor terminates at digit 7,
    * creating exact round-half boundaries where Spark's BigDecimal
    * HALF_UP and DuckDB's float-multiply round() disagree. Derived
    * outputs (median ratio, pow) are non-terminating, where a boundary
    * hit is ~1e-10 probability instead of systematic. */
  val w1 = QueryDef("w1_ratios_block",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val ratios = base(o).select(col("ticker"), col("date"),
        (col("b") / 10000.0).as("dividendYield"),
        (col("b") / 100.0).as("priceEarningsRatio"),
        (col("b") / 50.0 - 1500.0).as("priceToFreeCashFlowsRatio"),
        (col("b") / 10000.0).as("payoutRatio"),
        (col("b") / 10.0).as("freeCashFlowPerShare"))
      TickerFeatures.ratiosBlock(gridOf(o), ratios)
        .select(col("ticker"), col("as_of"),
          round(col("dividend_yield"), 6).as("dividend_yield"),
          round(col("yield_vs_5y_median"), 6).as("yield_vs_5y_median"),
          round(col("pe_ratio"), 6).as("pe_ratio"),
          round(col("pfcf_ratio"), 6).as("pfcf_ratio"),
          round(col("payout_ratio"), 6).as("payout_ratio"),
          round(col("fcf_cagr_3y"), 6).as("fcf_cagr_3y"))
        .orderBy("ticker", "as_of")
    },
    Some(s"""WITH $oracleBase,
      ratios AS (
        SELECT ticker, date, b/10000 AS dy, b/100 AS pe, b/50 - 1500 AS pfcf,
               b/10000 AS po, b/10 AS fcf FROM base),
      $oracleGrid,
      ${statementBlockCtes("ratios", "grid", withFundamentals = false)},
      feat AS (
        SELECT ticker, as_of, $ratiosOutputsSql,
          ${cagrSql("fn", "fcf_start", "fcf_end", 3)} AS fcf_cagr
        FROM fund)
      SELECT ticker, as_of,
        round(divy, 6) AS dividend_yield,
        round(yvm, 6) AS yield_vs_5y_median,
        round(pe_r, 6) AS pe_ratio,
        round(pfcf_r, 6) AS pfcf_ratio,
        round(po_r, 6) AS payout_ratio,
        round(fcf_cagr, 6) AS fcf_cagr_3y
      FROM feat ORDER BY ticker, as_of"""))

  /** W1/W3/W5/W8 + A1/A3/A5 as COMPOSED in the pipeline: the full price
    * block — global prefix-stable daily returns (lag), 6m/12m
    * point-to-point returns with 0.0-on-missing, annualized sample-stddev
    * volatility, 1y+15d-grace max drawdown (running peak over the shared
    * ascending sort), and the 50/200 SMA delta gated at 200 observations.
    * The series is supplier × ship-date (≈600 dates per supplier at any
    * SF) so the SMA-200 gate and both its branches actually fire — the
    * orders-per-customer series would leave n<200 everywhere. stddev and
    * the SMA means are floating aggregates: round(6) at the boundary per
    * the repo-wide rule. */
  val w3 = QueryDef("w3_price_block",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val prices = li.groupBy(
        col("l_suppkey").cast(StringType).as("ticker"),
        col("l_shipdate").as("date"))
        .agg((moneySum(col("l_extendedprice")) / 100.0).as("close"))
      TickerFeatures.priceBlock(gridFrom(li, "l_suppkey"), prices)
        .select(col("ticker"), col("as_of"),
          round(col("6m_return"), 6).as("ret_6m"),
          round(col("12m_return"), 6).as("ret_12m"),
          round(col("volatility"), 6).as("volatility"),
          round(col("max_drawdown_1y"), 6).as("max_drawdown_1y"),
          round(col("sma_50_200_delta"), 6).as("sma_50_200_delta"))
        .orderBy("ticker", "as_of")
    },
    Some(s"""WITH base AS (
        SELECT l_suppkey::VARCHAR AS ticker, l_shipdate AS date,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 100 AS close
        FROM lineitem GROUP BY 1, 2),
      grid AS (
        SELECT DISTINCT l_suppkey::VARCHAR AS ticker, t.as_of
        FROM lineitem CROSS JOIN (VALUES (DATE '1997-06-30'), (DATE '1998-06-30')) t(as_of)),
      ${priceBlockCtes("base", "grid", sector365 = false)},
      feat AS (SELECT ticker, as_of, $priceOutputsSql FROM pagg)
      SELECT ticker, as_of,
        round(ret6, 6) AS ret_6m,
        round(ret12, 6) AS ret_12m,
        round(vol, 6) AS volatility,
        round(mdd, 6) AS max_drawdown_1y,
        round(smad, 6) AS sma_50_200_delta
      FROM feat ORDER BY ticker, as_of"""))

  /** W6/W14: split-adjusted dividend CAGR at 3y and 5y horizons — the
    * dividends ride `SeriesOps.adjustForSplits` (divide by the cumulative
    * split ratio at or before each date, default 1.0), then the CAGR
    * start values come from ±3-MONTH grace windows (month-clamped
    * arithmetic on both engines). Splits are a deterministic subset:
    * every 10th customer gets a 2:1 in 1995, every 20th another 3:2 in
    * mid-1996 — so unadjusted, singly- and doubly-adjusted series all
    * appear. */
  val w2 = QueryDef("w2_dividend_cagr_block",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val divs = base(o).select(col("ticker"), col("date"),
        (col("b") / 1000.0).as("dividend"))
      val custs = o.select(col("o_custkey").cast(StringType).as("ticker")).distinct()
      val splits = custs.filter(col("ticker").cast(LongType) % 10 === 0)
        .select(col("ticker"), to_date(lit("1995-01-01")).as("date"),
          lit(2.0).as("split_ratio"))
        .union(custs.filter(col("ticker").cast(LongType) % 20 === 0)
          .select(col("ticker"), to_date(lit("1996-06-01")).as("date"),
            lit(1.5).as("split_ratio")))
      TickerFeatures.dividendBlock(gridOf(o), divs, splits)
        .select(col("ticker"), col("as_of"),
          round(col("dividend_cagr_3y"), 6).as("dividend_cagr_3y"),
          round(col("dividend_cagr_5y"), 6).as("dividend_cagr_5y"))
        .orderBy("ticker", "as_of")
    },
    Some(s"""WITH $oracleBase,
      divs AS (SELECT ticker, date, b/1000 AS dividend FROM base),
      splits AS (
        SELECT DISTINCT o_custkey::VARCHAR AS ticker, DATE '1995-01-01' AS date,
               2.0 AS ratio FROM orders WHERE o_custkey % 10 = 0
        UNION ALL
        SELECT DISTINCT o_custkey::VARCHAR, DATE '1996-06-01', 1.5
        FROM orders WHERE o_custkey % 20 = 0),
      $oracleGrid,
      ${dividendBlockCtes("divs", "splits", "grid")}
      SELECT ticker, as_of,
        round(${cagrSql("dn", "s3", "d_end", 3)}, 6) AS dividend_cagr_3y,
        round(${cagrSql("dn", "s5", "d_end", 5)}, 6) AS dividend_cagr_5y
      FROM dagg ORDER BY ticker, as_of"""))
}
