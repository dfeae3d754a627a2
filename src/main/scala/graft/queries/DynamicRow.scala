package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.features.TickerFeatures
import graft.operators.Validation
import graft.pipeline.TickerValidation
import QueryDef.{cagrSql, dividendBlockCtes, moneySum, priceBlockCtes,
  priceOutputsSql, ratiosOutputsSql, statementBlockCtes}

/** w4: the COMPOSED dynamic feature row, end-to-end — the flagship p1 path
  * (`TickerFeatures.dynamicFeaturesSharedIndex`: the one-shuffle cell layer
  * over price, statement and dividend rows, the sector-ETF side, has_ flags)
  * followed by the full V1-V5 validation
  * (`TickerValidation.validate` through the one engine,
  * `operators.Validation.validate`: nullification, range checks,
  * relative-jump checks, consistency, status + ";"-joined violations) —
  * oracle-gated: the DuckDB twin recomputes every block, and splices the
  * same rules' SQL tags, so the violation strings compare byte-for-byte.
  * Reference: `ticker_row_builder.py:26-97` +
  * `validate_dynamic_row.py:145-156`.
  *
  * Input design (all series derive from lineitem per (suppkey, shipdate),
  * giving ~500-date histories so the SMA-200 gate and 5y windows fire):
  *
  *   - Any feature that can go OUT of a V2 range — and therefore gets its
  *     raw double printed into `violations` via CAST AS STRING — is built
  *     from exact IEEE arithmetic (+,-,*,/ and picks) on DECIMAL-summed
  *     inputs, with magnitude inside the shortest-repr envelope [1e-3, 1e7)
  *     of [[graft.operators.Validation]].
  *   - Order-sensitive aggregates (volatility's stddev, the SMA means, the
  *     yield median) and libm pow (CAGRs) stay IN-bounds by construction,
  *     so they are never printed raw — they reach the judged surface only
  *     through round(6).
  *   - Values reaching a V3 jump tag are rounded to 4 decimals, so their
  *     divisors keep b's cent-precision within 4 decimals (b/100, b/50,
  *     b/500): a 5th-decimal-terminating value could be a decimal tie the
  *     engines round apart.
  *
  * Which tags actually fire: pe_ratio (b/100 vs [0,300)) and pfcf_ratio
  * (b/50+1 vs [0,500)) on roughly half the cells, net_debt_to_ebitda > 20
  * for the suppkey%4==3 debt tier, the V1 eic-nullified tag where
  * ebit/interest crosses the 1000 cap (inf-on-cap path), and pe/pfcf/payout
  * jumps between the two as_of rows. Everything else is in-bounds by
  * construction — but the oracle still evaluates ALL 17 range checks and
  * all 6 jump checks, so any construction drift shows up as a hash
  * mismatch, not a silent gap.
  */
object DynamicRow {

  def defs: Seq[QueryDef] = Seq(w4, w5)

  private val asOfDates = Seq("1997-06-30", "1998-06-30")

  /** Materialized validated frame shared by w4 (per-row) and w5 (stats) —
    * same pattern as Pipeline.p1Materialized: the result is tiny (one row
    * per grid cell), so checkpointing it once per (session, dataset)
    * stops the second consumer re-running the whole feature+validation
    * build. Bench clears it per round so every measured round pays the
    * build exactly once. */
  private val rowStore =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def clearMaterialized(): Unit = rowStore.clear()

  private def validatedRowMaterialized(s: SparkSession, dir: String): DataFrame =
    rowStore.computeIfAbsent((s, dir),
      { case (sess, d) =>
        // materializeFinal frees the build's interior checkpoints (the
        // shared base aggregate, the fused cell layer) once the row's own
        // bytes exist — without it every (session, dataset) build orphaned
        // those blocks to the ContextCleaner (the spanRemoval advisor class)
        graft.core.RoundCheckpointer.materializeFinal(
          sess.sparkContext, coalesceTo = 8)(validatedRow(sess, d))
      })

  /** The real pipeline drive: synthesize Inputs from lineitem, run the
    * engine (fused-statements path, no history gate) + validate. */
  private[graft] def validatedRow(s: SparkSession, dir: String): DataFrame =
    TickerValidation.validate(features(s, dir))

  private def features(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val base = li.groupBy(col("l_suppkey").as("sk"), col("l_shipdate").as("date"))
      .agg(moneySum(col("l_extendedprice")).as("b"))
      .withColumn("ticker", col("sk").cast(StringType))
      .withColumn("d", datediff(col("date"), to_date(lit("1992-01-01"))).cast(DoubleType))
      // feeds six input frames + the grid: one aggregation pays for all.
      // (eager localCheckpoint, not lazy persist: concurrent consumers
      // (broadcast builds) race an un-materialized cache and recompute)
      //
      // TICKER-partitioned before the checkpoint: localCheckpoint preserves
      // outputPartitioning, so every per-ticker window downstream — the
      // returns lag, the split cum-product, grid/sks distincts — reuses
      // this ONE exchange instead of each paying its own. One tiny extra
      // shuffle of the (ticker, date) cell relation here removes three
      // full-relation exchanges (and their AQE jobs) from the drive; at
      // 100 TB the returns lag alone re-shuffled the whole price series.
      .repartition(col("ticker"))
      // checkpointPartitioned, not a bare localCheckpoint: under AQE the
      // bare form stores UnknownPartitioning in the LogicalRDD and the
      // reuse above silently stops working (each consumer re-plans its own
      // exchange).
      .transform(graft.core.RoundCheckpointer.checkpointPartitioned)
    val prices = base.select(col("ticker"), col("date"),
      (lit(100.0) + col("d") * 0.05 + (col("sk") % 13).cast(DoubleType)).as("close"))
    // each ticker's sector series is its own index, keyed by the ticker
    // (ticker → etf = ticker); its dates are the supplier's own ship
    // dates, so it is not one shared series
    val etfIndex = base.select(col("ticker").as("etf"), col("date"),
      (lit(100.0) + col("d") * 0.04).as("close"))
    val statements = base.select(col("ticker"), col("date"),
      (lit(0.1) + (col("b") % 100) / 2500.0).as("dividendYield"),
      (col("b") / 100.0).as("priceEarningsRatio"),
      (col("b") / 50.0 + 1.0).as("priceToFreeCashFlowsRatio"),
      ((col("b") % 1000) / 500.0).as("payoutRatio"),
      (lit(10.0) + (col("b") % 500) / 1000.0).as("freeCashFlowPerShare"),
      (lit(5.0) + (col("b") % 400) / 1000.0).as("eps"),
      (col("b") / 4.0).as("incomeBeforeTax"),
      // multiples of 3 keep eic = b/(4*ie) NON-terminating in decimal: a
      // 2^a*5^b divisor (e.g. ie=40 -> c/16000) terminates at digit 7 and
      // round(6) hits the exact half-way case where Spark's BigDecimal
      // HALF_UP and DuckDB's rounding disagree
      (lit(30.0) + (col("sk") % 7).cast(DoubleType) * 30.0).as("interestExpense"),
      (col("b") / 10.0).as("depreciationAndAmortization"),
      (col("b") * (lit(1) + lit(3) * (col("sk") % 4)).cast(DoubleType)).as("totalDebt"),
      (col("b") / 4.0).as("cashAndShortTermInvestments"))
    val dividends = base.select(col("ticker"), col("date"),
      (lit(1.0) + (col("b") % 300) / 100.0).as("dividend"))
    val sks = base.select(col("ticker"), col("sk")).distinct()
    // explode-not-union: the union form produced UnknownPartitioning,
    // forcing the split cum-product window to re-exchange; the exploded
    // form keeps base's ticker partitioning (values identical — same
    // (ticker, date, ratio) set, order irrelevant to the as-of join)
    val splits = sks
      .select(col("ticker"), explode(array(
        when(col("sk") % 10 === 0,
          struct(to_date(lit("1995-01-01")).as("date"), lit(2.0).as("split_ratio"))),
        when(col("sk") % 20 === 0,
          struct(to_date(lit("1996-06-01")).as("date"), lit(1.5).as("split_ratio")))))
        .as("s"))
      .filter(col("s").isNotNull)
      .select(col("ticker"), col("s.date").as("date"),
        col("s.split_ratio").as("split_ratio"))
    val tickers = base.select(col("ticker")).distinct()
    val grid = tickers
      .withColumn("as_of", explode(array(asOfDates.map(d => to_date(lit(d))): _*)))
    val in = TickerFeatures.Inputs(prices, dividends, splits, statements)
    val tickerEtf = tickers.withColumn("etf", col("ticker"))
    TickerFeatures.dynamicFeaturesSharedIndex(grid, in, tickerEtf, etfIndex,
      minPriceRows = 0, seriesPriceBlock = false)
  }

  // ---------------------------------------------------------------- oracle

  /** feature name -> column alias inside the oracle's `feat` CTE. */
  private val sqlName = Map(
    "6m_return" -> "ret6", "12m_return" -> "ret12", "volatility" -> "vol",
    "max_drawdown_1y" -> "mdd", "sector_relative_6m" -> "srel",
    "sma_50_200_delta" -> "smad", "net_debt_to_ebitda" -> "nde",
    "ebit_interest_cover_capped" ->
      "(CASE WHEN eic_capped THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)",
    "eps_cagr_3y" -> "eps_cagr", "fcf_cagr_3y" -> "fcf_cagr",
    "dividend_yield" -> "divy", "dividend_cagr_3y" -> "dcagr3",
    "dividend_cagr_5y" -> "dcagr5", "yield_vs_5y_median" -> "yvm",
    "pe_ratio" -> "pe_r", "pfcf_ratio" -> "pfcf_r", "payout_ratio" -> "po_r")

  /** V3 lag columns: `<alias>_prev` in the `lagged` CTE. */
  private val jumpLagCols: Seq[String] =
    TickerValidation.jumpRules.map { r =>
      val c = sqlName(r.colName)
      s"lag($c) OVER (PARTITION BY ticker ORDER BY as_of) AS ${c}_prev"
    }

  /** All shared CTEs, ending in `out` = the full judged row. */
  private def oracleCtes: String = {
    val nullifyTag =
      "CASE WHEN NOT isfinite(eic0) THEN 'eic_nullified_unstable_or_nonfinite' END"
    val consistencyTag =
      """CASE WHEN eic IS NOT NULL
           AND (CASE WHEN eic_capped THEN 1.0 ELSE 0.0 END) > eic + 1e-9
         THEN 'eic_capped_gt_raw' END"""
    // V2/V3 tags from the production rules, so the twin cannot drift
    val rangeTags = TickerValidation.rangeRules.map(r => r.tagSql(sqlName(r.colName)))
    val jumpTags = TickerValidation.jumpRules.map { r =>
      val c = sqlName(r.colName)
      r.tagSql(c, s"${c}_prev")
    }
    val allTags = (Seq(nullifyTag) ++ rangeTags ++ jumpTags ++ Seq(consistencyTag))
      .mkString(",\n          ")
    s"""base AS (
        SELECT l_suppkey AS sk, CAST(l_suppkey AS VARCHAR) AS ticker,
               l_shipdate AS date,
               CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS DOUBLE) AS d,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS b
        FROM lineitem GROUP BY 1, 2, 3),
      grid AS (
        SELECT DISTINCT ticker, t.as_of
        FROM base CROSS JOIN (VALUES (DATE '1997-06-30'), (DATE '1998-06-30')) t(as_of)),
      prices AS (
        SELECT ticker, date,
               CAST(100.0 AS DOUBLE) + d * CAST(0.05 AS DOUBLE) + CAST(sk % 13 AS DOUBLE) AS close
        FROM base),
      ${priceBlockCtes("prices", "grid", sector365 = true)},
      sidx AS (
        SELECT ticker, date, CAST(100.0 AS DOUBLE) + d * CAST(0.04 AS DOUBLE) AS xclose
        FROM base),
      xagg AS (
        SELECT g.ticker, g.as_of,
          arg_min(xclose, x.date) AS x_first, arg_max(xclose, x.date) AS x_last,
          count(*) AS x_n
        FROM grid g JOIN sidx x ON x.ticker = g.ticker
        WHERE x.date BETWEEN (g.as_of - INTERVAL 365 DAY)::DATE AND g.as_of
        GROUP BY 1, 2),
      stm AS (
        SELECT ticker, date,
          CAST(0.1 AS DOUBLE) + (b % 100) / CAST(2500.0 AS DOUBLE) AS dy,
          b / CAST(100.0 AS DOUBLE) AS pe,
          b / CAST(50.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) AS pfcf,
          (b % 1000) / CAST(500.0 AS DOUBLE) AS po,
          CAST(10.0 AS DOUBLE) + (b % 500) / CAST(1000.0 AS DOUBLE) AS fcf,
          CAST(5.0 AS DOUBLE) + (b % 400) / CAST(1000.0 AS DOUBLE) AS eps,
          b / CAST(4.0 AS DOUBLE) AS ibt,
          CAST(30.0 AS DOUBLE) + CAST(sk % 7 AS DOUBLE) * CAST(30.0 AS DOUBLE) AS ie,
          b / CAST(10.0 AS DOUBLE) AS dep,
          b * CAST(1 + 3 * (sk % 4) AS DOUBLE) AS debt,
          b / CAST(4.0 AS DOUBLE) AS cash
        FROM base),
      enr AS (
        SELECT ticker, date, dy, pe, pfcf, po, fcf, eps,
          CASE WHEN isfinite((debt - cash) / (ibt + ie + dep))
            THEN (debt - cash) / (ibt + ie + dep) END AS nde_row,
          CASE WHEN ibt / ie < 1000.0 THEN ibt / ie
            ELSE CAST('Infinity' AS DOUBLE) END AS eic_row,
          (ibt / ie >= 1000.0) AS cap_row
        FROM stm),
      ${statementBlockCtes("enr", "grid", withFundamentals = true)},
      divs AS (
        SELECT ticker, date,
          CAST(1.0 AS DOUBLE) + (b % 300) / CAST(100.0 AS DOUBLE) AS dividend
        FROM base),
      splits AS (
        SELECT DISTINCT ticker, DATE '1995-01-01' AS date, CAST(2.0 AS DOUBLE) AS ratio
        FROM base WHERE sk % 10 = 0
        UNION ALL
        SELECT DISTINCT ticker, DATE '1996-06-01', CAST(1.5 AS DOUBLE)
        FROM base WHERE sk % 20 = 0),
      ${dividendBlockCtes("divs", "splits", "grid")},
      feat AS (
        SELECT p.ticker, p.as_of, $priceOutputsSql,
          CASE WHEN x_n IS NULL THEN CAST('NaN' AS DOUBLE)
               WHEN s_n < 2 OR x_n < 2 THEN 0.0
               WHEN s_first <= 0 OR s_last <= 0 OR x_first <= 0 OR x_last <= 0 THEN 0.0
               ELSE (s_last / s_first - 1) - (x_last / x_first - 1) END AS srel,
          CASE WHEN fn > 0 THEN nde_l ELSE 0.0 END AS nde,
          CASE WHEN fn > 0 THEN eic_l ELSE 0.0 END AS eic0,
          CASE WHEN fn > 0 THEN COALESCE(cap_l, FALSE) ELSE FALSE END AS eic_capped,
          ${cagrSql("fn", "eps_start", "eps_end", 3)} AS eps_cagr,
          ${cagrSql("fn", "fcf_start", "fcf_end", 3)} AS fcf_cagr,
          $ratiosOutputsSql,
          ${cagrSql("dn", "s3", "d_end", 3)} AS dcagr3,
          ${cagrSql("dn", "s5", "d_end", 5)} AS dcagr5
        FROM pagg p
        LEFT JOIN xagg x ON x.ticker = p.ticker AND x.as_of = p.as_of
        LEFT JOIN fund f ON f.ticker = p.ticker AND f.as_of = p.as_of
        LEFT JOIN dagg dv ON dv.ticker = p.ticker AND dv.as_of = p.as_of),
      nulled AS (
        SELECT *, CASE WHEN NOT isfinite(eic0) THEN NULL ELSE eic0 END AS eic
        FROM feat),
      lagged AS (
        SELECT *,
          ${jumpLagCols.mkString(",\n          ")}
        FROM nulled),
      out AS (
        SELECT ticker, as_of,
          ret6, ret12, vol, mdd, srel, smad, nde, eic, eic0, eic_capped,
          eps_cagr, fcf_cagr, divy, dcagr3, dcagr5, yvm, pe_r, pfcf_r, po_r,
          concat_ws(';',
          $allTags) AS violations
        FROM lagged)"""
  }

  /** The final judged projection shared by w4 (per-row) and w5 (stats). */
  private val outProjection: String =
    """ticker, as_of,
      ret6 AS "6m_return",
      ret12 AS "12m_return",
      round(vol, 6) AS volatility,
      mdd AS max_drawdown_1y,
      srel AS sector_relative_6m,
      round(smad, 6) AS sma_50_200_delta,
      nde AS net_debt_to_ebitda,
      eic AS ebit_interest_cover,
      eic_capped AS ebit_interest_cover_capped,
      round(eps_cagr, 6) AS eps_cagr_3y,
      round(fcf_cagr, 6) AS fcf_cagr_3y,
      divy AS dividend_yield,
      round(dcagr3, 6) AS dividend_cagr_3y,
      round(dcagr5, 6) AS dividend_cagr_5y,
      round(yvm, 6) AS yield_vs_5y_median,
      pe_r AS pe_ratio,
      pfcf_r AS pfcf_ratio,
      po_r AS payout_ratio,
      CASE WHEN eps_cagr IS NULL OR isnan(eps_cagr) THEN 0 ELSE 1 END AS has_eps_cagr_3y,
      CASE WHEN fcf_cagr IS NULL OR isnan(fcf_cagr) THEN 0 ELSE 1 END AS has_fcf_cagr_3y,
      CASE WHEN divy IS NULL OR isnan(divy) THEN 0 ELSE 1 END AS has_dividend_yield,
      CASE WHEN dcagr3 IS NULL OR isnan(dcagr3) THEN 0 ELSE 1 END AS has_dividend_cagr_3y,
      CASE WHEN dcagr5 IS NULL OR isnan(dcagr5) THEN 0 ELSE 1 END AS has_dividend_cagr_5y,
      CASE WHEN eic0 IS NULL OR isnan(eic0) THEN 0 ELSE 1 END AS has_ebit_interest_cover,
      CASE WHEN violations = '' THEN 'ok' ELSE 'flagged' END AS validation_status,
      violations"""

  val w4 = QueryDef("w4_dynamic_row",
    (s, dir) => {
      val v = validatedRowMaterialized(s, dir)
      // round(6) ONLY on features whose doubles can differ across engines
      // (stddev/avg accumulation order, percentile interpolation, libm pow).
      // Exact-arithmetic features (picks, +,-,*,/ on identical inputs) are
      // bit-identical by IEEE, and rounding them can only INTRODUCE
      // divergence: round(6) of a quotient whose decimal expansion
      // terminates at digit 7 (e.g. eic = c/48000 after a factor cancels)
      // is an exact round-half case where the engines' rounding modes
      // differ, so those columns ship raw.
      def r6(n: String): Column = round(col(n), 6).as(n)
      v.select(col("ticker"), col("as_of"),
        col("6m_return"), col("12m_return"), r6("volatility"),
        col("max_drawdown_1y"),
        col("sector_relative_6m"), r6("sma_50_200_delta"),
        col("net_debt_to_ebitda"), col("ebit_interest_cover"),
        col("ebit_interest_cover_capped"),
        r6("eps_cagr_3y"), r6("fcf_cagr_3y"), col("dividend_yield"),
        r6("dividend_cagr_3y"), r6("dividend_cagr_5y"), r6("yield_vs_5y_median"),
        col("pe_ratio"), col("pfcf_ratio"), col("payout_ratio"),
        col("has_eps_cagr_3y"), col("has_fcf_cagr_3y"), col("has_dividend_yield"),
        col("has_dividend_cagr_3y"), col("has_dividend_cagr_5y"),
        col("has_ebit_interest_cover"),
        col("validation_status"), col("violations"))
        .orderBy("ticker", "as_of")
    },
    Some(s"""WITH $oracleCtes
      SELECT $outProjection
      FROM out ORDER BY ticker, as_of"""))

  /** B4: validate-then-accept run stats — the distributed aggregation
    * behind `Sinks.runStats` (status counts + violation-family breakdown),
    * judged over the same validated frame as w4. */
  val w5 = QueryDef("w5_validation_stats",
    (s, dir) => graft.sinks.Sinks.statusCounts(validatedRowMaterialized(s, dir))
      .orderBy("validation_status"),
    Some(s"""WITH $oracleCtes,
      rows AS (SELECT $outProjection FROM out)
      SELECT validation_status,
        count(*) AS n,
        count(DISTINCT ticker) AS n_tickers,
        ${Validation.familyCountsSql("violations")}
      FROM rows GROUP BY 1 ORDER BY 1"""))
}
