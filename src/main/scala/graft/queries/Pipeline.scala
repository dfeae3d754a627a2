package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.features.{TickerFeatures, TickerStatics}
import graft.pipeline.{TickerFeaturePipeline, TickerValidation}
import graft.functions.TextFns

/** End-to-end drive of the ticker feature pipeline over testdata-derived
  * inputs: customers play tickers, their order series plays the price
  * series, lineitem-derived tables play fundamentals. Deterministic but not
  * SQL-oracle-expressible in one readable statement — registered rows-only;
  * the per-operator golden specs pin the numeric semantics.
  */
object Pipeline {

  def defs: Seq[QueryDef] = Seq(p1, p2, p3, p4, p5, p6, p7, p8, m1)

  private[graft] def inputsForProbe(s: org.apache.spark.sql.SparkSession,
                                    dir: String) = inputsFrom(s, dir)
  private[graft] def p1MaterializedForProbe(s: org.apache.spark.sql.SparkSession,
                                            dir: String) = p1Materialized(s, dir)

  private def inputsFrom(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val orders = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    // ONE orders scan + ONE aggregation feeds both the price series and the
    // dividend series (dividends = F-status orders only): the conditional
    // aggregate is exactly the F-only groupBy, and both land in the same
    // checkpoint (the dividend series used to re-scan orders lazily).
    val priceDivPlan = orders.select(
      col("o_custkey").cast(StringType).as("ticker"),
      col("o_orderdate").cast(DateType).as("date"),
      col("o_totalprice").as("close"),
      col("o_orderstatus").as("status"))
      // keep-last per (ticker, date): price series needs one close per day
      .groupBy("ticker", "date").agg(max("close").as("close"),
        max(when(col("status") === "F", col("close") / 1000)).as("__div"))
      // reused by three feature blocks + the history gate: materialize once.
      // Ticker-partitioned before the checkpoint: the returns lag and the
      // ticker distinct reuse this exchange.
      // checkpointPartitioned: a bare localCheckpoint under AQE stores
      // UnknownPartitioning and silently undoes that reuse. This build is
      // a scan+aggregate (no join), so losing AQE for the one
      // materialization costs nothing; yearly below keeps the plain form
      // because ITS build contains the orders⨝liAgg join AQE converts.
      .repartition(col("ticker"))
    val splits = orders.filter(lit(false))
      .select(col("o_custkey").cast(StringType).as("ticker"),
        col("o_orderdate").cast(DateType).as("date"),
        lit(2.0).as("split_ratio"))
    // two-level aggregation: collapse lineitem to per-order partials FIRST
    // (map-side combine rides TPC-H's orderkey clustering, so the shuffle
    // carries ~1.5M partial rows instead of 6M raw ones), join the compact
    // per-order frame, then combine partials per (ticker, year). avg and
    // stddev_samp decompose into (Σx, Σx², n) moments; every output lands
    // behind normalize's round-to-2-decimals, where the reordering's
    // last-ulp differences vanish (2.8 s -> 1.9 s for this stage).
    // Every non-integral term is summed EXACTLY, in fixed point (QueryDef.
    // moneySum's rule): rounded once per row to a long count of 1e-9 units,
    // summed as longs at both levels, and turned back into a double only
    // at the end. A double sum moves in the last ulp with the order rows
    // arrive in, which follows the orders⨝liAgg join strategy, and the
    // violations text prints ratios built from these sums at full
    // precision. Longs rather than decimals: a DECIMAL(38,12) form keeps
    // its sum buffers in BigDecimal and measured +0.16 s on this stage of
    // a ~0.5 s p1 input build at sf0.001. Headroom: a lineitem term is
    // below 1.1e5, so a (ticker, year) sum overflows only past ~8e4 rows.
    // Quantity sums and counts are integral, so exact already.
    def exact(c: Column): Column = rint(c * 1e9).cast(LongType)
    val liAgg = li.groupBy(col("l_orderkey").as("__ok")).agg(
      sum(exact(col("l_extendedprice"))).as("__sp"),
      sum(exact(col("l_extendedprice") * col("l_discount"))).as("__spd"),
      sum(exact(col("l_extendedprice") * col("l_tax"))).as("__spt"),
      sum(col("l_quantity")).as("__sq"),
      sum(col("l_quantity") * col("l_quantity")).as("__sq2"),
      count(lit(1)).as("__n"),
      sum(exact(col("l_extendedprice") / col("l_quantity"))).as("__spq"),
      sum(exact(col("l_extendedprice") / greatest(col("l_quantity"), lit(1.0)))).as("__spq1"),
      sum(exact(col("l_discount"))).as("__sd"))
    def total(c: String): Column = sum(col(c)) / 1e9
    val yearlyPlan = orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .join(liAgg, col("__ok") === col("o_orderkey"))
      .groupBy(col("o_custkey").cast(StringType).as("ticker"),
        to_date(concat(year(col("o_orderdate")), lit("-12-31"))).as("date"))
      .agg(
        total("__sp").as("incomeBeforeTax"),
        total("__spd").as("interestExpense"),
        total("__spt").as("depreciationAndAmortization"),
        (sum(col("__sq")) / sum(col("__n"))).as("eps"),
        (sum(col("__sq")) / sum(col("__n")) / 10).as("freeCashFlowPerShare"),
        // sample stddev from moments: sqrt((Σx² − (Σx)²/n) / (n−1)); no
        // cancellation hazard at these magnitudes (x ∈ [1,50], n ~ 40/group)
        (sqrt((sum(col("__sq2")) - sum(col("__sq")) * sum(col("__sq")) / sum(col("__n"))) /
          (sum(col("__n")) - 1)) / 100).as("dividendYield"),
        (total("__spq") / sum(col("__n"))).as("priceEarningsRatio"),
        (total("__spq1") / sum(col("__n"))).as("priceToFreeCashFlowsRatio"),
        (total("__sd") / sum(col("__n")) * 10).as("payoutRatio"))
    // the aggregate feeds income/balance/ratios — without a checkpoint each
    // block re-executes the join. PLAIN checkpoint, deliberately not
    // checkpointPartitioned (measured A/B): the AQE-off build loses the
    // runtime broadcast conversion of the orders⨝liAgg join above, and that
    // costs more than the preserved clustering saves downstream (the
    // priceDiv build is join-free, so IT keeps the partition-preserving
    // form).
    // OVERLAPPED: the two input materializations are
    // independent jobs, and sequential submission left the cluster idle
    // through each one's tail — yearly's plain checkpoint runs on a pool
    // thread while priceDiv's partitioned checkpoint runs here. Values are
    // unaffected (each build's plan and partitioning are unchanged; if
    // yearly's planning lands inside priceDiv's brief AQE-off window it
    // only loses the runtime broadcast conversion for that leg — a
    // join-strategy choice, never a result change).
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val yearlyFut = scala.concurrent.Future(yearlyPlan.localCheckpoint())(
      scala.concurrent.ExecutionContext.fromExecutor(pool))
    val priceDiv = graft.core.RoundCheckpointer.checkpointPartitioned(priceDivPlan)
    val yearly =
      try scala.concurrent.Await.result(yearlyFut,
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    val prices = priceDiv.select("ticker", "date", "close")
    val dividends = priceDiv.filter(col("__div").isNotNull)
      .select(col("ticker"), col("date"), col("__div").as("dividend"))
    val income = yearly.select("ticker", "date", "incomeBeforeTax",
      "interestExpense", "depreciationAndAmortization", "eps")
    val balance = yearly.select(col("ticker"), col("date"),
      (col("incomeBeforeTax") / 10).as("cashAndShortTermInvestments"),
      (col("incomeBeforeTax") / 5).as("totalDebt"))
    val ratios = yearly.select("ticker", "date", "priceEarningsRatio",
      "priceToFreeCashFlowsRatio", "payoutRatio", "dividendYield",
      "freeCashFlowPerShare")
    // income/balance/ratios are all projections of `yearly` — hand the
    // assembly the column superset so the grid price form computes every
    // per-cell block over one slice + aggregation (shared (ticker, date)
    // spine).
    val statements = yearly
      .withColumn("cashAndShortTermInvestments", col("incomeBeforeTax") / 10)
      .withColumn("totalDebt", col("incomeBeforeTax") / 5)
    TickerFeatures.Inputs(prices, dividends, splits, ratios, income, balance,
      statements = Some(statements))
  }

  /** The S7 flow over testdata: the ticker→ETF map is
    * [[TickerStatics.etfSymbol]] over a profile of the tickers, and the
    * index is one compact (etf, date, close) series — the daily mean order
    * price as the market ETF. Customers carry no sector, so the profile's
    * sector is NULL and every ticker takes the lookup's SPY fallback (the
    * optimizer folds the when-chain to that literal). `tickers` is the
    * caller's distinct-ticker frame: the ticker set in the checkpointed
    * price series IS the distinct o_custkey set (priceDiv groups every
    * orders row by (ticker, date)), so no second orders scan is needed. */
  private def indexFrom(s: org.apache.spark.sql.SparkSession, dir: String,
                        tickers: org.apache.spark.sql.DataFrame) = {
    val orders = Tables.orders(s, dir)
    val etfIndex = orders
      .groupBy(col("o_orderdate").cast(DateType).as("date"))
      .agg(avg(col("o_totalprice")).as("close"))
      .select(lit("SPY").as("etf"), col("date"), col("close"))
    val profile = tickers.select(col("ticker"), lit(null).cast(StringType).as("sector"))
    (TickerStatics.etfSymbol(profile), etfIndex)
  }

  /** Full pipeline: grid -> gate -> features -> validation -> round2f32. */
  val p1 = QueryDef("p1_ticker_pipeline",
    (s, dir) => p1Materialized(s, dir),
    None,
    // sandwich: the store's price-block VALUES are judged by
    // p8 over p1's own materialized output; the identical feature builds
    // are judged row-wise by w4/w5 (dynamic-row + validation stats), the
    // static/OHE layer by p2, and the merge semantics by q40/q42.
    twins = Seq("p8_store_price_slice", "w4_dynamic_row",
      "w5_validation_stats", "p2_static_encoding", "q40_global_merge",
      "q42_merge_with_existing"))

  private def p1Plan(s: org.apache.spark.sql.SparkSession, dir: String) =
    TickerFeaturePipeline.normalize(p1Validated(s, dir)).orderBy("ticker", "as_of")

  /** p1's validated feature rows, before normalize's rounding. */
  private[graft] def p1Validated(s: org.apache.spark.sql.SparkSession, dir: String) = {
      val in = inputsFrom(s, dir)
      // one distinct-tickers pass feeds BOTH the grid and the ticker→etf
      // map: prices is ticker-partitioned (checkpointPartitioned), so the
      // distinct is exchange-free
      val tickers = in.prices.select("ticker").distinct()
      val grid = TickerFeaturePipeline.grid(s, tickers, "1997-12-31", 4)
      val (tickerEtf, etfIndex) = indexFrom(s, dir, tickers)
      // testdata customers have ~10 orders, not 260 trading days — gate at 5.
      // The price-block physical form is chosen from the data shape
      // (choosePriceForm): at this shape (~10-row histories × 5 as_ofs)
      // the cost model picks the grid form — matching the measured wall
      // time and the ProbeDeep calibration (grid and series tie at 3.5 s
      // here; series wins 2-4× only once histories × as_ofs outgrow its
      // flat enrichment cost — the 100 TB shape). The probe reads the
      // checkpointed series: ~ms.
      val features = TickerFeatures.dynamicFeaturesSharedIndex(grid, in,
        tickerEtf, etfIndex, minPriceRows = 5,
        seriesPriceBlock = TickerFeatures.choosePriceForm(grid, in.prices))
      TickerValidation.validate(features)
  }

  /** A12 as an oracle row (the e10 unique-optimum trick): the RF fit's importances are engine-internal,
    * but the RANKING they induce on a planted-signal fixture is not.
    * Features derive from lineitem keys with strictly ordered signal
    * strengths — y = 1000·f_strong + 10·f_mid; the key modulus 840 is a
    * multiple of lcm(10, 7, 3), so (f_strong, f_mid, f_none) are JOINTLY
    * uniform by CRT and f_none's between-group signal is structurally ~0
    * (a modulus not divisible by the lcm leaks a wraparound signal into
    * f_none that rivals f_mid's — caught at sf0.1 with k % 997) — so the
    * importance order is forced by orders-of-magnitude gaps, and the
    * DuckDB oracle RE-DERIVES it from the data (rank features by their
    * between-group explained variance, ties by name) rather than
    * replaying the fit. The raw importance/R² surface stays available via
    * [[graft.analysis.Analysis.rfImportance]] and its specs; the judged
    * claim here is "the ensemble recovers the planted signal order".
    * Deterministic key-filter subsample (l_orderkey % 5) bounds the fit,
    * and being a filter, is exactly replayable — .sample()'s
    * per-partition RNG is not. */
  val p3 = QueryDef("p3_rf_importance",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 5 === 0)
        .select(((col("l_orderkey") * 8 + col("l_linenumber")) % 840).as("k"))
        .select((col("k") % 10).cast(DoubleType).as("f_strong"),
          (col("k") % 7).cast(DoubleType).as("f_mid"),
          (col("k") % 3).cast(DoubleType).as("f_none"),
          ((col("k") % 10) * 1000.0 + (col("k") % 7) * 10.0).as("y"))
      // rfImportance's output is a driver-built 3-row relation, so the
      // ranking is plain driver math — a window here would be a naked
      // global WindowExec for nothing (PlanLint caught exactly that)
      import s.implicits._
      graft.analysis.Analysis.rfImportance(li,
          Seq("f_strong", "f_mid", "f_none"), "y", numTrees = 10)
        .collect()
        .sortBy(r => (-r.getDouble(1), r.getString(0)))
        .zipWithIndex
        .map { case (r, i) => ((i + 1).toLong, r.getString(0)) }
        .toSeq.toDF("rank", "feature")
        .orderBy("rank")
    },
    Some("""WITH r AS (
        SELECT (l_orderkey * 8 + l_linenumber) % 840 AS k
        FROM lineitem WHERE l_orderkey % 5 = 0),
      f AS (SELECT CAST(k % 10 AS DOUBLE) AS fs, CAST(k % 7 AS DOUBLE) AS fm,
          CAST(k % 3 AS DOUBLE) AS fn,
          (k % 10) * 1000.0 + (k % 7) * 10.0 AS y
        FROM r),
      tot AS (SELECT AVG(y) AS mu, COUNT(*) AS n FROM f),
      sig AS (
        SELECT 'f_strong' AS feature,
          SUM(cnt * (m - (SELECT mu FROM tot)) ^ 2) / (SELECT n FROM tot) AS bv
        FROM (SELECT fs, COUNT(*) AS cnt, AVG(y) AS m FROM f GROUP BY 1)
        UNION ALL
        SELECT 'f_mid',
          SUM(cnt * (m - (SELECT mu FROM tot)) ^ 2) / (SELECT n FROM tot)
        FROM (SELECT fm, COUNT(*) AS cnt, AVG(y) AS m FROM f GROUP BY 1)
        UNION ALL
        SELECT 'f_none',
          SUM(cnt * (m - (SELECT mu FROM tot)) ^ 2) / (SELECT n FROM tot)
        FROM (SELECT fn, COUNT(*) AS cnt, AVG(y) AS m FROM f GROUP BY 1))
      SELECT CAST(row_number() OVER (ORDER BY bv DESC, feature ASC) AS BIGINT)
        AS rank, feature
      FROM sig ORDER BY rank"""))

  /** Materialized p1 output, shared across the queries that consume the
    * feature table (p4) — the pipeline result is a materialized view: tiny
    * (one row per grid cell) however large the inputs, so checkpointing it
    * once per (session, dataset) is the same call a warehouse makes for a
    * shared intermediate. Entries hold strong refs for the life of the JVM
    * and assume the dataset under `dir` is immutable (true for testdata);
    * long-lived multi-session processes should [[clearMaterialized]] after
    * stopping a session. */
  private val p1Store =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String),
      org.apache.spark.sql.DataFrame]()

  /** Drop every memoized feature table. */
  def clearMaterialized(): Unit = p1Store.clear()
  private def p1Materialized(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    p1Store.computeIfAbsent((s, dir), { case (sess, d) =>
      // few partitions: the feature table is ~1 row per grid cell; boosting
      // re-scans it many times and per-task overhead dominates at 32 slices.
      // materializeFinal frees the build's interior checkpoints (priceDiv,
      // the fused cell layer) once the feature bytes exist, instead of
      // orphaning them to the ContextCleaner.
      graft.core.RoundCheckpointer.materializeFinal(
        sess.sparkContext, coalesceTo = 8)(p1Plan(sess, d))
    })

  /** p1's merged-store output, VALUE-JUDGED: a deterministic slice of the p1 store — the keys
    * plus every price-block feature — with a DuckDB twin that replays the
    * WHOLE derivation from the base tables: the keep-last price series
    * (max close per ticker-day from orders), the 4-year as-of grid, the
    * ≥5-row history gate, the sliced price anchors / volatility / running
    * drawdown / SMA delta (the same CTE shapes w4's oracle validates on
    * the dynamic-row fixture), and normalize's round(2)-through-
    * DECIMAL(28,8)-then-Float32 policy. What this judges that w4 cannot:
    * p1's OWN store row — its fixture, its gate, its grid, and the
    * normalize+sort tail of the merged store. The fundamentals/dividend
    * columns stay rows-only inside p1 (their p1-fixture derivations ride
    * decimal-division scale rules that no engine pair replays bit-stably;
    * the same FORMULAS are value-judged by w4's oracle on the dynamic-row
    * fixture). Engine-parity notes: both engines compute daily returns by
    * dividing double closes; Spark's volatility folds them in date order
    * (the sample-variance update of `stddev_samp`) where the twin's
    * `stddev_samp` accumulates in its own order — a last-ulp difference
    * that cannot move a round(2) Float32 except at engineered half-way
    * values, which o_totalprice-derived statistics never land on. */
  val p8 = QueryDef("p8_store_price_slice",
    (s, dir) => p1Materialized(s, dir).select(
        col("ticker"), col("as_of"), col("6m_return"), col("12m_return"),
        col("volatility"), col("max_drawdown_1y"), col("sma_50_200_delta"))
      .orderBy("ticker", "as_of"),
    Some(s"""WITH px AS (
        SELECT CAST(o_custkey AS VARCHAR) AS ticker,
               CAST(o_orderdate AS DATE) AS date,
               CAST(max(o_totalprice) AS DOUBLE) AS close
        FROM orders GROUP BY 1, 2),
      grid AS (
        SELECT DISTINCT ticker, t.as_of
        FROM px CROSS JOIN (VALUES (DATE '1997-12-31'), (DATE '1998-12-31'),
          (DATE '1999-12-31'), (DATE '2000-12-31')) t(as_of)),
      ${QueryDef.priceBlockCtes("px", "grid", sector365 = false)},
      feat AS (
        SELECT ticker, as_of, ${QueryDef.priceOutputsSql}
        FROM pagg WHERE pn >= 5)
      SELECT ticker, as_of,
        CAST(round(TRY_CAST(ret6 AS DECIMAL(28,8)), 2) AS FLOAT) AS "6m_return",
        CAST(round(TRY_CAST(ret12 AS DECIMAL(28,8)), 2) AS FLOAT) AS "12m_return",
        CAST(round(TRY_CAST(vol AS DECIMAL(28,8)), 2) AS FLOAT) AS volatility,
        CAST(round(TRY_CAST(mdd AS DECIMAL(28,8)), 2) AS FLOAT) AS max_drawdown_1y,
        CAST(round(TRY_CAST(smad AS DECIMAL(28,8)), 2) AS FLOAT) AS sma_50_200_delta
      FROM feat ORDER BY ticker, as_of"""))

  /** Phases 3-5 end to end over the p1 feature rows: GBT cut-probability
    * (walk-forward), score formula, constrained equal-weight portfolio —
    * rows-only (tree ensembles aren't an oracle surface). */
  val p4 = QueryDef("p4_score_portfolio",
    (s, dir) => {
      val features = p1Materialized(s, dir)
      // synthetic label: a cut is a deep drawdown next period (derived
      // deterministically so training is reproducible). The p1 store is
      // already checkpointed, so boosting iterations and the scoring joins
      // never re-execute the feature pipeline.
      val labeled = features.withColumn("cut_label",
        when(col("max_drawdown_1y") > 0.5, 1.0).otherwise(0.0))
      val (scored, _) = graft.analysis.Scoring.fitCutProbability(
        labeled, "cut_label", cutoff = "2000-01-01")
      val withScores = graft.analysis.Scoring.score(scored)
      val sectors = Tables.customer(s, dir)
        .select(col("c_custkey").cast(StringType).as("ticker"),
          col("c_mktsegment").as("sector"))
      graft.analysis.Scoring.constructPortfolio(
        withScores.join(sectors, Seq("ticker"), "left"),
        n = 20, groupCols = Seq("sector"), maxPerGroup = 0.2, maxCutProb = 0.9)
        .select(col("ticker"), col("as_of"), col("sector"),
          round(col("final_score"), 4).as("final_score"), col("weight"))
        .orderBy("ticker", "as_of")
    },
    None,
    // sandwich: p5 judges the score formula, p6 the GBT's
    // confusion surface on a planted fixture, p7 the portfolio
    // construction — together the full phase-3..5 chain minus the
    // non-oracle-able ensemble fit itself.
    twins = Seq("p5_score_math", "p6_gbt_confusion", "p7_portfolio_verdict"))

  /** Phases 4-5 ONLY, over a fixed deterministic `cut_prob` column —
    * ORACLE-GATED. p4's GBT fit is not an oracle surface, but the score
    * formula (Final Score = AdjYield*0.5 + DivGrowth*0.3 + Stability*0.2,
    * README.md:78-115) and the constrained portfolio (rank windows, group
    * cap, top-N, 1/N weights) are pure declarative math; this query runs
    * the SAME production code ([[graft.analysis.Scoring.score]] +
    * [[graft.analysis.Scoring.constructPortfolio]]) against a DuckDB twin
    * that re-derives every clamp, coalesce default, log1p growth scale,
    * the group-cap rank window, and the global top-N (sort+limit in the
    * engine, rank-filter in the twin — same set under the total order).
    * cut_prob replays the d42 md5-bucket rule so
    * both engines agree on it bit-for-bit; features are key-derived with
    * per-column NULL slices to exercise each coalesce default. After this,
    * the only unjudged surface in p4 is the GBT fit itself. */
  val p5 = QueryDef("p5_score_math",
    (s, dir) => {
      val ck = col("c_custkey")
      val feat = Tables.customer(s, dir).select(
        ck.cast(StringType).as("ticker"),
        col("c_mktsegment").as("sector"),
        when(ck % 23 === 0, lit(null).cast(DoubleType))
          .otherwise((ck % 80).cast(DoubleType) / 1000.0).as("dividend_yield"),
        when(ck % 7 === 0, lit(null).cast(DoubleType))
          .otherwise(((ck % 60).cast(DoubleType) - 10.0) / 100.0)
          .as("dividend_cagr_3y"),
        when(ck % 17 === 0, lit(null).cast(DoubleType))
          .otherwise((ck % 100).cast(DoubleType) / 100.0).as("max_drawdown_1y"),
        when(ck % 11 === 0, lit(null).cast(DoubleType))
          .otherwise((ck % 35).cast(DoubleType) / 10.0).as("volatility"),
        when(ck % 13 === 0, lit(null).cast(DoubleType))
          .otherwise((ck % 25).cast(DoubleType) / 10.0).as("payout_ratio"),
        when(ck % 19 === 0, lit(null).cast(DoubleType))
          .otherwise((ck % 22).cast(DoubleType)).as("net_debt_to_ebitda"),
        ((TextFns.hash32(ck.cast(StringType)) % 10000).cast(DoubleType) / 10000.0).as("cut_prob"))
      val scored = graft.analysis.Scoring.score(feat)
      graft.analysis.Scoring.constructPortfolio(scored, n = 20,
        groupCols = Seq("sector"), maxPerGroup = 0.2, maxCutProb = 0.25)
        .select(col("ticker"), col("sector"),
          round(col("adj_yield"), 6).as("adj_yield"),
          round(col("div_growth"), 6).as("div_growth"),
          round(col("stability"), 6).as("stability"),
          round(col("final_score"), 6).as("final_score"),
          round(col("weight"), 6).as("weight"))
        .orderBy("ticker")
    },
    Some(s"""WITH feat AS (
        SELECT CAST(c_custkey AS VARCHAR) AS ticker, c_mktsegment AS sector,
          CASE WHEN c_custkey % 23 = 0 THEN NULL
               ELSE CAST(c_custkey % 80 AS DOUBLE) / 1000.0 END AS dividend_yield,
          CASE WHEN c_custkey % 7 = 0 THEN NULL
               ELSE (CAST(c_custkey % 60 AS DOUBLE) - 10.0) / 100.0 END AS dividend_cagr_3y,
          CASE WHEN c_custkey % 17 = 0 THEN NULL
               ELSE CAST(c_custkey % 100 AS DOUBLE) / 100.0 END AS max_drawdown_1y,
          CASE WHEN c_custkey % 11 = 0 THEN NULL
               ELSE CAST(c_custkey % 35 AS DOUBLE) / 10.0 END AS volatility,
          CASE WHEN c_custkey % 13 = 0 THEN NULL
               ELSE CAST(c_custkey % 25 AS DOUBLE) / 10.0 END AS payout_ratio,
          CASE WHEN c_custkey % 19 = 0 THEN NULL
               ELSE CAST(c_custkey % 22 AS DOUBLE) END AS net_debt_to_ebitda,
          CAST(${TextFns.hash32Sql("CAST(c_custkey AS VARCHAR)")} % 10000 AS DOUBLE)
            / 10000.0 AS cut_prob
        FROM customer),
      ${graft.analysis.Scoring.portfolioSql("feat", n = 20,
        groupCols = Seq("sector"), maxPerGroup = 0.2, maxCutProb = 0.25)}
      SELECT ticker, sector,
        round(adj_yield, 6) AS adj_yield,
        round(div_growth, 6) AS div_growth,
        round(stability, 6) AS stability,
        round(final_score, 6) AS final_score,
        round(weight, 6) AS weight
      FROM port ORDER BY ticker"""))

  /** The GBT fit's verdict surface, oracle-gated (the e10 trick applied to
    * p4's unjudged interior): a planted perfectly
    * separable fixture (label = f_sig ≥ 5 on a 10-valued key-derived
    * feature; 10 distinct values sit under MLlib's 32-bin split budget,
    * so the exact boundary is an available split) run through the REAL
    * production fit ([[graft.analysis.Scoring.fitCutProbability]]: same
    * walk-forward cutoff discipline, seed 42) and judged by its
    * walk-forward-holdout confusion counts. On a separable noise-free
    * rule the optimum is unique — zero errors — so DuckDB re-derives the
    * counts from the planted rule without replaying the fit; any
    * misclassification hash-mismatches. Complements p5 (which judges the
    * score/portfolio math downstream of the fit): after p6, p4's only
    * unjudged interior is the fit on the REAL feature distribution,
    * envelope-pinned by ScoringSpec's AUC gate. */
  val p6 = QueryDef("p6_gbt_confusion",
    (s, dir) => {
      val ck = col("c_custkey")
      val feat = Tables.customer(s, dir).select(
        ck.cast(StringType).as("ticker"),
        (ck % 10).cast(DoubleType).as("f_sig"),
        (ck % 9).cast(DoubleType).as("f_noise"),
        date_add(lit("2000-01-01").cast(DateType), (ck % 7).cast(IntegerType))
          .as("as_of"),
        when(ck % 10 >= 5, 1.0).otherwise(0.0).as("cut_label"))
      val (scored, _) = graft.analysis.Scoring.fitCutProbability(
        feat, "cut_label", cutoff = "2000-01-04",
        features = Seq("f_sig", "f_noise"))
      scored.filter(col("as_of") >= lit("2000-01-04").cast(DateType))
        .agg(count(lit(1)).as("n_holdout"),
          sum(when(col("cut_label") === 1.0 && col("cut_prob") > 0.5, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("cut_label") === 0.0 && col("cut_prob") > 0.5, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("cut_label") === 1.0 && col("cut_prob") <= 0.5, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("cut_label") === 0.0 && col("cut_prob") <= 0.5, 1L)
            .otherwise(0L)).as("tn"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_holdout,
        CAST(count(*) FILTER (WHERE c_custkey % 10 >= 5) AS BIGINT) AS tp,
        CAST(0 AS BIGINT) AS fp,
        CAST(0 AS BIGINT) AS fn,
        CAST(count(*) FILTER (WHERE c_custkey % 10 < 5) AS BIGINT) AS tn
      FROM customer WHERE c_custkey % 7 IN (3, 4, 5, 6)"""))

  /** p4's judged verdict surface: the FULL composed pipeline — real
    * [[graft.analysis.Scoring.fitCutProbability]] (walk-forward GBT on
    * p6's planted perfectly-separable fixture, seed 42) → real
    * [[graft.analysis.Scoring.score]] → real
    * [[graft.analysis.Scoring.constructPortfolio]] — judged end to end,
    * value-exact. The one engine-internal quantity in that chain is the
    * fit's continuous probability; the composition therefore routes it
    * through the fit's VERDICT (cut_prob > 0.5 → 1.0 else 0.0 — the
    * surface p6 proved has a unique optimum on this fixture: zero
    * errors), after which every downstream number is pure key-derived
    * math: the DuckDB twin re-derives cut_prob from the PLANTED rule
    * (c_custkey % 10 >= 5), replays p5's score formulas with it, and
    * replays the group-cap + top-N + 1/N-weight portfolio. Any fit
    * misclassification, any score-formula drift, and any selection or
    * weight divergence all hash-mismatch. After this, p4's only rows-only
    * surface is the fit on the REAL (non-planted) feature distribution —
    * sandwiched by p5 (score math), p6 (fit verdict), this (composition),
    * and ScoringSpec's AUC envelope. Feature columns reuse p5's
    * per-column NULL slices (moduli avoiding 7, which drives as_of) so
    * each coalesce default is exercised inside the composition too. */
  val p7 = QueryDef("p7_portfolio_verdict",
    (s, dir) => {
      val ck = col("c_custkey")
      val feat = Tables.customer(s, dir).select(
        ck.cast(StringType).as("ticker"),
        col("c_mktsegment").as("sector"),
        (ck % 10).cast(DoubleType).as("f_sig"),
        (ck % 9).cast(DoubleType).as("f_noise"),
        date_add(lit("2000-01-01").cast(DateType), (ck % 7).cast(IntegerType))
          .as("as_of"),
        when(ck % 10 >= 5, 1.0).otherwise(0.0).as("cut_label"),
        when(ck % 23 === 0, lit(null).cast(DoubleType))
          .otherwise((ck % 80).cast(DoubleType) / 1000.0).as("dividend_yield"),
        when(ck % 29 === 0, lit(null).cast(DoubleType))
          .otherwise(((ck % 60).cast(DoubleType) - 10.0) / 100.0)
          .as("dividend_cagr_3y"),
        when(ck % 17 === 0, lit(null).cast(DoubleType))
          .otherwise((ck % 100).cast(DoubleType) / 100.0).as("max_drawdown_1y"),
        when(ck % 11 === 0, lit(null).cast(DoubleType))
          .otherwise((ck % 35).cast(DoubleType) / 10.0).as("volatility"),
        when(ck % 13 === 0, lit(null).cast(DoubleType))
          .otherwise((ck % 25).cast(DoubleType) / 10.0).as("payout_ratio"),
        when(ck % 19 === 0, lit(null).cast(DoubleType))
          .otherwise((ck % 22).cast(DoubleType)).as("net_debt_to_ebitda"))
      val (scored, _) = graft.analysis.Scoring.fitCutProbability(
        feat, "cut_label", cutoff = "2000-01-04",
        features = Seq("f_sig", "f_noise"))
      val verdict = scored
        .filter(col("as_of") >= lit("2000-01-04").cast(DateType))
        .withColumn("cut_prob",
          when(col("cut_prob") > 0.5, 1.0).otherwise(0.0))
      graft.analysis.Scoring.constructPortfolio(
          graft.analysis.Scoring.score(verdict), n = 20,
          groupCols = Seq("sector"), maxPerGroup = 0.2, maxCutProb = 0.25)
        .select(col("ticker"), col("sector"), col("as_of"),
          round(col("adj_yield"), 6).as("adj_yield"),
          round(col("div_growth"), 6).as("div_growth"),
          round(col("stability"), 6).as("stability"),
          round(col("final_score"), 6).as("final_score"),
          round(col("weight"), 6).as("weight"))
        .orderBy("ticker")
    },
    Some(s"""WITH feat AS (
        SELECT CAST(c_custkey AS VARCHAR) AS ticker, c_mktsegment AS sector,
          DATE '2000-01-01' + CAST(c_custkey % 7 AS INT) AS as_of,
          CASE WHEN c_custkey % 10 >= 5 THEN 1.0 ELSE 0.0 END AS cut_prob,
          CASE WHEN c_custkey % 23 = 0 THEN NULL
               ELSE CAST(c_custkey % 80 AS DOUBLE) / 1000.0 END AS dividend_yield,
          CASE WHEN c_custkey % 29 = 0 THEN NULL
               ELSE (CAST(c_custkey % 60 AS DOUBLE) - 10.0) / 100.0 END AS dividend_cagr_3y,
          CASE WHEN c_custkey % 17 = 0 THEN NULL
               ELSE CAST(c_custkey % 100 AS DOUBLE) / 100.0 END AS max_drawdown_1y,
          CASE WHEN c_custkey % 11 = 0 THEN NULL
               ELSE CAST(c_custkey % 35 AS DOUBLE) / 10.0 END AS volatility,
          CASE WHEN c_custkey % 13 = 0 THEN NULL
               ELSE CAST(c_custkey % 25 AS DOUBLE) / 10.0 END AS payout_ratio,
          CASE WHEN c_custkey % 19 = 0 THEN NULL
               ELSE CAST(c_custkey % 22 AS DOUBLE) END AS net_debt_to_ebitda
        FROM customer
        WHERE c_custkey % 7 IN (3, 4, 5, 6)),
      ${graft.analysis.Scoring.portfolioSql("feat", n = 20,
        groupCols = Seq("sector"), maxPerGroup = 0.2, maxCutProb = 0.25)}
      SELECT ticker, sector, as_of,
        round(adj_yield, 6) AS adj_yield,
        round(div_growth, 6) AS div_growth,
        round(stability, 6) AS stability,
        round(final_score, 6) AS final_score,
        round(weight, 6) AS weight
      FROM port ORDER BY ticker"""))

  /** The macro pipeline (grid form) over a nation×year wide table derived
    * from orders — ORACLE-GATED: the DuckDB SQL replicates the exact
    * backfill/YoY/difference//100 semantics. */
  val m1 = QueryDef("m1_macro_pipeline",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val yearly = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("country"), year(col("o_orderdate")).as("yr"))
        .agg(
          sum(QueryDef.dec(col("o_totalprice"))).cast(DoubleType).as("gdp"),
          (sum(QueryDef.dec(col("o_totalprice"))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("gdp_pc"),
          (count(lit(1)).cast(DoubleType) / 10.0).as("infl"),
          (countDistinct(col("o_custkey")).cast(DoubleType)).as("unemp"))
      val macroRaw = yearly.select(col("country"),
        to_date(concat(col("yr"), lit("-12-31"))).as("date"),
        col("gdp").as("GDP (USD)"),
        col("gdp_pc").as("GDP per Capita (const USD)"),
        col("infl").as("Inflation (%)"),
        col("unemp").as("Unemployment (%)"),
        lit(52.0).as("Private Consumption (% GDP)"),
        (col("unemp") + 40.0).as("Exports (% GDP)"))
      val s2 = s
      import s2.implicits._
      val grid = n.select(col("n_name").as("country"))
        .crossJoin(Seq(1997, 1998, 1999, 2000).toDF("as_of_year"))
      graft.pipeline.MacroPipeline.features(grid, macroRaw, todayYear = 2026)
        .orderBy("country", "as_of_year")
    },
    Some("""WITH yearly AS (
        SELECT n_name AS country, CAST(year(o_orderdate) AS INT) AS yr,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gdp,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS gdp_pc,
          CAST(COUNT(*) AS DOUBLE) / 10.0 AS infl,
          CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS unemp
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      grid AS (SELECT n_name AS country, y AS as_of_year
        FROM nation CROSS JOIN (VALUES (1997),(1998),(1999),(2000)) t(y)),
      feat AS (SELECT g.country, g.as_of_year, g.as_of_year - 1 AS backfilled_year,
          CASE WHEN r.gdp IS NOT NULL AND r2.gdp IS NOT NULL AND r2.gdp <> 0.0
            THEN (r.gdp - r2.gdp) / r2.gdp END AS gdp_yoy_backfilled,
          CASE WHEN r.gdp_pc IS NOT NULL AND r2.gdp_pc IS NOT NULL AND r2.gdp_pc <> 0.0
            THEN (r.gdp_pc - r2.gdp_pc) / r2.gdp_pc END AS gdp_pc_yoy_backfilled,
          sel.infl / 100.0 AS inflation_latest,
          CASE WHEN sel.infl IS NOT NULL AND r.infl IS NOT NULL
            THEN (sel.infl - r.infl) / 100.0 END AS inflation_yoy,
          sel.unemp / 100.0 AS unemployment_latest,
          52.0 / 100.0 AS consumption_backfilled_r,
          CASE WHEN r.unemp IS NOT NULL THEN (r.unemp + 40.0) / 100.0 END AS exports_backfilled,
          r.country AS rc
        FROM grid g
        LEFT JOIN yearly sel ON sel.country = g.country AND sel.yr = g.as_of_year
        LEFT JOIN yearly r ON r.country = g.country AND r.yr = g.as_of_year - 1
        LEFT JOIN yearly r2 ON r2.country = g.country AND r2.yr = g.as_of_year - 2)
      SELECT as_of_year, backfilled_year, country, gdp_yoy_backfilled,
        gdp_pc_yoy_backfilled, inflation_latest, inflation_yoy,
        unemployment_latest,
        CAST(0.52 AS DOUBLE) AS consumption_backfilled,
        exports_backfilled
      FROM feat
      WHERE gdp_yoy_backfilled IS NOT NULL AND gdp_pc_yoy_backfilled IS NOT NULL
        AND inflation_latest IS NOT NULL AND inflation_yoy IS NOT NULL
        AND unemployment_latest IS NOT NULL AND exports_backfilled IS NOT NULL
      ORDER BY country, as_of_year"""))

  /** Static one-hot rows (F4) + the alias-normalization quirk (F9),
    * ORACLE-GATED: the fixed vocab makes every one-hot a CASE column in
    * SQL. Segments map to real sector labels (including the lowercase
    * "technology" alias path — which normalizes to "Information
    * Technology", a value NOT in the vocab, so it lands in `_other`: the
    * reference quirk, now pinned by the oracle) and nations title-case
    * into genuine country-vocab hits. */
  val p2 = QueryDef("p2_static_encoding",
    (s, dir) => {
      val sector = when(col("c_mktsegment") === "BUILDING", "technology")
        .when(col("c_mktsegment") === "AUTOMOBILE", "Energy")
        .when(col("c_mktsegment") === "MACHINERY", "Healthcare")
        .when(col("c_mktsegment") === "HOUSEHOLD", "Consumer Defensive")
      val country = concat(upper(substring(col("n_name"), 1, 1)),
        lower(substring(col("n_name"), 2, 1000)))
      val profile = Tables.customer(s, dir)
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").cast(StringType).as("ticker"),
          sector.as("sector"), country.as("country"))
      TickerStatics.staticRows(profile).orderBy("ticker")
    },
    Some {
      val secCase = """CASE WHEN c_mktsegment = 'BUILDING' THEN 'technology'
          WHEN c_mktsegment = 'AUTOMOBILE' THEN 'Energy'
          WHEN c_mktsegment = 'MACHINERY' THEN 'Healthcare'
          WHEN c_mktsegment = 'HOUSEHOLD' THEN 'Consumer Defensive' END"""
      // the alias normalization oneHot applies before matching
      val secNorm = s"""CASE WHEN lower(sector) = 'technology'
          THEN 'Information Technology' ELSE sector END"""
      val secHots = graft.features.TickerStatics.allSectors.map { v =>
        s"CASE WHEN $secNorm = '$v' THEN 1 ELSE 0 END AS sector_${graft.features.Encoding.slugify(v)}"
      }
      val secVocab = graft.features.TickerStatics.allSectors
        .map(v => s"'$v'").mkString(", ")
      val ctryHots = graft.features.TickerStatics.allCountries.map { v =>
        s"CASE WHEN country = '$v' THEN 1 ELSE 0 END AS country_${graft.features.Encoding.slugify(v)}"
      }
      val ctryVocab = graft.features.TickerStatics.allCountries
        .map(v => s"'$v'").mkString(", ")
      s"""WITH profile AS (SELECT CAST(c_custkey AS VARCHAR) AS ticker,
          $secCase AS sector,
          upper(substr(n_name, 1, 1)) || lower(substr(n_name, 2, 1000)) AS country
        FROM customer JOIN nation ON c_nationkey = n_nationkey),
      base AS (SELECT ticker, country, COALESCE(sector, 'UNKNOWN') AS sector
        FROM profile)
      SELECT ticker, country, sector,
        ${secHots.mkString(",\n        ")},
        CASE WHEN $secNorm IS NULL OR $secNorm NOT IN ($secVocab)
          THEN 1 ELSE 0 END AS sector_other,
        ${ctryHots.mkString(",\n        ")},
        CASE WHEN country IS NULL OR country NOT IN ($ctryVocab)
          THEN 1 ELSE 0 END AS country_other
      FROM base ORDER BY ticker"""
    })
}
