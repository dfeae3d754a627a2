package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One judged query: a Spark plan over the testdata tables plus (when
  * SQL-expressible) the equivalent DuckDB oracle SQL. Column names MUST
  * match between the two — the driver sorts columns by name and hashes
  * values. Every query orders its output by a unique key so row order is
  * deterministic on both engines.
  */
/** `twins`: for a query with NO oracle (rows-only by design — sketch
  * hashes the oracle engine cannot replay, ML fits, the full-store build),
  * the names of the ORACLE-GATED queries that sandwich its construction
  * (an md5-basis twin of the same pipeline, or value-judges of its
  * output). Machine-checked: the registry refuses a
  * no-oracle query with no declared twins or a twin that is missing /
  * itself oracle-less, and the compare gate fails the rows-only query
  * when a declared twin fails — the sandwich argument stops living in
  * prose. */
final case class QueryDef(name: String,
                          fn: (SparkSession, String) => DataFrame,
                          oracle: Option[String],
                          twins: Seq[String] = Nil)

object QueryDef {
  /** Registry invariants, enforced on every SparkEntry.allDefs evaluation
    * (so Verify and every registry-touching spec fail loudly): unique
    * names; every no-oracle (rows-only) query declares ≥1 sandwich twin;
    * every declared twin exists and is itself oracle-gated. */
  def validate(defs: Seq[QueryDef]): Unit = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names would shadow registry entries: $dups")
    val byName = defs.map(d => d.name -> d).toMap
    defs.filter(_.oracle.isEmpty).foreach { d =>
      require(d.twins.nonEmpty,
        s"${d.name} has no oracle and declares no sandwich twins — " +
          "rows-only queries must name the oracle-gated queries that judge " +
          "their construction (QueryDef.twins)")
    }
    defs.filter(_.twins.nonEmpty).foreach { d =>
      d.twins.foreach { t =>
        val td = byName.getOrElse(t, throw new IllegalArgumentException(
          s"requirement failed: ${d.name} declares twin '$t' which is not " +
            "in the registry"))
        require(td.oracle.nonEmpty,
          s"${d.name} declares twin '$t' which has no oracle — a rows-only " +
            "twin cannot carry the sandwich")
      }
    }
  }

  /** Exact money arithmetic: decimal cast so sums are order-independent
    * (double sums vary with shuffle arrival order — parity hazard). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal sum rendered as double — bit-identical to DuckDB's
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`. */
  def moneySum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  val ONE: Column = lit(1).cast(DecimalType(18, 2))

  /** 64-dim dot product as DuckDB SQL — the identical sequential left-fold
    * (in index order, doubles) as [[graft.functions.VectorExprs]], so both
    * engines produce the same bits (the e2-proven construction). Shared by
    * the embedding oracles so the formulation cannot fork. */
  def dotSql64(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** Cosine with the zero-norm guard mirroring CosineSim's NULL: without
    * it DuckDB yields NaN, which is GREATER than everything in its
    * ordering and comparisons (NaN >= t is TRUE), while Spark's NULL
    * drops out of filters and sorts last under DESC — a zero vector would
    * silently diverge any gate built on the unguarded form. */
  def cosSql64(a: String, b: String): String =
    s"""CASE WHEN ${dotSql64(a, a)} > 0 AND ${dotSql64(b, b)} > 0
      THEN ${dotSql64(a, b)} / (sqrt(${dotSql64(a, a)}) * sqrt(${dotSql64(b, b)})) END"""
  /** The price-block CTE chain of the DuckDB oracles, the SQL form of
    * `TickerFeatures.priceBlock`: `rets` (daily returns), `psliced` (grid ⟕
    * returns at or before as_of), `pstaged` (descending rank, drawdown
    * window flag), `pdd` (running-peak drawdown) and `pagg`, one row per
    * cell with p_now, p6, p12, sd, sma50, sma200, pn, n_dd and max_dd.
    * `prices` names a (ticker, date, close) CTE and `grid` a (ticker,
    * as_of) CTE; `sector365` adds the stock side of the 365-day sector
    * window to `pagg` (s_first, s_last, s_n). Shared by the oracles so the
    * formulation cannot fork. */
  def priceBlockCtes(prices: String, grid: String, sector365: Boolean): String = {
    val in365 = if (!sector365) "" else """,
          (date BETWEEN (as_of - INTERVAL 365 DAY)::DATE AND as_of) AS in365"""
    val sectorAggs = if (!sector365) "" else """,
          arg_min(CASE WHEN in365 THEN close END, CASE WHEN in365 THEN date END) AS s_first,
          arg_max(CASE WHEN in365 THEN close END, CASE WHEN in365 THEN date END) AS s_last,
          count(CASE WHEN in365 THEN 1 END) AS s_n"""
    s"""rets AS (
        SELECT ticker, date, close,
               close / lag(close) OVER (PARTITION BY ticker ORDER BY date) - 1 AS ret
        FROM $prices),
      psliced AS (
        SELECT g.ticker, g.as_of, r.date, r.close, r.ret
        FROM $grid g LEFT JOIN rets r ON r.ticker = g.ticker AND r.date <= g.as_of),
      pstaged AS (
        SELECT *,
          (count(*) OVER (PARTITION BY ticker, as_of)
           - row_number() OVER (PARTITION BY ticker, as_of ORDER BY date) + 1) AS rn_desc,
          (date >= (max(date) OVER (PARTITION BY ticker, as_of) - INTERVAL 380 DAY)::DATE) AS in_dd$in365
        FROM psliced),
      pdd AS (
        SELECT *,
          CASE WHEN in_dd THEN
            (max(CASE WHEN in_dd THEN close END) OVER (
               PARTITION BY ticker, as_of ORDER BY date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - close)
            / max(CASE WHEN in_dd THEN close END) OVER (
               PARTITION BY ticker, as_of ORDER BY date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          END AS dd
        FROM pstaged),
      pagg AS (
        SELECT ticker, as_of,
          arg_max(close, date) AS p_now,
          arg_max(CASE WHEN date <= (as_of - INTERVAL 6 MONTH)::DATE THEN close END,
                  CASE WHEN date <= (as_of - INTERVAL 6 MONTH)::DATE THEN date END) AS p6,
          arg_max(CASE WHEN date <= (as_of - INTERVAL 12 MONTH)::DATE THEN close END,
                  CASE WHEN date <= (as_of - INTERVAL 12 MONTH)::DATE THEN date END) AS p12,
          stddev_samp(ret) AS sd,
          avg(CASE WHEN rn_desc <= 50 THEN close END) AS sma50,
          avg(CASE WHEN rn_desc <= 200 THEN close END) AS sma200,
          count(date) AS pn,
          sum(CASE WHEN in_dd THEN 1 ELSE 0 END) AS n_dd,
          max(dd) AS max_dd$sectorAggs
        FROM pdd GROUP BY 1, 2)"""
  }

  /** The five price outputs of `TickerFeatures.priceOutputs` over the
    * `pagg` columns of [[priceBlockCtes]], as select items ret6, ret12,
    * vol, mdd and smad. */
  val priceOutputsSql: String =
    """CASE WHEN p6 IS NOT NULL AND p_now IS NOT NULL
            THEN (p_now - p6) / p6 ELSE 0.0 END AS ret6,
          CASE WHEN p12 IS NOT NULL AND p_now IS NOT NULL
            THEN (p_now - p12) / p12 ELSE 0.0 END AS ret12,
          COALESCE(sd * sqrt(CAST(252.0 AS DOUBLE)), 0.0) AS vol,
          CASE WHEN pn < 2 OR n_dd < 2 THEN 0.0 ELSE COALESCE(max_dd, 0.0) END AS mdd,
          CASE WHEN pn >= 200 THEN
            CASE WHEN sma200 <> 0 THEN (sma50 - sma200) / sma200 ELSE 0.0 END
          END AS smad"""

  /** `TickerFeatures.cagr` as a SQL expression: the CAGR over `years` from
    * `start` to `end`, NaN when the count `n` is below 2 or either value
    * is missing or <= 0. */
  def cagrSql(n: String, start: String, end: String, years: Int): String =
    s"""CASE WHEN $n >= 2 AND $start IS NOT NULL AND $start > 0
                 AND $end IS NOT NULL AND $end > 0
            THEN pow($end / $start, CAST(1.0 AS DOUBLE) / $years) - 1
            ELSE CAST('NaN' AS DOUBLE) END"""

  /** The statement-block CTE chain of the DuckDB oracles, the SQL form of
    * `TickerFeatures.ratiosBlock` (and, with `withFundamentals`, of
    * `fundamentalsBlock` and `incomeGrowthBlock`): `fsliced` (grid ⟕
    * statement rows at or before as_of), `fmarked` (the yield, P/E-P/FCF,
    * payout and ±90-day CAGR-start validity flags against the cell's end
    * date) and `fund`, one row per cell with the row count fn and the
    * picks dy_last, y_cur, y_med, y_n, pe_l, pfcf_l, po_l, fcf_end and
    * fcf_start. `stm` names a (ticker, date, dy, pe, pfcf, po, fcf) CTE;
    * `withFundamentals` also reads its eps, nde_row, eic_row and cap_row
    * and adds the picks nde_l, eic_l, cap_l, eps_end and eps_start. */
  def statementBlockCtes(stm: String, grid: String, withFundamentals: Boolean): String = {
    val fundCols = if (!withFundamentals) "" else ", r.eps, r.nde_row, r.eic_row, r.cap_row"
    val fundAggs = if (!withFundamentals) "" else """
          arg_max(nde_row, date) AS nde_l,
          arg_max(eic_row, date) AS eic_l,
          arg_max(cap_row, date) AS cap_l,
          arg_max(eps, date) AS eps_end,
          arg_max(CASE WHEN fw THEN eps END, CASE WHEN fw THEN date END) AS eps_start,"""
    s"""fsliced AS (
        SELECT g.ticker, g.as_of, r.date, r.dy, r.pe, r.pfcf, r.po, r.fcf$fundCols
        FROM $grid g LEFT JOIN $stm r ON r.ticker = g.ticker AND r.date <= g.as_of),
      fmarked AS (
        SELECT *,
          (dy IS NOT NULL AND dy > 0 AND
           date >= ((end_date - INTERVAL 60 MONTH) - INTERVAL 90 DAY)::DATE) AS yv,
          (pe > 0 AND pfcf > 0) AS pv,
          (po IS NOT NULL AND po > 0) AS pov,
          (date BETWEEN ((end_date - INTERVAL 1095 DAY) - INTERVAL 90 DAY)::DATE
                    AND ((end_date - INTERVAL 1095 DAY) + INTERVAL 90 DAY)::DATE) AS fw
        FROM (SELECT *, max(date) OVER (PARTITION BY ticker, as_of) AS end_date
              FROM fsliced)),
      fund AS (
        SELECT ticker, as_of,
          count(date) AS fn,$fundAggs
          arg_max(dy, date) AS dy_last,
          arg_max(CASE WHEN yv THEN dy END, CASE WHEN yv THEN date END) AS y_cur,
          quantile_cont(CASE WHEN yv THEN dy END, 0.5) AS y_med,
          count(CASE WHEN yv THEN 1 END) AS y_n,
          arg_max(CASE WHEN pv THEN pe END, CASE WHEN pv THEN date END) AS pe_l,
          arg_max(CASE WHEN pv THEN pfcf END, CASE WHEN pv THEN date END) AS pfcf_l,
          arg_max(CASE WHEN pov THEN po END, CASE WHEN pov THEN date END) AS po_l,
          arg_max(fcf, date) AS fcf_end,
          arg_max(CASE WHEN fw THEN fcf END, CASE WHEN fw THEN date END) AS fcf_start
        FROM fmarked GROUP BY 1, 2)"""
  }

  /** The ratio outputs of `TickerFeatures.ratiosOutputs` over the `fund`
    * columns of [[statementBlockCtes]], as select items divy, yvm, pe_r,
    * pfcf_r and po_r. */
  val ratiosOutputsSql: String =
    """CASE WHEN fn > 0 THEN COALESCE(dy_last, 0.0) ELSE 0.0 END AS divy,
          CASE WHEN fn < 2 THEN CAST('NaN' AS DOUBLE)
               WHEN y_n = 0 THEN CAST('NaN' AS DOUBLE)
               WHEN y_med = 0 THEN 0.0
               ELSE (y_cur - y_med) / y_med END AS yvm,
          COALESCE(pe_l, 0.0) AS pe_r,
          COALESCE(pfcf_l, 0.0) AS pfcf_r,
          COALESCE(po_l, 0.0) AS po_r"""

  /** The dividend-block CTE chain of the DuckDB oracles, the SQL form of
    * `TickerFeatures.dividendBlock`: `adj` (each dividend divided by the
    * product of the split ratios at or before its date, the twin of
    * `SeriesOps.adjustForSplits`), `dsliced` (grid ⟕ adjusted dividends at
    * or before as_of), `dmarked` (the ±3-month start windows 3 and 5 years
    * before the cell's end date) and `dagg`, one row per cell with d_end,
    * s3, s5 and the row count dn. `divs` names a (ticker, date, dividend)
    * CTE and `splits` a (ticker, date, ratio) CTE. */
  def dividendBlockCtes(divs: String, splits: String, grid: String): String =
    s"""adj AS (
        SELECT v.ticker, v.date,
          v.dividend / COALESCE((SELECT product(s.ratio) FROM $splits s
            WHERE s.ticker = v.ticker AND s.date <= v.date), 1.0) AS dividend
        FROM $divs v),
      dsliced AS (
        SELECT g.ticker, g.as_of, a.date, a.dividend
        FROM $grid g LEFT JOIN adj a ON a.ticker = g.ticker AND a.date <= g.as_of),
      dmarked AS (
        SELECT *,
          (date BETWEEN ((end_date - INTERVAL 1095 DAY) - INTERVAL 3 MONTH)::DATE
                    AND ((end_date - INTERVAL 1095 DAY) + INTERVAL 3 MONTH)::DATE) AS w3,
          (date BETWEEN ((end_date - INTERVAL 1825 DAY) - INTERVAL 3 MONTH)::DATE
                    AND ((end_date - INTERVAL 1825 DAY) + INTERVAL 3 MONTH)::DATE) AS w5
        FROM (SELECT *, max(date) OVER (PARTITION BY ticker, as_of) AS end_date
              FROM dsliced)),
      dagg AS (
        SELECT ticker, as_of,
          arg_max(dividend, date) AS d_end,
          arg_max(CASE WHEN w3 THEN dividend END, CASE WHEN w3 THEN date END) AS s3,
          arg_max(CASE WHEN w5 THEN dividend END, CASE WHEN w5 THEN date END) AS s5,
          count(date) AS dn
        FROM dmarked GROUP BY 1, 2)"""
}
