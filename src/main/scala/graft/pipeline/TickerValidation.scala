package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Validation
import graft.operators.Validation.{ConsistencyRule, JumpRule, NullifyRule, RangeRule, finite}

/** The reference's dynamic-row validation config, verbatim from
  * `validate_dynamic_row.py`: V1 unstable-ratio nullification, V2
  * FEATURE_RANGES (8-32), V3 _REL_JUMP_CFG (54-61), V4 internal
  * consistency (136-142), run through [[Validation.validate]] per ticker
  * by as_of.
  */
object TickerValidation {

  /** FEATURE_RANGES (lo, hi); hi always exclusive, lo inclusive only for
    * the _LOWER_INCLUSIVE set. */
  val rangeRules: Seq[RangeRule] = {
    val lowerInclusive = Set(
      "dividend_yield", "max_drawdown_1y", "volatility", "payout_ratio",
      "pe_ratio", "pfcf_ratio", "ebit_interest_cover_capped")
    Seq(
      ("6m_return", -1.0, 10.0), ("12m_return", -1.0, 20.0),
      ("volatility", 0.0, 3.0), ("max_drawdown_1y", 0.0, 1.0),
      ("sector_relative_6m", -1.0, 1.0), ("sma_50_200_delta", -1.0, 1.0),
      ("net_debt_to_ebitda", -10.0, 20.0),
      ("ebit_interest_cover_capped", 0.0, 200.0),
      ("eps_cagr_3y", -1.0, 5.0), ("fcf_cagr_3y", -1.0, 5.0),
      ("dividend_yield", 0.0, 0.25),
      ("dividend_cagr_3y", -1.0, 3.0), ("dividend_cagr_5y", -1.0, 3.0),
      ("yield_vs_5y_median", -0.75, 0.75),
      ("pe_ratio", 0.0, 300.0), ("pfcf_ratio", 0.0, 500.0),
      ("payout_ratio", 0.0, 2.0)
    ).map { case (name, lo, hi) => RangeRule(name, lo, hi, lowerInclusive(name)) }
  }

  /** _REL_JUMP_CFG: (name, limit, prevFloor). */
  val jumpRules: Seq[JumpRule] = Seq(
    JumpRule("pfcf_ratio", 15.0, 1.0), JumpRule("net_debt_to_ebitda", 25.0, 0.5),
    JumpRule("dividend_yield", 10.0, 0.005), JumpRule("pe_ratio", 12.0, 5.0),
    JumpRule("payout_ratio", 5.0, 0.2), JumpRule("volatility", 3.0, 0.05))

  val tinyFcf = 1.0
  val tinyEbitda = 1.0
  val tinyInterestExp = 1.0

  /** Validate a feature frame with columns from
    * TickerFeatures.dynamicFeaturesSharedIndex: each rule runs when the
    * columns it reads are present. */
  def validate(df: DataFrame): DataFrame = {
    val has = df.columns.toSet
    def tinyAbs(c: String, tinyVal: Double) = finite(col(c)) && abs(col(c)) <= tinyVal
    val nullifies = Seq(
      Option.when(has("free_cash_flow") && has("pfcf_ratio"))(
        NullifyRule("pfcf_ratio", tinyAbs("free_cash_flow", tinyFcf),
          "pfcf_ratio_nullified_tiny_fcf")),
      Option.when(has("ebitda") && has("net_debt_to_ebitda"))(
        NullifyRule("net_debt_to_ebitda", tinyAbs("ebitda", tinyEbitda),
          "nde_nullified_tiny_ebitda")),
      // eic: interest expense tiny (when present) or a non-finite stored
      // value (the inf-on-cap path)
      Option.when(has("ebit_interest_cover")) {
        val tinyIe =
          if (has("interest_expense")) tinyAbs("interest_expense", tinyInterestExp)
          else lit(false)
        NullifyRule("ebit_interest_cover",
          tinyIe || !finite(col("ebit_interest_cover")),
          "eic_nullified_unstable_or_nonfinite")
      }).flatten
    val consistencies =
      if (has("ebit_interest_cover") && has("ebit_interest_cover_capped")) {
        val raw = col("ebit_interest_cover").cast("double")
        val capped = col("ebit_interest_cover_capped").cast("double")
        Seq(ConsistencyRule(raw.isNotNull && capped.isNotNull && capped > raw + 1e-9,
          "eic_capped_gt_raw"))
      } else Nil
    Validation.validate(df, nullifies,
      rangeRules.filter(r => has(r.colName)),
      jumpRules.filter(r => has(r.colName)),
      consistencies, entityCols = Seq("ticker"), orderCols = Seq("as_of"))
  }
}
