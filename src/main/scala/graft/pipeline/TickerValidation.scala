package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's dynamic-row validation, verbatim configs from
  * `/root/reference/src/dataprep/features/aggregation/validate_dynamic_row.py`:
  * V1 nullify unstable ratios, V2 range checks (8-32), V3 relative jumps
  * (54-61), V4 internal consistency (136-142), V5 status + ";"-joined
  * violations. One declarative transform over the whole feature frame —
  * the only shuffle is the jump pass's per-ticker lag window.
  */
object TickerValidation {

  /** FEATURE_RANGES (lo, hi); hi always exclusive, lo inclusive only for
    * the _LOWER_INCLUSIVE set. */
  val featureRanges: Seq[(String, Double, Double)] = Seq(
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
    ("payout_ratio", 0.0, 2.0))

  val lowerInclusive: Set[String] = Set(
    "dividend_yield", "max_drawdown_1y", "volatility", "payout_ratio",
    "pe_ratio", "pfcf_ratio", "ebit_interest_cover_capped")

  /** _REL_JUMP_CFG: (limit, prevFloor). */
  val jumpConfig: Seq[(String, Double, Double)] = Seq(
    ("pfcf_ratio", 15.0, 1.0), ("net_debt_to_ebitda", 25.0, 0.5),
    ("dividend_yield", 10.0, 0.005), ("pe_ratio", 12.0, 5.0),
    ("payout_ratio", 5.0, 0.2), ("volatility", 3.0, 0.05))

  val tiny = 1e-6
  val tinyFcf = 1.0
  val tinyEbitda = 1.0
  val tinyInterestExp = 1.0

  private def finite(c: Column): Column =
    c.isNotNull && !isnan(c) && c =!= Double.PositiveInfinity && c =!= Double.NegativeInfinity

  /** Validate a feature frame with columns from
    * TickerFeatures.dynamicFeaturesSharedIndex. `prev` ordering for jump
    * checks is per-ticker by as_of. Appends validation_status + violations;
    * nullifies unstable ratio columns in place. */
  def validate(df: DataFrame): DataFrame = {
    val hasCol = df.columns.toSet

    // --- V1 nullification (order matters: tags lead the violation list) ---
    val fcfUnstable = if (hasCol("free_cash_flow") && hasCol("pfcf_ratio"))
      Some(finite(col("free_cash_flow")) && abs(col("free_cash_flow")) <= tinyFcf) else None
    val ebitdaUnstable = if (hasCol("ebitda") && hasCol("net_debt_to_ebitda"))
      Some(finite(col("ebitda")) && abs(col("ebitda")) <= tinyEbitda) else None
    // eic: nullify when interest expense tiny (if that column exists) OR the
    // stored value is non-finite (the inf-on-cap path).
    val eicUnstable = if (hasCol("ebit_interest_cover")) {
      val tinyIe = if (hasCol("interest_expense"))
        finite(col("interest_expense")) && abs(col("interest_expense")) <= tinyInterestExp
      else lit(false)
      Some(tinyIe || !finite(col("ebit_interest_cover")))
    } else None

    val nullified = Seq(
      fcfUnstable.map(c => ("pfcf_ratio", c, "pfcf_ratio_nullified_tiny_fcf")),
      ebitdaUnstable.map(c => ("net_debt_to_ebitda", c, "nde_nullified_tiny_ebitda")),
      eicUnstable.map(c => ("ebit_interest_cover", c, "eic_nullified_unstable_or_nonfinite"))
    ).flatten

    val rewritten = nullified.foldLeft(df) { case (d, (colName, cond, _)) =>
      d.withColumn(colName, when(cond, lit(null)).otherwise(col(colName)))
    }
    val nullifyTags = nullified.map { case (_, cond, tag) => when(cond, lit(tag)) }

    // --- V2 range checks (on the nullified values, reference order) ---
    val rangeTags = featureRanges.collect {
      case (name, lo, hi) if hasCol(name) =>
        val c0 = col(name).cast("double")
        // re-derive the post-nullification value for the three rewritten cols
        val c = nullified.find(_._1 == name)
          .map { case (_, cond, _) => when(cond, lit(null)).otherwise(c0) }
          .getOrElse(c0)
        val loOk = if (lowerInclusive.contains(name)) c >= lo else c > lo
        val rng = if (lowerInclusive.contains(name)) s"[$lo, $hi)" else s"($lo, $hi)"
        when(finite(c) && !(loOk && c < hi),
          concat(lit(s"$name out-of-bounds: "), c.cast("string"), lit(s" not in $rng")))
    }

    // --- V3 relative jumps vs previous as_of row per ticker ---
    val w = Window.partitionBy("ticker").orderBy("as_of")
    val jumpTags = jumpConfig.collect {
      case (name, limit, floor) if hasCol(name) =>
        val cur = col(name).cast("double")
        val prev = lag(cur, 1).over(w)
        val ratio = abs(cur / prev)
        // validate_dynamic_row.py:133 format:
        // f"{col} abnormal change: {prev:.4f} → {cur:.4f} (×{ratio:.2f})"
        // Values are ROUNDED (HALF_UP / half-away — Spark round, DuckDB
        // round, and Python round-half-away all agree) BEFORE formatting:
        // %-formatting itself ties half-even in C/Python but HALF_UP in
        // Java, so an exactly-representable half case like ratio = 161/8 =
        // 20.125 would otherwise print ×20.13 here and ×20.12 elsewhere.
        // After rounding, the double is the nearest value to a 2/4-decimal
        // number and every formatter prints it exactly.
        when(finite(cur) && finite(prev) && abs(prev) >= math.max(floor, tiny) &&
          ratio > limit,
          concat(lit(s"$name abnormal change: "),
            format_string("%.4f", round(prev, 4)), lit(" → "),
            format_string("%.4f", round(cur, 4)),
            lit(" (×"), format_string("%.2f", round(ratio, 2)), lit(")")))
    }

    // --- V4 internal consistency ---
    val consistencyTags =
      if (hasCol("ebit_interest_cover") && hasCol("ebit_interest_cover_capped")) {
        val raw = col("ebit_interest_cover").cast("double")
        val capped = col("ebit_interest_cover_capped").cast("double")
        Seq(when(raw.isNotNull && capped.isNotNull && capped > raw + 1e-9,
          lit("eic_capped_gt_raw")))
      } else Nil

    val allTags = nullifyTags ++ rangeTags ++ jumpTags ++ consistencyTags
    rewritten
      .withColumn("violations", concat_ws(";", allTags: _*))
      .withColumn("validation_status",
        when(col("violations") === "", "ok").otherwise("flagged"))
  }
}
