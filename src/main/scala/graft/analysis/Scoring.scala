package graft.analysis

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's ML phases 3-5 (README.md:78-115 — described there but
  * `src/training/placeholder.py` is empty, SURVEY §0) built Spark-native:
  *
  *  - Phase 3: dividend-cut probability via MLlib `GBTClassifier` (the
  *    MLlib-native stand-in for XGBoost) with a walk-forward split on
  *    as_of (train strictly before the cutoff — no lookahead) and ROC-AUC
  *    evaluation.
  *  - Phase 4: `Final Score = AdjYield*0.5 + DivGrowth*0.3 + Stability*0.2`
  *    with AdjYield = yield * (1 - cutProb), DivGrowth = log-scaled/capped
  *    CAGR, Stability from (1-cutProb), drawdown, volatility, payout, debt.
  *  - Phase 5: equal-weight portfolio with <= maxPerGroup weight per
  *    country/sector and a minimum group count — fully declarative (rank
  *    windows), no driver-side loop, so it scales to any universe size.
  */
object Scoring {

  val defaultFeatures = Seq("dividend_yield", "payout_ratio", "volatility",
    "max_drawdown_1y", "net_debt_to_ebitda", "pe_ratio", "6m_return",
    "12m_return")

  /** Phase 3: fit on rows with as_of < `cutoff`, score all rows, return
    * (scored frame with cut_prob, holdout ROC-AUC). */
  def fitCutProbability(dfIn: DataFrame, labelCol: String, cutoff: String,
                        features: Seq[String] = defaultFeatures,
                        seed: Long = 42L): (DataFrame, Double) = {
    // materialize once: boosting iterates over the input many times, and an
    // unmaterialized upstream plan (e.g. the whole feature pipeline) would
    // re-execute per iteration. Respect a caller-owned cache (Spark caching
    // has no refcounting — unpersisting a frame the caller persisted would
    // evict THEIR cache).
    val callerCached = dfIn.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    // NULL/NaN features impute to 0.0 FOR THE FIT ONLY (r11 fit sweep find:
    // handleInvalid("keep") assembles NULL as NaN, and MLlib's tree binning
    // raises "Vector values MUST NOT be NaN" — one row with a missing
    // feature would kill the whole batch). The imputation lives in shadow
    // __f* columns; every caller-visible column comes back untouched, so
    // the score formula's per-column coalesce defaults still see the real
    // NULLs.
    val safeNames = features.indices.map(i => s"__f$i")
    // The shadow names share the frame with caller columns; a caller column
    // literally named __f<digits> would collide (duplicate names make the
    // VectorAssembler input ambiguous, and the final drop would remove the
    // caller's column). Fail loudly instead of corrupting either.
    require(!dfIn.columns.exists(_.matches("__f\\d+")),
      "fitCutProbability reserves column names __f<digits> for shadow " +
        "imputation; rename the caller's " +
        dfIn.columns.filter(_.matches("__f\\d+")).mkString(", "))
    val dfSafe = dfIn.select(col("*") +: features.zipWithIndex.map {
      case (f, i) =>
        val c = col(f).cast("double")
        when(c.isNull || isnan(c), lit(0.0)).otherwise(c).as(s"__f$i")
    }: _*)
    val df = if (callerCached) dfSafe else dfSafe.persist()
    val assembler = new VectorAssembler()
      .setInputCols(safeNames.toArray).setOutputCol("__vec")
      .setHandleInvalid("keep")
    val gbt = new GBTClassifier()
      .setFeaturesCol("__vec").setLabelCol(labelCol)
      .setMaxIter(10).setMaxDepth(4).setSeed(seed)
      .setProbabilityCol("__prob")
    val pipeline = new Pipeline().setStages(Array(assembler, gbt))

    val train = df.filter(col("as_of") < lit(cutoff).cast("date"))
    val holdout = df.filter(col("as_of") >= lit(cutoff).cast("date"))
    // Degenerate-train guard (r11 fit sweep): a walk-forward window with no
    // history yet, or a period where nothing was cut, gives GBT an empty or
    // single-class train — MLlib throws, and one quiet period must not kill
    // a 100 TB batch. Fall back to the observed class rate (empty → the
    // 0.5 neutral prior): for 0/1 labels the single class IS the constant
    // P(cut). Bounded probe: distinct-limit-2 over the label column.
    val classes = train.select(col(labelCol).cast("double").as("__l"))
      .filter(col("__l").isNotNull).distinct().limit(2)
      .collect().map(_.getDouble(0))
    if (classes.length < 2) {
      val const = if (classes.isEmpty) 0.5 else classes.head
      if (!callerCached) df.unpersist()
      return (dfIn.withColumn("cut_prob", lit(const)), Double.NaN)
    }
    val model = pipeline.fit(train)

    val auc = if (holdout.isEmpty) Double.NaN
    else new BinaryClassificationEvaluator()
      .setLabelCol(labelCol).setRawPredictionCol("__prob")
      .setMetricName("areaUnderROC")
      .evaluate(model.transform(holdout))

    val scored = udfFree(model.transform(df))
    // the fits above have consumed the cached input; release executor memory
    // before handing back the scored frame (which is lazy — callers whose
    // input is expensive and not checkpointed should persist it themselves).
    if (!callerCached) df.unpersist()
    (scored, auc)
  }

  /** Extract P(cut=1) from the MLlib probability vector without a UDF
    * (vector_to_array is codegen-friendly). */
  private def udfFree(scored: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    scored.withColumn("cut_prob", element_at(vector_to_array(col("__prob")), 2))
      .drop("__vec", "__prob", "rawPrediction", "prediction")
      // exactly the shadow imputation columns — a caller column that merely
      // starts with __f must survive
      .drop(scored.columns.filter(_.matches("__f\\d+")).toSeq: _*)
  }

  private def clamp01(c: Column): Column = least(greatest(c, lit(0.0)), lit(1.0))

  /** Phase 4 score formula. Expects feature columns + cut_prob. */
  def score(df: DataFrame, growthCap: Double = 0.30): DataFrame = {
    val adjYield = coalesce(col("dividend_yield"), lit(0.0)) * (lit(1.0) - col("cut_prob"))
    // log-scaled, capped growth from the 3y dividend CAGR (README: "3-5Y
    // CAGR, log-scaled/capped"); NaN CAGR -> 0 growth credit.
    val cagr = when(col("dividend_cagr_3y").isNotNull && !isnan(col("dividend_cagr_3y")),
      col("dividend_cagr_3y")).otherwise(0.0)
    val divGrowth = log1p(clamp01(cagr / growthCap) * growthCap) / math.log1p(growthCap)
    val stability = (
      (lit(1.0) - col("cut_prob")) +
      (lit(1.0) - clamp01(coalesce(col("max_drawdown_1y"), lit(1.0)))) +
      (lit(1.0) - clamp01(coalesce(col("volatility"), lit(3.0)) / 3.0)) +
      (lit(1.0) - clamp01(coalesce(col("payout_ratio"), lit(2.0)) / 2.0)) +
      (lit(1.0) - clamp01(coalesce(col("net_debt_to_ebitda"), lit(20.0)) / 20.0))
    ) / 5.0
    df.withColumn("adj_yield", adjYield)
      .withColumn("div_growth", divGrowth)
      .withColumn("stability", stability)
      .withColumn("final_score",
        col("adj_yield") * 0.5 + col("div_growth") * 0.3 + col("stability") * 0.2)
  }

  private def perGroupCap(n: Int, maxPerGroup: Double): Int =
    math.max(1, math.floor(maxPerGroup * n).toInt)

  /** Phase 5: equal-weight top-N portfolio under a per-group weight cap.
    * Pre-filter: cut_prob < maxCutProb (README: 0.25). Declarative: rank
    * within each group, keep at most floor(maxPerGroup*N) per group, then
    * global top N by score. */
  def constructPortfolio(scored: DataFrame, n: Int,
                         groupCols: Seq[String] = Seq("sector"),
                         maxPerGroup: Double = 0.2,
                         maxCutProb: Double = 0.25): DataFrame = {
    val eligible = scored.filter(col("cut_prob") < maxCutProb)
    val wGroup = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("final_score").desc, col("ticker"))
    // weight = 1/selected: the eligibility filter or group cap can leave
    // fewer than n names, and portfolio weights must still sum to 1.
    val wAll = Window.partitionBy()
    // global top-N as sort+limit, NOT a row_number window: this plans as
    // TakeOrderedAndProject (per-partition top-N, then merge) instead of
    // moving every capped row to one partition — the (score, ticker) order
    // is total, so the selected set is identical. The weight window is
    // global but sits above the N-row limit, so it sorts N rows.
    eligible
      .withColumn("__grp_rank", row_number().over(wGroup))
      .filter(col("__grp_rank") <= perGroupCap(n, maxPerGroup))
      .orderBy(col("final_score").desc, col("ticker"))
      .limit(n)
      .withColumn("weight", lit(1.0) / count(lit(1)).over(wAll))
      .drop("__grp_rank")
  }

  /** The DuckDB twin of [[score]] (default growth cap) followed by
    * [[constructPortfolio]], as the CTEs `scored`, `final`, `grp`, `ranked`
    * and `port` (the selected rows with their `weight`). `feat` names a CTE
    * with ticker, the `groupCols`, cut_prob and the score's feature columns
    * (dividend_yield, dividend_cagr_3y, max_drawdown_1y, volatility,
    * payout_ratio, net_debt_to_ebitda); every other `feat` column passes
    * through, as the Spark form's `withColumn` keeps it. */
  def portfolioSql(feat: String, n: Int, groupCols: Seq[String],
                   maxPerGroup: Double, maxCutProb: Double): String = {
    def clamp01(x: String) = s"least(greatest($x, 0.0), 1.0)"
    val cagr = "CASE WHEN dividend_cagr_3y IS NOT NULL AND NOT isnan(dividend_cagr_3y)" +
      " THEN dividend_cagr_3y ELSE 0.0 END"
    s"""scored AS (
        SELECT *,
          COALESCE(dividend_yield, 0.0) * (1.0 - cut_prob) AS adj_yield,
          ln(1.0 + ${clamp01(s"$cagr / 0.30")} * 0.30) / ln(1.0 + 0.30) AS div_growth,
          ((1.0 - cut_prob)
           + (1.0 - ${clamp01("COALESCE(max_drawdown_1y, 1.0)")})
           + (1.0 - ${clamp01("COALESCE(volatility, 3.0) / 3.0")})
           + (1.0 - ${clamp01("COALESCE(payout_ratio, 2.0) / 2.0")})
           + (1.0 - ${clamp01("COALESCE(net_debt_to_ebitda, 20.0) / 20.0")})) / 5.0
            AS stability
        FROM $feat),
      final AS (
        SELECT *, adj_yield * 0.5 + div_growth * 0.3 + stability * 0.2
          AS final_score
        FROM scored WHERE cut_prob < $maxCutProb),
      grp AS (
        SELECT *, row_number() OVER (PARTITION BY ${groupCols.mkString(", ")}
            ORDER BY final_score DESC, ticker) AS gr
        FROM final),
      ranked AS (
        SELECT *, row_number() OVER (ORDER BY final_score DESC, ticker) AS rk
        FROM grp WHERE gr <= ${perGroupCap(n, maxPerGroup)}),
      port AS (
        SELECT *, 1.0 / COUNT(*) OVER () AS weight
        FROM (SELECT * FROM ranked WHERE rk <= $n))"""
  }
}
