package graft

import org.apache.spark.sql.functions._
import graft.analysis.{Analysis, Scoring}

/** p-family fit-surface robustness gate (r10 verdict task 7): the m-family
  * pathological sweep caught a real NULL-content NPE in round 10; the ML
  * fit surfaces (p3's RF importance, p4/p6/p7's GBT cut-probability) had
  * never seen NULL features, single-class labels, or empty walk-forward
  * windows — the degenerate shapes a real 100 TB batch WILL contain (a
  * fresh period with no history yet, a quiet period where nothing was
  * cut, a feature whose upstream source was down). The planted fixtures
  * are separable by construction, so the oracle gate cannot exercise
  * these paths; this spec pins the no-crash contract and the documented
  * fallback values. */
class MlFitDegenerateSpec extends SparkSpec {
  import spark.implicits._

  private def feat(rows: Seq[(String, String, java.lang.Double, java.lang.Double, Double)]) =
    rows.toDF("ticker", "as_of_s", "dividend_yield", "volatility", "cut_label")
      .withColumn("as_of", col("as_of_s").cast("date")).drop("as_of_s")
      .withColumn("dividend_cagr_3y", lit(0.1))
      .withColumn("max_drawdown_1y", lit(0.2))
      .withColumn("payout_ratio", lit(0.5))
      .withColumn("net_debt_to_ebitda", lit(1.0))

  private val twoClass = feat(Seq(
    ("A", "1998-01-01", 0.02, 0.1, 0.0), ("B", "1998-01-01", 0.01, 2.9, 1.0),
    ("C", "1998-01-01", 0.03, 0.2, 0.0), ("D", "1998-01-01", 0.00, 2.8, 1.0),
    ("A", "2001-01-01", 0.02, 0.1, 0.0), ("B", "2001-01-01", 0.01, 2.9, 1.0)))

  private val fitFeatures = Seq("dividend_yield", "volatility",
    "dividend_cagr_3y", "max_drawdown_1y", "payout_ratio", "net_debt_to_ebitda")

  test("fitCutProbability: single-class train falls back to the observed " +
    "class rate instead of crashing the batch") {
    val oneClass = feat(Seq(
      ("A", "1998-01-01", 0.02, 0.1, 0.0), ("B", "1998-01-01", 0.01, 0.2, 0.0),
      ("C", "1998-01-01", 0.03, 0.3, 0.0), ("D", "2001-01-01", 0.02, 0.1, 0.0)))
    val (scored, auc) = Scoring.fitCutProbability(
      oneClass, "cut_label", cutoff = "2000-01-01", features = fitFeatures)
    val probs = scored.select("cut_prob").as[Double].collect()
    assert(probs.length == 4 && probs.forall(_ == 0.0),
      "all-negative train → constant P(cut)=0 (the observed rate)")
    assert(auc.isNaN) // single-class holdout has no ROC either
    // the all-positive mirror
    val allCut = feat(Seq(
      ("A", "1998-01-01", 0.02, 2.9, 1.0), ("B", "1998-01-01", 0.01, 2.8, 1.0),
      ("C", "2001-01-01", 0.03, 2.7, 1.0)))
    val (scored1, _) = Scoring.fitCutProbability(
      allCut, "cut_label", cutoff = "2000-01-01", features = fitFeatures)
    assert(scored1.select("cut_prob").as[Double].collect().forall(_ == 1.0))
  }

  test("fitCutProbability: EMPTY pre-cutoff train (a walk-forward window " +
    "before any history) falls back to the neutral prior") {
    val lateOnly = feat(Seq(
      ("A", "2001-01-01", 0.02, 0.1, 0.0), ("B", "2001-06-01", 0.01, 2.9, 1.0)))
    val (scored, auc) = Scoring.fitCutProbability(
      lateOnly, "cut_label", cutoff = "2000-01-01", features = fitFeatures)
    val probs = scored.select("cut_prob").as[Double].collect()
    assert(probs.length == 2 && probs.forall(_ == 0.5),
      "no train rows → P(cut)=0.5 neutral prior, batch survives")
    assert(auc.isNaN)
  }

  test("fitCutProbability: NULL features survive the fit (handleInvalid " +
    "keep) and empty post-cutoff holdout reports NaN AUC") {
    val withNulls = feat(Seq(
      ("A", "1998-01-01", null, 0.1, 0.0), ("B", "1998-02-01", 0.01, null, 1.0),
      ("C", "1998-03-01", 0.03, 0.2, 0.0), ("D", "1998-04-01", null, null, 1.0),
      ("E", "1998-05-01", 0.02, 0.3, 0.0), ("F", "1998-06-01", 0.00, 2.8, 1.0)))
    // every as_of < cutoff → holdout empty (the r10 contract: auc = NaN)
    val (scored, auc) = Scoring.fitCutProbability(
      withNulls, "cut_label", cutoff = "2000-01-01", features = fitFeatures)
    val probs = scored.select("cut_prob").as[Double].collect()
    assert(probs.length == 6 && probs.forall(p => !p.isNaN && p >= 0.0 && p <= 1.0),
      "NULL features must yield finite probabilities in [0,1]")
    assert(auc.isNaN)
  }

  test("rfImportance: constant target, NULL-feature rows, and a " +
    "single-row frame produce defined output instead of crashing") {
    // constant target: no variance to explain → importances well-defined
    val const = Seq((1.0, 2.0, 5.0), (2.0, 1.0, 5.0), (3.0, 3.0, 5.0))
      .toDF("f1", "f2", "y")
    val r1 = Analysis.rfImportance(const, Seq("f1", "f2"), "y")
      .collect()
    assert(r1.length == 2 && r1.forall(r => !r.getDouble(1).isNaN))
    // all rows carry a NULL feature: handleInvalid("skip") empties the fit
    // input — must fall back (zero importances, NaN r2), not crash
    val allNull = Seq((Option.empty[Double], 2.0, 1.0),
        (Option.empty[Double], 1.0, 2.0))
      .toDF("f1", "f2", "y")
    val r2 = Analysis.rfImportance(allNull, Seq("f1", "f2"), "y")
      .collect()
    assert(r2.length == 2 && r2.forall(r => r.getDouble(1) == 0.0),
      "empty post-skip fit input → zero importances")
    assert(r2.forall(r => r.getDouble(2).isNaN), "empty fit input → NaN r2")
    // single row: degenerate but fittable
    val one = Seq((1.0, 2.0, 3.0)).toDF("f1", "f2", "y")
    val r3 = Analysis.rfImportance(one, Seq("f1", "f2"), "y")
      .collect()
    assert(r3.length == 2)
  }

  test("constructPortfolio: nothing eligible (all cut_prob over the cap) " +
    "and NULL group columns survive with weights summing to 1 when " +
    "anything is selected") {
    val scored = Scoring.score(twoClass
      .withColumn("cut_prob", lit(0.99)))
      .withColumn("sector", lit(null).cast("string"))
    val empty = Scoring.constructPortfolio(scored, n = 2, maxCutProb = 0.25)
    assert(empty.count() == 0, "nothing eligible → empty portfolio, no crash")
    val scored2 = Scoring.score(twoClass.withColumn("cut_prob", lit(0.1)))
      .withColumn("sector", lit(null).cast("string")) // one NULL group
    val picked = Scoring.constructPortfolio(scored2, n = 2, maxCutProb = 0.9)
    val ws = picked.select("weight").as[Double].collect()
    assert(ws.nonEmpty && math.abs(ws.sum - 1.0) < 1e-12,
      "NULL sector rows form one group; selected weights sum to 1")
  }
}
