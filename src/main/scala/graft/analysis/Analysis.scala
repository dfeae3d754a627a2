package graft.analysis

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.stat.Correlation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's analysis layer (SURVEY §3.3: notebook correlation
  * matrices + RandomForest feature-importance / R²) on Spark MLlib. */
object Analysis {

  /** A11: Pearson correlation matrix over `features`, long form
    * (col_a, col_b, corr), upper triangle. */
  def correlationMatrix(df: DataFrame, features: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val assembled = new VectorAssembler()
      .setInputCols(features.toArray).setOutputCol("__vec")
      .setHandleInvalid("skip")
      .transform(df)
    val m = Correlation.corr(assembled, "__vec", "pearson")
      .head.getAs[org.apache.spark.ml.linalg.Matrix](0)
    val rows = for {
      i <- features.indices
      j <- features.indices if i < j
    } yield (features(i), features(j), m(i, j))
    rows.toDF("col_a", "col_b", "corr")
  }

  /** Trees and seed of the A12 random forest. */
  private val NumTrees = 10
  private val RfSeed = 42L

  /** A12: RandomForest feature importances + R² for one target. Seeded for
    * reproducibility (tree ensembles are still partition-sensitive — treat
    * as analysis output, not an oracle surface). */
  def rfImportance(df: DataFrame, features: Seq[String], target: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val assembled = new VectorAssembler()
      .setInputCols(features.toArray).setOutputCol("__vec")
      .setHandleInvalid("skip")
      .transform(df)
      .select(col("__vec"), col(target).cast("double").as("__label"))
    // Degenerate-input guard (r11 fit sweep): handleInvalid("skip") drops
    // every row carrying a NULL feature — a source outage can empty the
    // fit input entirely, and MLlib throws on an empty fit. Zero
    // importances + NaN r2 is the honest "nothing to rank" answer.
    if (assembled.isEmpty)
      return features.map(f => (f, 0.0, Double.NaN))
        .toDF("feature", "importance", "r2")
    val rf = new RandomForestRegressor()
      .setFeaturesCol("__vec").setLabelCol("__label")
      .setNumTrees(NumTrees).setSeed(RfSeed)
    val model = rf.fit(assembled)
    val r2 = new RegressionEvaluator()
      .setLabelCol("__label").setPredictionCol("prediction").setMetricName("r2")
      .evaluate(model.transform(assembled))
    val imps = model.featureImportances.toArray
    features.zip(imps).map { case (f, imp) => (f, imp, r2) }
      .toDF("feature", "importance", "r2")
  }
}
