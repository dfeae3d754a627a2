package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{SchemaOps, SeriesOps}
import graft.features.TickerFeatures

/** End-to-end ticker feature pipeline — the Spark rebuild of the reference's
  * `ticker_batch_runner.main()` (SURVEY §3.1): grid generation (B1),
  * skip-existing incrementality (B2 as a left-anti join), the feature build
  * (B3 → one grid plan), validation (B4), merge-with-existing + keep-last
  * dedup (B5), numeric normalization round(2)/Float32 (§1.3), zstd parquet
  * (K1), content-hash change detection (K2).
  *
  * Scale: the store is written `partitionBy("ticker")` so per-ticker readers
  * prune; the merge path unions store+new and keep-last dedups with one
  * shuffle on (ticker, as_of). On a local master a small store's write and
  * reopen cost is process and job overhead, not bytes: stock Hadoop forks
  * `chmod` per created file and directory when native libhadoop is absent
  * (four per ticker partition), and reopening more than 32 partition
  * directories launches a Spark listing job. `Verify.makeSession` removes
  * both ([[graft.sinks.LocalFs]], driver-side partition discovery); the
  * store's layout and bytes stay the same.
  */
object TickerFeaturePipeline {

  /** B1: tickers × yearly as_of dates from `start` (inclusive), `n` years. */
  def grid(spark: SparkSession, tickers: DataFrame, startDate: String,
           nYears: Int): DataFrame = {
    val dates = spark.range(nYears.toLong)
      .select(add_months(lit(startDate).cast(DateType), (col("id") * 12).cast("int"))
        .as("as_of"))
    tickers.select(col("ticker")).distinct().crossJoin(dates)
  }

  /** Full run: build features for grid cells that aren't already in the
    * store (B2) and pass the reference's min-history gate — ≥260 price rows
    * at or before as_of (`has_enough_price_data`,
    * `ticker_batch_runner.py:502-506`), fused into the price aggregation —
    * then validate, normalize, merge. The sector side is the S7 ticker→ETF
    * map and ETF index. Returns the merged store frame (caller writes it
    * via [[writeStore]]). */
  def run(spark: SparkSession, gridDf: DataFrame, in: TickerFeatures.Inputs,
          tickerEtf: DataFrame, etfIndex: DataFrame,
          existing: Option[DataFrame]): DataFrame = {
    val todo = existing match {
      case Some(store) => gridDf.join(store.select("ticker", "as_of"),
        Seq("ticker", "as_of"), "left_anti") // B2 skip-existing
      case None => gridDf
    }
    val features = TickerFeatures.dynamicFeaturesSharedIndex(todo, in,
      tickerEtf, etfIndex, minPriceRows = 260, seriesPriceBlock = false)
    val validated = TickerValidation.validate(features)
    val normalized = normalize(validated)
    existing match {
      case Some(store) => merge(store, normalized)
      case None => normalized.orderBy("ticker", "as_of")
    }
  }

  /** §1.3 numeric policy: round(2) + Float32 on every numeric feature;
    * has_ flags stay Int, the cap flag stays Boolean, violations a string. */
  def normalize(df: DataFrame): DataFrame = {
    val keep = Set("ticker", "as_of", "validation_status", "violations",
      "ebit_interest_cover_capped") ++ df.columns.filter(_.startsWith("has_"))
    SchemaOps.round2f32(df, except = keep)
  }

  /** Legacy-file repair on read (reference `ticker_batch_runner.py:271-274,
    * 426-429`): stores written before the validation columns existed get
    * `validation_status`/`violations` injected as empty strings. */
  def repairLegacyStore(df: DataFrame): DataFrame = {
    val withStatus =
      if (df.columns.contains("validation_status")) df
      else df.withColumn("validation_status", lit(""))
    if (withStatus.columns.contains("violations")) withStatus
    else withStatus.withColumn("violations", lit(""))
  }

  /** B5: union store + new rows (schema-drift tolerant), keep-last per
    * (ticker, as_of) with new rows winning, sorted. */
  def merge(store: DataFrame, fresh: DataFrame): DataFrame = {
    val tagged = Seq(store.withColumn("__gen", lit(0)),
      fresh.withColumn("__gen", lit(1)))
    val unioned = SchemaOps.unionHarmonized(tagged, numericTarget = FloatType)
    SeriesOps.keepLastBy(unioned, Seq("ticker", "as_of"), Seq(col("__gen")))
      .drop("__gen")
      .orderBy("ticker", "as_of")
  }

  /** K1 (+K2): zstd parquet partitioned by ticker; returns a content hash
    * so callers detect no-op writes (Spark output isn't byte-stable — hash
    * the rows, not the files). */
  def writeStore(df: DataFrame, path: String): String = {
    val hash = contentHash(df)
    df.write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("ticker")
      .parquet(path)
    hash
  }

  /** The store's order-independent content hash, [[graft.sinks.Sinks.contentHash]]. */
  def contentHash(df: DataFrame): String = graft.sinks.Sinks.contentHash(df)

  /** B6-ish static upsert: keep-last per ticker with fresh rows winning. */
  def mergeStatic(store: DataFrame, fresh: DataFrame): DataFrame = {
    val tagged = Seq(store.withColumn("__gen", lit(0)),
      fresh.withColumn("__gen", lit(1)))
    val unioned = SchemaOps.unionHarmonized(tagged, numericTarget = IntegerType)
    SeriesOps.keepLastBy(unioned, Seq("ticker"), Seq(col("__gen")))
      .drop("__gen").orderBy("ticker")
  }

  /** B8: the one-hot projection of the static store — ticker + OHE columns
    * as Float32 fill 0.0 (`write_static_ohe_projection`). */
  def oheProjection(static: DataFrame): DataFrame = {
    val oheCols = static.columns.filter(c =>
      c.startsWith("sector_") || c.startsWith("country_"))
    static.select(col("ticker") +: oheCols.map(c =>
      coalesce(col(c).cast(FloatType), lit(0.0f)).as(c)): _*)
  }
}
