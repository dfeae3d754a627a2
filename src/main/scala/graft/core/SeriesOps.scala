package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}

/** Time-series plan helpers re-expressing the reference's per-frame scalar
  * computations (SURVEY §2.6) as distributed window/aggregate expressions.
  * Every helper is a pure Column/plan builder — zero UDFs, stays inside
  * whole-stage codegen.
  */
object SeriesOps {

  /** Cumulative product over a window via exp(sum(log)).
    * Reference: `split_ratio.cum_prod()` (`engineering/utils.py:49-56`).
    * Requires strictly positive inputs (true for split ratios, 1+returns).
    * 1-ulp transcendental error — round at output boundaries if hashing.
    */
  def cumProd(c: Column, w: WindowSpec): Column =
    exp(sum(log(c)).over(w))

  /** Exact cumulative product — the custom [[graft.functions.ProductAgg]]
    * DeclarativeAggregate (handles zero/negative, no transcendental error;
    * 2.0 × 2.0 is exactly 4.0, which the split-adjustment path relies on). */
  def cumProdExact(c: Column, w: WindowSpec): Column =
    graft.functions.ProductAgg.product(c).over(w)

  /** Keep-last dedup with explicit arrival order
    * (reference `unique(subset=..., keep="last")`, `ticker_batch_runner.py:250,310,495`).
    * Spark has no positional row identity, so the caller supplies `order`
    * columns whose descending-max row wins. One shuffle on `keys`.
    */
  def keepLastBy(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Slowly-changing-dimension (type 2) intervals from a change log: one
    * row per state change with `valid_from` = the change time, `valid_to` =
    * the NEXT change time for the same key (null while current), and an
    * `is_current` flag. Several changes at one timestamp collapse to the
    * winner in `tieBreak` order first (last wins), so intervals never
    * overlap. One shuffle (the per-key window); at warehouse scale this is
    * the standard dimension-history build, incremental-friendly because
    * only keys present in the new change batch need re-deriving. */
  def buildScd2(changes: DataFrame, keys: Seq[String], tsCol: String,
                tieBreak: Seq[Column] = Nil): DataFrame = {
    // no tieBreak => caller asserts (keys, ts) is already unique
    val deduped = if (tieBreak.isEmpty) changes
      else keepLastBy(changes, keys :+ tsCol, tieBreak)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    deduped
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Running peak + max drawdown, the window form of the reference's Python
    * loop (`price_features.py:48-74`): peak = running max, drawdown =
    * max((peak - x)/peak) over the partition. Returns (peakCol, drawdownExpr)
    * building blocks; see queries for composition. */
  def runningPeak(c: Column, w: WindowSpec): Column =
    max(c).over(w.rowsBetween(Window.unboundedPreceding, 0))

  /** Split adjustment exactly as the reference's `adjust_series_for_splits`
    * (`engineering/utils.py:21-72`): each value is divided by the cumulative
    * product of split ratios at or BEFORE its date (`join_asof backward` on
    * the cum-prod, fill_null(1.0)). Rows before the first split are
    * unchanged; rows after a 2:1 split are halved — pinned by the
    * reference's own test ([1.0, 1.2, 1.5] + mid-series 2:1 → [1.0, 1.2,
    * 0.75], `test_features_utils.py:52-74`).
    *
    * Implemented as an as-of join of the cumulative ratio then a divide —
    * one shuffle on `by`, scales to arbitrarily long series.
    *
    * @param series (by, dateCol, valueCol) long-form series
    * @param splits (by, dateCol, ratioCol) split events
    */
  def adjustForSplits(series: DataFrame, splits: DataFrame, by: Seq[String],
                      dateCol: String, valueCol: String, ratioCol: String): DataFrame = {
    val w = Window.partitionBy(by.map(col): _*).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = splits
      .withColumn("__cum_ratio", cumProdExact(col(ratioCol), w))
      .select(by.map(col) :+ col(dateCol) :+ col("__cum_ratio"): _*)
    AsOf.joinBackward(series, cum, by, dateCol, Seq("__cum_ratio"))
      .withColumn(valueCol, col(valueCol) / coalesce(col("__cum_ratio"), lit(1.0)))
      .drop("__cum_ratio")
  }

  /** CAGR: (end/start)^(1/years) - 1, null-safe (reference
    * `growth_features.py:30-56`: NaN when start/end missing or <= 0). */
  def cagr(endV: Column, startV: Column, years: Column): Column =
    when(endV.isNotNull && startV.isNotNull && startV > 0 && endV > 0 && years > 0,
      pow(endV / startV, lit(1.0) / years) - 1)
}
