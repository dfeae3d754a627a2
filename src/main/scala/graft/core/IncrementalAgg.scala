package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental aggregate maintenance.
  *
  * At 100 TB, "recompute the rollup" is a full-corpus scan; the scalable
  * pattern stores ALGEBRAIC partial state per ingest partition (sums,
  * counts, min/max — anything with an associative, commutative merge) and
  * folds only the NEW partition into the stored state. This module is that
  * pattern as three pure DataFrame transforms:
  *
  *   partialize: rows → per-key state  (runs once per arriving partition)
  *   merge:      state ⊎ state → state  (algebraic — a groupBy-sum, never
  *               a re-scan of finished partitions)
  *   finalize:   state → the queryable rollup (derived measures like avg
  *               computed HERE, never stored — avg doesn't merge, sum and
  *               count do)
  *
  * `merge(partialize(a), partialize(b))` ≡ `partialize(a ∪ b)` by
  * construction; q93 proves the equivalence against the plain one-shot
  * GROUP BY oracle.
  */
object IncrementalAgg {

  /** Per-key algebraic state for one measure column: decimal-exact sum
    * (order-independent under any merge tree), count of non-nulls, min,
    * max. Column names are `<m>_sum/_cnt/_min/_max` so states from
    * different partitions align positionally for merge. */
  def partialize(df: DataFrame, keys: Seq[String], measure: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        sum(col(measure).cast(DecimalType(28, 2))).as(s"${measure}_sum"),
        count(col(measure)).as(s"${measure}_cnt"),
        min(col(measure)).as(s"${measure}_min"),
        max(col(measure)).as(s"${measure}_max"))

  /** Fold any number of state frames into one. The merge is the SAME
    * aggregate shape as partialize (sum of sums, sum of counts, min of
    * mins, max of maxes) — associativity is what makes the incremental
    * path equal the one-shot path. */
  def merge(states: Seq[DataFrame], keys: Seq[String], measure: String): DataFrame = {
    require(states.nonEmpty, "merge needs at least one state frame")
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col(s"${measure}_sum")).as(s"${measure}_sum"),
        sum(col(s"${measure}_cnt")).as(s"${measure}_cnt"),
        min(col(s"${measure}_min")).as(s"${measure}_min"),
        max(col(s"${measure}_max")).as(s"${measure}_max"))
  }

  /** Derived measures off the state: total, n, bounds, exact mean. The
    * mean divides ONCE per key here — storing it would break mergeability
    * and (summed as doubles) hash-stability. */
  def finalizeState(state: DataFrame, measure: String): DataFrame =
    state.select(
      state.columns.filterNot(_.startsWith(s"${measure}_")).map(col) ++ Seq(
        col(s"${measure}_sum").cast(DoubleType).as("total"),
        col(s"${measure}_cnt").as("n"),
        col(s"${measure}_min").as("lo"),
        col(s"${measure}_max").as("hi"),
        (col(s"${measure}_sum").cast(DoubleType) /
          col(s"${measure}_cnt").cast(DoubleType)).as("mean")): _*)
}
