package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for 100 TB-scale joins and holistic aggregations.
  *
  * Context: AQE's skew-join handling (on by default in our sessions) splits
  * oversized sort-merge partitions automatically, and Catalyst already does
  * map-side partial aggregation for algebraic aggregates — neither needs
  * hand-rolling. What still skews:
  *   - shuffle HASH joins on a hot key (AQE skew handling is SMJ-only
  *     pre-3.5; and a single hot key still lands on one task),
  *   - holistic aggregates (collect_list / percentile / countDistinct) on a
  *     hot group.
  * These helpers salt those paths explicitly.
  */
object Skew {

  /** Salted inner equi-join: the skewed (big) side gets a deterministic
    * salt in [0, factor); the small side is replicated `factor` times; the
    * join key becomes (keys..., salt). One hot key now spreads over
    * `factor` tasks. Inner only: an outer join would emit one unmatched
    * small-side row per salt.
    *
    * The salt derives from murmur3 of ALL the big side's columns (cheap,
    * deterministic under retries — never `rand()`, which breaks task
    * re-execution semantics).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 factor: Int): DataFrame = {
    require(factor > 1, "salt factor must be > 1")
    val saltedBig = big.withColumn("__salt",
      pmod(hash(big.columns.map(col).toSeq: _*), lit(factor)))
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(factor - 1))))
    saltedBig.join(replicatedSmall, keys :+ "__salt", "inner")
      .drop("__salt")
  }

  /** Two-phase holistic aggregation for a skewed group key: phase 1
    * aggregates per (keys, salt) partial groups, phase 2 merges partials.
    * Caller supplies both phases (e.g. collect_list -> flatten, or
    * count-distinct via partial sets). */
  def twoPhaseAgg(df: DataFrame, keys: Seq[String], factor: Int,
                  partial: Seq[Column], merge: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.map(col).toSeq: _*), lit(factor)))
    salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(partial.head, partial.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(merge.head, merge.tail: _*)
  }

  /** Exact distinct count over a skewed key via two shuffles on
    * progressively finer keys (the classic count-distinct expansion that
    * avoids one giant hash set per group). */
  def skewSafeCountDistinct(df: DataFrame, keys: Seq[String],
                            distinctCol: String): DataFrame =
    df.select((keys.map(col) :+ col(distinctCol)): _*)
      .distinct() // shuffle on (keys, value): cardinality-bounded partitions
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(s"n_distinct_$distinctCol"))
}
