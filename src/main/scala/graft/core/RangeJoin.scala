package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point-in-interval aggregation without a range join.
  *
  * Spark plans a bare `p BETWEEN start AND end` join as a broadcast
  * nested-loop (or worse, a cartesian product) — quadratic work that dies
  * at scale. When the downstream is an additive per-interval aggregate,
  * no join over the pairs is needed at all: prefix sums over a daily
  * rollup answer it (DuckDB's IEJoin answers the pair join with a
  * sort-based algorithm on one node).
  */
object RangeJoin {

  /** Additive per-interval aggregation WITHOUT materializing the
    * point×interval pairs. Any pair-producing form is bound by its
    * output, and over a FIXED time domain the matched-pair mass grows
    * quadratically in corpus size (points/day × intervals both grow
    * linearly), while the aggregate itself only needs prefix sums:
    * agg(interval) = cum(end) − cum(start−1).
    *
    * Plan: one groupBy(day) over the points (the only data-scale
    * shuffle), a dense calendar spanning the observed domain, one
    * cumulative window ORDERED BY DAY — global, but over the
    * post-aggregation calendar relation, bounded by the domain's day
    * count (thousands of rows at any corpus size; PlanLint's
    * post-aggregation-bounded rule), then two broadcast-sized equi-joins
    * keyed on the interval endpoints, clamped to the domain. Intervals
    * that contain no point are dropped (inner-join semantics, matching a
    * BETWEEN join + groupBy).
    *
    * `sums`: output name → expression over the points columns; each must
    * be associative under addition at the day rollup (decimal casts keep
    * sums exact and order-independent — the QueryDef.dec convention). A
    * sum is NULL when every matched point's value is NULL, like SQL `SUM`:
    * a cumulative non-NULL count per sum tells it apart from a real 0.
    * Output: intervals columns + `n_points` + one column per `sums` key.
    */
  def intervalPrefixAgg(points: DataFrame, intervals: DataFrame,
                        pointCol: String, startCol: String, endCol: String,
                        sums: Seq[(String, Column)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = points.sparkSession
    val daily = points
      .groupBy(col(pointCol).as("__day"))
      .agg(count(lit(1)).as("__n"),
        sums.flatMap { case (n, c) =>
          Seq(sum(c).as(s"__s_$n"), count(c).as(s"__k_$n")) }: _*)
    // domain bounds: a 1-row driver reduction (bounded at any scale)
    val b = daily.agg(min(col("__day")).as("lo"), max(col("__day")).as("hi"))
      .collect()(0)
    if (b.isNullAt(0)) {
      // no points at all: inner-join semantics → empty result with the
      // full output schema
      val empty = intervals.limit(0).withColumn("n_points", lit(0L))
      return sums.foldLeft(empty) { case (df, (n, _)) =>
        df.withColumn(n, lit(null).cast(daily.schema(s"__s_$n").dataType))
      }
    }
    val (lo, hi) = (b.getDate(0), b.getDate(1))
    val calendar = spark.range(1).select(
        explode(sequence(lit(lo), lit(hi))).as("__day"))
      .join(daily, Seq("__day"), "left")
    val w = Window.orderBy("__day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = calendar.select(
      Seq(col("__day"), sum(coalesce(col("__n"), lit(0L))).over(w).as("__cn")) ++
        sums.flatMap { case (n, _) =>
          Seq(sum(col(s"__s_$n")).over(w).as(s"__c_$n"),
            sum(coalesce(col(s"__k_$n"), lit(0L))).over(w).as(s"__ck_$n")) }: _*)
      .localCheckpoint(false) // consumed by both endpoint joins
    def key(c: Column): Column =
      when(c >= lit(lo), least(c, lit(hi))) // < lo → NULL key → cum 0
    val endCum = cum.select(Seq(col("__day").as("__ek"),
      col("__cn").as("__cn_e")) ++
      sums.flatMap { case (n, _) =>
        Seq(col(s"__c_$n").as(s"__ce_$n"), col(s"__ck_$n").as(s"__cke_$n")) }: _*)
    val startCum = cum.select(Seq(col("__day").as("__sk"),
      col("__cn").as("__cn_s")) ++
      sums.flatMap { case (n, _) =>
        Seq(col(s"__c_$n").as(s"__cs_$n"), col(s"__ck_$n").as(s"__cks_$n")) }: _*)
    val joined = intervals
      .filter(col(endCol) >= col(startCol))
      .withColumn("__ek", key(col(endCol)))
      .withColumn("__sk", key(date_sub(col(startCol), 1)))
      .join(broadcast(endCum), Seq("__ek"), "left")
      .join(broadcast(startCum), Seq("__sk"), "left")
      .withColumn("n_points",
        coalesce(col("__cn_e"), lit(0L)) - coalesce(col("__cn_s"), lit(0L)))
      .filter(col("n_points") > 0)
    val withSums = sums.foldLeft(joined) { case (df, (n, _)) =>
      val zero = lit(0).cast(daily.schema(s"__s_$n").dataType)
      df.withColumn(n,
        when(coalesce(col(s"__cke_$n"), lit(0L)) - coalesce(col(s"__cks_$n"), lit(0L)) > 0,
          coalesce(col(s"__ce_$n"), zero) - coalesce(col(s"__cs_$n"), zero)))
    }
    withSums.drop(
      Seq("__ek", "__sk", "__cn_e", "__cn_s") ++
        sums.flatMap { case (n, _) =>
          Seq(s"__ce_$n", s"__cs_$n", s"__cke_$n", s"__cks_$n") }: _*)
  }
}
