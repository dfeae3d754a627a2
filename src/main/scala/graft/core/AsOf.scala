package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.SchemaOps.qcol

/** As-of (backward) join — the reference's `join_asof(strategy="backward")`
  * (`/root/reference/src/dataprep/features/engineering/utils.py:60`).
  *
  * Spark has no native as-of join; this is the union + `last(ignoreNulls)`
  * window construction: tag both sides, union on (keys..., time), sort within
  * each key partition, carry the right side's values forward, keep left rows.
  *
  * Scale: ONE shuffle on the `by` keys (the window partition); no broadcast
  * or nested-loop range join. Both inputs are shuffled once regardless of
  * size skew between sides, which is the right trade at 100 TB where both
  * sides are large. For a tiny right side, broadcast+filter would also work,
  * but this form is uniformly safe.
  *
  * Two forms per direction, chosen by key shape:
  *   - uniform keys: the plain window form ([[joinBackward]] /
  *     [[joinForward]]). It beat a custom co-partitioned merge exec at every
  *     recorded scale (registry q6 vs the exec on q6's shape: 0.106 vs
  *     0.188 s at sf0.1 in bench_detail.json, 0.259 vs 0.800 s at sf1 in
  *     BENCH_sf1.json, 0.27 vs 2.43 s over 10M events in NOTES_r5).
  *   - hot keys: the bucketed form ([[joinBackwardBucketed]] /
  *     [[joinForwardBucketed]]), whose window sort is bounded per
  *     (key, time bucket) instead of per key — a window has no AQE skew
  *     mitigation, so one hot key is otherwise one sort task.
  *
  * NULL semantics (DuckDB `ASOF LEFT JOIN ... ON` key equality, the
  * oracle): a right row with a NULL time or a NULL in any `by` key never
  * matches; a left row with a NULL time or a NULL key stays in the output
  * with NULL matched values.
  */
object AsOf {

  /** Left as-of-backward join.
    *
    * For each left row, attaches `valueCols` from the latest right row with
    * `right(timeCol) <= left(timeCol)` within the same `by` keys (ties on the
    * time column resolve to the right row — i.e. "at or before", inclusive).
    * Right rows that share an exact timestamp with a left row ARE visible to
    * that left row. If several right rows share one timestamp, the last one
    * in `tieBreak` order wins (pass e.g. a sequence column for determinism).
    * The matched row's values attach ATOMICALLY — a NULL in one value column
    * of the matched right row stays NULL (Polars `join_asof` semantics),
    * it is not backfilled from an older right row.
    *
    * @param left      left frame; must contain `by` and `timeCol`
    * @param right     right frame; must contain `by`, `timeCol`, `valueCols`
    * @param by        equality keys (e.g. ticker / user_id)
    * @param timeCol   ordering column name, present on both sides
    * @param valueCols right columns to attach
    * @param tieBreak  optional extra ordering among same-timestamp right rows
    */
  def joinBackward(left: DataFrame, right: DataFrame, by: Seq[String],
                   timeCol: String, valueCols: Seq[String],
                   tieBreak: Seq[Column] = Nil): DataFrame =
    joinPlain(forward = false, left, right, by, timeCol, valueCols, tieBreak)

  /** Left as-of-FORWARD join: attaches `valueCols` from the EARLIEST right
    * row with `right(timeCol) >= left(timeCol)` within the same `by` keys
    * ("at or after", inclusive — a right row at the exact left timestamp
    * matches). Among several right rows sharing that earliest timestamp the
    * FIRST in `tieBreak` order wins. Same single-shuffle union+window
    * construction as [[joinBackward]], with time order REVERSED so the
    * frame stays `[unboundedPreceding, current]`:
    *
    * Spark evaluates an unbounded-PRECEDING frame incrementally (O(n) per
    * partition, one running aggregate) but an unbounded-FOLLOWING frame by
    * re-aggregating the remaining rows for EVERY row — O(n²) per
    * partition. A naive `[current, unboundedFollowing] + first()` forward
    * frame hung the 100M-row deep-history rehearsal (6.7k rows/key made
    * it ~45M frame-rows per key); sorting `timeCol` DESC and carrying
    * `last(ignoreNulls)` is the same semantics in the O(n) shape. The
    * mirror is exact: right rows sort before left at equal time
    * (equal-time rights visible), and `tieBreak.desc` makes the running
    * `last` resolve equal-time rights to the FIRST in tieBreak order.
    *
    * `tieBreak` columns may carry explicit .asc/.desc/nulls orderings —
    * [[reverseSort]] flips direction AND null placement, so the reversed
    * plan preserves exactly the ordering the caller declared.
    */
  def joinForward(left: DataFrame, right: DataFrame, by: Seq[String],
                  timeCol: String, valueCols: Seq[String],
                  tieBreak: Seq[Column] = Nil): DataFrame =
    joinPlain(forward = true, left, right, by, timeCol, valueCols, tieBreak)

  /** Shared body of the two plain forms; the direction varies only in the
    * time sort direction and the reversal of `tieBreak`.
    *
    * NULLs: right rows with a NULL time or a NULL key are dropped before
    * the union, so a NULL-key left row finds no right row in its window
    * partition; the time sorts NULLS FIRST in both directions, so a
    * NULL-time left row precedes every right row of its key and carries
    * nothing. */
  private def joinPlain(forward: Boolean, left: DataFrame, right: DataFrame,
                        by: Seq[String], timeCol: String,
                        valueCols: Seq[String],
                        tieBreak: Seq[Column]): DataFrame = {
    requirePlainReserved(left, right)
    require(!left.columns.exists(valueCols.contains),
      s"value columns ${valueCols.mkString(",")} collide with left columns")

    // side: right=0 sorts before left=1 at equal time => right visible to left.
    val taggedLeft = left.withColumn("__side", lit(1))
    val taggedRight = right.filter(notNull(timeCol +: by)).select(
      (by.map(qcol) :+ qcol(timeCol) :+ lit(0).as("__side")) ++ valueCols.map(qcol): _*)

    val unioned = SchemaOps.unionHarmonized(Seq(taggedLeft, taggedRight), sortColumns = false)

    val timeOrder =
      if (forward) qcol(timeCol).desc_nulls_first else qcol(timeCol).asc
    val tieOrder = if (forward) tieBreak.map(reverseSort) else tieBreak
    val w = Window.partitionBy(by.map(qcol): _*)
      .orderBy((timeOrder +: col("__side").asc +: tieOrder): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    // Carry ONE struct of all value columns so the whole matched right row
    // wins atomically: per-column last(ignoreNulls) would mix columns from
    // different right rows when the matched row holds a NULL.
    val packed = unioned.withColumn("__asof_row",
      when(col("__side") === 0, struct(valueCols.map(qcol): _*)))
      .withColumn("__asof_row", last(col("__asof_row"), ignoreNulls = true).over(w))
    val unpacked = valueCols.foldLeft(packed) { (df, v) =>
      df.withColumn(v, col("__asof_row").getField(v))
    }
    unpacked.filter(col("__side") === 1).drop("__side", "__asof_row")
  }

  /** SKEW-RESISTANT left as-of-backward join: identical semantics to
    * [[joinBackward]], but the per-key serial cost is bounded by a TIME
    * BUCKET instead of the key's full history. [[joinBackward]]'s window
    * partitions on the `by` keys, so one hot key (one user producing 30%
    * of a 100 TB event stream) becomes ONE sort task that AQE cannot
    * split — windows, unlike sort-merge joins, have no skew mitigation.
    * Here both sides get `__b = bucketOf(timeCol)` (any monotone
    * non-decreasing integral bucketing — hour/day ordinals) and the work
    * splits into:
    *
    *   1. in-bucket pass: [[joinBackward]] partitioned by (keys..., __b) —
    *      the hot key's rows spread across its buckets, each window
    *      partition bounded by one bucket's rows;
    *   2. carry-in: per (key, bucket) the latest build row (one max_by
    *      aggregate — partial aggregation absorbs the skew), then an
    *      as-of on the BUCKET ORDINAL (probe bucket p matches build
    *      buckets ≤ p−1) over these aggregate rows — a window over
    *      #buckets-per-key rows, independent of row counts;
    *   3. a probe row takes its in-bucket match if one exists (any
    *      same-bucket row at-or-before dominates every earlier-bucket row
    *      by bucket monotonicity), else its bucket's carry-in.
    *
    * Match atomicity (a matched right row with NULL values stays NULL) is
    * preserved: the in-bucket pass carries a non-null marker inside the
    * matched struct, and the carry-in is a whole-row struct.
    *
    * Trade-off vs [[joinBackward]]: two extra shuffles (carry aggregate +
    * joining it back). Worth it when keys are skewed or single-key
    * histories outgrow one task; the plain form wins on uniform small
    * keys. Width picks the parallelism: hot-key rows per bucket is the
    * new straggler bound.
    *
    * @param bucketOf monotone non-decreasing map from `timeCol` to an
    *   integral bucket ordinal, applied identically to both sides (e.g.
    *   `c => floor(unix_micros(c) / lit(3600000000L)).cast("long")`)
    */
  def joinBackwardBucketed(left: DataFrame, right: DataFrame, by: Seq[String],
                           timeCol: String, valueCols: Seq[String],
                           bucketOf: Column => Column,
                           tieBreak: Seq[Column] = Nil): DataFrame =
    joinBucketed(forward = false, left, right, by, timeCol, valueCols,
      bucketOf, tieBreak)

  /** SKEW-RESISTANT as-of-FORWARD join — [[joinBackwardBucketed]] mirrored:
    * in-bucket pass is [[joinForward]] on (keys..., bucket); the carry is
    * the EARLIEST build row per (key, bucket) (min = first in tieBreak
    * order) looked up via an as-of FORWARD on the bucket ordinal (probe
    * bucket p matches build buckets ≥ p+1). An in-bucket match dominates
    * every later-bucket row by bucket monotonicity. Same reserved columns,
    * same match-marker atomicity, same width trade-offs. */
  def joinForwardBucketed(left: DataFrame, right: DataFrame, by: Seq[String],
                          timeCol: String, valueCols: Seq[String],
                          bucketOf: Column => Column,
                          tieBreak: Seq[Column] = Nil): DataFrame =
    joinBucketed(forward = true, left, right, by, timeCol, valueCols,
      bucketOf, tieBreak)

  /** Shared body of the two bucketed forms. The direction varies in exactly
    * four places: the carry keeps the LATEST (backward, max_by / last in
    * tieBreak order) vs EARLIEST (forward, min_by / first) build row per
    * (key, bucket); the carry lookup targets bucket p−1 (backward) vs p+1
    * (forward); and both the carry as-of and the in-bucket pass use the
    * matching plain form. Everything else — reserved-column guards,
    * bucketing, null-safe carry attach, match-marker atomicity — is
    * direction-independent, so fixes stay single-sited. tieBreak columns
    * must be BARE here (unlike the plain forms, which honor explicit
    * orderings): the carry aggregate orders by struct(timeCol,
    * tieBreak...), and a SortOrder inside struct() fails analysis
    * loudly. */
  private def joinBucketed(forward: Boolean, left: DataFrame, right: DataFrame,
                           by: Seq[String], timeCol: String,
                           valueCols: Seq[String], bucketOf: Column => Column,
                           tieBreak: Seq[Column]): DataFrame = {
    val reserved = Seq("__b", "__m", "__carry_row", "__bt")
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"columns ${reserved.mkString(",")} are reserved")
    require(!left.columns.exists(valueCols.contains),
      s"value columns ${valueCols.mkString(",")} collide with left columns")

    val lb = left.withColumn("__b", bucketOf(qcol(timeCol)).cast("long"))
    // a build row with a NULL time or key never matches, so it must not
    // reach the carry aggregate either, whatever bucket `bucketOf` gives it
    val rb = right.filter(notNull(timeCol +: by))
      .withColumn("__b", bucketOf(qcol(timeCol)).cast("long"))

    // carry-in: the boundary build row per (key, bucket) — equal-time ties
    // resolve like the plain window (backward keeps the last in tieBreak
    // order, forward the first); then as-of on the bucket ordinal so probe
    // bucket p sees the nearest build bucket strictly before/after it
    val ord = struct((qcol(timeCol) +: tieBreak): _*)
    val carryRow = struct(valueCols.map(qcol): _*)
    val carryAgg = rb.groupBy((by.map(qcol) :+ col("__b")): _*)
      .agg((if (forward) min_by(carryRow, ord) else max_by(carryRow, ord))
        .as("__carry_row"))
      .withColumn("__bt", col("__b")).drop("__b")
    val probeBuckets = lb.select((by.map(qcol) :+ col("__b")): _*).distinct()
      .withColumn("__bt", col("__b") + (if (forward) 1 else -1))
    val carry = joinPlain(forward, probeBuckets, carryAgg, by, "__bt",
      Seq("__carry_row"), Nil).drop("__bt")

    // in-bucket pass: the proven union+window machinery, with the bucket
    // folded into the partition key; __m marks "a row matched" so a
    // matched-but-NULL value is not backfilled from the carry.
    val inBucket = joinPlain(forward,
      attachCarry(lb, carry, by),
      rb.withColumn("__m", lit(0)),
      by :+ "__b", timeCol, valueCols :+ "__m", tieBreak)

    val resolved = valueCols.foldLeft(inBucket) { (df, v) =>
      df.withColumn(v,
        when(col("__m").isNotNull, qcol(v)).otherwise(col("__carry_row").getField(v)))
    }
    resolved.drop("__b", "__m", "__carry_row")
  }

  /** Every one of `cols` is non-NULL. */
  private def notNull(cols: Seq[String]): Column =
    cols.map(c => qcol(c).isNotNull).reduce(_ && _)

  /** The plain forms' working columns: inputs carrying them would be
    * silently overwritten by withColumn and dropped on exit, so reject
    * them loudly — the same contract the bucketed forms enforce for
    * __b/__m/__carry_row/__bt. */
  private def requirePlainReserved(left: DataFrame, right: DataFrame): Unit = {
    val reserved = Seq("__side", "__asof_row")
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"columns ${reserved.mkString(",")} are reserved")
  }

  /** Reverse a sort specification: a bare column becomes .desc; a column
    * already carrying an explicit SortOrder flips BOTH its direction and
    * its null placement (asc nulls-first -> desc nulls-last etc.), so the
    * reversed-order joinForward plan preserves exactly the tie ordering
    * the caller declared. Naive `_.desc` on a SortOrder-wrapped column
    * nests SortOrder inside SortOrder and fails analysis. Delegates to the
    * sql-package bridge: Spark 4 columns are node trees and the SortOrder
    * node companion is `private[sql]`. */
  private def reverseSort(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.reverseSort(c)

  /** Left-join the per-(key, bucket) carry row back to the probe side. No
    * carry row has a NULL key (the build side drops them), so plain `=`
    * equality is exact: a NULL-key or NULL-bucket probe row keeps a NULL
    * carry. */
  private def attachCarry(lb: DataFrame, carry: DataFrame,
                          by: Seq[String]): DataFrame = {
    val l = lb.alias("__l")
    val c = carry.alias("__c")
    // SchemaOps.quoteName keeps a literal dot in a key name a name, not a
    // nested-field path — one escape rule shared with qcol
    val cond = (by :+ "__b")
      .map { k =>
        val q = SchemaOps.quoteName(k)
        col(s"__l.$q") === col(s"__c.$q")
      }.reduce(_ && _)
    l.join(c, cond, "left").select(col("__l.*"), col("__c.__carry_row"))
  }
}
