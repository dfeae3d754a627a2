package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, StringType}

/** The reference's validation engine (SURVEY §2.10,
  * `validate_dynamic_row.py`) as one DataFrame transform, in its pass
  * order: V1 nullify, V2 ranges and V3 relative jumps on the nullified
  * values, V4 consistency, V5 the ";"-joined `violations` and
  * `validation_status`. The only shuffle is the jump pass's lag window.
  *
  * Each range and jump rule defines its Spark tag and, beside it, the
  * DuckDB form (`tagSql`) the oracle twins splice in; both print the same
  * bytes under two rules:
  *   - V2 prints the value via CAST AS STRING: Java's `Double.toString`
  *     and DuckDB's `::VARCHAR` agree only on the shortest-repr envelope
  *     [1e-3, 1e7) (outside it Java switches to E-notation), so a value
  *     that can be printed must stay inside it.
  *   - V3 rounds before it formats: `%.4f`/`%.2f` tie half-even in C
  *     (DuckDB `printf`) but HALF_UP in Java, while `round` goes half away
  *     from zero in both engines (ratio 161/8 = 20.125 prints ×20.13). A
  *     decimal tie that is not a binary one (1.00005) can still round
  *     apart (Spark rounds the shortest decimal form, DuckDB x·10^k in
  *     binary), so printed values must keep off such ties.
  */
object Validation {

  /** Tag-family markers: every V2 tag contains [[OutOfBounds]], every V3
    * tag [[AbnormalChange]]; V1 tags name their rewrite with "nullified". */
  val OutOfBounds = "out-of-bounds"
  val AbnormalChange = "abnormal change"

  /** The run-stats violation breakdown: output column -> tag-family marker. */
  private val families = Seq(
    "n_range" -> OutOfBounds, "n_jump" -> AbnormalChange, "n_nullified" -> "nullified")

  /** Per-family row counts over a violations column (BIGINT counts). */
  def familyCounts(violations: Column): Seq[Column] = families.map { case (n, m) =>
    count(when(violations.contains(m), 1)).as(n)
  }

  /** [[familyCounts]] as DuckDB select items. */
  def familyCountsSql(violations: String): String = families.map { case (n, m) =>
    s"count(CASE WHEN $violations LIKE '%$m%' THEN 1 END) AS $n"
  }.mkString(",\n        ")

  /** The reference's `_TINY`: the least |prev| a jump rule divides by. */
  private val tiny = 1e-6

  /** Not NULL, not NaN, not ±Inf. */
  def finite(c: Column): Column =
    c.isNotNull && !isnan(c) && c =!= Double.PositiveInfinity && c =!= Double.NegativeInfinity

  /** V1: when `unstableWhen` holds, null `colName` and emit `tag`. */
  final case class NullifyRule(colName: String, unstableWhen: Column, tag: String)

  /** V2: a finite value outside [lo, hi) (or (lo, hi) unless
    * `lowerInclusive`) emits `"<col> out-of-bounds: <value> not in <range>"`;
    * NULL, NaN and ±Inf pass. */
  final case class RangeRule(colName: String, lo: Double, hi: Double,
                             lowerInclusive: Boolean) {
    private val range = if (lowerInclusive) s"[$lo, $hi)" else s"($lo, $hi)"
    private val prefix = s"$colName $OutOfBounds: "

    def tag: Column = {
      val c = col(colName).cast(DoubleType)
      val loOk = if (lowerInclusive) c >= lo else c > lo
      when(finite(c) && !(loOk && c < hi),
        concat(lit(prefix), c.cast(StringType), lit(s" not in $range")))
    }

    /** [[tag]] over the DOUBLE SQL expression `c`. */
    def tagSql(c: String): String = {
      val loOk = if (lowerInclusive) s"$c >= $lo" else s"$c > $lo"
      s"""CASE WHEN isfinite($c) AND NOT ($loOk AND $c < $hi)
         THEN '$prefix' || CAST($c AS VARCHAR) || ' not in $range' END"""
    }
  }

  /** V3: with `prev` the entity's previous value, finite `cur` and `prev`,
    * |prev| >= max(prevFloor, [[tiny]]) and |cur/prev| > limit emit
    * `"<col> abnormal change: <prev %.4f> → <cur %.4f> (×<ratio %.2f>)"`. */
  final case class JumpRule(colName: String, limit: Double, prevFloor: Double) {
    private val floor = math.max(prevFloor, tiny)
    private val prefix = s"$colName $AbnormalChange: "

    def value: Column = col(colName).cast(DoubleType)

    def tag(prev: Column): Column = {
      val cur = value
      val ratio = abs(cur / prev)
      when(finite(cur) && finite(prev) && abs(prev) >= floor && ratio > limit,
        concat(lit(prefix),
          format_string("%.4f", round(prev, 4)), lit(" → "),
          format_string("%.4f", round(cur, 4)),
          lit(" (×"), format_string("%.2f", round(ratio, 2)), lit(")")))
    }

    /** [[tag]] over the DOUBLE SQL expressions `c` and its lag `prev`. */
    def tagSql(c: String, prev: String): String =
      s"""CASE WHEN isfinite($c) AND isfinite($prev)
           AND abs($prev) >= $floor AND abs($c / $prev) > $limit
         THEN printf('$prefix%.4f → %.4f (×%.2f)',
           round($prev, 4), round($c, 4), round(abs($c / $prev), 2)) END"""
  }

  /** V4: a predicate over the nullified row => `tag`. */
  final case class ConsistencyRule(predicate: Column, tag: String)

  /** Single-pass pipeline observability: `df.observe` attaches aggregate
    * metrics (row count, null counts, value bounds) that are computed
    * DURING whatever action consumes the frame — at 100 TB a separate
    * stats scan doubles the I/O bill; observed metrics ride the existing
    * pass for free (they run as accumulator-backed aggregates, no extra
    * shuffle, no extra scan). Returns the instrumented frame plus the
    * Observation handle; call `obs.get` AFTER an action completes. */
  def observedStats(df: DataFrame, cols: Seq[String]): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val metrics: Seq[Column] =
      count(lit(1)).as("n_rows") +:
      cols.flatMap { c =>
        Seq(count_if(col(c).isNull).as(s"${c}_nulls"),
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))
      }
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** Apply V1-V5. Nullify rules rewrite their target columns in place, in
    * order, each predicate reading the row as the rules before it left it;
    * appends `violations` and `validation_status`.
    *
    * @param entityCols partition keys of the jump pass's lag window
    * @param orderCols  its ordering (a unique composite, so ties cannot
    *                   make the previous row ambiguous)
    */
  def validate(df: DataFrame,
               nullifies: Seq[NullifyRule] = Nil,
               ranges: Seq[RangeRule] = Nil,
               jumps: Seq[JumpRule] = Nil,
               consistencies: Seq[ConsistencyRule] = Nil,
               entityCols: Seq[String] = Nil,
               orderCols: Seq[String] = Nil): DataFrame = {
    require(jumps.isEmpty || orderCols.nonEmpty, "jump rules need orderCols")
    // each V1 tag is taken in the same projection as its rewrite, so a
    // predicate on the target column itself still sees the old value
    val v1Tags = nullifies.indices.map(i => s"__v1_tag_$i")
    val nullified = nullifies.zip(v1Tags).foldLeft(df) { case (d, (r, t)) =>
      d.withColumns(Map(
        t -> when(r.unstableWhen, lit(r.tag)),
        r.colName -> when(r.unstableWhen, lit(null)).otherwise(col(r.colName))))
    }
    val w = Window.partitionBy(entityCols.map(col): _*).orderBy(orderCols.map(col): _*)
    val tags = v1Tags.map(col) ++
      ranges.map(_.tag) ++
      jumps.map(j => j.tag(lag(j.value, 1).over(w))) ++
      consistencies.map(r => when(r.predicate, lit(r.tag)))
    nullified
      .withColumn("violations", concat_ws(";", tags: _*))
      .withColumn("validation_status",
        when(col("violations") === "", "ok").otherwise("flagged"))
      .drop(v1Tags: _*)
  }
}
