package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-drift tolerant union + numeric normalization.
  *
  * Re-expresses the reference's dynamic-schema machinery
  * (`/root/reference/src/dataprep/features/aggregation/ticker_batch_runner.py:178-187,
  * 286-307, 403-412`) Spark-first: `unionByName(allowMissingColumns = true)`
  * plus an explicit dtype-harmonization lattice, since Spark will not
  * auto-resolve e.g. Int vs Double unions.
  *
  * Lattice (matches the reference's history-merge rules):
  *   - NullType loses to anything.
  *   - any String => String.
  *   - Boolean + Boolean => Boolean; Boolean + numeric => numeric.
  *   - numeric + numeric => the configured numeric target (Float for the
  *     per-ticker path, Double for the global merge path — SURVEY §1.3).
  *   - Date/Timestamp kept if both sides agree, else String.
  */
object SchemaOps {

  /** Lub of two types under the harmonization lattice. */
  def harmonize(a: DataType, b: DataType, numericTarget: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, y) => y
    case (x, NullType) => x
    case (StringType, _) | (_, StringType) => StringType
    case (BooleanType, y: NumericType) => y
    case (x: NumericType, BooleanType) => x
    case (_: NumericType, _: NumericType) => numericTarget
    case _ => StringType
  }

  /** Backtick-quote a column name for use inside a resolution path: the
    * single escape rule shared by [[qcol]] and the as-of family's
    * alias-qualified carry join (one site to fix if the rule ever needs
    * another metacharacter). */
  def quoteName(name: String): String =
    s"`${name.replace("`", "``")}`"

  /** Column reference by LITERAL name: backtick-quoted so a dot inside a
    * column name stays a name instead of being parsed as a nested-field
    * path (plain `col("user.id")` fails to resolve a column literally
    * named "user.id"; backticks double-escape). */
  def qcol(name: String): Column = col(quoteName(name))

  /** Union an arbitrary number of schema-drifting frames into one frame whose
    * schema is the column superset with lattice-harmonized dtypes. Missing
    * columns become nulls. Column order: sorted superset (reference's
    * `fill_missing_columns` sorts, `ticker_batch_runner.py:178-187`).
    *
    * Scale note: this is pure plan surgery (casts + unionByName) — no extra
    * shuffle is introduced; the union is a narrow operator.
    */
  def unionHarmonized(dfs: Seq[DataFrame], numericTarget: DataType = DoubleType,
                      sortColumns: Boolean = true): DataFrame = {
    require(dfs.nonEmpty, "unionHarmonized of empty sequence")
    // Resolve target dtype per column across all frames.
    val resolved = scala.collection.mutable.LinkedHashMap[String, DataType]()
    dfs.foreach(_.schema.fields.foreach { f =>
      resolved(f.name) = resolved.get(f.name) match {
        case Some(t) => harmonize(t, f.dataType, numericTarget)
        case None => f.dataType
      }
    })
    val colOrder = if (sortColumns) resolved.keys.toSeq.sorted else resolved.keys.toSeq
    val aligned = dfs.map { df =>
      val present = df.columns.toSet
      val cols = colOrder.map { c =>
        if (present.contains(c)) qcol(c).cast(resolved(c)).as(c)
        else lit(null).cast(resolved(c)).as(c)
      }
      df.select(cols: _*)
    }
    aligned.reduce(_.unionByName(_))
  }

  /** The reference's save-path numeric policy: every numeric column
    * `round(2).cast(Float32)` (`ticker_batch_runner.py:190-198`). Done through
    * an exact decimal intermediate so the result is engine-independent (double
    * round() semantics differ between engines; decimal rounding does not).
    */
  def round2f32(df: DataFrame, except: Set[String]): DataFrame = {
    val cols = df.schema.fields.map {
      case f if !except.contains(f.name) && f.dataType.isInstanceOf[NumericType] =>
        round(col(f.name).cast(DecimalType(28, 8)), 2).cast(FloatType).as(f.name)
      case f => col(f.name)
    }
    df.select(cols.toSeq: _*)
  }
}
