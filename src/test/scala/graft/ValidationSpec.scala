package graft

import org.apache.spark.sql.functions._
import graft.operators.Validation
import graft.operators.Validation.NullifyRule
import graft.queries.Relational

/** The validation engine ([[Validation.validate]]) on the rules q23 and q24
  * run: NULL, NaN and ±Inf pass, lower bounds are inclusive, upper bounds
  * exclusive, and the violation strings are pinned byte for byte (the
  * DuckDB twins print the same text from the same rules). */
class ValidationSpec extends SparkSpec {
  import spark.implicits._

  private val nan = Double.NaN
  private val inf = Double.PositiveInfinity

  test("q23 rules: range bounds, non-finite values and the consistency tag") {
    val lineitem = Seq[(Long, Option[Double], Option[Double], Option[Double])](
      (1L, Some(1.0), Some(0.0), Some(10.0)),
      (2L, Some(45.0), Some(0.09), Some(10.0)),
      (3L, Some(0.5), Some(0.08), Some(0.0)),
      (4L, Some(nan), Some(-0.01), Some(10.0)),
      (5L, Some(inf), Some(nan), Some(10.0)),
      (6L, Some(-inf), Some(inf), Some(10.0)),
      (7L, None, None, None),
      (8L, Some(44.0), Some(0.1), Some(-5.0)))
      .toDF("l_orderkey", "l_quantity", "l_discount", "l_extendedprice")
    val got = Relational.q23Validate(lineitem)
      .select("l_orderkey", "validation_status", "violations").orderBy("l_orderkey")
      .as[(Long, String, String)].collect().toSeq
    assert(got == Seq(
      (1L, "ok", ""),
      (2L, "flagged", "l_quantity out-of-bounds: 45.0 not in [1.0, 45.0);" +
        "l_discount out-of-bounds: 0.09 not in [0.0, 0.09)"),
      (3L, "flagged", "l_quantity out-of-bounds: 0.5 not in [1.0, 45.0);" +
        "l_extendedprice: nonpositive"),
      (4L, "flagged", "l_discount out-of-bounds: -0.01 not in [0.0, 0.09)"),
      (5L, "ok", ""),
      (6L, "ok", ""),
      (7L, "ok", ""),
      (8L, "flagged", "l_discount out-of-bounds: 0.1 not in [0.0, 0.09);" +
        "l_extendedprice: nonpositive")))
  }

  test("q24 rule: jump floor, limit, non-finite neighbours and round-half ratio") {
    def d(day: Int) = java.sql.Date.valueOf(f"2024-01-$day%02d")
    val orders = Seq[(Long, Long, java.sql.Date, Option[Double])](
      (1L, 1L, d(1), Some(800.0)),
      (1L, 2L, d(2), Some(16100.0)), // 161/8 = 20.125, exactly representable
      (1L, 3L, d(3), Some(nan)),
      (1L, 4L, d(4), Some(50000.0)),
      (2L, 5L, d(1), Some(99.0)),
      (2L, 6L, d(2), Some(1000.0)), // prev below the 100 floor
      (2L, 7L, d(3), Some(3000.0)), // ratio exactly the limit
      (2L, 8L, d(4), Some(inf)),
      (2L, 9L, d(5), Some(10.0)),
      (3L, 10L, d(1), None),
      (3L, 11L, d(2), Some(500.0)),
      (3L, 12L, d(2), Some(-1600.0))) // same date: o_orderkey breaks the tie
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val got = Relational.q24Validate(orders)
      .select("o_orderkey", "validation_status", "violations").orderBy("o_orderkey")
      .as[(Long, String, String)].collect().toSeq
    val flagged = Map(
      2L -> "o_totalprice abnormal change: 800.0000 → 16100.0000 (×20.13)",
      12L -> "o_totalprice abnormal change: 500.0000 → -1600.0000 (×3.20)")
    assert(got == (1L to 12L).map(k =>
      flagged.get(k).fold((k, "ok", ""))(v => (k, "flagged", v))))
  }

  test("a nullify rule tags the value it nulls, even when its predicate reads that column") {
    val df = Seq(("a", 10.0), ("b", 1.0)).toDF("k", "x")
    val got = Validation.validate(df,
      nullifies = Seq(NullifyRule("x", col("x") > 5, "x_nullified_big")))
      .orderBy("k").select("x", "violations").collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSeq
    assert(got == Seq((None, "x_nullified_big"), (Some(1.0), "")))
  }
}
