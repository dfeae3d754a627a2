package graft

import org.apache.spark.sql.functions._

/** Pins the w4/w5 composed-row drive (DynamicRow): the full
  * dynamicFeaturesSharedIndex → validate chain over the lineitem-derived
  * inputs must produce both statuses, fire every violation family the
  * construction promises, and keep the has_ flag quirk (flags computed
  * PRE-validation, so a nullified eic still reads has_=1). Value-level
  * parity is the DuckDB oracle's job; these pin the structural contract at
  * sf0.001.
  */
class DynamicRowSpec extends SparkSpec {

  private lazy val rows =
    graft.queries.DynamicRow.defs.head.fn(spark, "/root/testdata/sf0.001")
      .cache()

  test("w4: both statuses present; flagged rows carry non-empty violations") {
    val byStatus = rows.groupBy("validation_status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.getOrElse("flagged", 0L) > 0, s"no flagged rows: $byStatus")
    assert(byStatus.getOrElse("ok", 0L) > 0, s"no ok rows: $byStatus")
    assert(rows.filter(col("validation_status") === "flagged" &&
      col("violations") === "").count() === 0)
    assert(rows.filter(col("validation_status") === "ok" &&
      col("violations") =!= "").count() === 0)
  }

  test("w4: range tags fire and carry the exact reference message shape") {
    val tagged = rows.filter(col("violations").contains("out-of-bounds"))
    assert(tagged.count() > 0)
    val v = tagged.select("violations").head.getString(0)
    assert(v.matches(".*out-of-bounds: -?[0-9.]+ not in [\\[(]-?[0-9.]+, -?[0-9.]+\\).*"), v)
  }

  test("w4: nullified eic keeps has_ebit_interest_cover = 1 (pre-validation flag quirk)") {
    val nulled = rows.filter(col("violations").contains("eic_nullified"))
    if (nulled.count() > 0) {
      // the stored value was +Inf (non-NaN, non-null) when flags were computed
      assert(nulled.filter(col("has_ebit_interest_cover") =!= 1).count() === 0)
      assert(nulled.filter(col("ebit_interest_cover").isNotNull).count() === 0)
    }
    // the quirk itself is deterministic: flags never disagree with the
    // pre-validation nullability of their source column for CAGRs
    assert(rows.filter(col("has_dividend_cagr_3y") === 1 &&
      (col("dividend_cagr_3y").isNull || isnan(col("dividend_cagr_3y")))).count() === 0)
  }

  test("w5: statusCounts totals equal the row counts and drive Sinks.runStats") {
    val stats = graft.sinks.Sinks.statusCounts(
      graft.queries.DynamicRow.validatedRow(spark, "/root/testdata/sf0.001"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byStatus = rows.groupBy("validation_status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats === byStatus)
    val rs = graft.sinks.Sinks.runStats(
      graft.queries.DynamicRow.validatedRow(spark, "/root/testdata/sf0.001"),
      "t0", "t1")
    assert(rs.total === byStatus.values.sum)
    assert(rs.flagged === byStatus.getOrElse("flagged", 0L))
    // one engine-made tag of each family, one flagged row each
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val tagged = graft.pipeline.TickerValidation.validate(Seq(
      ("R", d("2024-01-01"), 999.0, 5.0),
      ("J", d("2023-01-01"), 0.01, 5.0),
      ("J", d("2024-01-01"), 0.2, 5.0),
      ("N", d("2024-01-01"), 0.02, Double.PositiveInfinity))
      .toDF("ticker", "as_of", "dividend_yield", "ebit_interest_cover"))
    val families = graft.sinks.Sinks.statusCounts(tagged)
      .select("validation_status", "n", "n_tickers", "n_range", "n_jump", "n_nullified")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(families === Set(("flagged", 3L, 3L, 1L, 1L, 1L), ("ok", 1L, 1L, 0L, 0L, 0L)))
  }

  test("memoized-build hygiene: a fresh dynamic-row build leaves only its " +
    "own final checkpoint persisted — interior checkpoints (the shared " +
    "base aggregate, the fused cell layer) are freed once the row " +
    "materializes (RoundCheckpointer.materializeFinal)") {
    val sc = spark.sparkContext
    graft.queries.DynamicRow.clearMaterialized()
    val before = sc.getPersistentRDDs.keySet.toSet
    // drive through the registry fn so the memoized store path is the one
    // measured (the bench/verify path)
    graft.queries.DynamicRow.defs.head.fn(spark, "/root/testdata/sf0.001").count()
    val leaked = (sc.getPersistentRDDs.keySet.toSet -- before).size
    assert(leaked <= 1, s"dynamic-row build left $leaked persisted RDDs " +
      "(want <=1: the memoized final row only)")
    graft.queries.Pipeline.clearMaterialized()
    val before2 = sc.getPersistentRDDs.keySet.toSet
    graft.SparkEntry.queries("p1_ticker_pipeline")(spark, "/root/testdata/sf0.001").count()
    val leaked2 = (sc.getPersistentRDDs.keySet.toSet -- before2).size
    assert(leaked2 <= 1, s"p1 build left $leaked2 persisted RDDs " +
      "(want <=1: the memoized feature table only)")
  }

  test("materializeFinal composes with an outer sweepShuffles bracket " +
    "(the bench hygiene mode wraps every query in one — r14 sf10 sweep " +
    "failed all six materializeFinal queries) but still refuses to nest " +
    "inside another materializeFinal") {
    val sc = spark.sparkContext
    graft.queries.DynamicRow.clearMaterialized()
    // the hygiene-mode shape: sweepShuffles(query that materializes)
    val n = graft.core.RoundCheckpointer.sweepShuffles(sc) {
      graft.queries.DynamicRow.defs.head.fn(spark, "/root/testdata/sf0.001").count()
    }
    assert(n > 0L)
    // self-nesting stays a loud failure
    val ex = intercept[IllegalArgumentException] {
      graft.core.RoundCheckpointer.materializeFinal(sc, 1) {
        graft.core.RoundCheckpointer.materializeFinal(sc, 1) {
          spark.range(3).toDF("x")
        }
      }
    }
    assert(ex.getMessage.contains("must not nest"))
  }
}
