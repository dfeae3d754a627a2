package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.SchemaOps

/** The reference's macro (World Bank) feature pipeline
  * (`/root/reference/src/dataprep/features/aggregation/macro_batch_runner.py:48-149`)
  * in grid form: instead of a per-(country, year) Python loop, one plan over
  * a (country, as_of_year) grid.
  *
  * Semantics ported exactly:
  *  - "extract_by_year" = FIRST non-null value of the calendar year (A9);
  *  - GDP / GDP-pc YoY on the backfilled (as_of-1 vs as_of-2) years;
  *  - inflation YoY is a DIFFERENCE, not a ratio (W13 quirk);
  *  - percent fields -> proportions (/100, F8);
  *  - a current-year as_of downshifts one year (caller passes todayYear —
  *    plans never call now(), SURVEY §7.5);
  *  - rows with any NaN feature are invalid (the reference raises and the
  *    runner skips that year) — filtered out, or kept tagged via keepInvalid.
  *
  * Scale: one groupBy over the raw table + three co-partitioned joins on
  * (country, year) — country count is small, but the same plan holds for
  * millions of entities.
  */
object MacroPipeline {

  val indicatorCols = Seq("GDP (USD)", "GDP per Capita (const USD)",
    "Inflation (%)", "Unemployment (%)", "Private Consumption (% GDP)",
    "Exports (% GDP)")

  val outputCols = Seq("as_of_year", "backfilled_year", "country",
    "gdp_yoy_backfilled", "gdp_pc_yoy_backfilled", "inflation_latest",
    "inflation_yoy", "unemployment_latest", "consumption_backfilled",
    "exports_backfilled")

  /** The reference's date-normalization with regex salvage
    * (`macro_batch_runner.py:11-45`): try the normal date cast first; for
    * messy strings fall back to extracting (yyyy, m, d) with the loose
    * pattern `(\d{4}).*?(\d{1,2}).*?(\d{1,2})`. Null when neither works. */
  def normalizeDateColumn(c: Column): Column = {
    val pat = "(\\d{4}).*?(\\d{1,2}).*?(\\d{1,2})"
    val salvaged = make_date(
      regexp_extract(c.cast("string"), pat, 1).cast("int"),
      regexp_extract(c.cast("string"), pat, 2).cast("int"),
      regexp_extract(c.cast("string"), pat, 3).cast("int"))
    coalesce(to_date(c), salvaged)
  }

  /** First non-null indicator value per (country, year) — A9, computed once
    * and reused by every grid row. */
  def yearlyFirsts(macroRaw: DataFrame): DataFrame = {
    val aggs = indicatorCols.map { c =>
      min_by(col(c), when(col(c).isNotNull && !isnan(col(c)), col("date"))).as(c)
    }
    macroRaw
      .groupBy(col("country"), year(col("date")).as("yr"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Compute macro features for every (country, as_of_year INT) grid cell. */
  def features(grid: DataFrame, macroRaw: DataFrame, todayYear: Int,
               keepInvalid: Boolean = false): DataFrame = {
    val firsts = yearlyFirsts(macroRaw)
    def snapshot(alias: String): DataFrame = firsts.select(
      col("country").as(s"__c_$alias"), col("yr").as(s"__y_$alias"),
      struct(indicatorCols.map(col): _*).as(alias))

    val g = grid.select(col("country"),
      when(col("as_of_year") === todayYear, col("as_of_year") - 1)
        .otherwise(col("as_of_year")).as("eff_year"))
      .withColumn("ref_year", col("eff_year") - 1)

    val base = g
      .join(snapshot("sel"), col("country") === col("__c_sel") &&
        col("eff_year") === col("__y_sel"), "left")
      .join(snapshot("ref"), col("country") === col("__c_ref") &&
        col("ref_year") === col("__y_ref"), "left")
      .join(snapshot("ref2"), col("country") === col("__c_ref2") &&
        (col("ref_year") - 1) === col("__y_ref2"), "left")

    val nanLit = lit(Double.NaN)
    def yoy(now: Column, prev: Column): Column =
      when(now.isNotNull && prev.isNotNull && prev =!= 0.0, (now - prev) / prev)
        .otherwise(nanLit)
    def toProp(c: Column): Column =
      when(c.isNotNull && !isnan(c), c / 100.0).otherwise(nanLit)

    val gdpNow = col("ref").getField("GDP (USD)")
    val gdpPrev = col("ref2").getField("GDP (USD)")
    val gdpPcNow = col("ref").getField("GDP per Capita (const USD)")
    val gdpPcPrev = col("ref2").getField("GDP per Capita (const USD)")
    val inflNow = col("sel").getField("Inflation (%)")
    val inflPrev = col("ref").getField("Inflation (%)")

    val out = base.select(
      col("eff_year").as("as_of_year"),
      col("ref_year").as("backfilled_year"),
      col("country"),
      yoy(gdpNow, gdpPrev).as("gdp_yoy_backfilled"),
      yoy(gdpPcNow, gdpPcPrev).as("gdp_pc_yoy_backfilled"),
      toProp(inflNow).as("inflation_latest"),
      toProp(when(inflNow.isNotNull && inflPrev.isNotNull, inflNow - inflPrev)
        .otherwise(nanLit)).as("inflation_yoy"),
      toProp(col("sel").getField("Unemployment (%)")).as("unemployment_latest"),
      toProp(col("ref").getField("Private Consumption (% GDP)")).as("consumption_backfilled"),
      toProp(col("ref").getField("Exports (% GDP)")).as("exports_backfilled"))

    val featureCols = outputCols.drop(3)
    val anyNan = featureCols.map(c => isnan(col(c)) || col(c).isNull).reduce(_ || _)
    if (keepInvalid) out.withColumn("__invalid", anyNan)
    else out.filter(!anyNan)
  }

  /** U6 replace-year append: delete store rows matching fresh `keys`
    * (`country, as_of_year` for the macro store), union fresh, sort by
    * `keys`. */
  def replaceYears(store: DataFrame, fresh: DataFrame, keys: Seq[String]): DataFrame = {
    val cleaned = store.join(fresh.select(keys.map(col): _*).distinct(), keys, "left_anti")
    SchemaOps.unionHarmonized(Seq(cleaned, fresh), sortColumns = false)
      .orderBy(keys.map(col): _*)
  }
}
