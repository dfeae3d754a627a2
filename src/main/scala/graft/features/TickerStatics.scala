package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Static (per-ticker) entity row: raw sector/country labels + vocab one-hot
  * columns with `_other` buckets — reference `static_features.py:12-31`,
  * vocab from `src/dataprep/constants.py`.
  *
  * The reference stores the RAW sector label (its lenient duplicate
  * `extract_sector_name` shadows the normalizing one — SURVEY §2.9 F9); the
  * alias normalization ("technology"/"it" -> "Information Technology") only
  * affects the one-hot matching. Replicated as-is.
  */
object TickerStatics {

  /** `SECTOR_TO_ETF` keys in declaration order (constants.py:1-14). */
  val allSectors: Seq[String] = Seq(
    "Technology", "Financial Services", "Consumer Cyclical",
    "Consumer Defensive", "Energy", "Healthcare", "Utilities",
    "Industrials", "Basic Materials", "Materials", "Real Estate",
    "Communication Services")

  /** `ALL_COUNTRIES` (constants.py:79-82). */
  val allCountries: Seq[String] = Seq(
    "USA", "Canada", "UK", "Germany", "France", "Switzerland", "Japan",
    "China", "India", "Netherlands", "Ireland", "Israel", "Spain", "Italy")

  /** Sector -> ETF symbol map, SPY fallback (constants.py + sector.py:25-38). */
  val sectorToEtf: Map[String, String] = Map(
    "Technology" -> "XLK", "Financial Services" -> "XLF",
    "Consumer Cyclical" -> "XLY", "Consumer Defensive" -> "XLP",
    "Energy" -> "XLE", "Healthcare" -> "XLV", "Utilities" -> "XLU",
    "Industrials" -> "XLI", "Basic Materials" -> "XLB", "Materials" -> "XLB",
    "Real Estate" -> "XLRE", "Communication Services" -> "XLC")

  /** `profile`: (ticker, sector, country) -> static row with one-hots.
    * Null/unknown sector becomes "UNKNOWN" raw + `_other` = 1. */
  def staticRows(profile: DataFrame): DataFrame = {
    val base = profile.select(col("ticker"),
      col("country"),
      coalesce(col("sector"), lit("UNKNOWN")).as("sector"))
    val withSector = Encoding.oneHot(base, "sector", allSectors, "sector",
      aliases = Map("technology" -> "Information Technology",
        "it" -> "Information Technology"))
    Encoding.oneHot(withSector, "country", allCountries, "country")
  }

  /** ETF symbol per ticker for the sector-index source (S7): lookup with
    * SPY fallback, as a codegen'd when-chain (broadcast-free). The output
    * (ticker, etf) is the `tickerEtf` map of
    * [[TickerFeatures.dynamicFeaturesSharedIndex]]. */
  def etfSymbol(profile: DataFrame): DataFrame = {
    val expr = sectorToEtf.foldLeft(lit("SPY")) { case (acc, (sec, etf)) =>
      when(col("sector") === sec, lit(etf)).otherwise(acc)
    }
    profile.select(col("ticker"), expr.as("etf"))
  }
}
