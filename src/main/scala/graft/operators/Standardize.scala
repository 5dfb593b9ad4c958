package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X1/J4 — dictionary map with identity fallback (reference
  * `standardize_country_names`, data_cleaner.py:41-51; the 25-entry map
  * at config/constants.py:14-41).
  *
  * Implemented as a **map literal lookup + coalesce** —
  * `coalesce(element_at(map(k, v, …), key), key)`, the column form of
  * the pandas `dict.map(...).fillna(original)`: a narrow projection, no
  * join, no broadcast, no Spark job at construction. Unmapped keys fall
  * back to their original value; a NULL key stays NULL.
  */
object Standardize {

  def standardize(
      df: DataFrame,
      keyCol: String,
      mapping: Map[String, String],
      outCol: String): DataFrame = {
    val key = col(keyCol)
    // `map()` with no entries is typed map<void,void>: no string lookup
    df.withColumn(outCol,
      if (mapping.isEmpty) key
      else coalesce(element_at(map(mapping.toSeq.sorted.flatMap {
        case (k, v) => Seq(lit(k), lit(v)) }: _*), key), key))
  }

  /** The reference's OWID→API country rename rules, verbatim
    * (COUNTRY_NAME_MAPPING, config/constants.py:14-41). */
  val CountryNameMapping: Map[String, String] = Map(
    "Bosnia and Herzegovina" -> "Bosnia",
    "Cape Verde" -> "Cabo Verde",
    "Cote d'Ivoire" -> "Côte d'Ivoire",
    "Democratic Republic of Congo" -> "DRC",
    "East Timor" -> "Timor-Leste",
    "Curacao" -> "Curaçao",
    "Bonaire Sint Eustatius and Saba" -> "Caribbean Netherlands",
    "United States" -> "USA",
    "United Kingdom" -> "UK",
    "South Korea" -> "S. Korea",
    "Czech Republic" -> "Czechia",
    "North Macedonia" -> "Macedonia",
    "Myanmar" -> "Burma",
    "Republic of the Congo" -> "Congo",
    "Eswatini" -> "Swaziland",
    "Vatican" -> "Holy See (Vatican City State)",
    "Brunei" -> "Brunei Darussalam",
    "Moldova" -> "Moldova, Republic of",
    "Russia" -> "Russian Federation",
    "Syria" -> "Syrian Arab Republic",
    "Tanzania" -> "Tanzania, United Republic of",
    "Turkey" -> "Turkey",
    "Venezuela" -> "Venezuela, Bolivarian Republic of",
    "Vietnam" -> "Viet Nam",
    "Laos" -> "Lao People's Democratic Republic"
  )

  /** The reference's non-country exclusion list, verbatim
    * (EXCLUDE_REGIONS, config/constants.py:44-61). */
  val ExcludeRegions: Seq[String] = Seq(
    "World", "Africa", "Asia", "Europe", "North America", "South America",
    "Oceania", "European Union", "High income", "Low income",
    "Lower middle income", "Upper middle income", "OECD countries",
    "International", "MS Zaandam", "Diamond Princess"
  )

  /** OWID aggregate pseudo-ISO codes (data_loader.py:114-116). */
  val ExcludeIsoCodes: Seq[String] =
    Seq("OWID_WRL", "OWID_HIC", "OWID_LIC", "OWID_LMC", "OWID_UMC")

  /** F3 regex (data_cleaner.py:73-77). */
  val ExcludePattern: String = "(?i)(income|OECD|Union|International)"
}
