package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators._

/** The reference's full integration pipeline (§3.1 of SURVEY.md),
  * re-composed Spark-first over reference-shaped DataFrames
  * (schemas: FIXTURES.md §A; reference flow: data_loader.py →
  * data_cleaner.py → data_merger.py).
  *
  * Everything is lazy plan construction — one Catalyst plan end-to-end,
  * with broadcast joins everywhere a side is bounded. The executed plan
  * of [[integrate]] has five exchanges: two hash exchanges on raw
  * `country` (the cleaning's forward-fill window, computed once for the
  * alignment branch and once for the trend branch — Spark reuses no
  * exchange between them), two on `country_standardized` (the
  * alignment window and the trend window + aggregation) and one
  * single-partition exchange for the trend cutoff's max date.
  *
  * Determinism: the reference calls `datetime.now()`
  * (data_merger.py:272,291); we inject `asOf` (SURVEY.md §7.5.4).
  */
object CovidPipeline {

  /** Trend window length in days (config/constants.py:64). */
  val TrendWindowDays = 30

  case class Config(asOf: LocalDate = LocalDate.parse("2024-01-01"))

  /** Clean OWID historical frame (reference clean pipeline:
    * data_loader.py:72-121 + data_cleaner.py:154-203):
    * standardize → exclusion filters → ffill cumulative cols →
    * lag-diff daily metrics → source tag. */
  def cleanOwid(owid: DataFrame): DataFrame = {
    // cumulative_cols verbatim from the reference (data_cleaner.py:173-179)
    val cumulative = Seq("total_cases", "total_deaths", "total_tests",
      "people_vaccinated", "people_fully_vaccinated")
      .filter(owid.columns.contains) // ffill only the cumulative cols present
    val std = Standardize.standardize(
      owid, "country", Standardize.CountryNameMapping, "country_standardized")
    val filtered = RowOps.excludeRegex(
      RowOps.excludeValues(
        RowOps.excludeValues(std, col("iso_code"), Standardize.ExcludeIsoCodes),
        col("country"), Standardize.ExcludeRegions),
      col("country"), Standardize.ExcludePattern)
    // reference ffills/diffs per raw `country` (groupby("country"),
    // data_cleaner.py:184), not the standardized key
    val filled = WindowOps.forwardFill(
      filtered, "country", Seq("date"), cumulative)
    // daily changes are DERIVED ONLY WHEN ABSENT from the source — the
    // reference guards with `if "new_cases" not in df_clean.columns`
    // (data_cleaner.py:186-192); source-provided dailies pass through
    val withDiffs = Seq("total_cases" -> "new_cases", "total_deaths" -> "new_deaths")
      .foldLeft(filled) { case (d, (src, out)) =>
        if (d.columns.contains(out) || !d.columns.contains(src)) d
        else WindowOps.fillAndClip(
          WindowOps.lagDiff(d, "country", Seq("date"), src, out), out)
      }
    withDiffs.withColumn("data_source", lit("owid_historical"))
  }

  /** Clean disease.sh snapshot frame (data_cleaner.py:206-256):
    * standardize (identity map) → exclusions → clip negatives (except
    * lat/long) → per-100k + CFR → source tag. */
  def cleanApi(api: DataFrame): DataFrame = {
    val std = api.withColumn("country_standardized", col("country"))
    val filtered = RowOps.excludeRegex(
      RowOps.excludeValues(std, col("country"), Standardize.ExcludeRegions),
      col("country"), Standardize.ExcludePattern)
    // reference clips EVERY numeric column except the geographic
    // coordinates (select_dtypes(include=[np.number]) loop,
    // data_cleaner.py:224-228) — derive the list from the schema rather
    // than hand-listing, exactly like the dtype-driven reference
    val clipCols = filtered.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        && f.name != "latitude" && f.name != "longitude" => f.name
    }.toSet
    // one projection: the derived rates read the CLIPPED values
    def clipped(c: String): Column =
      if (clipCols(c)) RowOps.clipNonNegative(col(c)) else col(c)
    filtered.select(filtered.columns.toSeq.map(c => clipped(c).as(c)) ++ Seq(
      RowOps.per100k(clipped("current_cases"), clipped("population"))
        .as("cases_per_100k"),
      RowOps.per100k(clipped("current_deaths"), clipped("population"))
        .as("deaths_per_100k"),                      // data_cleaner.py:235-238
      RowOps.guardedRatio(clipped("current_deaths"), clipped("current_cases"))
        .as("case_fatality_rate"),
      lit("disease_sh_current").as("data_source")): _*)
  }

  /** W3 — temporal alignment of the historical side
    * (align_temporal_data, data_merger.py:67-119): latest row + last
    * non-null metrics per country, prefixed `owid_`. */
  def alignOwid(cleanedOwid: DataFrame): DataFrame = {
    val latest = WindowOps.latestPerGroup(
      cleanedOwid, "country_standardized",
      // country tiebreak: two raw names mapping to one standardized key
      // (or duplicate upstream rows) must not pick nondeterministically
      orderCols = Seq(col("date"), col("country")),
      lastNonNullCols = Seq("total_cases", "total_deaths", "new_cases",
        "new_deaths", "population", "iso_code"))
    val picked = latest.select("country_standardized", "date", "total_cases",
      "total_deaths", "new_cases", "new_deaths", "population", "iso_code",
      "country")
    RowOps.prefixColumns(picked, "owid_", keep = Set("country_standardized"))
  }

  /** Prefix the snapshot side `api_` (merge_datasets, data_merger.py:100-111). */
  def alignApi(cleanedApi: DataFrame): DataFrame =
    RowOps.prefixColumns(
      cleanedApi.select("country_standardized", "current_cases",
        "current_deaths", "current_recovered", "population", "iso_code",
        "cases_per_100k", "case_fatality_rate", "last_updated"),
      "api_", keep = Set("country_standardized"))

  /** W4 — 30-day trend metrics (calculate_trend_metrics,
    * data_merger.py:122-223). */
  def trendMetrics(cleanedOwid: DataFrame): DataFrame = {
    val t = WindowOps.trendMetrics(
      cleanedOwid,
      partCol = "country_standardized",
      dateCol = "date",
      tieBreak = Seq(col("country")),
      firstLastCols = Seq("total_cases", "total_deaths"),
      avgCols = Seq("new_cases", "new_deaths"),
      windowDays = TrendWindowDays)
    t.select(
      col("country_standardized"),
      RowOps.percentChange(col("first_total_cases"), col("last_total_cases"))
        .as("cases_change_pct"),
      RowOps.percentChange(col("first_total_deaths"), col("last_total_deaths"))
        .as("deaths_change_pct"),
      round(col("avg_new_cases"), 1).as("avg_daily_new_cases"),
      round(col("avg_new_deaths"), 1).as("avg_daily_new_deaths"),
      col("window_start"), col("window_end"), col("data_points_available"))
  }

  /** J2 + J3 + derived metrics — the merge itself
    * (merge_datasets data_merger.py:226-299 +
    * calculate_derived_metrics :302-352). */
  def integrate(owid: DataFrame, api: DataFrame, cfg: Config): DataFrame =
    integrateCleaned(cleanOwid(owid), cleanApi(api), cfg)

  /** [[integrate]] from ALREADY-CLEANED frames — for callers that also
    * feed the same cleaned frames to [[matchReport]]: the report's
    * candidate pool provably derives from the exact frames the merge
    * consumed, not a second cleaning that could drift. NOTE on cost:
    * the frames stay LAZY here (the pipeline's documented
    * one-Catalyst-plan contract), and the merge reads the cleaned OWID
    * frame twice (alignment and trend branches), so a lazy frame runs
    * its window-heavy cleaning twice per action. A caller running
    * several actions over them (merge + report, like perfbench's covid
    * workload) should `localCheckpoint(eager = false)` the cleaned
    * frames so the cleaning physically runs once. */
  def integrateCleaned(cleanedOwid: DataFrame, cleanedApi: DataFrame,
      cfg: Config): DataFrame = {
    val merged = alignOwid(cleanedOwid)
      .join(alignApi(cleanedApi), Seq("country_standardized"), "inner")
      .join(trendMetrics(cleanedOwid), Seq("country_standardized"), "left")
    merged.select(
      col("*"),
      RowOps.gap(col("api_current_cases"), col("owid_total_cases"))
        .as("cases_data_gap"),
      RowOps.gapPercent(col("api_current_cases"), col("owid_total_cases"))
        .as("cases_data_gap_percent"),
      RowOps.gap(col("api_current_deaths"), col("owid_total_deaths"))
        .as("deaths_data_gap"),
      RowOps.gapPercent(col("api_current_deaths"), col("owid_total_deaths"))
        .as("deaths_data_gap_percent"),
      // per-100k metrics divide by the OWID population — the reference
      // deliberately uses owid_population for both (data_merger.py:330-340)
      RowOps.per100k(col("api_current_cases"), col("owid_population"))
        .as("current_cases_per_100k"),
      RowOps.per100k(col("api_current_deaths"), col("owid_population"))
        .as("current_deaths_per_100k"),
      RowOps.guardedRatio(col("api_current_deaths"), col("api_current_cases"))
        .as("current_case_fatality_rate"),
      RowOps.dataAgeDays(col("owid_date"), lit(cfg.asOf.toString).cast("date"))
        .as("owid_data_age_days"),
      // X9 — reference stamps `merge_timestamp = datetime.now()`
      // (data_merger.py:272). The clock is injected (cfg.asOf) so runs
      // are reproducible and oracle-safe (SURVEY.md §7.5.4).
      lit(cfg.asOf.toString + " 00:00:00").cast("timestamp")
        .as("merge_timestamp"))
  }

  /** Stable record shape of the trend output — the one place SURVEY.md
    * §1.1 calls for a typed `Dataset[T]` (compile-time field checks for
    * downstream consumers). */
  case class TrendRow(
      country_standardized: String,
      cases_change_pct: Double,
      deaths_change_pct: Double,
      avg_daily_new_cases: Option[Double],
      avg_daily_new_deaths: Option[Double],
      window_start: java.sql.Date,
      window_end: java.sql.Date,
      data_points_available: Long)

  /** Typed view of [[trendMetrics]]. */
  def trendMetricsTyped(cleanedOwid: DataFrame)
      : org.apache.spark.sql.Dataset[TrendRow] = {
    val spark = cleanedOwid.sparkSession
    import spark.implicits._
    trendMetrics(cleanedOwid).as[TrendRow]
  }

  /** §3.2 dashboard equivalence: the reference memoizes the integrated
    * frame with `@st.cache_data` (streamlit_app.py:46) and re-queries it
    * per interaction. Spark form: persist the merged plan once, express
    * each tab as a short job over the cached data. */
  def cachedDashboard(merged: DataFrame): DataFrame =
    merged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Source match-rate report — the reference's published integration
    * headline ("Country matching: 194 of ~276 total countries
    * successfully matched between sources", streamlit_app.py:745;
    * README.md:167 "194 countries successfully integrated") together
    * with generate_integration_summary's data_completeness block
    * (data_merger.py:378-392) and trend availability (:414-416), as ONE
    * artifact row derived from the pipeline's own frames:
    * candidate_countries = distinct standardized countries present in
    * EITHER cleaned source (the merge's candidate pool), matched =
    * |merged| (the inner-join survivors), match_rate_pct their ratio.
    *
    * Plan shape: each cleaned frame is read ONCE. Their standardized
    * countries are unioned, each row tagged with its side; one groupBy
    * at country grain keeps a per-side presence flag, and one global
    * aggregate over those groups yields all three distinct counts (a
    * NULL country is one group, as `distinct()` counts it). That row
    * is cross-joined once with the profile pass over the merged frame. */
  def matchReport(cleanedOwid: DataFrame, cleanedApi: DataFrame,
      merged: DataFrame): DataFrame = {
    def side(df: DataFrame, owid: Boolean): DataFrame =
      df.select(col("country_standardized"),
        lit(owid).as("in_owid"), lit(!owid).as("in_api"))
    // in-plan 1-row guard: an empty candidate pool means the cleaning
    // stage dropped every country, and the rate below would ship as a
    // silent NULL/NaN — raise instead, AT ACTION TIME. The guard lives
    // on the value column itself (when/otherwise around raise_error),
    // not as a droppable assert_true column Catalyst could prune, so
    // building the report stays lazy (the repo's one-Catalyst-plan
    // convention) and the guard fires exactly once with the consuming
    // action rather than eagerly at construction.
    val candidates = count(lit(1))
    val countries = side(cleanedOwid, owid = true)
      .unionByName(side(cleanedApi, owid = false))
      .groupBy(col("country_standardized"))
      .agg(max(col("in_owid")).as("in_owid"), max(col("in_api")).as("in_api"))
      .agg(
        count(when(col("in_owid"), 1)).as("owid_countries"),
        count(when(col("in_api"), 1)).as("api_countries"),
        when(candidates > 0, candidates)
          .otherwise(raise_error(lit("no candidate countries after " +
            "cleaning — are both sources empty?")))
          .as("candidate_countries"))
    def completeness(c: String): Seq[Column] = Seq(
      count(col(c)).as(s"${c}_available"),
      round(lit(100.0) * count(col(c)) / count(lit(1)), 1)
        .as(s"${c}_completeness_pct"))
    val profile = merged.agg(
      count(lit(1)).as("matched_countries"),
      (Seq("owid_total_cases", "api_current_cases", "owid_total_deaths",
        "api_current_deaths").flatMap(completeness) :+
        count(col("avg_daily_new_cases")).as("countries_with_trends")): _*)
    profile
      .crossJoin(broadcast(countries))
      .withColumn("match_rate_pct",
        round(lit(100.0) * col("matched_countries")
          / col("candidate_countries"), 1))
  }

  /** Integration summary (generate_integration_summary,
    * data_merger.py:355-419) as a 1-row DataFrame. */
  def integrationSummary(merged: DataFrame): DataFrame =
    merged.agg(
      count(lit(1)).as("total_countries"),
      Summaries.countIf(abs(col("cases_data_gap_percent")) > 10)
        .as("large_gap_countries"),                       // constants.py:69
      Summaries.countIf(col("owid_data_age_days") > 90)
        .as("stale_data_countries"),                      // constants.py:70
      Summaries.countIf(col("api_population") < 1000 ||
        col("api_population") > 2000000000L).as("population_outliers"),
      // decimal-exact means: plain avg() over doubles is partition-order
      // nondeterministic in the last ulp (same policy as exactSum)
      round(Summaries.exactAvg(col("cases_data_gap_percent")), 2)
        .as("avg_cases_gap_pct"),
      round(Summaries.exactAvg(col("current_case_fatality_rate")), 3)
        .as("avg_cfr"))
}
