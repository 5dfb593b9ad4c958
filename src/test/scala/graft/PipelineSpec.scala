package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.pipeline.CovidPipeline

/** End-to-end covid integration pipeline tests mirroring the reference's
  * exact-value assertions (tests/test_integration.py:475-509: gap=200,
  * gap%=20.0, per100k=3.0, CFR=5.0; :634-637: aggregates excluded).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private def owidFixture: DataFrame = Seq(
    // (iso, country, date, total_cases, total_deaths, new_cases, new_deaths, population)
    ("USA", "United States", d("2024-01-01"), Some(900.0), Some(45.0), Some(10.0), Some(1.0), Some(40000000.0)),
    ("USA", "United States", d("2024-01-02"), Some(1000.0), Some(50.0), Some(100.0), Some(5.0), Some(40000000.0)),
    ("AFG", "Afghanistan", d("2024-01-01"), Some(480.0), Some(24.0), Some(5.0), Some(1.0), Some(40000000.0)),
    ("AFG", "Afghanistan", d("2024-01-02"), Some(500.0), Some(25.0), Some(20.0), Some(1.0), Some(40000000.0)),
    ("OWID_WRL", "World", d("2024-01-02"), Some(999999.0), Some(9999.0), None, None, None),
    (null, "Upper middle income", d("2024-01-02"), Some(5.0), Some(1.0), None, None, None)
  ).toDF("iso_code", "country", "date", "total_cases", "total_deaths",
    "new_cases", "new_deaths", "population")

  private def apiFixture: DataFrame = apiFrame(
    ("USA", "USA", 1200L, 60L, 100L, 40000000L),
    ("Afghanistan", "AFG", 600L, 30L, 50L, 40000000L),
    ("World", "WRL", 99999999L, 999999L, 0L, 8000000000L))

  /** (country, iso, cases, deaths, recovered, population) rows in the
    * flattened disease.sh shape. */
  private def apiFrame(rows: (String, String, Long, Long, Long, Long)*): DataFrame =
    rows.toDF("country", "iso_code", "current_cases", "current_deaths",
      "current_recovered", "population")
    .withColumn("current_active", lit(0L))
    .withColumn("current_critical", lit(0L))
    .withColumn("tests_total", lit(0L))
    .withColumn("last_updated", lit(Timestamp.valueOf("2024-01-02 00:00:00")))

  private lazy val merged =
    CovidPipeline.integrate(owidFixture, apiFixture,
      CovidPipeline.Config(asOf = java.time.LocalDate.parse("2024-01-05")))

  test("integrates exactly the mergeable countries; aggregates excluded") {
    val countries = merged.select("country_standardized").as[String]
      .collect().sorted.toSeq
    assert(countries == Seq("Afghanistan", "USA"))
  }

  test("name standardization maps United States → USA for the join") {
    assert(merged.filter(col("country_standardized") === "USA").count() == 1)
  }

  test("derived metrics: gap=200, gap%=20.0, per100k=3.0, CFR=5.0") {
    val usa = merged.filter(col("country_standardized") === "USA").collect()(0)
    assert(usa.getAs[Double]("cases_data_gap") == 200.0)
    assert(usa.getAs[Double]("cases_data_gap_percent") == 20.0)
    // per-100k divides by the OWID population (data_merger.py:330-340)
    assert(usa.getAs[Double]("current_cases_per_100k") == 3.0)
    assert(usa.getAs[Double]("current_deaths_per_100k") == 0.15)
    assert(usa.getAs[Double]("current_case_fatality_rate") == 5.0)
  }

  test("temporal alignment takes max-date owid values") {
    val usa = merged.filter(col("country_standardized") === "USA").collect()(0)
    assert(usa.getAs[Double]("owid_total_cases") == 1000.0)
    assert(usa.getAs[Date]("owid_date") == d("2024-01-02"))
  }

  test("data age vs injected as-of date") {
    val usa = merged.filter(col("country_standardized") === "USA").collect()(0)
    assert(usa.getAs[Int]("owid_data_age_days") == 3)
    // X9: merge_timestamp is the same injected clock, never now()
    val stamp = merged.select(org.apache.spark.sql.functions.date_format(
      col("merge_timestamp"), "yyyy-MM-dd HH:mm:ss")).distinct().collect()
    assert(stamp.map(_.getString(0)).toSeq == Seq("2024-01-05 00:00:00"))
  }

  test("trend metrics attach via left join with guarded pct change") {
    val usa = merged.filter(col("country_standardized") === "USA").collect()(0)
    // (1000-900)/900*100 = 11.11
    assert(usa.getAs[Double]("cases_change_pct") == 11.11)
    assert(usa.getAs[Long]("data_points_available") == 2L)
  }

  test("integration summary flags large gaps") {
    val s = CovidPipeline.integrationSummary(merged).collect()(0)
    assert(s.getAs[Long]("total_countries") == 2L)
    assert(s.getAs[Long]("large_gap_countries") == 2L) // 20% both
    assert(s.getAs[Long]("stale_data_countries") == 0L)
  }

  test("match report reproduces the reference's match-rate headline shape on a fixture") {
    // The reference publishes "Country matching: 194 of ~276 total
    // countries successfully matched between sources"
    // (streamlit_app.py:745) — this pins the SAME artifact at fixture
    // scale with hand-computed values: 5 clean OWID countries + 5 clean
    // API countries sharing 4 → 6 candidates, 4 matched; aggregates are
    // cleaned out BEFORE the candidate pool is counted (the reference's
    // "~276" is post-exclusion too).
    def o(iso: String, c: String, dt: String, tc: Option[Double],
        td: Option[Double], nc: Option[Double]) =
      (iso, c, d(dt), tc, td, nc, Option.empty[Double], Some(1000000.0))
    val owid = Seq(
      o("USA", "United States", "2024-01-01", Some(900.0), Some(45.0), Some(10.0)),
      o("USA", "United States", "2024-01-02", Some(1000.0), Some(50.0), Some(100.0)),
      o("AFG", "Afghanistan", "2024-01-01", Some(480.0), Some(24.0), Some(5.0)),
      o("AFG", "Afghanistan", "2024-01-02", Some(500.0), Some(25.0), Some(20.0)),
      // total_cases NULL at every date → the NULL must survive
      // forward-fill + last-non-null alignment into the merged frame
      o("ATL", "Atlantis", "2024-01-01", None, Some(11.0), Some(2.0)),
      o("ATL", "Atlantis", "2024-01-02", None, Some(12.0), Some(3.0)),
      // a single data point → below trendMetrics' 2-row floor
      // (data_merger.py:151-152), so no trend attaches for this country
      o("BOR", "Borduria", "2024-01-02", Some(700.0), Some(35.0), None),
      // OWID-only candidate: inflates the pool, not the matches
      o("CAR", "Carpathia", "2024-01-02", Some(10.0), Some(1.0), Some(1.0)),
      o("OWID_WRL", "World", "2024-01-02", Some(999999.0), Some(9999.0), None),
      o(null, "Upper middle income", "2024-01-02", Some(5.0), Some(1.0), None)
    ).toDF("iso_code", "country", "date", "total_cases", "total_deaths",
      "new_cases", "new_deaths", "population")
    val api = Seq(
      ("USA", "USA", Option(1200L), Option(60L)),
      ("Afghanistan", "AFG", Option(600L), Option(30L)),
      ("Atlantis", "ATL", Option(90L), Option(9L)),
      ("Borduria", "BOR", Option(800L), Option.empty[Long]), // deaths NULL
      ("Syldavia", "SYL", Option(40L), Option(4L)),          // API-only candidate
      ("World", "WRL", Option(99999999L), Option(999999L))   // aggregate: excluded
    ).toDF("country", "iso_code", "current_cases", "current_deaths")
      .withColumn("current_recovered", lit(0L))
      .withColumn("population", lit(1000000L))
      .withColumn("current_active", lit(0L))
      .withColumn("current_critical", lit(0L))
      .withColumn("tests_total", lit(0L))
      .withColumn("last_updated", lit(Timestamp.valueOf("2024-01-02 00:00:00")))
    val cfg = CovidPipeline.Config(asOf = java.time.LocalDate.parse("2024-01-05"))
    // the integrateCleaned + matchReport pairing: one cleaning pass
    // feeds BOTH the merge and the report's candidate pool
    val co = CovidPipeline.cleanOwid(owid)
    val ca = CovidPipeline.cleanApi(api)
    val m = CovidPipeline.integrateCleaned(co, ca, cfg)
    // building the report runs no job (the pipeline's one-plan
    // contract): a cut of the candidate pool would run its shuffles
    // here under AQE. This fixture keeps real shuffles in the plan; the
    // empty-pool fixture below folds to a constant relation at planning.
    var report: DataFrame = null
    val jobs = SparkTestSession.jobsFiredBy {
      report = CovidPipeline.matchReport(co, ca, m)
    }
    assert(jobs == 0, s"building the report fired $jobs jobs")
    val r = report.collect()(0)
    assert(r.getAs[Long]("owid_countries") == 5L)
    assert(r.getAs[Long]("api_countries") == 5L)
    assert(r.getAs[Long]("candidate_countries") == 6L)
    assert(r.getAs[Long]("matched_countries") == 4L)
    assert(r.getAs[Double]("match_rate_pct") == 66.7) // round(400/6, 1)
    assert(r.getAs[Long]("owid_total_cases_available") == 3L)
    assert(r.getAs[Double]("owid_total_cases_completeness_pct") == 75.0)
    assert(r.getAs[Long]("api_current_cases_available") == 4L)
    assert(r.getAs[Double]("api_current_cases_completeness_pct") == 100.0)
    assert(r.getAs[Long]("owid_total_deaths_available") == 4L)
    assert(r.getAs[Long]("api_current_deaths_available") == 3L)
    assert(r.getAs[Double]("api_current_deaths_completeness_pct") == 75.0)
    assert(r.getAs[Long]("countries_with_trends") == 3L)
  }

  test("match report reads each cleaned frame once") {
    // perfbench's shape: both cleaned frames checkpointed, the merged
    // frame persisted. Each checkpoint is one LogicalRDD leaf; a report
    // that counted each side in a branch of its own would read it twice.
    val cfg = CovidPipeline.Config(asOf = java.time.LocalDate.parse("2024-01-05"))
    val co = CovidPipeline.cleanOwid(owidFixture).localCheckpoint(eager = false)
    val ca = CovidPipeline.cleanApi(apiFixture).localCheckpoint(eager = false)
    val m = CovidPipeline.cachedDashboard(CovidPipeline.integrateCleaned(co, ca, cfg))
    try {
      val report = CovidPipeline.matchReport(co, ca, m)
      val plan = report.queryExecution.optimizedPlan
      def reads(input: DataFrame): Int = {
        val rdd = input.queryExecution.logical.collectFirst {
          case r: LogicalRDD => r.rdd.id }.get
        plan.collect { case r: LogicalRDD if r.rdd.id == rdd => r }.size
      }
      assert(reads(co) == 1, s"cleaned OWID read ${reads(co)} times\n$plan")
      assert(reads(ca) == 1, s"cleaned API read ${reads(ca)} times\n$plan")
      assert(report.columns.toSeq == Seq("matched_countries",
        "owid_total_cases_available", "owid_total_cases_completeness_pct",
        "api_current_cases_available", "api_current_cases_completeness_pct",
        "owid_total_deaths_available", "owid_total_deaths_completeness_pct",
        "api_current_deaths_available", "api_current_deaths_completeness_pct",
        "countries_with_trends", "owid_countries", "api_countries",
        "candidate_countries", "match_rate_pct"))
    } finally m.unpersist()
  }

  test("match report counts equal distinct() per side and over both; NULL is one country") {
    // a NULL country survives cleaning on both sides (the exclusion
    // filters keep NULL names); Carpathia is OWID-only, Syldavia API-only
    val owid = owidFixture.unionByName(Seq(
      ("NUL", null: String, d("2024-01-02"), Some(7.0), Some(1.0), Some(1.0), Some(0.0), Some(1000.0)),
      ("CAR", "Carpathia", d("2024-01-02"), Some(10.0), Some(1.0), Some(1.0), Some(0.0), Some(1000.0))
    ).toDF(owidFixture.columns.toSeq: _*))
    val api = apiFixture.unionByName(apiFrame(
      (null, "NUL", 5L, 1L, 0L, 1000L),
      ("Syldavia", "SYL", 40L, 4L, 0L, 1000L)))
    val co = CovidPipeline.cleanOwid(owid)
    val ca = CovidPipeline.cleanApi(api)
    val r = CovidPipeline.matchReport(co, ca,
      CovidPipeline.integrateCleaned(co, ca, CovidPipeline.Config())).collect()(0)
    def countries(df: DataFrame): DataFrame = df.select("country_standardized")
    assert(r.getAs[Long]("owid_countries") == countries(co).distinct().count())
    assert(r.getAs[Long]("api_countries") == countries(ca).distinct().count())
    assert(r.getAs[Long]("candidate_countries") ==
      countries(co).unionByName(countries(ca)).distinct().count())
    // by hand: {USA, Afghanistan, Carpathia, NULL}, {USA, Afghanistan,
    // Syldavia, NULL}, five in all; NULL keys never join, so 2 match
    assert(Seq("owid_countries", "api_countries", "candidate_countries",
      "matched_countries").map(r.getAs[Long]) == Seq(4L, 4L, 5L, 2L))
    assert(r.getAs[Double]("match_rate_pct") == 40.0)
  }

  test("match report fails loudly on an empty candidate pool") {
    // upstream cleaning that drops every country must not ship a
    // silent NULL/NaN rate — the in-plan raise_error guard fires with
    // the consuming ACTION (construction stays lazy: building the
    // report plan must not run a job, let alone throw)
    val owid = owidFixture.filter(col("country") === "no_such_country")
    val api = apiFixture.filter(col("country") === "no_such_country")
    val report = CovidPipeline.matchReport( // lazy: must not throw here
      CovidPipeline.cleanOwid(owid), CovidPipeline.cleanApi(api),
      CovidPipeline.integrate(owid, api, CovidPipeline.Config()))
    val e = intercept[Exception] { report.collect() }
    assert(e.getMessage.contains("candidate countries"))
  }

  test("daily changes derived only when absent from the source (reference guard)") {
    // source-provided dailies pass through untouched (data_cleaner.py:186-192):
    // a lag-diff recompute would turn USA 01-01 new_cases (no prior row) into 0
    val withDailies = CovidPipeline.cleanOwid(owidFixture)
      .filter(col("country") === "United States" && col("date") === d("2024-01-01"))
      .collect()(0)
    assert(withDailies.getAs[Double]("new_cases") == 10.0)
    // absent → derived via per-country lag diff, fillna(0), clip ≥0
    val derived = CovidPipeline.cleanOwid(owidFixture.drop("new_cases", "new_deaths"))
      .filter(col("country") === "United States")
      .orderBy(col("date"))
      .select("new_cases").as[Double].collect().toSeq
    assert(derived == Seq(0.0, 100.0))
  }

  test("clean API computes deaths_per_100k alongside cases_per_100k") {
    val usa = CovidPipeline.cleanApi(apiFixture)
      .filter(col("country") === "USA").collect()(0)
    assert(usa.getAs[Double]("deaths_per_100k") == 0.15) // 60/4e7*1e5
  }

  test("clean API clips negatives but keeps lat/long untouched semantics") {
    val api = apiFixture
      .withColumn("current_cases", lit(-5L))
    val cleaned = CovidPipeline.cleanApi(api)
      .filter(col("country") === "USA").collect()(0)
    assert(cleaned.getAs[Long]("current_cases") == 0L)
  }

  test("cached dashboard session: second tab query scans the cache, not the sources") {
    // the §3.2 interactive-session shape (reference @st.cache_data,
    // streamlit_app.py:46): integrate ONCE, persist, serve every tab
    // from the cached frame. Asserted on the real merged pipeline frame,
    // in the plan: after tab 1 materializes the cache, tab 2's executed
    // plan reads InMemoryTableScan and contains none of the integrate
    // lineage (no source relations, no standardize/merge joins).
    val cached = CovidPipeline.cachedDashboard(merged)
    try {
      val tab1 = cached.orderBy(col("cases_data_gap_percent").desc).limit(2)
      assert(tab1.collect().length == 2) // materializes the cache
      val tab2 = cached.filter(col("cases_data_gap_percent") > 10)
      assert(tab2.collect().length == 2) // USA and Afghanistan, both 20%
      // InMemoryRelation's toString embeds the cache-BUILD plan (the
      // recorded integrate lineage — not re-executed); judge tab 2 by
      // what sits ABOVE the cache boundary only
      val p = tab2.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
        .split("InMemoryRelation")(0)
      assert(p.contains("InMemoryTableScan"),
        s"tab 2 must be served from the persisted frame\n$p")
      assert(!p.contains("LocalTableScan") && !p.contains("Join"),
        s"tab 2 must not re-run the integrate join lineage\n$p")
      assert(cached.storageLevel.useMemory)
    } finally cached.unpersist()
  }
}

class TypedPipelineSpec extends SparkSpec {
  import spark.implicits._
  import graft.pipeline.CovidPipeline

  test("typed trend Dataset round-trips the 35-day fixture") {
    val rows = (0 until 35).map { i =>
      ("Testland",
        java.sql.Date.valueOf(java.time.LocalDate.parse("2024-01-01").plusDays(i)),
        Some(1000.0 + i), Some(50.0 + i), Some(1.0), Some(1.0), Some(1.0e6),
        "TST")
    }
    val cleaned = rows.toDF("country_standardized", "date", "total_cases",
      "total_deaths", "new_cases", "new_deaths", "population", "iso_code")
      .withColumn("country", org.apache.spark.sql.functions.col("country_standardized"))
    val ds = CovidPipeline.trendMetricsTyped(cleaned)
    val t = ds.collect()(0)
    assert(t.country_standardized == "Testland")
    assert(t.avg_daily_new_cases.contains(1.0))
    assert(t.data_points_available >= 30)
  }
}
