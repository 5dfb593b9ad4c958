package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Static schemas + readers for the two reference-shaped sources.
  *
  * The reference (`/root/reference/`) infers everything at runtime
  * (`pd.read_csv` at data_loader.py:50, JSON parse at
  * data_loader.py:166-218) and then defensively re-checks column
  * existence everywhere. We replace that with declared `StructType`s
  * (SURVEY.md §1.3): the checks exist only because the upstream CSV
  * evolves; fixed schemas let Catalyst prune the scan and resolve every
  * "if column present" branch at design time.
  */
object CovidSources {

  /** Committed reference-shaped sample files (one OWID-style CSV, one
    * disease.sh-style JSON array) scanned by the driver-checked S1/S2
    * queries. The oracle SQL embeds the same absolute path for DuckDB's
    * `read_csv`/`read_json`, so both engines parse the identical bytes. */
  val fixturesDir: String =
    sys.env.getOrElse("GRAFT_FIXTURES_DIR", "/root/repo/fixtures")

  /** OWID historical CSV — the 15 `key_columns` the reference projects
    * (data_loader.py:92-108), grain = (country, date). Metric columns
    * are DoubleType up front: pandas silently promotes int→float when
    * NaN appears; declaring Double matches reference arithmetic
    * (SURVEY.md §1.2). */
  val owidSchema: StructType = StructType(Seq(
    StructField("iso_code", StringType),
    StructField("country", StringType),
    StructField("date", DateType),
    StructField("total_cases", DoubleType),
    StructField("new_cases", DoubleType),
    StructField("total_deaths", DoubleType),
    StructField("new_deaths", DoubleType),
    StructField("total_tests", DoubleType),
    StructField("positive_rate", DoubleType),
    StructField("tests_per_case", DoubleType),
    StructField("people_vaccinated", DoubleType),
    StructField("people_fully_vaccinated", DoubleType),
    StructField("total_vaccinations", DoubleType),
    StructField("population", DoubleType),
    StructField("new_tests", DoubleType)
  ))

  /** disease.sh JSON — raw shape with the nested `countryInfo` struct
    * (data_loader.py:180-189). */
  val diseaseShRawSchema: StructType = StructType(Seq(
    StructField("country", StringType),
    StructField("countryInfo", StructType(Seq(
      StructField("_id", LongType),
      StructField("iso2", StringType),
      StructField("iso3", StringType),
      StructField("lat", DoubleType),
      StructField("long", DoubleType),
      StructField("flag", StringType)
    ))),
    StructField("population", LongType),
    StructField("cases", LongType),
    StructField("deaths", LongType),
    StructField("recovered", LongType),
    StructField("active", LongType),
    StructField("critical", LongType),
    StructField("casesPerOneMillion", DoubleType),
    StructField("deathsPerOneMillion", DoubleType),
    StructField("tests", LongType),
    StructField("testsPerOneMillion", DoubleType),
    StructField("todayCases", LongType),
    StructField("todayDeaths", LongType),
    StructField("todayRecovered", LongType),
    StructField("updated", LongType) // epoch millis
  ))

  /** S1 — CSV scan with declared schema (reference: HTTP download +
    * `pd.read_csv`, data_loader.py:32-69). At 100 TB this is a
    * partitioned parquet/catalog table; header CSV kept for parity. */
  def readOwidCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(owidSchema).csv(path)

  /** S2 — JSON scan (reference: REST GET + json parse,
    * data_loader.py:124-163). `multiLine` because the API returns one
    * top-level JSON array. */
  def readDiseaseShJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").schema(diseaseShRawSchema).json(path)

  /** Empty OWID-shaped frame — the fallback value when a source is
    * unreachable (the analogue of the reference returning `None` from a
    * failed fetch and every consumer short-circuiting on it).
    *
    * S1/S2 error surface. The reference fetches each source over HTTP
    * with a 30 s timeout and degrades to `None` plus a logged error
    * (data_loader.py:32-69 and :124-163; timeout constants.py:66; the
    * failure mode is mocked in tests/test_integration.py:115-147).
    * Transport itself is out of scope (SURVEY.md §1.1 — at 100 TB the
    * fetch is an upstream ingest job, not a query-time HTTP call); the
    * query-engine-visible error semantics are mirrored exactly:
    *   - unreachable/missing source → `Try(readOwidCsv(...))` (or
    *     `readDiseaseShJson`) is a `Failure`, and callers fall back to
    *     this frame (the `None` short-circuit);
    *   - malformed records → PERMISSIVE quarantine
    *     ([[readOwidCsvQuarantine]]) or strict FAILFAST
    *     ([[readOwidCsvStrict]]).
    * Both readers resolve the path eagerly, so the `Try` captures
    * missing-source failures at call time, not at first action. */
  def emptyOwid(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], owidSchema)

  /** Strict ingestion: any row that fails to parse against
    * [[owidSchema]] aborts the scan (reference: an unparseable payload
    * raises inside `pd.read_csv` / `response.json()` and is caught as a
    * load failure). */
  def readOwidCsvStrict(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("mode", "FAILFAST")
      .schema(owidSchema).csv(path)

  /** Permissive ingestion with a quarantine channel: returns
    * (cleanRows, corruptRawLines). Malformed rows surface as the raw
    * input line instead of killing a 100 TB scan — the distributed
    * replacement for the reference's row-loop `try/except` at
    * data_loader.py:176-218. The frame is materialized once via a lazy
    * checkpoint because Spark disallows filtering on the internal
    * corrupt-record column of a streaming-parsed CSV otherwise. */
  def readOwidCsvQuarantine(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) = {
    val withCorrupt = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(owidSchema.add(StructField("_corrupt_record", StringType)))
      .csv(path)
      .localCheckpoint(eager = false)
    (withCorrupt.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      withCorrupt.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record")))
  }

  /** Resilient acquisition — the retry/timeout/fallback policy the
    * reference wraps around every fetch (`requests.get(..., timeout=30)`
    * at data_loader.py:32-69 with the timeout constant at
    * constants.py:66; failure caught → logged → `None`, and every
    * consumer short-circuits on the `None`). Transport itself stays out
    * of scope offline (SURVEY.md §1.1 — at 100 TB acquisition is an
    * upstream ingest job), so the policy is generic over ANY acquire
    * thunk — file read, catalog lookup, ingest-job poll:
    *   - up to `attempts` tries, exponential backoff between them;
    *   - each try bounded by `timeoutMillis`, enforced on a DAEMON
    *     thread so a hung source can never wedge the driver (the
    *     abandoned attempt is interrupted via shutdownNow and cannot
    *     outlive the JVM);
    *   - once the budget is exhausted, the caller's `fallback` frame
    *     (the reference's `None` short-circuit — [[emptyOwid]] for
    *     OWID-shaped pipelines) with `degraded = true`.
    * Returns (frame, attemptsUsed, degraded) so ingest jobs can emit
    * the degradation into their run metrics instead of silently serving
    * stale/empty data. */
  def acquireWithRetry(
      acquire: () => DataFrame, fallback: => DataFrame,
      attempts: Int = 3, timeoutMillis: Long = 30000L,
      backoffMillis: Long = 100L): (DataFrame, Int, Boolean) = {
    require(attempts >= 1, "need at least one attempt")
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    var used = 0
    while (used < attempts) {
      used += 1
      val ex = Executors.newSingleThreadExecutor(r => {
        val t = new Thread(r, s"graft-acquire-$used")
        t.setDaemon(true)
        t
      })
      try {
        val fut = ex.submit(new Callable[DataFrame] {
          override def call(): DataFrame = acquire()
        })
        return (fut.get(timeoutMillis, TimeUnit.MILLISECONDS), used, false)
      } catch {
        case _: InterruptedException => throw new InterruptedException(
          "interrupted while acquiring a source")
        case _: Throwable =>
          if (used < attempts)
            Thread.sleep(backoffMillis * (1L << math.min(used - 1, 20)))
      } finally ex.shutdownNow()
    }
    (fallback, used, true)
  }

  /** S3 + S4 — flatten the nested `countryInfo` struct and convert the
    * epoch-ms `updated` field (reference row-loop at
    * data_loader.py:176-218 → pure nested-struct projection here; no
    * UDF, stays inside whole-stage codegen). */
  def flattenDiseaseSh(raw: DataFrame): DataFrame = raw.select(
    col("country"),
    col("countryInfo.iso3").as("iso_code"),
    col("countryInfo.iso2").as("iso2_code"),
    col("countryInfo._id").as("country_id"),
    col("countryInfo.lat").as("latitude"),
    col("countryInfo.long").as("longitude"),
    col("countryInfo.flag").as("flag_url"),
    col("population"),
    col("cases").as("current_cases"),
    col("deaths").as("current_deaths"),
    col("recovered").as("current_recovered"),
    col("active").as("current_active"),
    col("critical").as("current_critical"),
    col("casesPerOneMillion").as("cases_per_million"),
    col("deathsPerOneMillion").as("deaths_per_million"),
    col("tests").as("tests_total"),
    col("testsPerOneMillion").as("tests_per_million"),
    col("todayCases").as("today_cases"),
    col("todayDeaths").as("today_deaths"),
    col("todayRecovered").as("today_recovered"),
    timestamp_millis(col("updated")).as("last_updated")
  )
}
