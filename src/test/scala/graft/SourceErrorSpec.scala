package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.SparkException
import org.apache.spark.sql.AnalysisException

import graft.sources.{CovidSources, Tables}

/** S1/S2 error-path semantics (reference: HTTP fetch failures degrade to
  * None + logged error, data_loader.py:32-69/:124-163, mocked in
  * tests/test_integration.py:115-147). The Spark-native surface:
  * Try-wrapped loaders for unreachable sources, PERMISSIVE quarantine /
  * FAILFAST for malformed records. */
class SourceErrorSpec extends SparkSpec {

  private def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_srcerr_")
    val p = dir.resolve(name)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("missing CSV source fails the Try; fallback is the empty typed frame") {
    val r = Try(CovidSources.readOwidCsv(spark, "/nonexistent/owid.csv"))
    assert(r.isFailure, "a missing source must surface as Failure, not defer")
    val fallback = r.getOrElse(CovidSources.emptyOwid(spark))
    assert(fallback.schema == CovidSources.owidSchema)
    assert(fallback.count() == 0)
  }

  /** `Tables.read` raises the condition and message of Spark's own
    * parquet read on the same path. */
  private def sameParquetError(sfDir: String, name: String, condition: String): Unit = {
    val ours = intercept[AnalysisException](Tables.read(spark, sfDir, name))
    val sparks = intercept[AnalysisException](
      spark.read.parquet(s"$sfDir/$name.parquet"))
    assert(ours.getCondition == condition)
    assert(ours.getMessage == sparks.getMessage)
  }

  test("missing parquet table fails with PATH_NOT_FOUND") {
    sameParquetError("/nonexistent", "lineitem", "PATH_NOT_FOUND")
  }

  test("parquet directory with no data file fails with UNABLE_TO_INFER_SCHEMA") {
    val dir = Files.createTempDirectory("graft_srcerr_")
    val table = Files.createDirectory(dir.resolve("empty.parquet"))
    Files.write(table.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(table.resolve(".hidden.parquet"), Array.emptyByteArray)
    sameParquetError(dir.toString, "empty", "UNABLE_TO_INFER_SCHEMA")
  }

  test("unreadable parquet footer fails with CANNOT_READ_FILE_FOOTER, unwrapped") {
    val dir = Files.createTempDirectory("graft_srcerr_")
    Files.write(dir.resolve("bad.parquet"), "not parquet".getBytes("UTF-8"))
    val ours = intercept[SparkException](Tables.read(spark, dir.toString, "bad"))
    // Spark's inference job raises the same condition two causes down,
    // under a job abort (and logs the task failure)
    assert(ours.getCondition == "FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER")
  }

  test("missing JSON source fails the Try") {
    assert(Try(CovidSources.readDiseaseShJson(spark, "/nonexistent/api.json")).isFailure)
  }

  test("permissive read quarantines malformed rows and keeps clean ones") {
    val path = tmpFile("owid.csv",
      """iso_code,country,date,total_cases,new_cases,total_deaths,new_deaths,total_tests,positive_rate,tests_per_case,people_vaccinated,people_fully_vaccinated,total_vaccinations,population,new_tests
        |AFG,Afghanistan,2021-01-01,100,1,5,0,,,,,,,38928341,
        |ALB,Albania,NOT_A_DATE,200,2,9,0,,,,,,,2877800,
        |DEU,Germany,2021-01-02,300,3,11,1,,,,,,,83190556,
        |""".stripMargin)
    val (clean, quarantined) = CovidSources.readOwidCsvQuarantine(spark, path)
    assert(clean.count() == 2)
    assert(quarantined.count() == 1)
    val bad = quarantined.collect()(0).getString(0)
    assert(bad.contains("NOT_A_DATE"),
      "quarantine must preserve the raw malformed line for replay")
  }

  test("strict read aborts the scan on the first malformed row") {
    val path = tmpFile("owid_bad.csv",
      """iso_code,country,date,total_cases,new_cases,total_deaths,new_deaths,total_tests,positive_rate,tests_per_case,people_vaccinated,people_fully_vaccinated,total_vaccinations,population,new_tests
        |AFG,Afghanistan,BAD_DATE,100,1,5,0,,,,,,,38928341,
        |""".stripMargin)
    intercept[SparkException] {
      // collect a real column: a bare count() prunes the projection to
      // zero columns and the CSV parser never touches the bad field
      CovidSources.readOwidCsvStrict(spark, path).select("date").collect()
    }
  }

  test("truncated JSON array parses to no valid rows (schema'd permissive read)") {
    val path = tmpFile("api.json", """[{"country": "Afghanistan", "population": 123""")
    val df = CovidSources.readDiseaseShJson(spark, path)
    // multiLine + declared schema: an unparseable document yields a
    // single all-NULL row (corrupt-record channel), never an exception
    assert(df.filter(df("country").isNotNull).count() == 0)
  }

  test("acquireWithRetry: transient failures retry, exhaustion degrades to the fallback") {
    val good = CovidSources.readOwidCsv(
      spark, s"${CovidSources.fixturesDir}/owid_sample.csv")
    // succeeds on the first try — no retries consumed
    val (df0, n0, deg0) = CovidSources.acquireWithRetry(
      () => good, CovidSources.emptyOwid(spark),
      attempts = 3, timeoutMillis = 5000, backoffMillis = 1)
    assert(!deg0 && n0 == 1 && df0.count() == 14)
    // fails twice, succeeds on the third — the retry loop recovers
    var calls = 0
    val (df1, n1, deg1) = CovidSources.acquireWithRetry(
      () => { calls += 1
        if (calls < 3) sys.error("transient") else good },
      CovidSources.emptyOwid(spark),
      attempts = 3, timeoutMillis = 5000, backoffMillis = 1)
    assert(!deg1 && n1 == 3 && df1.count() == 14)
    // always fails — the fallback frame comes back flagged degraded
    val (df2, n2, deg2) = CovidSources.acquireWithRetry(
      () => sys.error("source down"), CovidSources.emptyOwid(spark),
      attempts = 2, timeoutMillis = 5000, backoffMillis = 1)
    assert(deg2 && n2 == 2 && df2.count() == 0)
    assert(df2.schema == CovidSources.owidSchema, "fallback keeps the contract schema")
  }

  test("acquireWithRetry: a hung source times out per attempt, never wedging the caller") {
    val t0 = System.nanoTime()
    val (df, n, degraded) = CovidSources.acquireWithRetry(
      () => { Thread.sleep(60000); CovidSources.emptyOwid(spark) },
      CovidSources.emptyOwid(spark),
      attempts = 2, timeoutMillis = 150, backoffMillis = 1)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(degraded && n == 2 && df.count() == 0)
    // two 150 ms deadlines + backoff, NOT two 60 s hangs — the deadline
    // is what the reference's requests timeout=30 provides
    assert(elapsedMs < 5000, s"hung source must be abandoned, took $elapsedMs ms")
  }

  test("the committed S1/S2 fixtures parse cleanly with the declared schemas") {
    val owid = CovidSources.readOwidCsv(
      spark, s"${CovidSources.fixturesDir}/owid_sample.csv")
    assert(owid.count() == 14)
    assert(owid.filter(owid("date").isNull).count() == 0)
    val api = CovidSources.flattenDiseaseSh(CovidSources.readDiseaseShJson(
      spark, s"${CovidSources.fixturesDir}/disease_sh_sample.json"))
    assert(api.count() == 6)
    // the MS Zaandam row has no countryInfo struct → flattened NULLs
    assert(api.filter(api("iso_code").isNull).count() == 2)
  }
}
