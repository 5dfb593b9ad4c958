package graft

import org.apache.spark.sql.catalyst.plans.logical.Join

import graft.operators.Standardize

/** X1/J4 — the dictionary map with identity fallback, the column form
  * of the reference's `dict.map(...).fillna(original)`
  * (data_cleaner.py:41-51). */
class StandardizeSpec extends SparkSpec {
  import spark.implicits._

  private def names = Seq("United States", "Atlantis", null).toDF("country")

  private def standardized(mapping: Map[String, String]): Map[String, String] =
    Standardize.standardize(names, "country", mapping, "country_standardized")
      .as[(String, String)].collect().toMap

  test("a mapped key maps, an unmapped key passes through, a NULL key stays NULL") {
    assert(standardized(Standardize.CountryNameMapping) == Map(
      "United States" -> "USA", "Atlantis" -> "Atlantis", (null: String) -> null))
  }

  test("an empty mapping returns the input column") {
    assert(standardized(Map.empty) == Map(
      "United States" -> "United States", "Atlantis" -> "Atlantis",
      (null: String) -> null))
  }

  test("standardize is one projection: no join, one column appended") {
    val out = Standardize.standardize(names, "country",
      Standardize.CountryNameMapping, "country_standardized")
    val plan = out.queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, s"a join in\n$plan")
    assert(out.columns.toSeq == Seq("country", "country_standardized"))
  }
}
