package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.{ExtensionQueries, ParityQueries, QuerySpec, TrainingQueries}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The minimum end-to-end slice from SURVEY.md §7.3: latest event per
    * user (W3) → broadcast enrichment join with customer (J2-class) →
    * guarded derived ratio (X6) → top-15 (W5). Exercises every physical
    * node class the engine uses: parquet scan → hash exchange → window →
    * broadcast hash join → project → TakeOrderedAndProject.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val latestEvent = WindowOps.latestPerGroup(
      Tables.events(spark, d), "user_id",
      orderCols = Seq(col("ts"), col("event_id")),
      lastNonNullCols = Nil)
    latestEvent
      .join(broadcast(Tables.customer(spark, d)),
        col("user_id") === col("c_custkey"), "inner")
      .select(
        col("user_id"), col("c_name"), col("event_type"),
        col("value").as("latest_value"),
        RowOps.guardedRatio(col("value"), col("c_acctbal")).as("value_per_acctbal"))
      .orderBy(col("value_per_acctbal").desc, col("user_id"))
      .limit(15)
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ §7.4 extensions).
    *
    * ADD-A-QUERY CHECKLIST (each step is gated by a test — skipping one
    * turns the suite red, so do all four in the same change):
    *   1. one [[QuerySpec]] in the family's `specs`, with `oracle` set
    *      unless the query cannot be expressed in SQL (a repeated name
    *      fails [[QuerySpec.index]] when this object initializes);
    *   2. a row in OPERATORS.md (backticked query name); the Totals line
    *      and README.md's "(N queries, M oracled" must state what
    *      `specs` holds — QueriesSpec's doc-rot guard derives and pins
    *      both counts;
    *   3. refresh PLAN_FINGERPRINTS.json (`sbt "runMain graft.PlanFingerprints"`)
    *      — PlanFingerprintSpec pins every query's physical-plan shape;
    *   4. the per-query ScalaTest assertions (QueriesSpec executes every
    *      entry automatically; add a dedicated spec for new operator code).
    */
  val specs: Seq[QuerySpec] =
    ParityQueries.specs ++ ExtensionQueries.specs ++ TrainingQueries.specs

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    QuerySpec.index(specs).map { case (name, q) => name -> q.plan }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (ANN, sketches) → driver records a rows-only check. */
  val oracleSql: Map[String, String] =
    specs.collect { case QuerySpec(name, _, Some(sql)) => name -> sql }.toMap
}
