package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._

import graft.pipeline.CovidPipeline
import graft.streaming.StreamingOps

/** Executable usage demo of the two API tiers the driver contract does
  * not exercise directly: the reference-shaped covid integration
  * pipeline and the Structured Streaming ops.
  * Usage: `sbt "runMain graft.Demo"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    import spark.implicits._

    // --- covid integration pipeline on reference-shaped frames -----------
    val owid = Seq(
      ("USA", "United States", Date.valueOf("2024-01-01"), Some(900.0),
        Some(45.0), Some(10.0), Some(1.0), Some(4.0e7)),
      ("USA", "United States", Date.valueOf("2024-01-02"), Some(1000.0),
        Some(50.0), Some(100.0), Some(5.0), Some(4.0e7)),
      ("OWID_WRL", "World", Date.valueOf("2024-01-02"), Some(9.0), Some(9.0),
        None, None, None)
    ).toDF("iso_code", "country", "date", "total_cases", "total_deaths",
      "new_cases", "new_deaths", "population")
    val api = Seq(("USA", "USA", 1200L, 60L, 100L, 40000000L))
      .toDF("country", "iso_code", "current_cases", "current_deaths",
        "current_recovered", "population")
      .withColumn("current_active", lit(0L))
      .withColumn("current_critical", lit(0L))
      .withColumn("tests_total", lit(0L))
      .withColumn("last_updated", lit(Timestamp.valueOf("2024-01-02 00:00:00")))
    // clean once — same frames feed the merge AND the match report,
    // with a barrier so the window-heavy cleaning physically runs once
    // across the demo's several actions (integrateCleaned's contract)
    val cleanedOwid = CovidPipeline.cleanOwid(owid)
      .localCheckpoint(eager = false)
    val cleanedApi = CovidPipeline.cleanApi(api)
      .localCheckpoint(eager = false)
    val merged = CovidPipeline.integrateCleaned(cleanedOwid, cleanedApi,
      CovidPipeline.Config(30, java.time.LocalDate.parse("2024-01-05")))
    merged.select("country_standardized", "owid_total_cases",
      "api_current_cases", "cases_data_gap", "cases_data_gap_percent",
      "current_case_fatality_rate", "owid_data_age_days", "merge_timestamp")
      .show(truncate = false)

    // multimodal batch pipeline: payload → decode → resize → frame-sample
    val media = graft.extensions.Multimodal.frameSampleStub(
      graft.extensions.Multimodal.resizeStub(
        graft.extensions.Multimodal.decodeMeta(spark,
          graft.extensions.Multimodal.withBinaryPayload(
            graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
              .limit(5))),
        maxW = 64, maxH = 64),
      stride = 4)
    media.show(5, truncate = false)
    println(s"[demo] media pipeline rows = ${media.count()}")
    println(s"[demo] pipeline rows = ${merged.count()}")
    CovidPipeline.integrationSummary(merged).show(truncate = false)
    CovidPipeline.matchReport(cleanedOwid, cleanedApi, merged)
      .show(truncate = false)

    // S5 CSV export sink (reference streamlit download contract)
    val csvOut = java.nio.file.Files.createTempDirectory("graft-csv").toString + "/export"
    graft.sources.Tables.exportCsv(
      merged.select("country_standardized", "cases_data_gap_percent"), csvOut)
    println(s"[demo] csv export rows = " +
      spark.read.option("header", "true").csv(csvOut).count())

    // --- §3.2 dashboard: persist once, tab queries re-use the cache ------
    val cached = CovidPipeline.cachedDashboard(merged)
    val gapTab = cached
      .orderBy(col("cases_data_gap_percent").desc).limit(10).count()
    val filterTab = cached
      .filter(col("cases_data_gap_percent") > 10).count()
    println(s"[demo] dashboard tabs over cached frame: topk=$gapTab filtered=$filterTab")
    cached.unpersist()

    // --- SQL surface for the custom functions ----------------------------
    graft.functions.GraftFunctions.register(spark)
    graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("emb")
    val sqlSim = spark.sql(
      """SELECT a.vec_id, round(cosine_sim(a.embedding, b.embedding), 4) AS sim
        |FROM emb a JOIN emb b ON b.vec_id = 0 AND a.vec_id <> 0
        |ORDER BY sim DESC, a.vec_id LIMIT 3""".stripMargin)
    sqlSim.show()
    println(s"[demo] sql cosine_sim rows = ${sqlSim.count()}")

    // --- typed Dataset surface -------------------------------------------
    val typedTrends = CovidPipeline.trendMetricsTyped(
      CovidPipeline.cleanOwid(owid),
      CovidPipeline.Config(30, java.time.LocalDate.parse("2024-01-05")))
    typedTrends.collect().foreach(t =>
      println(s"[demo] typed trend: ${t.country_standardized} " +
        s"cases_change=${t.cases_change_pct}% points=${t.data_points_available}"))

    // --- skew-safe salted join: result identical to the plain join -------
    val fact = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val dim = graft.sources.Tables.orders(spark, "/root/testdata/sf0.001")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val salted = graft.operators.Joins.saltedEquiJoin(
      fact, dim, "l_orderkey", col("l_linenumber"), factor = 4)
    println(s"[demo] salted join rows = ${salted.count()} " +
      s"(plain = ${fact.join(dim, Seq("l_orderkey")).count()})")

    // --- streaming: file source → tumbling window agg → memory sink ------
    val tmp = java.nio.file.Files.createTempDirectory("graft-demo").toString
    graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .limit(300).write.mode("overwrite").parquet(tmp)
    val stream = StreamingOps.readEventStream(spark, tmp)
    StreamingOps.runToMemory(
      StreamingOps.tumblingCounts(stream, "1 hour"), "demo_tumbling", "complete")
    val out = spark.table("demo_tumbling")
    out.orderBy("bucket_start", "event_type").show(8, truncate = false)
    println(s"[demo] streaming agg rows = ${out.count()}")

    // --- streaming ingest dedup: re-delivered files collapse to one copy -
    val dupDir = java.nio.file.Files.createTempDirectory("graft-dup").toString
    val slice = graft.sources.Tables.events(spark, "/root/testdata/sf0.001").limit(200)
    slice.write.mode("overwrite").parquet(dupDir)
    slice.write.mode("append").parquet(dupDir) // simulate at-least-once delivery
    StreamingOps.runToMemory(
      StreamingOps.dedupedStream(
        StreamingOps.readEventStream(spark, dupDir), "event_id"),
      "demo_dedup", "append")
    println(s"[demo] stream dedup: ${spark.table("demo_dedup").count()} unique " +
      s"of ${spark.read.parquet(dupDir).count()} delivered")

    // --- custom stateful streaming (flatMapGroupsWithState) --------------
    import spark.implicits._
    val typedStream = StreamingOps.readEventStream(spark, tmp)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamingOps.Event]
    val sq = StreamingOps.statefulUserStats(typedStream)
      .writeStream.format("memory").queryName("demo_stateful")
      .outputMode("update").start()
    sq.processAllAvailable(); sq.stop()
    println(s"[demo] stateful user stats rows = " +
      spark.table("demo_stateful").count())

    spark.stop()
  }
}
