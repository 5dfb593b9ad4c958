package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField, StructType}

import graft.sources.Tables

/** `Tables.parquet` takes its schema from the file footer on the driver:
  * the schema equals Spark's own inference on every layout the program
  * reads, and no read fires a job. */
class TablesSpec extends SparkSpec {

  test("Tables.read's schema equals Spark's inference on every sf0.001 table") {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { n =>
      assert(Tables.read(spark, sf0001, n).schema ==
        spark.read.parquet(s"$sf0001/$n.parquet").schema, n)
    }
  }

  test("Tables.parquet equals Spark's inference on a multi-file directory") {
    val dir = Files.createTempDirectory("tables-flat").toString + "/orders"
    Tables.orders(spark, sf0001).repartition(3).write.parquet(dir)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) == 3)
    assert(Tables.parquet(spark, dir).schema == spark.read.parquet(dir).schema)
  }

  test("Tables.parquet on a partitionBy(day) sink: footer columns plus the discovered day") {
    val dir = Files.createTempDirectory("tables-part").toString + "/events"
    val events = Tables.events(spark, sf0001)
    events.withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").parquet(dir)
    val expected = StructType(events.schema.fields.map(_.copy(nullable = true)) :+
      StructField("day", DateType, nullable = true))
    assert(spark.read.parquet(dir).schema == expected)
    assert(Tables.parquet(spark, dir).schema == expected)
  }

  test("Tables.read, lineitem and events fire no Spark job") {
    val probe = "graft.tablesSpec.probe"
    val jobs = new AtomicInteger
    val sentinel = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(probe)) match {
          case Some("reads") => jobs.incrementAndGet()
          case Some("sentinel") => sentinel.incrementAndGet()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(probe, "reads")
      Tables.read(spark, sf0001, "nation")
      Tables.lineitem(spark, sf0001)
      Tables.events(spark, sf0001)
      // listener events arrive in order: once the sentinel job is seen,
      // every job the reads fired has been counted
      sc.setLocalProperty(probe, "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (sentinel.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinel.get > 0, "the sentinel job never reached the listener")
      assert(jobs.get == 0, s"${jobs.get} jobs fired by three table reads")
    } finally {
      sc.setLocalProperty(probe, null)
      sc.removeSparkListener(listener)
    }
  }
}
