package graft

import java.nio.file.Files

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
    val jobs = SparkTestSession.jobsFiredBy {
      Tables.read(spark, sf0001, "nation")
      Tables.lineitem(spark, sf0001)
      Tables.events(spark, sf0001)
    }
    assert(jobs == 0, s"$jobs jobs fired by three table reads")
  }
}
