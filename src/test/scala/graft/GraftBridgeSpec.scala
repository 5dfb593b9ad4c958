package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Pins GraftBridge.measuredCut's use of Spark-private API (LogicalRDD's
  * originStats and declared partitioning, Dataset.ofRows), so a Spark
  * upgrade that changes any of it fails here, loudly, rather than as a
  * silently re-shuffling or mis-broadcasting graph plan. */
class GraftBridgeSpec extends SparkSpec {

  private def keyed: DataFrame = spark.range(0, 1000)
    .select((col("id") % 37).as("k"), col("id").as("v"))

  private def hashExchanges(df: DataFrame): Int = {
    df.collect() // run THIS plan so AQE finalizes
    "Exchange hashpartitioning".r.findAllIn(
      df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)).size
  }

  test("measuredCut: measured row count and size; a keyed cut feeds a " +
      "same-key groupBy with no exchange, AQE on") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val cut = GraftBridge.measuredCut(keyed, Some("k"))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "the cut must leave AQE on")
    val plan = cut.queryExecution.optimizedPlan
    val rows = cut.count()
    assert(rows == 1000)
    assert(plan.stats.rowCount.contains(BigInt(rows)))
    assert(GraftBridge.measuredRows(cut) == rows)
    assert(plan.stats.sizeInBytes ==
      EstimationUtils.getSizePerRow(plan.output) * rows)
    val agg = (df: DataFrame) => df.groupBy(col("k")).agg(sum(col("v")))
    assert(hashExchanges(agg(cut)) == 0,
      "the cut's declared hashpartitioning(k) must satisfy groupBy(k)")
    // control: the same aggregate over the uncut frame does exchange,
    // so the zero above is not a pattern that can never match
    assert(hashExchanges(agg(keyed)) == 1)
    assert(agg(cut).orderBy("k").collect()
      .sameElements(agg(keyed).orderBy("k").collect()))
  }

  test("measuredCut: a lost block fails the consumer with " +
      "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, never a silent wrong answer") {
    val cut = GraftBridge.measuredCut(keyed, Some("k"))
    val consumer = cut.groupBy(col("k")).agg(sum(col("v")))
    val rdd = cut.queryExecution.analyzed
      .collectFirst { case l: LogicalRDD => l.rdd }.get
    rdd.unpersist(blocking = true)
    val e = intercept[SparkException](consumer.collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists {
      case s: SparkException =>
        s.getCondition == "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"
      case _ => false
    }, s"expected a CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND cause, got $e")
  }
}
