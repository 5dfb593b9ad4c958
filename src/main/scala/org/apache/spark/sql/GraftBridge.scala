package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge into `private[sql]` Spark internals: the Column↔Expression
  * converters — the supported route for third-party Catalyst
  * expressions on Spark 4 (Column wraps a ColumnNode, no public
  * Expression constructor) — and the `LogicalRDD`/`Dataset.ofRows`
  * factories behind [[measuredCut]]. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A lineage cut the planner can trust. Materializes `df` ONCE (a
    * local checkpoint, run eagerly) and returns a Dataset over
    * `LogicalRDD(output, rdd, partitioning)` whose `originStats` carry
    * the MEASURED row count and `sizeInBytes = rows × getSizePerRow(output)`
    * — Spark's own per-row width, so the figure is a pure function of
    * the schema and the row count. A plain `localCheckpoint` instead
    * freezes the optimizer's pre-execution size guess (Spark 4.1.2), so
    * joins against it planned from a fiction and needed hints.
    *
    * With a `key`, the frame is first repartitioned by that column into
    * `spark.sql.shuffle.partitions` partitions — an explicit count, which
    * AQE never coalesces — and the cut DECLARES
    * `HashPartitioning(key, n)`, so a consumer's same-key aggregate,
    * window or co-partitioned join plans no exchange. (A checkpoint
    * taken under AQE records `UnknownPartitioning`.) AQE stays on
    * throughout; should the materialized RDD not have exactly `n`
    * partitions, the cut declares no partitioning rather than a false one.
    *
    * Block-loss contract: the cut has no lineage. If its blocks are
    * lost (unpersisted, or an executor's block store gone), an action
    * on any consumer fails with a `SparkException` of condition
    * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`; it never recomputes and never
    * returns a silent wrong answer (pinned by GraftBridgeSpec). */
  def measuredCut(df: DataFrame, key: Option[String] = None): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val n = session.sessionState.conf.numShufflePartitions
    val shaped = key.fold(ds)(k => ds.repartition(n, ds.col(k)))
    val qe = shaped.queryExecution
    val (rdd, rows) = SQLExecution.withNewExecutionId(qe, Some("measuredCut")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      (rdd, rdd.count())
    }
    val output = shaped.logicalPlan.output
    val partitioning = key match {
      case Some(k) if rdd.getNumPartitions == n =>
        HashPartitioning(Seq(shaped.resolve(k).toAttribute), n)
      case _ => UnknownPartitioning(0)
    }
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(output) * rows,
      rowCount = Some(BigInt(rows)))
    val (_, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(shaped.logicalPlan, qe.optimizedPlan)
    classic.Dataset.ofRows(session,
      LogicalRDD(output, rdd, partitioning)(session, Some(stats), constraints))
  }

  /** The row count a [[measuredCut]] measured, read from its stats
    * (no job). */
  def measuredRows(cut: DataFrame): Long =
    cut.queryExecution.optimizedPlan.stats.rowCount
      .getOrElse(throw new IllegalArgumentException("not a measuredCut"))
      .toLong

  /** Spark's own broadcast-by-size rule (`0 ≤ sizeInBytes ≤
    * spark.sql.autoBroadcastJoinThreshold`) applied to `df`'s current
    * estimate — a measured figure for a [[measuredCut]], so a caller
    * can decide a hint or a layout for an in-plan frame from a cut. */
  def fitsBroadcast(df: DataFrame): Boolean =
    SizeRule.canBroadcastBySize(df.queryExecution.optimizedPlan,
      df.sparkSession.asInstanceOf[classic.SparkSession].sessionState.conf)

  private object SizeRule extends JoinSelectionHelper
}
