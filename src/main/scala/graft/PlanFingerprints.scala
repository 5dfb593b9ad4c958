package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whole-board physical-plan fingerprints (VERDICT r7 item 4): every
  * query's scale-relevant plan shape — exchange counts by kind,
  * join strategies, generate/expand barriers, window/sort/aggregate
  * nodes, scan kinds and nonempty filter pushdown — extracted from the
  * PRE-execution physical plan (AdaptiveSparkPlanExec's initial plan;
  * the same surface PlanSpec's string pins assert against) and written
  * to `PLAN_FINGERPRINTS.json`. PlanFingerprintSpec recomputes the
  * board against the committed file, so ANY query whose plan drifts —
  * a new shuffle, a lost broadcast, a scan that stopped pruning —
  * fails the suite with a line diff, generalizing the ~50 hand-pinned
  * PlanSpec tests to all queries. Refresh after an intentional change:
  * `sbt "runMain graft.PlanFingerprints"` and review the git diff.
  *
  * The counts are node-NAME grains only (no expression ids, no paths),
  * so the artifact is deterministic for fixed code + fixture + confs;
  * the session here mirrors SparkTestSession (local[4], 4 shuffle
  * partitions) so the spec and the artifact see identical planning.
  */
object PlanFingerprints {

  /** (fingerprint key, line pattern). Patterns are matched per plan
    * line; word boundaries keep e.g. `Sort` from counting
    * `SortMergeJoin` and `Window` from counting `WindowGroupLimit`. */
  val Patterns: Seq[(String, scala.util.matching.Regex)] = Seq(
    "exchange_hash" -> """Exchange hashpartitioning""".r,
    "exchange_range" -> """Exchange rangepartitioning""".r,
    "exchange_single" -> """Exchange SinglePartition""".r,
    "broadcast_exchange" -> """BroadcastExchange""".r,
    "join_broadcast_hash" -> """BroadcastHashJoin""".r,
    "join_sort_merge" -> """SortMergeJoin""".r,
    "join_shuffled_hash" -> """ShuffledHashJoin""".r,
    "join_bnl" -> """BroadcastNestedLoopJoin""".r,
    "join_cartesian" -> """CartesianProduct""".r,
    "generate" -> """\bGenerate\b""".r,
    "expand" -> """\bExpand\b""".r,
    "window" -> """\bWindow\b""".r,
    "window_group_limit" -> """WindowGroupLimit""".r,
    "sort" -> """\bSort\b""".r,
    "top_k" -> """TakeOrderedAndProject""".r,
    "agg_hash" -> """\bHashAggregate\b""".r,
    "agg_object_hash" -> """ObjectHashAggregate""".r,
    "agg_sort" -> """SortAggregate""".r,
    "scan_parquet" -> """Scan parquet""".r,
    "scan_rdd" -> """Scan ExistingRDD""".r,
    // the cached-session boundary (p_dashboard_session): the tab plan
    // must read the persisted frame, not re-run its build lineage
    "scan_inmem" -> """InMemoryTableScan""".r,
    "scan_csv" -> """Scan csv""".r,
    "scan_json" -> """Scan json""".r,
    "scan_orc" -> """Scan orc""".r,
    "scan_text" -> """Scan text""".r,
    "pushed_filters" -> """PushedFilters: \[[^\]]""".r
  )

  def fingerprint(df: DataFrame): Map[String, Int] = {
    val lines = df.queryExecution.executedPlan.toString.split('\n').toSeq
    Patterns.flatMap { case (key, re) =>
      val n = lines.count(l => re.findFirstIn(l).isDefined)
      if (n > 0) Some(key -> n) else None
    }.toMap
  }

  /** Fingerprint every SparkEntry query (sorted — shared memoized
    * artifacts are built in one fixed order) at the given fixture. */
  def computeAll(spark: SparkSession, dir: String): Seq[(String, Map[String, Int])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fingerprint(fn(spark, dir))
    }

  /** Canonical rendering — the committed file IS this string, so the
    * spec compares strings and never needs a JSON parser. */
  def render(fps: Seq[(String, Map[String, Int])]): String =
    fps.map { case (q, m) =>
      val body = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""  "$q": {$body}"""
    }.mkString("{\n", ",\n", "\n}\n")

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "PLAN_FINGERPRINTS.json"
    val spark = GraftSession.local(4) // the pins assume 4 shuffle partitions
    val fps = computeAll(spark, "/root/testdata/sf0.001")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      render(fps).getBytes("UTF-8"))
    println(s"[plan-fingerprints] wrote ${fps.size} queries to $out")
    spark.stop()
  }
}
