package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One board query: its Spark plan over (session, data dir) and the
  * ANSI SQL DuckDB runs on the same parquet as its independent answer.
  * `oracle` is None only where the op cannot be replayed in SQL (the
  * approximate ANN and sketch queries) — the driver then records a
  * rows-only check. Oracle strings are built when their family object
  * initializes, so a `val` they interpolate must be defined above that
  * object's `specs` (one defined below it still reads null). */
final case class QuerySpec(
    name: String,
    plan: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QuerySpec {

  /** name → spec. A repeated name is an error, not a silent overwrite:
    * a Map would keep only the last plan and its oracle. */
  def index(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }
}
