package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites (forked test JVM). */
object SparkTestSession {
  // local[4]: PLAN_FINGERPRINTS.json pins 4 shuffle partitions
  lazy val get: SparkSession = GraftSession.local(4)

  /** Runs `body` with size-driven broadcasts off — both the planner's
    * and AQE's runtime threshold at -1 — and restores both afterwards.
    * At test scale every state frame fits the default threshold (and
    * AQE would re-broadcast it at runtime), so this is how a test
    * reaches the shuffle-join plans a graph past the threshold gets. */
  def withBroadcastOff[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> get.conf.getOption(k))
    keys.foreach(get.conf.set(_, "-1"))
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(get.conf.unset(k))(get.conf.set(k, _)) }
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  val sf0001 = "/root/testdata/sf0.001"
}
