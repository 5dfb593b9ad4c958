package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites (forked test JVM). */
object SparkTestSession {
  // local[4]: PLAN_FINGERPRINTS.json pins 4 shuffle partitions
  lazy val get: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  val sf0001 = "/root/testdata/sf0.001"
}
