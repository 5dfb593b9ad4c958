package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** The number of Spark jobs `body` fires on this thread. Its jobs are
    * tagged with a local property; listener events arrive in order, so
    * once a sentinel job run after `body` is seen, every job `body`
    * fired has been counted. */
  def jobsFiredBy(body: => Unit): Int = {
    val probe = "graft.test.jobProbe"
    val jobs = new AtomicInteger
    val sentinel = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(probe)) match {
          case Some("body") => jobs.incrementAndGet()
          case Some("sentinel") => sentinel.incrementAndGet()
          case _ =>
        }
    }
    val sc = get.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(probe, "body")
      body
      sc.setLocalProperty(probe, "sentinel")
      get.range(1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (sentinel.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      require(sentinel.get > 0, "the sentinel job never reached the listener")
      jobs.get
    } finally {
      sc.setLocalProperty(probe, null)
      sc.removeSparkListener(listener)
    }
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  val sf0001 = "/root/testdata/sf0.001"
}
