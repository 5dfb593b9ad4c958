package graft

/** Local replica of the driver's t1 smoke: run `SparkEntry.entry` and
  * assert rows > 0. Usage: `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(20, truncate = false)
    println(s"[smoke] entry rows = $n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
  }
}
