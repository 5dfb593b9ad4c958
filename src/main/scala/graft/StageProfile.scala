package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable

/** Stage-level attribution for queries whose plans look clean but whose
  * wall-clock resists two rounds of plan work (VERDICT r14 item 5:
  * d20/d3/d4 — "measure, don't guess"). Runs each named query once
  * warm-up + once measured with a stage listener attached and prints,
  * per stage: wall-clock span, summed executor task time, input/shuffle
  * volumes and the stage's first line of callsite — enough to say which
  * operator (span generation, signature hashing, the grouped aggregate,
  * …) owns the time. Measurement tooling like [[Explain]]; not part of
  * any query path.
  * Usage: `sbt "runMain graft.StageProfile d20_exact_dup_span ..."`. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("d20_exact_dup_span", "d3_minhash_lsh", "d4_simhash")

    final case class StageRow(id: Int, name: String, wallMs: Long,
      taskMs: Long, tasks: Int, inputMB: Double, shReadMB: Double,
      shWriteMB: Double, spillMB: Double)
    val rows = mutable.ArrayBuffer[StageRow]()
    var collecting = false
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          rows.synchronized { rows += StageRow(si.stageId,
            si.name.linesIterator.next(),
            (for (s <- si.submissionTime; c <- si.completionTime)
              yield c - s).getOrElse(-1L),
            m.executorRunTime, si.numTasks,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.diskBytesSpilled / 1e6) }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          Bench.evalAll(fn(spark, sfDir)) // warm-up: JIT + codegen + footers
          rows.clear(); collecting = true
          val t0 = System.nanoTime()
          Bench.evalAll(fn(spark, sfDir))
          val wall = (System.nanoTime() - t0) / 1e9
          // listener bus is async — give it a moment to drain
          Thread.sleep(1000)
          collecting = false
          println(s"\n========== $n  (measured wall ${f"$wall%.3f"} s) ==========")
          println(f"${"stage"}%-7s${"wall_ms"}%9s${"task_ms"}%9s${"tasks"}%7s" +
            f"${"in_MB"}%9s${"shR_MB"}%9s${"shW_MB"}%9s${"spill"}%7s  name")
          rows.sortBy(-_.taskMs).foreach { r =>
            println(f"${r.id}%-7d${r.wallMs}%9d${r.taskMs}%9d${r.tasks}%7d" +
              f"${r.inputMB}%9.1f${r.shReadMB}%9.1f${r.shWriteMB}%9.1f" +
              f"${r.spillMB}%7.1f  ${r.name.take(90)}")
          }
          val totTask = rows.map(_.taskMs).sum
          println(f"total task_ms: $totTask%d across ${rows.size}%d stages")
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
