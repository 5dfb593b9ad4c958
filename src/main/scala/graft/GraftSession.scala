package graft

import java.nio.file.Files

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration every main and the test
  * suite run under, so a setting cannot drift between the path that
  * measures (Bench), the path that checks (Verify, the tests) and the
  * path that pins plans (PlanFingerprints). */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val warehouse = Files.createTempDirectory("graft-wh").toFile
    warehouse.deleteOnExit() // removed at exit if no table was saved
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Timestamp columns arrive as TIMESTAMP(NANOS) or as
      // TIMESTAMP(MICROS, isAdjustedToUTC=false): read the first as a
      // raw Long and never infer TIMESTAMP_NTZ for the second, so
      // Tables.canonicalTs can fold both into TimestampType.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Whole-stage-codegen class cache sized to the board, not the
      // data: the 100-entry default cannot hold the board's ~10³
      // codegen units, so a second pass re-ran janino on plans the
      // first had already compiled. Values and plans are unaffected.
      .config("spark.sql.codegen.cache.maxEntries", 4096L)
      // A fresh warehouse per session: a saveAsTable cannot collide
      // with a location an earlier, killed run left behind.
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The board's unpartitioned windows are deliberate (the allowlist
    // UnpartitionedWindowSpec guards); their per-plan "No Partition
    // Defined" WARN would only bury real errors in the log.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
