package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.SparkException
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

/** Bridge into `private[parquet]` Spark internals: the footer reader and
  * the footer-to-schema conversion behind Spark's parquet schema
  * inference, called on the driver.
  *
  * Spark's own inference (`ParquetUtils.inferSchema`) always reads the
  * footer inside a one-task job (`mergeSchemasInParallel`), even with
  * `mergeSchema=false` and a single file, and no setting turns that off.
  * [[footerSchema]] reads the same footer with the same code and no job. */
object GraftParquet {

  /** The schema Spark would infer for the parquet file or directory at
    * `path`, without `mergeSchema`: the footer of the first visible data
    * file, converted by `ParquetFileFormat.readSchema` — Spark's
    * converter built from the session's flags (`nanosAsLong`,
    * `inferTimestampNTZ`, binary-as-string, INT96), or the schema a Spark
    * writer stored under its row-metadata key. Names starting with `_` or
    * `.` are skipped at every level, so a `partitionBy` layout works;
    * its partition columns are not in the footer — Spark discovers
    * them when the path is read with this schema.
    *
    * Failures keep Spark's conditions: a missing path raises
    * `PATH_NOT_FOUND`, a directory with no data file
    * `UNABLE_TO_INFER_SCHEMA`, an unreadable footer
    * `FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER`. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.makeQualified(p)
    if (!fs.exists(root))
      throw QueryCompilationErrors.dataPathNotExistError(root.toString)
    val footers = firstDataFile(fs, fs.getFileStatus(root)).toSeq.flatMap { f =>
      // the reader runs on a thread pool whose `awaitResult` wraps every
      // error; unwrap it as Spark's `DataSource` does
      try ParquetFileFormat.readParquetFootersInParallel(
        conf, Seq(f), state.conf.ignoreCorruptFiles)
      catch { case e: SparkException if e.getCause != null => throw e.getCause }
    }
    ParquetFileFormat.readSchema(footers, spark)
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
  }

  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else fs.listStatus(st.getPath)
      .filterNot { s => val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") }
      .sortBy(_.getPath.getName)
      .iterator.flatMap(firstDataFile(fs, _)).nextOption()
}
