package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet readers for the driver's deterministic TESTDATA tables
  * (`/root/testdata/sf*`; schemas in FIXTURES.md §B).
  *
  * Design for scale: we rely on the vectorized parquet reader plus
  * Catalyst column pruning / filter pushdown — callers `select`/`filter`
  * and the scan narrows automatically (verified via `.explain`:
  * `PushedFilters`, `ReadSchema`). At 100 TB these would be
  * partitioned/bucketed tables behind a catalog; the API shape
  * (`DataFrame` per logical table) is unchanged.
  *
  * Every parquet read here goes through [[parquet]]: the schema comes
  * from the file footer on the driver, with no Spark job and no cache.
  */
object Tables {
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)`, with the schema Spark would infer read
    * from the footer on the driver by `GraftParquet.footerSchema`
    * (Spark's converter under the session's flags, Spark's error
    * conditions) instead of by Spark's one-task inference job. Each call
    * re-reads the footer. Spark still makes the data schema nullable and
    * discovers partition columns, so frames and plans are the ones
    * `spark.read.parquet(path)` gives. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(GraftParquet.footerSchema(spark, path)).parquet(path)

  /** Timestamp normalization at the reader boundary. The types it
    * branches on come from the file footer through Spark's converter and
    * the session's flags, with no job (see [[parquet]]). The driver's
    * parquet has carried two physical encodings across regenerations:
    * TIMESTAMP(NANOS) (arrives as a raw ns LONG under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (arrives as TIMESTAMP_NTZ under Spark's
    * default `inferTimestampNTZ`). Every operator downstream assumes ONE
    * canonical type — TimestampType (µs, UTC session) — so both encodings
    * are folded here and nowhere else. The NTZ→LTZ cast reinterprets the
    * stored local-datetime in the session time zone; all graft sessions
    * pin UTC, which makes `unix_micros(ts)` equal DuckDB's `epoch_us(ts)`
    * on the naive value — the cross-engine epoch-µs convention every
    * oracled comparison rides on. The ns branch uses INTEGER division (a
    * double roundtrip would lose precision: epoch-ns ≈ 1.7e18 > 2^53). */
  private def canonicalTs(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      acc.schema(c).dataType match {
        case LongType => acc.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
        case TimestampNTZType => acc.withColumn(c, col(c).cast(TimestampType))
        case _ => acc
      }
    }

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    canonicalTs(read(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    canonicalTs(read(s, d, "lineitem"), "l_shipdate")
  def events(s: SparkSession, d: String): DataFrame =
    canonicalTs(read(s, d, "events"), "ts")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")

  /** `documents` plus deterministic exact-duplicate clones (every
    * doc_id % 25 == 0 re-inserted at doc_id + 1,000,000 — a sentinel
    * far above any scale factor's id range, so a clone id can never
    * collide with a real document's). The raw synthetic corpus is
    * near-duplicate-free (sf0.01 has zero exact dups; sf0.1 has 8
    * natural ones), which would leave the exact-dedup oracles' collapse
    * logic essentially unexercised; both engines replay the same
    * injection, so group sizes and the keep-min-id rule discriminate. */
  def documentsWithDups(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    docs.unionByName(docs.filter(col("doc_id") % 25 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L))
  }
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** Spread a small-scan input across the cluster before a CPU-heavy
    * per-row projection (shingling, signature hashing, multi-signal text
    * scoring). A tiny corpus arrives as one parquet split, which would
    * serialize the projection onto one core; at production scale the scan
    * already has >= target partitions and this is a no-op — no shuffle is
    * added. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** S5 — CSV export sink (reference `df.to_csv`, streamlit_app.py:651-657).
    * `coalesce(1)` mirrors the reference's single-file download contract. */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)

  /** Small-files compaction — the table-maintenance pass every
    * streaming/incremental sink eventually needs (each micro-batch and
    * ingest shard leaves its own files; thousands of KB-sized parquet
    * files turn scan planning and footer reads into the bottleneck).
    * Rewrites `inDir` into `outDir` as `targetFiles` files via
    * `coalesce` — a NARROW repartition: existing partitions are
    * concatenated, nothing shuffles (a `repartition` here would move
    * every byte through an exchange just to change the file count).
    *
    * Safety: the parquet read is LAZY, so `mode("overwrite")` deletes
    * its target before a single input row is materialized — compacting
    * in place (or into a parent of the input) would destroy the table.
    * Both layouts are rejected on canonicalized paths. The rewrite is
    * flat: partition discovery folds a `partitionBy` input's partition
    * columns into data columns, so its directory layout (and partition
    * pruning) does not survive. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetFiles: Int): Unit = {
    val in = java.nio.file.Paths.get(inDir).toAbsolutePath.normalize
    val out = java.nio.file.Paths.get(outDir).toAbsolutePath.normalize
    require(in != out,
      s"compact() in place would delete the input before reading it: $in")
    require(!in.startsWith(out),
      s"compact() output $out contains the input $in — overwrite would " +
        "delete the table")
    require(!out.startsWith(in),
      s"compact() output $out inside the input $in — the next read of " +
        "the table would pick up originals plus the compacted copy and " +
        "double-count every row")
    parquet(spark, inDir).coalesce(targetFiles)
      .write.mode("overwrite").parquet(outDir)
  }
}
