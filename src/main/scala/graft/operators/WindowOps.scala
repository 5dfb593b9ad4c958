package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped / windowed operators — the semantic core (SURVEY.md §2.E).
  *
  * The reference gets order-dependent semantics "for free" from a
  * physical pre-sort (data_loader.py:119) + single-threaded pandas.
  * Spark's `groupBy().agg(last(...))` is order-NONdeterministic, so every
  * order-dependent op here is expressed as a window over an explicit
  * (partitionBy, orderBy) — correct under any physical row order and any
  * partitioning (SURVEY.md §7.5.1). One hash exchange on the partition
  * key serves all of W1–W4 when they share keys.
  */
object WindowOps {

  /** W1 — forward-fill per group (reference
    * `df.groupby("country")[col].ffill()`, data_cleaner.py:174-185):
    * within each partition key ordered by `orderCols`, carry the last
    * non-null value forward. */
  def forwardFill(
      df: DataFrame,
      partCol: String,
      orderCols: Seq[String],
      fillCols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(partCol)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumns(fillCols.map(c =>
      c -> last(col(c), ignoreNulls = true).over(w)).toMap)
  }

  /** W2 — lag-diff per group (reference
    * `groupby("country")[col].diff()`, data_cleaner.py:188-194):
    * cumulative → daily increments; first row per group NULL → 0, and
    * negative corrections clipped to 0 (X3/X4 applied by the caller or
    * via `fillAndClip`). */
  def lagDiff(
      df: DataFrame,
      partCol: String,
      orderCols: Seq[String],
      srcCol: String,
      outCol: String): DataFrame = {
    val w = Window.partitionBy(partCol).orderBy(orderCols.map(col): _*)
    df.withColumn(outCol, col(srcCol) - lag(col(srcCol), 1).over(w))
  }

  /** fillna(0) + clip(lower=0) exactly as the reference chains them
    * after diff (data_cleaner.py:190,194). */
  def fillAndClip(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, RowOps.clipNonNegative(coalesce(col(c), lit(0.0))))

  /** W3 — latest-per-group temporal alignment (reference
    * `align_temporal_data`, data_merger.py:67-119): per key, the max-date
    * row plus the LAST NON-NULL value of each metric in date order
    * (pandas named-agg `"last"` skips NaN over the pre-sorted frame).
    *
    * Spark form: full-frame ordered window `last(ignoreNulls)` for the
    * metrics + `row_number == 1` on descending order for the row
    * identity. Deterministic under row-order permutation given a total
    * order (`orderCols` must include a tiebreaker). */
  def latestPerGroup(
      df: DataFrame,
      partCol: String,
      orderCols: Seq[Column],
      lastNonNullCols: Seq[String]): DataFrame = {
    val ordered = Window.partitionBy(partCol).orderBy(orderCols: _*)
    val full = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.withColumns(lastNonNullCols.map(c =>
        c -> last(col(c), ignoreNulls = true).over(full)).toMap +
        ("__rn" -> row_number().over(
          Window.partitionBy(partCol).orderBy(orderCols.map(_.desc): _*))))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** W4 — trend metrics per group over a trailing window (reference
    * `calculate_trend_metrics`, data_merger.py:122-223 — a per-country
    * Python loop re-expressed as ONE window + ONE aggregation, no
    * driver-side iteration).
    *
    * Per key over rows within the last `windowDays` of the global max
    * date: positional first/last of `firstLastCols` (reference `iloc[0]`
    * / `iloc[-1]`, NaN→0 AFTER selection), arithmetic mean of `avgCols`
    * (NaN-skipping, = Spark `avg`), min/max date, row count; groups with
    * <2 rows dropped (data_merger.py:151-152). */
  def trendMetrics(
      df: DataFrame,
      partCol: String,
      dateCol: String,
      tieBreak: Seq[Column],
      firstLastCols: Seq[String],
      avgCols: Seq[String],
      windowDays: Int): DataFrame = {
    val windowed = RowOps.lastNDays(df, dateCol, windowDays)
    val ord = (col(dateCol) +: tieBreak)
    val w = Window.partitionBy(partCol).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withFl = windowed.select(col("*") +: firstLastCols.flatMap(c => Seq(
      first(col(c)).over(w).as(s"__first_$c"),
      last(col(c)).over(w).as(s"__last_$c"))): _*)
    // __first_/__last_ are constant within each group (full-frame window),
    // so min() reads them back deterministically regardless of row order;
    // avg is computed as exact-decimal sum / non-null count (= pandas
    // NaN-skipping mean) to be partition-order stable (SURVEY.md §7.5.5).
    val aggs =
      firstLastCols.flatMap(c => Seq(
        coalesce(min(col(s"__first_$c")), lit(0.0)).as(s"first_$c"),
        coalesce(min(col(s"__last_$c")), lit(0.0)).as(s"last_$c"))) ++
      avgCols.map(c =>
        // all-NULL window → 0, mirroring the reference guard
        // `mean() if not isna().all() else 0` (data_merger.py:177-190)
        coalesce(
          sum(col(c).cast("decimal(38,6)")).cast("double") / count(col(c)),
          lit(0.0)).as(s"avg_$c")) ++
      Seq(
        min(col(dateCol)).as("window_start"),
        max(col(dateCol)).as("window_end"),
        count(lit(1)).as("data_points_available"))
    withFl
      .groupBy(col(partCol))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("data_points_available") >= 2)
  }

  /** W5 — global top-k (reference `nlargest`, data_merger.py:406-411 &
    * friends). `orderBy(...).limit(n)` plans as
    * `TakeOrderedAndProject` — a per-partition heap + driver merge, NOT a
    * global sort; scale-safe. `sortCols` must totally order rows. */
  def topK(df: DataFrame, sortCols: Seq[Column], n: Int): DataFrame =
    df.orderBy(sortCols: _*).limit(n)

  /** Deterministic global 1-based row number by `orderCols` (which must
    * totally order the rows) WITHOUT a global sort window — the
    * contiguous-example-id / leaderboard-position primitive.
    *
    * `row_number().over(Window.orderBy(...))` funnels the whole table
    * through ONE task. This is the scalable decomposition instead (the
    * DataFrame analog of RDD.zipWithIndex): range-repartition by the
    * order key, number rows WITHIN each partition (parallel windows),
    * and add each partition's exclusive offset — a prefix sum over the
    * BOUNDED per-partition-count table. The lazy checkpoint pins one
    * materialization so the count pass and the numbering pass see the
    * SAME range boundaries (range sampling is not re-run per subplan);
    * the emitted rank is the global rank by `orderCols`, invariant to
    * however the sampler happened to place the boundaries. */
  def globalRowNumber(df: DataFrame, orderCols: Seq[Column],
      outCol: String): DataFrame = {
    val ranged = df.repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("__pid", spark_partition_id().cast("long"))
      .localCheckpoint(eager = false)
    val wPrefix = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .select(col("__pid"),
        coalesce(sum(col("__c")).over(wPrefix), lit(0L)).as("__off"))
    val wIn = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, col("__off") + row_number().over(wIn))
      .drop("__pid", "__off")
  }

  /** O9 — SCD2 (type-2 slowly-changing-dimension) history from an
    * attribute change log: consecutive runs of the same `attrCol` value
    * per `keyCol` collapse into ONE versioned row with
    * `[valid_from, valid_to)` validity (epoch seconds; `valid_to` is the
    * next version's start, NULL on the open current version) — the
    * standard warehouse dimension-history build, and the interval twin
    * of [[graft.queries.TrainingQueries]]'s o8 latest-state CDC merge.
    *
    * Run collapse is gaps-and-islands (lag-change marker + prefix-sum
    * run id — the v8 sessionization machinery pointed at value changes
    * instead of time gaps); every window and the run aggregate ride
    * `keyCol` partitions, so the one hash exchange on the key is the
    * only corpus movement and per-key state is bounded by that key's
    * rows. Ties are pinned by `orderCols` (pass an id column after the
    * timestamp — same policy as v8). */
  def scd2History(df: DataFrame, keyCol: String, attrCol: String,
      tsCol: String, orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
    val runs = df
      // null-SAFE change test (<=>): a NULL attribute is a value of its
      // own — plain =!= evaluates to NULL against a non-null neighbor,
      // the marker would fall to 0, and the groupBy below would then
      // split the run into two rows sharing one version number (tied,
      // nondeterministic valid_to). IS DISTINCT FROM in the oracle.
      // The first row per key starts a run UNCONDITIONALLY (the
      // lag(lit(1)) sentinel): relying on `lag(attr) <=> attr` alone
      // numbers a key whose FIRST attribute is NULL from version 0
      // (NULL <=> NULL is true), so consumers keying on version == 1
      // for the initial dimension row would silently miss it.
      .withColumn("__chg",
        when(lag(lit(1), 1).over(w).isNull
            || !(lag(col(attrCol), 1).over(w) <=> col(attrCol)), 1L)
          .otherwise(0L))
      .withColumn("__run", sum(col("__chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("__run"), col(attrCol))
      .agg(min(col(tsCol).cast("long")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val wVer = Window.partitionBy(col(keyCol)).orderBy(col("__run"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wVer))
      .select(col(keyCol), col("__run").as("version"), col(attrCol),
        col("valid_from"), col("valid_to"), col("n_events"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Trailing exponentially-weighted moving average with half-life
    * weights — the recency-weighted smoother behind drift monitors and
    * rate estimators — in a form that is EXACTLY deterministic across
    * engines and partitionings with NO decimal-sum convention:
    *
    *   ewma = (Σₖ vu·2⁻ᵏ) / ((Σₖ 2⁻ᵏ) · scale),  k = 0..depth−1
    *
    * `vu` must be an integer-quantized LONG column (centi-units etc. —
    * the v11/v13 trick; `scale` undoes the quantization in the final
    * division). Every weight 2⁻ᵏ is an exact double and every product
    * vu·2⁻ᵏ an exact dyadic, so for |vu| < 2^(52−depth) the numerator
    * and denominator sums are exact in ANY association — pure IEEE
    * equality, no rounding convention. The truncated window normalizes
    * by the weights actually present, so early rows get a proper
    * partial-window mean. All `depth` lag() expressions share ONE
    * window spec — a single exchange on `key` and one sort (plan
    * pinned in PlanSpec v16); per-row state is `depth` values
    * regardless of stream length.
    *
    * Appends `outCol` = round(num/den/scale, 6) to `df`. */
  def ewmaHalfLife(df: DataFrame, key: Column, order: Seq[Column],
      vu: Column, depth: Int, scale: Double, outCol: String): DataFrame = {
    require(depth >= 1 && depth <= 50, s"depth out of range: $depth")
    val w = Window.partitionBy(key).orderBy(order: _*)
    val lags = (0 until depth).map { k =>
      val weight = lit(math.pow(0.5, k)) // exact: a power of two
      val lagged = if (k == 0) vu else lag(vu, k).over(w)
      (coalesce(lagged.cast("double") * weight, lit(0.0)),
        when(lagged.isNotNull, weight).otherwise(lit(0.0)))
    }
    df.withColumn("__num", lags.map(_._1).reduce(_ + _))
      .withColumn("__den", lags.map(_._2).reduce(_ + _))
      .withColumn(outCol,
        round(col("__num") / (col("__den") * lit(scale)), 6))
      .drop("__num", "__den")
  }
}
