package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Profiling / summary aggregates (SURVEY.md §2.E W6–W12).
  *
  * All are single two-phase hash aggregations (partial map-side combine →
  * final) — the per-column profiles are computed in ONE pass over the
  * data by generating one aggregate expression per column, never one job
  * per column.
  */
object Summaries {

  /** W9/W10 — missing-data / completeness profile
    * (data_cleaner.py:110-122, data_merger.py:378-392): per column,
    * null count + null %, one row per profiled column. Single scan.
    * The percentage rounds to 2 decimals, the W9 missing_percentage
    * rule (data_cleaner.py:119). */
  def missingProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "missingProfile needs at least one column")
    val aggs = count(lit(1)).as("total_rows") +:
      cols.map(c => sum(col(c).isNull.cast("long")).as(s"__null_$c"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    // unpivot to (column, total, nulls, pct) — stack() stays one pass;
    // backtick-quote generated identifiers (column names may need it)
    val stackArgs = cols
      .map(c => s"'${c.replace("'", "\\'")}', `__null_$c`")
      .mkString(", ")
    one.selectExpr(
        "total_rows",
        s"stack(${cols.size}, $stackArgs) as (column_name, null_count)")
      .select(
        col("column_name"),
        col("total_rows"),
        col("null_count"),
        // multiply-first, matching the oracle's n*100.0/t association —
        // (n/t)*100 can round to a different cent within ~1 ulp of a
        // .xx5 boundary (engine-identical arithmetic order policy)
        round(col("null_count") * 100.0 / col("total_rows"), 2)
          .as("null_percent"))
  }

  /** W7/W11 — conditional counts (reference `(cond).sum()` idiom,
    * visualizer.py:279-315, data_merger.py:394-401,
    * data_cleaner.py:125-144). Coalesced to 0 on empty input — SQL sum
    * over zero rows is NULL, but the reference's `(cond).sum()` is 0. */
  def countIf(cond: Column): Column =
    coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L))

  /** W12 — histogram binning with fixed bounds
    * (visualizer.py:266-272 et al.): bin id = floor((x−min)/width),
    * expressed relationally (groupBy bin → count). Fixed, injected
    * bounds keep it one pass and oracle-deterministic. */
  def histogram(df: DataFrame, c: Column, minVal: Double, width: Double): DataFrame =
    df.filter(c.isNotNull)
      .groupBy(floor((c - lit(minVal)) / lit(width)).as("bin"))
      .count()

  /** W8 — Pearson correlation via explicitly-ordered exact moments.
    * `corr()` over doubles is partition-order dependent in the last ulp
    * (SURVEY.md §7.5.5); summing exact decimals then combining a handful
    * of scalars in double is bit-deterministic and matches a DuckDB
    * oracle computing the same formula. The result rounds to 6 places. */
  def pearson(df: DataFrame, groupCols: Seq[Column], x: Column, y: Column)
      : DataFrame = {
    val dec = "decimal(38,10)"
    // pairwise-complete: a row with either side NULL must not contribute
    // to ANY moment (pandas/Spark corr semantics) — without this filter,
    // n counts rows whose x was skipped by sum(x), corrupting the result
    df.filter(x.isNotNull && y.isNotNull)
      .groupBy(groupCols: _*)
      .agg(
        count(lit(1)).cast("double").as("__n"),
        sum(x.cast(dec)).cast("double").as("__sx"),
        sum(y.cast(dec)).cast("double").as("__sy"),
        sum((x * y).cast(dec)).cast("double").as("__sxy"),
        sum((x * x).cast(dec)).cast("double").as("__sxx"),
        sum((y * y).cast(dec)).cast("double").as("__syy"))
      .withColumn("corr_xy", round(
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
               (col("__n") * col("__syy") - col("__sy") * col("__sy"))),
        6))
      .drop("__n", "__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /** Per-group ORDINARY-LEAST-SQUARES line fit (y = slope·x +
    * intercept, plus R²) from the same exact-decimal moment sums as
    * [[pearson]] — the trend-extraction analytic (drift detection,
    * per-cohort growth rates) done in ONE distributed pass: five
    * moments accumulate partial+final in a single hash aggregate (no
    * second scan, no collect), then the closed-form solution combines
    * a handful of per-group scalars in double. Determinism: each
    * moment sums as DECIMAL(38,10) (associative-exact, so Spark's
    * aggregation order cannot ulp-drift), and both engines evaluate
    * the identical double expression tree over identical operands —
    * round(…, 6) buries nothing engine-specific.
    *
    * Degenerate groups (n < 2, or zero x-variance) yield NULL slope/
    * intercept/R² via the guarded divisions — never NaN/Inf (the X6
    * guarded-ratio contract). Rows with either side NULL are dropped
    * from ALL moments (pairwise-complete, the pearson rule). */
  def olsFit(df: DataFrame, groupCols: Seq[Column], x: Column, y: Column)
      : DataFrame = {
    val dec = "decimal(38,10)"
    val vx = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val vy = col("__n") * col("__syy") - col("__sy") * col("__sy")
    val cxy = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    df.filter(x.isNotNull && y.isNotNull)
      .groupBy(groupCols: _*)
      .agg(
        count(lit(1)).cast("double").as("__n"),
        sum(x.cast(dec)).cast("double").as("__sx"),
        sum(y.cast(dec)).cast("double").as("__sy"),
        sum((x * y).cast(dec)).cast("double").as("__sxy"),
        sum((x * x).cast(dec)).cast("double").as("__sxx"),
        sum((y * y).cast(dec)).cast("double").as("__syy"))
      .withColumn("n_obs", col("__n").cast("long"))
      .withColumn("slope",
        round(when(vx > 0.0, cxy / vx), 6))
      .withColumn("intercept",
        round(when(vx > 0.0,
          (col("__sy") - (cxy / vx) * col("__sx")) / col("__n")), 6))
      .withColumn("r2",
        round(when(vx > 0.0 && vy > 0.0, (cxy * cxy) / (vx * vy)), 6))
      .drop("__n", "__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /** W32 — full k×k Pearson CORRELATION MATRIX in ONE pass (the
    * feature-screening step before any model fit: k(k−1)/2 pairwise
    * correlations from one scan, where naive per-pair [[pearson]] calls
    * would re-read the data C(k,2) times). One hash aggregate computes
    * n, the k sums, k squared-sums and C(k,2) cross-sums — 1+2k+C(k,2)
    * decimal accumulators, all map-side-combinable partials, so at
    * 100 TB the cost is exactly one scan plus a 1-row exchange — then
    * each pair's correlation combines its five scalars in double on the
    * single result row and an `explode` unpivots to (col_a, col_b,
    * corr) rows. Determinism: the [[pearson]] policy verbatim — exact
    * decimal moments (associative, aggregation-order-proof), then an
    * identical IEEE expression tree both engines replay, rounded once
    * to 6 places.
    *
    * Row semantics are COMPLETE-CASE (a row with ANY of the k columns
    * null is dropped from every moment), NOT pearson's pairwise-
    * complete: with shared moments a pairwise rule would need per-pair
    * n/sums anyway — complete-case is what keeps the matrix one
    * aggregate, and is the standard trade documented by every stats
    * package that offers both. Zero-variance columns yield NULL (not
    * NaN) correlations via the guarded sqrt. */
  def pearsonMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "pearsonMatrix needs at least two columns")
    val dec = "decimal(38,10)"
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val moments =
      count(lit(1)).cast("double").as("__n") +:
      (cols.map(c => sum(col(c).cast(dec)).cast("double").as(s"__s_$c")) ++
       cols.map(c =>
         sum((col(c) * col(c)).cast(dec)).cast("double").as(s"__ss_$c")) ++
       pairs.map { case (a, b) =>
         sum((col(a) * col(b)).cast(dec)).cast("double").as(s"__x_${a}_$b")
       })
    val one = df
      .filter(cols.map(col(_).isNotNull).reduce(_ && _))
      .agg(moments.head, moments.tail: _*)
    val cells = pairs.map { case (a, b) =>
      val n = col("__n")
      val va = n * col(s"__ss_$a") - col(s"__s_$a") * col(s"__s_$a")
      val vb = n * col(s"__ss_$b") - col(s"__s_$b") * col(s"__s_$b")
      val cab = n * col(s"__x_${a}_$b") - col(s"__s_$a") * col(s"__s_$b")
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        round(when(va > 0.0 && vb > 0.0, cab / sqrt(va * vb)), 6)
          .as("corr"))
    }
    one.select(col("__n").cast("long").as("n_obs"),
        explode(array(cells: _*)).as("cell"))
      .select(col("cell.col_a"), col("cell.col_b"), col("cell.corr"),
        col("n_obs"))
  }

  /** WEIGHTED median per group (SURVEY §7.4's named extension): the
    * smallest value whose cumulative weight reaches half the group's
    * total — the lower weighted median, the convention that needs no
    * interpolation and stays EXACT under integer weights (2·cumw ≥ W
    * is an integer comparison; no float threshold can ulp-flip it).
    * Distribution-shape analytics weight by quantity/size routinely;
    * the unweighted exact forms (builtin percentile /
    * [[sortedPercentiles]]) cannot express it.
    *
    * Scale shape: ONE exchange on the group key, one in-group sort
    * (spill-friendly — the sortedPercentiles envelope), a running
    * cumulative-weight frame and a min-over-qualifying final aggregate
    * — O(1) state per group past the sort. `orderCols` break ties in
    * the cumulative order deterministically; the SELECTED value is
    * tie-insensitive (equal values qualify together) but the
    * deterministic order keeps intermediate frames replayable.
    * Fractional weights quantize by FLOOR before the long cast — an
    * explicit floor() on BOTH engines, because a bare cast diverges
    * cross-engine (Spark's cast truncates, DuckDB's CAST AS BIGINT
    * rounds to nearest: weight 0.7 would be dropped here but kept as
    * 1 by a naive oracle). Prefer integral weights (quantize upstream
    * like v11/w35 do — floor is a lossy policy, not a semantics);
    * rows with a null value or a non-positive POST-FLOOR weight are
    * dropped, so a (0,1) fraction or NaN cannot slip through as a
    * zero-mass row and fabricate an all-zero group. */
  def weightedMedian(df: DataFrame, groupCols: Seq[String], valCol: Column,
      weightCol: Column, orderCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gs = groupCols.map(col)
    val w = Window.partitionBy(gs: _*).orderBy(valCol +: orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(gs: _*)
    df.withColumn("__v", valCol)
      // floor-then-try_cast: floor pins the fractional-weight policy
      // to one both engines express identically; try_cast turns
      // NaN/±Inf into NULL instead of an ANSI cast error, and the
      // post-cast filter drops them with the zero-mass rows
      .withColumn("__w", floor(weightCol).try_cast("long"))
      // filter on the CAST weight: the raw-weight form would keep
      // fractional (0,1) and NaN weights as zero-mass rows
      .filter(col("__v").isNotNull && col("__w") > 0)
      .withColumn("__cumw", sum(col("__w")).over(w))
      .withColumn("__tot", sum(col("__w")).over(wAll))
      .groupBy(gs: _*)
      .agg(max(col("__tot")).as("total_weight"),
        min(when(col("__cumw") * 2 >= col("__tot"), col("__v")))
          .as("weighted_median"))
  }

  /** Decimal-exact sum of a double column, emitted as a rounded double.
    * Summing doubles is partition-order nondeterministic; casting each
    * value to an exact decimal makes the aggregate associative-exact,
    * then one final round+cast to 2 places gives a stable,
    * oracle-matchable double. */
  def exactSum(c: Column): Column =
    round(sum(c.cast("decimal(38,6)")), 2).cast("double")

  /** Decimal-exact mean: exact sum, one IEEE division at the end,
    * deliberately UNROUNDED — rounding a quotient that often terminates
    * exactly at the target digit (sum/count with small counts) hits
    * engine-specific round-half ties; the raw double is bit-identical
    * across engines instead. */
  def exactAvg(c: Column): Column =
    sum(c.cast("decimal(38,6)")).cast("double") / count(c)

  /** Exact grouped percentiles via DISTRIBUTED SORT. The builtin
    * `percentile`/`median` aggregate is exact but accumulates a
    * value→count map as partial state — O(DISTINCT values) per group.
    * Decision rule between the two exact forms:
    *   - bounded-cardinality column (small-int quantities, codes,
    *     rounded scores): use the BUILTIN — its map is fixed-size,
    *     combinable, and folds into the same pass as other aggregates
    *     (w6/w20 on ~50-distinct l_quantity do this);
    *   - unbounded-cardinality column (prices, raw doubles, amounts):
    *     the builtin's map approaches O(rows) per partition — the memory
    *     profile that falls over at 100 TB, and why the docs steer big
    *     data to approx_percentile. Use THIS form: one hash exchange on
    *     the group key, an in-group sort (spill-friendly external sort),
    *     then each requested rank picks the two order statistics it
    *     interpolates between via conditional aggregates — O(1) state
    *     per group past the sort (x14/x16/w15b on l_extendedprice).
    *
    * Bit-compatibility: same rank formula as the builtin (Hive
    * semantics) — position (n−1)·p over null-filtered values, and
    * `(higher−position)·lowerVal + (position−lower)·higherVal` with the
    * frac==0 short-circuit, in the same IEEE order — so swapping a
    * builtin call site for this one cannot change an oracled output
    * (equality asserted value-for-value in WindowOpsSpec). Ties need no
    * tiebreaker: equal values interpolate to themselves.
    *
    * Returns one row per group: `groupCols` ++ `ps.map(_._1)`. Groups
    * whose values are all null vanish (the builtin would return null —
    * callers here have non-null metrics). */
  def sortedPercentiles(df: DataFrame, groupCols: Seq[String],
      valCol: Column, ps: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gs = groupCols.map(col)
    val base = df.select((gs :+ valCol.cast("double").as("__x")): _*)
      .filter(col("__x").isNotNull)
    val w = Window.partitionBy(gs: _*).orderBy(col("__x"))
    val wg = Window.partitionBy(gs: _*)
    val ranked = base
      .withColumn("__rn", (row_number().over(w) - 1).cast("double"))
      .withColumn("__n", count(lit(1)).over(wg).cast("double"))
    val aggs = ps.map { case (name, p) => rankSelectAgg(p).as(name) }
    ranked.groupBy(gs: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The ONE shared copy of the rank-selection aggregate over a
    * (__x, __rn, __n) ranked frame — the Hive/builtin interpolation
    * [[sortedPercentiles]] documents, factored so the grouped
    * ([[sortedPercentiles]]) and global ([[globalRanked]] consumers)
    * forms cannot drift apart expression-wise. */
  private[graft] def rankSelectAgg(p: Double): Column = {
    val k = (col("__n") - 1) * lit(p)
    val lo = floor(k)
    val lower = max(when(col("__rn") === lo, col("__x")))
    val upper = max(when(col("__rn") ===
      least(lo + 1, col("__n") - 1), col("__x")))
    val frac = max(when(col("__rn") === lo, k - lo))
    // the builtin short-circuits BOTH on frac==0 and on equal
    // bracketing VALUES (ties): interpolating between equal doubles
    // with (1−frac)·v + frac·v re-rounds (0.8·1.5 + 0.2·1.5 =
    // 1.5000000000000002) where the builtin returns v exactly
    when(frac === 0 || lower === upper, lower)
      .otherwise((lit(1) - frac) * lower + frac * upper)
  }

  /** GLOBAL (ungrouped) rank frame over an unbounded-cardinality column
    * — the distributed form of "sort everything, know every row's
    * global rank" that [[sortedPercentiles]]' decision rule demands for
    * exact ungrouped percentiles at 100 TB (the builtin `percentile`
    * keeps an O(DISTINCT-values) value→count map as aggregation state;
    * on a price-like column that map approaches O(rows) per partition —
    * w33 was the repo's one remaining violation of its own rule, r14
    * verdict item 1). A grouped window can't express it either: an
    * empty PARTITION BY moves every row to ONE task.
    *
    * Shape: one RANGE exchange on the value (the distributed,
    * spill-friendly external sort — bounded state per task at any
    * scale) + an in-partition sort, then `monotonically_increasing_id`
    * stamps (partition, local-ordinal) pairs — its documented layout:
    * partition id in the upper bits, a 33-bit per-partition counter
    * below (partitions past 2³³ rows would wrap; no single task holds
    * 8.6B rows at sane split sizes) — and a ≤|partitions|-row offset
    * table (one tiny aggregate, cumulated in a single-partition window
    * over ~dozens of rows) broadcast back to convert local ordinals to
    * global ranks. NO single-task bottleneck touches the data itself.
    *
    * Returns the checkpointed frame (__x, __rn, __n) — nulls dropped,
    * __rn the 0-based global rank as double, __n the non-null count —
    * ready for [[rankSelectAgg]] selectors and any rank-conditional
    * aggregate a caller wants to ride the same pass (w33 fuses its
    * sketch-contract rank counts into the selector aggregate).
    * Bit-compatibility: rank arithmetic is [[rankSelectAgg]] verbatim,
    * so percentiles selected from this frame equal the builtin
    * value-for-value (pinned in WindowOpsSpec). */
  def globalRanked(df: DataFrame, valCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mask = (1L << 33) - 1
    val ranged = df.select(valCol.cast("double").as("__x"))
      .filter(col("__x").isNotNull)
      .repartitionByRange(col("__x"))
      .sortWithinPartitions(col("__x"))
      .withColumn("__mid", monotonically_increasing_id())
      // offsets pass + rank pass both slice from the sorted frame;
      // the checkpoint also pins __mid (nondeterministic) to one layout
      .localCheckpoint(eager = false)
    val counts = ranged
      .groupBy(shiftright(col("__mid"), 33).as("__pid"))
      .agg(count(lit(1)).as("__c"))
    // ≤|partitions| rows: the single-partition window is the o7 global
    // row-number convention applied where it is SAFE — metadata grain,
    // never data grain
    val offs = counts
      .withColumn("__off", coalesce(sum(col("__c")).over(
        Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(
        Window.orderBy(col("__pid")).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("__pid"), col("__off"), col("__n"))
    ranged
      .join(broadcast(offs),
        shiftright(col("__mid"), 33) === col("__pid"))
      .select(col("__x"),
        (col("__off") + col("__mid").bitwiseAND(lit(mask)))
          .cast("double").as("__rn"),
        col("__n").cast("double").as("__n"))
  }

  /** [[sortedPercentiles]] attached PER ROW without a join — for
    * consumers that need the group's percentile next to every row (clip
    * bounds, deviation-from-median). The join form costs a SECOND scan
    * of the input plus a broadcast join per percentile pass; at 100 TB
    * that second scan is a full table read whose only purpose is to
    * re-attach a value the first pass already had in hand (r14
    * optimization round, guide §2.4: two operations keyed the same way
    * share one exchange). This form computes the identical rank
    * arithmetic as window aggregates over the SAME single hash exchange
    * + in-group sort the ranking pass needs anyway: rank and non-null
    * count as ordered-window columns, then each requested rank's
    * lower/upper/frac selectors as unbounded-frame window aggregates
    * (no new exchange, no new sort, no second scan).
    *
    * Bit-compatibility: the expressions are copied from
    * [[sortedPercentiles]] verbatim (same (n−1)·p rank, same
    * interpolation order, same frac==0/ties short-circuit), so a call
    * site swapping the join form for this one cannot change an oracled
    * output (asserted value-for-value in WindowOpsSpec). Null handling:
    * nulls sort LAST and `__n` counts only non-null values, so selector
    * ranks (≤ n−1) never land on a null row — equivalent to the
    * filtered ranking the group-grain form runs. Groups whose values
    * are all null get null percentiles (the join form's left-join
    * convention at x16 — rows survive, bounds are null).
    *
    * Returns every input row (original columns) plus `ps.map(_._1)`. */
  def attachPercentiles(df: DataFrame, groupCols: Seq[String],
      valCol: Column, ps: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gs = groupCols.map(col)
    val w = Window.partitionBy(gs: _*)
      .orderBy(valCol.cast("double").asc_nulls_last)
    val wg = Window.partitionBy(gs: _*)
    val ranked = df
      .withColumn("__x", valCol.cast("double"))
      .withColumn("__rn", (row_number().over(w) - 1).cast("double"))
      .withColumn("__n", count(valCol).over(wg).cast("double"))
    val attached = ps.foldLeft(ranked) { case (acc, (name, p)) =>
      val k = (col("__n") - 1) * lit(p)
      val lo = floor(k)
      val lower = max(when(col("__rn") === lo, col("__x"))).over(wg)
      val upper = max(when(col("__rn") ===
        least(lo + 1, col("__n") - 1), col("__x"))).over(wg)
      val frac = max(when(col("__rn") === lo, k - lo)).over(wg)
      acc.withColumn(name,
        when(frac === 0 || lower === upper, lower)
          .otherwise((lit(1) - frac) * lower + frac * upper))
    }
    attached.drop("__x", "__rn", "__n")
  }

  /** Robust (median/MAD) outlier profile per group — the
    * Iglewicz–Hoaglin modified z-score |0.6745·(x−med)/MAD| > 3.5,
    * the scale- and offset-free outlier rule for heavy-tailed metrics
    * (W11's fixed-threshold cousin that needs no tuned cutoff). ONE
    * hash exchange on the group key carries everything: median and MAD
    * are attached per row as window aggregates ([[attachPercentiles]] —
    * the MAD pass re-sorts the same partitions by |x−med|, no second
    * exchange, no re-scan) and the flag profile reuses the partitioning
    * — the data never sorts globally and the input is scanned ONCE. A
    * MAD of 0 (over half the group identical) yields NULL z-scores:
    * those rows are not flagged. */
  def robustOutliers(df: DataFrame, groupCol: String, valCol: String)
      : DataFrame = {
    // Fused single-exchange form (r14 optimization round): the old
    // shape ran sortedPercentiles TWICE (median, then MAD) with a
    // broadcast join back onto a fresh scan after each — four scans of
    // the input and four hash exchanges for one profile. Both
    // percentile passes and the final profile aggregate are keyed by
    // the SAME group column, so everything rides ONE exchange (guide
    // §2.4): attachPercentiles puts the median next to every row off
    // the first in-group sort, the MAD re-sorts the same partitions by
    // |x−med| (a sort, not an exchange), and the final groupBy reuses
    // the partitioning. Values are bit-identical (attachPercentiles
    // replays sortedPercentiles' rank arithmetic; WindowOpsSpec pins
    // both the fixture and the old-vs-new equality); all-null groups
    // keep null med/mad and zero flags exactly as the left joins did.
    val withMed = attachPercentiles(df, Seq(groupCol), col(valCol),
      Seq("med" -> 0.5))
    attachPercentiles(withMed, Seq(groupCol),
        abs(col(valCol) - col("med")), Seq("mad" -> 0.5))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        count(when(
          abs(lit(0.6745) * (col(valCol) - col("med")) / col("mad")) > 3.5,
          1)).as("n_outliers"),
        max(col("med")).as("med"), max(col("mad")).as("mad"))
  }

  /** Count-min hash rows: per-row large odd multipliers (the public
    * xxhash/murmur mixing primes) so the pre-modulus product exceeds
    * the prime and the rows decorrelate — with SMALL multipliers
    * `(k·a + b) % p` is the identity on this key range and
    * `x·m % 2⁸` depends only on `x mod 2⁸`, making every row collide
    * on exactly the same key pairs (verified: this family has ZERO
    * all-row collisions over the full 0..996 key domain, the small-A
    * family collided every k ≡ k′ mod 256 pair in all four rows). */
  private[graft] val CmA = Seq(2654435761L, 2246822519L, 3266489917L,
    668265263L)
  private[graft] val CmB = Seq(7L, 11L, 13L, 17L)
  private[graft] val CmPrime = 999983L
  private[graft] val CmWidth = 256

  /** Count-min cell index of `key` in hash row `j` (integer-only — a
    * DuckDB oracle replays it verbatim). */
  private[graft] def cmCell(key: Column, j: Int): Column =
    (key * CmA(j) + CmB(j)) % CmPrime % CmWidth

  /** Count-min sketch frequency estimation: build the depth×width
    * integer sketch over `df(keyCol)` in one pass (posexplode into
    * (row, cell) pairs, map-side combine into ≤ depth·width cells —
    * fixed-size combinable state at ANY key cardinality, the
    * streaming-compatible frequency estimator), then estimate EVERY
    * distinct key as min over its row cells via a broadcast join of
    * the bounded sketch. est ≥ true count for every key by
    * construction (each cell only ever adds other keys' mass).
    * Returns (keyCol, est). */
  def countMinEstimates(df: DataFrame, keyCol: String): DataFrame = {
    val depth = CmA.size
    def cells(k: Column) =
      posexplode(array((0 until depth).map(j => cmCell(k, j)): _*))
        .as(Seq("__j", "__cell"))
    val sketch = df
      .select(cells(col(keyCol)))
      .groupBy(col("__j"), col("__cell")).agg(count(lit(1)).as("__cnt"))
      .localCheckpoint(eager = false)
    df.select(col(keyCol)).distinct()
      .select(col(keyCol), cells(col(keyCol)))
      .join(broadcast(sketch), Seq("__j", "__cell"))
      .groupBy(col(keyCol))
      .agg(min(col("__cnt")).as("est"))
  }
}
