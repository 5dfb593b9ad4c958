package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Summaries

/** Event-time windowing over the `events` table (SURVEY.md §7.4) —
  * batch DataFrame forms that transfer 1:1 to Structured Streaming
  * (same expressions under `readStream` + watermark; see
  * [[graft.streaming.StreamingOps]]).
  */
object EventWindows {

  /** Tumbling event-time window aggregation via the built-in `window()`
    * (epoch-aligned, like the reference's none — this is extension
    * surface; oracle-matched through the epoch-second bucket start). */
  def tumbling(events: DataFrame, duration: String): DataFrame =
    events
      .groupBy(window(col("ts"), duration).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Summaries.exactSum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("bucket_start_s"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sessionization as gaps-and-islands: a new session starts when the
    * gap to the previous event (per user) exceeds `gapSeconds`; session
    * id = running count of session starts. Pure window functions —
    * deterministic, oracle-expressible, and the exact batch semantics of
    * `session_window`. */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame =
    labelSessions(events, gapSeconds)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("__secs")).as("session_start_s"),
        (max(col("__secs")) - min(col("__secs"))).as("duration_s"))

  /** Event-level session labels — the gaps-and-islands core of
    * [[sessionize]], exposed so sequence assembly and other
    * session-grain consumers share one definition. Adds `session_id`
    * (1-based per user) and `__secs` (epoch seconds). */
  def labelSessions(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val secs = unix_timestamp(col("ts"))
    val isNew = when(
      lag(secs, 1).over(byUser).isNull ||
        secs - lag(secs, 1).over(byUser) > gapSeconds, 1L).otherwise(0L)
    events
      .withColumn("__secs", secs)
      .withColumn("session_id",
        sum(isNew).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Per-session ordered event-sequence assembly — the
    * behavior-sequence training-example shape (one row per session,
    * the event-type trail as an ordered string). `collect_list` arrival
    * order is nondeterministic, so the list collects (secs, event_id,
    * type) structs and `array_sort` canonicalizes on the integer-exact
    * (secs, event_id) prefix before the types are joined — same policy
    * as the w24 top-gap list. The grouped collect rides the SAME
    * (user_id) exchange the labeling window already forced: labeling,
    * grouping and assembly are one shuffle. */
  def sessionSequences(events: DataFrame, gapSeconds: Long): DataFrame =
    labelSessions(events, gapSeconds)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("__secs")).as("session_start_s"),
        array_join(
          transform(
            array_sort(collect_list(
              struct(col("__secs"), col("event_id"), col("event_type")))),
            e => e.getField("event_type")),
          ">").as("event_seq"))

  /** Calendar densification (time-series resample): per key, emit one
    * row per day across that key's [min, max] date span, zero-filling
    * days with no events. `sequence` + `explode` keeps generation
    * distributed (each key's range materializes on its executor, never
    * the driver); pair with [[graft.operators.WindowOps.forwardFill]]
    * for carry-forward instead of zero-fill. */
  def densifyDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val spans = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val calendar = spans.select(col("user_id"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    calendar.join(daily, Seq("user_id", "day"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
  }

  /** Linear interpolation of a daily per-user gauge across calendar
    * gaps — the time-series `resample().interpolate()` companion to
    * [[densifyDaily]]'s zero-fill (pandas-side: `interpolate
    * (method='time')`; the reference only forward-fills, W1).
    *
    * Shape: daily grain (one grouped agg), per-user calendar explode
    * (map-side `sequence`), then ONE window pass each direction —
    * `last(ignoreNulls)` carries the previous observed (value, day)
    * forward, `first(ignoreNulls)` pulls the next observed pair
    * backward, and the gap rows take
    * `pv + (nv − pv) * (Δprev / Δspan)`. Because the calendar spans
    * exactly [min(day), max(day)] per user, every gap row is interior:
    * both neighbors always exist and the interpolation is total.
    *
    * Determinism: the daily gauge is a decimal-exact sum divided by the
    * row count (unrounded IEEE quotient, the engine-wide average
    * policy); the interpolation is a fixed-order IEEE expression — both
    * replay bit-identically in the oracle.
    *
    * Scale: one hash exchange for the daily agg; the two windows share
    * the same (user_id, day) sort — Catalyst plans a single Exchange +
    * Sort for both window frames. Calendar explode multiplies rows,
    * never exchanges. */
  def interpolateDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(38,6)")).cast("double") /
        count(lit(1))).as("v"))
    val spans = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val calendar = spans.select(col("user_id"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val dense = calendar.join(daily, Seq("user_id", "day"), "left")
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(0, Window.unboundedFollowing)
    dense
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pd",
        last(when(col("v").isNotNull, col("day")), ignoreNulls = true)
          .over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nd",
        first(when(col("v").isNotNull, col("day")), ignoreNulls = true)
          .over(wNext))
      .select(col("user_id"), col("day"),
        col("v").isNotNull.as("observed"),
        when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (datediff(col("day"), col("pd")).cast("double") /
              datediff(col("nd"), col("pd")).cast("double")))
          .as("v_interp"))
  }

  /** Distributed EXCLUSIVE running max: for each row, the max of
    * `valCol` over all rows with a strictly smaller `seqCol` (`seqCol`
    * must be unique — ties would make the exclusive frame ambiguous).
    *
    * A naive `Window.orderBy(seq)` with no partition key collapses the
    * whole table onto ONE task; this is the two-phase prefix-scan form
    * instead: (1) range-repartition by `seqCol` — bucket = physical
    * partition id, so the bucket count is the shuffle-partition
    * setting, BOUNDED regardless of how sparse the sequence ids are
    * (a value-based `seq div B` bucketing degenerates to one bucket
    * per row on snowflake-style ids, whose low bits are a counter);
    * (2) per-bucket max — a combinable aggregate over a
    * #partitions-row table; (3) exclusive prefix max across that tiny
    * table (the only single-partition window), broadcast back;
    * (4) within-bucket exclusive running max, partitioned by bucket.
    * The lazy checkpoint pins ONE materialization so the per-bucket
    * aggregate and the per-row pass see the same range boundaries
    * (same contract as [[graft.operators.WindowOps.globalRowNumber]]).
    * Works for any max-like (commutative, idempotent) running
    * aggregate. The first row overall gets NULL (empty frame). */
  def runningMaxExclusive(df: DataFrame, seqCol: String, valCol: String,
      outCol: String): DataFrame = {
    val bucketed = df.repartitionByRange(col(seqCol))
      .sortWithinPartitions(col(seqCol))
      .withColumn("__b", spark_partition_id().cast("long"))
      .localCheckpoint(eager = false)
    val perBucket = bucketed.groupBy(col("__b"))
      .agg(max(col(valCol)).as("__bmax"))
    val wPrefix = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = perBucket.select(col("__b"),
      max(col("__bmax")).over(wPrefix).as("__pmax"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col(seqCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(prefix), Seq("__b"))
      // greatest() skips NULLs: first bucket has no prefix, first row
      // in a bucket has no in-bucket max — null only when both are
      .withColumn(outCol,
        greatest(max(col(valCol)).over(wIn), col("__pmax")))
      .drop("__b", "__pmax")
  }

  /** Watermark lateness audit — the offline replay of Structured
    * Streaming's `withWatermark(delay)` semantics: an event is LATE iff
    * its event time precedes the running max event time over all
    * earlier ARRIVALS (arrival order = `seqCol`) minus the delay — a
    * streaming job with that watermark would have dropped it. Run this
    * over the historical stream to size the delay BEFORE deploying
    * (what fraction of real traffic does a candidate watermark drop?).
    *
    * Event times are floored to whole epoch seconds so every
    * comparison is integer-exact (parquet carries nanoseconds, Spark
    * truncates to micros — second flooring removes the sub-second
    * precision mismatch class entirely). Built on
    * [[runningMaxExclusive]]: no single-partition pass over the event
    * table. */
  def watermarkAudit(events: DataFrame, delaySeconds: Long,
      seqCol: String): DataFrame =
    runningMaxExclusive(
      events.withColumn("__ts_s", col("ts").cast("long")),
      seqCol, "__ts_s", "__run_max_s")
      .withColumn("watermark_s", col("__run_max_s") - delaySeconds)
      .withColumn("is_late",
        coalesce(col("__ts_s") < col("watermark_s"), lit(false)))
      .drop("__run_max_s", "__ts_s")

  /** Event-time disorder delays — the watermark-SIZING companion to
    * [[watermarkAudit]]: instead of auditing one candidate delay, attach
    * to every event how far (whole seconds) it arrived behind the
    * running max event time over earlier arrivals (`delay_s`, 0 for
    * in-order events). The p95/max quantiles of the positive delays are
    * exactly the numbers an engineer reads off to pick
    * `withWatermark`'s delay before deploying the streaming job. Same
    * [[runningMaxExclusive]] decomposition — no single-partition window
    * over the event table; second flooring per the audit's convention. */
  def disorderDelays(events: DataFrame, seqCol: String): DataFrame =
    runningMaxExclusive(
      events.withColumn("__ts_s", col("ts").cast("long")),
      seqCol, "__ts_s", "__run_max_s")
      .withColumn("delay_s",
        greatest(coalesce(col("__run_max_s") - col("__ts_s"), lit(0L)),
          lit(0L)))
      .drop("__run_max_s", "__ts_s")

  /** Per-key interval join (view→click attribution: for each left event,
    * every right event by the same user in [l_ts, l_ts + maxLag)).
    *
    * Joining on user_id alone would put a power-user's entire history in
    * one hash bucket, so the equi-key is (user_id, time bucket) with
    * bucket width = maxLag: a right event lands in exactly one bucket,
    * the left side probes its own bucket and the next, and a matching
    * pair is generated exactly once (the right event's bucket is unique
    * — no dedup pass needed, same trick as the d2 blocked join). State
    * per bucket is bounded by maxLag regardless of how hot the user is.
    *
    * Cross-engine precision convention (same as v9's funnel): the join
    * predicate and the bucketing both run on EPOCH-MICROSECOND LONGS
    * (`unix_micros`), never on raw timestamp columns. The source
    * parquet carries TIMESTAMP(NANOS); Spark truncates to µs at the
    * scan while an engine that keeps nanoseconds (DuckDB) would order
    * two events differing only below a microsecond differently — a raw
    * `r_ts >= l_ts` is exactly the comparison that flips. On epoch-µs
    * longs both engines evaluate the identical integer predicate
    * (the oracle uses `epoch_us(ts)`). Integer-exact throughout:
    * bucketing is integer `div`, never a double division that could
    * misround at a bucket boundary.
    * The streaming twin is StreamingOps.intervalJoinStream. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      maxLagSeconds: Long): DataFrame = {
    val maxLagUs = Math.multiplyExact(maxLagSeconds, 1000000L)
    def bucket(usCol: String): Column = expr(s"$usCol div $maxLagUs")
    val l = left.select(col("user_id"), col("event_id").as("l_id"),
        unix_micros(col("ts")).as("l_us"),
        unix_timestamp(col("ts")).as("l_s"))
      .withColumn("bkt",
        explode(array(bucket("l_us"), bucket("l_us") + 1)))
    val r = right.select(col("user_id"), col("event_id").as("r_id"),
        unix_micros(col("ts")).as("r_us"),
        unix_timestamp(col("ts")).as("r_s"))
      .withColumn("bkt", bucket("r_us"))
    l.join(r, Seq("user_id", "bkt"))
      .filter(col("r_us") >= col("l_us") &&
        col("r_us") < col("l_us") + maxLagUs)
      .select(col("l_id"), col("r_id"), (col("r_s") - col("l_s")).as("lag_s"))
  }

  /** Per-key TIME-WEIGHTED average of a sampled value: each event's
    * value holds until the key's next event (step interpolation — the
    * sensor/price/gauge resample), so the average weights every value
    * by its holding duration instead of letting burst periods dominate
    * an arithmetic mean. The last event per key has no successor and
    * carries no weight; rows with a NULL value are dropped before the
    * lag (they would otherwise donate an arbitrary span to a value
    * that does not exist).
    *
    * twa = Σ(value·Δt_µs) / Σ(Δt_µs), with durations on EPOCH-
    * MICROSECOND longs (the v5/v9 cross-engine convention — raw
    * timestamp subtraction is precision-dependent). The numerator is
    * INTEGER-EXACT, not decimal-cast: value·Δt reaches ~1e13–1e14,
    * where a double's ulp (~2e-3) is COARSER than a 6-dp decimal
    * quantum, so `cast(product as decimal(38,6))` depends on the
    * engine's double→decimal conversion (shortest-repr vs full binary
    * expansion — a measured 1-ulp twa divergence). Instead the value
    * is quantized ONCE at its own magnitude (where the grid is far
    * above ulp and the engines agree): vu = round(value·10²) — an
    * exact integer — and vu·Δt rides DECIMAL(38,0) integer arithmetic
    * end to end. The 10² quantum covers the value column's actual
    * decimal resolution (events.value is a 2-decimal grid);
    * the single final double division is left UNROUNDED (the exactAvg
    * rule). Keys whose total duration is zero (single event, or all
    * events on one microsecond) yield NULL, never a division error.
    * One shuffle: the lead window and the grouped aggregate share the
    * user_id partitioning. */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val unit = 100.0
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__us"), col("event_id"))
    events
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("__us"),
        round(col("value") * lit(unit)).cast("decimal(19,0)").as("__vu"))
      .withColumn("__dt", lead(col("__us"), 1).over(w) - col("__us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__vu") * col("__dt").cast("decimal(19,0)")).as("__num"),
        sum(col("__dt")).as("__den"))
      .select(col("user_id"), col("n_events"),
        when(col("__den") > 0,
          col("__num").cast("double") / (col("__den").cast("double") * lit(unit)))
          .as("twa"))
  }

  /** Ordered conversion funnel: users progress through `steps` event
    * types strictly in time order — step k counts a user iff some
    * step-k event lands STRICTLY AFTER the user's step-(k−1) timestamp
    * (the earliest qualifying one, greedily) and within `windowSeconds`
    * whole seconds of the user's funnel start (the "converts within N
    * days" form — without a window, dense event streams eventually
    * reach every step and the reach counts stop discriminating). Emits
    * one summary row per step: users reaching it and the unrounded
    * decimal-exact mean seconds from funnel start.
    *
    * Shape: a cascade of per-step `filter → equi-join on user →
    * min-aggregate` frames, each |users|-sized and checkpointed (each
    * feeds both its summary row and the next step — the barrier keeps
    * the chain linear instead of re-evaluating the prefix per union
    * branch). The events table is scanned once per step with the
    * step-type filter pushed to the scan; the per-user frame joins it
    * on `user_id` (broadcastable while users ≪ events; hash join on a
    * uniform key beyond that). No window over the raw event stream, no
    * per-user sort — the greedy semantics need only mins. */
  def funnel(events: DataFrame, steps: Seq[String],
      windowSeconds: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    def secs(c: Column): Column = c.cast("long")
    def summary(step: Int, name: String, frame: DataFrame): DataFrame =
      frame.agg(
        count(lit(1)).as("n_users"),
        (sum((secs(col("t_curr")) - secs(col("t_first")))
          .cast("decimal(38,6)")).cast("double") / count(lit(1)))
          .as("avg_s_from_start"))
        .select(lit(step.toLong).as("step"), lit(name).as("event_type"),
          col("n_users"), col("avg_s_from_start"))
    var cur = events.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_first"))
      .withColumn("t_curr", col("t_first"))
      .localCheckpoint(eager = false)
    var out = summary(1, steps.head, cur)
    steps.tail.zipWithIndex.foreach { case (st, i) =>
      val inWindow = (secs(col("ts")) - secs(col("t_first"))) <= windowSeconds
      cur = events.filter(col("event_type") === st)
        .join(cur.select(col("user_id"), col("t_first"), col("t_curr")),
          Seq("user_id"))
        .filter(col("ts") > col("t_curr") && inWindow)
        .groupBy(col("user_id"), col("t_first"))
        .agg(min(col("ts")).as("t_curr"))
        .localCheckpoint(eager = false)
      out = out.unionByName(summary(i + 2, st, cur))
    }
    out.orderBy(col("step"))
  }

  /** Purged temporal train/val/test split with embargo gaps (López de
    * Prado 2018 ch. 7's purged k-fold, in the single-split form
    * time-series pipelines ship): train < t₁, val and test start an
    * EMBARGO width after the previous boundary, and boundary-straddling
    * events are DROPPED, not assigned — the leakage surface for any
    * model with temporal state (label lookahead, feature windows) is
    * exactly the events adjacent to a boundary. Complements s18's
    * content-grain split: s18 stops the same TEXT landing in two
    * splits; this stops the same TIME doing it.
    *
    * Boundaries are integer arithmetic on epoch seconds — a 60/20/20
    * split with 1 % embargo gaps: t₁ = lo + (hi−lo)·60/100,
    * t₂ = lo + (hi−lo)·80/100, gap = (hi−lo)·1/100, all BIGINT-exact
    * and engine-portable
    * (no float quantiles, no timezone math). Output: one row per split
    * (train/embargo/val/test) with event + distinct-user counts, plus
    * the cross-split audit `n_spanning_users` (users appearing in >1 of
    * train/val/test — per-user state leaks across their boundary) on
    * every row.
    *
    * Scale shape: one broadcast 2-value min/max aggregate, one map-only
    * split projection riding the scan, one bounded groupBy(split), one
    * user-grain distinct aggregate — the only data-sized exchange is on
    * user_id (uniform). 100 TB note: min/max over event time prunes to
    * parquet footer statistics when the table is time-partitioned (the
    * layout every event store ships). */
  def temporalSplit(events: DataFrame): DataFrame = {
    val (trainPct, valPct, embargoPct) = (60, 20, 1)
    val sec = floor(unix_timestamp(col("ts"))).cast("long")
    val ev = events.select(col("user_id"), sec.as("__sec"))
    val mm = ev.agg(min(col("__sec")).as("__lo"), max(col("__sec")).as("__hi"))
    val range = col("__hi") - col("__lo")
    // Column./ is DOUBLE division — floor() back to exact integer
    // boundaries (quotients here have ≤2 decimal digits, so the double
    // floor equals the true integer floor; both engines truncate)
    val t1 = col("__lo") + floor(range * trainPct / 100)
    val t2 = col("__lo") + floor(range * (trainPct + valPct) / 100)
    val gap = floor(range * embargoPct / 100)
    val tagged = ev.crossJoin(broadcast(mm))
      .withColumn("split",
        when(col("__sec") < t1, lit("train"))
          .when(col("__sec") < t1 + gap, lit("embargo"))
          .when(col("__sec") < t2, lit("val"))
          .when(col("__sec") < t2 + gap, lit("embargo"))
          .otherwise(lit("test")))
      .select(col("user_id"), col("split"))
      .localCheckpoint(eager = false) // counts + spanning audit share it
    val counts = tagged.groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
    val spanning = tagged.filter(col("split") =!= "embargo")
      .groupBy(col("user_id"))
      .agg(countDistinct(col("split")).as("__nsp"))
      .agg(count(when(col("__nsp") > 1, 1)).as("n_spanning_users"))
    counts.crossJoin(broadcast(spanning))
  }
}
