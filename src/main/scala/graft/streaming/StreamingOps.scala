package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import org.apache.spark.sql.Row

/** Structured Streaming forms of the event-time operators
  * (SURVEY.md §2.H / §7.4): the exact batch expressions from
  * [[graft.extensions.EventWindows]] under `readStream`, with
  * watermarks bounding state.
  *
  * The reference has no streaming at all (snapshot refetch per run,
  * data_loader.py:124-163); this is the Spark-native upgrade path: the
  * same declarative aggregation works incrementally with bounded state
  * on a 1000-executor cluster (state store partitioned by group key).
  */
object StreamingOps {

  /** Schema of the streaming `events` source (events.parquet with ts
    * already as TimestampType — see Tables.events for the ns caveat). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Column names of the streamed document frames (the `documents`
    * table's) and the event metric key. */
  private val textCol = "text"
  private val idCol = "doc_id"
  private val srcCol = "source"
  private val nCharsCol = "n_chars"
  private val keyCol = "event_type"

  /** File-based streaming source over a directory of event parquet. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling event-time aggregation with a watermark: late data beyond
    * 10 minutes is dropped, closed windows age out of the state store —
    * bounded state at any scale. Mirrors EventWindows.tumbling.
    * (Tumbling is the slide == duration special case of sliding.) */
  def tumblingCounts(events: DataFrame, duration: String): DataFrame =
    slidingCounts(events, duration, duration)

  /** Sliding event-time aggregation (each event contributes to
    * windowDur/slide overlapping buckets) under the same watermark —
    * the streaming form of the batch v4_sliding_window query. */
  def slidingCounts(events: DataFrame, duration: String, slide: String): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), duration, slide), col("event_type"))
      // decimal-exact sum like the batch form (a raw double sum is
      // shuffle-arrival-order dependent) so streaming output matches
      // EventWindows' value column bit-for-bit
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(38,6)")), 2).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Session windows with an inactivity gap — the streaming-native form
    * of EventWindows.sessionize (state: one open session per key). Both
    * split iff gap > g, but `session_window` measures the gap at full
    * timestamp precision while `sessionize` truncates to seconds, so the
    * two agree on second-truncated data (the v2 parity test stages
    * that). */
  def sessionCounts(events: DataFrame, gap: String): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Streaming ingest dedup: drop re-delivered events by id ALONE —
    * `dropDuplicatesWithinWatermark` collapses redeliveries even when the
    * broker jittered the event timestamp (same id, different ts), while
    * the watermark still bounds how long each id is held in state — the
    * standard at-least-once → effectively-once repair step in front of a
    * training-data ingest at scale (state is hash-partitioned by id). */
  def dedupedStream(events: DataFrame, idCol: String): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-STATIC enrichment join + segment rollup — the streaming twin
    * of the batch left-enrichment joins (J3/J4): each arriving event is
    * decorated from a bounded dimension table and aggregated by segment.
    * The dim side is `broadcast()` so the unbounded stream side never
    * shuffles for the join (Spark re-resolves the static relation per
    * micro-batch — a dim refresh is picked up without restarting the
    * query). Works identically on a batch frame (the driver-oracled
    * v6 form) and a readStream frame (complete-mode parity in
    * StreamingSpec) — same plan, same semantics. */
  def enrichedSegmentCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,6)")).as("sum_dec"))
      .select(col("c_mktsegment"), col("event_type"), col("n_events"),
        round(col("sum_dec"), 2).cast("double").as("sum_value"))

  /** Watermarked stream-stream INTERVAL JOIN — the streaming twin of
    * EventWindows.intervalJoin (view→click attribution within maxLag).
    * Both sides carry a watermark and the join condition bounds r_ts to
    * [l_ts, l_ts + maxLag), so Spark can age out left rows once the
    * right watermark passes l_ts + maxLag: state stays bounded by the
    * lag window at any stream rate, hash-partitioned by user_id. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      maxLagSeconds: Long): DataFrame = {
    val l = left
      .select(col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", "30 minutes")
    val r = right
      .select(col("user_id").as("r_user_id"), col("event_id").as("r_id"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", "30 minutes")
    l.join(r,
        col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") < col("l_ts") + expr(s"INTERVAL $maxLagSeconds SECONDS"))
      .select(col("l_id"), col("r_id"),
        (unix_timestamp(col("r_ts")) - unix_timestamp(col("l_ts")))
          .as("lag_s"))
  }

  /** Event record for the typed stateful API. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Per-user ring of the last `window` (epoch-µs, event_id, centi-unit
    * value) triples, ascending — the bounded state of
    * [[rollingZScoreStream]]. */
  case class ZRing(ring: Seq[(Long, Long, Long)])

  /** Output row of [[rollingZScoreStream]] — matches the batch
    * v13_rolling_zscore columns. */
  case class ZOut(event_id: Long, user_id: Long, z: Option[Double],
      is_anomaly: Boolean)

  /** STREAMING twin of the batch v13 rolling z-score: each event scored
    * against the mean/std of its user's previous `window` events, state
    * = one bounded ring per user (the metric-monitoring anomaly
    * detector, online). Bit-parity with the batch query by replaying
    * the identical arithmetic: epoch-µs longs from the timestamp,
    * centi-unit quantization via the same HALF_UP decimal conversion
    * Spark's round() uses, integer window sums, one shared double
    * expression tree, round-6 HALF_UP on z.
    *
    * Ordering contract: batch semantics order each user's events by
    * (event time, event_id). Within a micro-batch the group iterator is
    * sorted here; ACROSS batches the caller must deliver a user's
    * events in event-time order (run behind a watermark-sorted stage,
    * or accept per-batch ordering as the online approximation —
    * exactly the contract `statefulSessions` documents and
    * StreamingSpec proves for in-order feeds). */
  def rollingZScoreStream(events: org.apache.spark.sql.Dataset[Event])
      : org.apache.spark.sql.Dataset[ZOut] = {
    val (window, zCut) = (8, 3.0)
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    def usOf(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ZRing, ZOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[ZRing]) =>
          var ring = state.getOption.map(_.ring).getOrElse(Seq.empty)
          val evs = batch.toSeq
            .map(e => (usOf(e.ts), e.event_id,
              // the exact HALF_UP decimal conversion Spark's round()
              // applies to the double product — bit-parity with the
              // batch round(value * 100)
              BigDecimal.valueOf(e.value * 100)
                .setScale(0, HALF_UP).toLong))
            .sortBy(t => (t._1, t._2))
          val out = evs.map { case (us, id, vu) =>
            val z: Option[Double] =
              if (ring.size == window) {
                val n = window.toLong
                val s1 = ring.map(_._3).sum
                val s2 = ring.map(t => t._3 * t._3).sum
                val varr = (n * s2 - s1 * s1).toDouble /
                  (n * (n - 1)).toDouble
                if (varr > 0) {
                  val mean = s1.toDouble / n
                  Some(BigDecimal
                    .valueOf((vu.toDouble - mean) / math.sqrt(varr))
                    .setScale(6, HALF_UP).toDouble)
                } else None
              } else None
            ring = (ring :+ ((us, id, vu))).takeRight(window)
            ZOut(id, uid, z, z.exists(zv => math.abs(zv) > zCut))
          }
          state.update(ZRing(ring))
          out.iterator
      }
  }

  /** Per-user custom state for [[statefulUserStats]]. `totalValue` is an
    * exact decimal: a double accumulator would depend on the per-batch
    * iterator order (nondeterministic across runs), the same defect class
    * the engine-wide decimal-sum policy exists for. */
  case class UserState(nEvents: Long, totalValue: BigDecimal, lastSeenSec: Long)

  /** Output row of the stateful operator. */
  case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful aggregation via `flatMapGroupsWithState` — the
    * escape hatch when built-in windows can't express the state machine
    * (SURVEY.md §2.H). Keeps one bounded `UserState` per key in the
    * state store (hash-partitioned by key across executors), emits the
    * updated stats per key per micro-batch. */
  def statefulUserStats(events: org.apache.spark.sql.Dataset[Event])
      : org.apache.spark.sql.Dataset[UserStats] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserStats](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserState]) =>
          val prev = state.getOption
            .getOrElse(UserState(0L, BigDecimal(0), 0L))
          val evs = batch.toSeq
          // BigDecimal addition is exact, hence order-independent — the
          // iterator order varies run-to-run
          val next = UserState(
            prev.nEvents + evs.size,
            prev.totalValue + evs.map(e => BigDecimal(e.value)).sum,
            math.max(prev.lastSeenSec,
              evs.map(_.ts.getTime / 1000).foldLeft(0L)(math.max)))
          state.update(next)
          // HALF_UP matches Spark/DuckDB round(), not rint's half-even
          Iterator(UserStats(userId, next.nEvents,
            next.totalValue
              .setScale(2, scala.math.BigDecimal.RoundingMode.HALF_UP)
              .toDouble))
      }
  }

  /** One open session per key. */
  case class SessionState(startSec: Long, lastSec: Long, nEvents: Long)

  /** A FINALIZED session (closed by gap timeout). */
  case class SessionOut(user_id: Long, session_start_s: Long,
      n_events: Long, duration_s: Long)

  /** Streaming sessionization with EVENT-TIME TIMERS — the piece the
    * batch gaps-and-islands form (EventWindows.sessionize / v2) and the
    * built-in `session_window` aggregation can't express: arbitrary
    * per-session payload finalized exactly when the WATERMARK passes
    * `lastSeen + gap`, not when the next event happens to arrive.
    *
    * Design for late-data correctness: each key holds the LIST of
    * unconfirmed session fragments. Every batch folds the arriving
    * events in as singleton fragments, sorts by start, and interval-
    * merges neighbors within `gap` — so a watermark-admissible late
    * event can extend a session's start backward, bridge two fragments
    * into one, or open a new fragment, all through one code path. A
    * session is EMITTED (and dropped from state) only once the watermark
    * has passed `lastSeen + gap`; an admissible event has ts ≥
    * watermark, so `ts − lastSeen > gap` holds against every emitted
    * session — no future event can ever merge into one, which is what
    * makes append-mode emission exactly equal to the batch
    * gaps-and-islands result on closed sessions (asserted, including a
    * late bridging event, in StatefulStreamingSpec). One timer per key,
    * armed at the EARLIEST open deadline, re-evaluates confirmation when
    * the watermark alone advances. State per key is the handful of
    * fragments inside the watermark horizon: bounded at any rate,
    * hash-partitioned across executors. */
  class SessionizeProcessor(gapSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var pending: ListState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getListState[SessionState]("sessions",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    private def finalized(userId: Long, st: SessionState): SessionOut =
      SessionOut(userId, st.startSec, st.nEvents, st.lastSec - st.startSec)

    /** Sort fragments by start, merge any within `gap` of the previous
      * fragment's end (the gaps-and-islands rule). */
    private def merged(frags: Seq[SessionState]): Seq[SessionState] =
      frags.sortBy(f => (f.startSec, f.lastSec))
        .foldLeft(List.empty[SessionState]) {
          case (cur :: done, f) if f.startSec - cur.lastSec <= gapSeconds =>
            SessionState(cur.startSec, math.max(cur.lastSec, f.lastSec),
              cur.nEvents + f.nEvents) :: done
          case (acc, f) => f :: acc
        }.reverse

    /** Emit watermark-confirmed sessions, persist the rest, re-arm one
      * timer at the earliest remaining deadline.
      *
      * The emit bound must clear the WHOLE truncation second (the
      * `+ 1`, matching the timer registration below): fragment times
      * are second-floored while the watermark is milliseconds, so with
      * `(lastSec + gap) * 1000 < wm` a watermark-admissible event with
      * ts_ms in ((lastSec+gap)·1000, wm) would still truncate to
      * lastSec+gap — a second-floored gap of exactly `gap`, which the
      * merge rule bridges — into a session already emitted. Only once
      * wm ≥ (lastSec+gap+1)·1000 does EVERY admissible event floor
      * strictly past the merge horizon (sub-second fixture in
      * StatefulStreamingSpec). */
    private def confirmAndArm(userId: Long, frags: Seq[SessionState],
        watermarkMs: Long): Iterator[SessionOut] = {
      val (closed, open) = merged(frags).partition(f =>
        (f.lastSec + gapSeconds + 1) * 1000L <= watermarkMs)
      pending.clear()
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (open.nonEmpty) {
        pending.put(open.toArray)
        getHandle.registerTimer(
          (open.map(_.lastSec).min + gapSeconds + 1) * 1000L)
      }
      closed.sortBy(_.startSec).iterator.map(st => finalized(userId, st))
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val frags =
        (if (pending.exists()) pending.get().toSeq else Seq.empty) ++
          rows.map { e =>
            val s = e.ts.getTime / 1000
            SessionState(s, s, 1L)
          }
      confirmAndArm(userId, frags, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      val frags = if (pending.exists()) pending.get().toSeq else Seq.empty
      if (frags.isEmpty) Iterator.empty
      else confirmAndArm(userId, frags, timerValues.getCurrentWatermarkInMs())
    }
  }

  /** Watermarked sessionization via [[SessionizeProcessor]] (append
    * mode: rows are emitted only when sessions CLOSE). Batch-parity with
    * EventWindows.sessionize for all closed sessions is asserted in
    * StatefulStreamingSpec. */
  def statefulSessions(events: org.apache.spark.sql.Dataset[Event],
      gapSeconds: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** STREAMING incremental exact dedup — the end-to-end ingest loop the
    * batch primitives ([[graft.extensions.Dedup.incrementalDedup]])
    * exist for: every micro-batch dedups against the persisted
    * fingerprint index, appends its survivors to `outDir`, and advances
    * the index with the survivors' fingerprints. `foreachBatch` is the
    * right sink shape because the index must be READ at the start of
    * each batch and EXTENDED at the end — per-batch transactional
    * batch-DataFrame work no pure streaming sink expresses. At scale
    * both directories are snapshot-versioned table-format tables; the
    * shape here (read index → anti-join → write both) is unchanged.
    *
    * Replay safety: both sinks write per-batch subdirectories
    * (`batch_id=N`) with overwrite — a replayed micro-batch (crash after
    * a partial write, before the checkpoint commit) overwrites its own
    * output instead of appending duplicates, and its own fingerprints
    * are EXCLUDED from the index read (otherwise the replayed batch
    * would look already-ingested and its documents would be lost).
    * Bootstrap: a missing/empty index directory is an empty snapshot —
    * detected by an explicit existence check, so a CORRUPT index fails
    * loudly instead of silently disabling dedup. */
  def incrementalIngest(docsStream: DataFrame, indexDir: String,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val idxPath = new org.apache.hadoop.fs.Path(indexDir)
        val fs = idxPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val index =
          if (fs.exists(idxPath) && fs.listStatus(idxPath).nonEmpty)
            spark.read.parquet(indexDir)
              .filter(col("batch_id") =!= lit(batchId))
              .select(col("fingerprint"))
          else
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField(
                  "fingerprint", org.apache.spark.sql.types.StringType))))
        val survivors = graft.extensions.Dedup
          .incrementalDedup(batch, index, textCol, idCol)
          .localCheckpoint(eager = false) // written twice below
        survivors.write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        survivors.select(col("fingerprint")).distinct()
          .write.mode("overwrite")
          .parquet(s"$indexDir/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Streaming END-TO-END curation — [[incrementalIngest]]'s replay-safe
    * foreachBatch discipline wrapped around the FULL d22 composition
    * ([[graft.extensions.Curation.curateIncremental]]): per micro-batch,
    * read the three persisted index artifacts (exact fingerprints,
    * MinHash bands, span shingles), attribute every document's fate
    * against them, write the fates to `outDir/batch_id=N`, and advance
    * all three indexes with the KEPT documents only — a rejected
    * document must not poison state (its later twin deserves a fresh
    * verdict), and a kept one must immediately gate the next batch.
    *
    * State LAYOUT is the d19/d22 measured lesson applied to the
    * executed loop: each index lives in an external BUCKETED table
    * (LOCATION under `stateDir`, `CLUSTERED BY` its probe join key —
    * fingerprint / bhash / h — `INTO 32 BUCKETS`, partitioned by
    * batch_id). Probing an UNBUCKETED index re-shuffles all state per
    * ingest (~linear in snapshot size — the measured anti-pattern,
    * EXPLAIN round 10); against the bucketed tables the index sides
    * scan IN PLACE — only the fixed-size batch exchanges, so per-ingest
    * cost is O(|batch|), flat in snapshot size (CurationIngestSpec pins
    * the no-index-side-exchange plan; the executed loop's probe
    * measured flat vs 25× state: EXPLAIN.md "Round 11 (1)" table, by a
    * scale harness last present at commit c6c1c21).
    *
    * Replay safety, three times over: each advance is a
    * dynamic-partition-overwrite `insertInto` of the batch's OWN
    * batch_id partition (a replayed batch overwrites, never doubles),
    * and every read excludes the current batch_id (partition-pruned),
    * so a crash between the fate write and the checkpoint commit
    * replays into identical state. Bootstrap needs no special case:
    * the tables are created empty with the operators' own schemas
    * (derived from `batch.limit(0)` — no hand-written DDL to rot), and
    * an empty table IS the empty snapshot; a fresh session over
    * already-persisted state re-registers the tables and recovers
    * their partitions. */
  def curationIngest(docsStream: DataFrame, stateDir: String,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curationIngestBatch(batch, batchId, stateDir, outDir)
        () // foreachBatch wants Unit; the kept slice is for composers
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One micro-batch of [[curationIngest]], exposed so the plan spec
    * and the scale leg drive the EXACT code path the stream executes.
    * Returns the batch's KEPT slice (full batch columns) so composing
    * loops — [[exportIngestBatch]] — continue from it without
    * re-reading the fates they just wrote. */
  def curationIngestBatch(batch: DataFrame, batchId: Long,
      stateDir: String, outDir: String): DataFrame = {
    val spark = batch.sparkSession
    ensureCurationStateTables(spark, stateDir, batch.limit(0))
    val (exactIdx, bandIdx, spanIdx) =
      curationStateIndexes(spark, stateDir, excludeBatchId = batchId)
    val fates = graft.extensions.Curation.curateIncremental(batch,
        exactIdx, bandIdx, spanIdx, textCol, idCol, nCharsCol)
      .localCheckpoint(eager = false) // fate write + keeper slice
    fates.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    val kept = batch.join(
      fates.filter(col("status") === "kept").select(col(idCol)),
      Seq(idCol), "left_semi")
    advanceCurationState(kept, batchId, stateDir)
    kept
  }

  /** The three state-index frames of [[curationIngest]], read from the
    * bucketed tables with `excludeBatchId`'s partition pruned away
    * (a replayed batch must never see its own prior half-write). */
  def curationStateIndexes(spark: SparkSession, stateDir: String,
      excludeBatchId: Long): (DataFrame, DataFrame, DataFrame) = {
    def read(name: String) =
      spark.table(curationStateTable(stateDir, name))
        .filter(col("batch_id") =!= lit(excludeBatchId))
        .drop("batch_id")
    (read("exact"), read("band"), read("span"))
  }

  /** Advance all three curation state indexes with `kept` docs as
    * `batchId`'s partition — dynamic-partition-overwrite `insertInto`
    * into the bucketed tables (replay-safe: re-inserting a batch id
    * replaces that partition only). Shared by the executed loop and
    * the d22s scale leg (which loads snapshots as batch 0 through the
    * same write path the stream uses). */
  def advanceCurationState(kept: DataFrame, batchId: Long,
      stateDir: String): Unit = {
    val keptB = kept.localCheckpoint(eager = false) // three index builds
    def insert(name: String, frame: DataFrame): Unit =
      insertBatchPartition(frame, curationStateTable(stateDir, name),
        batchId)
    insert("exact", graft.extensions.Dedup.exactGroups(keptB, textCol,
      idCol).select(col("fingerprint")))
    insert("band", graft.extensions.Dedup.minHashBandIndex(keptB, maxBucket = 100))
    insert("span", graft.extensions.Dedup.shingleIndex(keptB, idCol,
      textCol, width = 8))
  }

  /** Dynamic-partition-overwrite `insertInto` of `frame` as `batchId`'s
    * partition of `table` — the replay-safe state-advance write every
    * ingest loop shares (re-inserting a batch id replaces that
    * partition only). Column order is the TABLE's (insertInto is
    * positional). */
  private def insertBatchPartition(frame: DataFrame, table: String,
      batchId: Long): Unit = {
    val spark = frame.sparkSession
    val ordered = frame.withColumn("batch_id", lit(batchId))
      .select(spark.table(table).columns.map(col): _*)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "dynamic")
      ordered.write.mode("overwrite").insertInto(table)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Compact the curation state tables' accumulated batch partitions
    * into ONE snapshot partition (labeled `snapshotBatchId`) — the
    * maintenance job that keeps the executed loop healthy over
    * thousands of micro-batches: every ingest adds one partition and
    * one file-per-bucket-per-task to each index, so partition listing
    * and files-per-bucket grow with batch COUNT (not state size) until
    * compacted. Compaction is pure LAYOUT — the row multiset is
    * unchanged (no dedup: the probes already treat the indexes as
    * sets), the bucket spec is the table's own, and probe fates are
    * identical before/after (pinned in CurationIngestSpec).
    *
    * Run it BETWEEN batches (a quiesced maintenance window, like any
    * compaction) with `snapshotBatchId` ≤ the last batch whose
    * checkpoint commit is durable: Structured Streaming replays at most
    * the last uncommitted epoch, so batches folded into the snapshot
    * can never be re-delivered and need no self-exclusion partition
    * anymore; the next batch (> `snapshotBatchId`) still prunes its own
    * partition as usual. The eager checkpoint breaks lineage from the
    * table so the static overwrite below never deletes files it is
    * still reading (at petabyte scale the same job writes a NEW
    * snapshot table and swaps — the d11 advance discipline; the
    * in-place form is the single-warehouse variant). */
  def compactCurationState(spark: SparkSession, stateDir: String,
      snapshotBatchId: Long): Unit =
    for (name <- Seq("exact", "band", "span")) {
      val t = curationStateTable(stateDir, name)
      val cols = spark.table(t).columns
      val snap = spark.table(t).drop("batch_id")
        .withColumn("batch_id", lit(snapshotBatchId))
        .select(cols.map(col): _*)
        .localCheckpoint(eager = true) // materialize BEFORE overwrite
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      try {
        // STATIC overwrite on purpose: replace ALL partitions with the
        // one compacted snapshot (dynamic would leave the old batch
        // partitions in place and double every row)
        spark.conf.set(key, "static")
        snap.write.mode("overwrite").insertInto(t)
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

  /** Catalog name of a curation state table — derived from `stateDir`
    * (md5 prefix) so concurrent loops over different state dirs never
    * collide in the shared catalog. */
  def curationStateTable(stateDir: String, name: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(stateDir.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    s"graft_cur_${h}_$name"
  }

  /** Create the three bucketed state tables if absent: external
    * (LOCATION under `stateDir`), partitioned by batch_id, CLUSTERED BY
    * the index's probe join key INTO 32 BUCKETS. Schemas come from the
    * operators' own empty output frames — no hand-written DDL to rot.
    * If the location already holds partitions from a previous session,
    * MSCK recovers them into the fresh catalog entry. Public so a
    * state-bootstrap job (e.g. the d22s scale leg loading an existing
    * snapshot as batch 0) can create the tables before calling
    * [[advanceCurationState]] without running a curation pass. */
  def ensureCurationStateTables(spark: SparkSession,
      stateDir: String, empty: DataFrame): Unit = {
    def ensure(name: String, schemaDonor: DataFrame, key: String): Unit = {
      val t = curationStateTable(stateDir, name)
      if (!spark.catalog.tableExists(t)) {
        val loc = s"$stateDir/$name"
        val p = new org.apache.hadoop.fs.Path(loc)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val preExisting = fs.exists(p) && fs.listStatus(p).nonEmpty
        // a brand-new external table's location must exist before the
        // first (empty-snapshot) read — Spark lists it at analysis
        if (!preExisting) fs.mkdirs(p)
        spark.sql(
          s"""CREATE TABLE $t (${schemaDonor.schema.toDDL},
             |  batch_id BIGINT)
             |USING PARQUET
             |PARTITIONED BY (batch_id)
             |CLUSTERED BY ($key) INTO 32 BUCKETS
             |LOCATION '$loc'""".stripMargin)
        if (preExisting) spark.sql(s"MSCK REPAIR TABLE $t")
      }
    }
    ensure("exact", graft.extensions.Dedup.exactGroups(empty, textCol,
      idCol).select(col("fingerprint")), "fingerprint")
    ensure("band", graft.extensions.Dedup.minHashBandIndex(empty, maxBucket = 100),
      "bhash")
    ensure("span", graft.extensions.Dedup.shingleIndex(empty, idCol,
      textCol, width = 8), "h")
  }

  /** The INCREMENTAL TRAINING-DATA EXPORT loop (VERDICT r12 item 4) —
    * x2's flagship composed into the ingest discipline, so a
    * continuously-curated corpus ADVANCES its export instead of
    * rebuilding it: per micro-batch, [[curationIngestBatch]]'s
    * survivors (curated against persisted state — the d11/d12/d19
    * index discipline) → frozen-merge BPE + seeded shard assignment
    * ([[graft.extensions.Curation.tokenizeAndShard]] — the tokenizer
    * and the epoch-stable md5 key are batch-independent, so a doc's
    * shard never depends on when it arrived) → key-sorted shard files
    * appended under the batch's own partition → per-batch manifest
    * COUNTERS and window-membership CONTRIBUTIONS, maintained by the
    * w26 merge algebra ([[exportManifestView]]/[[exportWindowsView]]
    * are pure aggregates over them).
    *
    * Packing is BATCH-MAJOR with carryover: each batch's cumulative
    * positions continue from the shard's running token total (read
    * from the counters of batches < this one), so no window pads at a
    * batch boundary — the window a batch leaves half-filled is
    * completed by the next batch's first docs, and the two
    * contributions MERGE in the view (n_docs/n_tokens by sum,
    * first/last doc by batch order — the additive-algebra point
    * [[graft.extensions.Curation.windowMembership]] documents). The
    * training-read order is (batch_id, __key, id) per shard — an
    * advancing export appends; it never re-interleaves shipped shards
    * (ExportIngestSpec pins the maintained views ≡ a from-scratch
    * recompute over ALL written doc-grain rows in exactly that order).
    *
    * Replay safety — the [[curationIngest]] discipline throughout:
    * docs/counters/windows/fates each land in the batch's OWN
    * `batch_id=N` directory via overwrite, and the carryover offsets
    * read `batch_id < N` only, so a crash-replayed batch recomputes
    * byte-identical contributions into the same partitions.
    *
    * Scale shape at 100 TB: per-batch cost is the curation probe
    * (flat in state — measured, d22s) + one word explode + one
    * broadcast-able vocab join + ONE shard exchange for the sorted
    * write + one shard-partitioned packing window over (id, n_bpe)
    * rows — all O(|batch|); the counters read for offsets is
    * (batches × shards × sources) grain, kept bounded by
    * [[compactExportState]] (fold old batch partitions; the algebra is
    * insensitive to HOW batches are grouped, only to their order —
    * compaction relabels a PREFIX of batches, and the per-row `__seg`
    * witness preserves batch-major packing order through the fold).
    *
    * The packing facts (`contextLen`/`numShards`/seed) are persisted
    * write-once at the first batch and VALIDATED on every later batch
    * and view read — a caller drifting any of them would silently
    * corrupt shard assignment or the window index (ADVICE r13). */
  def exportIngest(docsStream: DataFrame, stateDir: String,
      exportDir: String, checkpointDir: String,
      merges: Seq[(String, String)], contextLen: Int, numShards: Int)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        exportIngestBatch(batch, batchId, stateDir, exportDir, merges,
          contextLen, numShards)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One micro-batch of [[exportIngest]], exposed so the spec and a
    * backfill job drive the EXACT code path the stream executes. */
  def exportIngestBatch(batch: DataFrame, batchId: Long,
      stateDir: String, exportDir: String,
      merges: Seq[(String, String)], contextLen: Int, numShards: Int,
      seed: String = graft.extensions.Curation.ExportSeed): Unit = {
    val spark = batch.sparkSession
    ensureExportMeta(spark, exportDir, contextLen, numShards, seed)
    val kept = curationIngestBatch(batch, batchId, stateDir,
        s"$exportDir/fates")
      .select(col(idCol), col(textCol), col(srcCol))
      // the curate→tokenize materialization point (the exportDocGrain
      // barrier): the word explode AND the source join read it
      .localCheckpoint(eager = false)
    val dg = graft.extensions.Curation.tokenizeAndShard(kept, merges,
        textCol, idCol, srcCol, numShards, seed, keepText = true)
      .localCheckpoint(eager = false) // sorted write + packing both read
    // 1. the batch's shard files — the writeExport layout under the
    //    batch's own partition (sequential training reads stream each
    //    shard's batches in order, each internally key-sorted). `__seg`
    //    repeats the batch id per ROW: redundant today, it is the
    //    packing-order witness that survives compaction (a folded
    //    snapshot keeps (__seg, __key, id) order inside its one
    //    relabeled partition — see compactExportState).
    dg.withColumn("__seg", lit(batchId))
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("__key"), col(idCol))
      .write.mode("overwrite").partitionBy("shard_id")
      .parquet(s"$exportDir/docs/batch_id=$batchId")
    // 2. carryover: this shard's running token total over PRIOR batches
    //    (strictly batch_id < N — a replayed batch must not see its own
    //    half-written counters; a compacted prefix keeps its snapshot
    //    id ≤ every folded batch id, so the filter still covers it)
    val off = exportState(spark, exportDir, "counters")
      .filter(col("batch_id") < lit(batchId))
      .groupBy(col("shard_id")).agg(sum(col("n_tokens")).as("__off"))
    val cum = dg.drop(textCol)
      .join(broadcast(off), Seq("shard_id"), "left")
      .withColumn("__cum", coalesce(col("__off"), lit(0L)) +
        sum(col("n_bpe")).over(
          graft.extensions.Curation.packWindow(idCol)))
      .drop("__off")
      .localCheckpoint(eager = false) // counters + windows both read
    // 3. + 4. the batch's additive contributions (global positions
    //    baked in, so the views are plain merges) — partitioned-table
    //    state like the curation indexes. Contribution grain is
    //    contextLen-fold below the batch's token grain, so the
    //    single-file write is bounded by |batch|/contextLen rows.
    val cnt = graft.extensions.Curation.cumCounters(cum, contextLen)
    val win = graft.extensions.Curation
      .windowMembership(cum, idCol, contextLen)
    ensureExportStateTables(spark, exportDir, cnt, win)
    insertBatchPartition(cnt.coalesce(1),
      exportStateTable(exportDir, "counters"), batchId)
    insertBatchPartition(win.coalesce(1),
      exportStateTable(exportDir, "windows"), batchId)
  }

  /** Catalog name of an export state table — the
    * [[curationStateTable]] discipline (md5 prefix of the export dir)
    * applied to the export loop's merge-state. */
  def exportStateTable(exportDir: String, name: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(exportDir.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    s"graft_exp_${h}_$name"
  }

  /** Create the two partitioned export-state tables if absent —
    * external (LOCATION under `exportDir`), partitioned by batch_id,
    * schemas from the operators' own output frames (no hand-written
    * DDL to rot). Unlike the curation indexes these are never
    * key-probed by a batch — every consumer is a whole-state merge
    * aggregate — so there is no bucket spec. VERDICT r13 item 4: the
    * table route replaces the old `java.io.File` existence probe, so
    * the loop works on any Hadoop filesystem. */
  def ensureExportStateTables(spark: SparkSession, exportDir: String,
      countersDonor: DataFrame, windowsDonor: DataFrame): Unit = {
    ensureExportStateTable(spark, exportDir, "counters", countersDonor)
    ensureExportStateTable(spark, exportDir, "windows", windowsDonor)
  }

  private def ensureExportStateTable(spark: SparkSession,
      exportDir: String, name: String, donor: DataFrame): Unit = {
    val t = exportStateTable(exportDir, name)
    if (!spark.catalog.tableExists(t)) {
      val loc = s"$exportDir/$name"
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val preExisting = fs.exists(p) && fs.listStatus(p).nonEmpty
      if (!preExisting) fs.mkdirs(p)
      spark.sql(
        s"""CREATE TABLE $t (${donor.schema.toDDL},
           |  batch_id BIGINT)
           |USING PARQUET
           |PARTITIONED BY (batch_id)
           |LOCATION '$loc'""".stripMargin)
      if (preExisting) spark.sql(s"MSCK REPAIR TABLE $t")
    }
  }

  /** The maintained export state (`counters` or `windows`) as a
    * DataFrame, `batch_id` included. Reads the registered partitioned
    * table; a FRESH session over an existing export dir re-registers
    * the table from the files first (schema donor = the files
    * themselves), and a reader polling BEFORE the first batch lands
    * gets an empty frame in the loop's long-id schema instead of an
    * AnalysisException (ADVICE r13: exportWindowsView previously threw
    * path-not-found). */
  private def exportState(spark: SparkSession, exportDir: String,
      name: String): DataFrame = {
    val t = exportStateTable(exportDir, name)
    if (!spark.catalog.tableExists(t)) {
      val loc = s"$exportDir/$name"
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).nonEmpty)
        ensureExportStateTable(spark, exportDir, name,
          spark.read.parquet(loc).drop("batch_id"))
      else return emptyExportState(spark, name)
    }
    spark.table(t)
  }

  /** Empty-schema bootstrap frames for [[exportState]] — the engine's
    * long doc-id convention (an export over a non-long idCol has
    * necessarily already run its first batch, which registers the real
    * schema). */
  private def emptyExportState(spark: SparkSession,
      name: String): DataFrame = name match {
    case "counters" =>
      spark.range(0).select(col("id").as("shard_id"),
        lit("").as("source"), col("id").as("n_docs"),
        col("id").as("n_tokens"), col("id").as("__split_src"),
        col("id").as("batch_id"))
    case _ =>
      spark.range(0).select(col("id").as("shard_id"),
        col("id").as("seq_id"), col("id").as("n_docs"),
        col("id").as("first_doc"), col("id").as("last_doc"),
        col("id").as("n_tokens"), col("id").as("batch_id"))
  }

  /** Write-once export packing metadata — `(contextLen, numShards,
    * seed)` persisted as a 1-row parquet under `exportDir/meta` at the
    * first batch, then VALIDATED by every later batch and view read:
    * these three facts define the packing arithmetic and the shard
    * assignment, so a caller drifting any of them would silently
    * corrupt `n_sequences`/`pad_tokens`/the window index (ADVICE r13).
    * Returns the stored triple, or None before the first batch. */
  def exportMeta(spark: SparkSession,
      exportDir: String): Option[(Int, Int, String)] = {
    val p = new org.apache.hadoop.fs.Path(s"$exportDir/meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) {
      val r = spark.read.parquet(p.toString)
        .select(col("context_len"), col("num_shards"), col("seed"))
        .head()
      Some((r.getInt(0), r.getInt(1), r.getString(2)))
    } else None
  }

  private def ensureExportMeta(spark: SparkSession, exportDir: String,
      contextLen: Int, numShards: Int, seed: String): Unit =
    exportMeta(spark, exportDir) match {
      case Some(m) =>
        require(m == ((contextLen, numShards, seed)),
          s"export at $exportDir was packed with (contextLen, " +
            s"numShards, seed) = $m; refusing to ingest with " +
            s"(${contextLen}, ${numShards}, $seed)")
      case None =>
        // deterministic content → a crash-replayed first batch
        // rewrites the identical row (overwrite, idempotent)
        spark.range(1).select(lit(contextLen).as("context_len"),
            lit(numShards).as("num_shards"), lit(seed).as("seed"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$exportDir/meta")
    }

  private def validateExportContext(spark: SparkSession,
      exportDir: String, contextLen: Int): Unit =
    for (m <- exportMeta(spark, exportDir))
      require(m._1 == contextLen,
        s"export at $exportDir was packed at contextLen=${m._1}; a " +
          s"view at contextLen=$contextLen would report wrong " +
          "n_sequences/pad_tokens/n_pad")

  /** The incremental export's manifest — identical datasheet columns
    * to [[graft.extensions.Curation.exportManifest]], computed as a
    * pure aggregate over the maintained per-batch counters (the w26
    * merge-algebra view): doc/token/split counts merge by sum, then
    * the shard audit and t33 mixture arithmetic run on the merged
    * totals. ExportIngestSpec pins it equal to a from-scratch
    * [[graft.extensions.Curation.manifestFromDocGrain]] recompute over
    * every written doc-grain row in batch-major packing order.
    * `contextLen` is validated against the persisted export metadata. */
  def exportManifestView(spark: SparkSession, exportDir: String,
      contextLen: Int): DataFrame = {
    validateExportContext(spark, exportDir, contextLen)
    graft.extensions.Curation.manifestFromCounters(
      exportState(spark, exportDir, "counters")
        .groupBy(col("shard_id"), col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("__split_src")).as("__split_src")),
      contextLen, graft.extensions.Curation.MixAlpha)
  }

  /** The incremental export's window-membership index (x3's columns):
    * merge of the per-batch contributions — counts/tokens by sum;
    * first/last doc from the earliest/latest contributing batch
    * (batch-major packing order makes that the packing order; a
    * compacted snapshot pre-resolves its prefix with the same min_by/
    * max_by and keeps an id below every live batch, so the merge is
    * grouping-insensitive). A boundary window half-filled by batch N
    * and completed by batch N+1 is one row here, assembled from both
    * contributions. Empty before the first batch; `contextLen`
    * validated against the persisted export metadata. */
  def exportWindowsView(spark: SparkSession, exportDir: String,
      contextLen: Int): DataFrame = {
    validateExportContext(spark, exportDir, contextLen)
    exportState(spark, exportDir, "windows")
      .groupBy(col("shard_id"), col("seq_id"))
      .agg(sum(col("n_docs")).as("n_docs"),
        min_by(col("first_doc"), col("batch_id")).as("first_doc"),
        max_by(col("last_doc"), col("batch_id")).as("last_doc"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("n_pad", lit(contextLen.toLong) - col("n_tokens"))
  }

  /** Compact the export state: fold every batch partition with
    * `batch_id <= snapshotBatchId` of `counters`, `windows` and `docs`
    * into ONE snapshot partition each (VERDICT r13 item 3 — without
    * this, [[exportIngestBatch]]'s carryover read and both views scan
    * a partition per micro-batch forever; with it they read
    * O(snapshot + recent)). The fold applies each consumer's own merge
    * algebra AT REST, so views, carryover offsets and the docs'
    * training-read order are byte-identical before/after
    * (ExportIngestSpec):
    *   - counters: sum n_docs/n_tokens/__split_src per (shard, source)
    *     — every downstream read is itself a sum over these;
    *   - windows: sum n_docs/n_tokens, min_by/max_by first/last doc on
    *     batch order per (shard, seq) — the view's exact aggregate,
    *     pre-applied to the prefix; the snapshot id stays ≤ every
    *     folded id < every live id, so batch-order resolution across
    *     snapshot and live partitions is unchanged;
    *   - docs: rewrite the prefix partitions' files under the snapshot
    *     partition, each shard's rows sorted by (`__seg`, `__key`, id)
    *     — `__seg` is the original batch id written per row, so the
    *     global order (batch_id, __seg, __key, id) a sequential
    *     training reader streams is the order it shipped in (an
    *     advancing export never re-interleaves — compaction only
    *     relabels the prefix).
    *
    * Crash-safe via [[compactMetricState]]'s sibling-temp protocol,
    * per state: (1) the fold is written durably to `<state>
    * .compact_tmp` BEFORE anything is deleted (a rerun that finds the
    * temp skips recompute); (2) folded partitions are deleted; (3) the
    * temp renames into place as the snapshot partition, and the table
    * syncs. Contract (the [[compactCurationState]] one): run between
    * batches with `snapshotBatchId` ≤ the last durably-committed batch
    * id — a folded batch can never be re-delivered, so its
    * overwrite-idempotence is no longer needed. */
  def compactExportState(spark: SparkSession, exportDir: String,
      snapshotBatchId: Long): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    def batchDirs(loc: org.apache.hadoop.fs.Path)
        : Seq[org.apache.hadoop.fs.Path] = {
      val fs = loc.getFileSystem(hc)
      if (!fs.exists(loc)) Seq.empty
      else fs.listStatus(loc).filter(_.isDirectory).map(_.getPath)
        .filter { d =>
          val n = d.getName
          n.startsWith("batch_id=") &&
            scala.util.Try(n.stripPrefix("batch_id=").toLong)
              .toOption.exists(_ <= snapshotBatchId)
        }.toSeq
    }
    // temp-first fold of one state; `fold` maps the prefix rows
    // (batch_id included) to the snapshot's FILE content
    def compactOne(name: String, fold: DataFrame => DataFrame,
        write: (DataFrame, String) => Unit): Unit = {
      val loc = path(s"$exportDir/$name")
      val fs = loc.getFileSystem(hc)
      val tmp = path(s"$exportDir/$name.compact_tmp")
      val folded = batchDirs(loc)
      if (folded.isEmpty && !fs.exists(tmp)) return
      if (!fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
        write(fold(
          spark.read.option("basePath", loc.toString)
            .parquet(folded.map(_.toString): _*)), tmp.toString)
      batchDirs(loc).foreach(d => fs.delete(d, true))
      fs.mkdirs(loc)
      fs.rename(tmp,
        new org.apache.hadoop.fs.Path(loc, s"batch_id=$snapshotBatchId"))
      ()
    }
    def plain(df: DataFrame, out: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(out)
    compactOne("counters",
      _.groupBy(col("shard_id"), col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("__split_src")).as("__split_src")),
      plain)
    compactOne("windows",
      _.groupBy(col("shard_id"), col("seq_id"))
        .agg(sum(col("n_docs")).as("n_docs"),
          min_by(col("first_doc"), col("batch_id")).as("first_doc"),
          max_by(col("last_doc"), col("batch_id")).as("last_doc"),
          sum(col("n_tokens")).as("n_tokens")),
      plain)
    compactOne("docs",
      _.drop("batch_id"),
      (df, out) => df.repartition(col("shard_id"))
        .sortWithinPartitions(col("shard_id"), col("__seg"),
          col("__key"), col(idCol))
        .write.mode("overwrite").partitionBy("shard_id").parquet(out))
    // re-register the dropped/added partitions with the catalog (docs
    // are path-read, no table to sync)
    for (name <- Seq("counters", "windows")) {
      val t = exportStateTable(exportDir, name)
      if (spark.catalog.tableExists(t))
        spark.sql(s"MSCK REPAIR TABLE $t SYNC PARTITIONS")
    }
  }

  /** Streaming MODEL-IN-THE-LOOP scoring — the trained classifier
    * deployed over continuous ingest (VERDICT r11 item 5, closing the
    * t40→t43 family's production loop): each arriving micro-batch is
    * scored against the PERSISTED t40 weight table (the stream-static
    * enrichment shape — v6's dimension table is here a model) with the
    * t43 SKETCH cut as the keep threshold. Both model artifacts are
    * published ONCE at train time — weights as a parquet table
    * ([[graft.extensions.QualityModel.trainLogistic]] output), the cut
    * as the percentile_approx(0.5) scalar
    * ([[graft.extensions.QualityModel.sketchCut]]) — and the stream
    * only APPLIES them: per-batch cost is one token explode + one
    * broadcast weight join + one doc-grain exchange, O(|batch|),
    * independent of everything ever ingested (no state advance at all —
    * scoring is stateless, which is exactly why the cut must be a
    * frozen train-time scalar rather than a per-batch median: a
    * per-batch quantile would make a doc's fate depend on its batch
    * cohort, breaking replay determinism AND batch/stream parity).
    *
    * Replay safety: the [[incrementalIngest]] discipline — each batch
    * overwrites its own `batch_id=N` output partition, so a replayed
    * micro-batch (crash between write and checkpoint commit) replaces
    * rather than doubles its verdicts. Batch parity: the same docs
    * through [[graft.extensions.QualityModel.scoredWithTrained]] + the
    * same cut produce identical rows (ClassifierStreamSpec asserts the
    * multi-micro-batch union equals t41's batch form at the same cut). */
  def classifierScoringIngest(docsStream: DataFrame, weightsDir: String,
      cut: Double, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        classifierScoringBatch(batch, batchId, weightsDir, cut, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One micro-batch of [[classifierScoringIngest]], exposed so specs
    * and replay checks drive the exact code path the stream executes.
    * Output rows: (idCol, model_score, kept, rule_label) — t41's
    * schema under the frozen sketch cut. */
  def classifierScoringBatch(batch: DataFrame, batchId: Long,
      weightsDir: String, cut: Double, outDir: String): Unit = {
    val spark = batch.sparkSession
    // the published model: bounded (≤ 4096 hashed-feature rows) —
    // scoredWithTrained broadcasts it into the per-batch plan
    val weights = spark.read.parquet(weightsDir)
    graft.extensions.QualityModel
      .scoredWithTrained(batch, textCol, idCol, "label", weights, 4096)
      .select(col(idCol), col("model_score"),
        (col("model_score") >= lit(cut)).as("kept"), col("rule_label"))
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
  }

  /** Streaming metric-state maintenance — the w26 merge algebra under
    * `foreachBatch`: each micro-batch writes ONLY its own partial
    * aggregate (count + decimal-exact sum per key) into its
    * `batch_id=` directory; the merged metric is derived at read time
    * by [[metricState]] (merge-on-read; compact opportunistically at
    * scale). Replay-safe by construction: a re-delivered batch
    * overwrites its own directory — partials are idempotent per batch
    * id, so no self-exclusion read is needed (unlike the dedup index,
    * whose per-batch content depends on prior state). History is never
    * re-scanned: per-batch cost is one partial aggregate of the batch. */
  def metricStateIngest(eventsStream: DataFrame, stateDir: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    eventsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.groupBy(col(keyCol))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(38,6)")).as("s"))
          .write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Merge-on-read of [[metricStateIngest]] state: fold all per-batch
    * partials (count add, exact-sum add) and derive the average from
    * the MERGED sums — never averaged averages. A missing/empty state
    * directory is an empty metric (a reader polling during stream
    * startup, or after a no-data run where foreachBatch never fired,
    * must not crash) — same bootstrap contract as the dedup index.
    *
    * Concurrent-reader safety (ADVICE r3): only batch directories whose
    * write COMMITTED (carry the `_SUCCESS` marker) are read, so a poll
    * racing a redelivered batch's in-flight overwrite sees a consistent
    * snapshot that merely omits that one partial (momentarily stale,
    * never partially-written, never a read of files being deleted).
    * The overwrite itself deletes the old `_SUCCESS` first, so the
    * window degrades to "batch absent", which redelivery idempotence
    * already makes correct. The check-then-read is still not atomic —
    * an overwrite can start after the listing — so the scan additionally
    * sets `ignoreMissingFiles`: a file deleted mid-read drops out of the
    * scan instead of failing the poll (same degraded-to-absent
    * semantics). */
  def metricState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame =
    metricPartials(spark, stateDir)
      .groupBy(col(keyCol))
      .agg(sum(col("n")).as("n_rows"), sum(col("s")).as("s2"))
      .select(col(keyCol), col("n_rows"),
        round(col("s2"), 2).cast("double").as("sum_value"),
        (col("s2").cast("double") / col("n_rows")).as("avg_value"))

  /** The committed per-batch partial rows of [[metricStateIngest]] —
    * shared by the merge-on-read ([[metricState]]) and the compaction
    * job ([[compactMetricState]]). */
  private def metricPartials(spark: SparkSession, stateDir: String)
      : DataFrame = {
    val committed = committedMetricDirs(spark, stateDir)
    if (committed.nonEmpty)
      spark.read.option("basePath", stateDir)
        .option("ignoreMissingFiles", "true")
        .parquet(committed: _*)
        .select(col(keyCol), col("n"), col("s"))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(keyCol,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("s",
            org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)))))
  }

  private def committedMetricDirs(spark: SparkSession,
      stateDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).filter(_.isDirectory)
        .filter(d => fs.exists(
          new org.apache.hadoop.fs.Path(d.getPath, "_SUCCESS")))
        .map(_.getPath.toString).toSeq
    else Seq.empty[String]
  }

  /** Compact [[metricStateIngest]]'s per-batch partials into ONE merged
    * partial directory (`batch_id=snapshotBatchId`) — the merge algebra
    * applied AT REST, so merge-on-read cost stops growing with batch
    * count (each micro-batch adds a directory; a year of minutely
    * batches is half a million partials without this job).
    *
    * Crash-safe without a transactional table format, via a sibling
    * temp + idempotent rerun protocol (each step re-runnable under the
    * quiesced-writer contract below):
    *   1. the FULL merge is written durably to `<stateDir>.compact_tmp`
    *      BEFORE anything is deleted (a rerun that finds the temp skips
    *      straight to cleanup — the temp is the complete state);
    *   2. old batch directories are deleted (a concurrent reader's
    *      window degrades to "some partials absent" — momentarily
    *      stale-LOW, never double-counted, the same degradation the
    *      reader's `_SUCCESS` contract already documents);
    *   3. the temp directory is renamed into place as the snapshot
    *      partial (one FS move).
    * A crash after 3 makes the rerun a no-op-shaped re-compaction of
    * the single snapshot. Contract: run between batches with
    * `snapshotBatchId` ≤ the last durably-committed batch id — a folded
    * batch can never be re-delivered (Structured Streaming replays at
    * most the last uncommitted epoch), so its overwrite-idempotence is
    * no longer needed. The production form on a transactional table
    * (Delta/Iceberg) is the same merge with the swap made atomic. */
  def compactMetricState(spark: SparkSession, stateDir: String,
      snapshotBatchId: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(stateDir + ".compact_tmp")
    if (!fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
      metricPartials(spark, stateDir)
        .groupBy(col(keyCol))
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("s")).cast("decimal(38,6)").as("s"))
        .write.mode("overwrite").parquet(tmp.toString)
    committedMetricDirs(spark, stateDir)
      .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
    fs.mkdirs(root)
    fs.rename(tmp,
      new org.apache.hadoop.fs.Path(root, s"batch_id=$snapshotBatchId"))
    ()
  }

  /** Convenience: run a streaming aggregation to completion against a
    * static directory via an in-memory sink (local smoke path — the
    * production sink is kafka/parquet/delta). */
  def runToMemory(agg: DataFrame, queryName: String, outputMode: String): Unit = {
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
