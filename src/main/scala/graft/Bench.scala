package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

object Bench {

  /** Evaluate EVERY column of a query result, not just its cardinality.
    * A bare `count()` lets Catalyst prune unreferenced columns and
    * eliminate unique-key outer joins — for d3_minhash_lsh that deleted
    * the entire LSH pipeline from the measured plan, so the bench was
    * timing a plan no consumer would run. One hash probe per column,
    * summed (decimal — a long sum could overflow silently), forces full
    * evaluation while collecting a single row. Map-typed columns are
    * unhashable in Spark; they go through to_json. Per-column probes
    * combine via XOR, not +, and the row fold is a decimal sum: full-
    * range longs overflow under ANSI mode (Spark 4 default) and would
    * fail every query. Returns the row count. */
  def evalAll(df: DataFrame): Long = {
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val probes = df.schema.fields.map { f =>
      if (hasMap(f.dataType)) xxhash64(to_json(col(f.name)))
      else xxhash64(col(f.name))
    }
    val r = df.agg(
      sum(probes.reduce(_.bitwiseXOR(_)).cast("decimal(38,0)")),
      count(lit(1)))
      .collect()(0)
    r.getLong(1)
  }

  /** One measured query: elapsed seconds plus the exception class name if
    * it threw. Failures are NOT silently absorbed into the total — see
    * [[formatLine]]. */
  final case class QueryResult(name: String, seconds: Double,
    err: Option[String])

  /** JSON number at ~6 significant digits (VERDICT r12 item 1: the
    * full-precision per-query seconds made the line ~19k chars and the
    * driver's capture truncates). Trailing zeros stripped so round
    * values stay short ("0.5", "3", "1.4"); always a valid JSON number. */
  def fmt(d: Double): String =
    BigDecimal(d).round(new java.math.MathContext(6))
      .underlying.stripTrailingZeros.toPlainString

  /** Pure JSON formatter (unit-tested with a forced failure in
    * BenchFormatSpec). Failure honesty: a thrown query contributes its
    * elapsed-until-throw to the total like any other, appears in a
    * top-level `"errors":{name:exceptionClass}` map, and bumps the
    * top-level `"failed"` count — so a regression that breaks a query can
    * never shrink the bench number into looking like an improvement.
    * Successful-query values stay plain numbers (the driver's parser
    * contract).
    *
    * FIELD ORDER IS LOAD-BEARING (VERDICT r12 item 1): the driver records
    * only the TAIL of this line when it is long, so every self-calibration
    * field a reader needs to discount a degraded host window —
    * `builds`/`warmup_s`/`median_total`/`canary_ref`/`canary_probes`/
    * `canary_s` — is emitted AFTER the big per-query maps, with `canary_s`
    * as the line's final field. BENCH_r12.json's captured tail contained
    * no canary precisely because r12 emitted calibration first. Pinned by
    * BenchFormatSpec ("calibration fields survive tail truncation"). */
  def formatLine(results: Seq[QueryResult], sfDir: String,
      medianQueries: Option[Seq[(String, Double)]], warmupS: Double,
      canaryS: Double, builds: Option[Seq[(String, Double)]],
      canaryRef: Double, canaryProbes: Seq[Double],
      canarySeries: Seq[Double]): String = {
    // sfDir comes from the environment and error classes from arbitrary
    // throwables — escape the two JSON-string interpolations (a quote
    // or backslash in a path must not make the whole line unparseable)
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    val qs = results.map(r => s"\"" + esc(r.name) + "\":" + fmt(r.seconds))
      .mkString("{", ",", "}")
    val failures = results.filter(_.err.isDefined)
    val errs = failures
      .map(r => s"\"" + esc(r.name) + "\":\"" + esc(r.err.get) + "\"")
      .mkString("{", ",", "}")
    val total = results.map(_.seconds).sum
    // median-of-reps block (VERDICT r9 item 4): per-query run-to-run
    // spread at this scale is real (d3 showed 1.54→3.18 s across three
    // r9 runs on an unchanged plan), so regression calls must read a
    // per-query MEDIAN, never one run against another. Additive fields —
    // the driver's "value"/"queries" contract is the first timed pass.
    // The big median MAP sits before "queries"; the scalar median_total
    // repeats in the calibration tail so truncation keeps it.
    val med = medianQueries.fold("") { ms =>
      val mq = ms.map { case (n, s) => "\"" + esc(n) + "\":" + fmt(s) }
        .mkString("{", ",", "}")
      s""""median_queries":$mq,"""
    }
    // Calibration tail — ',' PREFIXED so these are the line's last bytes.
    // one-time memoized-artifact build costs (VERDICT r11 item 3): the
    // warm-up builds every shared artifact, so timed queries measure
    // steady-state probes — this block carries the honest construction
    // cost (board total + builds = first-run cost) so t40's 0.085 s
    // cache probe can't be misread as training cost.
    val bld = builds.fold("") { bs =>
      val m = bs.map { case (n, s) => "\"" + esc(n) + "\":" + fmt(s) }
        .mkString("{", ",", "}")
      s""","builds":$m"""
    }
    // host-speed self-calibration (VERDICT r11 item 2): BENCH_r11
    // landed in a ~2.6× degraded host window and was unreadable as a
    // regression without builder-side artifacts. canary_s is a FIXED
    // sf-independent hash-agg timed right before the first timed pass
    // (median of 3), so any two BENCH_r*.json are comparable after
    // dividing by their canaries. warmup_s is the untimed warm-up
    // pass's wall — JIT + parquet footer reads; on the default path the
    // builds block has ALREADY forced every shared artifact before
    // warmup_s starts, so artifact construction is in "builds", not
    // here (BASELINE.md states the same split). canary_ref/canary_probes
    // carry the clean-window guard's evidence (see guardedCanary);
    // canary_series is the MID-SWEEP probe sequence (VERDICT r13 item
    // 1): one short probe every ~50 timed queries plus one at each
    // pass's end, so a window that degrades or lifts MID-RUN — r12's
    // non-uniform 0.3×–2.2× pattern — is visible from the artifact
    // alone instead of being inferable only from a single pre-run
    // canary.
    val cal = s""","warmup_s":${fmt(warmupS)}""" +
      medianQueries.fold("")(ms =>
        s""","median_total":${fmt(ms.map(_._2).sum)}""") +
      s""","canary_ref":${fmt(canaryRef)}""" +
      canaryProbes.map(fmt).mkString(""","canary_probes":[""", ",", "]") +
      canarySeries.map(fmt).mkString(""","canary_series":[""", ",", "]") +
      s""","canary_s":${fmt(canaryS)}"""
    // eval:all_columns — round 4 switched the timed pass from count()
    // to evalAll (full-column evaluation); totals are not directly
    // comparable to the count()-based rounds 1-3 for queries whose
    // count() plan pruned work away
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failed":${failures.size},""" +
      s""""errors":$errs,"eval":"all_columns",$med"queries":$qs,"sf":"${esc(sfDir)}"$bld$cal}"""
  }

  /** Median of a non-empty sample — even counts average the two middle
    * values (the conventional estimator; with reps=3 it's the middle
    * run, the form VERDICT r9 item 4 asks comparisons to cite). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Clean-window canary guard (VERDICT r12 item 3; r13 item 1 gave it
    * a backoff schedule that can outlast REAL windows). `probe` is one
    * full canary measurement (median-of-3 in main). If the probe reads
    * above `ref * maxRatio` — a degraded host window, the documented
    * 1.2–4× pattern, which BASELINE.md records lasting multiple HOURS
    * (r13's driver run exhausted its flat 2×20 s retries against one
    * and published inside it) — walk the `sleeps` backoff schedule
    * (default 20 s → 2 m → 10 m), re-probing after each sleep. The
    * ACCEPTED canary is the minimum probe seen: the canary's work is
    * fixed, so host noise only ever inflates it, making the min the
    * best host-speed estimate. All probes are returned for the
    * artifact (`canary_probes`) so a reader can see whether the run
    * waited out a window or published inside one. Never aborts — the
    * driver's bench must always emit its line; a still-degraded run is
    * disclosed by `canary_s`/`canary_ref`, not hidden by a crash. */
  def guardedCanary(probe: () => Double, ref: Double, maxRatio: Double,
      sleeps: Seq[() => Unit]): (Double, Seq[Double]) = {
    var probes = Vector(probe())
    val backoff = sleeps.iterator
    while (probes.min > ref * maxRatio && backoff.hasNext) {
      backoff.next()()
      probes :+= probe()
    }
    (probes.min, probes)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_FILTER=sub1,sub2 -> bench only matching queries
    // (local iteration on a family, the Verify third-arg convention);
    // the driver sets no filter and benches the whole board.
    val nameFilter: String => Boolean =
      sys.env.get("SPARK_GRAFT_BENCH_FILTER") match {
        case Some(pats) =>
          val ps = pats.split(',').toSeq
          name => ps.exists(name.contains)
        case None => _ => true
      }
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Steady-state measurement: one untimed warm-up pass over every query
    // absorbs JVM/classloader/janino-codegen JIT, parquet footer reads and
    // shuffle-infra startup (cold-vs-warm is 2.7s vs 0.26s for a simple
    // hash groupBy), then the timed pass measures the queries themselves.
    // The warm-up also BUILDS every shared artifact (Artifacts.all), so
    // the timed per-query numbers are order-INdependent: no timed query
    // pays — or escapes — the shared construction cost depending on
    // who ran first; what a timed g1 or d20 measures is the
    // steady-state probe against the warm artifact (the documented
    // Verify/Bench contract for those families).
    // Warm-up swallowing exceptions is deliberate (best-effort by design);
    // the timed pass below records them.
    def secsOf(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // One-time shared-artifact builds: every force step of
    // Artifacts.all, individually timed BEFORE the query sweep (which
    // would otherwise absorb them as cache probes) — emitted as the
    // "builds" JSON block. Skipped under a bench filter (local family
    // iteration wants speed; the sweep still builds what it needs).
    // First-in-JVM codegen/JIT overhead lands in these numbers — they
    // are first-run costs by definition.
    val builds: Option[Seq[(String, Double)]] =
      if (sys.env.contains("SPARK_GRAFT_BENCH_FILTER")) None
      else Some {
        // JIT-warm collect is best-effort like every force below — a
        // throw here must not kill main before any output line is
        // emitted. NonFatal only (ADVICE r13): an OutOfMemoryError
        // must crash the run, not let a corrupted JVM publish timings.
        try spark.range(1000000L).selectExpr("sum(id)").collect()
        catch { case scala.util.control.NonFatal(_) => () }
        graft.queries.Artifacts.all.flatMap(_.steps(spark, sfDir)).map {
          case (n, force) =>
            n -> (try secsOf(force()) catch {
              case scala.util.control.NonFatal(_) => -1.0
            })
        }
      }
    // Per-query transient-block cleanup (VERDICT r13 item 2, the
    // measured winner of the export-family context experiment — see
    // EXPLAIN.md round 14): every query leaves its lazy-localCheckpoint
    // blocks behind, and over a 242-query sweep the accumulated blocks
    // push the single-JVM block manager into disk-backed storage by the
    // time the late (x*) families run — r13 measured x2 at 8.4 s
    // in-sweep vs 4.7 s in a fresh process on a byte-identical plan.
    // After each query, unpersist every block that did not exist when
    // the builds block finished: builds forces every step of every
    // registered artifact, so anything newer is per-query transient by
    // construction. Active only on the full-board path — under a bench
    // filter builds are skipped, warmup builds artifacts lazily, and an
    // empty protected set would destroy them.
    val cleanup = builds.isDefined
    val protectedIds: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    def sweepClean(): Unit = if (cleanup)
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!protectedIds.contains(id)) rdd.unpersist(blocking = false)
      }
    val warmupS = secsOf {
      try {
        spark.range(1000000L).selectExpr("sum(id)").collect()
        SparkEntry.queries.filter(kv => nameFilter(kv._1)).foreach {
          case (_, fn) =>
            try { evalAll(fn(spark, sfDir)) } catch {
              case scala.util.control.NonFatal(_) => ()
            }
            sweepClean()
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    // Fixed sf-independent host-speed canary, timed warm and
    // immediately before the first timed pass: a 20M-row hash groupBy
    // whose work never changes, so two bench artifacts can be
    // normalized against each other's host windows. canaryJob is ONE
    // run (the ≤1 s mid-sweep series probe); canaryProbe the
    // median-of-3 the guard consumes.
    def canaryJob(): Double = secsOf {
      spark.range(20000000L)
        .select(pmod(xxhash64(col("id")), lit(9973)).as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("c"), sum(col("k")).as("s"))
        .agg(sum(col("c")), sum(col("s"))).collect()
    }
    def canaryProbe(): Double = median((1 to 3).map(_ => canaryJob()))
    // The default reference is HOST-SPECIFIC (ADVICE r13): 0.292 s is
    // the BASELINE.md host's stored clean-window canary. On any other
    // host set SPARK_GRAFT_CANARY_REF to that host's own clean median
    // — otherwise a legitimately slower machine pays the full backoff
    // schedule every run and publishes a canary_ref that never
    // described it.
    val canaryRef =
      sys.env.getOrElse("SPARK_GRAFT_CANARY_REF", "0.292").toDouble
    val canaryMaxRatio =
      sys.env.getOrElse("SPARK_GRAFT_CANARY_MAX_RATIO", "1.2").toDouble
    // Exponential backoff schedule in seconds (VERDICT r13 item 1):
    // BASELINE.md documents degraded windows lasting hours, which the
    // old flat 2×20 s retry could never outlast (BENCH_r13 probed
    // 3× above threshold and published inside the window). The list
    // IS the budget — override to "" to probe exactly once.
    val canaryBackoff: Seq[Long] =
      sys.env.getOrElse("SPARK_GRAFT_CANARY_BACKOFF", "20,120,600")
        .split(',').toSeq.map(_.trim).filter(_.nonEmpty).map(_.toLong)
    val (canaryS, canaryProbes) = guardedCanary(
      () => canaryProbe(), canaryRef, canaryMaxRatio,
      canaryBackoff.map(s => () => Thread.sleep(s * 1000L)))
    // Mid-sweep canary series (VERDICT r13 item 1): one single-run
    // probe every 50 timed queries plus one at each pass's end,
    // appended across passes — the artifact's own record of how host
    // speed moved DURING the sweep.
    val canarySeries = scala.collection.mutable.ArrayBuffer[Double]()
    var sinceTick = 0
    def seriesTick(): Unit = {
      sinceTick += 1
      if (sinceTick >= 50) { sinceTick = 0; canarySeries += canaryJob() }
    }
    def timedPass(): Seq[QueryResult] = {
      val rs = SparkEntry.queries.toSeq
        .filter(kv => nameFilter(kv._1)).map {
        case (name, fn) =>
          val t0 = System.nanoTime()
          val err =
            try { evalAll(fn(spark, sfDir)); None }
            catch { case t: Throwable => Some(t.getClass.getSimpleName) }
          val r = QueryResult(name, (System.nanoTime() - t0) / 1e9, err)
          sweepClean()
          seriesTick()
          r
      }
      canarySeries += canaryJob()
      rs
    }
    // SPARK_GRAFT_BENCH_REPS>1 → run the timed board that many times and
    // ALSO emit per-query medians (run-to-run noise floor; see
    // formatLine). The driver runs with the default 1 — no behavior or
    // wall-clock change on its path.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt.max(1)
    val passes = (1 to reps).map(_ => timedPass())
    val medians =
      if (reps == 1) None
      else Some(passes.head.map(_.name).map { n =>
        n -> median(passes.map(_.find(_.name == n).get.seconds))
      })
    println(formatLine(passes.head, sfDir, medians, warmupS, canaryS,
      builds, canaryRef, canaryProbes, canarySeries.toSeq))
    spark.stop()
  }
}
