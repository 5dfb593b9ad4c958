package graft

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.operators.{RowOps, Summaries, WindowOps}

/** Exact-value tests for the window-op semantic core, mirroring the
  * reference's assertions (reference tests/test_integration.py:403-473).
  */
class WindowOpsSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  test("W1 forward-fill carries last non-null within group, ordered by date") {
    val df = Seq(
      ("A", d("2024-01-01"), Option.empty[Double]),
      ("A", d("2024-01-02"), Some(10.0)),
      ("A", d("2024-01-03"), Option.empty[Double]),
      ("A", d("2024-01-04"), Some(20.0)),
      ("B", d("2024-01-01"), Option.empty[Double])
    ).toDF("country", "date", "total_cases")
    val got = WindowOps.forwardFill(df, "country", Seq("date"), Seq("total_cases"))
      .orderBy("country", "date")
      .select("total_cases").as[Option[Double]].collect()
    assert(got.toSeq == Seq(None, Some(10.0), Some(10.0), Some(20.0), None))
  }

  test("W2 lag-diff + fill + clip matches pandas diff().fillna(0).clip(0)") {
    // reference data_cleaner.py:188-194
    val df = Seq(
      ("A", d("2024-01-01"), Some(10.0)),
      ("A", d("2024-01-02"), Some(25.0)),
      ("A", d("2024-01-03"), Some(20.0)), // correction: diff -5 → clip 0
      ("A", d("2024-01-04"), Option.empty[Double]) // null - 20 → null → 0
    ).toDF("country", "date", "total_cases")
    val got = WindowOps.fillAndClip(
        WindowOps.lagDiff(df, "country", Seq("date"), "total_cases", "new_cases"),
        "new_cases")
      .orderBy("date").select("new_cases").as[Double].collect()
    assert(got.toSeq == Seq(0.0, 15.0, 0.0, 0.0))
  }

  test("W3 latest-per-group picks max-date row + last non-null metrics") {
    // reference test_integration.py:403-444: Afghanistan/Albania × 2 dates
    val df = Seq(
      ("Afghanistan", d("2024-01-01"), Some(1000.0), Some(40.0)),
      ("Afghanistan", d("2024-01-02"), Some(1100.0), Option.empty[Double]),
      ("Albania", d("2024-01-01"), Some(500.0), Some(20.0)),
      ("Albania", d("2024-01-02"), Some(600.0), Some(25.0))
    ).toDF("country", "date", "total_cases", "total_deaths")
    val got = WindowOps.latestPerGroup(df, "country",
        orderCols = Seq(col("date")),
        lastNonNullCols = Seq("total_cases", "total_deaths"))
      .orderBy("country")
      .select("country", "date", "total_cases", "total_deaths")
      .as[(String, Date, Double, Double)].collect()
    assert(got.toSeq == Seq(
      ("Afghanistan", d("2024-01-02"), 1100.0, 40.0), // deaths ffilled from day 1
      ("Albania", d("2024-01-02"), 600.0, 25.0)))
  }

  test("W3 is invariant under input row-order permutation") {
    // guards Spark's groupBy+last nondeterminism trap (SURVEY.md §7.5.1)
    val rows = for (c <- Seq("A", "B", "C"); i <- 1 to 9)
      yield (c, d(f"2024-01-0${(i % 9) + 1}"), Some(i * 10.0))
    val df = rows.toDF("country", "date", "v")
    def run(in: org.apache.spark.sql.DataFrame) =
      WindowOps.latestPerGroup(in, "country", Seq(col("date")), Seq("v"))
        .orderBy("country").select("country", "date", "v")
        .as[(String, Date, Double)].collect().toSeq
    val base = run(df)
    val shuffled = run(df.orderBy(hash(col("v"), col("date"))).repartition(7))
    assert(base == shuffled)
  }

  test("W4 trend metrics on the 35-day arithmetic series (A4 fixture)") {
    // reference test_integration.py:446-473: avg daily = 1.0, ≥30 points
    val rows = (0 until 35).map { i =>
      ("Testland", Date.valueOf(java.time.LocalDate.parse("2024-01-01").plusDays(i)),
        1000.0 + i, 50.0 + i, 1.0, 1.0)
    }
    val df = rows.toDF("country", "date", "total_cases", "total_deaths",
      "new_cases", "new_deaths")
    val t = WindowOps.trendMetrics(df, "country", "date", Seq(col("country")),
        firstLastCols = Seq("total_cases", "total_deaths"),
        avgCols = Seq("new_cases", "new_deaths"), windowDays = 30)
      .collect()(0)
    assert(t.getAs[Long]("data_points_available") >= 30)
    assert(t.getAs[Double]("avg_new_cases") == 1.0)
    assert(t.getAs[Double]("avg_new_deaths") == 1.0)
    assert(t.getAs[Double]("first_total_cases") == 1004.0)
    assert(t.getAs[Double]("last_total_cases") == 1034.0)
  }

  test("W4 drops groups with fewer than 2 rows in window") {
    val df = Seq(
      ("A", d("2024-01-01"), 1.0), ("A", d("2024-01-20"), 2.0),
      ("B", d("2024-01-20"), 5.0) // single row in window → dropped
    ).toDF("country", "date", "v")
    val got = WindowOps.trendMetrics(df, "country", "date", Seq(col("country")),
      Seq("v"), Seq("v"), windowDays = 30)
    assert(got.select("country").as[String].collect().toSeq == Seq("A"))
  }

  test("W5 top-k returns exactly k rows in total order") {
    val df = (1 to 100).map(i => (i.toLong, (i % 10).toDouble)).toDF("id", "v")
    val got = WindowOps.topK(df, Seq(col("v").desc, col("id").asc), 5)
      .as[(Long, Double)].collect()
    assert(got.toSeq == Seq((9L, 9.0), (19L, 9.0), (29L, 9.0), (39L, 9.0), (49L, 9.0)))
  }

  test("F4 lastNDays keeps only the trailing window of max date") {
    val df = Seq(("x", d("2024-01-01")), ("y", d("2024-03-01")),
      ("z", d("2024-03-20"))).toDF("k", "date")
    val got = RowOps.lastNDays(df, "date", 30).select("k").as[String]
      .collect().toSet
    assert(got == Set("y", "z"))
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col
  import graft.operators.Joins

  test("asOfJoin picks the latest right row at or before each left time") {
    val quotes = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 100.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 110.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 50.0)
    ).toDF("key", "qt", "price")
    val trades = Seq(
      (10L, 1L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")), // → 100
      (11L, 1L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00")), // → 110 (inclusive)
      (12L, 1L, java.sql.Timestamp.valueOf("2024-01-09 00:00:00")), // → 110
      (13L, 2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")), // no match → dropped
      (14L, 2L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"))  // → 50
    ).toDF("trade_id", "key", "tt")
    val got = Joins.asOfJoin(trades, quotes, "key",
        leftTime = "tt", rightTime = "qt", payloadCols = Seq("price"))
      .select(col("trade_id"), col("price"))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((10L, 100.0), (11L, 110.0), (12L, 110.0), (14L, 50.0)))
  }

  test("asOfJoin never blends payload values across right rows (null fields)") {
    // right rows: t=1 has (a=7, b=null); t=2 has (a=null, b=9). A
    // per-column fill would fabricate (a=7, b=9); the true as-of match
    // at t=3 is the t=2 row exactly.
    val quotes = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Some(7.0), Option.empty[Double]),
      (1L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), Option.empty[Double], Some(9.0))
    ).toDF("key", "qt", "a", "b")
    val trades = Seq((10L, 1L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
      .toDF("trade_id", "key", "tt")
    val got = Joins.asOfJoin(trades, quotes, "key", "tt", "qt", Seq("a", "b"))
      .select("trade_id", "a", "b")
      .as[(Long, Option[Double], Option[Double])].collect().toSeq
    assert(got == Seq((10L, None, Some(9.0))))
  }

  test("robustOutliers flags the planted extreme point and nothing else") {
    // group a: med=12, MAD=median(2,1,0,1,988)=1 → z(1000)≈666 flagged,
    // z(10)=1.35 not; group b (101..109): med=105, MAD=2 → max z 1.35
    val df = (Seq(("a", 10.0), ("a", 11.0), ("a", 12.0), ("a", 13.0),
      ("a", 1000.0)) ++ (1 to 9).map(i => ("b", 100.0 + i)))
      .toDF("g", "x")
    val got = Summaries.robustOutliers(df, "g", "x")
      .select("g", "n", "n_outliers", "med", "mad")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("a") == ((5L, 1L, 12.0, 1.0)))
    assert(got("b") == ((9L, 0L, 105.0, 2.0)))
  }

  test("sortedPercentiles matches the builtin percentile bit-for-bit") {
    // the bounded-state sort-based form must reproduce the builtin's
    // Hive interpolation EXACTLY (same doubles, not approximately) so
    // call-site swaps can never change an oracled output — probed on
    // real double data at awkward ranks plus a ties/odd-count synthetic
    val ps = Seq("p05" -> 0.05, "p37" -> 0.37, "p50" -> 0.5,
      "p95" -> 0.95, "p100" -> 1.0)
    def check(df: org.apache.spark.sql.DataFrame, g: String, v: String): Unit = {
      val sorted = Summaries.sortedPercentiles(df, Seq(g), col(v), ps)
        .collect().map(r => r.getString(0) ->
          ps.indices.map(i => r.getDouble(i + 1))).toMap
      val builtinAggs = ps.map { case (n, p) =>
        expr(s"percentile($v, ${p}D)").as(n) }
      val builtin = df.groupBy(col(g))
        .agg(builtinAggs.head, builtinAggs.tail: _*)
        .collect().map(r => r.getString(0) ->
          ps.indices.map(i => r.getDouble(i + 1))).toMap
      assert(sorted == builtin, s"$sorted vs $builtin")
    }
    check(graft.sources.Tables.lineitem(spark, sf0001),
      "l_returnflag", "l_extendedprice")
    check((Seq(("t", 1.5), ("t", 1.5), ("t", 2.25), ("t", 7.125),
      ("t", 7.125), ("u", 3.0)) ++ (1 to 7).map(i => ("v", i / 7.0)))
      .toDF("g", "x"), "g", "x")
  }

  test("globalRanked + rankSelectAgg matches the builtin ungrouped " +
      "percentile bit-for-bit; ranks are a permutation of 0..n-1") {
    // the r15 w33 swap (verdict item 1): the exact ungrouped percentile
    // moved from the builtin's O(distinct-values) aggregation state to
    // the distributed-rank frame. The selection arithmetic is
    // rankSelectAgg verbatim, but the RANKS now come from range-sort +
    // monotonically_increasing_id + offset table — pin that the whole
    // pipeline reproduces the builtin's doubles EXACTLY on real data at
    // awkward ranks, plus a ties/duplicates synthetic, and that the
    // rank column really is the global 0..n-1 permutation (__n
    // constant, ranks unique and ordered with the values).
    val ps = Seq("p05" -> 0.05, "p37" -> 0.37, "p50" -> 0.5,
      "p95" -> 0.95, "p100" -> 1.0)
    def check(df: org.apache.spark.sql.DataFrame, v: String): Unit = {
      val ranked = Summaries.globalRanked(df, col(v))
      val aggs = ps.map { case (n, p) => Summaries.rankSelectAgg(p).as(n) }
      val got = ranked.agg(aggs.head, aggs.tail: _*)
        .collect()(0).toSeq
      val builtinAggs = ps.map { case (n, p) =>
        expr(s"percentile($v, ${p}D)").as(n) }
      val builtin = df.filter(col(v).isNotNull)
        .agg(builtinAggs.head, builtinAggs.tail: _*).collect()(0).toSeq
      assert(got == builtin, s"$got vs $builtin")
      val n = df.filter(col(v).isNotNull).count()
      val stats = ranked.agg(count(lit(1)), countDistinct(col("__rn")),
        min(col("__rn")), max(col("__rn")), max(col("__n")))
        .collect()(0)
      assert(stats.getLong(0) == n && stats.getLong(1) == n &&
        stats.getDouble(2) == 0.0 && stats.getDouble(3) == (n - 1).toDouble &&
        stats.getDouble(4) == n.toDouble, s"rank frame malformed: $stats")
      // ranks sorted by value: no inversion between __x and __rn
      val inversions = ranked.as[(Double, Double, Double)].collect().toSeq
        .sortBy(_._2).sliding(2).count {
          case Seq(a, b) => a._1 > b._1; case _ => false }
      assert(inversions == 0, "rank order disagrees with value order")
    }
    check(graft.sources.Tables.lineitem(spark, sf0001)
      .select(col("l_extendedprice")), "l_extendedprice")
    check((Seq(1.5, 1.5, 2.25, 7.125, 7.125, 3.0) ++
      (1 to 7).map(_ / 7.0) ++ Seq(Double.NaN))
      .toDF("x").select(when(isnan(col("x")), lit(null)).otherwise(col("x"))
        .as("x")), "x")
  }

  test("attachPercentiles equals the sortedPercentiles join form bit-for-bit") {
    // the r14 fused (window-aggregate) form must reproduce the
    // group-grain join form EXACTLY — same doubles, not approximately —
    // so the x14/x16 call-site swaps cannot change an oracled output.
    // Probed on real data plus a synthetic with ties, odd counts, a
    // null metric value and an ALL-NULL group (the join form's
    // left-join convention: rows survive with null bounds).
    val ps = Seq("p05" -> 0.05, "p37" -> 0.37, "p50" -> 0.5, "p95" -> 0.95)
    def check(df: org.apache.spark.sql.DataFrame, g: String, v: String): Unit = {
      val joined = df.join(
          org.apache.spark.sql.functions.broadcast(
            Summaries.sortedPercentiles(df, Seq(g), col(v), ps)),
          Seq(g), "left")
        .groupBy(col(g))
        .agg(count(lit(1)).as("n"),
          ps.map { case (n, _) => max(col(n)).as(n) }: _*)
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val fused = Summaries.attachPercentiles(df, Seq(g), col(v), ps)
        .groupBy(col(g))
        .agg(count(lit(1)).as("n"),
          ps.map { case (n, _) => max(col(n)).as(n) }: _*)
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(fused == joined, s"$fused vs $joined")
    }
    check(graft.sources.Tables.lineitem(spark, sf0001),
      "l_returnflag", "l_extendedprice")
    check((Seq(("t", Some(1.5)), ("t", Some(1.5)), ("t", Some(2.25)),
      ("t", Option.empty[Double]), ("t", Some(7.125)), ("u", Some(3.0)),
      ("z", Option.empty[Double]), ("z", Option.empty[Double])) ++
      (1 to 7).map(i => ("v", Some(i / 7.0))))
      .toDF("g", "x"), "g", "x")
  }

  test("globalRowNumber equals the naive global window on shuffled input") {
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((1L to 257L).toList).map(k => (k, rnd.nextInt(50)))
    // many partitions + a value with heavy ties → exercises range
    // boundaries, offset handoff, and the orderCols tiebreak
    val df = rows.toDF("k", "v").repartition(7)
    val got = WindowOps.globalRowNumber(
        df, Seq(col("v").desc, col("k")), "rn")
      .select("k", "rn").as[(Long, Long)].collect().toMap
    val want = rows.sortBy { case (k, v) => (-v, k) }
      .zipWithIndex.map { case ((k, _), i) => k -> (i + 1L) }.toMap
    assert(got == want)
  }

  test("weightedMedian: hand fixture, threshold straddle, unit-weight degeneracy") {
    // group A: values 1,2,3 with weights 1,1,4 → total 6, half 3;
    // cumw(1)=1, cumw(2)=2, cumw(3)=6 → first 2·cumw ≥ 6 is value 3
    // group B: the big weight sits FIRST: values 1,2 weights 5,1 →
    // cumw(1)=5, 2·5 ≥ 6 → median 1 (the straddle case)
    val df = Seq(
      ("A", 1.0, 1L), ("A", 2.0, 1L), ("A", 3.0, 4L),
      ("B", 1.0, 5L), ("B", 2.0, 1L),
      ("C", 7.0, 0L), ("C", 9.0, 2L) // zero weight drops
    ).toDF("g", "v", "wt")
    val got = Summaries.weightedMedian(df, Seq("g"), col("v"), col("wt"),
      Seq.empty)
      .orderBy(col("g"))
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("A", 6L, 3.0), ("B", 6L, 1.0), ("C", 2L, 9.0)))
    // unit weights degrade to the LOWER median (even count picks the
    // lower of the two central values)
    val units = Seq(("U", 10.0, 1L), ("U", 20.0, 1L),
      ("U", 30.0, 1L), ("U", 40.0, 1L)).toDF("g", "v", "wt")
    val lm = Summaries.weightedMedian(units, Seq("g"), col("v"), col("wt"),
      Seq.empty)
      .select("weighted_median").as[Double].collect().head
    assert(lm == 20.0)
    // fractional and NaN weights truncate to zero mass and must DROP —
    // a raw-weight filter would keep them and fabricate a zero-total
    // group whose first row "qualifies" (2·0 ≥ 0)
    val frac = Seq(("F", 1.0, 0.5), ("F", 2.0, 0.7),
      ("F", 3.0, Double.NaN)).toDF("g", "v", "wt")
    assert(Summaries.weightedMedian(frac, Seq("g"), col("v"), col("wt"),
      Seq.empty).count() == 0)
    // fractional weights ≥ 1 quantize by FLOOR, not round-to-nearest:
    // 2.7 contributes mass 2 (a nearest-rounding engine would give 3
    // and flip the median to 5.0 — the cross-engine divergence the
    // explicit floor() pins down on both sides of the oracle)
    val fl = Seq(("G", 5.0, 2.7), ("G", 1.0, 2.0)).toDF("g", "v", "wt")
    val flGot = Summaries.weightedMedian(fl, Seq("g"), col("v"), col("wt"),
      Seq.empty)
      .as[(String, Long, Double)].collect().head
    assert(flGot == (("G", 4L, 1.0)))
  }

  test("o12 integrity audit: injected violations counted exactly, controls pass") {
    // expected counts derive from the deterministic injection rules at
    // sf0.001 (152 customers → 2 with key%100=0 dup'd; 1500 orders → 30
    // with key%50=0 re-keyed; 4 lineitem rows qualify for the +100
    // quantity bump), independently confirmed against the DuckDB oracle
    val got = SparkEntry.queries("o12_integrity_audit")(spark, sf0001)
      .as[(String, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      ("customer.c_custkey unique", 152L, 2L, false),
      ("documents.n_chars = len(text)", 500L, 0L, true),
      ("documents.text non-empty", 500L, 0L, true),
      ("lineitem.l_discount in [0,0.1]", 6004L, 0L, true),
      ("lineitem.l_quantity in [1,50]", 6004L, 4L, false),
      ("orders.o_custkey in customer", 1530L, 30L, false)))
  }

  test("s19 stratified k-fold: exact per-stratum balance, corpus partitioned") {
    val cells = SparkEntry.queries("s19_stratified_kfold")(spark, sf0001)
      .as[(Long, String, Long, Long)].collect().toSeq
    // folds partition the corpus: cell counts sum to the doc count
    assert(cells.map(_._3).sum ==
      graft.sources.Tables.documents(spark, sf0001).count())
    // stratification: within each lang, fold sizes differ by at most 1
    cells.groupBy(_._2).foreach { case (lang, cs) =>
      assert(cs.size <= 5)
      val ns = cs.map(_._3)
      assert(ns.max - ns.min <= 1, s"$lang fold sizes $ns")
    }
    assert(cells.map(_._1).distinct.sorted == Seq(0L, 1L, 2L, 3L, 4L))
  }
}
