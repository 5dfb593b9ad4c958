package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.{RowOps, WindowOps}

/** Property-based guards for the semantic invariants the reference only
  * spot-checks (SURVEY.md §5.3.2): ffill idempotence, diff∘cumsum
  * identity, latest-per-group stability under row permutation, clip
  * NULL preservation. */
object WindowPropsSpec extends Properties("graft.windows") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val seriesGen: Gen[List[Option[Double]]] =
    Gen.listOfN(12, Gen.option(Gen.choose(0.0, 100.0).map(v => math.rint(v))))

  private def toDf(vs: List[Option[Double]]) =
    vs.zipWithIndex.map { case (v, i) =>
      ("K", Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), v)
    }.toDF("k", "date", "v")

  property("ffill is idempotent") = forAll(seriesGen) { vs =>
    val once = WindowOps.forwardFill(toDf(vs), "k", Seq("date"), Seq("v"))
    val twice = WindowOps.forwardFill(once, "k", Seq("date"), Seq("v"))
    val a = once.orderBy("date").select("v").as[Option[Double]].collect().toSeq
    val b = twice.orderBy("date").select("v").as[Option[Double]].collect().toSeq
    a == b
  }

  property("lag-diff of a running sum recovers the increments") = forAll(
    Gen.listOfN(10, Gen.choose(0.0, 50.0).map(math.rint))) { incs =>
    val cums = incs.scanLeft(0.0)(_ + _).tail
    val df = toDf(cums.map(Some(_)))
    val got = WindowOps.fillAndClip(
        WindowOps.lagDiff(df, "k", Seq("date"), "v", "d"), "d")
      .orderBy("date").select("d").as[Double].collect().toSeq
    // first increment is lost to the fill(0) boundary, rest recovered
    got.tail == incs.tail && got.head == 0.0
  }

  property("latest-per-group invariant under permutation + repartition") =
    forAll(seriesGen, Gen.choose(1, 8)) { (vs, parts) =>
      val df = toDf(vs)
      def run(in: org.apache.spark.sql.DataFrame) =
        WindowOps.latestPerGroup(in, "k", Seq(col("date")), Seq("v"))
          .select("date", "v").as[(Date, Option[Double])].collect().toSeq
      run(df) == run(df.orderBy(hash(col("v"), col("date"))).repartition(parts))
    }

  property("clipNonNegative preserves NULL and never yields negatives") =
    forAll(seriesGen) { vs =>
      val got = toDf(vs.map(_.map(_ - 50.0)))
        .select(RowOps.clipNonNegative(col("v")).as("c"))
        .as[Option[Double]].collect().toSeq
      got.zip(vs).forall {
        case (None, None) => true
        case (Some(c), Some(_)) => c >= 0.0
        case _ => false
      }
    }

  property("globalRowNumber = rank of the sort key, any input layout") =
    forAll(Gen.listOfN(40, Gen.choose(0, 15)), Gen.choose(1, 8)) {
      (vals, parts) =>
        val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        val df = rows.toDF("id", "v").repartition(parts)
        val got = WindowOps.globalRowNumber(
            df, Seq(col("v"), col("id")), "rn")
          .select("id", "rn").as[(Long, Long)].collect().toMap
        val want = rows.sortBy { case (id, v) => (v, id) }
          .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
        got == want
    }

  property("exactSum = BigDecimal truth, invariant to partitioning") =
    forAll(Gen.listOfN(25, Gen.choose(-1e6, 1e6)), Gen.choose(1, 8)) {
      (vs, parts) =>
        import graft.operators.Summaries
        val got = vs.toDF("v").repartition(parts)
          .agg(Summaries.exactSum(col("v")).as("s"))
          .as[Double].collect().head
        // the policy's exact reference: each double canonically decimal-
        // ized (Double.toString), scaled to 6 dp HALF_UP, summed exactly,
        // rounded once to 2 dp — any partition order must produce this
        val want = vs.map(BigDecimal.valueOf(_)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
        got == want
    }

  property("olsFit = closed-form moment reference; degenerate groups yield NULL") =
    forAll(
      Gen.choose(1, 20).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.choose(0L, 3L), Gen.choose(-100.0, 100.0)))),
      Gen.choose(1, 8)) { (pts, parts) =>
      import graft.operators.Summaries
      val df = pts.map { case (x, y) => ("g", x, y) }
        .toDF("g", "x", "y").repartition(parts)
      val got = Summaries.olsFit(df, Seq(col("g")), col("x"), col("y"))
        .select(col("n_obs"), col("slope"), col("intercept"), col("r2"))
        .as[(Long, Option[Double], Option[Double], Option[Double])]
        .collect().head
      // the operator's exact arithmetic, replayed: decimal(·,10) HALF_UP
      // per addend (longs exact), decimal sum, then the identical double
      // expression tree and one round-6
      def dec(v: Double) =
        BigDecimal.valueOf(v).setScale(10, BigDecimal.RoundingMode.HALF_UP)
      def r6(d: Double) =
        BigDecimal.valueOf(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      val n = pts.size.toDouble
      val sx = pts.map(_._1).sum.toDouble
      val sy = pts.map(p => dec(p._2)).sum.toDouble
      val sxy = pts.map(p => dec(p._1 * p._2)).sum.toDouble
      val sxx = pts.map(p => p._1 * p._1).sum.toDouble
      val syy = pts.map(p => dec(p._2 * p._2)).sum.toDouble
      val vx = n * sxx - sx * sx
      val vy = n * syy - sy * sy
      val cxy = n * sxy - sx * sy
      val want = (
        pts.size.toLong,
        if (vx > 0) Some(r6(cxy / vx)) else None,
        if (vx > 0) Some(r6((sy - (cxy / vx) * sx) / n)) else None,
        if (vx > 0 && vy > 0) Some(r6((cxy * cxy) / (vx * vy))) else None)
      got == want
    }

  property("pearsonMatrix cell ≡ pairwise pearson on dense data; constant col → NULL") =
    forAll(
      Gen.choose(3, 15).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.choose(-50.0, 50.0), Gen.choose(-50.0, 50.0),
          Gen.choose(-50.0, 50.0)))),
      Gen.choose(1, 8)) { (pts, parts) =>
      import graft.operators.Summaries
      // index offsets guarantee non-zero variance for x/y/z, so each
      // non-const pair is comparable against pearson (whose unguarded
      // 0/0 would NaN where the matrix NULLs — the documented delta)
      val df = pts.zipWithIndex.map { case ((a, b, c), i) =>
        (math.rint(a) + i * 101, math.rint(b) + i * 103,
          math.rint(c) + i * 107, 7.0)
      }.toDF("x", "y", "z", "const").repartition(parts)
      val cells = Summaries.pearsonMatrix(df, Seq("x", "y", "z", "const"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
      def pair(a: String, b: String): Option[Double] =
        Summaries.pearson(df, Seq.empty, col(a), col(b))
          .select(col("corr_xy")).collect().head match {
            case r => Option(r.get(0)).map(_.asInstanceOf[Double])
          }
      cells.size == 6 &&
        cells(("x", "y")) == pair("x", "y") &&
        cells(("x", "z")) == pair("x", "z") &&
        cells(("y", "z")) == pair("y", "z") &&
        cells(("x", "const")).isEmpty &&
        cells(("y", "const")).isEmpty &&
        cells(("z", "const")).isEmpty
    }

  property("weightedMedian = brute-force reference, any partitioning") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(-20, 20), Gen.choose(0L, 5L))),
      Gen.choose(1, 8)) { (pts, parts) =>
      import graft.operators.Summaries
      val df = pts.zipWithIndex.map { case ((v, wt), i) =>
        ("g", v.toDouble, wt, i.toLong)
      }.toDF("g", "v", "wt", "id").repartition(parts)
      val got = Summaries.weightedMedian(df, Seq("g"), col("v"), col("wt"),
          Seq(col("id")))
        .select(col("total_weight"), col("weighted_median"))
        .as[(Long, Option[Double])].collect().toSeq
      val kept = pts.filter(_._2 > 0)
      if (kept.isEmpty) got.isEmpty // all weight dropped → no group row
      else {
        // reference: sort by value, walk cumulative weight to W/2
        val tot = kept.map(_._2).sum
        val sorted = kept.map { case (v, wt) => (v.toDouble, wt) }.sortBy(_._1)
        var cum = 0L
        val med = sorted.collectFirst {
          case (v, wt) if { cum += wt; 2 * cum >= tot } => v
        }.get
        got == Seq((tot, Some(med)))
      }
    }

  property("runningMaxExclusive = prefix max of prior arrivals") =
    forAll(Gen.listOfN(30, Gen.choose(0L, 100L))) { vals =>
      val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val got = graft.extensions.EventWindows.runningMaxExclusive(
          rows.toDF("seq", "v"), "seq", "v", "rm")
        .orderBy("seq").select("rm").as[Option[Long]].collect().toSeq
      val want = vals.scanLeft(Option.empty[Long]) {
        case (acc, v) => Some(acc.fold(v)(math.max(_, v)))
      }.init
      got == want
    }

  property("ewmaHalfLife = exact-rational reference, bit-for-bit, any layout") =
    forAll(Gen.listOfN(30, Gen.choose(-1000000L, 1000000L)),
      Gen.choose(2, 8)) { (vus, parts) =>
      // the operator's exactness claim: with power-of-two weights and
      // integer-quantized values, num and den are EXACT dyadics, so the
      // double result must equal the BigDecimal rational reference (one
      // final division + HALF_UP round) — not approximately, bitwise —
      // regardless of input partitioning
      val depth = 20
      val rows = vus.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val got = WindowOps.ewmaHalfLife(
          rows.toDF("seq", "vu").repartition(parts),
          lit("K"), Seq(col("seq")), col("vu"),
          depth = depth, scale = 100.0, outCol = "e")
        .orderBy("seq").select("e").as[Double].collect().toSeq
      val want = vus.indices.map { t =>
        val ks = (0 until depth).filter(_ <= t)
        val half = java.math.BigDecimal.valueOf(0.5)
        val num = ks.map(k => half.pow(k)
            .multiply(java.math.BigDecimal.valueOf(vus(t - k))))
          .reduce(_ add _)
        val den = ks.map(half.pow(_)).reduce(_ add _)
          .multiply(java.math.BigDecimal.valueOf(100L))
        // both sums are exactly representable doubles; the division is
        // the one inexact step, identical to the operator's
        java.math.BigDecimal
          .valueOf(num.doubleValue() / den.doubleValue())
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      got == want
    }
}
