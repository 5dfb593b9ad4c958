package graft

import org.scalatest.funsuite.AnyFunSuite

/** Failure honesty of the bench JSON (VERDICT r3 item 2): a thrown query
  * must surface as an `errors` entry and a nonzero `failed` count — it
  * must never silently shrink the total into a better-looking number. */
class BenchFormatSpec extends AnyFunSuite {

  /** A line with fixed calibration fields; Bench.main always has them. */
  private def emit(rs: Seq[Bench.QueryResult], sf: String,
      medianQueries: Option[Seq[(String, Double)]] = None,
      builds: Option[Seq[(String, Double)]] = None): String =
    Bench.formatLine(rs, sf, medianQueries, warmupS = 12.5, canaryS = 0.8,
      builds, canaryRef = 0.292, canaryProbes = Seq(0.8),
      canarySeries = Seq(0.8))

  test("all-green run emits failed:0 and an empty errors map") {
    val line = emit(Seq(
      Bench.QueryResult("q1", 0.5, None),
      Bench.QueryResult("q2", 1.25, None)), "/data/sf0.1")
    assert(line.contains("\"failed\":0"))
    assert(line.contains("\"errors\":{}"))
    assert(line.contains("\"q1\":0.5"))
    assert(line.contains("\"value\":1.75"))
  }

  test("forced failure shows up as an error entry and counts in the total") {
    val line = emit(Seq(
      Bench.QueryResult("q1", 0.5, None),
      Bench.QueryResult("qbad", 0.25, Some("AnalysisException"))), "/data/sf0.1")
    assert(line.contains("\"failed\":1"))
    assert(line.contains("\"errors\":{\"qbad\":\"AnalysisException\"}"))
    // elapsed-until-throw still contributes — failures can't deflate the total
    assert(line.contains("\"value\":0.75"))
  }

  test("env-controlled strings are escaped — a quoted path cannot break the line") {
    val line = emit(Seq(
      Bench.QueryResult("q1", 0.1, Some("Weird\"Exception\\Name"))),
      "/data/sf\"0.1\\x")
    assert(line.contains("\"sf\":\"/data/sf\\\"0.1\\\\x\""))
    assert(line.contains("\"errors\":{\"q1\":\"Weird\\\"Exception\\\\Name\"}"))
  }

  test("median block is additive and absent by default") {
    val rs = Seq(Bench.QueryResult("q1", 0.5, None))
    assert(!emit(rs, "/x").contains("median"))
    val line = emit(rs, "/x", Some(Seq("q1" -> 0.4, "q2" -> 1.0)))
    assert(line.contains("\"median_queries\":{\"q1\":0.4,\"q2\":1}"))
    assert(line.contains("\"median_total\":1.4"))
    // driver-contract fields untouched by the extra block
    assert(line.contains("\"value\":0.5") && line.contains("\"queries\":{"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("builds block absent without builds; calibration fields always emitted") {
    val rs = Seq(Bench.QueryResult("q1", 0.5, None))
    val bare = emit(rs, "/x")
    assert(!bare.contains("builds"))
    assert(bare.contains("\"warmup_s\":12.5") && bare.contains("\"canary_s\":0.8"))
    val line = emit(rs, "/x",
      builds = Some(Seq("classifier_train_score" -> 9.25,
        "pq_codebooks_encode" -> 3.0)))
    assert(line.contains("\"warmup_s\":12.5"))
    assert(line.contains("\"canary_s\":0.8"))
    assert(line.contains(
      "\"builds\":{\"classifier_train_score\":9.25,\"pq_codebooks_encode\":3}"))
    // driver-contract fields untouched by the extra blocks
    assert(line.contains("\"value\":0.5") && line.contains("\"queries\":{"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("calibration fields survive tail truncation: emitted AFTER the " +
      "per-query maps, canary_s as the line's final field") {
    // VERDICT r12 item 1: the driver records only the tail of a long
    // line, and BENCH_r12.json's captured tail contained no canary
    // because calibration was emitted before the ~19k-char queries map.
    val line = Bench.formatLine(
      (1 to 50).map(i => Bench.QueryResult(s"q$i", i * 0.1, None)), "/x",
      medianQueries = Some((1 to 50).map(i => s"q$i" -> i * 0.1)),
      warmupS = 12.5, canaryS = 0.31,
      builds = Some(Seq("b1" -> 9.25)),
      canaryRef = 0.292, canaryProbes = Seq(0.41, 0.31),
      canarySeries = Seq(0.3, 0.32, 0.9, 0.31))
    def at(k: String) = { val i = line.indexOf(k); assert(i >= 0, k); i }
    // big maps first…
    assert(at("\"median_queries\"") < at("\"queries\""))
    // …then every calibration scalar, in the pinned tail order
    assert(at("\"queries\"") < at("\"sf\""))
    assert(at("\"sf\"") < at("\"builds\""))
    assert(at("\"builds\"") < at("\"warmup_s\""))
    assert(at("\"warmup_s\"") < at("\"median_total\""))
    assert(at("\"median_total\"") < at("\"canary_ref\""))
    assert(at("\"canary_ref\"") < at("\"canary_probes\""))
    // the mid-sweep series (VERDICT r13 item 1) rides the tail too,
    // after the pre-run probes and before the final scalar
    assert(at("\"canary_probes\"") < at("\"canary_series\""))
    assert(at("\"canary_series\"") < at("\"canary_s\""))
    // canary_s is the very last field: a tail keep of even ~40 chars
    // retains the one number that lets a reader discount a host window
    assert(line.drop(at("\"canary_s\"")) == "\"canary_s\":0.31}")
    assert(line.contains("\"canary_probes\":[0.41,0.31]"))
    assert(line.contains("\"canary_series\":[0.3,0.32,0.9,0.31]"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("tail-kept truncation at EVERY byte offset still recovers the " +
      "calibration fields whose text survives") {
    // VERDICT r14 item 8: r13's bench line was truncated past recovery
    // and PERF lost its whole round-over-round table. The driver keeps
    // the TAIL of a long line, so the guarantee to pin is field-wise:
    // for a truncation at ANY offset, every calibration scalar whose
    // text survives in the kept suffix must be recoverable by a plain
    // key-regex scan (no balanced-JSON parse — the suffix is not valid
    // JSON), and the scalars must all sit within a bounded distance of
    // the line's end REGARDLESS of board size, so even an aggressive
    // tail keep retains them.
    val line = Bench.formatLine(
      (1 to 300).map(i => Bench.QueryResult(s"q$i", i * 0.01, None)), "/x",
      medianQueries = Some((1 to 300).map(i => s"q$i" -> i * 0.01)),
      warmupS = 454.027, canaryS = 0.242445,
      builds = Some(Seq("b1" -> 9.25, "b2" -> 3.0)),
      canaryRef = 0.292,
      canaryProbes = Seq(0.477863, 0.407117),
      canarySeries = Seq(0.375262, 0.369871, 0.500966))
    val scalars = Seq("warmup_s" -> "454.027",
      "median_total" -> Bench.fmt((1 to 300).map(_ * 0.01).sum),
      "canary_ref" -> "0.292", "canary_s" -> "0.242445")
    def recover(tail: String, key: String): Option[String] =
      (s""""$key":(-?[0-9.]+)""".r).findFirstMatchIn(tail).map(_.group(1))
    for (offset <- 0 until line.length) {
      val tail = line.substring(offset)
      for ((k, v) <- scalars if offset <= line.indexOf(s""""$k":"""))
        assert(recover(tail, k).contains(v),
          s"offset $offset lost $k (tail keep ${tail.length})")
    }
    // bounded tail: every calibration scalar lives in the last 1000
    // bytes even on a 300-query board (the big maps come FIRST)
    for ((k, _) <- scalars)
      assert(line.length - line.indexOf(s""""$k":""") < 1000,
        s"$k drifted out of the bounded tail")
  }

  test("fmt keeps ~6 significant digits and strips trailing zeros") {
    assert(Bench.fmt(4.539865723) == "4.53987")
    assert(Bench.fmt(0.5) == "0.5")
    assert(Bench.fmt(1.4000000000000001) == "1.4")
    assert(Bench.fmt(3.0) == "3")
    assert(Bench.fmt(-1.0) == "-1")
    assert(Bench.fmt(0.0) == "0")
    assert(Bench.fmt(1.0 / 3.0) == "0.333333")
    // tiny values stay valid JSON numbers (plain string, no exponent)
    assert(Bench.fmt(1.23e-7).toDouble == 1.23e-7)
  }

  test("guardedCanary: clean first probe accepted with no retry") {
    var sleeps = 0
    val (c, ps) = Bench.guardedCanary(() => 0.30, ref = 0.292,
      maxRatio = 1.2, sleeps = Seq.fill(2)(() => sleeps += 1))
    assert(c == 0.30 && ps == Seq(0.30) && sleeps == 0)
  }

  test("guardedCanary: degraded window walks the backoff schedule in " +
      "order, min probe accepted") {
    val probes = Iterator(0.95, 0.60, 0.31)
    val slept = scala.collection.mutable.ArrayBuffer[Int]()
    val (c, ps) = Bench.guardedCanary(() => probes.next(), ref = 0.292,
      maxRatio = 1.2,
      sleeps = Seq(20, 120, 600, 600, 600).map(s => () => slept += s))
    // clean probe on the third try: exactly the first two backoff
    // steps were paid, in schedule order
    assert(c == 0.31 && ps == Seq(0.95, 0.60, 0.31))
    assert(slept.toSeq == Seq(20, 120))
  }

  test("guardedCanary: never aborts — schedule exhausted, min reported") {
    val probes = Iterator(0.95, 0.90, 0.99)
    val (c, ps) = Bench.guardedCanary(() => probes.next(), ref = 0.292,
      maxRatio = 1.2, sleeps = Seq.fill(2)(() => ()))
    assert(c == 0.90 && ps.size == 3)
  }

  test("median: odd takes the middle run, even averages the two middles") {
    assert(Bench.median(Seq(3.18, 1.54, 1.72)) == 1.72)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Bench.median(Seq(7.5)) == 7.5)
  }

  test("emitted line is parseable JSON with the driver's expected fields") {
    val line = emit(Seq(
      Bench.QueryResult("q1", 0.1, None),
      Bench.QueryResult("q2", 0.2, Some("SparkException"))), "/x")
    // minimal structural check without a JSON lib: balanced braces,
    // the driver-contract keys present, queries values numeric
    assert(line.count(_ == '{') == line.count(_ == '}'))
    for (k <- Seq("\"metric\":\"total\"", "\"unit\":\"sec\"",
        "\"queries\":{", "\"sf\":\"/x\""))
      assert(line.contains(k), s"missing $k in $line")
  }
}
