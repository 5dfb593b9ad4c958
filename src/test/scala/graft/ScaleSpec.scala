package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.extensions.Similarity
import graft.operators.Joins
import graft.sources.Tables

/** Scale-path mechanics: bucketed co-located joins, deterministic salted
  * joins, IVF probe correctness, sketch accuracy bounds. These are the
  * 100 TB design levers, validated at test scale. */
class ScaleSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    Tables.lineitem(spark, sf0001)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.orders(spark, sf0001)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_b")
    // disable broadcast so the join strategy actually depends on bucketing
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucketed join should be co-located, found ${exchanges.size} exchanges")
      assert(joined.count() == Tables.lineitem(spark, sf0001).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE skew-join splits the hot partition; result parity with the manual salt") {
    // r5 verdict item 8: when is j9's manual salt still required vs
    // letting AQE's OptimizeSkewedJoin re-plan at runtime? This pins
    // the AQE path working at all: one hot key (30k rows) against a
    // uniform tail, broadcast disabled so the join shuffles, skew
    // thresholds lowered to test scale — the finalized plan must carry
    // the skew-split marker AND agree row-for-row with both the plain
    // join and saltedEquiJoin. The manual salt remains necessary when
    // (a) the build side must stay a broadcast/shuffle-hash join (AQE
    // skew-split only rewrites sort-merge and shuffled-hash joins it
    // planned itself, not hinted shapes), or (b) the skew sits on an
    // AGGREGATION key rather than a join (AQE never splits a hot
    // groupBy partition — salting pre-aggregation is the only lever).
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val hot = spark.range(30000).select(lit(1L).as("k"), col("id").as("v"))
    val tail = spark.range(3000)
      .select((col("id") % 500 + 2L).as("k"), col("id").as("v"))
    val fact = hot.unionByName(tail).localCheckpoint(eager = false)
    val dim = spark.range(600).select(col("id").as("k"),
      (col("id") * 7L).as("d"))
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val joined = fact.join(dim, Seq("k"))
      joined.collect() // finalize AQE
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(finalPlan.contains("skew=true"),
        s"AQE should have split the hot partition\n$finalPlan")
      // parity: AQE-split result == plain join == manual salt
      val plainCnt = fact.join(dim, Seq("k")).count()
      assert(joined.count() == plainCnt)
      val salted = Joins.saltedEquiJoin(fact, dim, "k",
        saltSource = col("v"), factor = 8)
      assert(salted.count() == plainCnt)
      val a = salted.groupBy("k").count()
      val b = fact.join(dim, Seq("k")).groupBy("k").count()
      assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted equi-join equals the plain join (skew mitigation is transparent)") {
    val fact = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val dim = Tables.orders(spark, sf0001)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = fact.join(dim, Seq("l_orderkey"))
    val salted = Joins.saltedEquiJoin(fact, dim, "l_orderkey",
      saltSource = col("l_linenumber"), factor = 4)
    assert(salted.count() == plain.count())
    // spot-check content equality
    val a = plain.groupBy("l_orderkey").count()
    val b = salted.groupBy("l_orderkey").count()
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("snapshotDiff classifies a planted evolution exactly") {
    import spark.implicits._
    val v1 = Seq((1L, "aa"), (2L, "bb"), (3L, "cc")).toDF("doc_id", "text")
    val v2 = Seq((1L, "aa"), (2L, "bb CHANGED"), (4L, "dd"))
      .toDF("doc_id", "text")
    val got = Joins.snapshotDiff(v1, v2, "doc_id",
        df => md5(df("text").cast("binary")))
      .orderBy("doc_id")
      .select("doc_id", "status").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")))
    // self-join-lineage form (v2 derived from v1, as o10 builds it)
    val v2b = v1.filter(col("doc_id") =!= 3)
      .withColumn("text", when(col("doc_id") === 2,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
    val got2 = Joins.snapshotDiff(v1, v2b, "doc_id",
        df => md5(df("text").cast("binary")))
      .orderBy("doc_id")
      .select("doc_id", "status").as[(Long, String)].collect().toSeq
    assert(got2 == Seq((1L, "unchanged"), (2L, "changed"), (3L, "removed")))
    // NULL payload on a present-both row: presence is ROW presence, so
    // the row is NOT misread as added/removed, and the NULL-fingerprint
    // comparison falls through to unchanged (SQL CASE semantics)
    val n1 = Seq((1L, Option("aa")), (9L, Option.empty[String]))
      .toDF("doc_id", "text")
    val n2 = Seq((9L, Option.empty[String])).toDF("doc_id", "text")
    val got3 = Joins.snapshotDiff(n1, n2, "doc_id",
        df => md5(df("text").cast("binary")))
      .orderBy("doc_id")
      .select("doc_id", "status").as[(Long, String)].collect().toSeq
    assert(got3 == Seq((1L, "removed"), (9L, "unchanged")))
  }

  test("pageRank: symmetric fixed point, hub dominance, mass conservation") {
    import spark.implicits._
    val sym = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r1 = graft.operators.Graph.pageRank(sym, iterations = 3)
      .as[(String, Double)].collect().toMap
    // uniform rank on a symmetric pair is an EXACT fixed point: the
    // teleport+damp arithmetic lands back on 0.5 after rounding
    assert(r1("a") == 0.5 && r1("b") == 0.5)
    val star = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"))
      .toDF("src", "dst")
    val r2 = graft.operators.Graph.pageRank(star, iterations = 5)
      .as[(String, Double)].collect().toMap
    assert(r2("b") == r2("c"), "leaves are symmetric")
    assert(r2("a") > r2("b"), "hub collects both contributions")
    assert(math.abs(r2.values.sum - 1.0) < 1e-6, "rank mass conserved up to rounding")
    // directed graph with an in-degree-0 source: c ranks at teleport-only
    // level and STAYS in the state across supersteps (no node dropout)
    val directed = Seq(("a", "b"), ("b", "a"), ("c", "a")).toDF("src", "dst")
    val r3 = graft.operators.Graph.pageRank(directed, iterations = 3)
      .as[(String, Double)].collect().toMap
    assert(r3.keySet == Set("a", "b", "c"), "no node may drop out")
    assert(r3("c") == math.rint((1.0 - 0.85) / 3 * 1e9) / 1e9,
      "in-degree-0 node holds the teleport-only rank")
    assert(r3("a") > r3("b") && r3("b") > r3("c"))
  }

  test("weighted pageRank: weight-1 is bit-identical to unweighted; heavier edges pull rank") {
    import spark.implicits._
    val star = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"))
      .toDF("src", "dst")
    val unweighted = graft.operators.Graph.pageRank(star, iterations = 4)
      .as[(String, Double)].collect().toMap
    val uniform = graft.operators.Graph
      .pageRank(star.withColumn("w", lit(1L)), iterations = 4,
        weightCol = Some("w"))
      .as[(String, Double)].collect().toMap
    assert(uniform == unweighted,
      "uniform weight 1 must reproduce unweighted arithmetic exactly")
    // a splits 3:1 toward b — b must outrank c (they tie unweighted)
    val skewed = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "a", 1L),
      ("c", "a", 1L)).toDF("src", "dst", "w")
    val r = graft.operators.Graph.pageRank(skewed, iterations = 4,
        weightCol = Some("w"))
      .as[(String, Double)].collect().toMap
    assert(r("b") > r("c"), "the heavier edge must carry more rank")
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
    // positive-weight contract: zero-weight edges are dropped up front —
    // a source whose weights ALL sum to zero leaves the graph instead of
    // dividing 0/0 into NaN (which would throw under ANSI decimal casts)
    val withZeros = Seq(("a", "b", 1L), ("b", "a", 1L), ("z", "a", 0L))
      .toDF("src", "dst", "w")
    val rz = graft.operators.Graph.pageRank(withZeros, iterations = 2,
        weightCol = Some("w"))
      .as[(String, Double)].collect().toMap
    assert(rz.keySet == Set("a", "b"), "all-zero-weight source must leave the graph")
    assert(rz("a") == 0.5 && rz("b") == 0.5)
  }

  test("personalizedPageRank concentrates rank near the seeds; unreached nodes stay 0") {
    import spark.implicits._
    // a ↔ b, a ↔ c (hub a, leaves b/c) plus an isolated pair d ↔ e:
    // with seed {b}, everything reachable from b gets mass, the
    // disconnected component ranks exactly 0.0 but STAYS in the output
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
      ("d", "e"), ("e", "d")).toDF("src", "dst")
    val r = graft.operators.Graph
      .personalizedPageRank(edges, Seq("b").toDF("node"), iterations = 4)
      .as[(String, Double)].collect().toMap
    assert(r.keySet == Set("a", "b", "c", "d", "e"), "total ranking")
    assert(r("d") == 0.0 && r("e") == 0.0, "unreachable nodes rank 0")
    // b and c receive the identical contribution from hub a; only b
    // holds the teleport, so b − c == (1−d)·1/|seeds| every superstep
    // (exact, parity-stable even though this bipartite-ish graph's
    // per-node ranks oscillate between odd/even supersteps)
    assert(math.abs(r("b") - r("c") - 0.15) < 2e-9,
      "seed premium is (1-d)/|seeds| up to the 9-dp rank rounding")
    assert(r("a") > 0.0 && r("c") > 0.0,
      "one and two hops from the seed are both reached")
    assert(math.abs(r.values.sum - 1.0) < 1e-6,
      "closed graph conserves the seeded mass")
    // seeds outside the graph are ignored; an all-outside set fails fast
    val r2 = graft.operators.Graph.personalizedPageRank(edges,
        Seq("b", "zzz").toDF("node"), iterations = 4)
      .as[(String, Double)].collect().toMap
    assert(r2 == r, "out-of-graph seeds must not change the teleport")
    intercept[IllegalArgumentException] {
      graft.operators.Graph.personalizedPageRank(edges,
        Seq("zzz").toDF("node"), iterations = 1)
    }
  }

  test("labelPropagation: plurality+min-tiebreak collapses components; shuffle fallback identical") {
    import spark.implicits._
    // two disjoint symmetric triangles: synchronous min-tiebreak voting
    // converges each to its lexicographically-smallest member within 3
    // rounds, and the two communities stay distinct
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"))
    val edges = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val out = graft.operators.Graph.labelPropagation(edges, iterations = 3)
      .as[(String, String)].collect().toMap
    assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d", "f" -> "d"))
    // the shuffle-join plans of a node set past the broadcast threshold
    // (shuffle-joined label state, no broadcast) must vote the SAME
    // all-integer system — exact equality
    val trade = graft.queries.TrainingQueries.tradingEdges(spark, sf0001)
    val viaB = graft.operators.Graph.labelPropagation(trade, 3)
      .as[(String, String)].collect().toMap
    val viaS = SparkTestSession.withBroadcastOff {
      graft.operators.Graph.labelPropagation(trade, 3)
        .as[(String, String)].collect().toMap
    }
    assert(viaS.nonEmpty && viaS == viaB)
    // UNSYMMETRIZED input (dst never a source): the node set stays
    // total — un-voted nodes keep their own label instead of silently
    // dropping out of the state
    val open = graft.operators.Graph
      .labelPropagation(Seq(("a", "zzz")).toDF("src", "dst"), 2)
      .as[(String, String)].collect().toMap
    assert(open == Map("a" -> "a"))
  }

  test("w31 count-min never underestimates ANY key; s20 rates fall with source size") {
    import spark.implicits._
    // the CM guarantee is per-key deterministic (est = min of cells each
    // ≥ the key's true count) — assert it over the FULL key set via the
    // operator (the query's top-20 report is a view over this); row
    // decorrelation is pinned numerically in the cmCell scaladoc
    val skew = Tables.lineitem(spark, sf0001).select(
      when(pmod(col("l_partkey"), lit(5)) === 0, lit(0L))
        .otherwise(pmod(col("l_partkey"), lit(997))).as("key"))
    val full = graft.operators.Summaries.countMinEstimates(skew, "key")
      .join(skew.groupBy(col("key")).agg(count(lit(1)).as("exact")),
        Seq("key"))
    assert(full.filter(col("est") < col("exact")).count() == 0,
      "count-min must never underestimate any key")
    assert(full.count() > 100, "the full key set, not a top slice")
    val cm = SparkEntry.queries("w31_count_min")(spark, sf0001)
    assert(cm.filter(col("overest") < 0).count() == 0)
    assert(cm.count() > 0)
    // temperature resampling: acceptance rate must be non-increasing in
    // source size (∝ 1/√n) and never sample more than the source holds
    val s20 = SparkEntry.queries("s20_temperature_resample")(spark, sf0001)
      .orderBy(col("n_docs").desc).collect()
    assert(s20.nonEmpty)
    val rates = s20.map(r => r.getAs[Double]("rate"))
    assert(rates.zip(rates.tail).forall { case (a, b) => a <= b },
      "rate must be non-increasing in n_docs")
    assert(s20.forall(r =>
      r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_docs")))
  }

  test("pageRank's shuffle-join plan (broadcast off) is rank-identical on the g1 graph") {
    import spark.implicits._
    // the plan a node set past the broadcast threshold gets (shuffle-
    // joined rank state, no broadcast) must iterate the SAME rounded
    // system — decimal-summed contributions are order-exact, so the two
    // join strategies are bit-identical, not merely close. Plan shape of
    // this leg is pinned in PlanSpec.
    val edges = graft.queries.TrainingQueries.tradingEdges(spark, sf0001)
    val viaBroadcast = graft.operators.Graph
      .pageRank(edges, iterations = 3)
      .as[(String, Double)].collect().toMap
    val viaShuffle = SparkTestSession.withBroadcastOff {
      graft.operators.Graph.pageRank(edges, iterations = 3)
        .as[(String, Double)].collect().toMap
    }
    assert(viaShuffle.nonEmpty && viaShuffle == viaBroadcast)
    // the ε-stop runs its residual aggregate under the same plans: both
    // must select the same superstep count AND the same ranks
    val (cb, kb) = graft.operators.Graph
      .pageRankConverged(edges, maxIterations = 10, epsilon = 1.0)
    val cbRows = cb.as[(String, Double)].collect().toMap
    val (csRows, ks) = SparkTestSession.withBroadcastOff {
      val (cs, k) = graft.operators.Graph
        .pageRankConverged(edges, maxIterations = 10, epsilon = 1.0)
      (cs.as[(String, Double)].collect().toMap, k)
    }
    assert(kb == 4 && ks == 4,
      "the g3 ε = 1.0 L1-stop must select 4 supersteps on this graph")
    assert(csRows == cbRows)
  }

  test("IVF ANN returns true cosine scores") {
    val emb = Tables.embeddings(spark, sf0001)
    val brute = Similarity.bruteForceTopK(emb, 0L, 500)
      .select("vec_id", "cosine_sim")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.ivfTopK(emb, 0L, 10)
      .select("vec_id", "cosine_sim")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, sim) => assert(brute(id) == sim) }
  }

  test("d9 distributed CC path at bench scale agrees with union-find (and is timed)") {
    // the fallback path for pair graphs too big for the driver, forced
    // via driverEdgeLimit = 0 and exercised at sf0.1 (5,000 docs) so it
    // has a measured perf number, not just a small-graph property test
    val d = "/root/testdata/sf0.1"
    val docs = Tables.documents(spark, d)
    val pairs = graft.extensions.Dedup.tokenJaccardPairs(docs, threshold = 0.5)
      .localCheckpoint(eager = false)
    val t0 = System.nanoTime()
    val distributed = graft.extensions.Dedup
      .nearDupClusters(docs, pairs, "doc_id", driverEdgeLimit = 0L)
      .localCheckpoint(eager = false)
    val nDist = distributed.count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"distributed pointer-jumping CC at sf0.1: $secs%.1f s ($nDist docs)")
    val local = graft.extensions.Dedup.nearDupClusters(docs, pairs, "doc_id")
    assert(nDist == docs.count())
    assert(distributed.join(local,
      Seq("doc_id", "cluster_id", "is_canonical"), "inner").count() == nDist,
      "distributed CC must produce identical labels to driver union-find")
  }

  test("incremental ingest against PERSISTED indexes never re-scans the corpus") {
    // the d11/d12 100 TB contract: once the snapshot's fingerprint /
    // band index is persisted, dedup of an ingest batch reads the
    // documents table exactly once (the batch filter) — the snapshot
    // corpus text is untouched
    val docs = Tables.documents(spark, sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc").toString
    try {
    graft.extensions.Dedup.exactGroups(
        docs.filter(col("doc_id") < 400), "text", "doc_id")
      .select("fingerprint").write.mode("overwrite").parquet(s"$tmp/fps")
    val d11 = graft.extensions.Dedup.incrementalDedup(
      docs.filter(col("doc_id") >= 400),
      spark.read.parquet(s"$tmp/fps"), "text", "doc_id")
    d11.collect()
    val p11 = d11.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the batch side sits behind incrementalDedup's localCheckpoint (an
    // RDD leaf in the plan), so documents.parquet appears AT MOST once —
    // a snapshot re-scan would surface as an extra parquet scan here
    assert("documents\\.parquet".r.findAllIn(p11).size <= 1,
      s"d11 ingest must not re-scan the snapshot corpus\n$p11")
    assert("/fps".r.findAllIn(p11).nonEmpty,
      s"d11 must read the persisted fingerprint index\n$p11")

    graft.extensions.Dedup.minHashBandIndex(
        docs.filter(col("doc_id") < 400), maxBucket = 100)
      .write.mode("overwrite").parquet(s"$tmp/bands")
    val d12 = graft.extensions.Dedup.incrementalMinHashPairs(
      docs.filter(col("doc_id") >= 400),
      spark.read.parquet(s"$tmp/bands"))
    d12.collect()
    val p12 = d12.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("documents\\.parquet".r.findAllIn(p12).size == 1,
      s"d12 ingest must scan documents once (batch only)\n$p12")

    // e11's embedding twin: once the SRP bucket index is persisted, a
    // probe reads embeddings.parquet exactly once (the batch side,
    // behind incrementalAnnPairs' checkpoint) and never re-signs the
    // index — no SRP zip_with/aggregate lambdas above the index scan
    val emb = Tables.embeddings(spark, sf0001)
    graft.extensions.Similarity.srpBucketIndex(
        emb.filter(col("vec_id") < 400))
      .write.mode("overwrite").parquet(s"$tmp/srp")
    val e11 = graft.extensions.Similarity.incrementalAnnPairs(
      emb.filter(col("vec_id") >= 400),
      spark.read.parquet(s"$tmp/srp"), threshold = 0.3)
    e11.collect()
    val p11e = e11.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("embeddings\\.parquet".r.findAllIn(p11e).size <= 1,
      s"e11 probe must not re-scan/re-sign the indexed corpus\n$p11e")
    assert("/srp".r.findAllIn(p11e).nonEmpty,
      s"e11 must read the persisted SRP index\n$p11e")
    // re-signing the index would surface as SRP signature lambdas
    // (zip_with/aggregate HOFs) in the probe plan — the batch side's
    // own signing is hidden behind its checkpoint RDD leaf, so ANY
    // zip_with here means the index path regressed
    assert(!p11e.contains("zip_with"),
      s"e11 probe plan must contain no signature lambdas over the " +
        s"index scan\n$p11e")
    } finally {
      // unconditional cleanup of the persisted fixtures; materialize the
      // walk before deleting (and thereby close the stream) so no handle
      // outlives the traversal
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("compaction rewrites a fragmented table to the target file count, content-identical") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    try {
      val ev = Tables.events(spark, sf0001)
      // simulate a micro-batch sink's fragmentation: 32 shard files
      ev.repartition(32).write.parquet(s"$tmp/frag")
      def parquetFiles(p: String) =
        new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
      assert(parquetFiles(s"$tmp/frag") == 32)
      Tables.compact(spark, s"$tmp/frag", s"$tmp/compact", targetFiles = 4)
      assert(parquetFiles(s"$tmp/compact") == 4)
      // content survives byte-for-byte (no rows lost/dup'd/mutated)
      val a = ev.orderBy("event_id").collect().toSeq
      val b = spark.read.parquet(s"$tmp/compact")
        .orderBy("event_id").collect().toSeq
      assert(a == b)

      // destructive layouts are rejected BEFORE the lazy read can let
      // overwrite delete the input (ADVICE r3): in-place, and output
      // containing the input
      intercept[IllegalArgumentException] {
        Tables.compact(spark, s"$tmp/frag", s"$tmp/frag", targetFiles = 1)
      }
      intercept[IllegalArgumentException] {
        Tables.compact(spark, s"$tmp/frag/child/..", s"$tmp", targetFiles = 1)
      }
      assert(parquetFiles(s"$tmp/frag") == 32, "guards must not touch input")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("sketch aggregates stay within documented error of exact values") {
    val li = Tables.lineitem(spark, sf0001)
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("d"),
        expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val approx = SparkEntry.queries("w15_sketches")(spark, sf0001).collect()
    approx.foreach { r =>
      val (d, m) = exact(r.getAs[String]("l_returnflag"))
      val ad = r.getAs[Long]("approx_parts")
      val am = r.getAs[Double]("approx_median_price")
      assert(math.abs(ad - d).toDouble / d < 0.1, s"HLL off: $ad vs $d")
      assert(math.abs(am - m) / m < 0.1, s"quantile off: $am vs $m")
    }
  }

  test("approx quantiles: rank guarantee holds under ANY partition layout (w33 contract)") {
    import spark.implicits._
    // deterministic skewed-ish values; the sketch's OUTPUT may differ by
    // merge order (partition layout) — the rank CONTRACT must not
    val n = 20000
    val acc = 100
    val probs = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
    val raw = (1 to n).map(i => ((i * 2654435761L) % 999983).toDouble)
    val sorted = raw.sorted
    for (parts <- Seq(1, 7, 32)) {
      val vals = raw.toDF("v").repartition(parts)
      val q = vals.agg(percentile_approx(col("v"),
          array(probs.map(lit): _*), lit(acc)).as("q"))
        .as[Seq[Double]].head()
      probs.zip(q).foreach { case (p, qv) =>
        val rank = sorted.count(_ <= qv)
        assert(math.abs(rank - p * n) <= n.toDouble / acc + 1,
          s"parts=$parts p=$p approx=$qv rank=$rank")
      }
    }
  }
}

class PartitionPruningSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("partitioned parquet scans prune partitions on the filter key") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    graft.sources.Tables.events(spark, sf0001)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(col("day") === "2024-01-05")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "expected partition filters in scan")
    // pruning means only the matching partition directory is read
    val expected = graft.sources.Tables.events(spark, sf0001)
      .filter(to_date(col("ts")) === "2024-01-05").count()
    assert(pruned.count() == expected && expected > 0)
  }
}
