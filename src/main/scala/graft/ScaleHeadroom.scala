package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extensions.{Dedup, Similarity}
import graft.queries.ExtensionQueries
import graft.sources.Tables

/** Empirical scale-headroom harness (VERDICT r3 item 3): measures the
  * headline blocked/bucketed operators at 1×/10×/25× the sf0.1 corpus
  * and prints one JSON line per measurement, so EXPLAIN.md can cite
  * MEASURED scaling exponents instead of plan-shape arguments alone.
  *
  * The 10× corpus is a deterministic inflation (no RNG, reproducible
  * run-to-run): copy k of `documents` alphabet-rotates every letter by
  * 7k places (each copy's shingle space is disjoint from the others',
  * so near-dup structure replicates per copy — pair volume grows
  * linearly, the honest production shape — instead of creating 10-way
  * exact-dup blocks that would measure the skew cap, not the operator);
  * copy k of `embeddings` rotates each vector by k positions (norms
  * preserved, SRP/IVF geometry re-randomized per copy); copy k of
  * `events` offsets user ids (more users, same per-user session
  * structure). Document/vector/event ids offset by k·10⁷, user ids by
  * k·10⁶ — all far above any real id.
  *
  * Also demonstrates the `maxBucket` skew cap actually BINDING: a
  * boilerplate-heavy corpus (500 identical docs — one degenerate LSH
  * bucket per band) run capped vs uncapped. Run:
  * `runMain graft.ScaleHeadroom [baseDir] [workDir]`. */
object ScaleHeadroom {

  /** 1× / 10× / 25×: at local test sizes the small scales are dominated
    * by fixed per-job overhead (scheduling, codegen, footer reads), so
    * the scaling exponent is read off the 10×→25× leg where compute
    * dominates. 25 is the max copy count with all-distinct alphabet
    * rotations (7 is coprime with 26 ⇒ k·7 mod 26 is injective for
    * k < 26); more copies would alias rotations and plant cross-copy
    * exact duplicates. */
  private val Scales = Seq(1, 10, 25)
  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  private def rotated(k: Int): String = {
    val r = (k * 7) % Letters.length
    Letters.drop(r) + Letters.take(r)
  }

  /** Best-of-3 wall time (after one untimed warm-up) — the box has
    * heavy host-steal noise; min is the robust location estimate for
    * "how fast does this run when not preempted". */
  private def timeBest(action: => Long): (Double, Long) = {
    val rows = action // warm-up (also absorbs codegen/footer reads)
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      action
      (System.nanoTime() - t0) / 1e9
    }
    (times.min, rows)
  }

  /** Full-column forced evaluation — see [[Bench.evalAll]] (a bare
    * `count()` measures a Catalyst-pruned plan). */
  private def forceAll(df: DataFrame): Long = Bench.evalAll(df)

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    // GraftSession's fresh temp warehouse keeps the bucketed-index
    // saveAsTable below clear of an orphaned span_idx_x* location a
    // killed previous run left (DROP TABLE IF EXISTS can't see locations
    // the fresh in-memory catalog never registered)
    val spark = GraftSession.local(cpus)

    // ---- deterministic inflated fixtures ----------------------------
    val docs = Tables.documents(spark, base)
    val emb = Tables.embeddings(spark, base)
    val ev = Tables.events(spark, base) // ts already TimestampType here

    def docsCopy(k: Int): DataFrame =
      if (k == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
        .withColumn("text", translate(col("text"), Letters, rotated(k)))
    def embCopy(k: Int): DataFrame =
      if (k == 0) emb
      else emb
        .withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
        .withColumn("embedding", concat(
          slice(col("embedding"), k + 1, 1000000),
          slice(col("embedding"), 1, k)))
    def evCopy(k: Int): DataFrame =
      if (k == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(k * 10000000L))
        .withColumn("user_id", col("user_id") + lit(k * 1000000L))

    def build(n: Int): String = {
      val dir = s"$work/x$n"
      (0 until n).map(docsCopy).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      (0 until n).map(embCopy).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      (0 until n).map(evCopy).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    def report(query: String, scale: Int, secs: Double, rows: Long): Unit =
      println(s"""{"harness":"scale_headroom","query":"$query","scale":$scale,""" +
        s""""sec":${math.rint(secs * 1000) / 1000},"rows":$rows}""")

    // standalone re-measure of just the iteration-axis leg (no 10×/25×
    // corpus builds): SPARK_GRAFT_LEG=bpe
    if (sys.env.get("SPARK_GRAFT_LEG").contains("bpe")) {
      bpeIterationAxisLeg(spark, base, report)
      spark.stop()
      return
    }

    // ---- g8/g2 per-superstep decomposition (VERDICT r12 item 7) ----
    // Measure-only: T(k) for k = 1..5 supersteps on the REAL board
    // fixture AND on a 64-edge control with the IDENTICAL plan shape
    // (same iterate chain, same per-superstep jobs/barriers/planning —
    // only the data is negligible). The control's marginal seconds per
    // added superstep IS the per-superstep fixed overhead (job
    // scheduling + Catalyst re-planning + checkpoint barrier); the
    // real fixture's marginal minus the control's is the data work
    // (state probe + map-side-combined grouped sum + exchange). If the
    // real marginal dominates, the iterative families are
    // exchange-bound and their ~7 s board cost is irreducible work,
    // not harness overhead. Standalone: SPARK_GRAFT_LEG=gstep
    if (sys.env.get("SPARK_GRAFT_LEG").contains("gstep")) {
      val ce = graft.queries.TrainingQueries.TradingPairs(spark, base)
      val hitsEdges = ce.select(col("c").as("src"), col("s").as("dst"))
        .localCheckpoint(eager = false)
      hitsEdges.count()
      val prEdges = ce
        .select(col("c").as("src"), col("s").as("dst"), col("w"))
        .unionByName(ce.select(col("s").as("src"), col("c").as("dst"),
          col("w")))
        .localCheckpoint(eager = false)
      prEdges.count()
      val tinyH = hitsEdges.limit(64).localCheckpoint(eager = false)
      tinyH.count()
      val tinyP = prEdges.limit(64).localCheckpoint(eager = false)
      tinyP.count()
      for (k <- 1 to 5) {
        val (sH, rH) = timeBest {
          forceAll(graft.operators.Graph.hits(hitsEdges, iterations = k))
        }
        report("g8_hits_iters", k, sH, rH)
        val (sHt, rHt) = timeBest {
          forceAll(graft.operators.Graph.hits(tinyH, iterations = k))
        }
        report("g8_hits_tiny_iters", k, sHt, rHt)
        val (sP, rP) = timeBest {
          forceAll(graft.operators.Graph.pageRank(prEdges,
            iterations = k, weightCol = Some("w")))
        }
        report("g2_wpr_iters", k, sP, rP)
        val (sPt, rPt) = timeBest {
          forceAll(graft.operators.Graph.pageRank(tinyP,
            iterations = k, weightCol = Some("w")))
        }
        report("g2_wpr_tiny_iters", k, sPt, rPt)
      }
      spark.stop()
      return
    }

    // 50× leg for the board's two worst growers (e13 2.75×, d14 2.56×
    // per 2.5× data at 25× — VERDICT r11 item 6) on an ORTHOGONAL
    // inflation axis: id-offset replication with per-copy TOKEN SALTING
    // (every token of copy k gains a "·k" suffix — disjoint vocabularies
    // and shingle spaces across copies for ANY copy count, where the
    // alphabet-rotation axis aliases past 25). Skips the standard
    // builds: SPARK_GRAFT_LEG=x50
    if (sys.env.get("SPARK_GRAFT_LEG").contains("x50")) {
      x50Leg(spark, docs, work, report)
      spark.stop()
      return
    }

    // e13 cache-placement decision experiment (three variants,
    // interleaved per scale): SPARK_GRAFT_LEG=e13x
    if (sys.env.get("SPARK_GRAFT_LEG").contains("e13x")) {
      e13CacheLeg(spark, docs, work, report)
      spark.stop()
      return
    }

    // export-tier 50× leg (VERDICT r13 item 6): the board's biggest
    // cost cluster, whose coverage stopped at 25× (r12 leg, 1.37× per
    // 2.5× data). SPARK_GRAFT_LEG=expx
    if (sys.env.get("SPARK_GRAFT_LEG").contains("expx")) {
      exportTierLeg(spark, docs, work, report)
      spark.stop()
      return
    }

    // ---- e13 partition-knee probe (the e13x follow-up) -------------
    // The e13x experiment showed the 25→50× superlinear bend in ALL
    // three cache regimes — so it lives in the shared tail, not the
    // checkpoints. Remaining hypothesis: a per-partition VOLUME knee —
    // this harness fixes spark.sql.shuffle.partitions at the CPU count
    // (8), so doubling the corpus doubles every exchange's
    // per-partition bytes until the posting join / pair aggregate
    // cross their in-memory budgets and start spilling. On a real
    // cluster partitions scale with data (and AQE re-splits); if the
    // bend flattens when partitions grow with the corpus, the knee is
    // a fixed-partition harness artifact, not an algorithmic one.
    // Probe: the PRODUCTION e13 query at 25× and 50× under shuffle
    // partitions 8 / 32 / 128, interleaved per scale (runtime conf —
    // exchanges pick it up per query). SPARK_GRAFT_LEG=e13p
    if (sys.env.get("SPARK_GRAFT_LEG").contains("e13p")) {
      val key = "spark.sql.shuffle.partitions"
      for ((scale, dir) <- saltedFixtures(docs, work, Seq(25, 50));
           parts <- Seq(8, 32, 128)) {
        spark.conf.set(key, parts)
        val (secs, rows) = timeBest {
          forceAll(SparkEntry.queries("e13_sparse_cosine")(spark, dir))
        }
        report(s"e13_parts_$parts", scale, secs, rows)
        System.gc()
      }
      spark.conf.set(key, cpus)
      spark.stop()
      return
    }

    // ---- e13 cache-storage probe (direct heap evidence) -------------
    // Not a timing leg: materialize the production e13 once per scale
    // and read the block manager's own accounting for its two lazy
    // checkpoints (memSize vs diskSize). If the 50× caches no longer
    // fit the storage pool and go disk-backed while 25×'s stay in
    // memory, the 25→50× wall bend is cache I/O + eviction churn — a
    // single-JVM artifact that per-executor block managers dilute on a
    // fleet. SPARK_GRAFT_LEG=e13m
    if (sys.env.get("SPARK_GRAFT_LEG").contains("e13m")) {
      for ((scale, dir) <- saltedFixtures(docs, work, Seq(25, 50))) {
        val dd = spark.read.parquet(s"$dir/documents.parquet")
        val (secs, rows) = { // single pass — storage state is the datum
          val t0 = System.nanoTime()
          val r = forceAll(graft.extensions.TextAnalysis
            .sparseCosinePairs(dd, threshold = 0.35, maxDf = 100L,
              ngram = 3))
          ((System.nanoTime() - t0) / 1e9, r)
        }
        report("e13_storage_pass", scale, secs, rows)
        for (i <- spark.sparkContext.getRDDStorageInfo)
          println(s"""{"harness":"scale_headroom","probe":"e13_storage"""" +
            s""","scale":$scale,"rdd_id":${i.id}""" +
            s""","mem_mb":${i.memSize / 1048576}""" +
            s""","disk_mb":${i.diskSize / 1048576}""" +
            s""","cached_parts":${i.numCachedPartitions}}""")
        // drop this scale's blocks so the next scale starts clean
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
      }
      spark.stop()
      return
    }

    val dirs = Scales.map(n => n -> build(n))

    // round-12 arrival (the x2 export flagship composed plan):
    // SPARK_GRAFT_LEG=r12
    if (sys.env.get("SPARK_GRAFT_LEG").contains("r12")) {
      for ((scale, dir) <- dirs) {
        val (secs, rows) = timeBest {
          forceAll(SparkEntry.queries("x2_training_export")(spark, dir))
        }
        report("x2_training_export", scale, secs, rows)
      }
      spark.stop()
      return
    }

    // standalone re-measure of just the m8 frame-near-dup leg (builds
    // the inflated corpora, skips every other family — including the
    // e12 split below): SPARK_GRAFT_LEG=m8
    if (sys.env.get("SPARK_GRAFT_LEG").contains("m8")) {
      for ((scale, dir) <- dirs) {
        val (secs, rows) = timeBest {
          forceAll(SparkEntry.queries("m8_frame_neardup")(spark, dir))
        }
        report("m8_frame_neardup", scale, secs, rows)
      }
      spark.stop()
      return
    }

    // standalone re-measure of just the d22 composed flat-probe leg
    // (builds the inflated corpora, skips every other family):
    // SPARK_GRAFT_LEG=d22
    if (sys.env.get("SPARK_GRAFT_LEG").contains("d22")) {
      d22Leg(spark, docs, dirs, report)
      spark.stop()
      return
    }

    // the EXECUTED streaming curation loop vs 1×/10×/25× state, through
    // its real bucketed-table write path: SPARK_GRAFT_LEG=d22s
    if (sys.env.get("SPARK_GRAFT_LEG").contains("d22s")) {
      d22sLeg(spark, docs, dirs, work, report)
      spark.stop()
      return
    }

    // standalone re-measure of just the t36 cross-source matrix leg
    // (builds the inflated corpora, skips every other family):
    // SPARK_GRAFT_LEG=t36
    if (sys.env.get("SPARK_GRAFT_LEG").contains("t36")) {
      t36Leg(spark, dirs, report)
      spark.stop()
      return
    }

    // standalone re-measure of just the d23 line-dedup leg (builds the
    // inflated corpora, skips every other family): SPARK_GRAFT_LEG=d23
    if (sys.env.get("SPARK_GRAFT_LEG").contains("d23")) {
      d23Leg(spark, dirs, report)
      spark.stop()
      return
    }

    // standalone re-measure of the round-10 families (t38 classifier,
    // s21 temporal split, w33 sketch-vs-exact percentiles):
    // SPARK_GRAFT_LEG=r10
    if (sys.env.get("SPARK_GRAFT_LEG").contains("r10")) {
      r10Leg(spark, dirs, report)
      spark.stop()
      return
    }

    // round-11 families on arrival (t42 held-out eval, t43 approx-cut
    // contract, d25 intra-doc line dedup): SPARK_GRAFT_LEG=r11
    if (sys.env.get("SPARK_GRAFT_LEG").contains("r11")) {
      r11Leg(spark, dirs, report)
      spark.stop()
      return
    }

    // ---- e12 train-once/probe-many split ----------------------------
    // runs BEFORE the headline loop so the PqArtifact cache miss (the
    // 7-job Lloyd training + corpus encode — the FIXED cost a
    // production deployment pays once) is what "train_encode" times;
    // the headline e12 row below then rides the cached artifact and
    // measures the PER-QUERY probe cost, the production steady state.
    for ((scale, dir) <- dirs) {
      val t0 = System.nanoTime()
      val (books, codes) = ExtensionQueries.PqArtifact(spark, dir)
      val nCodes = codes.count() // materializes the checkpointed encode
      report("e12_pq_train_encode", scale, (System.nanoTime() - t0) / 1e9,
        nCodes)
      val embD = spark.read.parquet(s"$dir/embeddings.parquet")
      val (secs, rows) = timeBest {
        forceAll(Similarity.pqTopKRerank(embD, books,
          m = ExtensionQueries.PqArtifact.M,
          ksub = ExtensionQueries.PqArtifact.KSUB,
          queryId = 0L, k = 10, shortlist = 256, codes = Some(codes)))
      }
      report("e12_pq_probe", scale, secs, rows)
    }

    // ---- headline operators at each scale ---------------------------
    // m8 joined in round 9: the newest pair-generating family (frame-fp
    // equi-join under the maxBucket cap) — per-copy alphabet rotation
    // makes each copy's frame space disjoint, so pair volume must grow
    // linearly with copies, never quadratically
    val headline = Seq("d3_minhash_lsh", "e8_knn_join", "t8_tfidf",
      "v2_sessionize", "d14_containment", "e12_pq_ann", "m8_frame_neardup")
    for ((scale, dir) <- dirs; q <- headline) {
      val (secs, rows) = timeBest {
        forceAll(SparkEntry.queries(q)(spark, dir))
      }
      report(q, scale, secs, rows)
    }

    // d12 steady-state ingest probe: the persisted band index covers the
    // WHOLE corpus at each scale; the batch is the SAME fixed 100 docs
    // at every scale — EXACT clones (fresh ids) of k=0 corpus docs, so
    // the probe's band join finds real candidates and the signature
    // verify stage does real work, while the candidate count stays
    // constant across scales (clones only collide with the k=0 copy).
    // The measurement therefore isolates how probe cost responds to a
    // 10×/25× bigger index.
    val batch = docs.filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + lit(900000000L))
    for ((scale, dir) <- dirs) {
      val idxDir = s"$dir/__band_index.parquet"
      Dedup.minHashBandIndex(spark.read.parquet(s"$dir/documents.parquet"),
          numHashes = Dedup.LshNumHashes, bands = Dedup.LshBands,
          hashFn = Dedup.md5Hash60,
          maxBucket = 100)
        .write.mode("overwrite").parquet(idxDir)
      val index = spark.read.parquet(idxDir)
      val (secs, rows) = timeBest {
        forceAll(Dedup.incrementalMinHashPairs(batch, index,
          numHashes = Dedup.LshNumHashes, bands = Dedup.LshBands,
          threshold = 0.3, hashFn = Dedup.md5Hash60))
      }
      report("d12_ingest_probe", scale, secs, rows)
    }

    // g1 PageRank: inflate the bipartite trading graph into k DISJOINT
    // copies (node labels suffixed per copy — rank mass per copy is
    // independent), so the 5-superstep runtime must scale ~linearly in
    // |edges| while the broadcast state grows with |nodes|. 1×/10× only:
    // each timeBest costs 4 evaluations of a 5-superstep job.
    val ce = Tables.orders(spark, base)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, base)
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
        Seq("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("c"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("s"))
      .distinct()
    val edges1 = ce.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(ce.select(col("s").as("src"), col("c").as("dst")))
    // shared graph-leg scaffold: suffix node ids per disjoint copy,
    // checkpoint + materialize the fixture OUTSIDE the timer, then
    // time the operator under test at each scale
    def graphLeg(name: String, base: DataFrame, extraCols: Seq[String])(
        op: DataFrame => DataFrame): Unit =
      for (scale <- Seq(1, 10)) {
        val edges = (0 until scale).map { k =>
          base.select(Seq(concat(col("src"), lit(s"_$k")).as("src"),
            concat(col("dst"), lit(s"_$k")).as("dst")) ++
            extraCols.map(col): _*)
        }.reduce(_ unionByName _).localCheckpoint(eager = false)
        edges.count()
        val (secs, rows) = timeBest(forceAll(op(edges)))
        report(name, scale, secs, rows)
      }

    graphLeg("g1_pagerank", edges1, Nil)(
      graft.operators.Graph.pageRank(_, iterations = 5))

    // g2 WEIGHTED PageRank under the same disjoint-copy inflation: the
    // per-superstep unit gains the integer weight column through the
    // join and the w/Σw division — same expected ~linear |edges|
    // scaling, measured rather than asserted (VERDICT r4 item 6).
    val cew = Tables.orders(spark, base)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, base)
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
        Seq("o_orderkey"))
      .groupBy(concat(lit("c"), col("o_custkey").cast("string")).as("c"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("s"))
      .agg(count(lit(1)).as("w"))
    val wedges1 = cew.select(col("c").as("src"), col("s").as("dst"), col("w"))
      .unionByName(cew.select(col("s").as("src"), col("c").as("dst"),
        col("w")))
    graphLeg("g2_weighted_pagerank", wedges1, Seq("w"))(
      graft.operators.Graph.pageRank(_, iterations = 5,
        weightCol = Some("w")))

    // g7 label propagation under the same disjoint-copy inflation: the
    // per-round unit is an edges⋈labels join + a (node, label) count +
    // a per-node top-1 window — runtime must scale ~linearly in
    // |edges|, with the window partitioned by node (never global).
    graphLeg("g7_label_propagation", edges1, Nil)(
      graft.operators.Graph.labelPropagation(_, iterations = 3))

    // g8 HITS under the same disjoint-copy inflation (DIRECTED c→s
    // edges — hubs and authorities are the two bipartite sides): per
    // iteration two edge-probe joins + two |side|-row grouped sums +
    // two bounded 1-row L1 totals; runtime must scale ~linearly in
    // |edges| while the broadcast state grows with |side|.
    graphLeg("g8_hits", ce.select(col("c").as("src"), col("s").as("dst")),
      Nil)(graft.operators.Graph.hits(_, iterations = 3))

    // g5 triangle counting under disjoint-copy inflation: the
    // support-≥2 co-purchase edge list replicated with offset node ids
    // — triangles per copy are independent, so runtime must scale
    // ~linearly in |edges| if the degeneracy-bounded wedge join holds
    // (a quadratic trend would betray unbounded fanout somewhere in
    // the orientation/wedge/close chain).
    val liScale = Tables.lineitem(spark, base)
      .select(col("l_orderkey"), col("l_partkey"))
    val triPairs1 = liScale.as("x").join(liScale.as("y"), Seq("l_orderkey"))
      .filter(col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
      .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
      .select(col("src"), col("dst"))
    for (scale <- Scales) {
      val edges = (0 until scale).map { k =>
        triPairs1.select((col("src") + lit(k * 10000000L)).as("src"),
          (col("dst") + lit(k * 10000000L)).as("dst"))
      }.reduce(_ unionByName _).localCheckpoint(eager = false)
      edges.count() // materialize the fixture outside the timer
      val (secs, rows) = timeBest {
        forceAll(graft.operators.Graph.triangleCount(edges))
      }
      report("g5_triangle_count", scale, secs, rows)
    }

    // ---- maxBucket cap binding on a boilerplate-heavy corpus --------
    // 500 byte-identical docs hash to ONE (band,bhash) bucket in each of
    // the 8 bands; uncapped that is 8·(500·499/2) raw join rows from the
    // degenerate buckets alone — capped at 100 min-id exemplars the pair
    // volume (and runtime) must drop by ~25× on those buckets
    def boilerplated(clones: Int): DataFrame = {
      val boiler = spark.range(clones).select(
        (col("id") + 20000000L).as("doc_id"),
        lit("terms of service apply contact support for help all rights " +
          "reserved copyright notice privacy policy cookie settings")
          .as("text"),
        lit("en").as("lang"), lit("boilerplate").as("source"))
      val f = docs.select(col("doc_id"), col("text"), col("lang"),
          col("source"))
        .unionByName(boiler)
        .localCheckpoint(eager = false)
      f.count()
      f
    }
    val skewed = boilerplated(500)
    for ((label, cap) <- Seq("capped_100" -> 100,
        "uncapped" -> Int.MaxValue)) {
      val (secs, rows) = timeBest {
        forceAll(Dedup.minHashLshPairs(skewed,
          numHashes = Dedup.LshNumHashes, bands = Dedup.LshBands,
          threshold = 0.3, maxBucket = cap, hashFn = Dedup.md5Hash60))
      }
      report(s"d3_skewed_$label", 1, secs, rows)
    }

    // ---- maxPostings cap binding for containment (d14) --------------
    // heavier template load (2000 clones — the d3 fixture's 500 keep
    // that experiment r4-comparable): every clone carries the SAME
    // shingle set, so uncapped each clone's prefix probes meet all 2000
    // postings per shingle — ~2000·1999 ordered candidate pairs, every
    // one merge-verified. The ORDERED-pair volume grows quadratically
    // in clone count while capped volume grows linearly (32 min-id
    // exemplars per posting list), so the cap's fixed window-pass cost
    // crosses over into a runtime win as templates pile up. The
    // oracle-exact d14 driver query stays uncapped by design.
    val templated = boilerplated(2000)
    for ((label, cap) <- Seq("capped_32" -> 32,
        "uncapped" -> Int.MaxValue)) {
      val (secs, rows) = timeBest {
        forceAll(Dedup.containmentPairs(templated, n = 3, threshold = 0.9,
          maxPostings = cap))
      }
      report(s"d14_skewed_$label", 1, secs, rows)
    }

    // ---- d18/d19 substring-dedup scaling ----------------------------
    // d18 must scale ~linearly in token count (no pair join anywhere —
    // the design claim): disjoint-copy inflation replicates the
    // duplication structure per copy, so a superlinear trend would
    // betray a hidden pair blowup in the dup-set join or the window.
    // d19's claim is the d12 one: the per-batch probe cost is FLAT in
    // SNAPSHOT size — the same 1× batch probed against 1×/10×/25×
    // snapshots' indexes must not grow with the corpus behind the
    // index (the index build itself is the amortized snapshot-time
    // cost, reported separately).
    for ((scale, dir) <- dirs) {
      val dd = spark.read.parquet(s"$dir/documents.parquet")
      val (secs, rows) = timeBest {
        forceAll(Dedup.substringRuns(dd, "doc_id", "text", width = 8))
      }
      report("d18_substring_runs", scale, secs, rows)
    }
    // d20's claim: the EXACT span search stays ~linear as well — each
    // binary-search probe explodes the actual text of CANDIDATE
    // positions only (duplicated-run mass, which disjoint-copy
    // inflation replicates per copy), so the whole search rides the
    // same linear trend as the d18 envelope; a superlinear 10×→25× leg
    // would betray a corpus-sized explode hiding inside a probe. The
    // timed action re-runs the full search including its bounded
    // driver-side probe verdicts.
    for ((scale, dir) <- dirs) {
      val dd = spark.read.parquet(s"$dir/documents.parquet")
      val (secs, rows) = timeBest {
        forceAll(Dedup.exactDupSpan(dd, "doc_id", "text", width = 8,
          maxLen = 64))
      }
      report("d20_exact_dup_span", scale, secs, rows)
    }
    val batch1x = docs.filter(col("doc_id") % 10 === 0)
      .localCheckpoint(eager = false)
    batch1x.count()
    for ((scale, dir) <- dirs) {
      val snap = spark.read.parquet(s"$dir/documents.parquet")
      val t0 = System.nanoTime()
      val idx = Dedup.shingleIndex(snap, "doc_id", "text", width = 8)
        .localCheckpoint(eager = false)
      val nIdx = idx.count() // materialize: the snapshot-time artifact
      report("d19_index_build", scale, (System.nanoTime() - t0) / 1e9, nIdx)
      val (secs, rows) = timeBest {
        forceAll(Dedup.substringRunsAgainstIndex(batch1x, idx,
          "doc_id", "text", width = 8))
      }
      report("d19_ingest_probe", scale, secs, rows)
    }

    d22Leg(spark, docs, dirs, report)
    d22sLeg(spark, docs, dirs, work, report)
    t36Leg(spark, dirs, report)
    d23Leg(spark, dirs, report)
    r10Leg(spark, dirs, report)
    r11Leg(spark, dirs, report)

    // d19 with the PRESCRIBED layout: the same probe against the index
    // persisted BUCKETED BY h (the s12 layout). The unbucketed probe
    // above re-shuffles the whole index per ingest (its growth is the
    // index exchange+build); bucketed, the index side scans in place
    // with NO exchange and only the 500-row batch shuffles to the
    // bucket count — the flat-ingest property restored by LAYOUT, not
    // algorithm. Broadcast is disabled so the 1× index (which would
    // fit under the threshold) takes the same bucketed path as 25×.
    {
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for ((scale, dir) <- dirs) {
          val snap = spark.read.parquet(s"$dir/documents.parquet")
          spark.sql(s"DROP TABLE IF EXISTS span_idx_x$scale")
          Dedup.shingleIndex(snap, "doc_id", "text", width = 8)
            .write.bucketBy(32, "h").sortBy("h")
            .mode("overwrite").saveAsTable(s"span_idx_x$scale")
          val idx = spark.table(s"span_idx_x$scale")
          val (secs, rows) = timeBest {
            forceAll(Dedup.substringRunsAgainstIndex(batch1x, idx,
              "doc_id", "text", width = 8))
          }
          report("d19_ingest_probe_bucketed", scale, secs, rows)
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        // deterministic cleanup: don't leave three bucketed indexes
        // (one corpus-sized) in the warehouse after the run
        for ((scale, _) <- dirs)
          spark.sql(s"DROP TABLE IF EXISTS span_idx_x$scale")
      }
    }

    // ---- g5 degree-orientation binding on a dense hub graph ---------
    // (r5 verdict item 6 — the d3/d14 cap-experiment discipline applied
    // to triangles.) The copy-inflation fixture above is overhead-bound
    // (flat seconds through 25×), so the orientation's wedge-volume
    // bound had never been OBSERVED binding. This fixture makes it
    // bind: 4 hubs adjacent to all 3,000 spokes + a spoke ring. An
    // UNORIENTED wedge join pays Σ C(deg,2) ≈ 4·C(3000,2) ≈ 18M wedge
    // rows (hub-centered); the (deg,id)-orientation gives every
    // spoke→hub edge to the spoke, so hubs have out-degree 0 and wedge
    // volume collapses to Σ C(outdeg,2) ≈ 3000·C(6,2) ≈ 45k — the
    // ~400× reduction that IS the Chiba–Nishizeki/degeneracy argument,
    // measured. The naive comparator enumerates unoriented wedges
    // (v < w de-dups the two wedge arms) and closes against the
    // canonical edge set — same per-node triangle counts (asserted),
    // quadratic hub fanout.
    def naiveTriangleCount(edges: DataFrame): DataFrame = {
      val und = edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(eager = false)
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .unionByName(und.select(col("b").as("u"), col("a").as("v")))
        .localCheckpoint(eager = false)
      val wedges = adj
        .join(adj.select(col("u"), col("v").as("w")), Seq("u"))
        .filter(col("v") < col("w"))
      wedges.join(und.select(col("a").as("v"), col("b").as("w")),
          Seq("v", "w"), "left_semi")
        .groupBy(col("u").as("node")).agg(count(lit(1)).as("triangles"))
    }
    val nSpokes = 3000L
    val spokeIds = spark.range(nSpokes)
    val hubGraph = spokeIds.crossJoin(
        spark.range(4).select((col("id") + 1000000L).as("dst")))
      .select(col("id").as("src"), col("dst"))
      .unionByName(spokeIds.select(col("id").as("src"),
        pmod(col("id") + 1L, lit(nSpokes)).as("dst")))
      .localCheckpoint(eager = false)
    hubGraph.count()
    val undH = hubGraph
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(eager = false)
    val degH = undH.select(col("a").as("node"))
      .unionByName(undH.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    // deg·(deg−1) is even, so the halving stays exact in LONG — `/ 2`
    // on Columns is DOUBLE division and would ClassCastException the
    // getLong below
    val naiveWedges = degH
      .agg(sum(col("deg") * (col("deg") - 1))).first().getLong(0) / 2
    val orientedWedges = undH
      .join(degH.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(degH.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("od"))
      .agg(sum(col("od") * (col("od") - 1))).first().getLong(0) / 2
    println(s"""{"harness":"scale_headroom","query":"g5_dense_wedge_volume"""" +
      s""","oriented":$orientedWedges,"naive":$naiveWedges}""")
    val oriTotal = graft.operators.Graph.triangleCount(hubGraph)
      .agg(sum(col("triangles"))).first().getLong(0)
    val naiveTotal = naiveTriangleCount(hubGraph)
      .agg(sum(col("triangles"))).first().getLong(0)
    require(oriTotal == naiveTotal,
      s"oriented ($oriTotal) and naive ($naiveTotal) disagree on the hub graph")
    for ((label, fn) <- Seq[(String, DataFrame => DataFrame)](
        "oriented" -> (graft.operators.Graph.triangleCount(_)),
        "naive_wedges" -> (naiveTriangleCount _))) {
      val (secs, rows) = timeBest { forceAll(fn(hubGraph)) }
      report(s"g5_dense_$label", 1, secs, rows)
    }

    // ---- g4 personalized PageRank under disjoint-copy inflation -----
    // (VERDICT r7 item 1.) Teleport state is seed-specific so g4 shares
    // no iterates with g1/g3 — its own leg: the per-superstep unit adds
    // the per-node teleport column through the zeros union; runtime
    // must still scale ~linearly in |edges| with the broadcast rank
    // state growing with |nodes|. Seeds = every 100th customer node,
    // replicated per copy like the edges.
    val seeds1 = ce.select(col("c")).distinct()
      .filter(pmod(substring(col("c"), 2, 100).cast("long"), lit(100)) === 0)
      .select(col("c").as("node"))
    for (scale <- Seq(1, 10)) {
      val edges = (0 until scale).map { k =>
        edges1.select(concat(col("src"), lit(s"_$k")).as("src"),
          concat(col("dst"), lit(s"_$k")).as("dst"))
      }.reduce(_ unionByName _).localCheckpoint(eager = false)
      edges.count()
      val seeds = (0 until scale).map { k =>
        seeds1.select(concat(col("node"), lit(s"_$k")).as("node"))
      }.reduce(_ unionByName _).localCheckpoint(eager = false)
      seeds.count()
      val (secs, rows) = timeBest {
        forceAll(graft.operators.Graph.personalizedPageRank(edges, seeds,
          iterations = 5))
      }
      report("g4_personalized_pagerank", scale, secs, rows)
    }

    // ---- e13 sparse-cosine posting join under corpus inflation ------
    // The alphabet rotation keeps each copy's 3-gram shingle space
    // disjoint, so per-term document frequency (and the df-prune at
    // maxDf=100) is scale-invariant while posting volume grows
    // linearly — the production shape for a growing corpus with a
    // bounded-boilerplate vocabulary. A superlinear 10×→25× leg would
    // betray a pair blowup hiding inside the term-keyed join.
    for ((scale, dir) <- dirs) {
      val dd = spark.read.parquet(s"$dir/documents.parquet")
      val (secs, rows) = timeBest {
        forceAll(graft.extensions.TextAnalysis.sparseCosinePairs(dd,
          threshold = 0.35, maxDf = 100L, ngram = 3))
      }
      report("e13_sparse_cosine", scale, secs, rows)
    }

    // ---- w32 one-pass moment matrix under row inflation -------------
    // Moment sums have no key structure, so plain row replication is
    // the honest axis: the 1 + 2k + C(k,2) decimal accumulators must
    // scale ~linearly in rows while the exchange stays one row.
    val liW32 = Tables.lineitem(spark, base)
      .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    for (scale <- Scales) {
      val fat = (0 until scale).map(_ => liW32).reduce(_ unionByName _)
        .localCheckpoint(eager = false)
      fat.count()
      val (secs, rows) = timeBest {
        forceAll(graft.operators.Summaries.pearsonMatrix(fat,
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))
      }
      report("w32_correlation_matrix", scale, secs, rows)
    }

    // ---- AQE skew-split vs manual salt vs plain, under inflation ----
    // (VERDICT r7 item 5; r6 pinned the binding once at base scale in
    // ScaleSpec.) One hot key of 30k·scale rows against a uniform
    // tail, broadcast disabled so the join genuinely shuffles; AQE
    // thresholds at the r6 test values so the split can fire at local
    // data sizes; the manual salt at j9's factor 8. Three variants per
    // scale — the recurring measured row that justifies keeping BOTH
    // levers: AQE for joins it planned itself, the salt for hinted
    // shapes and aggregation keys AQE never splits.
    locally {
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
        for (scale <- Scales) {
          val hot = spark.range(30000L * scale)
            .select(lit(1L).as("k"), col("id").as("v"))
          val tail = spark.range(3000L * scale)
            .select((col("id") % 500 + 2L).as("k"), col("id").as("v"))
          val fact = hot.unionByName(tail).localCheckpoint(eager = false)
          fact.count()
          val dim = spark.range(600).select(col("id").as("k"),
            (col("id") * 7L).as("d")).localCheckpoint(eager = false)
          dim.count()
          for ((label, skewOn, salted) <- Seq(
              ("plain", false, false), ("aqe_skew", true, false),
              ("salted", false, true))) {
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
              skewOn.toString)
            val (secs, rows) = timeBest {
              forceAll(
                if (salted) graft.operators.Joins.saltedEquiJoin(fact, dim,
                  "k", saltSource = col("v"), factor = 8)
                else fact.join(dim, Seq("k")))
            }
            report(s"skew_join_$label", scale, secs, rows)
          }
        }
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    bpeIterationAxisLeg(spark, base, report)
    spark.stop()
  }

  /** d22 incremental curation: the composed flat-probe contract
    * (VERDICT r9 item 6). The composition of the d11/d12/d19 probes
    * behind the t27 gates must inherit each component's flat-ingest
    * property: the SAME fixed batch curated against 1×/10×/25× state
    * indexes. Batch = 100 exact clones of k=0 corpus docs (fresh ids —
    * they collide only with the k=0 copy, so exact-stage hit volume is
    * constant across scales) + 100 one-token mutations (constant
    * MinHash candidate volume, real signature-verify work) + 100
    * fresh-suffixed docs (they run the full gauntlet to 'kept'/span).
    * Index builds are the amortized snapshot-time cost, reported
    * separately (the d19 discipline). Standalone: SPARK_GRAFT_LEG=d22. */
  /** The shared d22/d22s ingest-batch fixture: 100 state clones, 100
    * one-token mutations (near-dups), 100 fresh-suffix docs. */
  private def curationBatchFixture(docs: DataFrame): DataFrame = {
    val cloneSrc = docs.filter(col("doc_id") < 100)
    val mutSrc = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    val freshSrc = docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
    val batch = cloneSrc
      .select((col("doc_id") + 950000000L).as("doc_id"), col("text"))
      .unionByName(mutSrc.select(
        (col("doc_id") + 960000000L).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text")))
      .unionByName(freshSrc.select(
        (col("doc_id") + 970000000L).as("doc_id"),
        concat(col("text"), lit(" qq")).as("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .localCheckpoint(eager = false)
    batch.count()
    batch
  }

  /** d22s — the EXECUTED curation-ingest loop
    * ([[graft.streaming.StreamingOps.curationIngestBatch]]) measured
    * against 1×/10×/25× snapshot state held in its OWN bucketed state
    * tables: the snapshot is loaded through the loop's REAL write path
    * (ingested as batch 0 — state then holds its quality-passing
    * keepers, exactly what production state contains), then ONE fixed
    * batch is ingested as batch 1 and the full executed batch — index
    * reads, fate attribution, fate write, state advance — is timed.
    * Each timed repetition replays batch id 1, which the
    * dynamic-overwrite layout makes idempotent BY DESIGN — so the
    * repeat measurements exercise the crash-replay path too. Flat wall
    * vs state size = the d19/d22 layout lesson holding on the
    * production code path, not just the hand-built comparator. */
  private def d22sLeg(spark: SparkSession, docs: DataFrame,
      dirs: Seq[(Int, String)], work: String,
      report: (String, Int, Double, Long) => Unit): Unit = {
    import graft.streaming.StreamingOps
    val batch = curationBatchFixture(docs)
    for ((scale, dir) <- dirs) {
      val stateDir = s"$work/curstate_x$scale"
      val snapshot = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
      // load the WHOLE snapshot as already-kept state through the
      // loop's real write path (curating it would let the Gopher
      // stopword gate reject every alphabet-rotated copy and collapse
      // the scale axis — state must actually be 1×/10×/25×)
      val t0 = System.nanoTime()
      StreamingOps.ensureCurationStateTables(spark, stateDir,
        snapshot.limit(0))
      StreamingOps.advanceCurationState(snapshot, 0L, stateDir)
      val nState = StreamingOps
        .curationStateIndexes(spark, stateDir, excludeBatchId = 99L)
        .productIterator.map(_.asInstanceOf[DataFrame].count()).sum
      report("d22s_state_load", scale, (System.nanoTime() - t0) / 1e9,
        nState)
      val outB1 = s"$work/curout_x${scale}_b1"
      val (secs, rows) = timeBest {
        StreamingOps.curationIngestBatch(batch, 1L, stateDir, outB1)
        spark.read.parquet(outB1).count()
      }
      report("d22s_ingest_batch", scale, secs, rows)
    }
    // Compaction effect (round 11 (8)): the SAME 10× snapshot advanced
    // as 32 separate batches — the many-micro-batch shape, where every
    // index carries 32 partitions and 32× the bucket files — probed
    // before and after compactCurationState. The delta is pure
    // listing/open overhead: compaction changes layout, never rows.
    val dir10 = dirs.find(_._1 == 10).map(_._2)
    dir10.foreach { d10 =>
      val stateDir = s"$work/curstate_frag"
      val snapshot = spark.read.parquet(s"$d10/documents.parquet")
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .localCheckpoint(eager = false) // 32 slice advances read it
      StreamingOps.ensureCurationStateTables(spark, stateDir,
        snapshot.limit(0))
      for (b <- 0 until 32)
        StreamingOps.advanceCurationState(
          snapshot.filter(pmod(col("doc_id"), lit(32)) === b),
          b.toLong, stateDir)
      def probe(): Long = {
        val (e, bidx, sp) = StreamingOps.curationStateIndexes(spark,
          stateDir, excludeBatchId = 99L)
        forceAll(graft.extensions.Curation.curateIncremental(batch,
          e, bidx, sp, "text", "doc_id", "n_chars"))
      }
      val (fragSecs, fragRows) = timeBest(probe())
      report("d22s_probe_fragmented", 10, fragSecs, fragRows)
      StreamingOps.compactCurationState(spark, stateDir,
        snapshotBatchId = 31L)
      val (compSecs, compRows) = timeBest(probe())
      report("d22s_probe_compacted", 10, compSecs, compRows)
    }
  }

  private def d22Leg(spark: SparkSession, docs: DataFrame,
      dirs: Seq[(Int, String)],
      report: (String, Int, Double, Long) => Unit): Unit = {
    import graft.extensions.{Curation, Dedup}
    val batch = curationBatchFixture(docs)
    for ((scale, dir) <- dirs) {
      val state = spark.read.parquet(s"$dir/documents.parquet")
      val t0 = System.nanoTime()
      val exactIdx = Dedup.exactGroups(state, "text", "doc_id")
        .select(col("fingerprint")).localCheckpoint(eager = false)
      val bandIdx = Dedup.minHashBandIndex(state,
          numHashes = Dedup.LshNumHashes, bands = Dedup.LshBands,
          hashFn = Dedup.md5Hash60, maxBucket = 100)
        .localCheckpoint(eager = false)
      val spanIdx = Dedup.shingleIndex(state, "doc_id", "text", width = 8)
        .localCheckpoint(eager = false)
      val nIdx = exactIdx.count() + bandIdx.count() + spanIdx.count()
      report("d22_index_build", scale, (System.nanoTime() - t0) / 1e9, nIdx)
      val (secs, rows) = timeBest {
        forceAll(Curation.curateIncremental(batch, exactIdx, bandIdx,
          spanIdx, "text", "doc_id", "n_chars"))
      }
      report("d22_ingest_probe", scale, secs, rows)
    }
    // The PRESCRIBED layout (the d19 lesson, applied to the whole
    // composition): the checkpointed indexes above are UNBUCKETED, so
    // every probe re-shuffles all three state artifacts — the probe
    // grows with the snapshot and the flat-ingest claim fails. Persist
    // each index bucketed by its probe join key (fingerprint / bhash /
    // h — bhash is a subset of the (band, bhash) join key, which
    // satisfies the clustered distribution) and the index sides scan in
    // place: only the fixed batch shuffles, per-ingest cost flat in
    // snapshot size. Broadcast disabled so the small 1× indexes take
    // the same bucketed path as 25×.
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for ((scale, dir) <- dirs) {
        val state = spark.read.parquet(s"$dir/documents.parquet")
        spark.sql(s"DROP TABLE IF EXISTS d22_fp_x$scale")
        spark.sql(s"DROP TABLE IF EXISTS d22_band_x$scale")
        spark.sql(s"DROP TABLE IF EXISTS d22_span_x$scale")
        Dedup.exactGroups(state, "text", "doc_id").select(col("fingerprint"))
          .write.bucketBy(32, "fingerprint").sortBy("fingerprint")
          .mode("overwrite").saveAsTable(s"d22_fp_x$scale")
        Dedup.minHashBandIndex(state,
            numHashes = Dedup.LshNumHashes, bands = Dedup.LshBands,
            hashFn = Dedup.md5Hash60, maxBucket = 100)
          .write.bucketBy(32, "bhash").sortBy("bhash")
          .mode("overwrite").saveAsTable(s"d22_band_x$scale")
        Dedup.shingleIndex(state, "doc_id", "text", width = 8)
          .write.bucketBy(32, "h").sortBy("h")
          .mode("overwrite").saveAsTable(s"d22_span_x$scale")
        val (secs, rows) = timeBest {
          forceAll(Curation.curateIncremental(batch,
            spark.table(s"d22_fp_x$scale"), spark.table(s"d22_band_x$scale"),
            spark.table(s"d22_span_x$scale"), "text", "doc_id", "n_chars"))
        }
        report("d22_ingest_probe_bucketed", scale, secs, rows)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      for ((scale, _) <- dirs) {
        spark.sql(s"DROP TABLE IF EXISTS d22_fp_x$scale")
        spark.sql(s"DROP TABLE IF EXISTS d22_band_x$scale")
        spark.sql(s"DROP TABLE IF EXISTS d22_span_x$scale")
      }
    }
  }

  /** d23 line dedup: linearity AND the skew claim, measured. The
    * operator's scaladoc argues the keeper election must be an
    * AGGREGATE because a corpus-frequent boilerplate line makes
    * `row_number() OVER (PARTITION BY line)` one unsplittable hot
    * partition; this leg OBSERVES that (the d3/g5 cap-binding
    * discipline): (a) the agg-based operator at 1×/10×/25× with the
    * d23 fixture (12-token lines, boilerplate in 1/6 of docs — the
    * boilerplate line occurs corpus/6 times, the skew is real); (b) at
    * 25×, the window-based comparator on the same frame. The contrast
    * is architectural, not constant-factor: the window serializes
    * ~corpus/6 rows through one task while the agg's map-side combine
    * ships ≤ one row per task for that line.
    * Standalone: SPARK_GRAFT_LEG=d23. */
  private def d23Leg(spark: SparkSession, dirs: Seq[(Int, String)],
      report: (String, Int, Double, Long) => Unit): Unit = {
    def fixture(dir: String): DataFrame = {
      val seg = regexp_replace(col("text"), "((?:\\S+ ){11}\\S+) ", "$1\n")
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          when(col("doc_id") % 6 === 0,
            concat(seg, lit("\naccept cookies to continue reading this page")))
            .otherwise(seg).as("text"))
    }
    def windowForm(docs: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__line")).orderBy(col("__k"))
      docs
        .select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("__pos", "__line")))
        .withColumn("__k", col("doc_id") * lit(1048576L) + col("__pos"))
        .withColumn("__keep", row_number().over(w) === 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          graft.operators.Summaries.countIf(col("__keep")).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("__pos"), col("__line"))))),
            s => s("__line")), "\n").as("kept_text"))
    }
    for ((scale, dir) <- dirs) {
      val (secs, rows) = timeBest {
        forceAll(Dedup.lineDedup(fixture(dir), "doc_id", "text"))
      }
      report("d23_line_dedup", scale, secs, rows)
    }
    for ((scale, dir) <- dirs.filter(_._1 == 25)) {
      val (secs, rows) = timeBest { forceAll(windowForm(fixture(dir))) }
      report("d23_line_dedup_window_comparator", scale, secs, rows)
    }
    // The skew bound BINDING (the g5 dense-hub discipline): at the base
    // fixture's skew (hot line ≈ |docs|/6 rows — ~21k at 25×) one window
    // task absorbs the hot partition without visible cost and the window
    // form is actually CHEAPER (one exchange vs the agg's two) — the
    // architectural claim needs a fixture where it binds. Saturate:
    // every 25× doc carries 40 copies of the boilerplate line → the hot
    // window partition holds 5M rows in ONE task (sorted, serially),
    // while the agg's map-side combine still ships ≤ one row per task
    // for that line and the mark join spreads it by doc_id.
    for ((scale, dir) <- dirs.filter(_._1 == 25)) {
      val hot = fixture(dir).select(col("doc_id"),
        concat(col("text"), lit(
          Seq.fill(40)("accept cookies to continue reading this page")
            .mkString("\n", "\n", ""))).as("text"))
      val (aggS, aggR) = timeBest {
        forceAll(Dedup.lineDedup(hot, "doc_id", "text"))
      }
      report("d23_hotline_agg", scale, aggS, aggR)
      val (winS, winR) = timeBest { forceAll(windowForm(hot)) }
      report("d23_hotline_window", scale, winS, winR)
    }
  }

  /** Round-10 families, measured on arrival (the m8/BPE discipline —
    * no new family ships without a 1×/10×/25× leg):
    *   - t38 classifier inference — must be ~LINEAR (one token-grain
    *     explode + broadcast weight join + doc-grain agg; nothing may
    *     grow faster than the corpus);
    *   - s21 temporal split — must be ~linear (one broadcast min/max +
    *     one map-only fate projection + bounded aggs);
    *   - w33 sketch vs exact percentiles on the same inflated column —
    *     the REASON the sketch is the 100 TB path: the exact
    *     interpolated percentile materializes the full column per
    *     group (memory grows with data), the sketch's state is
    *     O(acc·log n) per partial regardless. Both timed on
    *     events.value at each scale.
    * Standalone: SPARK_GRAFT_LEG=r10. */
  private def r10Leg(spark: SparkSession, dirs: Seq[(Int, String)],
      report: (String, Int, Double, Long) => Unit): Unit = {
    import graft.extensions.QualityModel
    val weights = QualityModel.standInWeights(spark, 4096)
      .localCheckpoint(eager = false)
    weights.count()
    val probs = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
    val probsArr = array(probs.map(lit): _*)
    for ((scale, dir) <- dirs) {
      val docsD = spark.read.parquet(s"$dir/documents.parquet")
      val (tSecs, tRows) = timeBest {
        forceAll(QualityModel.classifierScore(docsD, "text", "doc_id",
          weights, 4096))
      }
      report("t38_classifier", scale, tSecs, tRows)
      // t40 training: per-iteration cost is one pass over the feature
      // frame, so wall must be ~linear in corpus at fixed iters
      val labeled = docsD.join(
        graft.extensions.TextAnalysis.gopherProfile(docsD, "text",
          "doc_id", "n_chars")
          .select(col("doc_id"),
            (col("reject_reason") === "pass").cast("double").as("label")),
        Seq("doc_id"))
      val (gSecs, gRows) = timeBest {
        forceAll(QualityModel.trainLogistic(labeled, "text", "doc_id",
          "label", numBuckets = 512, iters = 3, lr = 1.0))
      }
      report("t40_train_logistic", scale, gSecs, gRows)
      // t39 dataset card: the shared-scan card aggregate plus its three
      // riding probes (near-dup LSH chain, cross-source shingle
      // collapse, frozen-tokenizer BPE count — all ~linear families)
      val (cSecs, cRows) = timeBest {
        forceAll(SparkEntry.queries("t39_dataset_card")(spark, dir))
      }
      report("t39_dataset_card", scale, cSecs, cRows)
      // fixture events were canonicalized before the build wrote them —
      // the parquet carries plain TimestampType
      val evD = spark.read.parquet(s"$dir/events.parquet")
      val (sSecs, sRows) = timeBest {
        forceAll(graft.extensions.EventWindows.temporalSplit(evD))
      }
      report("s21_temporal_split", scale, sSecs, sRows)
      val vals = evD.select(col("value").cast("double").as("v"))
      val (aSecs, aRows) = timeBest {
        forceAll(vals.agg(
          percentile_approx(col("v"), probsArr, lit(1000)).as("q")))
      }
      report("w33_sketch_quantiles", scale, aSecs, aRows)
      val (xSecs, xRows) = timeBest {
        forceAll(vals.agg(percentile(col("v"), probsArr).as("qx")))
      }
      report("w33_exact_percentile", scale, xSecs, xRows)
    }
  }

  /** Round-11 new families on arrival (the r10 discipline: no family
    * ships without a 1×/10×/25× leg). The classifier family is a
    * build-once artifact (ClassifierModel), so its leg is the e12
    * train_encode/probe SPLIT — construction cost and steady-state
    * probe cost reported separately, each ~linear required:
    *   - classifier_full_build — labeled corpus (gopher battery) +
    *     full-corpus 3-iteration GD + scoring (t40/t41/t43's shared
    *     fixed cost, paid once per deployment);
    *   - classifier_eval_build — t42's OWN training over the s18-split
    *     train slice + both scoring passes, riding the warm labeled
    *     frame (the t40 per-iteration pass restricted to the slice);
    *   - t41/t42/t43 as BOARD queries against the warm artifact — the
    *     per-query steady state, must be scale-flat-ish (doc-grain
    *     frames only);
    *   - d25 intra-doc line dedup — the zero-shuffle map (see the leg
    *     body).
    * One timed pass per build row (minute-scale runtimes at 25× — the
    * leg reads the 10×→25× ratio, per-job overhead is noise at this
    * magnitude). Standalone: SPARK_GRAFT_LEG=r11. */
  private def r11Leg(spark: SparkSession, dirs: Seq[(Int, String)],
      report: (String, Int, Double, Long) => Unit): Unit = {
    for ((scale, dir) <- dirs) {
      val parts = graft.queries.TrainingQueries.ClassifierModel(spark, dir)
      val t0 = System.nanoTime()
      val nScored = forceAll(parts.scored)
      report("classifier_full_build", scale,
        (System.nanoTime() - t0) / 1e9, nScored)
      val t1 = System.nanoTime()
      forceAll(parts.evalRow)
      report("classifier_eval_build", scale,
        (System.nanoTime() - t1) / 1e9, 1L)
      for (q <- Seq("t41_model_scored_corpus", "t42_classifier_eval",
          "t43_model_approx_cut")) {
        val (secs, rows) = timeBest {
          forceAll(SparkEntry.queries(q)(spark, dir))
        }
        report(q, scale, secs, rows)
      }
      // evict this scale's artifact before the next scale builds —
      // see Artifact (pinned 1×+10× artifacts made
      // the 25× build memory-bound, not compute-bound)
      graft.queries.TrainingQueries.ClassifierModel.invalidate(spark, dir)
      System.gc()
    }
    // d25 intra-doc line dedup — the ZERO-shuffle map form: wall must
    // be ~linear in corpus (no exchange exists to grow any other way —
    // the plan pin lives in IntraDocLineDedupSpec); board fixture
    // (12-token segmentation + self-appended first line on doc_id%4).
    for ((scale, dir) <- dirs) {
      val seg = regexp_replace(col("text"), "((?:\\S+ ){11}\\S+) ", "$1\n")
      // Tables.spread matches the board query's fixture shape — a raw
      // single-split read would serialize the 1× point onto one task
      val docs = Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), seg.as("__seg"))
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, concat(col("__seg"), lit("\n"),
            element_at(split(col("__seg"), "\n"), 1)))
            .otherwise(col("__seg")).as("text"))
      val (secs, rows) = timeBest {
        forceAll(Dedup.intraDocLineDedup(docs, "doc_id", "text"))
      }
      report("d25_intradoc_line_dedup", scale, secs, rows)
    }
  }

  /** Token-salted replicated fixtures (the x50 axis construction):
    * copy k offsets doc ids by k·10⁷ and rewrites every token t →
    * "t9k" (the corpus is letters-only, so the digit 9 is an
    * unambiguous salt boundary), making copies share NO tokens (e13's
    * vocabulary) and NO width-3 shingles (d14's space). Unlike the
    * alphabet rotation (injective only for k < 26), this holds for any
    * copy count. Shared by [[x50Leg]] and [[e13CacheLeg]]. */
  private def saltedFixtures(docs: DataFrame, work: String,
      scales: Seq[Int]): Seq[(Int, String)] = {
    def salted(k: Int): DataFrame =
      if (k == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            t => concat(t, lit(s"9$k"))), " "))
    scales.map { n =>
      val dir = s"$work/s$n"
      (0 until n).map(salted).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      n -> dir
    }
  }

  /** The 50× axis for e13/d14 (VERDICT r11 item 6): 1×/10×/25×/50× run
    * on the same salted axis so the exponent reads off ONE construction
    * (salted and rotated fixtures differ slightly in byte size — tokens
    * grow by the suffix — so cross-axis ratios are not the
    * comparison). Standalone: SPARK_GRAFT_LEG=x50. */
  private def x50Leg(spark: SparkSession, docs: DataFrame, work: String,
      report: (String, Int, Double, Long) => Unit): Unit = {
    for ((scale, dir) <- saltedFixtures(docs, work, Seq(1, 10, 25, 50));
         q <- Seq("e13_sparse_cosine", "d14_containment")) {
      val (secs, rows) = timeBest {
        forceAll(SparkEntry.queries(q)(spark, dir))
      }
      report(q, scale, secs, rows)
    }
  }

  /** Export-tier 50× leg (VERDICT r13 item 6) on the salted axis
    * (1×/10×/25×/50× off ONE construction — the alphabet rotation the
    * r12 leg used aliases past 25 copies). Two measurements per scale,
    * interleaved so a host window hits both:
    *   - `x2_inline_tier`: the board flagship's FULL inline
    *     composition (learn merges → curate → tokenize → shard →
    *     manifest), built directly against the Curation API so the
    *     measurement is the tier itself regardless of the ExportTier
    *     memo routing the board queries use;
    *   - `export_ingest_4batches`: the streaming loop's batch form — a
    *     4-micro-batch backfill of the same corpus through curation
    *     state, carryover packing and the partitioned state tables,
    *     plus one manifest-view read.
    * Fixture semantics (same as the r12 alphabet-rotation leg): salted
    * copies fail the English-stopword language gate, so curation SCANS
    * the whole corpus (the quality battery, exact-dedup grouping and
    * decontamination join are the linear-in-corpus stages) while the
    * tokenize/pack tail runs on the kept slice — the production shape
    * where curation is the filter in front of the export. Any 25→50×
    * bend gets block-manager evidence (the e13m discipline) before
    * being called algorithmic. */
  private def exportTierLeg(spark: SparkSession, docs: DataFrame,
      work: String, report: (String, Int, Double, Long) => Unit): Unit = {
    import spark.implicits._
    import graft.extensions.Curation
    for ((scale, dir) <- saltedFixtures(docs, work, Seq(1, 10, 25, 50))) {
      val dd = Tables.documents(spark, dir)
      val bench = dd.filter(col("doc_id") % 20 === 0)
      val (secs, rows) = timeBest {
        val merges = graft.extensions.Bpe
          .learnMerges(Tables.spread(dd), "text", k = 4)
          .orderBy(col("merge_rank"))
          .select(col("sym_a"), col("sym_b"))
          .as[(String, String)].collect().toSeq
        forceAll(Curation.exportManifest(
          Tables.spread(Tables.documentsWithDups(spark, dir)), bench,
          merges, "text", "doc_id", "source", "n_chars"))
      }
      report("x2_inline_tier", scale, secs, rows)
      // single pass — the state advance is stateful, so reps would
      // measure ever-larger state, not the batch cost
      val (isecs, irows) = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-expx-$scale").toString
        val src = Tables.spread(Tables.documentsWithDups(spark, dir))
        val t0 = System.nanoTime()
        for (b <- 0 until 4)
          graft.streaming.StreamingOps.exportIngestBatch(
            src.filter(pmod(col("doc_id"), lit(4)) === b), b.toLong,
            s"$root/state", s"$root/exp", merges = Nil)
        val n = graft.streaming.StreamingOps
          .exportManifestView(spark, s"$root/exp").count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      report("export_ingest_4batches", scale, isecs, irows)
      // storage evidence + clean slate per scale (the e13m discipline)
      for (i <- spark.sparkContext.getRDDStorageInfo)
        println(s"""{"harness":"scale_headroom","probe":"expx_storage"""" +
          s""","scale":$scale,"rdd_id":${i.id}""" +
          s""","mem_mb":${i.memSize / 1048576}""" +
          s""","disk_mb":${i.diskSize / 1048576}}""")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
  }

  /** CONTROLLED cache-placement experiment for e13's top-leg memory
    * shape (VERDICT r12 item 2's falsification path): r12 measured the
    * 25→50× exponent at 1.34 and diagnosed block-manager pressure from
    * the TWO corpus-grain lazy checkpoints then in sparseCosinePairs;
    * r13 removed the tf cache (one corpus-grain checkpoint + one extra
    * linear tokenize pass) — this leg decides whether that diagnosis
    * was right by running THREE variants of the same pipeline,
    * interleaved per scale so a host window hits all three equally:
    *   - A — production r13 form (weighted cached; tf lineage
    *     re-executed for dfreq and inside weighted);
    *   - B — the r12 form (tf AND weighted both cached, one tokenize);
    *   - C — fused single UPSTREAM cache (tf+doc-total cached once,
    *     one tokenize; weighted recomputed from that cache by all
    *     three consumers — join work ×3, corpus-grain cache ×1).
    * The memory hypothesis predicts B worst at 50× and A/C ≈ linear;
    * "all three equal" falsifies it (the bend would be intrinsic to
    * the posting join / spill, not cache pressure). Variants B and C
    * replay sparseCosinePairs' exact arithmetic — timing-only copies,
    * clearly scoped to this harness. Standalone: SPARK_GRAFT_LEG=e13x. */
  private def e13CacheLeg(spark: SparkSession, docs: DataFrame,
      work: String, report: (String, Int, Double, Long) => Unit): Unit = {
    import org.apache.spark.sql.expressions.Window
    import graft.extensions.{Dedup, TextAnalysis}
    val threshold = 0.35
    val maxDf = 100L
    def tfRaw(dd: DataFrame): DataFrame = dd
      .select(col("doc_id"),
        explode(Dedup.ngramShingles(col("text"), 3)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    def weightedFrom(tf: DataFrame, dd: DataFrame,
        hasTotal: Boolean): DataFrame = {
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = dd.agg(count(lit(1)).as("n"))
      val tot = if (hasTotal) tf
        else tf.withColumn("total",
          sum(col("cnt")).over(Window.partitionBy("doc_id")))
      tot.join(dfreq.filter(col("df") <= maxDf), "term")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          round((col("cnt") * lit(1.0) / col("total"))
            * log(col("n") * lit(1.0) / col("df")), 6).as("w"))
    }
    def tail(weighted: DataFrame): DataFrame = {
      val norms = weighted.groupBy(col("doc_id"))
        .agg(sqrt(sum(round(col("w") * col("w"), 12)
          .cast("decimal(38,12)")).cast("double")).as("nrm"))
      val dots = weighted.select(col("doc_id").as("a_id"), col("term"),
          col("w").as("wa"))
        .join(weighted.select(col("doc_id").as("b_id"), col("term"),
          col("w").as("wb")), "term")
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(sum(round(col("wa") * col("wb"), 12).cast("decimal(38,12)"))
          .cast("double").as("dot"))
      dots
        .join(norms.select(col("doc_id").as("a_id"), col("nrm").as("na")),
          Seq("a_id"))
        .join(norms.select(col("doc_id").as("b_id"), col("nrm").as("nb")),
          Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          round(col("dot") / (col("na") * col("nb")), 4).as("cosine_sim"))
        .filter(col("cosine_sim") >= threshold)
    }
    def variant(dd: DataFrame, strat: String): DataFrame = strat match {
      case "A" => TextAnalysis.sparseCosinePairs(dd, threshold, maxDf, 3)
      case "B" =>
        val tf = tfRaw(dd).localCheckpoint(eager = false)
        tail(weightedFrom(tf, dd, hasTotal = false)
          .localCheckpoint(eager = false))
      case "C" =>
        val tfTot = tfRaw(dd)
          .withColumn("total",
            sum(col("cnt")).over(Window.partitionBy("doc_id")))
          .localCheckpoint(eager = false)
        tail(weightedFrom(tfTot, dd, hasTotal = true))
    }
    for ((scale, dir) <- saltedFixtures(docs, work, Seq(10, 25, 50));
         strat <- Seq("A", "B", "C")) {
      val dd = spark.read.parquet(s"$dir/documents.parquet")
      val (secs, rows) = timeBest { forceAll(variant(dd, strat)) }
      report(s"e13_cache_$strat", scale, secs, rows)
      System.gc() // nudge the ContextCleaner between cache regimes
    }
  }

  /** t36 cross-source contamination matrix (VERDICT r9 item 3): wall
    * must track the DISTINCT (source, shingle-hash) collapse, never
    * corpus bytes, and the pair stage must stay bounded by |sources|².
    * Two axes:
    *   (a) corpus 1×/10×/25× at FIXED |sources| = 20 — the collapse
    *       grows ~linearly (each inflated copy's shingle space is
    *       disjoint by the alphabet-rotation construction), so wall is
    *       allowed to be ~linear while the OUTPUT pair rows stay pinned
    *       at ≤ C(20,2) = 190 — the proof no all-pairs structure exists
    *       between the collapse and the matrix;
    *   (b) at 10×, DOUBLE |sources| to 40 (copies 5–9 — doc_id ≥ 5·10⁷
    *       — remapped to suffixed source names; identical bytes and
    *       identical collapse size) — pair rows may widen toward
    *       C(40,2) while wall holds at the 10× level, showing the
    *       |sources|² term is the bounded pair stage, not a hidden
    *       corpus-sized join. Standalone: SPARK_GRAFT_LEG=t36. */
  private def t36Leg(spark: SparkSession, dirs: Seq[(Int, String)],
      report: (String, Int, Double, Long) => Unit): Unit = {
    for ((scale, dir) <- dirs) {
      val dd = spark.read.parquet(s"$dir/documents.parquet")
      val (secs, rows) = timeBest {
        forceAll(Dedup.crossGroupOverlap(dd, "source", "text", n = 8))
      }
      report("t36_source_matrix", scale, secs, rows)
    }
    for ((scale, dir) <- dirs.filter(_._1 == 10)) {
      val dd = spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("source",
          when(col("doc_id") >= 50000000L, concat(col("source"), lit("_b")))
            .otherwise(col("source")))
      val (secs, rows) = timeBest {
        forceAll(Dedup.crossGroupOverlap(dd, "source", "text", n = 8))
      }
      report("t36_source_matrix_2x_groups", scale, secs, rows)
    }
  }

  /** t28 BPE: the ITERATION axis (VERDICT r8 item 4). Fixed corpus (the
    * base documents table — no inflation; this axis is k, not data),
    * k = 4/16/64 merges: the only operator whose dominant scale axis is
    * ROUND COUNT. Expect per-merge cost ~flat in k (each round is the
    * same bounded vocab-table work), i.e. "sec" ~linear in the scale
    * field (= k) — the honest statement that serial BPE at k≈30k is
    * latency-bound, not data-bound. The batched row then shows the
    * mitigation: the same 64 merges learned with maxBatch=8 collapse
    * into ~64/8 rewrite rounds, cutting wall time proportionally.
    * Single timed run per k after one k=4 warm-up (a k=64 chain is 64
    * sequenced rounds — best-of-3 would triple a minutes-long leg for
    * noise rejection the 4×/16×/64× spread already dominates).
    * Standalone: `SPARK_GRAFT_LEG=bpe runMain graft.ScaleHeadroom`. */
  private def bpeIterationAxisLeg(spark: SparkSession, base: String,
      report: (String, Int, Double, Long) => Unit): Unit = {
    val corpus = Tables.documents(spark, base)
      .select("text").localCheckpoint(eager = false)
    corpus.count()
    forceAll(graft.extensions.Bpe.learnMerges(corpus, "text", 4)) // warm-up
    for (k <- Seq(4, 16, 64)) {
      val t0 = System.nanoTime()
      val rows = forceAll(graft.extensions.Bpe.learnMerges(corpus, "text", k))
      report("t28_bpe_k_axis", k, (System.nanoTime() - t0) / 1e9, rows)
    }
    val t0 = System.nanoTime()
    val rows = forceAll(graft.extensions.Bpe.learnMergesBatched(corpus,
      "text", k = 64, maxBatch = 8))
    report("t28_bpe_k64_batched8", 64, (System.nanoTime() - t0) / 1e9, rows)

    // ---- t31 APPLY axis (VERDICT r9 item 2) --------------------------
    // The apply-side design claim — k learned merges inlined as literals
    // into ONE vocab-grain projection of ~3k string ops — has a Janino
    // ceiling somewhere in the hundreds of merges (64 KB generated-method
    // limit / 8 KB JIT threshold). Measure apply at k = 4/64/256 on
    // batched-learned tables AND record the codegen mode of each plan:
    // wscg_subtrees = compiled whole-stage subtrees in the executed
    // plan, max_method_bytes = largest generated-method bytecode across
    // them (-1 = Janino compile failure ⇒ that subtree runs interpreted
    // — the chunked-projection fallback threshold). The corpus side is
    // UNCHANGED across k (one tokenize + one word equi-join); only the
    // vocab-grain chain deepens, so wall growing sublinearly in k while
    // rows stay constant is the pass condition.
    val applyDocs = Tables.documents(spark, base)
      .select("doc_id", "text").localCheckpoint(eager = false)
    applyDocs.count()
    for (k <- Seq(4, 64, 256)) {
      val merges = graft.extensions.Bpe
        .learnMergesBatched(corpus, "text", k, maxBatch = 16)
        .orderBy(col("merge_rank"))
        .select("sym_a", "sym_b")
        // bounded collect: exactly k ≤ 256 rows by construction — the
        // e17 shortlist rule; merge tables are model artifacts, not data
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val applied = graft.extensions.Bpe.applyMerges(applyDocs, "text",
        "doc_id", merges)
      val (secs, nRows) = timeBest { forceAll(applied) }
      report("t31_apply_k_axis", k, secs, nRows)
      // codegen mode of THIS plan: under AQE, WholeStageCodegen is only
      // inserted when query stages materialize, so execute the frame's
      // own plan (not evalAll's derived agg) before reading it, and
      // unwrap AdaptiveSparkPlanExec (its children are hidden from a
      // plain traversal until unwrapped)
      applied.queryExecution.toRdd.count()
      val finalPlan = applied.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val stats = org.apache.spark.sql.execution.debug
        .codegenStringSeq(finalPlan)
      val maxMethod = if (stats.isEmpty) 0
        else stats.map(_._3.maxMethodCodeSize).max
      println(s"""{"harness":"scale_headroom","query":"t31_apply_codegen",""" +
        s""""scale":$k,"wscg_subtrees":${stats.size},""" +
        s""""max_method_bytes":$maxMethod}""")
    }
  }
}
