package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a 100 TB training-data pipeline
  * (SURVEY.md §7.4): exact, blocked token-Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: every variant is candidate-generation-by-key →
  * shuffle-on-bucket → verify-within-bucket. No O(n²) comparisons, no
  * driver-side state; the only joins are equi-joins on bucket keys, so
  * they hash-partition cleanly across 1000 executors.
  */
object Dedup {

  /** See [[graft.sources.Tables.spread]] — spreads a small scan before a
    * CPU-heavy per-row projection; no-op at production scan widths. */
  private def parallelizeSmallScan(df: DataFrame): DataFrame =
    graft.sources.Tables.spread(df)

  /** Exact dedup: group by normalized-text hash, keep the min-id doc.
    * One map-side-combinable hash aggregation. */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .groupBy(TextAnalysis.normHash(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** Blocked token-set Jaccard near-dup pairs.
    *
    * Blocking key = (source, n_chars/32 bucket): near-identical docs land
    * in the same block, and block sizes stay bounded as the corpus grows
    * (pairs scale ~linearly with docs, not quadratically). Jaccard is
    * |A∩B| / (|A|+|B|−|A∩B|) over distinct-token arrays — all codegen'd
    * array built-ins.
    */
  def tokenJaccardPairs(
      docs: DataFrame,
      threshold: Double): DataFrame = {
    // Tokens are hashed to 64-bit longs before the pair join — set
    // cardinality (hence Jaccard) is preserved up to ~|tokens|²/2⁶⁴
    // collision odds, and the per-pair intersection runs over sorted
    // longs instead of strings (see jaccardOverBlocks).
    // localCheckpoint materializes the hash+sort projection once; without
    // it each side of the self-join re-evaluates it (same fix as the
    // n-gram variant below)
    val prepared = parallelizeSmallScan(docs).select(
      col("doc_id"), col("source"),
      floor(col("n_chars") / 32.0).cast("long").as("bkt"),
      sort_array(array_distinct(
        transform(TextAnalysis.tokens(col("text")), t => xxhash64(t))))
        .as("toks"))
      .localCheckpoint(eager = false)
    jaccardOverBlocks(prepared, threshold)
  }

  /** Shared blocked-pair Jaccard: each doc probes its own length bucket
    * AND the next one (docs emit block keys {bkt, bkt+1}; two docs share
    * a key iff |Δbkt| ≤ 1), so near-dups straddling a bucket boundary
    * are still compared — without this, a one-word edit that crosses the
    * 32-char line silently escapes dedup. Pair volume stays ~3× the
    * single-bucket form (still linear in corpus size).
    *
    * Exactly-once pair generation: a pair with equal buckets meets at its
    * own block as (self, self) and at bkt+1 as (probe, probe); a pair one
    * bucket apart meets only at the higher block as (probe, self).
    * Keeping pairs where NOT both sides are probes therefore emits every
    * |Δbkt| ≤ 1 pair exactly once — no post-join dropDuplicates, which
    * would re-shuffle the wide token arrays a second time. */
  private def jaccardOverBlocks(prepared: DataFrame, threshold: Double): DataFrame = {
    val blocked = prepared.select(col("doc_id"), col("source"), col("toks"),
      explode(array(
        struct(col("bkt").as("blk"), lit(false).as("probe")),
        struct((col("bkt") + 1).as("blk"), lit(true).as("probe")))).as("bb"))
      .select(col("doc_id"), col("source"), col("toks"),
        col("bb.blk").as("blk"), col("bb.probe").as("probe"))
    val a = blocked.select(col("doc_id").as("a_id"), col("source"),
      col("blk"), col("probe").as("a_probe"), col("toks").as("a_toks"))
    val b = blocked.select(col("doc_id").as("b_id"), col("source"),
      col("blk"), col("probe").as("b_probe"), col("toks").as("b_toks"))
    a.join(b, Seq("source", "blk"))
      .filter(col("a_id") < col("b_id") && !(col("a_probe") && col("b_probe")))
      // allocation-free merge-loop intersection (toks arrive sorted
      // distinct from the prepared projection) — the per-pair hot loop.
      // Emitted through explode(array(…)) as a Generate BARRIER: the
      // threshold filter below references generator output, so Catalyst
      // cannot substitute it into the join condition — without this it
      // clones the merge loop into the BHJ condition AND the project
      // above it (~3 evaluations per pair; EXPLAIN.md d2, round 2).
      .select(col("a_id"), col("b_id"),
        (size(col("a_toks")) + size(col("b_toks"))).as("n_total"),
        explode(array(graft.functions.SortedIntersectSize
          .sorted_intersect_size(col("a_toks"), col("b_toks"))
          .cast("double"))).as("shared"))
      .withColumn("jaccard",
        round(col("shared") / (col("n_total") - col("shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Word n-gram shingles from a PRE-MATERIALIZED token-array column.
    *
    * The token argument must be a materialized attribute, not a raw
    * `split(...)` tree: higher-order lambdas run interpreted
    * (CodegenFallback) and re-evaluate every subtree reference PER
    * ELEMENT, so an inline split makes shingling O(positions ×
    * split-cost) per document — measured 16× on the d12 ingest path.
    * Callers tokenize in their own projection first (Catalyst's
    * CollapseProject keeps a non-cheap alias referenced more than once
    * in its own projection, so the split stays single-evaluation). */
  def ngramShinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Word n-gram shingles as a distinct array column — convenience form
    * for one-shot/cold paths; hot paths pre-tokenize (see
    * [[ngramShinglesFromTokens]]). */
  def ngramShingles(text: Column, n: Int): Column =
    ngramShinglesFromTokens(TextAnalysis.tokens(text), n)

  /** Blocked n-gram Jaccard near-dup pairs — like [[tokenJaccardPairs]]
    * but over word n-gram shingle sets (order-sensitive: catches
    * reorderings that unigram Jaccard misses). Same blocking strategy,
    * so pair count stays ~linear in corpus size. */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // Shingles are hashed to 64-bit longs before the pair join: set
    // cardinalities (and hence Jaccard) are preserved (collision odds
    // ~|shingles|²/2⁶⁴), and long-array intersection is far cheaper than
    // string-array intersection in the O(pairs) inner loop.
    // localCheckpoint materializes the (expensive) shingle projection
    // once; without it each side of the self-join re-evaluates it.
    val prepared = parallelizeSmallScan(docs)
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .select(
        col("doc_id"), col("source"),
        floor(col("n_chars") / 32.0).cast("long").as("bkt"),
        sort_array(array_distinct(
          transform(ngramShinglesFromTokens(col("__toks"), n),
            s => xxhash64(s))))
          .as("toks"))
      .localCheckpoint(eager = false)
    jaccardOverBlocks(prepared, threshold)
  }

  /** Directed set-containment near-dup pairs via PREFIX FILTERING — the
    * AllPairs/PPJoin candidate-generation family, a third generator
    * class next to length blocking (d2/d5) and signature banding
    * (d3/d4).
    *
    * Containment C(A→B) = |Sh(A)∩Sh(B)| / |Sh(A)| over distinct word
    * n-gram shingle sets. It is the asymmetric twin of Jaccard and the
    * one that catches SUBSET duplication: a short doc quoted wholly
    * inside a long one scores ≈|A|/|B| on Jaccard (invisible below any
    * useful threshold) but 1.0 on containment — the boilerplate /
    * template-inclusion case every training-data pipeline hits.
    *
    * Candidate generation: order each doc's shingles by ascending
    * GLOBAL document frequency (ties by shingle string). If
    * |A∩B| ≥ ⌈τ·|A|⌉ then at least one of A's first
    * |A| − ⌈τ·|A|⌉ + 1 shingles — its PREFIX, the rarest ones — must
    * occur in B (pigeonhole). So A probes an inverted shingle index
    * with only its prefix: the posting lists probes actually meet are
    * short *because* prefixes are rare shingles, and `maxPostings`
    * caps the hot tail (min-id retention, the d3 `maxBucket` policy:
    * capped lists keep their exemplars and stop admitting, so the cap
    * is stable under growth). Generation is LOSSLESS whenever the cap
    * does not bind — ExtensionsSpec pins both the exact and the
    * capped-subset behavior.
    *
    * Scale shape: the df table is one map-side-combinable hash agg;
    * the frequency-ordered shingle array is one (doc_id)-keyed
    * sort-agg; candidates are an equi-join on shingle hash + a pair
    * distinct; verification is the d2 sorted-long merge intersection
    * behind its Generate barrier, exactly once per surviving pair. No
    * O(n²) stage, no driver state, every shuffle keyed on uniform
    * hashes. Pair output is unbounded on near-dup-dense corpora —
    * aggregate per doc (the d14 driver query does) when emitting
    * beyond the engine. */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
      maxPostings: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    val base = parallelizeSmallScan(docs)
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), ngramShinglesFromTokens(col("__toks"), n).as("sh"))
      .localCheckpoint(eager = false)
    val exploded = base.select(col("doc_id"), explode(col("sh")).as("tok"))
    val dfreq = exploded.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // Rarest-first per-doc order (df asc, shingle asc — both engines
    // sort ASCII identically); prefix + sorted hash array in ONE
    // checkpointed projection: it feeds the probe side, the index side,
    // and both verify sides, so without the barrier the sort-agg would
    // run four times.
    val prefixLen = (size(col("ordToks"))
      - ceil(lit(threshold) * size(col("ordToks"))).cast("int") + 1)
    val prepared = exploded.join(dfreq, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("doc_id"),
        transform(col("ord"), s => s.getField("tok")).as("ordToks"))
      .select(col("doc_id"),
        size(col("ordToks")).as("n_sh"),
        sort_array(transform(col("ordToks"), t => xxhash64(t))).as("toks"),
        transform(slice(col("ordToks"), lit(1), prefixLen), t => xxhash64(t))
          .as("prefix"))
      .localCheckpoint(eager = false)
    val probes = prepared.select(col("doc_id").as("a_id"),
      explode(col("prefix")).as("h"))
    val fullIndex = prepared.select(col("doc_id").as("b_id"),
      explode(col("toks")).as("h"))
    val index =
      if (maxPostings == Int.MaxValue) fullIndex
      else fullIndex
        .withColumn("__prank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("h")
            .orderBy(col("b_id"))))
        .filter(col("__prank") <= maxPostings)
        .drop("__prank")
    val cand = probes.join(index, Seq("h"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    cand
      .join(prepared.select(col("doc_id").as("a_id"), col("n_sh").as("a_n"),
        col("toks").as("a_toks")), Seq("a_id"))
      .join(prepared.select(col("doc_id").as("b_id"), col("toks").as("b_toks")),
        Seq("b_id"))
      // Generate barrier: same single-eval contract as jaccardOverBlocks.
      .select(col("a_id"), col("b_id"), col("a_n"),
        explode(array(graft.functions.SortedIntersectSize
          .sorted_intersect_size(col("a_toks"), col("b_toks"))
          .cast("double"))).as("shared"))
      // integer pigeonhole test, not a rounded-float comparison — the
      // oracle replays ceil() on the identical IEEE doubles
      .filter(col("shared") >= ceil(lit(threshold) * col("a_n")))
      .select(col("a_id"), col("b_id"),
        round(col("shared") / col("a_n"), 4).as("containment"))
  }

  /** Leakage-safe train/val/test assignment: the split bucket is a
    * seeded md5 hash of the content FINGERPRINT (normalized-text md5,
    * the d1/t3 definition), not of the row id — so exact duplicates
    * land in the same split BY CONSTRUCTION and can never leak
    * train→eval. (Id-based splitting scatters a duplicate pair across
    * splits with probability 1 − Σpᵢ²; the s18 driver query
    * demonstrates the difference on the cloned corpus.) Seeded md5
    * keeps the assignment epoch-stable and replayable in any engine
    * (the s13 shuffle-shard convention). Pure map pass, no shuffle.
    *
    * Returns `split_bucket` in [0, 10); callers map bucket ranges to
    * named splits (e.g. 0–7 train / 8 val / 9 test). */
  def assignSplitByFingerprint(docs: DataFrame, textCol: String,
      seed: String): DataFrame =
    docs
      .withColumn("fingerprint", TextAnalysis.normHash(col(textCol)))
      .withColumn("split_bucket",
        pmod(md5Hash60(concat(lit(s"$seed:"), col("fingerprint"))),
          lit(10)))

  /** Prime modulus of the universal-hash family used by MinHash. Products
    * stay under 2⁶³: (P−1)² < 10¹⁸ < Long.MaxValue. */
  val MinHashP: Long = 1000000007L

  /** Per-seed (a, b) constants of the universal hash family, derived from
    * md5 of the seed tag — reproducible in any engine with md5, so the
    * DuckDB oracle can inline the identical literals. */
  def seedConst(tag: String, s: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tag$s".getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % MinHashP + MinHashP) % MinHashP
  }

  /** 60-bit hash from the md5 hex prefix — an order of magnitude slower
    * than xxhash64, but REPLAYABLE in any engine with md5 (DuckDB oracle
    * parity): the base hash of the MinHash and SimHash families. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** MinHash signature via a universal hash family over one base hash:
    * signature[s] = min over shingles of (a_s·h(x) + b_s) mod P. One base
    * hash per shingle (not k seeded hashes) — one pass, no shuffle.
    *
    * Staged in separate projections (tokens → base hashes → signature),
    * not inlined: shingling references the token split per position, and
    * higher-order lambdas run interpreted and re-evaluate referenced
    * subtrees per element (measured 16× wall-clock on the ingest path
    * when inlined). CollapseProject leaves non-cheap aliases with
    * multiple consumers in their own projection, so each stage is
    * evaluated exactly once per row.
    *
    * The signature itself is the native fused expression
    * ([[graft.functions.MinHashSignature]]): the former
    * `array_min(transform(…))`-per-slot column form walked (and
    * allocated) the base array once per signature slot in the
    * interpreted HOF evaluator — 32 traversals per document; the native
    * expression runs the (shingles × slots) arithmetic in one codegen'd
    * primitive loop, bit-identical values (parity pinned in
    * FunctionsSpec). */
  def withMinHashSignature(
      docs: DataFrame, textCol: String, numHashes: Int,
      shingleWidth: Int): DataFrame = {
    val staged = docs
      .withColumn("__mh_toks", TextAnalysis.tokens(col(textCol)))
      // the array_distinct inside ngramShinglesFromTokens is harmless
      // under the per-slot min and keeps the shingle-set definition in
      // one place
      .withColumn("__mh_base", transform(
        ngramShinglesFromTokens(col("__mh_toks"), shingleWidth),
        sh => pmod(md5Hash60(sh), lit(MinHashP))))
    val seedsA = Array.tabulate(numHashes)(s => seedConst("a", s))
    val seedsB = Array.tabulate(numHashes)(s => seedConst("b", s))
    staged.withColumn("minhash_sig",
        graft.functions.MinHashSignature.minhash_signature(
          col("__mh_base"), seedsA, seedsB, MinHashP))
      .drop("__mh_toks", "__mh_base")
  }

  /** Banded MinHash signature index: one row per (doc, band) with the
    * band's bucket hash — `(doc_id, minhash_sig, band, bhash)`. This is
    * the frame an already-deduped corpus snapshot PERSISTS (parquet,
    * partitioned by `band`): ingest batches join against it
    * ([[incrementalMinHashPairs]]) without the corpus text ever being
    * re-read or re-shingled, and [[minHashLshPairs]] self-joins it for
    * the one-shot form. The band explode is bounded (~`LshBands`×) and
    * map-side.
    *
    * `maxBucket` is the skew guard: a degenerate bucket
    * (boilerplate-heavy corpora) would make downstream joins quadratic.
    * The cap KEEPS the `maxBucket` min-id exemplars of each (band,
    * bhash) bucket and drops the rest — retention, not whole-bucket
    * deletion, so capped buckets still match future near-dups against
    * their exemplars, and the capped membership is STABLE under
    * [[advanceBandIndex]] (min ids never change when rows are only
    * appended; a drop-the-bucket cap would oscillate: drop at cap+1,
    * re-admit from zero next advance). The cap is a property of the
    * snapshot, paid at build/advance time, never per ingest batch. */
  /** The shipped LSH banding — the point [[lshCalibration]] (d24) places
    * on the S-curve frontier at `n = 32` hashes: b=8/r=4 is the
    * PRECISION-LEANING choice (lower false-positive mass, 50% crossover
    * ≈ 0.54) vs the fp+fn-mass-optimal b=16/r=2 (crossover ≈ 0.21,
    * which floods a 0.3-threshold run with low-similarity candidates —
    * candidate VOLUME, not miss rate, is what hurts at 100 TB). Every
    * banded operator uses these constants so the calibration
    * table and the operators it configures cannot drift apart:
    * re-calibrating means changing THIS pair, and LshCalibrationSpec
    * pins the documented frontier placement. */
  val LshNumHashes: Int = 32
  val LshBands: Int = 8
  /** Estimated-Jaccard cut of every MinHash-LSH pair operator. */
  val LshThreshold: Double = 0.3

  def minHashBandIndex(
      docs: DataFrame, maxBucket: Int = Int.MaxValue): DataFrame = {
    val rows = LshNumHashes / LshBands
    val banded = withMinHashSignature(parallelizeSmallScan(docs), "text",
        LshNumHashes, 3)
      .select(col("doc_id"), col("minhash_sig"),
        explode(array((0 until LshBands).map { bi =>
          struct(lit(bi).as("band"),
            xxhash64(slice(col("minhash_sig"), bi * rows + 1, rows))
              .as("bhash"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("minhash_sig"),
        col("bb.band").as("band"), col("bb.bhash").as("bhash"))
    capBuckets(banded, maxBucket)
  }

  /** Keep each (band, bhash) bucket's `maxBucket` min-id rows — the
    * shared skew cap of the build and advance paths (and of the
    * one-shot [[minHashLshPairs]]). */
  private def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else banded
      .withColumn("__brank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bhash")
          .orderBy(col("doc_id"))))
      .filter(col("__brank") <= maxBucket)
      .drop("__brank")

  /** Advance a snapshot's band index with an ingest batch's rows,
    * re-applying the bucket cap to the UNION. Cap maintenance lives
    * HERE — on the advance job, which is already rewriting the index —
    * never on the ingest probe ([[incrementalMinHashPairs]] reads the
    * index as-is). Pass the SAME `maxBucket` used at build time. Because the
    * cap retains min-id exemplars, repeated advances are stable — an
    * over-cap bucket keeps its original exemplars and simply stops
    * admitting new members. */
  def advanceBandIndex(index: DataFrame, batchBands: DataFrame,
      maxBucket: Int): DataFrame =
    capBuckets(index.unionByName(batchBands), maxBucket)

  /** Signature-agreement Jaccard estimate — the verification step shared
    * by the one-shot and incremental LSH paths (and replayed verbatim by
    * the DuckDB oracle). */
  private def estJaccard(sigA: Column, sigB: Column): Column =
    round(size(filter(zip_with(sigA, sigB, (x, y) => x === y), m => m))
      .cast("double") / LshNumHashes, 4)

  /** Incremental (cross-snapshot) near-dup candidates: each incoming
    * batch doc is matched against the persisted corpus band index —
    * `(new_id, old_id, est_jaccard)` pairs at or above `LshThreshold`. The
    * streaming-ingest twin of [[minHashLshPairs]], and the near-dup
    * analogue of [[incrementalDedup]]: per-ingest cost is
    * O(|batch| · bands) probe rows hash-joined against the index on
    * uniformly-distributed `(band, bhash)` keys — independent of corpus
    * size, no self-join, no corpus re-scan, and no per-batch pass over
    * the index — the skew cap is a SNAPSHOT property, applied at build
    * time (`minHashBandIndex(maxBucket = ...)`) and re-applied on every
    * advance ([[advanceBandIndex]], which folds the batch's rows in and
    * re-caps the union so buckets can't grow unbounded across batches).
    * This function trusts the index it is given. */
  def incrementalMinHashPairs(batch: DataFrame, index: DataFrame)
      : DataFrame = {
    val idx = index.select(col("band"), col("bhash"),
      col("doc_id").as("old_id"), col("minhash_sig").as("old_sig"))
    minHashBandIndex(batch)
      .select(col("band"), col("bhash"),
        col("doc_id").as("new_id"), col("minhash_sig").as("new_sig"))
      .join(idx, Seq("band", "bhash"))
      .select(col("new_id"), col("old_id"), col("new_sig"), col("old_sig"))
      .distinct()
      .withColumn("est_jaccard", estJaccard(col("new_sig"), col("old_sig")))
      .filter(col("est_jaccard") >= LshThreshold)
      .select(col("new_id"), col("old_id"), col("est_jaccard"))
  }

  /** MinHash-LSH candidate pairs: split the signature into `LshBands`
    * bands of rows, bucket-join on (band index, band hash), then
    * estimate Jaccard from signature agreement and keep pairs at or
    * above `LshThreshold`. Buckets are capped at 100 min-id members.
    *
    * The band explode multiplies rows by `LshBands` (8×), the
    * join is an equi-join on the band bucket — the classic scale-out LSH
    * plan (shuffle keys are uniformly distributed hash values, no skew).
    */
  def minHashLshPairs(docs: DataFrame): DataFrame = {
    // materialize the signed+banded frame ONCE before the self-join:
    // without the barrier both join sides re-run the whole signature
    // chain (LshNumHashes hashes per shingle — the dominant cost) — the
    // d2/e3 double-eval pattern. The persisted-index path
    // (incrementalMinHashPairs) doesn't need this: its index side is
    // already parquet.
    val banded = minHashBandIndex(docs, maxBucket = 100)
      .localCheckpoint(eager = false)
    val a = banded.select(col("band"), col("bhash"),
      col("doc_id").as("a_id"), col("minhash_sig").as("a_sig"))
    val b = banded.select(col("band"), col("bhash"),
      col("doc_id").as("b_id"), col("minhash_sig").as("b_sig"))
    a.join(b, Seq("band", "bhash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sig"), col("b_sig"))
      .distinct()
      .withColumn("est_jaccard", estJaccard(col("a_sig"), col("b_sig")))
      .filter(col("est_jaccard") >= LshThreshold)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
  }

  /** Near-dup cluster canonicalization: connected components over the
    * candidate-pair graph, labeling every doc with the min doc id of its
    * component (`cluster_id`) and flagging the canonical survivor — the
    * step that turns pairwise similarity into dedup decisions.
    *
    * Algorithm: min-label propagation with pointer jumping (label(id) ←
    * label(label(id)) each round) — a round extends reach ~2×, so long
    * chains resolve in O(log diameter) rounds. Rounds are built LAZILY
    * in batches of 4; one convergence count per batch (not per round)
    * keeps driver-synchronous actions to a handful, and the tiny label
    * frame is coalesced so each materialization is a few tasks, not
    * shuffle-partition-many. Runs until a batch changes nothing or 32
    * rounds. */
  def nearDupClusters(docs: DataFrame, pairs: DataFrame, idCol: String,
      driverEdgeLimit: Long = 5000000L): DataFrame = {
    // Hybrid strategy. The pair list is the OUTPUT of blocked near-dup
    // detection — orders of magnitude smaller than the corpus (it plays
    // the same role as a broadcast join's small side). When it fits
    // comfortably on the driver, a local union-find + broadcast map join
    // beats a dozen distributed iterations (one job vs ~40); the
    // iterative path below remains for pair graphs that genuinely don't
    // fit (set driverEdgeLimit = 0 to force it). The corpus itself never
    // moves to the driver on either path. The (expensive) pair join is
    // checkpointed so the size probe, the collect, and the distributed
    // path's edge build all reuse one evaluation.
    val edgeList = pairs.select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = false)
    if (edgeList.count() <= driverEdgeLimit) {
      val edgeRows = edgeList.collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) {
          parent(r) = parent(parent(r)); r = parent(r)
        }
        r
      }
      edgeRows.foreach { e =>
        val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labelMap = parent.keys.map(k => (k, find(k))).toSeq
      val spark = docs.sparkSession
      import spark.implicits._
      val mapDf = labelMap.toDF("__cc_id", "__cc_lbl")
      return docs.select(col(idCol))
        .join(broadcast(mapDf), col(idCol) === col("__cc_id"), "left")
        .select(col(idCol),
          coalesce(col("__cc_lbl"), col(idCol)).as("cluster_id"))
        .withColumn("is_canonical", col(idCol) === col("cluster_id"))
    }
    distributedClusters(docs, edgeList, idCol)
  }

  /** Distributed connected-components path of [[nearDupClusters]];
    * `pairs` arrives checkpointed with columns (a_id, b_id). */
  private def distributedClusters(docs: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val (maxRounds, checkEvery) = (32, 4)
    // Adaptive width for the iterated frames: ~1 task per 50k label rows,
    // capped at cluster parallelism. A graph iteration runs dozens of
    // tiny stages — at shuffle-partition width each stage pays
    // tasks×overhead for near-empty tasks locally, while a hardcoded
    // small width would bottleneck a billion-row corpus.
    val width = math.max(1, math.min(
      docs.sparkSession.sparkContext.defaultParallelism,
      (docs.count() / 50000L).toInt))
    val edges = pairs
      .select(col("a_id").as("s"), col("b_id").as("t"))
      .union(pairs.select(col("b_id").as("s"), col("a_id").as("t")))
      .coalesce(width)
    var labels = docs.select(col(idCol).as("id"), col(idCol).as("lbl"))
      .coalesce(width)
      .localCheckpoint(eager = false)
    var converged = false
    var done = 0
    while (!converged && done < maxRounds) {
      val prev = labels
      for (_ <- 0 until checkEvery) {
        val nb = edges.join(labels, col("t") === col("id"))
          .groupBy(col("s")).agg(min(col("lbl")).as("nb_lbl"))
        val propagated = labels
          .join(nb, labels("id") === nb("s"), "left")
          // Spark least() skips nulls, so isolated nodes keep their label
          .select(col("id"), least(col("lbl"), col("nb_lbl")).as("lbl"))
        // pointer jumping: follow the label one hop (labels are doc ids)
        val l2 = propagated.select(col("id").as("pid"), col("lbl").as("plbl"))
        labels = propagated
          .join(l2, propagated("lbl") === l2("pid"), "left")
          .select(col("id"), coalesce(col("plbl"), col("lbl")).as("lbl"))
          .coalesce(width)
          .localCheckpoint(eager = false)
      }
      converged = labels
        .join(prev.select(col("id"), col("lbl").as("old")), Seq("id"))
        .filter(col("lbl") =!= col("old")).isEmpty
      done += checkEvery
    }
    labels.select(col("id").as(idCol), col("lbl").as("cluster_id"),
      (col("id") === col("lbl")).as("is_canonical"))
  }

  /** Benchmark decontamination, exact form: drop corpus docs whose
    * normalized-text fingerprint appears in the benchmark/eval set — the
    * standard "remove test-set leakage before training" step. The
    * benchmark side is tiny by construction (an eval set), so it
    * broadcasts; the corpus streams through an anti-join with no shuffle
    * of the corpus at all. */
  def decontaminateExact(
      corpus: DataFrame, bench: DataFrame, textCol: String): DataFrame = {
    val fps = bench
      .select(TextAnalysis.normHash(col(textCol)).as("__fp")).distinct()
    parallelizeSmallScan(corpus)
      .withColumn("__fp", TextAnalysis.normHash(col(textCol)))
      .join(broadcast(fps), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Benchmark decontamination, n-gram form: drop corpus docs sharing ANY
    * word n-gram with the benchmark set (the 8-to-13-gram collision test
    * used to scrub eval contamination that survives exact hashing —
    * paraphrases, partial copies). Shingles are hashed to longs; the
    * benchmark shingle set broadcasts; contaminated ids come from a
    * semi-join, survivors from an anti-join on id. */
  /** One (row per shingle-hash) projection shared by the n-gram
    * decontamination paths: tokenize once, shingle (string-distinct
    * inside [[ngramShinglesFromTokens]]), hash, explode. */
  private def shingleHashes(
      df: DataFrame, textCol: String, n: Int, cols: Column*): DataFrame =
    df.withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .select(cols :+ explode(
        transform(ngramShinglesFromTokens(col("__toks"), n),
          s => xxhash64(s))).as("__sh"): _*)

  /** Cross-GROUP shingle-overlap matrix — corpus forensics: which
    * sources/splits/snapshots leak into which (near-identical mirrors,
    * shared boilerplate, benchmark text syndicated across crawls).
    * Returns one row per group pair with ≥1 shared width-`n` word
    * shingle (`n` = 8): (a_group, b_group, shared_shingles, jaccard).
    *
    * Scale shape: the corpus collapses to DISTINCT (group, shingle-hash)
    * FIRST — the whole trick: after that collapse a shingle fans out at
    * most |groups| rows, so the self-join's worst bucket is |groups|²
    * pairs (group cardinality, e.g. 20 sources → ≤ 190 pairs TOTAL),
    * bounded by the group key, never by corpus size. One exchange on h
    * (window-free: per-group counts and the pair join share the
    * checkpointed collapse), one on the bounded (a, b) pair key. The
    * hash is the md5 recipe so the oracle re-derives identical counts. */
  def crossGroupOverlap(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val sh = docs
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .select(col(groupCol).as("__g"),
        explode(ngramShinglesFromTokens(col("__toks"), 8)).as("__s"))
      .select(col("__g"), md5Hash60(col("__s")).as("h"))
      .distinct()
      .localCheckpoint(eager = false) // per-group counts + pair join
    val per = sh.groupBy(col("__g")).agg(count(lit(1)).as("n"))
    val pairs = sh.select(col("__g").as("a_group"), col("h"))
      .join(sh.select(col("__g").as("b_group"), col("h")), Seq("h"))
      .filter(col("a_group") < col("b_group"))
      .groupBy(col("a_group"), col("b_group"))
      .agg(count(lit(1)).as("shared_shingles"))
    pairs
      .join(per.select(col("__g").as("a_group"), col("n").as("__na")),
        Seq("a_group"))
      .join(per.select(col("__g").as("b_group"), col("n").as("__nb")),
        Seq("b_group"))
      .select(col("a_group"), col("b_group"), col("shared_shingles"),
        round(col("shared_shingles") * lit(1.0)
          / (col("__na") + col("__nb") - col("shared_shingles")), 4)
          .as("jaccard"))
  }

  /** Ids of docs sharing ≥1 width-8 word shingle with a DIFFERENT
    * group — [[crossGroupOverlap]]'s matrix brought down to doc grain
    * (which documents carry the cross-source leak, not just which
    * source pairs leak): the per-doc column a dataset card (t39)
    * charges against each source.
    *
    * Scale shape: same trick as the matrix — the corpus first collapses
    * to DISTINCT (group, h); after that collapse a shingle matches at
    * most |groups| rows, so the doc-grain probe join fans out ≤
    * |groups|× per doc-shingle row (group cardinality, never corpus
    * size), on uniformly-distributed h. One shared shingle projection
    * behind a barrier feeds both sides. */
  def crossGroupContaminatedIds(docs: DataFrame, groupCol: String,
      idCol: String, textCol: String): DataFrame = {
    val docSh = docs
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol), col(groupCol).as("__g"),
        explode(ngramShinglesFromTokens(col("__toks"), 8)).as("__s"))
      .select(col(idCol), col("__g"), md5Hash60(col("__s")).as("h"))
      .localCheckpoint(eager = false) // group collapse + doc-grain probe
    val grpSh = docSh.select(col("__g").as("__og"), col("h")).distinct()
    docSh.join(grpSh, Seq("h"))
      .filter(col("__og") =!= col("__g"))
      .select(col(idCol)).distinct()
  }

  /** Ids of corpus docs sharing ≥1 word n-gram with the benchmark set —
    * the contaminated SET itself, for callers that label rather than
    * drop (e.g. [[Curation.curate]]'s audit output). The benchmark
    * shingle set is bounded by construction (eval suites are small), so
    * it broadcasts; the corpus side is a scan-side semi-join probe. */
  def contaminatedIdsNgram(
      corpus: DataFrame, bench: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val benchSh = shingleHashes(bench, textCol, n).distinct()
    shingleHashes(parallelizeSmallScan(corpus), textCol, n, col(idCol))
      .join(broadcast(benchSh), Seq("__sh"), "left_semi")
      .select(col(idCol)).distinct()
  }

  def decontaminateNgram(
      corpus: DataFrame, bench: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    corpus.join(contaminatedIdsNgram(corpus, bench, textCol, idCol, n),
      Seq(idCol), "left_anti")

  /** Graded n-gram contamination: for each corpus doc, the FRACTION of
    * its distinct word n-gram shingles that occur anywhere in the
    * benchmark set — the thresholdable form of [[decontaminateNgram]]'s
    * binary any-collision drop (real pipelines keep docs below e.g. 5%
    * overlap and only hard-drop above it). Same dataflow: the benchmark
    * shingle set broadcasts, the corpus is shingled once map-side, and
    * the per-doc tally is one combinable aggregate — integer counts and
    * a single int/int division, so the score is bit-identical across
    * engines with no rounding policy.
    *
    * The distinct is at the shingle-STRING level (inside
    * [[ngramShinglesFromTokens]]); hashes keep that multiplicity, so
    * `n_shingles` equals the count an engine without the hash
    * optimization computes. */
  def contaminationFraction(
      corpus: DataFrame, bench: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val benchSh = shingleHashes(bench, textCol, n)
      .distinct().withColumn("__hit", lit(1))
    shingleHashes(parallelizeSmallScan(corpus), textCol, n, col(idCol))
      .join(broadcast(benchSh), Seq("__sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_contaminated"))
      .withColumn("contamination_frac",
        col("n_contaminated") * lit(1.0) / col("n_shingles"))
  }

  /** Incremental (cross-snapshot) dedup — the ingest shape at 100 TB:
    * an already-deduped corpus persists only its FINGERPRINT INDEX
    * (the [[exactGroups]] output), and each incoming batch dedups
    * against that index without the existing corpus ever being re-read
    * or re-hashed. Within-batch dups keep the min-id doc (same policy
    * as d1/d6); cross-snapshot dups drop via a left-anti join that
    * hash-partitions both sides on the fingerprint — the index side is
    * corpus-sized, so no broadcast is assumed. Returns the batch
    * survivors; union their fingerprints into the index to advance the
    * snapshot. */
  def incrementalDedup(incoming: DataFrame, existingFps: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    // the fingerprinted batch feeds both the min-id agg and the semi-join
    // probe side on DIFFERENT keys, so without a barrier the scan +
    // per-row md5 runs twice (same fix as tokenJaccardPairs)
    val batch = parallelizeSmallScan(incoming)
      .withColumn("__fp", TextAnalysis.normHash(col(textCol)))
      .localCheckpoint(eager = false)
    val firstInBatch = batch.groupBy(col("__fp"))
      .agg(min(col(idCol)).as(idCol))
    batch.join(firstInBatch, Seq("__fp", idCol), "left_semi")
      .join(existingFps.select(col("fingerprint").as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
      // surfaced (not dropped) as `fingerprint`: the caller advancing the
      // snapshot needs exactly these values — recomputing md5 over the
      // survivor text would be a second full pass over the wide column
      .withColumnRenamed("__fp", "fingerprint")
  }

  /** Bloom-filter decontamination: the memory-constant form of
    * [[decontaminateExact]] for when even the distinct benchmark
    * fingerprint set is too wide to broadcast as an exact hash set. The
    * m-bit filter is built once from the benchmark side — the driver
    * collects only the distinct BIT POSITIONS (≤ k per benchmark doc,
    * bounded by construction exactly like the d7 broadcast; the corpus
    * side never leaves the executors) — and embedded as a literal
    * Array[Long]. The corpus-side membership test is k = 4 independently
    * seeded xxhash64 probes expressed as
    * pure column arithmetic over the literal words array, so the whole
    * filter stays inside whole-stage codegen: no UDF, no join, no
    * shuffle of the corpus. False positives only drop extra docs (the
    * safe direction for decontamination); false negatives are
    * impossible, so the survivors are always a subset of the exact
    * survivors — the d10 contract query asserts both properties.
    */
  def bloomDecontaminate(corpus: DataFrame, bench: DataFrame,
      textCol: String): DataFrame = {
    val k = 4
    // Size the filter to the benchmark: a fixed m saturates once
    // n ≈ m/(4·k) and the "safe" false positives silently eat the
    // corpus. 16 bits/entry at k=4 keeps fill ≈ 22% and the per-doc FP
    // rate ≈ 0.2% no matter how large the eval set grows; the extra
    // count() runs on the small side only. (Beyond ~10^8 entries the
    // literal bitset itself outgrows a task binary — shard the
    // benchmark and intersect survivor sets at that point.)
    val n = bench.select(TextAnalysis.normHash(col(textCol)))
      .distinct().count()
    // a power of two in [2^14, 2^30], so always a multiple of 64
    val next = java.lang.Long.highestOneBit(math.max(1L, 16L * n - 1L)) << 1
    val mBits = math.max(1L << 14, math.min(next, 1L << 30)).toInt
    // both sides derive probe positions from the SAME column expressions,
    // so the driver never needs to re-implement the hash; one xxhash64
    // per probe with a distinct literal seed column keeps the probes
    // independent without any long arithmetic (ANSI mode forbids the
    // classic h1 + i·h2 wrap)
    def positions(fp: Column): Seq[Column] =
      (0 until k).map(i => pmod(xxhash64(fp, lit(i)), lit(mBits.toLong)))
    val fp = TextAnalysis.normHash(col(textCol))
    val setBits = bench
      .select(explode(array(positions(fp): _*)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long](mBits / 64)
    setBits.foreach(p => words(p.toInt / 64) |= (1L << (p.toInt % 64)))
    val bits = typedLit(words.toSeq)
    val contaminated = positions(fp).map { p =>
      val word = element_at(bits, (p / 64).cast("int") + 1)
      call_function("shiftright", word, (p % 64).cast("int"))
        .bitwiseAND(lit(1L)) === 1L
    }.reduce(_ && _)
    parallelizeSmallScan(corpus).filter(!contaminated)
  }

  /** Per-bit majority vote over an array-of-hashes column — the SimHash
    * core shared by the token ([[signedSimHashFrame]]) and byte-shingle
    * ([[signedPayloadSimHashFrame]]) forms: bit j of the fingerprint is the
    * sign of Σ_elements (bit_j(h) ? +1 : −1).
    *
    * r15: the per-bit `aggregate(hashes, …)` column form walked the
    * hash array once per bit with an interpreted lambda per element —
    * 60 traversals per document, ~2/3 of d4's task time in the stage
    * profile. Now the one-pass native expression
    * [[graft.functions.SimHashSignature]] (codegen, fused vote loop);
    * bit-for-bit parity with the old form — including the null-element
    * −1 vote and the null/empty-array → 0 fingerprint — is pinned in
    * FunctionsSpec. */
  private def simHashOf(hashes: Column): Column =
    graft.functions.SimHashSignature.simhash_signature(hashes, SimHashBits)

  /** Fingerprint width of the SimHash family: 60, the width of its
    * [[md5Hash60]] base hash, in 4 equal 15-bit chunks. */
  private val SimHashBits = 60

  /** SimHash near-dup signatures over text, as a lazily-checkpointed
    * (doc_id, simhash) frame — build ONCE and share between candidate
    * generation ([[simHashPairsFromSigned]]) and signature emission: the
    * vote pass (per-token hash + one sign vote per bit) is the SimHash
    * family's dominant cost, and a query that both emits signatures and
    * counts candidates must not pay it twice. Bit j of the fingerprint is
    * the sign of Σ_tokens (bit_j(h(token)) ? +1 : −1); near-dup docs
    * differ in few bits (small Hamming distance). The token hash is
    * [[md5Hash60]] and the fingerprint has its 60 bits, so the oracle
    * replays it. */
  def signedSimHashFrame(docs: DataFrame): DataFrame = {
    // per-token hashes staged in their own projection: the per-bit vote
    // aggregates reference them once per bit, and inlined they would be
    // recomputed per bit (same interpreted-lambda pitfall as
    // withMinHashSignature — see that Scaladoc)
    val staged = parallelizeSmallScan(docs).withColumn("__sh_hashes",
      transform(TextAnalysis.tokens(col("text")), t => md5Hash60(t)))
    staged.withColumn("simhash", simHashOf(col("__sh_hashes")))
      .drop("__sh_hashes")
      .select(col("doc_id"), col("simhash"))
      .localCheckpoint(eager = false)
  }

  /** [[signedSimHashFrame]]'s byte-payload twin (the m6 shape, where the
    * stride-1 shingle explode makes the double-compute ~charsPerDoc×
    * heavier than the word-grain case): SimHash over 16-byte shingles
    * of the binary `payload` column — the token-free form for media
    * blobs, where there is no tokenizer to lean on (VERDICT r7 item 3:
    * the d4-for-bytes analog). Shingle i is `substr(payload, i, 16)` for
    * every byte offset i = 1, 2, …, so an insertion that shifts the byte
    * stream still leaves the two payloads sharing all shingles outside
    * the edit (the alignment-robustness a stride > 1 sample forfeits: a
    * shifted copy's sampled offsets land between the original's and the
    * shingle sets decorrelate). Payloads shorter than 16 bytes are
    * dropped (no shingle to vote; also keeps `sequence()` ascending —
    * Spark counts DOWN on an empty range). The explode-free `transform`
    * keeps the signature one projection. */
  def signedPayloadSimHashFrame(docs: DataFrame): DataFrame = {
    val (width, stride) = (16, 1)
    val n = length(col("payload"))
    val staged = parallelizeSmallScan(docs)
      .filter(col("payload").isNotNull && n >= width)
      .withColumn("__sh_hashes",
        transform(sequence(lit(1), n - (width - 1), lit(stride)),
          i => md5Hash60(col("payload").substr(i, lit(width)))))
    staged.withColumn("simhash", simHashOf(col("__sh_hashes")))
      .drop("__sh_hashes")
      .select(col("doc_id"), col("simhash"))
      .localCheckpoint(eager = false)
  }

  /** SimHash near-dup pairs over a pre-signed (doc_id, simhash) frame
    * ([[signedSimHashFrame]] / [[signedPayloadSimHashFrame]]): block on
    * 4×15-bit chunks (any chunk equal → candidate), verify
    * bit_count(xor) ≤ 3.
    *
    * Recall contract: 4 chunks ⇒ any pair within Hamming 3 shares a
    * chunk (the pigeonhole guarantee) — never all-pairs: candidates come
    * only from equal chunk buckets, each capped at 100 members (the
    * skew guard), so a 100 TB corpus pays one bounded bucket join. */
  def simHashPairsFromSigned(signed: DataFrame): DataFrame = {
    val chunkWidth = SimHashBits / 4
    val chunkMask = (1L << chunkWidth) - 1
    val chunked = signed.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { ci =>
        struct(lit(ci).as("chunk"),
          shiftright(col("simhash"), ci * chunkWidth).bitwiseAND(chunkMask)
            .as("ckey"))
      }: _*)).as("cc"))
      .select(col("doc_id"), col("simhash"),
        col("cc.chunk").as("chunk"), col("cc.ckey").as("ckey"))
      // same skew guard as MinHash-LSH: near-uniform corpora can
      // collapse a chunk into one giant bucket.
      .withColumn("__bsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("chunk", "ckey")))
      .filter(col("__bsize") <= 100)
      .drop("__bsize")
      // barrier before the self-join (same as minHashLshPairs): both
      // sides would otherwise re-run the per-token simhash signature
      .localCheckpoint(eager = false)
    val a = chunked.select(col("chunk"), col("ckey"),
      col("doc_id").as("a_id"), col("simhash").as("a_sim"))
    val b = chunked.select(col("chunk"), col("ckey"),
      col("doc_id").as("b_id"), col("simhash").as("b_sim"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sim"), col("b_sim"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Substring-level duplication profile at arbitrary LENGTH — the
    * duplicated-passage pass the fixed-n-gram family (d5/d8/d13) can't
    * express. Semantics (state them precisely — they are the
    * Bloom-filter span-removal semantics of production LLM-corpus
    * dedup à la Dolma's BFF, not Lee et al.'s suffix-array exactness):
    * a run is a maximal span in which EVERY width-shingle occurs ≥ 2
    * times corpus-wide. Every true duplicated substring
    * of L ≥ width tokens yields a run of length ≥ L (completeness: all
    * its L−width+1 shingles are duplicated), and a run from a SINGLE
    * duplication source has exactly the duplicated substring's length
    * (the planted-passage and full-doc-dup fixtures) — but duplicated
    * windows from DIFFERENT partners can chain, so a run is an upper
    * ENVELOPE of exact duplicated substrings, not always one verbatim
    * duplicate (DedupSpec pins the chaining case). That envelope is
    * the span such pipelines actually redact — and it needs no suffix
    * array and no pair join.
    *
    * Stages, all integer-exact (oracles like d17):
    *  1. per-position width-token shingles (map-side explode:
    *     |tokens| rows, narrow);
    *  2. duplicated-shingle set = md5-hash group with ≥ 2
    *     occurrences (within- OR cross-document — one map-side-
    *     combinable hash aggregate);
    *  3. mark positions via a LEFT SEMI join on the hash — the
    *     bucket-key equi-join discipline (d14): there is NO candidate
    *     pair stage anywhere, the operator is strictly linear in token
    *     count;
    *  4. gaps-and-islands (pos − row_number per doc) groups consecutive
    *     duplicated positions into runs; per-doc rollup emits run
    *     count, longest duplicated span (run + width − 1 tokens) and
    *     total duplicated-shingle mass.
    *
    * Scale shape: one hash exchange on the shingle hash (agg + semi
    * join share it via exchange reuse), one doc-keyed window, one
    * doc-keyed aggregate — no skew trap (a pathological shingle
    * repeated 10⁹ times adds ROWS to one group's count, never a pair
    * blowup, because nothing ever joins bucket-members to each other).
    * Docs shorter than `width` tokens contribute no shingles and
    * report zeros via the corpus left join. */
  def substringRuns(docs: DataFrame, idCol: String, textCol: String,
      width: Int, shingles: DataFrame): DataFrame = {
    // `shingles`: a pre-built [[positionedShingleFrame]] of the SAME
    // docs/width behind a materialization barrier (the dup aggregate and
    // the semi-join probe both read it) — lets callers that run several
    // span operators over one corpus (d18 + d20) pay the md5 shingle
    // explode once (the TradingRank sharing pattern)
    requireShingleFrame(shingles, width, docs, idCol, textCol)
    val dup = shingles.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("h"))
    runProfile(shingles.join(dup, Seq("h"), "left_semi"), docs, idCol, width)
  }

  /** Canonical-plan identity of the (id, text) projection a shingle
    * frame was built from — `semanticHash` of the analyzed plan: free
    * (no job), stable within a session, and insensitive to cosmetic
    * attribute-id differences, so two calls deriving the same corpus
    * the same way agree while a different source/filter/column choice
    * does not. */
  private def docsStamp(docs: DataFrame, idCol: String,
      textCol: String): Long =
    docs.select(col(idCol), col(textCol))
      .queryExecution.analyzed.semanticHash().toLong

  /** Per-position width-token shingle hashes (doc_id, pos, h) — the
    * frame [[substringRuns]] and [[exactDupSpan]] consume, built once by
    * callers composing several span operators over one corpus. The
    * caller owns the materialization barrier.
    * The shingle width AND a corpus-identity stamp ([[docsStamp]]) are
    * stamped into the `h` column's metadata, so a consumer built for a
    * DIFFERENT width — or joining the frame against different docs or
    * a different id/text projection, which would silently yield wrong
    * span caps — fails loudly instead. */
  def positionedShingleFrame(docs: DataFrame, idCol: String,
      textCol: String, width: Int): DataFrame =
    positionedShingles(docs, idCol, textCol, width)
      .withColumn("h", col("h").as("h",
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("shingleWidth", width)
          .putLong("docsHash", docsStamp(docs, idCol, textCol)).build()))

  /** Contract check for an injected `shingles` frame: the exact
    * (doc_id, pos, h) shape, and — when the frame carries
    * [[positionedShingleFrame]]'s stamps — the SAME width the consumer
    * will use for its run/span arithmetic and the SAME corpus identity
    * it will tokenize and join against. */
  private def requireShingleFrame(f: DataFrame, width: Int,
      docs: DataFrame, idCol: String, textCol: String): Unit = {
    require(f.columns.toSeq.sorted == Seq("doc_id", "h", "pos"),
      s"shingles frame must be (doc_id, pos, h), got ${f.columns.toSeq}")
    val m = f.schema("h").metadata
    require(!m.contains("shingleWidth") || m.getLong("shingleWidth") == width,
      s"shingles frame was built at width ${m.getLong("shingleWidth")} " +
        s"but the consumer runs at width $width")
    require(!m.contains("docsHash") ||
        m.getLong("docsHash") == docsStamp(docs, idCol, textCol),
      "shingles frame was built from a DIFFERENT docs frame (or a " +
        "different id/text projection) than the consumer's — span caps " +
        "would be silently wrong")
  }

  /** Per-position width-token shingle hashes: (doc_id, pos, h) —
    * the shared front half of [[substringRuns]] /
    * [[substringRunsAgainstIndex]] / [[shingleIndex]], and the ONE copy
    * of the shingle-hash recipe (md5 → 15 hex digits → 60-bit long). */
  private def positionedShingles(docs: DataFrame, idCol: String,
      textCol: String, width: Int): DataFrame = {
    require(width >= 2, "width must be at least 2 tokens")
    tokenized(docs, idCol, textCol, width)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${width - 1}), " +
          s"i -> array_join(slice(toks, i, $width), ' '))")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        conv(substring(md5(col("col").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
  }

  /** (doc_id, toks) with sub-width docs dropped — the filter, not
    * greatest(): Spark's sequence(1, 0) counts DOWN ([1, 0]) instead
    * of emitting empty, so short docs must never reach the transform. */
  private def tokenized(docs: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame =
    parallelizeSmallScan(docs)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= width)

  /** Gaps-and-islands run extraction + per-doc rollup over a frame of
    * MARKED (duplicated / index-hit) shingle positions — the shared
    * back half of the substring-dedup family. */
  private def runProfile(marked: DataFrame, docs: DataFrame,
      idCol: String, width: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val runs = marked
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), (col("pos") - col("rn")).as("island"))
      .agg(count(lit(1)).as("run_shingles"))
    val perDoc = runs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_runs"),
        (max(col("run_shingles")) + lit(width - 1).cast("long"))
          .as("longest_dup_tokens"),
        sum(col("run_shingles")).as("dup_shingles"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_runs"), lit(0L)).as("n_dup_runs"),
        coalesce(col("longest_dup_tokens"), lit(0L))
          .as("longest_dup_tokens"),
        coalesce(col("dup_shingles"), lit(0L)).as("dup_shingles"))
  }

  /** Distinct shingle-hash index of a corpus snapshot — the persisted
    * artifact [[substringRunsAgainstIndex]] probes (the d11/d12
    * incremental-ingest discipline: build once at snapshot time, write
    * to the warehouse, probe per batch). */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame =
    positionedShingles(docs, idCol, textCol, width)
      .select(col("h")).distinct()

  /** INCREMENTAL span dedup — the production ingest form of
    * [[substringRuns]] (Bloom-filter span redaction à la Dolma's BFF,
    * done exactly against a relational index): mark each batch
    * position whose shingle is ALREADY IN the snapshot index, extract
    * maximal hit runs, report per batch doc. The snapshot corpus is
    * never re-read — the batch probes the (distinct-hash) index with
    * one semi join. MEASURED scale shape (the probe both ways; numbers
    * live in ONE place — EXPLAIN.md's "Round-6 (6)" d18/d19 table,
    * measured by a scale harness last present at commit c6c1c21):
    * batch cost is flat, but probing an
    * UNBUCKETED index re-shuffles the whole index per ingest, so
    * probe time grows with snapshot size; persisting the index
    * BUCKETED BY h (the s12 layout) restores measured flatness —
    * only the batch shuffles to the bucket count, the index scans in
    * place with no exchange. Flat ingest is a LAYOUT property,
    * demonstrated, not assumed. Same
    * envelope semantics as substringRuns; within-BATCH duplication is
    * deliberately NOT flagged here (that is a substringRuns pass over
    * the batch) — this operator answers "which spans has the corpus
    * already seen". */
  def substringRunsAgainstIndex(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String, width: Int): DataFrame = {
    val sh = positionedShingles(batch, idCol, textCol, width)
    runProfile(sh.join(index.select(col("h")), Seq("h"), "left_semi"),
      batch, idCol, width)
  }

  /** EXACT longest duplicated token span — the Lee et al.
    * exact-substring semantics ("Deduplicating Training Data Makes
    * Language Models Better", ExactSubstr) as the exact COMPLEMENT of
    * [[substringRuns]]' envelope: a duplicated-shingle run only BOUNDS
    * the true span (its shingles may each recur somewhere unrelated),
    * so run + width − 1 over-reports. This computes the real maximum:
    * the longest token sequence occurring at ≥ 2 distinct (doc, pos)
    * positions, capped at `maxLen` tokens and floored at `width`
    * (spans shorter than one shingle are invisible to the candidate
    * generator and out of scope — the envelope family's grain).
    *
    * Algorithm: BINARY SEARCH over span length L with one distributed
    * duplicate-check per probe. Candidate completeness lemma: every
    * width-window inside a duplicated L-span is itself duplicated (it
    * recurs at the matching offset of the other occurrence), so the
    * span's start sits in a marked island whose tail extends ≥
    * L − width shingles — probes therefore explode the ACTUAL text of
    * only those candidate positions and group by the substring itself:
    * exact, no hash-collision caveat anywhere in the reported value.
    * Monotonicity (an L-dup's prefix is an (L−1)-dup at the same two
    * positions) makes the search sound.
    *
    * Scale shape: the shingle mark-up is d18's single hash exchange;
    * each of the ≤ log₂(maxLen − width) probes is one bounded
    * substring group-by over candidate rows ONLY (duplicated-run mass,
    * not the corpus — on a lightly-duplicated 100-TB corpus that is
    * orders of magnitude below |tokens|). The probe verdicts are
    * 1-value driver reads — the pageRankConverged residual class of
    * bounded driver decisions. Returns ONE row
    * (longest_exact_dup_tokens, n_occurrences, n_docs), zeros when no
    * span of ≥ width tokens repeats. */
  def exactDupSpan(docs: DataFrame, idCol: String, textCol: String,
      width: Int, maxLen: Int, shingles: DataFrame): DataFrame = {
    require(width >= 2, "width must be at least 2 tokens")
    require(maxLen >= width, "maxLen must be at least the shingle width")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    // `shingles`: [[substringRuns]]' materialized shingle frame of the
    // same docs/width (the dup agg and the semi probe share it)
    requireShingleFrame(shingles, width, docs, idCol, textCol)
    val toksF = tokenized(docs, idCol, textCol, width)
      .localCheckpoint(eager = false) // every probe slices from it
    val dup = shingles.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("h"))
    // span_cap(pos) = the longest span STARTING at pos whose every
    // width-window is duplicated = (island's last shingle − pos) + width
    val marked = shingles.join(dup, Seq("h"), "left_semi")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .withColumn("island", col("pos") - col("rn"))
    val support = marked
      .withColumn("maxpos", max(col("pos")).over(
        Window.partitionBy(col("doc_id"), col("island"))))
      .select(col("doc_id"), col("pos"),
        (col("maxpos") - col("pos") + lit(width.toLong)).as("span_cap"))
      .localCheckpoint(eager = false) // probed ≤ log₂(maxLen) times
    def candidates(l: Int): DataFrame = support
      .filter(col("span_cap") >= l)
      .join(toksF, Seq("doc_id"))
      // posexplode's pos is 0-based (the d18 oracle's documented offset
      // convention); slice is 1-based
      .select(col("doc_id"),
        expr(s"array_join(slice(toks, CAST(pos + 1 AS INT), $l), ' ')").as("s"))
    def exists(l: Int): Boolean = {
      val c = candidates(l)
      c.groupBy(col("s")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).limit(1).count() > 0
    }
    import spark.implicits._
    if (!exists(width))
      return Seq((0L, 0L, 0L))
        .toDF("longest_exact_dup_tokens", "n_occurrences", "n_docs")
    var lo = width // exists(lo) just proved true
    if (maxLen > width) {
      if (exists(maxLen)) lo = maxLen
      else {
        // exists(maxLen) just proved false — search strictly inside
        // (lo, maxLen) so neither endpoint's probe job re-runs
        var hi = maxLen
        while (hi - lo > 1) {
          val mid = (lo + hi) / 2
          if (exists(mid)) lo = mid else hi = mid
        }
      }
    }
    val cand = candidates(lo).localCheckpoint(eager = false)
    val groups = cand.groupBy(col("s")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("s"))
    cand.join(groups, Seq("s"), "left_semi")
      .agg(lit(lo.toLong).as("longest_exact_dup_tokens"),
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
  }

  /** MinHash-LSH banding calibration — the S-curve table that CONFIGURES
    * [[minHashLshPairs]]/[[minHashBandIndex]] before anyone runs them at
    * petabyte scale (Leskovec/Rajaraman/Ullman, MMDS ch. 3): for `n`
    * total hashes, every factorization (bands b, rows r = n/b) has
    * candidate probability p(s) = 1 − (1 − s^r)^b at Jaccard s. Per
    * config: p at the target threshold, the curve's 50% crossover
    * similarity (1 − 2^(−1/b))^(1/r), and the expected false-positive /
    * false-negative prob mass (uniform-grid integrals of p below t and
    * 1−p above t); `selected` marks the config minimizing fp+fn mass.
    *
    * Pure generated arithmetic — |divisors(n)| · (grid+1) rows, no
    * corpus scan; the output is driver-sized BY NATURE (it's a config
    * table), the opposite of a scale risk. Float policy: every p(s) is
    * rounded (6) per grid point, masses sum those rounded values as
    * exact decimals, so both engines integrate identical grids. */
  def lshCalibration(spark: org.apache.spark.sql.SparkSession,
      numHashes: Int, threshold: Double): DataFrame = {
    val gridN = 100
    val p = round(lit(1.0) -
      pow(lit(1.0) - pow(col("s"), col("rows_per_band")), col("bands")), 6)
    val curve = spark.range(1L, numHashes + 1L)
      .filter(lit(numHashes) % col("id") === 0)
      .select(col("id").as("bands"), (lit(numHashes) / col("id"))
        .cast("long").as("rows_per_band"))
      .select(col("bands"), col("rows_per_band"),
        explode(sequence(lit(0), lit(gridN))).as("i"))
      .withColumn("s", col("i").cast("double") / gridN)
      .withColumn("p", p)
      .localCheckpoint(eager = false) // masses + threshold row share it
    val masses = curve.groupBy(col("bands"), col("rows_per_band"))
      .agg(
        round(sum(when(col("s") < threshold, col("p")).otherwise(lit(0.0))
          .cast("decimal(38,6)")) / (gridN + 1), 6).cast("double")
          .as("fp_mass"),
        round(sum(when(col("s") >= threshold, lit(1.0) - col("p"))
          .otherwise(lit(0.0)).cast("decimal(38,6)")) / (gridN + 1), 6)
          .cast("double").as("fn_mass"))
      .withColumn("p_at_threshold", round(lit(1.0) -
        pow(lit(1.0) - pow(lit(threshold), col("rows_per_band")), col("bands")), 6))
      .withColumn("crossover_sim", round(
        pow(lit(1.0) - pow(lit(0.5), lit(1.0) / col("bands")),
          lit(1.0) / col("rows_per_band")), 6))
      .withColumn("cost", round(col("fp_mass") + col("fn_mass"), 6))
    val best = masses.agg(min(col("cost")).as("__best"))
    masses.crossJoin(broadcast(best))
      .select(col("bands"), col("rows_per_band"), col("p_at_threshold"),
        col("crossover_sim"), col("fp_mass"), col("fn_mass"),
        (col("cost") === col("__best")).as("selected"))
  }

  /** C4-style LINE-level exact dedup across the corpus (Raffel et al.
    * 2020 §2.2's "discard all but one of any three-sentence span", at
    * the line grain RefinedWeb/FineWeb actually ship): every line keeps
    * its FIRST occurrence in (`idCol`, position) order and is removed
    * everywhere else; docs shrink, they are not dropped. Input text must
    * already carry '\n' line structure (segmentation is the caller's
    * corpus convention). Output per doc: `n_lines`, `n_kept`, and the
    * reconstructed `kept_text` (kept lines re-joined in position order).
    *
    * Scale shape at 100 TB — the skew story IS the operator: the naive
    * plan is a window `row_number() OVER (PARTITION BY line)`, and a
    * boilerplate line present in 1/6 of a 100 TB corpus makes that ONE
    * window partition — a skew bomb no AQE setting fixes (windows
    * can't split a partition). Instead the keeper election is an
    * AGGREGATE (`min(struct(doc_id, pos))` per line — lexicographic
    * struct ordering IS (doc, pos) order, with no packed-key width
    * bound, so a pathological million-line document elects correctly
    * instead of colliding into a neighbor's key space): map-side
    * combine collapses a heavy line to ≤ one row per task BEFORE the
    * exchange, so the hottest key ships #partitions rows, not corpus
    * rows. The keeper mark then joins back on the COMPOSITE
    * (line, struct) key — doc_id inside the key spreads the hot line
    * uniformly, so the mark join has no hot partition either. One
    * line-grain explode (the honest cost every line-dedup pays), two
    * uniform exchanges, one doc-grain reassembly agg. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val lines = docs
      .select(id, posexplode(split(col(textCol), "\n"))
        .as(Seq("__pos", "__line")))
      .withColumn("__k", struct(id.as("__d"), col("__pos").as("__p")))
      .localCheckpoint(eager = false) // election + mark join both read it
    val keepers = lines.groupBy(col("__line"))
      .agg(min(col("__k")).as("__k"))
      .withColumn("__keep", lit(true))
    lines
      .join(keepers, Seq("__line", "__k"), "left")
      .groupBy(id)
      .agg(count(lit(1)).as("n_lines"),
        graft.operators.Summaries.countIf(col("__keep")).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__line"))))),
          s => s("__line")), "\n").as("kept_text"))
  }

  /** INTRA-document line dedup — the WITHIN-doc half of the RefinedWeb
    * line-wise corrections (Penedo et al. 2023 §3.1.3: repeated
    * lines/headers/footers inside one page are removed before any
    * corpus-wide pass): each line keeps its first occurrence *within
    * its own document*; later copies in the same doc are cut. Same
    * output contract as [[lineDedup]] (`n_lines`, `n_kept`,
    * `kept_text` reassembled in original order), different grain —
    * and therefore a fundamentally different (better) scale shape.
    *
    * Scale shape at 100 TB: ZERO shuffles. Because the dedup scope is
    * one row's own text, the whole operator is a per-row projection —
    * `array_distinct(lines)` keeps exactly the first occurrences
    * (Spark's ArrayDistinct walks the array once through a hash set,
    * preserving first-occurrence order), entirely inside whole-stage
    * codegen, embarrassingly parallel, no exchange of any kind (the
    * corpus-grain [[lineDedup]] must pay a line-grain explode plus two
    * exchanges — this one pays nothing beyond the scan). The hash-set
    * form is O(L) per doc in line count L, so even a pathological
    * multi-million-line document costs one linear pass in one task —
    * no quadratic straggler (IntraDocLineDedupSpec pins a ≥100k-line
    * doc). NULL text coalesces to "" at entry (split never sees NULL,
    * so such a doc yields n_lines=1, n_kept=1, kept_text="" rather
    * than a NULL-propagated row the SQL replay would drop). Run this
    * BEFORE [[lineDedup]] at scale: it shrinks the explode the corpus
    * pass pays for free. */
  def intraDocLineDedup(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    docs
      .select(col(idCol),
        split(coalesce(col(textCol), lit("")), "\n").as("__ls"))
      .select(col(idCol), col("__ls"),
        array_distinct(col("__ls")).as("__kept"))
      .select(col(idCol),
        size(col("__ls")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), "\n").as("kept_text"))
  }
}
