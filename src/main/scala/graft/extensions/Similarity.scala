package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ArrayType(FloatType)`,
  * SURVEY.md §7.4).
  *
  * Two tiers: brute-force cosine top-k (the correctness baseline — a
  * broadcast of the query vector + one scan, fine at any corpus size for
  * a single query), and an LSH-bucketed ANN variant (random-hyperplane
  * signatures; the scale path when querying many vectors — candidate
  * generation becomes an equi-join on bucket keys instead of a full
  * scan per query).
  *
  * All arithmetic is `zip_with`/`aggregate` array built-ins in double
  * precision with a fixed left-to-right fold — deterministic across
  * partitionings.
  */
object Similarity {

  /** Elementwise dot product in double precision (fixed fold order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Built-in-functions cosine (3 array traversals + intermediate
    * allocation) — kept as the cross-check reference for the native
    * expression below. */
  def cosineBuiltin(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine via the native codegen'd Catalyst expression
    * ([[graft.functions.CosineSimilarity]]): one fused loop, no
    * allocation, bit-identical result (same index-order double
    * accumulation). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine_sim(a, b)

  /** Brute-force cosine top-k against the embedding of `queryId`.
    * The 1-row query side is broadcast; `orderBy.limit` plans as
    * TakeOrderedAndProject (per-partition heap, no global sort). */
  def bruteForceTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val query = embeddings
      .filter(col("vec_id") === queryId)
      .select(col("embedding").as("query_vec"))
    embeddings
      .crossJoin(broadcast(query))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        round(cosine(col("embedding"), col("query_vec")), 4).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic hyperplanes, generated once on the driver from a
    * fixed seed and embedded as array literals — reproducible across
    * runs/executors, and the per-row cost is a plain dot product instead
    * of per-element hash evaluation (~20× cheaper at 64 dims). */
  private def planeMatrix(numPlanes: Int, dims: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(42L)
    Array.fill(numPlanes, dims)(rnd.nextDouble() * 2 - 1)
  }

  /** Random-hyperplane (SRP) signature: bit p = sign(v · plane_p).
    * Planes have 64 components, which must be ≥ the embedding dimension
    * (extra components are ignored; shorter vectors degrade to fewer
    * effective planes, which only costs recall, not correctness).
    *
    * Computed by the native fused expression
    * ([[graft.functions.SrpSignature]]): the former per-plane
    * `aggregate(zip_with(…))` column form walked (and allocated over)
    * the embedding once per plane in the interpreted HOF evaluator —
    * 8–16 traversals per vector on the e2/e3/e9/e11 signing paths; the
    * native expression fuses the (dims × planes) arithmetic into one
    * codegen'd loop, bit-identical signatures (parity pinned in
    * FunctionsSpec). */
  def srpSignature(vec: Column, numPlanes: Int): Column = {
    require(numPlanes >= 1 && numPlanes <= 64,
      s"numPlanes ($numPlanes) must be in [1,64] — the signature packs " +
        "one bit per plane into a 64-bit long; 1L << p wraps mod 64 and " +
        "would silently alias planes onto shared bits")
    graft.functions.SrpSignature.srp_signature(
      vec, planeMatrix(numPlanes, 64))
  }

  /** LSH-bucketed ANN: bucket = SRP signature; search the query's bucket
    * plus buckets within `probeHamming` bit flips (multi-probe). The
    * recall/scan-fraction tradeoff is (numPlanes, probeHamming): more
    * planes → smaller buckets, larger probe radius → more of them.
    * Measured on the synthetic corpus (no cluster structure — the hard
    * case): planes=6/probe=2 scans ~1/3 of the corpus for recall@10 ≥
    * 0.7; tighter settings scan less and recall less (see
    * e5_ann_recall's driver-checked contract). */
  def annTopK(embeddings: DataFrame, queryId: Long, k: Int,
      numPlanes: Int, probeHamming: Int = 1): DataFrame = {
    val signed = embeddings.withColumn("bucket",
      srpSignature(col("embedding"), numPlanes))
    val query = signed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("query_vec"), col("bucket").as("qbucket"))
    val candidates = signed
      .crossJoin(broadcast(query))
      .filter(col("vec_id") =!= queryId)
      .filter(bit_count(col("bucket").bitwiseXOR(col("qbucket")))
        <= probeHamming)
    candidates
      .select(col("vec_id"), col("label").cast("long").as("label"),
        round(cosine(col("embedding"), col("query_vec")), 4).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-style ANN: a coarse quantizer partitions the corpus into 16
    * cells; queries probe only the 4 nearest cells.
    *
    * The quantizer picks the first 16 vectors by id as centroids
    * (deterministic seeding, [[kMeansCentroids]] with no Lloyd pass): a
    * bounded broadcast centroid table, one argmin-assign pass,
    * equi-join on cell id. The scan per query drops from N to
    * ~N·4/16 — the IVF scale path alongside the SRP-LSH one. */
  def ivfTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val nprobe = 4
    val centroids = broadcast(kMeansCentroids(embeddings, 16, 0))
    val assigned = assignCells(embeddings, centroids)
    val probeCentroids = centroids
      .select(col("cell_id").as("probe_cell"), col("centroid"))
    val queryCells = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("query_vec"))
      .crossJoin(probeCentroids)
      .select(col("query_vec"), col("probe_cell"),
        (-cosine(col("query_vec"), col("centroid"))).as("qdist"))
      .orderBy(col("qdist"), col("probe_cell"))
      .limit(nprobe)
      .drop("qdist")
    assigned
      .join(broadcast(queryCells), col("cell_id") === col("probe_cell"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        round(cosine(col("embedding"), col("query_vec")), 4).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Nearest-centroid assignment as ONE narrow map pass: the centroid
    * table is folded into a single broadcast array-of-structs row and the
    * argmin is a per-row `array_min` over it (lexicographic min over
    * (distance, cell_id) — deterministic ties, same semantics as the
    * former `groupBy(vec_id).agg(min(struct(…)))` form). At 100 TB this
    * matters: the old crossJoin+groupBy shape inflated the wide-vector
    * corpus ×k and shuffled all of it; this shape shuffles nothing. */
  private def assignCells(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val centroidArr = centroids.agg(
      array_sort(collect_list(struct(col("cell_id"), col("centroid"))))
        .as("__cents"))
    embeddings
      .crossJoin(broadcast(centroidArr))
      .withColumn("cell_id",
        array_min(transform(col("__cents"), c => struct(
          (-cosine(col("embedding"), c.getField("centroid"))).as("dist"),
          c.getField("cell_id").as("cell_id"))))
          .getField("cell_id"))
      .drop("__cents")
  }

  /** Coarse-quantizer training: deterministic first-k seeding plus
    * `iters` Lloyd k-means passes, entirely as DataFrame ops. Each pass
    * is one argmin-assign ([[assignCells]] — a shuffle-free map over the
    * broadcast centroid array) and one per-dimension mean (posexplode →
    * grouped avg → re-assembled array) — one shuffle per iteration, no
    * driver math, so the same loop trains on 10⁹ vectors. Empty cells keep
    * their previous centroid (the standard Lloyd fallback). */
  def kMeansCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    // genuinely the first k vectors BY ID (TakeOrdered, cheap) — a
    // `vec_id < k` filter would silently yield fewer/zero centroids on
    // corpora whose ids are not dense from 0 (shard offsets, gaps)
    var centroids = embeddings
      .orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
    for (_ <- 0 until iters) {
      val assigned = assignCells(embeddings, centroids)
        .select(col("cell_id"), col("embedding"))
      val means = assigned
        .select(col("cell_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell_id"), col("pos"))
        // decimal-exact mean: a double avg() sums in shuffle arrival
        // order, so centroids (and hence argmin cell assignments) would
        // drift run-to-run; decimal accumulation is partition-order
        // independent (same policy as the oracle determinism rules)
        .agg((sum(col("v").cast("decimal(38,12)")) / count(lit(1)))
          .cast("double").as("m"))
        .groupBy(col("cell_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m").cast("float")).as("centroid"))
      // empty cells (no vectors assigned) fall back to the previous
      // centroid so the cell count stays k
      centroids = centroids.select(col("cell_id"),
          col("centroid").as("prev_centroid"))
        .join(means, Seq("cell_id"), "left")
        .select(col("cell_id"),
          coalesce(col("centroid"), col("prev_centroid")).as("centroid"))
        .localCheckpoint(eager = false)
    }
    centroids
  }

  /** Embedding-cosine near-duplicate pairs via SRP bucketing: vectors
    * sharing a bucket are candidates; verify with exact cosine. Scale:
    * equi-join on bucket key, no O(n²). */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double,
      maxBucket: Int = 10000): DataFrame = {
    val signed = embeddings.select(col("vec_id"),
      col("embedding"), srpSignature(col("embedding"), 8).as("bucket"))
      // same skew guard as the MinHash/SimHash pair generators: a
      // degenerate bucket (duplicate-heavy corpus, near-parallel
      // embeddings) would make the self-join quadratic
      .withColumn("__bsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
      .filter(col("__bsize") <= maxBucket)
      .drop("__bsize")
      // materialize once: without the barrier the 8-plane SRP signature
      // and the bucket-size window re-evaluate on BOTH sides of the
      // self-join (same pattern as Dedup's token-set projection)
      .localCheckpoint(eager = false)
    val a = signed.select(col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("a_vec"))
    val b = signed.select(col("bucket"), col("vec_id").as("b_id"),
      col("embedding").as("b_vec"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine_sim", round(cosine(col("a_vec"), col("b_vec")), 4))
      .filter(col("cosine_sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine_sim"))
  }

  /** SRP planes of the persisted bucket index and of every probe into it. */
  private val IndexPlanes = 8

  /** Persistable SRP bucket index — the ANN ingest shape at 100 TB: the
    * corpus persists `(bucket, vec_id, embedding)` ONCE; each incoming
    * batch then probes by bucket without the corpus ever being
    * re-signed. Build-time skew cap: a degenerate bucket (boilerplate
    * embeddings, zero-ish vectors) keeps its `maxBucket` MIN-id
    * exemplars — stable under snapshot advance, same keep-min-k policy
    * as the MinHash band index. The plane count is part of the index
    * contract: [[incrementalAnnPairs]] probes sign with the same
    * `IndexPlanes`. */
  def srpBucketIndex(embeddings: DataFrame,
      maxBucket: Int = 10000): DataFrame = {
    val signed = embeddings.select(col("vec_id"), col("embedding"),
      srpSignature(col("embedding"), IndexPlanes).as("bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("vec_id")
    signed.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= maxBucket).drop("__rk")
  }

  /** Incremental ANN near-dup probe: batch vectors against a persisted
    * [[srpBucketIndex]]. The batch side signs once (lazy checkpoint)
    * and BROADCASTS — the index streams through a broadcast hash join
    * with no shuffle and no re-signing, so per-ingest cost is one index
    * scan regardless of corpus size (the d12 ingest property, for
    * embeddings). Candidates sharing a bucket verify with exact cosine
    * against `threshold`.
    *
    * PRECONDITION (the contract's "small" in small-batch ingest): the
    * batch must fit a broadcast — vectors × dims × 8 B well under the
    * driver/executor broadcast budget (~10⁶ × 64-dim floats ≈ 512 MB is
    * already past the default 8 GB hard cap's comfort zone). That is the
    * definition of an ingest micro-batch, not a tuning choice: a "batch"
    * that is a corpus slice should be chunked into broadcastable pieces
    * (the index-side plan is unchanged per chunk), or signed and written
    * through [[srpBucketIndex]] + a bucket-key shuffle join instead —
    * broadcasting a corpus-sized side here re-creates the scale bug this
    * API exists to avoid (ADVICE r3). */
  def incrementalAnnPairs(batch: DataFrame, index: DataFrame,
      threshold: Double): DataFrame = {
    val b = batch.select(col("vec_id").as("new_id"),
        col("embedding").as("new_vec"),
        srpSignature(col("embedding"), IndexPlanes).as("bucket"))
      .localCheckpoint(eager = false)
    index
      .select(col("bucket"), col("vec_id").as("old_id"),
        col("embedding").as("old_vec"))
      .join(broadcast(b), Seq("bucket"))
      .withColumn("cosine_sim",
        round(cosine(col("new_vec"), col("old_vec")), 4))
      .filter(col("cosine_sim") >= threshold)
      .select(col("new_id"), col("old_id"), col("cosine_sim"))
  }

  /** Semantic outlier scoring — the SemDeDup / SSL-prototype pruning
    * shape: each vector is scored by cosine against the CENTROID of its
    * own label group, and the k least-similar vectors per label are the
    * prune/review candidates (mislabeled points, embedding-space noise,
    * out-of-distribution samples).
    *
    * Scale shape: the centroid pass is one posexplode + combinable
    * aggregate (labels × dims rows — bounded, never corpus-sized), the
    * per-dimension means are decimal-exact so centroids do not drift
    * with shuffle arrival order (same policy as [[kMeansCentroids]]),
    * the assembled centroid table broadcasts back, scoring is a narrow
    * map pass, and the per-label bottom-k runs through the bounded
    * [[graft.functions.TopKPairAggregator]] — at most k pairs per label
    * per partition shuffle, no skewed rank window over few-label data.
    * Zero-norm vectors are excluded (cosine undefined). */
  def centroidOutliers(embeddings: DataFrame, k: Int): DataFrame = {
    val nonzero = embeddings
      .filter(norm(col("embedding")) > 0)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding"))
    val cents = nonzero
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      // double-first cast: float→decimal via the exact double value in
      // both engines, then one IEEE division at the end (exactAvg policy)
      .agg((sum(col("v").cast("double").cast("decimal(38,12)"))
        .cast("double") / count(lit(1))).as("m"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("centroid"))
    val bottomK = udaf(new graft.functions.TopKPairAggregator(k))
    nonzero
      .join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vec_id"),
        round(cosine(col("embedding"), col("centroid")), 4).as("cosine_sim"))
      // negated score → the aggregator's top-k-desc keeps the SMALLEST
      // cosines; -(-x) round-trips every double bit-exactly (±0 incl.)
      .groupBy(col("label"))
      .agg(bottomK(-col("cosine_sim"), col("vec_id")).as("tk"))
      .select(col("label"), posexplode(col("tk")))
      .select(col("label"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("vec_id"), (-col("col.score")).as("cosine_sim"))
      .orderBy(col("label"), col("rnk"))
  }

  /** NEAREST-CENTROID classification eval: fit one exact centroid per
    * label (the e10 per-dimension decimal-exact mean), predict every
    * vector's label as its max-cosine centroid, and report per-class
    * counts/accuracy — the Rocchio-classifier eval harness an
    * embedding-label pipeline ships next to its labeler (t22's
    * confusion-aggregate shape on the dense modality).
    *
    * Scale shape: the centroid frame is |labels| rows and broadcasts;
    * scoring is a map-side cross join (|labels| candidates per vector —
    * bounded fanout, the e8 broadcast contract), and the argmax is a
    * per-vector window over that bounded candidate set (ONE vec_id
    * exchange). Determinism: cosine rounds to 4 (the e1 float-sum
    * convention), argmax tiebreaks (sim desc, candidate label asc),
    * accuracy is one exact-integer division (exactAvg rule). Zero-norm
    * vectors are excluded from BOTH fit and eval (cosine undefined). */
  def nearestCentroidEval(embeddings: DataFrame): DataFrame = {
    val nonzero = embeddings
      .filter(norm(col("embedding")) > 0)
      .select(col("vec_id"), col("label").cast("long").as("actual"),
        col("embedding"))
      .localCheckpoint(eager = false) // feeds fit AND eval
    val cents = nonzero
      .select(col("actual").as("cand"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cand"), col("pos"))
      .agg((sum(col("v").cast("double").cast("decimal(38,12)"))
        .cast("double") / count(lit(1))).as("m"))
      .groupBy(col("cand"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("centroid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cand"))
    nonzero
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("actual"), col("cand"),
        round(cosine(col("embedding"), col("centroid")), 4).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("actual").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        graft.operators.Summaries.countIf(col("cand") === col("actual"))
          .as("n_correct"))
      .withColumn("accuracy",
        col("n_correct") * lit(1.0) / col("n_vecs"))
  }

  /** Batch k-NN join: the top-k cosine neighbors in `corpus` for EVERY
    * vector in `queries`, in ONE corpus pass — the retrieval/eval shape
    * (probe a training corpus with a whole benchmark set at once) that
    * single-query top-k (e1/e2/e4) doesn't cover.
    *
    * Plan shape at scale: the query set folds into a single broadcast
    * array-of-structs row (same pattern as the IVF centroid broadcast),
    * each corpus row scores all queries map-side (explode is bounded by
    * |Q|), and the grouped top-k runs through
    * [[graft.functions.TopKPairAggregator]] — the partial aggregate
    * carries at most k (score, id) pairs per query per partition, so
    * corpus rows never shuffle and the exchange after map-side combine
    * is |Q|·k·partitions, independent of corpus size. A query set too
    * large to broadcast should be chunked into broadcastable slices (or
    * use the bucketed LSH path, [[annTopK]]): the corpus-side plan is
    * unchanged per slice.
    *
    * Ties are deterministic: score descending, then vec_id ascending —
    * scores are pre-rounded to 4 decimals so the ordering is the one the
    * oracle replays. */
  def knnJoin(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms are hoisted OUT of the per-query lambda: anything inside the
    // transform re-evaluates per query element (interpreted HOF), so the
    // lambda computes only the pair-specific dot product; the corpus
    // row's norm is a plain column evaluated once per row, the query
    // norms ride pre-computed in the broadcast struct. Same
    // xy/(sqrt(xx)·sqrt(yy)) grouping as the fused cosine expression —
    // bit-identical values (for the non-degenerate vectors this join
    // ranks), |Q|× less arithmetic per corpus row.
    //
    // Zero-norm vectors are EXCLUDED from both sides explicitly: cosine
    // is undefined there (the fused expression yields NaN — which Spark
    // orderings rank above every real score, silently topping neighbor
    // lists), so dropping them is the deliberate semantic, not a side
    // effect of null division.
    val qArr = queries
      .withColumn("__qnorm", norm(col("embedding")))
      .filter(col("__qnorm") > 0)
      .agg(array_sort(collect_list(struct(col("vec_id").as("q_id"),
        col("embedding").as("q_vec"), col("__qnorm").as("q_norm"))))
        .as("__qs"))
    val topk = udaf(new graft.functions.TopKPairAggregator(k))
    corpus
      .withColumn("__norm", norm(col("embedding")))
      .filter(col("__norm") > 0)
      .crossJoin(broadcast(qArr))
      .select(col("vec_id"), col("__norm"),
        explode(transform(col("__qs"), q => struct(
          q.getField("q_id").as("q_id"),
          dot(col("embedding"), q.getField("q_vec")).as("dotp"),
          q.getField("q_norm").as("q_norm")))).as("qs"))
      .select(col("qs.q_id").as("q_id"),
        round(col("qs.dotp") / (col("__norm") * col("qs.q_norm")), 4)
          .as("sim"),
        col("vec_id"))
      .filter(col("sim").isNotNull)
      .groupBy(col("q_id"))
      .agg(topk(col("sim"), col("vec_id")).as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("vec_id"), col("col.score").as("cosine_sim"))
      .orderBy(col("q_id"), col("rnk"))
  }

  // ----- Product quantization (the memory-bound ANN scale path) -------

  /** Striped subvector decomposition: dimension `pos` goes to subspace
    * `pos % m` at within-subspace index `pos / m`. Striping (vs
    * contiguous blocks) needs no knowledge of the vector width at plan
    * time and spreads any per-dimension-range structure evenly across
    * subspaces; PQ is agnostic to the grouping as long as encode and
    * query use the same one. One (vec_id, sub_id)-keyed sort-agg. */
  private def subVectors(embeddings: DataFrame, m: Int): DataFrame =
    embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("vec_id"), pmod(col("pos"), lit(m)).cast("int").as("sub_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        e => e.getField("v")).as("subvec"))

  /** Squared L2 distance in double precision (fixed fold order) —
    * k-means' objective; PQ trains codebooks under L2 even when queries
    * score by inner product / cosine (both decompose across subspaces,
    * which is what makes ADC lookup tables possible). */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y.cast("double"))
          * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** Nearest-codeword assignment per (vec_id, sub_id) as one narrow map
    * pass over the broadcast codebook array — the [[assignCells]] shape
    * with a per-subspace filter; nothing shuffles. Deterministic ties:
    * lexicographic min over (dist, code_id). */
  private def assignPqCodes(sub: DataFrame, books: DataFrame): DataFrame = {
    val bookArr = books.agg(array_sort(collect_list(struct(
      col("sub_id"), col("code_id"), col("centroid")))).as("__books"))
    sub.crossJoin(broadcast(bookArr))
      .withColumn("code_id",
        array_min(transform(
          filter(col("__books"), b => b.getField("sub_id") === col("sub_id")),
          b => struct(l2sq(col("subvec"), b.getField("centroid")).as("dist"),
            b.getField("code_id").as("code_id"))))
          .getField("code_id"))
      .drop("__books")
  }

  /** PQ codebook training: an independent `ksub`-codeword k-means per
    * subspace, all `m` subspaces trained in ONE dataflow (sub_id is
    * just another grouping key on the [[kMeansCentroids]] loop).
    * Deterministic end-to-end: first-`ksub`-by-id seeding, decimal-exact
    * per-dimension means (partition-order independent), lexicographic
    * argmin ties — same policies as the IVF trainer. One shuffle per
    * Lloyd iteration; the `ksub` seed ranking is a bounded
    * SinglePartition stage (≤ ksub rows after TakeOrdered).
    *
    * Output: `(sub_id, code_id, centroid)` — m·ksub rows. At 100 TB the
    * codebook is KB-sized state: train on a sample shard, broadcast
    * everywhere (8 bytes/vector storage at m=8 vs 256 for the raw
    * floats — the memory-bound regime where IVF/SRP still hold the
    * whole corpus). */
  def pqCodebooks(embeddings: DataFrame, m: Int, ksub: Int,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // consumed once per Lloyd iteration plus the final encode —
    // materialize the posexplode/sort-agg exactly once
    val sub = subVectors(embeddings, m).localCheckpoint(eager = false)
    val seeds = embeddings.orderBy(col("vec_id")).limit(ksub)
      .select(col("vec_id"),
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).as("code_id"))
    var books = sub.join(seeds, Seq("vec_id"))
      .select(col("sub_id"), col("code_id"), col("subvec").as("centroid"))
      .localCheckpoint(eager = false)
    for (_ <- 0 until iters) {
      val means = assignPqCodes(sub, books)
        .select(col("sub_id"), col("code_id"),
          posexplode(col("subvec")).as(Seq("pos", "v")))
        .groupBy(col("sub_id"), col("code_id"), col("pos"))
        .agg((sum(col("v").cast("decimal(38,12)")) / count(lit(1)))
          .cast("double").as("mval"))
        .groupBy(col("sub_id"), col("code_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mval")))),
          e => e.getField("mval").cast("float")).as("centroid"))
      // empty codewords keep their previous centroid (Lloyd fallback)
      books = books.select(col("sub_id"), col("code_id"),
          col("centroid").as("prev"))
        .join(means, Seq("sub_id", "code_id"), "left")
        .select(col("sub_id"), col("code_id"),
          coalesce(col("centroid"), col("prev")).as("centroid"))
        .localCheckpoint(eager = false)
    }
    // Degenerate-input guard (bounded driver count over the KB-sized
    // codebook — training is an action-worthy step anyway): fewer than
    // ksub training vectors, or m exceeding the vector width, silently
    // yields a short codebook — and pqTopK's dense LUT indexing
    // (sub_id·ksub + code + 1) would then read the WRONG subspace's
    // entries or run off the array under ANSI element_at.
    val nBooks = books.count()
    require(nBooks == m.toLong * ksub,
      s"codebook is $nBooks rows, expected m*ksub = ${m * ksub} — " +
        "train on >= ksub vectors and keep m <= vector width")
    books
  }

  /** Encode the corpus against trained codebooks: `(vec_id, codes)` with
    * `codes[sub] = argmin codeword` — the m-byte representation that
    * replaces the raw vector at rest. One assign map pass + one
    * (vec_id)-keyed sort-agg. */
  def pqEncode(embeddings: DataFrame, books: DataFrame, m: Int): DataFrame =
    assignPqCodes(subVectors(embeddings, m), books)
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("code_id")))),
        e => e.getField("code_id")).as("codes"))

  /** PQ-ADC approximate cosine top-k: the query builds an m×ksub lookup
    * table (partial dot + partial squared norm per codeword — both
    * decompose across subspaces), the table folds into ONE broadcast
    * row, and every encoded vector scores with m array lookups — no
    * vector data moves, the scan reads only the m-byte codes. The
    * asymmetric-distance form: the query stays exact, only the corpus
    * side is quantized.
    *
    * approx_cos = Σ_s dot(q_s, c_{s,codes[s]})
    *              / (‖q‖ · sqrt(Σ_s ‖c_{s,codes[s]}‖²)). */
  def pqTopK(embeddings: DataFrame, books: DataFrame, m: Int, ksub: Int,
      queryId: Long, k: Int, codes: DataFrame): DataFrame = {
    val qSub = subVectors(embeddings.filter(col("vec_id") === queryId), m)
      .select(col("sub_id"), col("subvec").as("qvec"))
    val lut = books.join(qSub, Seq("sub_id"))
      .select(col("sub_id"), col("code_id"),
        dot(col("qvec"), col("centroid")).as("pdot"),
        dot(col("centroid"), col("centroid")).as("psq"))
    // LUT + query norm as a single broadcast row; codes are dense
    // 0..ksub-1 per subspace, so element (sub_id·ksub + code_id + 1) of
    // the (sub_id, code_id)-sorted array is a direct index — no search.
    val meta = lut
      .agg(array_sort(collect_list(struct(col("sub_id"), col("code_id"),
        col("pdot"), col("psq")))).as("__lut"))
      .crossJoin(broadcast(
        embeddings.filter(col("vec_id") === queryId)
          .select(norm(col("embedding")).as("__qnorm"))))
    // `codes` is a pre-encoded ([[pqEncode]]) frame the caller shares
    // — the encode pass is the expensive stage and would otherwise
    // re-run per consumer (the t8/e3 shared-subplan rule)
    codes
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(meta))
      .select(col("vec_id"),
        round(
          aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, s) =>
            acc + element_at(col("__lut"),
              (s * ksub + element_at(col("codes"), s + 1) + 1).cast("int"))
              .getField("pdot"))
          / (col("__qnorm") * sqrt(
            aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, s) =>
              acc + element_at(col("__lut"),
                (s * ksub + element_at(col("codes"), s + 1) + 1).cast("int"))
                .getField("psq")))), 4).as("approx_cos"))
      .orderBy(col("approx_cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Two-stage PQ retrieval — ADC shortlist, exact re-rank: the
    * production shape (quantized scores order a cheap shortlist; the
    * final top-k re-scores only `shortlist` full vectors exactly). The
    * re-rank is a broadcast semi-join of shortlist ids back into the
    * corpus — per query it reads `shortlist` raw vectors instead of N,
    * and emitted scores are EXACT cosines, so downstream consumers see
    * e1-identical values whenever the true neighbors survive the
    * shortlist. */
  def pqTopKRerank(embeddings: DataFrame, books: DataFrame, m: Int, ksub: Int,
      queryId: Long, k: Int, shortlist: Int, codes: DataFrame): DataFrame = {
    val cand = pqTopK(embeddings, books, m, ksub, queryId, shortlist, codes)
      .select(col("vec_id"))
    val query = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("query_vec"))
    embeddings.join(broadcast(cand), Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(query))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        round(cosine(col("embedding"), col("query_vec")), 4).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ — the production large-scale ANN layout, composing the two
    * measured stages: IVF cell routing bounds the candidate set to
    * `nprobe` cells (e4/e6's geometry), PQ-ADC ranks ONLY the probed
    * vectors from their m-byte codes, and the final top-k re-ranks
    * `shortlist` raw vectors exactly (e12's two-stage shape, so emitted
    * scores are exact cosines whenever true neighbors survive). At
    * 100 TB the corpus is stored `partitionBy(cell_id)` with codes as a
    * column: a query reads nprobe partitions' CODES plus `shortlist`
    * raw vectors — never the full vector column, never all cells.
    * Codebooks/codes are train-once snapshot artifacts (e17 shares
    * e12's PqArtifact); cell routing reuses ivfTopK's first-k-by-id
    * centroids and deterministic (-cos, cell_id) probe order. */
  def ivfPqTopK(embeddings: DataFrame, books: DataFrame, m: Int,
      ksub: Int, queryId: Long, k: Int, numCells: Int, nprobe: Int,
      shortlist: Int, codes: DataFrame): DataFrame = {
    val centroids = broadcast(kMeansCentroids(embeddings, numCells, 0))
    val assigned = assignCells(embeddings, centroids)
    val probeCells = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("query_vec"))
      .crossJoin(centroids
        .select(col("cell_id").as("probe_cell"), col("centroid")))
      .select(col("probe_cell"),
        (-cosine(col("query_vec"), col("centroid"))).as("qdist"))
      .orderBy(col("qdist"), col("probe_cell")).limit(nprobe)
      .select(col("probe_cell"))
    val probed = assigned
      .join(broadcast(probeCells), col("cell_id") === col("probe_cell"),
        "left_semi")
      .drop("cell_id")
      // one materialization: read twice below (codes probe + re-rank)
      .localCheckpoint(eager = false)
    // the query row rides along for pqTopK's query-side LUT build even
    // when its own cell is not probed (it always is — its cell has
    // qdist = -cos(q, nearest centroid), the minimum — but the union
    // keeps that a non-assumption)
    val subset = probed.filter(col("vec_id") =!= queryId)
      .unionByName(embeddings.filter(col("vec_id") === queryId))
    val probedCodes =
      codes.join(probed.select(col("vec_id")), Seq("vec_id"), "left_semi")
    pqTopKRerank(subset, books, m, ksub, queryId, k, shortlist, probedCodes)
  }

  /** Exact driver-side cosine of two float vectors — index-order double
    * accumulation, the same arithmetic as the codegen expression (used
    * by the MMR greedy stage over a BOUNDED shortlist). */
  private[graft] def cosLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var i = 0; var dot = 0.0; var na = 0.0; var nb = 0.0
    while (i < n) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** MAXIMAL-MARGINAL-RELEVANCE diversified re-rank: greedily select k
    * of the `shortlist` most-relevant vectors, each step taking
    * argmax λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) — the standard
    * redundancy-suppressing re-rank for retrieval-augmented sampling
    * (a plain top-k returns near-duplicate neighbors; MMR trades
    * marginal relevance for coverage).
    *
    * Scale shape: stage 1 (the expensive part — scoring the corpus) is
    * the distributed [[bruteForceTopK]] (swap in [[annTopK]]/[[pqTopK]]
    * for an index-backed shortlist at scale; the MMR stage is agnostic
    * to how the shortlist was produced). Stage 2 runs on the DRIVER
    * over the BOUNDED `shortlist`-row set (a greedy argmax chain is
    * inherently sequential — k·shortlist cosines over ≤ a few hundred
    * rows; the same bounded-small-side contract as nearDupClusters'
    * union-find, documented rather than hidden). Tiebreak (score, then
    * lower vec_id) makes the selection deterministic.
    *
    * Returns (rank 1..k, vec_id, relevance, mmr_score). `mmr_score` of
    * the first pick is λ·rel (empty selected-set ⇒ zero penalty). */
  def mmrRerank(embeddings: DataFrame, queryId: Long, k: Int,
      shortlist: Int, lambda: Double): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val pool = bruteForceTopK(embeddings, queryId, shortlist)
      .join(embeddings.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("vec_id"), col("cosine_sim"), col("embedding"))
      .as[(Long, Double, Array[Float])]
      .collect() // BOUNDED: exactly `shortlist` rows by construction
    val remaining = scala.collection.mutable.LinkedHashMap(
      pool.map(p => p._1 -> p): _*)
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Array[Float], Double)]
    while (picked.size < math.min(k, pool.length)) {
      val best = remaining.values.map { case (id, rel, v) =>
        val maxSim =
          if (picked.isEmpty) 0.0
          else picked.iterator.map(s => cosLocal(v, s._3)).max
        (id, rel, v, lambda * rel - (1.0 - lambda) * maxSim)
      }.minBy { case (id, _, _, score) => (-score, id) }
      picked += best
      remaining.remove(best._1)
    }
    picked.zipWithIndex.map { case ((id, rel, _, score), i) =>
      ((i + 1).toLong, id, rel, math.rint(score * 10000) / 10000)
    }.toSeq.toDF("rank", "vec_id", "relevance", "mmr_score")
  }
}
