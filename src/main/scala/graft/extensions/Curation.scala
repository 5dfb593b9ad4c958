package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the published pretraining-data recipe
  * shape (heuristic quality rules → exact dedup → benchmark
  * decontamination; cf. Gopher/MassiveText (Rae et al. 2021, §A1) and
  * the open-data reproductions of that recipe) composed as ONE
  * declarative Catalyst plan instead of three materialized passes.
  *
  * Emits EVERY input doc with its fate — `status ∈ {low_quality,
  * exact_dup, contaminated, kept}` — the audit-log form real pipelines
  * keep (per-stage filter rates are the first thing a data engineer
  * inspects); the curated corpus is the `status = 'kept'` slice.
  * Precedence mirrors stage order: a doc failing quality is never
  * charged to dedup; a non-keeper duplicate is never charged to
  * decontamination (its keeper carries that verdict).
  *
  * Scale shape at 100 TB: one narrow codegen'd signal pass over the scan
  * (token array projected once, all signals read it) behind a lazy
  * checkpoint barrier; ONE exchange of (id, 16-byte fingerprint) grain
  * for the keeper election — never the text; and a broadcast semi-join
  * probe of the bounded benchmark shingle set. No all-pairs, no
  * driver-side state, no shuffle of document text at all — the widest
  * shuffled row is (id, fingerprint, signals).
  */
object Curation {

  /** Curate `corpus` against held-out `bench` docs. Quality predicate =
    * the engine's t9 contract (English by stopword argmax, composite
    * score ≥ 0.5, 20–1000 tokens, ≤ 0.3 repeated-3-gram ratio); dedup =
    * exact normalized-text fingerprint keeping the min id; contamination
    * = any shared word 8-gram with `bench`. */
  def curate(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, nCharsCol: String): DataFrame =
    curateKeeping(corpus, bench, textCol, idCol, nCharsCol, Nil)

  /** [[curate]] with pass-through columns: `keepCols` ride the signal
    * checkpoint into the fate frame, so a consumer that needs the kept
    * docs' payload (text, source — the [[exportManifest]] tokenize
    * stage) reads it off the fates WITHOUT re-scanning the corpus —
    * the one-scan-per-stage-tier contract. Empty `keepCols` is
    * plan-identical to the d21 form. */
  def curateKeeping(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, nCharsCol: String, keepCols: Seq[String]): DataFrame = {
    val id = col(idCol)
    val extra = keepCols.filterNot(_ == textCol).map(col)
    val sig = corpus
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .select(Seq(id, col(textCol),
        TextAnalysis.normHash(col(textCol)).as("__fp"),
        size(col("__toks")).cast("long").as("n_tokens"),
        TextAnalysis.langIdFromTokens(col("__toks")).as("__lang"),
        TextAnalysis.qualityScoreFromTokens(col("__toks"), col(nCharsCol))
          .as("__q"),
        TextAnalysis.dupNgramRatioFromTokens(col("__toks"), 3).as("__dup3"))
        ++ extra: _*)
      // Pushdown barrier (the t9 contract): without it Catalyst pushes
      // the downstream filters through this projection and re-evaluates
      // the heavy signal expressions once per consuming branch.
      .localCheckpoint(eager = false)
    val flagged = sig.withColumn("__quality_ok",
      col("__lang") === "en" && col("__q") >= 0.5 &&
        col("n_tokens").between(20, 1000) && col("__dup3") <= 0.3)
    val keepers = flagged.filter(col("__quality_ok"))
      .groupBy(col("__fp")).agg(min(id).as("__keep_id"))
    // Contamination probes ONLY the keeper slice: a non-keeper
    // duplicate's fate is `exact_dup` by precedence no matter what the
    // probe would say, and its text is byte-identical to its keeper's —
    // shingling it is pure waste at scale. The semi-join is (id)-grain;
    // the shingle explode it avoids is (id × tokens)-grain.
    val keeperSlice = flagged.filter(col("__quality_ok"))
      .join(keepers.select(col("__keep_id").as(idCol)), Seq(idCol),
        "left_semi")
    val contaminated = Dedup.contaminatedIdsNgram(
        keeperSlice, bench, textCol, idCol, 8)
      .withColumn("__contaminated", lit(true))
    flagged
      .join(keepers, Seq("__fp"), "left")
      .join(contaminated, Seq(idCol), "left")
      .select(Seq(id,
        when(!col("__quality_ok"), lit("low_quality"))
          .when(id =!= col("__keep_id"), lit("exact_dup"))
          .when(col("__contaminated"), lit("contaminated"))
          .otherwise(lit("kept")).as("status"),
        col("n_tokens"))
        ++ keepCols.map(col): _*)
  }

  /** The end-to-end TRAINING-DATA EXPORT flagship — the artifact a
    * pretraining pipeline actually ships (cf. the composed pipelines of
    * Gopher/MassiveText, Rae et al. 2021 §A1, and the Pile/RefinedWeb
    * release shape): curate ([[curate]], the d21 recipe) → BPE-tokenize
    * the kept slice against a FIXED pre-trained merge table (the t31
    * apply path; production tokenizers are trained once on a reference
    * corpus and frozen BEFORE any export runs, so `merges` is an input,
    * not a stage) → pack to fixed `contextLen`-token sequences in
    * deterministic shard order (the t34 concat-and-chunk audit
    * arithmetic) → assign docs to shards by the seeded md5 key (the s13
    * epoch-stable convention — no rand(): a re-run export is
    * byte-identical) → emit the shard MANIFEST at (shard_id, source)
    * grain with the α-temperature mixture weights alongside (the t33
    * sampling policy an actual training run consumes).
    *
    * Output: one row per (shard_id, source) present in the export —
    * `n_docs`, `n_tokens` (BPE grain — the unit a training budget is
    * denominated in), `tok_frac` (the shard's realized source mix),
    * shard-level `n_sequences` / `pad_tokens` / `split_docs` (the t34
    * packing audit), and the corpus-level `p_alpha` mixture weight.
    *
    * Scale shape at 100 TB, stage by stage (each tier scans its input
    * ONCE — the ExportManifestSpec plan pin):
    *   - curation is [[curate]]'s documented shape (one signal pass
    *     behind a checkpoint, one fingerprint exchange, one broadcast
    *     shingle probe);
    *   - the kept slice is checkpointed ONCE — the materialization
    *     point a real export writes to disk between "curate" and
    *     "tokenize" (both the tokenize explode and the doc-grain
    *     source join read it; nothing re-curates);
    *   - tokenize is [[Bpe.applyMerges]]'s vocab-grain chain: the
    *     corpus pays one word explode + one broadcast-able word join,
    *     never a per-doc rewrite;
    *   - packing state is ONE cumulative-sum window per shard over
    *     (id, source, n_bpe) rows — text never reaches the window; at
    *     production scale `numShards` ≫ cores so shards parallelize,
    *     and the export writer's partitionBy(shard_id) sort IS this
    *     window's order (the s13 note);
    *   - every aggregate after the doc-grain groupBy reads the BOUNDED
    *     (shards × sources) frame behind its own checkpoint; mixture
    *     totals broadcast back (the t33 plan). */
  def exportManifest(corpus: DataFrame, bench: DataFrame,
      merges: Seq[(String, String)], textCol: String, idCol: String,
      srcCol: String, nCharsCol: String, contextLen: Int,
      numShards: Int): DataFrame =
    manifestFromDocGrain(
      exportDocGrain(corpus, bench, merges, textCol, idCol, srcCol,
        nCharsCol, numShards, ExportSeed, keepText = false),
      idCol, contextLen, MixAlpha)

  /** The export's shard-key seed and its t33 mixture exponent — the
    * values the x2/x3/x4 queries and their oracles spell out. */
  val ExportSeed = "epoch42"
  val MixAlpha = 0.3

  /** The export's doc-grain rows — `(idCol, source, n_bpe, __key,
    * shard_id [, textCol])`: curate, checkpoint the kept slice once,
    * BPE-count it, attach the seeded shard key. Shared by the manifest
    * query ([[exportManifest]]), the executed writer ([[writeExport]],
    * which needs the text payload too) and the x2/x3/x4 shared-tier
    * artifact (`TrainingQueries.ExportTier` — the three export queries
    * consume ONE checkpointed copy of this frame via the
    * `...FromDocGrain` forms instead of re-running the tier each). */
  private[graft] def exportDocGrain(corpus: DataFrame, bench: DataFrame,
      merges: Seq[(String, String)], textCol: String, idCol: String,
      srcCol: String, nCharsCol: String, numShards: Int, seed: String,
      keepText: Boolean): DataFrame = {
    val kept = curateKeeping(corpus, bench, textCol, idCol, nCharsCol,
        keepCols = Seq(textCol, srcCol))
      .filter(col("status") === "kept")
      .select(col(idCol), col(textCol), col(srcCol))
      // the curate→tokenize materialization point: tokenize's word
      // explode AND the doc-grain source join both read the curated
      // slice; without the barrier each would re-run the curation joins
      .localCheckpoint(eager = false)
    tokenizeAndShard(kept, merges, textCol, idCol, srcCol, numShards,
      seed, keepText)
  }

  /** The tokenize→shard half of the export's doc-grain tier, over an
    * already-curated `kept` slice (callers checkpoint it — BOTH the
    * word explode and the source join below read it). Shared by the
    * batch export ([[exportDocGrain]]) and the streaming per-batch
    * form (`StreamingOps.exportIngestBatch`, whose kept slice comes
    * from [[curateIncremental]] instead of [[curate]]). */
  private[graft] def tokenizeAndShard(kept: DataFrame,
      merges: Seq[(String, String)], textCol: String, idCol: String,
      srcCol: String, numShards: Int, seed: String,
      keepText: Boolean): DataFrame = {
    val id = col(idCol)
    val key = conv(substring(md5(concat(lit(seed + ":"),
        id.cast("string")).cast("binary")), 1, 15), 16, 10).cast("long")
    val payload = if (keepText) Seq(col(textCol)) else Nil
    // INVARIANT (load-bearing for every consumer): doc-grain rows carry
    // n_bpe >= 1. The packing arithmetic downstream — manifest __split,
    // packedWindows' sequence((cum-n_bpe) div c, (cum-1) div c) — would
    // emit a DESCENDING (hence empty-or-wrong) window range for a
    // zero-token row, and Bpe.applyMerges' inner vocab join already
    // drops kept docs with zero ASCII-printable words from the export
    // entirely. Today's curation gates (20-token minimum + English
    // stopword argmax) guarantee >= 1 ASCII word, so this filter is a
    // no-op; it is enforced HERE so a future keepCols/quality-gate
    // change cannot silently corrupt the window index.
    Bpe.applyMerges(kept, textCol, idCol, merges)
      .select(id, col("n_bpe_tokens").as("n_bpe"))
      .filter(col("n_bpe") >= 1)
      .join(kept.select(Seq(id, col(srcCol).as("source")) ++ payload: _*),
        Seq(idCol))
      .select(Seq(id, col("source"), col("n_bpe"), key.as("__key"),
        pmod(key, lit(numShards.toLong)).as("shard_id")) ++ payload: _*)
  }

  /** The export's shard-partitioned packing window — rows ordered by
    * (`orderPrefix`…, `__key`, id) with a running frame. The batch
    * export packs in pure (__key, id) order (empty prefix); the
    * incremental export packs batch-major (`orderPrefix =
    * Seq("batch_id")`) — an advancing export appends, it never
    * re-interleaves already-shipped shards. */
  private[graft] def packWindow(idCol: String,
      orderPrefix: Seq[String] = Nil)
      : org.apache.spark.sql.expressions.WindowSpec =
    org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id"))
      .orderBy(orderPrefix.map(col) ++ Seq(col("__key"), col(idCol)): _*)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)

  /** The manifest's (shard, source)-grain counters over cumulative-
    * position rows (`__cum` attached): doc/token counts plus the
    * window-split count. Every field is ADDITIVE across disjoint
    * doc sets packed with a running global `__cum` — the w26 merge
    * algebra the incremental export's per-batch contributions rely on
    * (`__split` reads only the doc's own global positions). */
  private[graft] def cumCounters(cum: DataFrame,
      contextLen: Int): DataFrame = {
    val c = contextLen
    cum
      .withColumn("__split",
        expr(s"(__cum - n_bpe) div $c") =!= expr(s"(__cum - 1) div $c"))
      .groupBy(col("shard_id"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe")).as("n_tokens"),
        graft.operators.Summaries.countIf(col("__split"))
          .as("__split_src"))
  }

  /** The manifest arithmetic over (shard, source)-grain counters —
    * shard/source totals, packing audit, t33 mixture. Split from
    * [[manifestFromDocGrain]] so the incremental export's VIEW
    * (`StreamingOps.exportManifestView`) computes the identical
    * datasheet from MERGED per-batch counters: `n_sequences` and
    * `pad_tokens` derive from the shard token TOTAL (correct under
    * carryover packing — only each shard's final window is padded) and
    * `split_docs`/`n_docs`/`n_tokens` are plain sums. */
  private[graft] def manifestFromCounters(counters: DataFrame,
      contextLen: Int, alpha: Double): DataFrame = {
    val c = contextLen
    // ONE doc-grain aggregation feeds this; everything below reads the
    // bounded (shard × source) frame
    val g1 = counters.localCheckpoint(eager = false)
    val sh = g1.groupBy(col("shard_id"))
      .agg(sum(col("n_tokens")).as("__sh_tokens"),
        sum(col("__split_src")).as("split_docs"))
    // t33's float policy: pow round-6 BEFORE the decimal denominator sum
    val pw = round(pow(col("__src_tokens").cast("double"), lit(alpha)), 6)
    val srcW = g1.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("__src_tokens"))
      .select(col("source"), pw.as("__pw"))
    val tot = srcW.agg(
      sum(col("__pw").cast("decimal(38,6)")).as("__tpw"))
    g1.join(broadcast(sh), Seq("shard_id"))
      .join(broadcast(srcW), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("shard_id"), col("source"), col("n_docs"),
        col("n_tokens"),
        (col("n_tokens") * lit(1.0) / col("__sh_tokens")).as("tok_frac"),
        (expr(s"(__sh_tokens - 1) div $c") + 1).as("n_sequences"),
        expr(s"($c - (__sh_tokens % $c)) % $c").as("pad_tokens"),
        col("split_docs"),
        round(col("__pw") / col("__tpw").cast("double"), 6).as("p_alpha"))
  }

  /** The manifest aggregates over an export's doc-grain rows — split
    * out so the executed writer can recompute the manifest FROM THE
    * WRITTEN FILES (what landed, not what was planned). `orderPrefix`
    * prepends columns to the packing order (see [[packWindow]]; the
    * incremental-export spec recomputes with `Seq("batch_id")`). */
  def manifestFromDocGrain(docGrain: DataFrame, idCol: String,
      contextLen: Int, alpha: Double,
      orderPrefix: Seq[String] = Nil): DataFrame =
    manifestFromCounters(
      cumCounters(docGrain.withColumn("__cum",
        sum(col("n_bpe")).over(packWindow(idCol, orderPrefix))),
        contextLen),
      contextLen, alpha)

  /** The export's WINDOW-MEMBERSHIP index — one row per packed training
    * sequence: which docs land in context window `seq_id` of shard
    * `shard_id` under the same deterministic packing [[exportManifest]]
    * audits (concat in (key, id) order, chunk at `contextLen`). This is
    * the attribution surface a training-data pipeline actually consults
    * (memorization/contamination debugging asks "which documents were
    * in the window this sample came from"; the manifest only says how
    * many windows exist). Output: `(shard_id, seq_id, n_docs,
    * first_doc, last_doc, n_tokens, n_pad)` — all exact ints;
    * `n_tokens` is the window's occupied tokens (= contextLen except
    * each shard's final window; `n_pad` its complement).
    *
    * Scale shape: the [[exportManifest]] doc-grain tier plus one
    * explode at (doc × spanned-windows) grain — ≈ tokens/contextLen
    * rows, 256× SMALLER than token grain — and one (shard, seq)
    * exchange. first/last doc are `min_by`/`max_by` on the cumulative
    * position (strictly increasing within a shard, so the argmin is
    * unique — no tie to break). */
  def packedWindows(corpus: DataFrame, bench: DataFrame,
      merges: Seq[(String, String)], textCol: String, idCol: String,
      srcCol: String, nCharsCol: String, contextLen: Int,
      numShards: Int): DataFrame =
    packedWindowsFromDocGrain(
      exportDocGrain(corpus, bench, merges, textCol, idCol, srcCol,
        nCharsCol, numShards, ExportSeed, keepText = false),
      idCol, contextLen)

  /** [[packedWindows]] over an already-built doc-grain tier — the form
    * the x2/x3/x4 shared artifact consumes (the tier is built and
    * checkpointed ONCE; this adds only the packing window, the
    * windows/contextLen-grain explode and one (shard, seq) exchange). */
  def packedWindowsFromDocGrain(docGrain: DataFrame, idCol: String,
      contextLen: Int): DataFrame = {
    val c = contextLen
    windowMembership(
      docGrain
        .withColumn("__cum", sum(col("n_bpe")).over(packWindow(idCol))),
      idCol, c)
      .select(col("shard_id"), col("seq_id"), col("n_docs"),
        col("first_doc"), col("last_doc"), col("n_tokens"),
        (lit(c.toLong) - col("n_tokens")).as("n_pad"))
  }

  /** The window-membership aggregate over cumulative-position rows:
    * one row per (shard, spanned seq) with doc count, first/last doc
    * (by the strictly-increasing `__cum` — unique, no tie) and the
    * occupied-token sum (each doc's clamped overlap with the window —
    * reads only the doc's own global positions, so contributions from
    * DISJOINT doc sets merge additively: the incremental export's
    * boundary windows sum across batches, `n_docs`/`n_tokens` by +,
    * first/last by packing order). Shared by [[packedWindows]] and
    * `StreamingOps.exportIngestBatch`. */
  private[graft] def windowMembership(cum: DataFrame, idCol: String,
      contextLen: Int): DataFrame = {
    val id = col(idCol)
    val c = contextLen
    cum
      .select(id, col("shard_id"), col("n_bpe"), col("__cum"),
        explode(sequence(expr(s"(__cum - n_bpe) div $c"),
          expr(s"(__cum - 1) div $c"))).as("seq_id"))
      .groupBy(col("shard_id"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        min_by(id, col("__cum")).as("first_doc"),
        max_by(id, col("__cum")).as("last_doc"),
        sum(least(col("__cum"), (col("seq_id") + 1) * c) -
          greatest(col("__cum") - col("n_bpe"), col("seq_id") * c))
          .as("n_tokens"))
  }

  /** The export's DOC→WINDOW inverse attribution — [[packedWindows]]
    * answers "which docs are in window (shard, seq)"; this answers the
    * direction memorization debugging actually starts from: "given
    * these doc_ids, which packed training sequences contain their
    * tokens, and at what offsets". One row per (probe doc × spanned
    * window): `(idCol, shard_id, seq_id, tok_start, tok_end, n_tokens)`
    * with `tok_start`/`tok_end` the doc's occupied [start, end) token
    * slice WITHIN the window (0-based, end-exclusive) — the exact
    * coordinates to slice a training sample for an extraction probe.
    *
    * Scale shape: the [[exportManifest]] doc-grain tier (the cumulative
    * packing window MUST see every exported doc — a position is a
    * corpus-order fact, so `probe` cannot push below it), then the
    * probe filter cuts to the suspect slice BEFORE the explode — the
    * only added work is (|probe docs| × spanned-windows) rows, no new
    * exchange at all (no aggregate: each exploded row is already one
    * output row, unlike x3's (shard, seq) regroup). */
  def docWindows(corpus: DataFrame, bench: DataFrame,
      merges: Seq[(String, String)], textCol: String, idCol: String,
      srcCol: String, nCharsCol: String, probe: Column,
      contextLen: Int, numShards: Int): DataFrame =
    docWindowsFromDocGrain(
      exportDocGrain(corpus, bench, merges, textCol, idCol, srcCol,
        nCharsCol, numShards, ExportSeed, keepText = false),
      idCol, probe, contextLen)

  /** [[docWindows]] over an already-built doc-grain tier (the x2/x3/x4
    * shared-artifact form): the packing window must still see every
    * exported doc — a position is a corpus-order fact — but the probe
    * cut happens right after it, before the explode, and no exchange
    * is added at all. */
  def docWindowsFromDocGrain(docGrain: DataFrame, idCol: String,
      probe: Column, contextLen: Int): DataFrame = {
    val id = col(idCol)
    val c = contextLen
    docGrain
      .withColumn("__cum", sum(col("n_bpe")).over(packWindow(idCol)))
      .filter(probe)
      .select(id, col("shard_id"), col("n_bpe"), col("__cum"),
        explode(sequence(expr(s"(__cum - n_bpe) div $c"),
          expr(s"(__cum - 1) div $c"))).as("seq_id"))
      .select(id, col("shard_id"), col("seq_id"),
        (greatest(col("__cum") - col("n_bpe"), col("seq_id") * c)
          - col("seq_id") * c).as("tok_start"),
        (least(col("__cum"), (col("seq_id") + 1) * c)
          - col("seq_id") * c).as("tok_end"))
      .withColumn("n_tokens", col("tok_end") - col("tok_start"))
  }

  /** EXECUTE the export: write the curated, tokenized corpus as the
    * sharded dataset a training run actually reads, then return the
    * manifest recomputed FROM THE WRITTEN FILES (verifying what landed,
    * not what was planned — ExportManifestSpec pins it equal to
    * [[exportManifest]]'s).
    *
    * Layout = the s13 scale claim, executed: `partitionBy(shard_id)`
    * directories, rows sorted by (`__key`, id) within each shard's
    * files — the epoch-stable order the packing arithmetic assumes, so
    * a sequential reader of one shard streams sequences in training
    * order with zero sort at read time, and a re-run export is
    * byte-identical (no rand() anywhere). Plan = [[exportManifest]]'s
    * doc-grain tier plus ONE extra exchange (the repartition that
    * co-locates each shard before the sorted write); at 100 TB
    * `numShards` ≫ cores, so shards parallelize and each task writes
    * one shard's key-ordered run. */
  def writeExport(corpus: DataFrame, bench: DataFrame,
      merges: Seq[(String, String)], textCol: String, idCol: String,
      srcCol: String, nCharsCol: String, outDir: String,
      contextLen: Int, numShards: Int): DataFrame = {
    val dg = exportDocGrain(corpus, bench, merges, textCol, idCol,
      srcCol, nCharsCol, numShards, ExportSeed, keepText = true)
    dg.repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("__key"), col(idCol))
      .write.mode("overwrite").partitionBy("shard_id").parquet(outDir)
    manifestFromDocGrain(
      corpus.sparkSession.read.parquet(outDir)
        .select(col(idCol), col("source"), col("n_bpe"), col("__key"),
          // partition-value inference reads shard_id back as int
          col("shard_id").cast("long").as("shard_id")),
      idCol, contextLen, MixAlpha)
  }

  /** INCREMENTAL end-to-end curation — the production ingest form of
    * [[curate]]: real pipelines curate each arriving batch against
    * PERSISTED STATE, never against the corpus itself. The state is its
    * three snapshot-time index artifacts (the d11/d12/d19 discipline —
    * build once per snapshot, write to the warehouse, probe per batch):
    *
    *   - `exactIndex`  — distinct normalized-text fingerprints
    *     ([[Dedup.exactGroups]] output);
    *   - `bandIndex`   — the MinHash LSH band index
    *     ([[Dedup.minHashBandIndex]], skew-capped at build time);
    *   - `spanIndex`   — the distinct shingle-hash index
    *     ([[Dedup.shingleIndex]]).
    *
    * Stages, in real ingest order, each charged to the FIRST gate that
    * fires (the [[curate]]/t27 fate-attribution convention): Gopher
    * quality rules (t27's battery — one signal projection over the
    * batch scan, the fingerprint riding the same pass) →
    * `exact_dup_state` (fingerprint already in the snapshot) →
    * `exact_dup_batch` (within-batch keeper election, min id per
    * fingerprint) → `near_dup_state` (MinHash band probe against the
    * persisted index, est. Jaccard ≥ [[Dedup.LshThreshold]]) →
    * `span_dup_state` (width-8 shingle runs against the span index with
    * a maximal run of ≥ 16 tokens — Lee-et-al-style span memorization
    * risk) → `kept`.
    *
    * Scale shape at 100 TB: every stage is BATCH-grain — the snapshot
    * corpus is never re-read, re-hashed, or re-shingled. One signal
    * projection behind a lazy checkpoint (all stages read it); one
    * (fingerprint)-grain exchange for the keeper election; the
    * fingerprint anti-join and both probes hash-join against the
    * persisted artifacts on uniformly-distributed keys (fingerprint /
    * (band, bhash) / shingle-hash), so per-ingest cost is O(|batch|),
    * FLAT in snapshot size — measured by probing the same fixed batch
    * against 1×/10×/25× state indexes (EXPLAIN.md "Round 10 (1)" table,
    * by a scale harness last present at commit c6c1c21; with the
    * d19 lesson that flatness of the span probe against an UNBUCKETED
    * index is restored by persisting it `bucketBy(h)`). Both near-dup
    * probes read only the KEEPER slice behind its own barrier — a
    * non-keeper's fate is already decided, so shingling it is pure
    * waste (the [[curate]] r9 lesson). Precedence near > span is
    * attribution only: the probes run independently on the slice, no
    * sequential anti-join chain serializes them. */
  def curateIncremental(batch: DataFrame, exactIndex: DataFrame,
      bandIndex: DataFrame, spanIndex: DataFrame, textCol: String,
      idCol: String, nCharsCol: String): DataFrame = {
    val id = col(idCol)
    val flagged = TextAnalysis.gopherProfile(batch, textCol, idCol,
        nCharsCol, TextAnalysis.normHash(col(textCol)).as("__fp"),
        col(textCol).as("__text"))
      .localCheckpoint(eager = false) // every stage reads the signals
    val stateFps = exactIndex
      .select(col("fingerprint").as("__fp")).distinct()
    val q = flagged.filter(col("reject_reason") === "pass")
    val qFresh = q.join(stateFps, Seq("__fp"), "left_anti")
    val keepers = qFresh.groupBy(col("__fp")).agg(min(id).as("__keep_id"))
    val keeperSlice = qFresh
      .join(keepers.select(col("__keep_id").as(idCol)), Seq(idCol),
        "left_semi")
      .select(id.as("doc_id"), col("__text").as("text"))
      .localCheckpoint(eager = false) // BOTH probes read the slice
    val nearIds = Dedup.incrementalMinHashPairs(keeperSlice, bandIndex)
      .select(col("new_id").as(idCol)).distinct()
      .withColumn("__near", lit(true))
    val spanIds = Dedup.substringRunsAgainstIndex(keeperSlice, spanIndex,
        "doc_id", "text", 8)
      .filter(col("longest_dup_tokens") >= 16)
      .select(col("doc_id").as(idCol))
      .withColumn("__span", lit(true))
    flagged
      .join(stateFps.withColumn("__in_state", lit(true)), Seq("__fp"),
        "left")
      .join(keepers, Seq("__fp"), "left")
      .join(nearIds, Seq(idCol), "left")
      .join(spanIds, Seq(idCol), "left")
      .select(id,
        when(col("reject_reason") =!= "pass", lit("low_quality"))
          .when(col("__in_state"), lit("exact_dup_state"))
          .when(id =!= col("__keep_id"), lit("exact_dup_batch"))
          .when(col("__near"), lit("near_dup_state"))
          .when(col("__span"), lit("span_dup_state"))
          .otherwise(lit("kept")).as("status"),
        col("n_words").as("n_tokens"))
  }
}
