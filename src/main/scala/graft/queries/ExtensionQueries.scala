package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extensions._
import graft.sources.Tables

/** Beyond-reference extension queries (SURVEY.md §7.4): dedup,
  * similarity search, text analysis, event-time windows, multimodal
  * plumbing. Nearly all carry a DuckDB oracle — the MinHash/SimHash
  * pipelines use an md5-derived hash family precisely so the oracle can
  * replay them; only the approximate-float ANN queries (SRP/IVF, whose
  * candidate sets depend on seeded float projections) are rows-only,
  * with recall checked in ScalaTest instead.
  */
object ExtensionQueries {

  /** Train-once/probe-many PQ artifact (codebooks on the 1-in-5 sample
    * shard + the encoded corpus), shared by e12 AND the e12b contract —
    * the production shape: codebooks/codes are persisted table state
    * (the d12/e11 persisted-index pattern), consumers probe them,
    * nobody retrains per query. Keyed per (session, sfDir); the lazy
    * checkpoints make the second consumer's training cost zero while
    * keeping each frame recomputable from lineage on executor loss. */
  private[graft] object PqArtifact
      extends Artifact[(DataFrame, DataFrame)]("pq_codebooks_encode" -> {
        case (books, codes) => books.count(); codes.count()
      }) {
    val M = 16
    val KSUB = 16
    /** (codebooks, encoded corpus codes). */
    protected def build(s: SparkSession, d: String): (DataFrame, DataFrame) = {
      val emb = Tables.embeddings(s, d)
      // codebooks train on a deterministic 1-in-5 sample shard — the
      // canonical PQ practice (codebooks are KB-sized global state;
      // the full corpus only ever encodes against them)
      val books = Similarity.pqCodebooks(
        emb.filter(col("vec_id") % 5 === 0), m = M, ksub = KSUB,
        iters = 2)
      val codes = Similarity.pqEncode(emb, books, m = M)
        .localCheckpoint(eager = false)
      (books, codes)
    }
  }

  /** Decomposed-form Unicode suffix for t15: "café Å" spelled as
    * e+COMBINING ACUTE and A+COMBINING RING — NFC composes both, so raw
    * vs normalized codepoint counts differ by exactly 2. Defined once and
    * interpolated into BOTH the Spark literal and the oracle SQL (the
    * oracle JSON carries the same UTF-8 bytes). */
  val DecomposedSuffix: String = " caf\u0065\u0301 \u0041\u030A"

  /** d23's planted boilerplate line — shared by the Spark fixture and
    * the DuckDB replay (the d16/d18 injection convention). */
  private val LineBoiler =
    "accept cookies to continue reading this page"

  /** The MinHash universal-hash constants, inlined as SQL list literals —
    * generated from the SAME Dedup.seedConst the Spark plan uses. */
  private val minhashA =
    (0 until 32).map(Dedup.seedConst("a", _)).mkString("LIST_VALUE(", ",", ")")
  private val minhashB =
    (0 until 32).map(Dedup.seedConst("b", _)).mkString("LIST_VALUE(", ",", ")")

  val specs: Seq[QuerySpec] = Seq(

    // D1 — exact dedup via normalized-text hash groups.
    QuerySpec("d1_dedup_exact", (s, d) => {
      // documentsWithDups: the raw corpus has zero exact duplicates —
      // without the injected clones n_dups is constant 1 and the
      // grouping/keep-min-id logic would be oracle-dead
      Dedup.exactGroups(Tables.documentsWithDups(s, d), "text", "doc_id")
        .orderBy(col("keep_id"))
    }, oracle = Some(
      """SELECT md5(lower(trim(text))) AS fingerprint, count(*) AS n_dups,
        |min(doc_id) AS keep_id FROM (
        |  SELECT * FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 25 = 0)
        |GROUP BY 1 ORDER BY keep_id""".stripMargin)),

    // D2 — blocked token-set Jaccard near-dup pairs.
    QuerySpec("d2_token_jaccard", (s, d) => {
      Dedup.tokenJaccardPairs(Tables.documents(s, d), threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    }, oracle = Some(
      """WITH prepared AS (
        |  SELECT doc_id, source, CAST(floor(n_chars / 32.0) AS BIGINT) AS bkt,
        |    list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  round(len(list_intersect(a.toks, b.toks)) * 1.0 /
        |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4)
        |    AS jaccard
        |FROM prepared a JOIN prepared b
        |  ON a.source = b.source AND abs(a.bkt - b.bkt) <= 1
        |  AND a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.toks, b.toks)) * 1.0 /
        |  (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4)
        |  >= 0.5
        |ORDER BY a_id, b_id""".stripMargin)),

    // D3 — MinHash-LSH with the md5-derived universal hash family, so
    // the full pipeline (signature → banding → skew cap → candidate
    // pairs → similarity estimate) is replayed verbatim by the DuckDB
    // oracle. Production corpora use the xxhash64 default (faster);
    // the semantics are identical.
    QuerySpec("d3_minhash_lsh", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashLshPairs(docs)
      val perDoc = pairs
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_candidates"))
      Dedup.withMinHashSignature(docs, "text", Dedup.LshNumHashes, 3)
        .select(col("doc_id"),
          col("minhash_sig")(0).as("sig0"), col("minhash_sig")(1).as("sig1"),
          col("minhash_sig")(2).as("sig2"), col("minhash_sig")(3).as("sig3"))
        .join(perDoc, Seq("doc_id"), "left")
        .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      s"""WITH consts AS (SELECT $minhashA AS ca, $minhashB AS cb),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text,' ')) - 3 + 2, 2)),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i + 2), ' ')))
        |    AS shingles
        |  FROM documents
        |), hs AS (
        |  SELECT doc_id, list_transform(shingles,
        |    x -> CAST('0x' || substr(md5(x),1,15) AS BIGINT) % 1000000007) AS hs
        |  FROM sh
        |), sig AS (
        |  SELECT doc_id, list_transform(range(1, 33), s ->
        |    list_min(list_transform(hs, h -> (ca[s] * h + cb[s]) % 1000000007)))
        |    AS sig
        |  FROM hs CROSS JOIN consts
        |), banded AS (
        |  SELECT doc_id, sig, b.band,
        |    array_to_string(list_slice(sig, b.band * 4 + 1, b.band * 4 + 4), ',')
        |    AS bkey
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b
        |), capped AS (
        |  -- keep-min-k cap (exemplar retention), not whole-bucket drop
        |  SELECT * FROM (
        |    SELECT doc_id, sig, band, bkey,
        |      row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id)
        |        AS brank
        |    FROM banded) WHERE brank <= 100
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    a.sig AS a_sig, b.sig AS b_sig
        |  FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey
        |    AND a.doc_id < b.doc_id
        |), est AS (
        |  SELECT a_id, b_id,
        |    round(len(list_filter(range(1, 33), i -> a_sig[i] = b_sig[i])) / 32.0, 4)
        |    AS ej
        |  FROM pairs
        |), cand AS (
        |  SELECT doc_id, count(*) AS n_candidates FROM (
        |    SELECT unnest(LIST_VALUE(a_id, b_id)) AS doc_id FROM est
        |    WHERE ej >= 0.3)
        |  GROUP BY doc_id
        |)
        |SELECT s.doc_id, s.sig[1] AS sig0, s.sig[2] AS sig1,
        |  s.sig[3] AS sig2, s.sig[4] AS sig3,
        |  COALESCE(c.n_candidates, 0) AS n_candidates
        |FROM sig s LEFT JOIN cand c ON s.doc_id = c.doc_id
        |ORDER BY s.doc_id""".stripMargin)),

    // D12 — incremental MinHash near-dup: docs < 400 play the deduped
    // snapshot (only its banded signature INDEX is touched), docs >= 400
    // the ingest batch. Candidates are batch-vs-index band joins — the
    // corpus text is never re-shingled, which is what keeps near-dup
    // affordable per-ingest at 100 TB. Same md5-derived family as d3 so
    // DuckDB replays the whole pipeline.
    QuerySpec("d12_incremental_minhash", (s, d) => {
      val docs = Tables.documents(s, d)
      val index = Dedup.minHashBandIndex(
        docs.filter(col("doc_id") < 400), maxBucket = 100)
      Dedup.incrementalMinHashPairs(
          docs.filter(col("doc_id") >= 400), index)
        .orderBy(col("new_id"), col("old_id"))
    }, oracle = Some(
      // d3's signature/banding replay, split into snapshot index
      // (doc_id < 400, skew-capped) and ingest batch (>= 400); band
      // equality via the slice value — the same bucketing Spark's
      // xxhash64(band slice) keys express.
      s"""WITH consts AS (SELECT $minhashA AS ca, $minhashB AS cb),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text,' ')) - 3 + 2, 2)),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i + 2), ' ')))
        |    AS shingles
        |  FROM documents
        |), hs AS (
        |  SELECT doc_id, list_transform(shingles,
        |    x -> CAST('0x' || substr(md5(x),1,15) AS BIGINT) % 1000000007) AS hs
        |  FROM sh
        |), sig AS (
        |  SELECT doc_id, list_transform(range(1, 33), s ->
        |    list_min(list_transform(hs, h -> (ca[s] * h + cb[s]) % 1000000007)))
        |    AS sig
        |  FROM hs CROSS JOIN consts
        |), banded AS (
        |  SELECT doc_id, sig, b.band,
        |    array_to_string(list_slice(sig, b.band * 4 + 1, b.band * 4 + 4), ',')
        |    AS bkey
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b
        |), idx AS (
        |  -- keep-min-k cap (exemplar retention), not whole-bucket drop
        |  SELECT * FROM (
        |    SELECT doc_id, sig, band, bkey,
        |      row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id)
        |        AS brank
        |    FROM banded WHERE doc_id < 400)
        |  WHERE brank <= 100
        |), bat AS (
        |  SELECT doc_id, sig, band, bkey FROM banded WHERE doc_id >= 400
        |), pairs AS (
        |  SELECT DISTINCT b.doc_id AS new_id, i.doc_id AS old_id,
        |    b.sig AS new_sig, i.sig AS old_sig
        |  FROM bat b JOIN idx i ON b.band = i.band AND b.bkey = i.bkey
        |), est AS (
        |  SELECT new_id, old_id,
        |    round(len(list_filter(range(1, 33), k -> new_sig[k] = old_sig[k]))
        |      / 32.0, 4) AS est_jaccard
        |  FROM pairs
        |)
        |SELECT new_id, old_id, est_jaccard FROM est
        |WHERE est_jaccard >= 0.3
        |ORDER BY new_id, old_id""".stripMargin)),

    // D22 — INCREMENTAL end-to-end curation (VERDICT r9 item 6): the
    // production ingest loop — each batch curated against PERSISTED
    // state (the d11 exact-fp index + d12 MinHash band index + d19 span
    // shingle index, all built from the doc_id<400 snapshot), composed
    // with the t27 Gopher gates into ONE plan with per-doc fate
    // attribution. Fixture plants every fate: batch %9 docs carry the
    // d19 passage (span vs state), +1000000 clones state %25 docs
    // (exact vs state), +2000000 mutates state %30 docs with one token
    // (MinHash near vs state), +3000000/+4000000 duplicate batch %35
    // docs within the batch (keeper election). The snapshot corpus is
    // never re-read — only its three indexes are probed; see
    // Curation.curateIncremental for the flat-ingest scale contract
    // (measured: EXPLAIN.md "Round 10 (1)" table, by a scale harness
    // last present at commit c6c1c21).
    QuerySpec("d22_incremental_curation", (s, d) => {
      val docs = Tables.documents(s, d)
      val passage = lit(" " + TrainingQueries.DedupPassage)
      def inj(df: DataFrame, m: Int): DataFrame = df.select(col("doc_id"),
        when(col("doc_id") % m === 0, concat(col("text"), passage))
          .otherwise(col("text")).as("text"))
      val state = inj(docs.filter(col("doc_id") < 400), 5)
        .localCheckpoint(eager = false) // three index builds read it
      val b1 = inj(docs.filter(col("doc_id") >= 400), 9)
      val b2 = state.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val b3 = state.filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text"))
      val bb = docs.filter(col("doc_id") >= 400 && col("doc_id") % 35 === 0)
      val b4 = bb.select((col("doc_id") + 3000000L).as("doc_id"),
        concat(col("text"), lit(" qq")).as("text"))
      val b5 = bb.select((col("doc_id") + 4000000L).as("doc_id"),
        concat(col("text"), lit(" qq")).as("text"))
      val batch = Tables.spread(
          b1.unionByName(b2).unionByName(b3).unionByName(b4)
            .unionByName(b5))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val exactIdx = Dedup.exactGroups(state, "text", "doc_id")
        .select(col("fingerprint"))
      val bandIdx = Dedup.minHashBandIndex(state, maxBucket = 100)
      val spanIdx = Dedup.shingleIndex(state, "doc_id", "text", width = 8)
      Curation.curateIncremental(batch, exactIdx, bandIdx, spanIdx,
          "text", "doc_id", "n_chars")
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // d22 composes the t27 Gopher replay (n_chars = len(text) — the
      // fixture recomputes it post-injection), the d11 fingerprint-index
      // replay, the d12 signature/banding replay (index side = state,
      // capped; probe side = the keeper slice), and the d19 span-index
      // replay, then the same fate CASE precedence as
      // Curation.curateIncremental. MATERIALIZED on every multiply-read
      // CTE (the t37 lesson: inlining re-expands the chain).
      d22OracleSql)),

    // D23 — C4-style line-level exact dedup (Raffel et al. 2020 §2.2;
    // the RefinedWeb/FineWeb line grain): first occurrence of every
    // line survives, later copies are cut; docs shrink, never drop.
    // The corpus is single-space text, so the fixture plants the line
    // structure both engines replay: every 12th token boundary becomes
    // a newline (one regex projection) and doc_id%6 docs get a shared
    // boilerplate line appended — the cookie-banner shape whose corpus-
    // wide frequency is exactly why the keeper election must be an
    // AGGREGATE, not a window (see Dedup.lineDedup's skew story).
    QuerySpec("d23_line_dedup", (s, d) => {
      val seg = regexp_replace(col("text"),
        "((?:\\S+ ){11}\\S+) ", "$1\n")
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"),
          when(col("doc_id") % 6 === 0,
            concat(seg, lit("\n" + LineBoiler)))
            .otherwise(seg).as("text"))
      Dedup.lineDedup(docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // d23's replay: same segmentation regex (RE2 and java.util.regex
      // agree on this token-anchored pattern), same boilerplate
      // injection, aggregate keeper election, composite-key mark,
      // position-ordered reassembly. The oracle packs the election key as
      // doc_id*2^20+pos where Spark elects min(struct(doc_id, pos)) — the
      // two orders agree whenever every doc has < 2^20 lines, which holds
      // for this corpus by construction (the Spark side carries NO such
      // bound; LineDedupSpec exercises the >2^20-line collision case).
      s"""WITH seg AS MATERIALIZED (
        |  SELECT doc_id, CASE WHEN doc_id % 6 = 0 THEN
        |      regexp_replace(text, '((?:\\S+ ){11}\\S+) ',
        |        '\\1' || chr(10), 'g') || chr(10) || '$LineBoiler'
        |    ELSE regexp_replace(text, '((?:\\S+ ){11}\\S+) ',
        |      '\\1' || chr(10), 'g') END AS t
        |  FROM documents
        |), lines AS MATERIALIZED (
        |  SELECT doc_id, ls[i] AS line,
        |    doc_id * 1048576 + CAST(i - 1 AS BIGINT) AS k
        |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls,
        |          unnest(range(1, len(string_split(t, chr(10))) + 1)) AS i
        |        FROM seg)
        |), keep AS MATERIALIZED (
        |  SELECT line, min(k) AS k FROM lines GROUP BY line
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN kept THEN line END, chr(10)
        |    ORDER BY k), '') AS kept_text
        |FROM (
        |  SELECT l.doc_id, l.line, l.k, kp.line IS NOT NULL AS kept
        |  FROM lines l LEFT JOIN keep kp
        |    ON l.line = kp.line AND l.k = kp.k)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // D25 — INTRA-document line dedup (RefinedWeb §3.1.3's line-wise
    // corrections, the within-doc half of d23's corpus grain): repeated
    // lines inside one page (headers, nav bars, cookie banners pasted
    // per-section) keep their first in-doc occurrence only. Same
    // segmentation fixture as d23; doc_id%4 docs get their own first
    // line re-appended — the in-page boilerplate shape. The operator is
    // a ZERO-shuffle pure map (see Dedup.intraDocLineDedup); the spec
    // pins the no-exchange plan.
    QuerySpec("d25_intradoc_line_dedup", (s, d) => {
      val seg = regexp_replace(col("text"),
        "((?:\\S+ ){11}\\S+) ", "$1\n")
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), seg.as("__seg"))
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("__seg"), lit("\n"),
              element_at(split(col("__seg"), "\n"), 1)))
            .otherwise(col("__seg")).as("text"))
      Dedup.intraDocLineDedup(docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // d25's replay: same segmentation + self-append injection,
      // per-doc first-occurrence election via GROUP BY (doc, line) →
      // min(position), reassembly ordered by that first position —
      // identical to keeping first occurrences in place.
      """WITH seg AS MATERIALIZED (
        |  SELECT doc_id, regexp_replace(text, '((?:\S+ ){11}\S+) ',
        |    '\1' || chr(10), 'g') AS t
        |  FROM documents
        |), injected AS MATERIALIZED (
        |  SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |    THEN t || chr(10) || string_split(t, chr(10))[1]
        |    ELSE t END AS t
        |  FROM seg
        |), lines AS MATERIALIZED (
        |  -- coalesce mirrors the operator's NULL-text entry guard
        |  SELECT doc_id, ls[i] AS line, i
        |  FROM (SELECT doc_id, string_split(coalesce(t, ''), chr(10)) AS ls,
        |          unnest(range(1,
        |            len(string_split(coalesce(t, ''), chr(10))) + 1)) AS i
        |        FROM injected)
        |), keep AS MATERIALIZED (
        |  SELECT doc_id, line, min(i) AS i FROM lines GROUP BY doc_id, line
        |), stats AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
        |)
        |SELECT s.doc_id, CAST(s.n_lines AS BIGINT) AS n_lines,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(k.line, chr(10) ORDER BY k.i) AS kept_text
        |FROM stats s JOIN keep k ON s.doc_id = k.doc_id
        |GROUP BY s.doc_id, s.n_lines
        |ORDER BY s.doc_id""".stripMargin)),

    // D24 — LSH banding calibration (MMDS ch. 3): the S-curve config
    // table that PICKS bands/rows before running d3/d12/d22 at scale —
    // run at the board's own parameters (n=32 hashes, threshold 0.3) so
    // the output shows where the shipped b=8/r=4 sits on the fp/fn
    // frontier. Pure generated arithmetic, driver-sized by nature (a
    // config table); every grid p(s) is rounded(6) BEFORE the decimal
    // mass integrals so both engines integrate identical curves.
    QuerySpec("d24_lsh_calibration", (s, _) =>
      Dedup.lshCalibration(s, numHashes = Dedup.LshNumHashes,
          threshold = 0.3)
        .orderBy(col("bands")), oracle = Some(
      // d24's replay: same divisor enumeration, grid, per-point round(6),
      // decimal mass integrals and min-cost selection.
      """WITH conf AS (
        |  SELECT CAST(b AS BIGINT) AS bands, CAST(32 // b AS BIGINT)
        |    AS rows_per_band
        |  FROM (SELECT unnest(range(1, 33)) AS b) WHERE 32 % b = 0
        |), curve AS MATERIALIZED (
        |  SELECT bands, rows_per_band, i / 100.0 AS s,
        |    round(1.0 - pow(1.0 - pow(i / 100.0, rows_per_band), bands), 6)
        |      AS p
        |  FROM conf CROSS JOIN (SELECT unnest(range(0, 101)) AS i)
        |), m2 AS MATERIALIZED (
        |  SELECT bands, rows_per_band,
        |    round(1.0 - pow(1.0 - pow(0.3, rows_per_band), bands), 6)
        |      AS p_at_threshold,
        |    round(pow(1.0 - pow(0.5, 1.0 / bands), 1.0 / rows_per_band), 6)
        |      AS crossover_sim,
        |    fp_mass, fn_mass, round(fp_mass + fn_mass, 6) AS cost
        |  FROM (
        |    SELECT bands, rows_per_band,
        |      CAST(round(sum(CAST(CASE WHEN s < 0.3 THEN p ELSE 0.0 END
        |        AS DECIMAL(38,6))) / 101, 6) AS DOUBLE) AS fp_mass,
        |      CAST(round(sum(CAST(CASE WHEN s >= 0.3 THEN 1.0 - p
        |        ELSE 0.0 END AS DECIMAL(38,6))) / 101, 6) AS DOUBLE)
        |        AS fn_mass
        |    FROM curve GROUP BY bands, rows_per_band)
        |)
        |SELECT bands, rows_per_band, p_at_threshold, crossover_sim,
        |  fp_mass, fn_mass,
        |  cost = (SELECT min(cost) FROM m2) AS selected
        |FROM m2 ORDER BY bands""".stripMargin)),

    // D4 — SimHash (60-bit md5-derived fingerprint) + near-dup candidate
    // count — fully oracle-replayed like d3.
    QuerySpec("d4_simhash", (s, d) => {
      // ONE vote pass: the signed frame is checkpointed and shared by
      // candidate generation and the signature output (r9: the query
      // previously computed the per-token hash + 60 sign votes twice)
      val sim = Dedup.signedSimHashFrame(Tables.documents(s, d))
      val pairs = Dedup.simHashPairsFromSigned(sim)
      val perDoc = pairs
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_candidates"))
      sim.join(perDoc, Seq("doc_id"), "left")
        .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH hs AS (
        |  SELECT doc_id, list_transform(string_split(text,' '),
        |    t -> CAST('0x' || substr(md5(t),1,15) AS BIGINT)) AS hs
        |  FROM documents
        |), sim AS (
        |  -- CAST: DuckDB list_sum returns HUGEINT; Spark emits BIGINT —
        |  -- identical values hash-mismatch without the narrowing cast
        |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), j ->
        |    CASE WHEN list_sum(list_transform(hs,
        |        h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |      THEN CAST(1 AS BIGINT) << j ELSE 0 END)) AS BIGINT) AS simhash
        |  FROM hs
        |), chunked AS (
        |  SELECT doc_id, simhash, c.chunk,
        |    (simhash >> (c.chunk * 15)) & 32767 AS ckey
        |  FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS chunk) c
        |), capped AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY chunk, ckey) AS bsize
        |    FROM chunked)
        |  WHERE bsize <= 100
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    a.simhash AS a_sim, b.simhash AS b_sim
        |  FROM capped a JOIN capped b ON a.chunk = b.chunk AND a.ckey = b.ckey
        |    AND a.doc_id < b.doc_id
        |), ok AS (
        |  SELECT a_id, b_id FROM pairs WHERE bit_count(xor(a_sim, b_sim)) <= 3
        |), cand AS (
        |  SELECT doc_id, count(*) AS n_candidates FROM (
        |    SELECT unnest(LIST_VALUE(a_id, b_id)) AS doc_id FROM ok)
        |  GROUP BY doc_id
        |)
        |SELECT s.doc_id, s.simhash, COALESCE(c.n_candidates, 0) AS n_candidates
        |FROM sim s LEFT JOIN cand c ON s.doc_id = c.doc_id
        |ORDER BY s.doc_id""".stripMargin)),

    // E1 — brute-force cosine top-k (ANN correctness baseline).
    QuerySpec("e1_cosine_topk", (s, d) => {
      Similarity.bruteForceTopK(Tables.embeddings(s, d), queryId = 0L, k = 10)
    }, oracle = Some(
      """WITH q AS (
        |  SELECT generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS qv
        |  FROM embeddings WHERE vec_id = 0
        |), v AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS ev
        |  FROM embeddings WHERE vec_id <> 0
        |), m AS (
        |  SELECT v.vec_id, CAST(min(v.label) AS BIGINT) AS label,
        |    sum(v.ev * q.qv) AS dot, sum(v.ev * v.ev) AS vv,
        |    sum(q.qv * q.qv) AS qq
        |  FROM v JOIN q ON v.i = q.i GROUP BY v.vec_id
        |)
        |SELECT vec_id, label, round(dot / (sqrt(vv) * sqrt(qq)), 4) AS cosine_sim
        |FROM m ORDER BY cosine_sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Q2 — the pure-SQL entry surface: temp views + `spark.sql`, with
    // the custom codegen expression called BY NAME from SQL (the
    // GraftFunctions/GraftExtensions registration path the brief's
    // `spark.sql(...)` users take). Consecutive-id embedding pairs
    // sampled by modulo; the oracle replays the cosine via the e1
    // unnest/rejoin dot product.
    QuerySpec("q2_sql_surface", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.embeddings(s, d).createOrReplaceTempView("emb_sql")
      s.sql("""
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          round(cosine_sim(a.embedding, b.embedding), 4) AS cos
        FROM emb_sql a JOIN emb_sql b
          ON a.vec_id + 1 = b.vec_id
        WHERE a.vec_id % 50 = 0
        ORDER BY a_id""")
    }, oracle = Some(
      """WITH x AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), m AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    sum(a.v * b.v) AS dot, sum(a.v * a.v) AS aa, sum(b.v * b.v) AS bb
        |  FROM x a JOIN x b ON a.i = b.i AND a.vec_id + 1 = b.vec_id
        |  WHERE a.vec_id % 50 = 0
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, round(dot / (sqrt(aa) * sqrt(bb)), 4) AS cos
        |FROM m ORDER BY a_id""".stripMargin)),

    // E2 — LSH-bucketed ANN (rows-only oracle; recall vs brute force
    // checked in SimilaritySpec).
    QuerySpec("e2_ann_lsh", (s, d) => {
      Similarity.annTopK(Tables.embeddings(s, d), queryId = 0L, k = 10,
        numPlanes = 8)
    }, oracle = None),

    // E3 — embedding-cosine near-dup candidates, top-100 by similarity
    // (rows-only oracle; value-verified by the e3b contract below).
    QuerySpec("e3_cosine_neardup", (s, d) => {
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d),
          threshold = -1.0)
        .orderBy(col("cosine_sim").desc, col("a_id"), col("b_id"))
        .limit(100)
    }, oracle = None),

    // E3B — cosineNearDupPairs CONTRACT (e5/e9/e11 pattern; closes the
    // last value-unverified query on the board): plant exact-duplicate
    // clones (every vec_id % 50 == 0 re-inserted at +1,000,000 — the
    // documentsWithDups convention; an identical embedding signs to an
    // identical SRP signature, so each planted pair is GUARANTEED to
    // share a bucket at any plane count). Asserts
    //  (a) natural candidate pairs exist beyond the planted ones at
    //      threshold 0.3 / 8 planes (the settings e9 proved bite on this
    //      data — not a vacuous pass),
    //  (b) every planted (orig, clone) pair is recalled — the
    //      deterministic-recall half of the bucketing contract,
    //  (c) every emitted pair re-verifies INDEPENDENTLY: the builtin
    //      zip_with/aggregate cosine recomputed from the raw vectors
    //      agrees with the fused codegen value pair-by-pair AND clears
    //      the threshold — O(pairs), not a brute-force O(n²) replay.
    QuerySpec("e3b_neardup_contract", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // plant only nonzero vectors (cosine undefined at norm 0), and run
      // the pair generator UNCAPPED: the recall guarantee must not
      // silently depend on no bucket exceeding the default skew cap
      // (which drops whole buckets) on a skewed or larger corpus
      val planted = emb.filter(col("vec_id") % 50 === 0
          && Similarity.norm(col("embedding")) > 0)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      val aug = emb.unionByName(planted).localCheckpoint(eager = false)
      val pairs = Similarity.cosineNearDupPairs(aug, threshold = 0.3,
          maxBucket = Int.MaxValue)
        .localCheckpoint(eager = false) // feeds all three contract aggregates
      val reverified = pairs
        .join(aug.select(col("vec_id").as("a_id"), col("embedding").as("av")),
          Seq("a_id"))
        .join(aug.select(col("vec_id").as("b_id"), col("embedding").as("bv")),
          Seq("b_id"))
        .agg(count(lit(1)).as("n_pairs"),
          count(when(
            round(Similarity.cosineBuiltin(col("av"), col("bv")), 4)
              =!= col("cosine_sim") || col("cosine_sim") < 0.3, 1))
            .as("n_mismatch"))
      val plantKeys = emb.filter(col("vec_id") % 50 === 0
          && Similarity.norm(col("embedding")) > 0)
        .select(col("vec_id").as("a_id"),
          (col("vec_id") + 1000000L).as("b_id"))
      val recall = plantKeys
        .join(pairs, Seq("a_id", "b_id"), "left_anti")
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_missed"))
      val nPlanted = plantKeys.agg(count(lit(1)).as("n_planted"))
      // d17 pattern: n_planted (nonzero-norm vec_id%50 rows) is
      // SQL-expressible — the oracle re-derives it from the embeddings
      // table (e10's nz-CTE machinery), so a broken injection stage
      // now hash-mismatches instead of passing vacuously
      reverified.crossJoin(recall).crossJoin(nPlanted).select(
        (col("n_pairs") > col("n_planted") && col("n_planted") > 0)
          .as("has_natural_pairs"),
        (col("n_missed") === 0).as("planted_recalled"),
        (col("n_mismatch") === 0).as("pairs_reverified"),
        col("n_planted"))
    }, oracle = Some(
      // e3b's n_planted re-derives from the embeddings table via e10's
      // nonzero-norm CTE (the d17 pattern)
      """WITH x AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), nz AS (
        |  SELECT vec_id FROM x GROUP BY vec_id HAVING sum(v * v) > 0
        |)
        |SELECT true AS has_natural_pairs, true AS planted_recalled,
        |  true AS pairs_reverified,
        |  (SELECT count(*) FROM nz WHERE vec_id % 50 = 0) AS n_planted""".stripMargin)),

    // E10 — semantic outlier scoring (SemDeDup / SSL-prototype pruning):
    // the 5 vectors per label least similar to their own label centroid
    // — mislabel/noise candidates. Centroid means are decimal-exact (no
    // shuffle-order drift), cosines round to 4 decimals (the e1
    // precedent the oracle replays), bottom-k per label runs through
    // the bounded TopKPairAggregator, not a rank window over 10 labels.
    QuerySpec("e10_semantic_outliers", (s, d) => {
      Similarity.centroidOutliers(Tables.embeddings(s, d), k = 5)
    }, oracle = Some(
      """WITH x AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), nz AS (
        |  SELECT vec_id FROM x GROUP BY vec_id HAVING sum(v * v) > 0
        |), cent AS (
        |  -- decimal-exact per-dimension mean (double-first cast, one
        |  -- IEEE division at the end — the exactAvg policy)
        |  SELECT label, i,
        |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS c
        |  FROM x WHERE vec_id IN (SELECT vec_id FROM nz)
        |  GROUP BY label, i
        |), m AS (
        |  SELECT x.vec_id, x.label, sum(x.v * cent.c) AS dot,
        |    sum(x.v * x.v) AS vv, sum(cent.c * cent.c) AS cc
        |  FROM x JOIN cent ON x.label = cent.label AND x.i = cent.i
        |  WHERE x.vec_id IN (SELECT vec_id FROM nz)
        |  GROUP BY x.vec_id, x.label
        |), rk AS (
        |  SELECT label, vec_id,
        |    round(dot / (sqrt(vv) * sqrt(cc)), 4) AS cosine_sim,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY round(dot / (sqrt(vv) * sqrt(cc)), 4), vec_id) AS rnk
        |  FROM m)
        |SELECT label, CAST(rnk AS BIGINT) AS rnk, vec_id, cosine_sim
        |FROM rk WHERE rnk <= 5 ORDER BY label, rnk""".stripMargin)),

    // T1 — token counting + quality scoring.
    QuerySpec("t1_text_stats", (s, d) => {
      Tables.documents(s, d).select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.distinctTokenCount(col("text")).as("distinct_tokens"),
          TextAnalysis.typeTokenRatio(col("text")).as("ttr"),
          TextAnalysis.avgTokenLength(col("text"), col("n_chars"))
            .as("avg_token_len"),
          TextAnalysis.qualityScore(col("text"), col("n_chars"))
            .as("quality_score"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_tokens_bpe"),
          TextAnalysis.punctuationRatio(col("text"), col("n_chars"))
            .as("punct_ratio"),
          TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """SELECT doc_id, nt AS n_tokens, dt AS distinct_tokens,
        |round(dt * 1.0 / nt, 4) AS ttr,
        |round((n_chars - nt + 1) * 1.0 / nt, 4) AS avg_token_len,
        |round((CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.5 END) * 0.4
        |  + least(dt * 1.0 / nt * 2, 1.0) * 0.6, 4) AS quality_score,
        |nb AS n_tokens_bpe,
        |round(np * 1.0 / n_chars, 4) AS punct_ratio,
        |round(sw * 1.0 / nt, 4) AS stopword_ratio
        |FROM (SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS dt,
        |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS nb,
        |  CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS np,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x IN
        |    ('the','a','of','and','to','in','is','el','la','de','y','que','en',
        |     'un','der','die','das','und','ist','ein','zu','le','et','est',
        |     'dans'))) AS BIGINT) AS sw
        |FROM documents) ORDER BY doc_id""".stripMargin)),

    // T19 — tokenizer comparison: whitespace vs BPE-ish regex counts.
    // The driver corpus is punctuation-free, where the two tokenizers
    // coincide exactly (t1's n_tokens_bpe column shows that equality) —
    // so this query injects deterministic punctuation (plain-string
    // replace ' a ' → ', a ', replayed verbatim by the oracle; the w9
    // injected-missingness precedent) to exercise the regex
    // segmentation where it DIVERGES: every injected comma is its own
    // BPE-ish token but invisible to whitespace splitting. Real
    // punctuated fixtures are unit-tested in TextAnalysisSpec.
    QuerySpec("t19_tokenizer_compare", (s, d) => {
      val punct = expr("replace(text, ' a ', ', a ')")
      Tables.documents(s, d).select(
          col("doc_id"),
          size(split(punct, " ")).cast("long").as("n_ws_tokens"),
          TextAnalysis.bpeishTokenCount(punct).as("n_bpeish_tokens"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """SELECT doc_id,
        |  CAST(len(string_split(replace(text, ' a ', ', a '), ' '))
        |    AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(replace(text, ' a ', ', a '),
        |    '\w+|[^\w\s]')) AS BIGINT) AS n_bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // T20 — URL extraction + per-domain rollup (blocklist / source-mix
    // audit shape): extract every http(s) URL, reduce to its host,
    // count urls and distinct docs per domain. The synthetic corpus
    // has no URLs (the op would be oracle-dead), so the query injects
    // them deterministically (w9/t19 precedent, replayed verbatim by
    // the oracle): every 5th doc gets one src<id%7>.example.com URL;
    // every 10th adds a second URL on the SAME src domain plus a
    // mirror<id%3>.example.org one — so n_urls > n_docs exactly on the
    // src domains, which keeps the two aggregates independently
    // discriminating. Scale: explode is map-side, the only shuffle is
    // the bounded per-domain agg (map-side combinable).
    QuerySpec("t20_url_stats", (s, d) => {
      def part(pre: String, dom: org.apache.spark.sql.Column, mid: String) =
        concat(lit(pre), dom.cast("string"), lit(mid),
          col("doc_id").cast("string"))
      val injected = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            part(" See https://src", pmod(col("doc_id"), lit(7)),
              ".example.com/p/")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(10)) === 0,
            concat(
              part(" and https://src", pmod(col("doc_id"), lit(7)),
                ".example.com/alt/"),
              part(" plus http://mirror", pmod(col("doc_id"), lit(3)),
                ".example.org/x/"))).otherwise(lit(""))).as("text"))
      injected
        .select(col("doc_id"),
          explode(TextAnalysis.extractUrls(col("text"))).as("url"))
        .groupBy(TextAnalysis.urlDomain(col("url")).as("domain"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("domain"))
    }, oracle = Some(
      """WITH inj AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' See https://src'
        |         || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/'
        |         || CAST(doc_id AS VARCHAR) ELSE '' END
        |    || CASE WHEN doc_id % 10 = 0 THEN ' and https://src'
        |         || CAST(doc_id % 7 AS VARCHAR) || '.example.com/alt/'
        |         || CAST(doc_id AS VARCHAR) || ' plus http://mirror'
        |         || CAST(doc_id % 3 AS VARCHAR) || '.example.org/x/'
        |         || CAST(doc_id AS VARCHAR) ELSE '' END AS text
        |  FROM documents
        |), u AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(text, 'https?://[^ ]+')) AS url
        |  FROM inj
        |)
        |SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
        |  CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // T2 — language-ID heuristic (stopword scoring, fixed tie precedence).
    QuerySpec("t2_lang_id", (s, d) => {
      val base = Tables.documents(s, d)
      val scored = TextAnalysis.langScores(col("text"))
        .foldLeft(base) { case (df, (name, c)) => df.withColumn(name, c) }
      scored
        .withColumn("predicted_lang", TextAnalysis.langId(col("text")))
        .select(col("doc_id"), col("predicted_lang"), col("score_en"),
          col("score_es"), col("score_de"), col("score_fr"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """SELECT doc_id,
        |CASE WHEN s_en + s_es + s_de + s_fr > 0 THEN
        |  CASE
        |    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |    WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr THEN 'es'
        |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |    WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
        |    ELSE 'unknown' END
        |ELSE 'unknown' END AS predicted_lang,
        |s_en AS score_en, s_es AS score_es, s_de AS score_de, s_fr AS score_fr
        |FROM (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('el','la','de','y','que','en','un'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('der','die','das','und','ist','ein','zu'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('le','la','de','et','est','un','dans'))) AS BIGINT) AS s_fr
        |FROM documents) ORDER BY doc_id""".stripMargin)),

    // T3 — content-defined document fingerprint (order-invariant).
    QuerySpec("t3_fingerprint", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text"))
          .as("fingerprint"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """SELECT doc_id, substr(md5(array_to_string(list_sort(list_distinct(
        |string_split(text, ' '))), ' ')), 1, 16) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // V1 — tumbling event-time window aggregation.
    QuerySpec("v1_tumbling_window", (s, d) => {
      EventWindows.tumbling(Tables.events(s, d), "1 hour")
        .orderBy(col("bucket_start_s"), col("event_type"))
    }, oracle = Some(
      """SELECT CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT)
        |  AS bucket_start_s, event_type, count(*) AS n_events,
        |CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_start_s, event_type""".stripMargin)),

    // V3 — calendar densification (resample to daily grain, zero-fill).
    QuerySpec("v3_densify_daily", (s, d) => {
      EventWindows.densifyDaily(Tables.events(s, d))
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_events"))
        .orderBy(col("user_id"), col("day"))
    }, oracle = Some(
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)
        |), spans AS (
        |  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
        |), calendar AS (
        |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        |    AS day FROM spans
        |)
        |SELECT c.user_id, strftime(c.day, '%Y-%m-%d') AS day,
        |  COALESCE(daily.n_events, 0) AS n_events
        |FROM calendar c LEFT JOIN daily
        |  ON c.user_id = daily.user_id AND c.day = daily.day
        |ORDER BY c.user_id, day""".stripMargin)),

    // T5 — fuzzy string matching (edit distance within blocks) — the
    // near-dup-titles flavor of dedup.
    QuerySpec("t5_fuzzy_match", (s, d) => {
      // block on (type, size): hundreds of balanced blocks, not 6 huge
      // skewed ones — pairs stay ~linear and the join parallelizes
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_type"),
        col("p_size"), col("p_name"))
      val a = p.select(col("p_partkey").as("a_id"), col("p_type"),
        col("p_size"), col("p_name").as("a_name"))
      val b = p.select(col("p_partkey").as("b_id"), col("p_type"),
        col("p_size"), col("p_name").as("b_name"))
      a.join(b, Seq("p_type", "p_size"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
        .filter(col("dist") <= 3 && col("dist") > 0)
        .select(col("a_id"), col("b_id"), col("dist"))
        .orderBy(col("a_id"), col("b_id"))
        .limit(2000)
    }, oracle = Some(
      """SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
        |CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_type = b.p_type AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |  AND levenshtein(a.p_name, b.p_name) > 0
        |ORDER BY a_id, b_id LIMIT 2000""".stripMargin)),

    // W19 — cube aggregation (all grouping-set combinations).
    QuerySpec("w19_cube", (s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).as("__gf"),
          grouping(col("l_linestatus")).as("__gs"),
          count(lit(1)).as("cnt"),
          graft.operators.Summaries.exactSum(col("l_quantity")).as("sum_qty"))
        .select(
          when(col("__gf") === 1, lit("ALL"))
            .otherwise(coalesce(col("l_returnflag"), lit("(null)")))
            .as("l_returnflag"),
          when(col("__gs") === 1, lit("ALL"))
            .otherwise(coalesce(col("l_linestatus"), lit("(null)")))
            .as("l_linestatus"),
          col("cnt"), col("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle = Some(
      """SELECT
        |CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
        |  ELSE COALESCE(l_returnflag, '(null)') END AS l_returnflag,
        |CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
        |  ELSE COALESCE(l_linestatus, '(null)') END AS l_linestatus,
        |count(*) AS cnt,
        |CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // V2 — sessionization (30-minute inactivity gap).
    QuerySpec("v2_sessionize", (s, d) => {
      EventWindows.sessionize(Tables.events(s, d), gapSeconds = 1800)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("session_start_s"), col("duration_s"))
        .orderBy(col("user_id"), col("session_id"))
    }, oracle = Some(
      """WITH e AS (
        |  SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS secs
        |  FROM events
        |), m AS (
        |  SELECT *, CASE WHEN lag(secs) OVER w IS NULL
        |    OR secs - lag(secs) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |), sess AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS session_id
        |  FROM m
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(secs) AS session_start_s, max(secs) - min(secs) AS duration_s
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)),

    // V8 — behavior-sequence assembly: one training example per
    // session, the event-type trail as an ordered string. Labeling
    // (v2's gaps-and-islands), grouping and assembly all ride ONE
    // (user_id) exchange; collect_list arrival order is canonicalized
    // by array_sort on the integer-exact (secs, event_id) struct prefix
    // before the join — the w24 list policy.
    QuerySpec("v8_session_sequences", (s, d) => {
      EventWindows.sessionSequences(Tables.events(s, d), gapSeconds = 1800)
        .orderBy(col("user_id"), col("session_id"))
    }, oracle = Some(
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS secs
        |  FROM events
        |), m AS (
        |  SELECT *, CASE WHEN lag(secs) OVER w IS NULL
        |    OR secs - lag(secs) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |), sess AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS session_id
        |  FROM m
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(secs) AS session_start_s,
        |  string_agg(event_type, '>' ORDER BY secs, event_id) AS event_seq
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)),

    // V9 — ordered conversion funnel (view → click → purchase, strict
    // time order, greedy earliest-qualifying step events, converts
    // within 1 day of funnel start): per-step reach counts + unrounded
    // decimal-exact mean seconds from funnel start. The 86400 s window
    // is what makes reach counts discriminate (150 → 60 → 14 at
    // sf0.01; unwindowed, this dense stream reaches every step for
    // every user). The oracle replays the same min-per-step cascade.
    QuerySpec("v9_funnel", (s, d) => {
      EventWindows.funnel(Tables.events(s, d),
        steps = Seq("view", "click", "purchase"),
        windowSeconds = 86400L)
    }, oracle = Some(
      // All step comparisons run on epoch-MICROSECOND bigints: Spark
      // truncates the parquet ns timestamps to µs (nanosAsLong + div
      // 1000), so comparing raw ns-native timestamps here could order a
      // sub-µs-separated pair differently from Spark's µs view. The
      // fixtures are µs-aligned today; the µs compare keeps parity even
      // if they stop being so.
      """WITH s1 AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t_first,
        |    min(epoch_us(ts)) AS t_curr FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), s2 AS (
        |  SELECT e.user_id, s1.t_first, min(epoch_us(e.ts)) AS t_curr
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t_curr
        |    AND epoch_us(e.ts) // 1000000 - s1.t_first // 1000000 <= 86400
        |  GROUP BY e.user_id, s1.t_first
        |), s3 AS (
        |  SELECT e.user_id, s2.t_first, min(epoch_us(e.ts)) AS t_curr
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t_curr
        |    AND epoch_us(e.ts) // 1000000 - s2.t_first // 1000000 <= 86400
        |  GROUP BY e.user_id, s2.t_first
        |), sm AS (
        |  SELECT 1 AS stp, 'view' AS event_type, count(*) AS n_users,
        |    CAST(sum(CAST(t_curr // 1000000 - t_first // 1000000
        |      AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_s_from_start
        |  FROM s1
        |  UNION ALL
        |  SELECT 2, 'click', count(*),
        |    CAST(sum(CAST(t_curr // 1000000 - t_first // 1000000
        |      AS DECIMAL(38,6))) AS DOUBLE) / count(*) FROM s2
        |  UNION ALL
        |  SELECT 3, 'purchase', count(*),
        |    CAST(sum(CAST(t_curr // 1000000 - t_first // 1000000
        |      AS DECIMAL(38,6))) AS DOUBLE) / count(*) FROM s3
        |)
        |SELECT CAST(stp AS BIGINT) AS step, event_type, n_users,
        |  avg_s_from_start
        |FROM sm ORDER BY step""".stripMargin)),

    // V10 — retention cohort matrix: users bucketed by first-event
    // epoch-DAY (cohort), activity counted per (cohort, day-offset)
    // cell — the classic retention triangle. Day granularity is what
    // discriminates on this ~2-month stream: week cohorts collapse to
    // one cohort with every user active every week (constant 150s —
    // oracle-dead); day cells range 13–134 with visible decay.
    // Window-free: one per-user min aggregate, one key join (cohort
    // table is |users|-sized → broadcastable), one distinct-count
    // aggregate; integer epoch-day division (`div` ↔ `//`) keeps both
    // engines bit-identical.
    QuerySpec("v10_retention_cohorts", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("long").as("s"))
        .localCheckpoint(eager = false) // feeds the cohort agg AND the join
      val first = ev.groupBy(col("user_id"))
        .agg(expr("min(s) div 86400").as("cohort_day"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort_day"),
          (expr("s div 86400") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }, oracle = Some(
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events
        |), f AS (
        |  SELECT user_id, min(s) // 86400 AS cohort_day
        |  FROM e GROUP BY user_id
        |)
        |SELECT f.cohort_day, e.s // 86400 - f.cohort_day AS day_offset,
        |  count(DISTINCT e.user_id) AS n_active
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // M1 — multimodal binary payload stats (relational fast path of the
    // media pipeline; the mapPartitions decode is ScalaTest-covered).
    QuerySpec("m1_payload_stats", (s, d) => {
      Multimodal.payloadStats(
          Multimodal.withBinaryPayload(Tables.documents(s, d)))
        .select(col("doc_id"), col("n_bytes"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // M5 — binary-payload exact dedup: collapse byte-identical media
    // blobs by content hash BEFORE any decode touches them (at 100 TB
    // of media the decode is the expensive stage — d1's exact-dedup
    // discipline applied at the payload grain, where it pays the
    // most). One hash aggregate on the md5 of the bytes, min-id
    // representative, dup groups only; documentsWithDups plants the
    // +1,000,000 clones so the collapse provably fires.
    QuerySpec("m5_payload_dedup", (s, d) => {
      Multimodal.withBinaryPayload(Tables.documentsWithDups(s, d))
        .groupBy(md5(col("payload")).as("payload_md5"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
        .filter(col("n_copies") > 1)
        .orderBy(col("keep_id"))
    }, oracle = Some(
      // m5 replays the clone injection and the content-hash collapse
      // (DuckDB md5 of VARCHAR ≡ Spark md5 of the utf-8 binary — the
      // o10 fingerprint pairing)
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text
        |  FROM documents WHERE doc_id % 25 = 0
        |)
        |SELECT md5(text) AS payload_md5, count(*) AS n_copies,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM d GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY keep_id""".stripMargin)),

    // M6 — multimodal payload NEAR-dup: SimHash over width-16 byte
    // shingles of the binary blob (stride 1 — alignment-robust under
    // byte insertions; see withPayloadSimHash), banded on 15-bit
    // simhash chunks, Hamming-verified — the d4-for-bytes analog that
    // closes the text/media asymmetry (VERDICT r7 item 3). Bucketed,
    // never all-pairs. documentsWithDups plants byte-identical clones
    // so candidate generation provably fires (Hamming 0 — the m5
    // discipline); the planted NEAR-identical (few-bytes-flipped) case
    // is pinned in ExtensionsSpec, where the fixture is controlled.
    // Fully oracle-replayed like d4 (ASCII fixture: byte shingles ==
    // char shingles — the m4 equivalence).
    QuerySpec("m6_payload_neardup", (s, d) => {
      // ONE vote pass (r9): at stride 1 the shingle explode is
      // ~payloadBytes hashes per doc — the board's single heaviest
      // projection — so the signed frame is checkpointed and shared by
      // candidate generation and the signature output instead of
      // computing the votes twice (was ~10 s at sf0.1, the top-cost
      // query; the fix removes half the vote work)
      val sim = Dedup.signedPayloadSimHashFrame(
        Multimodal.withBinaryPayload(Tables.documentsWithDups(s, d)))
      val pairs = Dedup.simHashPairsFromSigned(sim)
      val perDoc = pairs
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_candidates"))
      sim.join(perDoc, Seq("doc_id"), "left")
        .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // m6 replays the byte-shingle simhash end-to-end: the fixture is
      // ASCII (m4's length==octet_length equivalence), so DuckDB char
      // substr == Spark binary substr byte-for-byte, and md5(VARCHAR)
      // ≡ md5(binary slice) — then the d4 chunk/cap/pair/Hamming chain.
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text
        |  FROM documents WHERE doc_id % 25 = 0
        |), hs AS (
        |  SELECT doc_id, list_transform(
        |    generate_series(1, length(text) - 15, 1),
        |    i -> CAST('0x' || substr(md5(substr(text, i, 16)),1,15) AS BIGINT))
        |    AS hs
        |  FROM d WHERE length(text) >= 16
        |), sim AS (
        |  -- CAST: DuckDB list_sum returns HUGEINT; Spark emits BIGINT
        |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), j ->
        |    CASE WHEN list_sum(list_transform(hs,
        |        h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |      THEN CAST(1 AS BIGINT) << j ELSE 0 END)) AS BIGINT) AS simhash
        |  FROM hs
        |), chunked AS (
        |  SELECT doc_id, simhash, c.chunk,
        |    (simhash >> (c.chunk * 15)) & 32767 AS ckey
        |  FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS chunk) c
        |), capped AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY chunk, ckey) AS bsize
        |    FROM chunked)
        |  WHERE bsize <= 100
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    a.simhash AS a_sim, b.simhash AS b_sim
        |  FROM capped a JOIN capped b ON a.chunk = b.chunk AND a.ckey = b.ckey
        |    AND a.doc_id < b.doc_id
        |), ok AS (
        |  SELECT a_id, b_id FROM pairs WHERE bit_count(xor(a_sim, b_sim)) <= 3
        |), cand AS (
        |  SELECT doc_id, count(*) AS n_candidates FROM (
        |    SELECT unnest(LIST_VALUE(a_id, b_id)) AS doc_id FROM ok)
        |  GROUP BY doc_id
        |)
        |SELECT s.doc_id, s.simhash, COALESCE(c.n_candidates, 0) AS n_candidates
        |FROM sim s LEFT JOIN cand c ON s.doc_id = c.doc_id
        |ORDER BY s.doc_id""".stripMargin)),

    // M8 — frame-fingerprint near-dup: payloads cluster when their
    // SAMPLED-FRAME fingerprint sets overlap (containment ≥ 0.8) — the
    // perceptual-hash shape over m4's frame grain, one step past m6's
    // byte-grain SimHash (survives container edits that keep frames
    // intact). Candidates from an fp equi-join with the d3/m6
    // maxBucket skew cap; documentsWithDups plants clones so pairs
    // provably fire at overlap 1.0; the frame-SHIFTED near-dup case is
    // pinned in ExtensionsSpec where the fixture is controlled.
    QuerySpec("m8_frame_neardup", (s, d) => {
      Multimodal.frameNearDup(
          Multimodal.withBinaryPayload(Tables.documentsWithDups(s, d)),
          frameBytes = 64, stride = 1, minOverlap = 0.8, maxBucket = 100)
        .orderBy(col("a_id"), col("b_id"))
    }, oracle = Some(
      // m8 replays the clone injection, m4's frame slicing/fingerprint
      // (ASCII char slices ≡ byte slices), the window bucket cap, the
      // fp equi-join pair generation and the containment cutoff
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text
        |  FROM documents WHERE doc_id % 25 = 0
        |), f AS (
        |  SELECT DISTINCT doc_id,
        |    CAST('0x' || substr(md5(substring(text,
        |      CAST(i * 64 + 1 AS BIGINT), 64)), 1, 15) AS BIGINT) AS fp
        |  FROM (
        |    SELECT doc_id, text, unnest(generate_series(0,
        |      CAST((length(text) + 63) // 64 AS BIGINT) - 1, 1)) AS i
        |    FROM d WHERE length(text) > 0)
        |), perdoc AS (
        |  SELECT doc_id, count(*) AS nf FROM f GROUP BY doc_id
        |), capped AS (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS bsize
        |    FROM f)
        |  WHERE bsize <= 100
        |), shared AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    count(*) AS shared_frames
        |  FROM capped a JOIN capped b
        |    ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT s.a_id, s.b_id, s.shared_frames,
        |  round(s.shared_frames * 1.0 / least(pa.nf, pb.nf), 4) AS overlap
        |FROM shared s
        |JOIN perdoc pa ON s.a_id = pa.doc_id
        |JOIN perdoc pb ON s.b_id = pb.doc_id
        |WHERE round(s.shared_frames * 1.0 / least(pa.nf, pb.nf), 4) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin)),

    // M7 — LAION-style image-text pair curation: min-resolution /
    // aspect-ratio / caption-length / embedding-presence gates with
    // first-failing-rule fate attribution (t27's audit form at the PAIR
    // grain) — the published pre-CLIP-score filter battery of LAION
    // (Schuhmann et al. 2022). Pseudo-dims from the md5 recipe make the
    // gating oracle-replayable while the codec stays stubbed; see
    // Multimodal.pairCuration for the decode-after-gating scale story.
    // documentsWithDups makes no_embedding discriminating (clones have
    // no sidecar row — the m3 convention).
    QuerySpec("m7_pair_curation", (s, d) => {
      Multimodal.pairCuration(
          Multimodal.withBinaryPayload(Tables.documentsWithDups(s, d)),
          Tables.embeddings(s, d).select(col("vec_id").as("doc_id")))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // m7 replays the clone injection, the md5 pseudo-dims (h%1920+1,
      // (h//2048)%1080+1 — Spark `div` ≡ DuckDB `//` on the non-negative
      // 60-bit hash), the sidecar presence probe and the CASE precedence.
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text
        |  FROM documents WHERE doc_id % 25 = 0
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS cap_tokens
        |  FROM d
        |), dims AS (
        |  SELECT doc_id, n_bytes, h % 1920 + 1 AS width,
        |    (h // 2048) % 1080 + 1 AS height, cap_tokens
        |  FROM sig
        |)
        |SELECT m.doc_id, m.n_bytes, m.width, m.height, m.cap_tokens,
        |  CASE WHEN m.width < 200 OR m.height < 200 THEN 'too_small'
        |    WHEN greatest(m.width, m.height) * 1.0
        |      / least(m.width, m.height) > 3.0 THEN 'bad_aspect'
        |    WHEN m.cap_tokens NOT BETWEEN 10 AND 40 THEN 'caption_len'
        |    WHEN e.vec_id IS NULL THEN 'no_embedding'
        |    ELSE 'kept' END AS fate
        |FROM dims m LEFT JOIN embeddings e ON m.doc_id = e.vec_id
        |ORDER BY m.doc_id""".stripMargin)),

    // M3 — multimodal training-sample assembly: text + binary payload +
    // embedding sidecar joined into one sample row with per-modality
    // completeness flags — the manifest-join step that precedes any
    // multimodal training export. documentsWithDups makes the audit
    // discriminating: the injected clones (+1,000,000 ids) have no
    // embedding row, so has_embedding splits the corpus. Scale shape:
    // one key equi-join (sidecar broadcastable while |emb| small, hash
    // join on the uniform id key beyond), all else map-side.
    QuerySpec("m3_sample_assembly", (s, d) => {
      val docs = Multimodal.withBinaryPayload(Tables.documentsWithDups(s, d))
      // keep vec_id through the join so presence means ROW presence
      // (join hit), matching the oracle's `e.vec_id IS NOT NULL` — an
      // embedding-value null test would diverge if a sidecar row ever
      // carried a null array
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("doc_id"), col("vec_id").as("emb_vec_id"),
          col("embedding"))
      docs.join(emb, Seq("doc_id"), "left")
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("n_payload_bytes"),
          col("emb_vec_id").isNotNull.as("has_embedding"),
          when(col("emb_vec_id").isNotNull,
            size(col("embedding")).cast("long")).as("emb_dim"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH d AS (
        |  SELECT * FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 25 = 0
        |)
        |SELECT d.doc_id,
        |  CAST(octet_length(encode(d.text)) AS BIGINT) AS n_payload_bytes,
        |  e.vec_id IS NOT NULL AS has_embedding,
        |  CASE WHEN e.vec_id IS NOT NULL
        |    THEN CAST(len(e.embedding) AS BIGINT) END AS emb_dim
        |FROM d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin)),

    // M4 — deterministic frame sampling: payloads sliced into 64-byte
    // frames, every 4th kept, one row per sampled frame with offset /
    // length / 60-bit md5 fingerprint. The explode fan-out is map-side
    // (no shuffle); per-row output is bounded by bytes/(64·4), so a
    // 100 TB media table samples in one narrow pass. The fingerprint
    // and ragged last-frame length are the discriminators (every frame
    // hashes differently; frame_len < 64 exactly on each doc's tail).
    // Oracle replays the byte slicing on the VARCHAR text — exact
    // because the corpus is pure ASCII (verified octet_length == length
    // at both SFs), so char slices ARE the utf-8 byte slices.
    QuerySpec("m4_frame_sample", (s, d) => {
      Multimodal.sampleFrames(
          Multimodal.withBinaryPayload(Tables.documents(s, d)),
          frameBytes = 64, stride = 4)
        .orderBy(col("doc_id"), col("frame_idx"))
    }, oracle = Some(
      """WITH f AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0,
        |      CAST((length(text) + 63) // 64 AS BIGINT) - 1, 4)) AS i
        |  FROM documents WHERE length(text) > 0
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(i * 64 AS BIGINT) AS frame_off,
        |  CAST(length(substring(text, CAST(i * 64 + 1 AS BIGINT), 64))
        |    AS BIGINT) AS frame_len,
        |  CAST('0x' || substr(md5(substring(text,
        |    CAST(i * 64 + 1 AS BIGINT), 64)), 1, 15) AS BIGINT) AS frame_fp
        |FROM f
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // D5 — word-bigram Jaccard near-dup pairs (order-sensitive shingles).
    QuerySpec("d5_ngram_jaccard", (s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 2, threshold = 0.2)
        .orderBy(col("a_id"), col("b_id"))
    }, oracle = Some(
      """WITH prepared AS (
        |  SELECT doc_id, source, CAST(floor(n_chars / 32.0) AS BIGINT) AS bkt,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(text,' ')) - 2 + 2, 2)),
        |      i -> array_to_string(list_slice(string_split(text,' '), i, i + 1), ' ')))
        |      AS toks
        |  FROM documents
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  round(len(list_intersect(a.toks, b.toks)) * 1.0 /
        |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4)
        |    AS jaccard
        |FROM prepared a JOIN prepared b
        |  ON a.source = b.source AND abs(a.bkt - b.bkt) <= 1
        |  AND a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.toks, b.toks)) * 1.0 /
        |  (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4)
        |  >= 0.2
        |ORDER BY a_id, b_id""".stripMargin)),

    // D14 — prefix-filter set-containment near-dups (AllPairs/PPJoin
    // candidate strategy), rolled up per doc: raw pair volume is
    // unbounded on near-dup-dense corpora (10× the docs adds only
    // 1.7× new trigram shingles here — 16,245 → 27,213 — so cross-doc
    // overlap compounds: 51 candidate pairs at sf0.01 vs 133k at
    // sf0.1), and the d3/d4 per-doc aggregate keeps the emitted
    // surface corpus-sized.
    // maxPostings is left unbound here so the DuckDB oracle can replay
    // candidate generation exactly (prefix filtering is lossless
    // without the cap); the capped-subset behavior is pinned in
    // ExtensionsSpec instead.
    QuerySpec("d14_containment", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.containmentPairs(docs, n = 3, threshold = 0.9)
      val perDoc = pairs.groupBy(col("a_id").as("doc_id"))
        .agg(count(lit(1)).as("n_contained"),
          max(col("containment")).as("max_containment"))
      docs.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_contained"), lit(0L)).as("n_contained"),
          coalesce(col("max_containment"), lit(0.0)).as("max_containment"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // Replays the full prefix-filter pipeline (df table → rarest-first
      // order → prefix probe → inverted-index join → containment verify):
      // generation is lossless, so a brute-force oracle would be equally
      // correct, but the replay keeps the oracle O(candidates) instead of
      // O(n²) and double-checks the prefix math itself. ceil() runs on
      // the identical IEEE doubles both sides.
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS wd FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(wd) - 3 + 2, 2)),
        |    i -> array_to_string(list_slice(wd, i, i + 2), ' '))) AS toks
        |  FROM w
        |), ex AS (
        |  SELECT doc_id, unnest(toks) AS tok FROM sh
        |), dfreq AS (
        |  SELECT tok, count(*) AS df FROM ex GROUP BY tok
        |), ord AS (
        |  SELECT e.doc_id, e.tok,
        |    row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.tok) AS rk,
        |    count(*) OVER (PARTITION BY e.doc_id) AS n
        |  FROM ex e JOIN dfreq d USING (tok)
        |), probe AS (
        |  SELECT doc_id AS a_id, tok FROM ord WHERE rk <= n - ceil(0.9 * n) + 1
        |), cand AS (
        |  SELECT DISTINCT p.a_id, e.doc_id AS b_id
        |  FROM probe p JOIN ex e ON p.tok = e.tok AND p.a_id <> e.doc_id
        |), ver AS (
        |  SELECT c.a_id, c.b_id,
        |    len(list_intersect(a.toks, b.toks)) AS shared, len(a.toks) AS an
        |  FROM cand c
        |  JOIN sh a ON a.doc_id = c.a_id JOIN sh b ON b.doc_id = c.b_id
        |), pairs AS (
        |  SELECT a_id, b_id, round(shared * 1.0 / an, 4) AS containment
        |  FROM ver WHERE shared >= ceil(0.9 * an)
        |), roll AS (
        |  SELECT a_id, count(*) AS n_contained, max(containment) AS max_containment
        |  FROM pairs GROUP BY a_id
        |)
        |SELECT d.doc_id, COALESCE(r.n_contained, 0) AS n_contained,
        |  COALESCE(r.max_containment, 0.0) AS max_containment
        |FROM documents d LEFT JOIN roll r ON d.doc_id = r.a_id
        |ORDER BY d.doc_id""".stripMargin)),

    // E12 — product-quantization ANN (rows-only; value-verified by the
    // e12b contract in TrainingQueries): 64-dim floats → 16 one-byte
    // codes (striped subspaces, 16 codewords each, 16× compression),
    // query scores by ADC lookup table. The memory-bound ANN scale
    // path — at 100 TB the scan touches only the codes.
    // Two-stage: ADC shortlist (256 of N by quantized score) → exact
    // re-rank — emitted scores are exact cosines. Shortlist sizing is
    // data-dependent: this corpus is near-random (pairwise cosines
    // ≤0.37), the hardest case for quantized ranking — 256 holds
    // 10/10 recall at both test SFs (measured sweep: m=8 needs 640 at
    // sf0.1; m=16 needs 256). Clustered real-world embeddings get away
    // with far smaller shortlists.
    // Codebooks + codes come from the SHARED train-once artifact
    // (PqArtifact — the d12/e11 persisted-index pattern): e12 and the
    // e12b contract probe the same trained state instead of each
    // re-running the 7-job Lloyd training.
    QuerySpec("e12_pq_ann", (s, d) => {
      val (books, codes) = PqArtifact(s, d)
      Similarity.pqTopKRerank(Tables.embeddings(s, d), books,
        m = PqArtifact.M, ksub = PqArtifact.KSUB, queryId = 0L,
        k = 10, shortlist = 256, codes = codes)
    }, oracle = None),

    // E17 — IVF-PQ composed ANN (the production layout: cell routing ×
    // byte codes × exact re-rank; see Similarity.ivfPqTopK). Shares
    // e12's train-once PqArtifact; rows-only (which ids survive the
    // quantized stages is engine-specific) — e17b is the oracled
    // recall CONTRACT.
    QuerySpec("e17_ivfpq_ann", (s, d) => {
      val (books, codes) = PqArtifact(s, d)
      Similarity.ivfPqTopK(Tables.embeddings(s, d), books,
        m = PqArtifact.M, ksub = PqArtifact.KSUB, queryId = 0L,
        k = 10, numCells = 16, nprobe = 8, shortlist = 128,
        codes = codes)
    }, oracle = None),

    // E13 — SPARSE tf-idf cosine near-dup pairs (the lexical complement
    // to the dense-embedding ANN family — related-document retrieval
    // with no embedding model in the loop): idf-weighted 3-gram-shingle
    // set cosine, df-pruned vocabulary, pair dot products over a
    // term-keyed posting join (bounded per key — no all-pairs stage).
    // Threshold 0.35 sits in the corpus's empty margin (planted
    // near-dups score ≥ 0.5, background noise < 0.2), so the pair set
    // is stable and every emitted score discriminates. FULLY oracled —
    // the weights round to 6 dp before any pairwise arithmetic (the t8
    // ln() convention) and products/norms sum as exact decimals, so
    // unlike the float-projection ANN queries this one hash-matches.
    QuerySpec("e13_sparse_cosine", (s, d) => {
      TextAnalysis.sparseCosinePairs(Tables.documents(s, d),
          threshold = 0.35, maxDf = 100L)
        .orderBy(col("a_id"), col("b_id"))
    }, oracle = Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS wd FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(wd) - 3 + 2, 2)),
        |    i -> array_to_string(list_slice(wd, i, i + 2), ' '))) AS toks
        |  FROM w
        |), tf AS (
        |  SELECT doc_id, tok AS term, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM sh)
        |  GROUP BY doc_id, tok
        |), tot AS (
        |  SELECT doc_id, sum(cnt) AS total FROM tf GROUP BY doc_id
        |), dfq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), nn AS (SELECT count(*) AS n FROM documents),
        |wt AS (
        |  SELECT tf.doc_id, tf.term,
        |    round((tf.cnt * 1.0 / tot.total) * ln(nn.n * 1.0 / dfq.df), 6)
        |      AS wgt
        |  FROM tf JOIN tot USING (doc_id) JOIN dfq USING (term), nn
        |  WHERE dfq.df <= 100
        |), nrm AS (
        |  SELECT doc_id, sqrt(CAST(sum(CAST(round(wgt * wgt, 12)
        |    AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
        |  FROM wt GROUP BY doc_id
        |), dots AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(sum(CAST(round(a.wgt * b.wgt, 12) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS dot
        |  FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT d.a_id, d.b_id,
        |  round(d.dot / (na.nrm * nb.nrm), 4) AS cosine_sim
        |FROM dots d
        |JOIN nrm na ON d.a_id = na.doc_id
        |JOIN nrm nb ON d.b_id = nb.doc_id
        |WHERE round(d.dot / (na.nrm * nb.nrm), 4) >= 0.35
        |ORDER BY a_id, b_id""".stripMargin)),

    // E4 — IVF-style ANN (coarse-quantizer cells + probe; rows-only
    // oracle, recall vs brute force checked in SimilaritySpec).
    QuerySpec("e4_ivf_ann", (s, d) => {
      Similarity.ivfTopK(Tables.embeddings(s, d), queryId = 0L, k = 10)
    }, oracle = None),

    // E7 — symmetric int8 embedding quantization (the compression step
    // under product/scalar-quantized ANN at scale: 4× smaller vectors,
    // one scale per vector). Quantizer is floor(x/scale + 0.5) clamped
    // to ±127 — spelled as explicit IEEE ops, NOT round(), so both
    // engines compute bit-identical codes. Verified via per-vector code
    // statistics (L1 mass, extremes) instead of raw array compare; all
    // math in promoted-to-double floats, a pure map pass (no shuffle).
    QuerySpec("e7_embed_quantize", (s, d) => {
      val amax = array_max(transform(col("embd"), x => abs(x)))
      Tables.embeddings(s, d)
        .withColumn("embd", transform(col("embedding"), x => x.cast("double")))
        .withColumn("scale",
          when(amax === 0, lit(1.0)).otherwise(amax / lit(127.0)))
        .withColumn("codes", transform(col("embd"), x =>
          greatest(lit(-127L),
            least(lit(127L), floor(x / col("scale") + lit(0.5))))))
        .select(col("vec_id"), col("scale"),
          aggregate(col("codes"), lit(0L), (acc, c) => acc + abs(c))
            .as("q_l1"),
          array_max(col("codes")).as("q_max"),
          array_min(col("codes")).as("q_min"))
        .orderBy(col("vec_id"))
    }, oracle = Some(
      """WITH sc AS (
        |  SELECT vec_id, e,
        |    CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS scale
        |  FROM (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS amax
        |    FROM embeddings)
        |), codes AS (
        |  SELECT vec_id, scale, list_transform(e, x ->
        |    greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
        |      CAST(floor(x / scale + 0.5) AS BIGINT)))) AS c
        |  FROM sc
        |)
        |SELECT vec_id, scale,
        |  CAST(list_sum(list_transform(c, x -> abs(x))) AS BIGINT) AS q_l1,
        |  CAST(list_max(c) AS BIGINT) AS q_max,
        |  CAST(list_min(c) AS BIGINT) AS q_min
        |FROM codes ORDER BY vec_id""".stripMargin)),

    // E8 — batch k-NN join: top-5 neighbors for the first 8 vectors
    // (the query set) against the rest (the corpus) in one corpus pass;
    // the bounded map-side top-k aggregator keeps the shuffle at
    // |Q|·k·partitions regardless of corpus size.
    QuerySpec("e8_knn_join", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoin(
        emb.filter(col("vec_id") >= 8),
        emb.filter(col("vec_id") < 8), k = 5)
    }, oracle = Some(
      // Same unnest/rejoin dot-product replay as e1, generalized to all
      // query vectors at once; row_number replays the aggregator's
      // (score DESC, vec_id) tie order.
      """WITH q AS (
        |  SELECT vec_id AS q_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS qv
        |  FROM embeddings WHERE vec_id < 8
        |), v AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS ev
        |  FROM embeddings WHERE vec_id >= 8
        |), m AS (
        |  SELECT q.q_id, v.vec_id,
        |    round(sum(v.ev * q.qv)
        |      / (sqrt(sum(v.ev * v.ev)) * sqrt(sum(q.qv * q.qv))), 4)
        |      AS cosine_sim
        |  FROM v JOIN q ON v.i = q.i GROUP BY q.q_id, v.vec_id
        |), r AS (
        |  SELECT q_id, vec_id, cosine_sim, row_number() OVER (
        |    PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id) AS rnk
        |  FROM m
        |)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id, cosine_sim
        |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin)),

    // E11 — incremental ANN ingest CONTRACT (the d11/d12 ingest shape
    // for embeddings; e5/e9 contract pattern since float-derived
    // candidates can't hash-match): the first 400 vec_ids play the
    // persisted SRP bucket index, vec_ids [400, 500) arrive as the
    // batch and probe it — the index is never re-signed, the batch
    // broadcasts. The batch is a FIXED 100-row slice, not "everything
    // above 400": incrementalAnnPairs broadcasts its batch, so a batch
    // that grew with the scale factor would contradict the
    // per-ingest-cost-independent-of-corpus-size contract (ADVICE r3).
    // Asserts (a) the probe finds candidates at threshold 0.3 / 8
    // planes (the settings e9 proved this data meets — the contract
    // bites), (b) pairs only cross batch→index, (c) every emitted
    // pair's similarity re-verifies INDEPENDENTLY: the builtin
    // zip_with/aggregate cosine recomputed from the raw table agrees
    // with the fused codegen expression the probe used, pair by pair —
    // O(pairs), not an O(batch×index) brute-force replay of the same
    // expression.
    QuerySpec("e11_incremental_ann", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val index = Similarity.srpBucketIndex(emb.filter(col("vec_id") < 400))
      val batch = emb.filter(col("vec_id") >= 400 && col("vec_id") < 500)
      val pairs = Similarity.incrementalAnnPairs(batch, index, threshold = 0.3)
        .localCheckpoint(eager = false) // feeds both contract aggregates
      val stats = pairs.agg(
        count(lit(1)).as("n_pairs"),
        count(when(col("new_id") < 400 || col("new_id") >= 500
          || col("old_id") >= 400, 1))
          .as("n_wrong_side"))
      val reverified = pairs
        .join(emb.select(col("vec_id").as("new_id"),
          col("embedding").as("nv")), Seq("new_id"))
        .join(emb.select(col("vec_id").as("old_id"),
          col("embedding").as("ov")), Seq("old_id"))
        .agg(count(when(
          round(Similarity.cosineBuiltin(col("nv"), col("ov")), 4)
            =!= col("cosine_sim") || col("cosine_sim") < 0.3, 1))
          .as("n_mismatch"))
      // d17 pattern: the batch size is SQL-expressible ground truth
      // for the cross-only invariant — the oracle re-derives it
      stats.crossJoin(reverified)
        .crossJoin(emb.filter(col("vec_id") >= 400 && col("vec_id") < 500)
          .agg(count(lit(1)).as("n_batch")))
        .select(
        (col("n_pairs") > 0).as("has_pairs"),
        (col("n_wrong_side") === 0).as("pairs_cross_only"),
        (col("n_mismatch") === 0).as("pairs_reverified"),
        col("n_batch"))
    }, oracle = Some(
      """SELECT true AS has_pairs, true AS pairs_cross_only,
        |  true AS pairs_reverified,
        |  (SELECT count(*) FROM embeddings
        |   WHERE vec_id >= 400 AND vec_id < 500) AS n_batch""".stripMargin)),

    // E9 — embedding near-dup cluster CONTRACT (companion to e3 + d9;
    // same pattern as e5/e6: float-derived candidates can't hash-match,
    // so the oracle asserts structural invariants the clustering must
    // satisfy): (a) the candidate set is non-empty (the contract BITES —
    // the synthetic embeddings top out near cos 0.51, so a "dup-like"
    // threshold would vacuously pass), (b) every SRP candidate pair is
    // assigned to ONE cluster, (c) every vector is labeled exactly once,
    // (d) each cluster's canonical survivor is its min id.
    QuerySpec("e9_embed_clusters", (s, d) => {
      val emb = Tables.embeddings(s, d)
      // reused by the cluster build AND the colocation check
      val pairs = Similarity.cosineNearDupPairs(emb, threshold = 0.3)
        .localCheckpoint(eager = false)
      val clusters = Dedup.nearDupClusters(
          emb.select(col("vec_id")), pairs, "vec_id")
        .localCheckpoint(eager = false)
      val la = clusters.select(col("vec_id").as("a_id"),
        col("cluster_id").as("a_cl"))
      val lb = clusters.select(col("vec_id").as("b_id"),
        col("cluster_id").as("b_cl"))
      val colocated = pairs.join(la, Seq("a_id")).join(lb, Seq("b_id"))
        .agg(coalesce(count(when(col("a_cl") =!= col("b_cl"), 1)), lit(0L))
          .as("n_split"),
          count(lit(1)).as("n_pairs"))
      val labeled = clusters.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("vec_id")).as("n_ids"))
      val total = emb.agg(count(lit(1)).as("n_vecs"))
      val canon = clusters.groupBy(col("cluster_id"))
        .agg(min(col("vec_id")).as("min_id"),
          max(when(col("is_canonical"), col("vec_id"))).as("canon_id"))
        .agg(count(when(col("min_id") =!= col("canon_id")
          || col("canon_id").isNull, 1)).as("n_bad_canon"))
      // d17 pattern: the corpus size the totality invariant is measured
      // against is SQL-expressible — the oracle re-derives it
      colocated.crossJoin(labeled).crossJoin(total).crossJoin(canon)
        .select(
          (col("n_pairs") > 0).as("has_candidate_pairs"),
          (col("n_split") === 0).as("pairs_colocated"),
          (col("n_rows") === col("n_vecs")
            && col("n_ids") === col("n_vecs")).as("all_labeled_once"),
          (col("n_bad_canon") === 0).as("canonical_is_min_id"),
          col("n_vecs"))
    }, oracle = Some(
      // Contract oracle (e5/e6 pattern): Spark emits the invariant checks
      // as booleans; the oracle asserts they all hold.
      // e9/e11 ground truth re-derives from the embeddings table
      // (the d17 pattern)
      """SELECT true AS has_candidate_pairs, true AS pairs_colocated,
        |  true AS all_labeled_once, true AS canonical_is_min_id,
        |  (SELECT count(*) FROM embeddings) AS n_vecs""".stripMargin)),

    // T15 — Unicode NFC normalization (native codegen expression,
    // functions/NfcNormalize.scala): multilingual corpora carry visually
    // identical strings with different codepoint sequences; without NFC
    // in front of hashing, near-identical docs escape exact dedup. The
    // ASCII test corpus is AUGMENTED with deterministic DECOMPOSED
    // sequences (e+U+0301, A+U+030A) so the op does real work; verified
    // via md5 of the normalized text + the codepoint-count drop the
    // composition causes. DuckDB `nfc_normalize` is the oracle twin.
    QuerySpec("t15_unicode_nfc", (s, d) => {
      val aug = concat(col("text"), lit(ExtensionQueries.DecomposedSuffix))
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(graft.functions.NfcNormalize.nfc_normalize(aug).cast("binary"))
            .as("nfc_hash"),
          length(aug).cast("long").as("n_raw_chars"),
          length(graft.functions.NfcNormalize.nfc_normalize(aug))
            .cast("long").as("n_nfc_chars"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // DuckDB's nfc_normalize implements the same Unicode NFC form as
      // java.text.Normalizer; the suffix literal carries the decomposed
      // codepoints (same UTF-8 bytes both engines).
      s"""SELECT doc_id,
        |  md5(nfc_normalize(text || '$DecomposedSuffix')) AS nfc_hash,
        |  CAST(length(text || '$DecomposedSuffix') AS BIGINT)
        |    AS n_raw_chars,
        |  CAST(length(nfc_normalize(text || '$DecomposedSuffix')) AS BIGINT)
        |    AS n_nfc_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // T17 — corpus-novelty scoring via rare-bigram fraction: the share
    // of a doc's bigram OCCURRENCES whose whole-corpus frequency is ≤ 2
    // — high values flag gibberish/noise, low values flag boilerplate
    // (the integer-exact cousin of an LM-perplexity quality filter).
    // Two combinable aggs + one equi-join on the bigram key: the
    // per-doc count table checkpoints so tokenize+explode runs once,
    // and global counts JOIN back hash-partitioned on the bigram — no
    // broadcast of the "rare" set, which at corpus scale is most of
    // the vocabulary.
    QuerySpec("t17_rare_bigram_frac", (s, d) => {
      val bg = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(TextAnalysis.bigrams(col("toks"))).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false)
      val global = bg.groupBy(col("bg")).agg(sum(col("c")).as("gc"))
      bg.join(global, Seq("bg"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"),
          coalesce(sum(when(col("gc") <= 2, col("c"))), lit(0L))
            .as("n_rare"))
        .withColumn("rare_bigram_frac",
          col("n_rare") * lit(1.0) / col("n_bigrams"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), bg AS (
        |  SELECT doc_id, bg, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1])) AS bg FROM base)
        |  GROUP BY doc_id, bg
        |), g AS (
        |  SELECT bg, CAST(sum(c) AS BIGINT) AS gc FROM bg GROUP BY bg
        |)
        |SELECT b.doc_id, CAST(sum(b.c) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(sum(CASE WHEN g.gc <= 2 THEN b.c END), 0) AS BIGINT)
        |    AS n_rare,
        |  CAST(coalesce(sum(CASE WHEN g.gc <= 2 THEN b.c END), 0) AS BIGINT)
        |    * 1.0 / CAST(sum(b.c) AS BIGINT) AS rare_bigram_frac
        |FROM bg b JOIN g USING (bg)
        |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin)),

    // T4 — explode/lateral surface: global word counts, top 20.
    QuerySpec("t4_word_counts", (s, d) => {
      Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    }, oracle = Some(
      """SELECT word, count(*) AS n FROM (
        |SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin)),

    // T11 — Gopher/MassiveText repetition filters (Rae et al. 2021
    // §A1.1): duplicate-word fraction plus the frequency fraction of the
    // single most common word and bigram — the boilerplate signals a
    // pretraining pipeline thresholds on. Per-doc modes come from two
    // (doc_id, gram) partial+final aggregates — the grouping key includes
    // doc_id, so global stopword skew cannot concentrate on one reducer.
    // Ratios are emitted UNROUNDED: a/b over the same ints is
    // bit-identical IEEE in both engines, while rounding a ratio risks
    // engine-specific half-tie behavior.
    QuerySpec("t11_repetition", (s, d) => {
      // the corpus is scanned ONCE: the tokenized frame materializes
      // behind a lazy checkpoint and both signal branches (word modes,
      // bigram modes) read it via map-side explodes — at 100 TB
      // re-deriving each signal from its own corpus scan is the
      // difference between one pass and three, and deriving bigrams
      // from the array keeps them shuffle-free (vs a pos-window, which
      // would re-sort the whole token stream per doc)
      val toks = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .localCheckpoint(eager = false)
      // nt (token count), dt (distinct count) and the top-word mode all
      // fall out of ONE (doc,word) aggregate
      val wordStats = toks
        .select(col("doc_id"), explode(col("toks")).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("nt"), count(lit(1)).as("dt"),
          max(col("c")).as("twc"))
      val topBigram = toks
        .select(col("doc_id"),
          explode(TextAnalysis.bigrams(col("toks"))).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("tbc"))
      wordStats
        .join(topBigram, Seq("doc_id"), "left") // 1-token docs: no bigram
        .select(col("doc_id"),
          ((col("nt") - col("dt")) * lit(1.0) / col("nt"))
            .as("dup_word_frac"),
          (col("twc") * lit(1.0) / col("nt")).as("top_word_frac"),
          when(col("nt") > 1,
            coalesce(col("tbc"), lit(0L)) * lit(1.0) / (col("nt") - 1))
            .otherwise(lit(0.0)).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), stats AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS nt,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS dt FROM base
        |), topw AS (
        |  SELECT doc_id, max(c) AS twc FROM (
        |    SELECT doc_id, word, count(*) AS c FROM (
        |      SELECT doc_id, unnest(toks) AS word FROM base)
        |    GROUP BY doc_id, word)
        |  GROUP BY doc_id
        |), topb AS (
        |  SELECT doc_id, max(c) AS tbc FROM (
        |    SELECT doc_id, bg, count(*) AS c FROM (
        |      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1])) AS bg FROM base)
        |    GROUP BY doc_id, bg)
        |  GROUP BY doc_id
        |)
        |SELECT s.doc_id,
        |  (s.nt - s.dt) * 1.0 / s.nt AS dup_word_frac,
        |  w.twc * 1.0 / s.nt AS top_word_frac,
        |  CASE WHEN s.nt > 1
        |    THEN COALESCE(b.tbc, 0) * 1.0 / (s.nt - 1)
        |    ELSE 0.0 END AS top_bigram_frac
        |FROM stats s JOIN topw w USING (doc_id)
        |  LEFT JOIN topb b USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin)),

    // W13 — manual pivot (sum per key spread over category columns).
    QuerySpec("w13_pivot", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(graft.operators.Summaries.exactSum(col("l_quantity")))
        .orderBy(col("l_linestatus"))
    }, oracle = Some(
      """SELECT l_linestatus,
        |CAST(round(sum(CASE WHEN l_returnflag = 'A'
        |  THEN CAST(l_quantity AS DECIMAL(38,6)) END), 2) AS DOUBLE) AS A,
        |CAST(round(sum(CASE WHEN l_returnflag = 'N'
        |  THEN CAST(l_quantity AS DECIMAL(38,6)) END), 2) AS DOUBLE) AS N,
        |CAST(round(sum(CASE WHEN l_returnflag = 'R'
        |  THEN CAST(l_quantity AS DECIMAL(38,6)) END), 2) AS DOUBLE) AS R
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // W14 — rollup aggregation over the region/nation hierarchy.
    QuerySpec("w14_rollup", (s, d) => {
      val joined = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
      // grouping() distinguishes the subtotal rows from a genuine NULL
      // group value — coalesce alone would conflate the two
      joined.rollup(col("r_name"), col("n_name"))
        .agg(grouping(col("r_name")).as("__gr"),
          grouping(col("n_name")).as("__gn"),
          count(lit(1)).as("n_customers"),
          graft.operators.Summaries.exactSum(col("c_acctbal")).as("sum_acctbal"))
        .select(
          when(col("__gr") === 1, lit("ALL"))
            .otherwise(coalesce(col("r_name"), lit("(null)"))).as("r_name"),
          when(col("__gn") === 1, lit("ALL"))
            .otherwise(coalesce(col("n_name"), lit("(null)"))).as("n_name"),
          col("n_customers"), col("sum_acctbal"))
        .orderBy(col("r_name"), col("n_name"))
    }, oracle = Some(
      """SELECT
        |CASE WHEN GROUPING(r_name) = 1 THEN 'ALL'
        |  ELSE COALESCE(r_name, '(null)') END AS r_name,
        |CASE WHEN GROUPING(n_name) = 1 THEN 'ALL'
        |  ELSE COALESCE(n_name, '(null)') END AS n_name,
        |count(*) AS n_customers,
        |CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name, n_name""".stripMargin)),

    // W15 — sketch aggregates (HLL distinct + approximate quantiles);
    // rows-only oracle (sketch internals are engine-specific),
    // exactness bounds checked in SketchSpec.
    QuerySpec("w15_sketches", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("approx_median_price"))
        .orderBy(col("l_returnflag"))
    }, oracle = None)
  )

  /** The d22 incremental-curation replay — see the d22 spec's comment.
    * Stage fragments are the (green) t27/d11/d12/d19 oracle recipes,
    * re-pointed at the state/batch fixture frames. */
  private def d22OracleSql: String = {
    val passage = " " + TrainingQueries.DedupPassage
    s"""WITH state AS MATERIALIZED (
      |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || '$passage'
      |    ELSE text END AS text
      |  FROM documents WHERE doc_id < 400
      |), batch AS MATERIALIZED (
      |  SELECT doc_id, CASE WHEN doc_id % 9 = 0 THEN text || '$passage'
      |    ELSE text END AS text
      |  FROM documents WHERE doc_id >= 400
      |  UNION ALL SELECT doc_id + 1000000, text FROM state
      |    WHERE doc_id % 25 = 0
      |  UNION ALL SELECT doc_id + 2000000, text || ' zz' FROM state
      |    WHERE doc_id % 30 = 0
      |  UNION ALL SELECT doc_id + 3000000, text || ' qq' FROM documents
      |    WHERE doc_id >= 400 AND doc_id % 35 = 0
      |  UNION ALL SELECT doc_id + 4000000, text || ' qq' FROM documents
      |    WHERE doc_id >= 400 AND doc_id % 35 = 0
      |), flagged AS MATERIALIZED (
      |  SELECT *,
      |    CASE WHEN n_words NOT BETWEEN 50 AND 100000 THEN 'word_count'
      |         WHEN mean_word_len NOT BETWEEN 3.0 AND 10.0
      |           THEN 'mean_word_len'
      |         WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
      |         WHEN alpha_frac < 0.8 THEN 'alpha_frac'
      |         WHEN n_stopword_hits < 2 THEN 'stopwords'
      |         ELSE 'pass' END AS reject_reason
      |  FROM (
      |    SELECT doc_id, text, md5(lower(trim(text))) AS fp,
      |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |      round((len(text) - len(string_split(text, ' ')) + 1) * 1.0
      |        / len(string_split(text, ' ')), 4) AS mean_word_len,
      |      round(((len(text) - len(replace(text, '#', '')))
      |          + (len(text) - len(replace(text, '...', ''))) / 3) * 1.0
      |        / len(string_split(text, ' ')), 4) AS symbol_ratio,
      |      round(len(list_filter(string_split(text, ' '),
      |          x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
      |        / len(string_split(text, ' ')), 4) AS alpha_frac,
      |      CAST(len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the','be','to','of','and','that','have','with')))
      |        AS BIGINT) AS n_stopword_hits
      |    FROM batch)
      |), statefps AS MATERIALIZED (
      |  SELECT DISTINCT md5(lower(trim(text))) AS fp FROM state
      |), qfresh AS MATERIALIZED (
      |  SELECT doc_id, text, fp FROM flagged WHERE reject_reason = 'pass'
      |    AND fp NOT IN (SELECT fp FROM statefps)
      |), keep AS MATERIALIZED (
      |  SELECT fp, min(doc_id) AS keep_id FROM qfresh GROUP BY fp
      |), slice AS MATERIALIZED (
      |  SELECT q.doc_id, q.text FROM qfresh q
      |  JOIN keep k ON q.fp = k.fp AND q.doc_id = k.keep_id
      |), consts AS (SELECT $minhashA AS ca, $minhashB AS cb),
      |mh AS MATERIALIZED (
      |  SELECT side, doc_id, list_transform(range(1, 33), s ->
      |    list_min(list_transform(hs, h -> (ca[s] * h + cb[s]) % 1000000007)))
      |    AS sig32
      |  FROM (
      |    SELECT side, doc_id, list_transform(list_distinct(list_transform(
      |      range(1, greatest(len(string_split(text,' ')) - 3 + 2, 2)),
      |      i -> array_to_string(list_slice(string_split(text,' '), i, i + 2),
      |        ' '))),
      |      x -> CAST('0x' || substr(md5(x),1,15) AS BIGINT) % 1000000007)
      |      AS hs
      |    FROM (SELECT 's' AS side, doc_id, text FROM state
      |          UNION ALL SELECT 'b', doc_id, text FROM slice))
      |  CROSS JOIN consts
      |), banded AS MATERIALIZED (
      |  SELECT side, doc_id, sig32, b.band,
      |    array_to_string(list_slice(sig32, b.band * 4 + 1, b.band * 4 + 4),
      |      ',') AS bkey
      |  FROM mh CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b
      |), bidx AS MATERIALIZED (
      |  SELECT * FROM (
      |    SELECT doc_id, sig32, band, bkey,
      |      row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id)
      |        AS brank
      |    FROM banded WHERE side = 's')
      |  WHERE brank <= 100
      |), nearids AS MATERIALIZED (
      |  SELECT DISTINCT new_id AS doc_id FROM (
      |    SELECT DISTINCT b.doc_id AS new_id, i.doc_id AS old_id,
      |      b.sig32 AS ns, i.sig32 AS os
      |    FROM (SELECT * FROM banded WHERE side = 'b') b
      |    JOIN bidx i ON b.band = i.band AND b.bkey = i.bkey)
      |  WHERE round(len(list_filter(range(1, 33), k -> ns[k] = os[k]))
      |    / 32.0, 4) >= 0.3
      |), spanidx AS MATERIALIZED (
      |  SELECT DISTINCT CAST('0x' || substr(md5(array_to_string(
      |    list_slice(toks, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
      |  FROM (SELECT toks, unnest(range(1, len(toks) - 6)) AS i
      |        FROM (SELECT string_split(text, ' ') AS toks FROM state
      |              WHERE len(string_split(text, ' ')) >= 8))
      |), spanids AS MATERIALIZED (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, max(rs) + 7 AS longest FROM (
      |      SELECT doc_id, count(*) AS rs FROM (
      |        SELECT doc_id, pos,
      |          row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      |        FROM (
      |          SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |            CAST('0x' || substr(md5(array_to_string(
      |              list_slice(toks, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
      |          FROM (SELECT doc_id, string_split(text, ' ') AS toks,
      |                  unnest(range(1, len(string_split(text, ' ')) - 6))
      |                    AS i
      |                FROM slice
      |                WHERE len(string_split(text, ' ')) >= 8))
      |        WHERE h IN (SELECT h FROM spanidx))
      |      GROUP BY doc_id, pos - rn)
      |    GROUP BY doc_id)
      |  WHERE longest >= 16
      |)
      |SELECT f.doc_id,
      |  CASE WHEN f.reject_reason <> 'pass' THEN 'low_quality'
      |       WHEN f.fp IN (SELECT fp FROM statefps) THEN 'exact_dup_state'
      |       WHEN f.doc_id <> k.keep_id THEN 'exact_dup_batch'
      |       WHEN f.doc_id IN (SELECT doc_id FROM nearids)
      |         THEN 'near_dup_state'
      |       WHEN f.doc_id IN (SELECT doc_id FROM spanids)
      |         THEN 'span_dup_state'
      |       ELSE 'kept' END AS status,
      |  f.n_words AS n_tokens
      |FROM flagged f LEFT JOIN keep k ON f.fp = k.fp
      |ORDER BY f.doc_id""".stripMargin
  }
}
