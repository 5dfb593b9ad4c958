package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftBridge.{fitsBroadcast, measuredCut}
import org.apache.spark.sql.functions._

import graft.extensions.{Bpe, Curation, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.operators.{Joins, Summaries, WindowOps}
import graft.sources.Tables

/** Round-2 additions to the training-data pipeline surface: deterministic
  * sampling, dedup application, exact grouped percentiles, text
  * normalization, TF-IDF, a flagship multiway analytical join, and the
  * multimodal decode path — all DuckDB-oracled.
  *
  * Determinism notes follow the engine-wide policy (ParityQueries doc):
  * integer arithmetic for sampling hashes (bit-exact in both engines),
  * decimal-exact sums, total-order ORDER BY everywhere.
  */
object TrainingQueries {

  /** The deterministic 30-token passage d18 appends to every
    * doc_id % 7 == 0 (the d16 injection precedent) — shared by the
    * Spark query and the DuckDB oracle so both replay it verbatim. */
  val DedupPassage: String = "grain alpha beta gamma delta epsilon " +
    "zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma " +
    "tau upsilon phi chi psi omega red green blue gold silver"

  /** t39's minhash replay constants — the same md5-derived universal
    * hash family the d3/d12 oracles inline ([[Dedup.seedConst]]). */
  private val minhashA = (0 until Dedup.LshNumHashes)
    .map(Dedup.seedConst("a", _)).mkString("LIST_VALUE(", ",", ")")
  private val minhashB = (0 until Dedup.LshNumHashes)
    .map(Dedup.seedConst("b", _)).mkString("LIST_VALUE(", ",", ")")

  /** The t40/t41 lexical quality signal — ten symbol-spam tokens
    * appended to every doc_id % 5 == 0 document: 30 '#' chars trip the
    * Gopher symbol-ratio rule (>0.1 of ~110 words), so the label
    * becomes PARTLY expressible in the bag-of-words — the DCLM premise
    * (a linear model can see spam words; it cannot see a length).
    * Shared by the Spark fixture and the DuckDB replay. */
  val SpamMarker: String =
    " ### ### ### ### ### ### ### ### ### ###"

  /** Shared e1-replay CTE: the brute-force cosine top-10 ground truth
    * the e5/e6/e12b/e14b contract oracles re-derive (round-4 cosine,
    * (sim DESC, vec_id) tiebreak — bruteForceTopK's exact ordering).
    * ONE copy: a drift in the rounding or tiebreak convention must hit
    * all four oracles together or none. */
  private val BruteForceTop10Cte: String =
    """WITH q AS (
      |  SELECT generate_subscripts(embedding, 1) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS qv
      |  FROM embeddings WHERE vec_id = 0
      |), v AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS ev
      |  FROM embeddings WHERE vec_id <> 0
      |), m AS (
      |  SELECT v.vec_id, sum(v.ev * q.qv) AS dot,
      |    sum(v.ev * v.ev) AS vv, sum(q.qv * q.qv) AS qq
      |  FROM v JOIN q ON v.i = q.i GROUP BY v.vec_id
      |), top10 AS (
      |  SELECT vec_id FROM m
      |  ORDER BY round(dot / (sqrt(vv) * sqrt(qq)), 4) DESC, vec_id
      |  LIMIT 10
      |)""".stripMargin

  /** t42's split predicate, the s18 convention verbatim: seeded md5 of
    * the content fingerprint mod 10 — buckets 0–7 train. Applied to the
    * SPAM-INJECTED text (corpus0), exactly what the Spark side hashes. */
  private val SplitTrainPred =
    "CAST('0x' || substr(md5('split42:' || md5(lower(trim(text)))), " +
      "1, 15) AS BIGINT) % 10 <= 7"

  val specs: Seq[QuerySpec] = Seq(

    // S8 — stratified deterministic sampling via a multiplicative integer
    // hash: the scale-safe substitute for rand()-based sampleBy (seeded
    // rand is engine-specific and re-shuffles nondeterministically at
    // resume; an integer hash of the row key is reproducible on any
    // cluster layout and pushes down to the scan). Per-stratum rates:
    // A 5%, R 10%, N 2%. All arithmetic stays in BIGINT range:
    // (key % 999983) * 2654435761 < 2^63.
    QuerySpec("s8_hash_sample", (s, d) => {
      Tables.lineitem(s, d)
        .withColumn("h",
          ((col("l_orderkey") * 7 + col("l_linenumber")) % 999983)
            * lit(2654435761L) % 1000)
        .filter(col("h") <
          when(col("l_returnflag") === "A", 50)
            .when(col("l_returnflag") === "R", 100)
            .otherwise(20))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_sampled"),
          Summaries.exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }, oracle = Some(
      """SELECT l_returnflag, count(*) AS n_sampled,
        |CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_qty
        |FROM (SELECT *,
        |  ((l_orderkey * 7 + l_linenumber) % 999983) * 2654435761 % 1000 AS h
        |  FROM lineitem)
        |WHERE h < CASE l_returnflag WHEN 'A' THEN 50 WHEN 'R' THEN 100 ELSE 20 END
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // S13 — deterministic shuffle + sharding: epoch-stable pseudo-random
    // order and shard assignment from a seeded md5-derived key — the
    // step that makes training-data ORDER reproducible across runs and
    // engines. No rand(): the key is a pure function of (seed, doc_id),
    // so a resumed or re-run export produces identical shards byte for
    // byte. One narrow map pass + one per-shard window; at 100 TB the
    // export writes partitionBy(shard_id) with the key as sort column —
    // the window never sees more than one shard per task.
    QuerySpec("s13_shuffle_shard", (s, d) => {
      val key = conv(substring(md5(concat(lit("epoch42:"),
          col("doc_id").cast("string")).cast("binary")), 1, 15), 16, 10)
        .cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), key.as("__key"))
        .withColumn("shard_id", pmod(col("__key"), lit(8)))
        .withColumn("pos_in_shard", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("shard_id")
            .orderBy(col("__key"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("shard_id"), col("pos_in_shard"))
        .orderBy(col("shard_id"), col("pos_in_shard"))
    }, oracle = Some(
      """WITH k AS (
        |  SELECT doc_id, CAST('0x' || substr(
        |    md5('epoch42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |    AS key
        |  FROM documents
        |)
        |SELECT doc_id, key % 8 AS shard_id,
        |  CAST(row_number() OVER (PARTITION BY key % 8
        |    ORDER BY key, doc_id) AS BIGINT) AS pos_in_shard
        |FROM k ORDER BY shard_id, pos_in_shard""".stripMargin)),

    // S18 — leakage-safe dataset split: assign train(0–7)/val(8)/test(9)
    // by a seeded hash of the CONTENT FINGERPRINT vs naively by doc_id,
    // on the cloned corpus (documentsWithDups — real exact duplicates).
    // Fingerprint splitting puts every duplicate pair in one split by
    // construction (n_leaking_fps = 0, structurally); id splitting
    // scatters them (n_leaking_fps > 0 — the train→eval contamination
    // a real pipeline must not ship). Both variants replay in SQL via
    // the s13 seeded-md5 convention.
    QuerySpec("s18_leakage_split", (s, d) => {
      val docs = Tables.documentsWithDups(s, d)
      def bucketOf(c: org.apache.spark.sql.Column) = pmod(
        Dedup.md5Hash60(concat(lit("split42:"), c)), lit(10))
      // prune to the three consumed columns BEFORE the checkpoint — the
      // barrier blocks column pruning, and the aggregates never read text
      val assigned = Dedup.assignSplitByFingerprint(docs, "text", "split42")
        .withColumn("b_doc", bucketOf(col("doc_id").cast("string")))
        .select(col("fingerprint"), col("split_bucket"), col("b_doc"))
        .localCheckpoint(eager = false)
      def variant(name: String, b: org.apache.spark.sql.Column) = {
        val counts = assigned.agg(
          count(when(b <= 7, 1)).as("n_train"),
          count(when(b === 8, 1)).as("n_val"),
          count(when(b === 9, 1)).as("n_test"))
        val leaks = assigned.groupBy(col("fingerprint"))
          .agg(countDistinct(b).as("nsp"))
          .agg(count(when(col("nsp") > 1, 1)).as("n_leaking_fps"))
        counts.crossJoin(leaks).select(lit(name).as("variant"),
          col("n_train"), col("n_val"), col("n_test"), col("n_leaking_fps"))
      }
      variant("by_doc_id", col("b_doc"))
        .unionByName(variant("by_fingerprint", col("split_bucket")))
        .orderBy(col("variant"))
    }, oracle = Some(
      """WITH d AS (
        |  SELECT * FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 25 = 0
        |), a AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS fp,
        |    CAST('0x' || substr(md5('split42:' || md5(lower(trim(text)))),
        |      1, 15) AS BIGINT) % 10 AS b_fp,
        |    CAST('0x' || substr(md5('split42:' || CAST(doc_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 10 AS b_doc
        |  FROM d
        |), v AS (
        |  SELECT 'by_doc_id' AS variant,
        |    count(CASE WHEN b_doc <= 7 THEN 1 END) AS n_train,
        |    count(CASE WHEN b_doc = 8 THEN 1 END) AS n_val,
        |    count(CASE WHEN b_doc = 9 THEN 1 END) AS n_test,
        |    (SELECT count(*) FROM (SELECT fp FROM a GROUP BY fp
        |      HAVING count(DISTINCT b_doc) > 1)) AS n_leaking_fps
        |  FROM a
        |  UNION ALL
        |  SELECT 'by_fingerprint',
        |    count(CASE WHEN b_fp <= 7 THEN 1 END),
        |    count(CASE WHEN b_fp = 8 THEN 1 END),
        |    count(CASE WHEN b_fp = 9 THEN 1 END),
        |    (SELECT count(*) FROM (SELECT fp FROM a GROUP BY fp
        |      HAVING count(DISTINCT b_fp) > 1))
        |  FROM a
        |)
        |SELECT variant, n_train, n_val, n_test, n_leaking_fps
        |FROM v ORDER BY variant""".stripMargin)),

    // S21 — purged TEMPORAL split with embargo (López de Prado 2018
    // ch. 7): train < t1, val/test each start an embargo width after
    // the previous boundary, straddling events DROPPED — the time-grain
    // complement to s18's content-grain leakage split. Boundaries are
    // BIGINT-exact fractions of the [min, max] event-time range (no
    // float quantiles); output: per-split event/user counts + the
    // spanning-user audit (users in >1 of train/val/test — per-user
    // temporal state leaks across their boundary).
    QuerySpec("s21_temporal_split", (s, d) =>
      graft.extensions.EventWindows.temporalSplit(Tables.events(s, d))
        .orderBy(col("split")), oracle = Some(
      // s21's replay: same integer boundary arithmetic ((hi−lo)·pct//100 —
      // BIGINT-exact both engines), same fate CASE, same spanning audit.
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), mm AS (
        |  SELECT min(sec) AS lo, max(sec) AS hi FROM ev
        |), tagged AS MATERIALIZED (
        |  SELECT user_id,
        |    CASE WHEN sec < lo + (hi - lo) * 60 // 100 THEN 'train'
        |         WHEN sec < lo + (hi - lo) * 60 // 100
        |           + (hi - lo) * 1 // 100 THEN 'embargo'
        |         WHEN sec < lo + (hi - lo) * 80 // 100 THEN 'val'
        |         WHEN sec < lo + (hi - lo) * 80 // 100
        |           + (hi - lo) * 1 // 100 THEN 'embargo'
        |         ELSE 'test' END AS split
        |  FROM ev CROSS JOIN mm
        |)
        |SELECT split, n_events, n_users, n_spanning_users
        |FROM (
        |  SELECT split, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM tagged GROUP BY split)
        |CROSS JOIN (
        |  SELECT CAST(count(*) AS BIGINT) AS n_spanning_users FROM (
        |    SELECT user_id FROM tagged WHERE split <> 'embargo'
        |    GROUP BY user_id HAVING count(DISTINCT split) > 1))
        |ORDER BY split""".stripMargin)),

    // S10 — dataset MIXTURE up/down-sampling: each source gets an epoch
    // weight (>1 repeats documents, <1 hash-samples them) — the
    // data-mixing step that turns raw corpora into a training mixture.
    // repeats = floor(w) + 1{hash < frac(w)·1000}; the expansion is a
    // map-side explode(sequence(…)), so a 100 TB corpus up-samples
    // without any shuffle before the (summary) aggregation. The same
    // integer-hash determinism as s8: reproducible on any cluster layout.
    QuerySpec("s10_mixture_upsample", (s, d) => {
      val w = when(col("source") === "src0", 2.5)
        .when(col("source") === "src1", 1.0)
        .when(col("source") === "src2", 0.25)
        .otherwise(0.5)
      Tables.documents(s, d)
        .withColumn("w", w)
        // mod-first keeps the product under 2^63 (same guard as s8):
        // doc_id alone overflows ANSI multiplication past ~3.5e9 docs
        .withColumn("h", (col("doc_id") % 999983) * lit(2654435761L) % 1000)
        .withColumn("repeats",
          floor(col("w")) +
            when(col("h") < (col("w") - floor(col("w"))) * 1000, 1L)
              .otherwise(0L))
        .filter(col("repeats") > 0)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1L), col("repeats"))).as("epoch"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("source"))
    }, oracle = Some(
      """WITH rep AS (
        |  SELECT doc_id, source,
        |    CAST(floor(w) AS BIGINT) +
        |      CASE WHEN (doc_id % 999983) * 2654435761 % 1000 < (w - floor(w)) * 1000
        |        THEN 1 ELSE 0 END AS repeats
        |  FROM (SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
        |      WHEN 'src2' THEN 0.25 ELSE 0.5 END AS w
        |    FROM documents)
        |)
        |SELECT source, count(*) AS n_rows,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, source,
        |  unnest(generate_series(1, repeats)) AS epoch FROM rep)
        |GROUP BY source ORDER BY source""".stripMargin)),

    // D6 — dedup APPLICATION: materialize the survivor set (min-id doc
    // per exact-dup group) via a left-semi join — the step that actually
    // shrinks the corpus after d1's group discovery. Semi join keeps the
    // plan skinny (no payload duplication) and hash-partitions on doc_id.
    QuerySpec("d6_dedup_apply", (s, d) => {
      // documentsWithDups: with the injected clones the semi-join now
      // genuinely DROPS duplicates (one per 25 docs; the near-dup-free
      // raw corpus left the survivors check essentially vacuous)
      val docs = Tables.documentsWithDups(s, d)
      val keep = Dedup.exactGroups(docs, "text", "doc_id").select(col("keep_id"))
      docs.join(keep, docs("doc_id") === keep("keep_id"), "left_semi")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH dwd AS (
        |  SELECT * FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 25 = 0
        |)
        |SELECT doc_id, n_chars FROM dwd
        |WHERE doc_id IN (SELECT min(doc_id) FROM dwd
        |                 GROUP BY md5(lower(trim(text))))
        |ORDER BY doc_id""".stripMargin)),

    // W20 — exact grouped percentiles (quantile_cont interpolation, same
    // (n-1)*p rank formula in Spark `percentile` and DuckDB
    // `quantile_cont`). Quantities are small integers so interpolated
    // values are exact binary fractions — hash-stable across engines.
    // Builtin `percentile` deliberately: l_quantity has ~50 distinct
    // integers, so the builtin's O(distinct)-state map is fixed-size and
    // one-pass — the cardinality rule documented at
    // Summaries.sortedPercentiles.
    QuerySpec("w20_percentiles", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"))
        .orderBy(col("l_returnflag"))
    }, oracle = Some(
      """SELECT l_returnflag,
        |quantile_cont(l_quantity, 0.25) AS p25,
        |quantile_cont(l_quantity, 0.5) AS p50,
        |quantile_cont(l_quantity, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // T6 — text normalization (lowercase, strip non-alphanumerics,
    // collapse runs of spaces): the canonicalization step in front of
    // exact dedup/fingerprinting. Emitted as md5 + length so the verified
    // row stays narrow.
    QuerySpec("t6_normalize", (s, d) => {
      val norm = regexp_replace(
        regexp_replace(lower(trim(col("text"))), "[^a-z0-9 ]", ""),
        " +", " ")
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(norm.cast("binary")).as("norm_hash"),
          length(norm).cast("long").as("n_norm_chars"))
        .orderBy(col("doc_id"))
        .limit(500)
    }, oracle = Some(
      """SELECT doc_id,
        |md5(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g')) AS norm_hash,
        |CAST(length(regexp_replace(regexp_replace(lower(trim(text)),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS BIGINT) AS n_norm_chars
        |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    // T8 — TF-IDF scoring: explode → per-(doc,term) counts, then exactly
    // ONE shuffle of the fat (doc,term) frame. Doc length is a window
    // over the doc partition (per-doc data is bounded — no skew risk);
    // document frequency is a vocabulary-sized partial+final aggregate
    // that BROADCASTS, so the fat frame never shuffles by term — which
    // is where stopword skew lives. The corpus size is a broadcast
    // 1-row agg, not a driver-side count.
    //
    // BOUNDED-BROADCAST CONTRACT (the e8/d10 documentation pattern;
    // VERDICT r3 item 6): the broadcast is |vocab| rows, and this
    // query's tokenizer emits WORDS — word vocabularies grow
    // sublinearly (Heaps' law, ~N^0.5), so even a 100 TB web corpus
    // tops out around tens of millions of terms ≈ single-digit GB:
    // large but bounded, and the win is that the corpus-sized
    // (doc,term) frame never repartitions onto skewed term keys. The
    // contract BREAKS for unbounded vocabularies (character n-grams,
    // shingles, BPE-piece n-grams): there, drop the broadcast() hint so
    // the optimizer shuffle-joins on the term key and AQE's skew
    // handling absorbs the stopword buckets — t17 deliberately
    // demonstrates exactly that key-join shape for its bigram vocab.
    // PlanSpec("t8") pins the broadcast so a silent planner fallback
    // to a fat-side shuffle is a caught regression.
    QuerySpec("t8_tfidf", (s, d) =>
      tfidfScores(s, d)
        .orderBy(col("tfidf").desc, col("doc_id"), col("term"))
        .limit(20), oracle = Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term
        |), dl AS (
        |  SELECT doc_id, sum(cnt) AS total FROM tf GROUP BY doc_id
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.term,
        |  round((tf.cnt * 1.0 / dl.total) * ln(n.n * 1.0 / df.df), 6) AS tfidf
        |FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n
        |ORDER BY tfidf DESC, tf.doc_id, tf.term LIMIT 20""".stripMargin)),

    // T25 — per-document KEYWORD extraction: each doc's top-3 TF-IDF
    // terms (the doc-tagging / index-summarization pass) off the SAME
    // scored frame as t8 — the rank window partitions by doc_id (high
    // cardinality, never global), so the cut is one per-doc heap pass
    // over the posting-sized frame. Deterministic: round-6 scores,
    // (tfidf desc, term asc) tiebreak.
    QuerySpec("t25_doc_keywords", (s, d) => {
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term"))
      tfidfScores(s, d)
        .withColumn("rnk", row_number().over(wRank).cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy(col("doc_id"), col("rnk"))
    }, oracle = Some(
      // t25 ranks the identical t8 scored frame per doc
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term
        |), dl AS (
        |  SELECT doc_id, sum(cnt) AS total FROM tf GROUP BY doc_id
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), n AS (SELECT count(*) AS n FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    round((tf.cnt * 1.0 / dl.total) * ln(n.n * 1.0 / df.df), 6)
        |      AS tfidf
        |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n
        |), r AS (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS rnk
        |  FROM sc
        |)
        |SELECT doc_id, rnk, term, tfidf FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin)),

    // J8 — flagship analytical join (TPC-H Q3 shape): selective dimension
    // filter → 3-way equi-join → decimal-exact revenue agg → top-k.
    // Filters sit under the joins (pushed to the scans); the aggregation
    // is partial+final; top-10 plans as TakeOrderedAndProject.
    QuerySpec("j8_flagship_join", (s, d) => {
      val cutoff = lit("1998-01-01").cast("timestamp")
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d).filter(col("o_orderdate") < cutoff),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(Summaries.exactSum(
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, oracle = Some(
      """SELECT l_orderkey,
        |CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))),
        |  2) AS DOUBLE) AS revenue,
        |strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // V4 — sliding event-time windows (1 h window, 15 min slide): each
    // event lands in exactly windowDur/slide = 4 buckets. The batch form
    // of the streaming sliding aggregation; same map-side explode +
    // partial agg shape at any scale.
    QuerySpec("v4_sliding_window", (s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          Summaries.exactSum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("bucket_start_s"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("bucket_start_s"), col("event_type"))
    }, oracle = Some(
      """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 900 - gs.i) * 900
        |  AS bucket_start_s, event_type, count(*) AS n_events,
        |CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS i) gs
        |GROUP BY 1, 2 ORDER BY bucket_start_s, event_type""".stripMargin)),

    // V5 — per-user INTERVAL JOIN (view → click attribution within 2 h).
    // The equi-key is (user_id, 2-h bucket), not user_id
    // alone — a power user's whole history would otherwise pile into one
    // hash bucket; the bucketed key bounds every join partition by the
    // lag window (exactly-once pair generation, see
    // EventWindows.intervalJoin). The oracle replays it as the plain
    // interval θ-join, proving the blocked form loses/duplicates nothing.
    // Both sides compare at EPOCH-MICROSECOND LONGS (Spark unix_micros,
    // DuckDB epoch_us) — never raw timestamps, which the two engines
    // hold at different precisions (µs vs ns); sub-µs-tie fixture in
    // EventWindowsSpec.
    QuerySpec("v5_interval_join", (s, d) => {
      val ev = Tables.events(s, d)
      graft.extensions.EventWindows.intervalJoin(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "click"),
          maxLagSeconds = 7200L)
        .select(col("l_id").as("view_id"), col("r_id").as("click_id"),
          col("lag_s"))
        .orderBy(col("view_id"), col("click_id"))
    }, oracle = Some(
      """SELECT v.event_id AS view_id, c.event_id AS click_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT)
        |    - CAST(floor(epoch(v.ts)) AS BIGINT) AS lag_s
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        |  AND v.event_type = 'view' AND c.event_type = 'click'
        |  AND epoch_us(c.ts) >= epoch_us(v.ts)
        |  AND epoch_us(c.ts) < epoch_us(v.ts) + 7200000000
        |ORDER BY view_id, click_id""".stripMargin)),

    // V11 — per-user TIME-WEIGHTED average (step-interpolated gauge
    // resample): each value holds until the user's next event, so the
    // mean weights by holding duration, not event count. Durations on
    // epoch-µs longs (the v5 convention), numerator decimal-exact,
    // final division unrounded (exactAvg rule); zero-duration users
    // yield NULL. One user_id shuffle serves both the lead window and
    // the aggregate.
    QuerySpec("v11_time_weighted_avg", (s, d) => {
      graft.extensions.EventWindows.timeWeightedAvg(Tables.events(s, d))
        .orderBy(col("user_id"))
    }, oracle = Some(
      // v11 replays the lead-window form on epoch_us longs; the numerator
      // is integer-exact (centi-unit value × µs duration in HUGEINT —
      // the operator's decimal(38,0) twin), final division unrounded
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(round(value * 100.0) AS HUGEINT) AS vu
        |  FROM events WHERE value IS NOT NULL
        |), d AS (
        |  SELECT user_id, vu,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      - us AS dt
        |  FROM e
        |)
        |SELECT user_id, count(*) AS n_events,
        |  CASE WHEN sum(dt) > 0
        |    THEN CAST(sum(vu * dt) AS DOUBLE)
        |      / (CAST(sum(dt) AS DOUBLE) * 100.0) END AS twa
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // V6 — stream-static enrichment join (batch form of
    // StreamingOps.enrichedSegmentCounts; streaming parity in
    // StreamingSpec): events decorated from the broadcast customer dim,
    // rolled up by market segment. The stream side never shuffles for
    // the join — the scale property that holds at any event rate.
    QuerySpec("v6_stream_static_join", (s, d) => {
      graft.streaming.StreamingOps.enrichedSegmentCounts(
          Tables.events(s, d),
          Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")))
        .orderBy(col("c_mktsegment"), col("event_type"))
    }, oracle = Some(
      """SELECT c.c_mktsegment, e.event_type, count(*) AS n_events,
        |  CAST(round(sum(CAST(e.value AS DECIMAL(38,6))), 2) AS DOUBLE)
        |    AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment, e.event_type
        |ORDER BY c.c_mktsegment, e.event_type""".stripMargin)),

    // V7 — watermark lateness audit: replay `withWatermark(10 min)`
    // over the historical stream and count, per type, the events a
    // streaming job would have dropped as late — the sizing query you
    // run BEFORE picking a production watermark. The raw table is
    // PERFECTLY ordered by event_id (auditing it yields zero drops at
    // any delay — measured, which would leave the late-verdict logic
    // oracle-dead), so the audit replays the simulated at-least-once
    // REDELIVERY order a watermark is actually sized against: arrival
    // = event_id displaced by a replayable md5-derived jitter (d3's
    // cross-engine hash trick), raw id embedded as tiebreak so the
    // arrival key stays unique (the prefix scan's contract). ~7% of
    // events land late at sf0.01 — the verdict genuinely bites. The
    // running max is the two-phase distributed prefix scan
    // (EventWindows.runningMaxExclusive): no single-partition global
    // window; second-floored integer comparisons keep the verdict
    // engine-exact; int/int late_frac is bit-identical IEEE.
    QuerySpec("v7_watermark_audit", (s, d) => {
      val jit = Dedup.md5Hash60(col("event_id").cast("string")) % 5
      val ev = Tables.events(s, d).withColumn("__arr",
        (col("event_id") + jit) * lit(1048576L) + col("event_id"))
      graft.extensions.EventWindows.watermarkAudit(
          ev, delaySeconds = 600L, seqCol = "__arr")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          Summaries.countIf(col("is_late")).as("n_late"))
        .withColumn("late_frac", col("n_late") * lit(1.0) / col("n_events"))
        .orderBy(col("event_type"))
    }, oracle = Some(
      """WITH r AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |    (event_id + CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 5) * 1048576 + event_id AS arr
        |  FROM events
        |), w AS (
        |  SELECT event_type, ts_s,
        |    max(ts_s) OVER (ORDER BY arr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 600 AS wm_s
        |  FROM r)
        |SELECT event_type, count(*) AS n_events,
        |  count(CASE WHEN ts_s < wm_s THEN 1 END) AS n_late,
        |  count(CASE WHEN ts_s < wm_s THEN 1 END) * 1.0 / count(*) AS late_frac
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // V19 — event-time disorder profile: the watermark-sizing query run
    // BEFORE deploying a streaming job. Per event type: how many events
    // arrive behind the running max event time (same md5-jittered
    // arrival order as v7), and the p50/p95/max of the positive delays —
    // p95 IS the withWatermark delay a deployment would pick, and v7
    // then audits that exact choice. Built on the runningMaxExclusive
    // range-partition decomposition (no single-partition window) +
    // sortedPercentiles (exact, quantile_cont-compatible).
    QuerySpec("v19_disorder_profile", (s, d) => {
      val jit = Dedup.md5Hash60(col("event_id").cast("string")) % 5
      val ev = Tables.events(s, d).withColumn("__arr",
        (col("event_id") + jit) * lit(1048576L) + col("event_id"))
      val delays = graft.extensions.EventWindows.disorderDelays(ev, "__arr")
        .select(col("event_type"), col("delay_s"))
        // reused by two aggregates below — pin one materialization
        .localCheckpoint(eager = false)
      val counts = delays.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          Summaries.countIf(col("delay_s") > 0).as("n_disordered"))
      val qs = Summaries.sortedPercentiles(
        delays.filter(col("delay_s") > 0), Seq("event_type"),
        col("delay_s"),
        Seq("p50_delay_s" -> 0.5, "p95_delay_s" -> 0.95,
          "max_delay_s" -> 1.0))
      counts.join(qs, Seq("event_type"), "left")
        .withColumn("disorder_frac",
          col("n_disordered") * lit(1.0) / col("n_events"))
        .orderBy(col("event_type"))
    }, oracle = Some(
      // v7's running-max CTE with the delay magnitude kept instead of one
      // candidate verdict; quantile_cont over the positive delays matches
      // sortedPercentiles (the x16/w20-proven bit-compatible pair) and
      // skips NULLs, mirroring the Spark left join.
      """WITH r AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |    (event_id + CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 5) * 1048576 + event_id AS arr
        |  FROM events
        |), w AS (
        |  SELECT event_type,
        |    greatest(coalesce(max(ts_s) OVER (ORDER BY arr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - ts_s,
        |      0), 0) AS delay_s
        |  FROM r)
        |SELECT event_type, count(*) AS n_events,
        |  count(CASE WHEN delay_s > 0 THEN 1 END) AS n_disordered,
        |  count(CASE WHEN delay_s > 0 THEN 1 END) * 1.0 / count(*)
        |    AS disorder_frac,
        |  quantile_cont(CASE WHEN delay_s > 0 THEN delay_s END, 0.5)
        |    AS p50_delay_s,
        |  quantile_cont(CASE WHEN delay_s > 0 THEN delay_s END, 0.95)
        |    AS p95_delay_s,
        |  quantile_cont(CASE WHEN delay_s > 0 THEN delay_s END, 1.0)
        |    AS max_delay_s
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // D13 — graded decontamination: instead of d8's binary any-collision
    // drop, score every training doc by the FRACTION of its distinct
    // 8-gram shingles that appear in the held-out set — the
    // thresholdable form real pipelines act on (hard-drop above ~5%
    // overlap, flag below). Integer counts + one int/int division:
    // bit-identical across engines, no rounding policy needed.
    QuerySpec("d13_contamination_frac", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFraction(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0), "text", "doc_id", n = 8)
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH csh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text,' ')) - 8 + 2, 2)),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i + 7), ' '))))
        |    AS sh
        |  FROM documents WHERE doc_id % 20 <> 0
        |), bsh AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text,' ')) - 8 + 2, 2)),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i + 7), ' '))))
        |    AS sh
        |  FROM documents WHERE doc_id % 20 = 0
        |)
        |SELECT c.doc_id, count(*) AS n_shingles,
        |  count(b.sh) AS n_contaminated,
        |  count(b.sh) * 1.0 / count(*) AS contamination_frac
        |FROM csh c LEFT JOIN bsh b ON c.sh = b.sh
        |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin)),

    // W21 — arbitrary GROUPING SETS (beyond the rollup/cube hierarchies):
    // sets ((r,n),(n),()) mix a non-hierarchical slice with the total.
    QuerySpec("w21_grouping_sets", (s, d) => {
      val joined = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
      joined.groupingSets(
          Seq(Seq(col("r_name"), col("n_name")), Seq(col("n_name")), Seq()),
          col("r_name"), col("n_name"))
        .agg(grouping(col("r_name")).as("__gr"),
          grouping(col("n_name")).as("__gn"),
          count(lit(1)).as("n_customers"),
          Summaries.exactSum(col("c_acctbal")).as("sum_acctbal"))
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
        |  ELSE COALESCE(r_name,'(null)') END AS r_name,
        |CASE WHEN GROUPING(n_name) = 1 THEN 'ALL'
        |  ELSE COALESCE(n_name,'(null)') END AS n_name,
        |count(*) AS n_customers,
        |CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE)
        |  AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, n_name), (n_name), ())
        |ORDER BY r_name, n_name""".stripMargin)),

    // W22 — ranking/distribution window-function suite: percent_rank,
    // cume_dist, ntile, lead, nth_value over one shared window spec (one
    // exchange + one sort serves all five).
    QuerySpec("w22_window_suite", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d).select(
          col("o_orderkey"), col("o_orderpriority"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"),
          ntile(4).over(w).cast("long").as("quartile"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        // deterministic post-window sample instead of LIMIT: the first
        // 2000 rows of the presentation order all fell in ONE priority
        // partition, so cross-partition window behavior was never in
        // the verified slice; the modulo sample spans all 5 partitions
        // while the windows still compute over every row
        .filter(col("o_orderkey") % 7 === 0)
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }, oracle = Some(
      """SELECT * FROM (
        |  SELECT o_orderkey, o_orderpriority,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |)
        |WHERE o_orderkey % 7 = 0
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin)),

    // J9 — salted skew join parity: the fact side is salted by a
    // high-cardinality column, the dim side replicated ×factor, so one
    // hot key's rows spread over `factor` reducers instead of one — and
    // the result is bit-identical to the plain equi-join (the oracle IS
    // the plain join).
    QuerySpec("j9_salted_join", (s, d) => {
      val lineitem = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Joins.saltedEquiJoin(
          lineitem, orders, "l_orderkey",
          saltSource = col("l_linenumber"), factor = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          Summaries.exactSum(
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    }, oracle = Some(
      """SELECT o_orderpriority, count(*) AS n_items,
        |CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))),
        |  2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // D7 — exact decontamination against a held-out eval split
    // (doc_id % 20 == 0 plays the benchmark set): corpus docs whose
    // normalized hash matches any benchmark doc are dropped before
    // training. Benchmark side broadcasts; corpus never shuffles.
    QuerySpec("d7_decontaminate_exact", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminateExact(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0), "text")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """SELECT doc_id, source FROM documents a
        |WHERE doc_id % 20 <> 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents b WHERE b.doc_id % 20 = 0
        |  AND md5(lower(trim(b.text))) = md5(lower(trim(a.text))))
        |ORDER BY doc_id""".stripMargin)),

    // D8 — n-gram decontamination (any shared 8-gram with the held-out
    // split): catches paraphrase/partial-copy leakage exact hashing
    // misses.
    QuerySpec("d8_decontaminate_ngram", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminateNgram(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0), "text", "doc_id", n = 8)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH csh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text,' ')) - 8 + 2, 2)),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i + 7), ' '))))
        |    AS sh
        |  FROM documents WHERE doc_id % 20 <> 0
        |), bsh AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text,' ')) - 8 + 2, 2)),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i + 7), ' '))))
        |    AS sh
        |  FROM documents WHERE doc_id % 20 = 0
        |)
        |SELECT doc_id FROM documents WHERE doc_id % 20 <> 0 AND doc_id NOT IN
        |  (SELECT DISTINCT c.doc_id FROM csh c JOIN bsh USING (sh))
        |ORDER BY doc_id""".stripMargin)),

    // D11 — incremental ingest dedup: the first 400 doc_ids play the
    // already-deduped snapshot (only its fingerprint INDEX is touched),
    // the rest arrive as the new batch. Survivors are batch docs that
    // are first among their within-batch fingerprint AND absent from
    // the snapshot index — the existing corpus text is never re-read,
    // which is the property that makes dedup affordable per-ingest at
    // 100 TB.
    QuerySpec("d11_incremental_dedup", (s, d) => {
      val docs = Tables.documents(s, d)
      val index = Dedup.exactGroups(
        docs.filter(col("doc_id") < 400), "text", "doc_id")
        .select(col("fingerprint"))
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") >= 400), index, "text", "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH idx AS (
        |  SELECT DISTINCT md5(lower(trim(text))) AS fp
        |  FROM documents WHERE doc_id < 400
        |), batch AS (
        |  SELECT doc_id, source, md5(lower(trim(text))) AS fp
        |  FROM documents WHERE doc_id >= 400
        |), firstb AS (
        |  SELECT fp, min(doc_id) AS doc_id FROM batch GROUP BY fp
        |)
        |SELECT b.doc_id, b.source FROM batch b
        |JOIN firstb f ON b.fp = f.fp AND b.doc_id = f.doc_id
        |WHERE b.fp NOT IN (SELECT fp FROM idx)
        |ORDER BY b.doc_id""".stripMargin)),

    // D10 — bloom-filter decontamination CONTRACT (companion to d7, same
    // pattern as e5/e6): the bloom path must (a) never keep a doc the
    // exact path drops — false negatives are structurally impossible —
    // and (b) over-drop at most 1% of the corpus to false positives
    // (the filter auto-sizes to 16 bits per benchmark entry, keeping the
    // expected rate orders of magnitude below that at ANY eval-set
    // size). The oracle asserts the two booleans as literals.
    QuerySpec("d10_bloom_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val exact = Dedup.decontaminateExact(corpus, bench, "text")
        .select(col("doc_id")).localCheckpoint(eager = false)
      val bloom = Dedup.bloomDecontaminate(corpus, bench, "text")
        .select(col("doc_id")).localCheckpoint(eager = false)
      val falseNeg = bloom.join(exact, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_false_neg"))
      val fpDropped = exact.join(bloom, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_fp_dropped"))
      val total = corpus.agg(count(lit(1)).as("n_corpus"))
      // d17 pattern: the EXACT side is SQL-expressible ground truth —
      // the oracle re-derives the exact-survivor and corpus counts (the
      // d7 replay), so only the bloom-specific booleans stay
      // Spark-asserted
      falseNeg.crossJoin(fpDropped).crossJoin(total)
        .crossJoin(exact.agg(count(lit(1)).as("n_exact_kept")))
        .select(
          (col("n_false_neg") === 0).as("bloom_subset_of_exact"),
          (col("n_fp_dropped") * lit(1.0) / col("n_corpus") <= 0.01)
            .as("fp_rate_le_1pct"),
          col("n_exact_kept"), col("n_corpus"))
    }, oracle = Some(
      // d10's exact side re-derives via the d7 replay (the d17 pattern)
      """SELECT true AS bloom_subset_of_exact,
        |  true AS fp_rate_le_1pct,
        |  (SELECT count(*) FROM documents a
        |   WHERE doc_id % 20 <> 0 AND NOT EXISTS (
        |     SELECT 1 FROM documents b WHERE b.doc_id % 20 = 0
        |     AND md5(lower(trim(b.text))) = md5(lower(trim(a.text)))))
        |    AS n_exact_kept,
        |  (SELECT count(*) FROM documents WHERE doc_id % 20 <> 0)
        |    AS n_corpus""".stripMargin)),

    // T9 — C4/Gopher-style quality filtering: compose the text-analysis
    // signals (language-ID, composite quality score, token-count band,
    // repeated-3-gram boilerplate ratio) into the single cleaning filter
    // a pretraining pipeline runs over the raw corpus. All signals are
    // one codegen span over the scan — no shuffle until the final sort.
    QuerySpec("t9_quality_filter", (s, d) => {
      val toks = col("toks")
      // Materialize the token array once; every signal reads it instead
      // of re-splitting the text (operators don't share subexpressions).
      // The lazy checkpoint of the NARROW signals frame is a pushdown
      // barrier: without it Catalyst substitutes the filter through both
      // projections and the repartition, re-evaluating the heavy signal
      // expressions at the (possibly single-split) scan.
      val signals = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("n_chars"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextAnalysis.qualityScoreFromTokens(toks, col("n_chars"))
            .as("quality_score"),
          TextAnalysis.dupNgramRatioFromTokens(toks, 3).as("dup_3gram_ratio"),
          size(toks).cast("long").as("n_tokens"),
          TextAnalysis.langIdFromTokens(toks).as("lang"))
        .localCheckpoint(eager = false)
      signals
        .filter(col("lang") === "en"
          && col("quality_score") >= 0.5
          && col("n_tokens").between(20, 1000)
          && col("dup_3gram_ratio") <= 0.3)
        .select(col("doc_id"), col("quality_score"), col("dup_3gram_ratio"),
          col("n_tokens"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH sig AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('el','la','de','y','que','en','un'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('der','die','das','und','ist','ein','zu'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('le','la','de','et','est','un','dans'))) AS BIGINT) AS s_fr,
        |    round(1.0 - len(list_distinct(list_transform(
        |        range(1, greatest(len(string_split(text,' ')) - 3 + 2, 2)),
        |        i -> array_to_string(list_slice(string_split(text,' '), i, i + 2),
        |          ' ')))) * 1.0
        |      / greatest(len(string_split(text,' ')) - 3 + 1, 1), 4) AS dup3,
        |    round((CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.5 END)
        |        * 0.4
        |      + least(len(list_distinct(string_split(text, ' '))) * 1.0 /
        |          len(string_split(text, ' ')) * 2, 1.0) * 0.6, 4) AS q
        |  FROM documents
        |)
        |SELECT doc_id, q AS quality_score, dup3 AS dup_3gram_ratio, nt AS n_tokens
        |FROM sig
        |WHERE s_en + s_es + s_de + s_fr > 0
        |  AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
        |  AND q >= 0.5 AND nt BETWEEN 20 AND 1000 AND dup3 <= 0.3
        |ORDER BY doc_id""".stripMargin)),

    // T27 — the published Gopher/MassiveText rule filter (Rae et al.
    // 2021, §A1.1): word-count band, mean-word-length band,
    // symbol-to-word ratio, alphabetic-word fraction, mandatory English
    // stopword hits. Emitted as per-doc signals + the FIRST failing rule
    // (the form a pipeline logs for per-rule filter-rate audits; t9 is
    // the score-threshold complement). One token-array projection, all
    // rules read it — a pure map-only codegen pass at 100 TB.
    QuerySpec("t27_gopher_rules", (s, d) =>
      TextAnalysis.gopherProfile(Tables.spread(Tables.documents(s, d)),
          "text", "doc_id", "n_chars")
        .orderBy(col("doc_id")), oracle = Some(
      // Replays every Gopher rule signal: replace() is leftmost
      // non-overlapping in both engines, the ellipsis delta is an exact
      // multiple of 3, and the CASE precedence mirrors the Spark
      // when-chain verbatim.
      """WITH sig AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    round((n_chars - len(string_split(text, ' ')) + 1) * 1.0
        |      / len(string_split(text, ' ')), 4) AS mean_word_len,
        |    round(((len(text) - len(replace(text, '#', '')))
        |        + (len(text) - len(replace(text, '...', ''))) / 3) * 1.0
        |      / len(string_split(text, ' ')), 4) AS symbol_ratio,
        |    round(len(list_filter(string_split(text, ' '),
        |        x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
        |      / len(string_split(text, ' ')), 4) AS alpha_frac,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','be','to','of','and','that','have','with')))
        |      AS BIGINT) AS n_stopword_hits
        |  FROM documents)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
        |  n_stopword_hits,
        |  CASE WHEN n_words NOT BETWEEN 50 AND 100000 THEN 'word_count'
        |       WHEN mean_word_len NOT BETWEEN 3.0 AND 10.0
        |         THEN 'mean_word_len'
        |       WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
        |       WHEN alpha_frac < 0.8 THEN 'alpha_frac'
        |       WHEN n_stopword_hits < 2 THEN 'stopwords'
        |       ELSE 'pass' END AS reject_reason
        |FROM sig ORDER BY doc_id""".stripMargin)),

    // T28 — distributed BPE merge LEARNING (Sennrich et al. 2016): the
    // tokenizer-training complement of t19's apply-side count. Pair
    // statistics at word-TYPE grain (the Zipf collapse — iterations
    // never re-touch the corpus), per-merge argmax with deterministic
    // (count desc, pair asc) tie-break attached by broadcast, greedy
    // leftmost-non-overlapping application via the double-separator
    // replace trick — semantics identical in both engines (see
    // Bpe.learnMerges). k = 4 merges; output = the learned merge table.
    QuerySpec("t28_bpe_merges", (s, d) =>
      Bpe.learnMerges(Tables.spread(Tables.documents(s, d)), "text", k = 4)
        .orderBy(col("merge_rank")), oracle = Some(bpeOracleSql(4))),

    // T31 — BPE APPLY: segment the corpus with the merge table t28
    // learns (train-then-apply on the same corpus — the tokenizer-
    // ablation loop). Per doc: ASCII-word count, BPE token count, char
    // mass; tokens/chars is the compression the learned vocab buys.
    // The k merge rows are a BOUNDED collect (k = 4 by construction,
    // the e17 shortlist rule) inlined as literals into one vocab-grain
    // codegen chain — the corpus pays tokenize + one word equi-join
    // (see Bpe.applyMerges for the 100-TB shape).
    QuerySpec("t31_bpe_apply", (s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
      // the frozen tokenizer is ONE artifact: the same k=4 merge table
      // off `documents` that x2/x3/x4 freeze (ExportTier._1 memoizes the
      // identical learnMerges run — same corpus, same k, so the merge
      // SEQUENCE equals t28's by construction; r14 opt round,
      // EXPLAIN.md). Re-learning it per invocation re-paid ~1.2 s of
      // t28's work inside every t31 timing.
      Bpe.applyMerges(docs, "text", "doc_id", ExportTier(s, d)._1)
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // t31 replays the full train chain (t28's oracle) PLUS the k-th
      // application, then the vocab→corpus word join and per-doc counts
      bpeApplyOracleSql(4))),

    // T37 — the PRODUCTION BPE path on the oracled board (VERDICT r9
    // item 1): the BATCHED learner at k=16/maxBatch=4 — the form a
    // 30k-merge production run uses (~k/B rewrite rounds instead of k).
    // Batched semantics differ from serial in general (ranks 2..B of a
    // round select on PRE-round counts under pairwise-disjoint conflict
    // sets), so the oracle is NOT t28's serial replay: it re-derives the
    // batched algorithm itself — per unrolled pass, pair counts → a
    // row_numbered 4·min(B,want) shortlist → B greedy conflict-checked
    // slot CTEs → one rewrite applying the whole batch (see
    // bpeBatchedOracleSql). Output adds `pass`, the rewrite round that
    // learned each merge — max(pass) ≈ k/B is the round-count collapse,
    // now driver-hash-checked on the real corpus.
    QuerySpec("t37_bpe_batched", (s, d) =>
      Bpe.learnMergesBatched(Tables.spread(Tables.documents(s, d)), "text",
          k = 16, maxBatch = 4)
        .orderBy(col("merge_rank")), oracle = Some(
      // t37 replays the BATCHED learner itself (unrolled passes, greedy
      // conflict-checked slot CTEs) — NOT the serial chain; see
      // bpeBatchedOracleSql
      bpeBatchedOracleSql(16, 4))),

    // T38 — model-based quality scoring (the classifier-filter stage:
    // GPT-3's LR filter, DCLM/FineWeb's fastText filters): linear
    // inference over hashed unigram+bigram feature OCCURRENCES,
    // B=4096 buckets, md5-derived stand-in weight table both engines
    // re-derive (production swaps in trained weights; the inference
    // plan is the contract). Integer milliweight sums — exact,
    // mergeable, keep-verdict decided on the integer sign so no doc's
    // fate rides a float boundary; the one float op (sigmoid) is
    // per-row final, round-6. Plan: one token-grain explode, broadcast
    // weight join, one doc-grain partial-agg exchange — see
    // QualityModel.classifierScore for the 100 TB shape.
    QuerySpec("t38_quality_classifier", (s, d) => {
      import graft.extensions.QualityModel
      QualityModel.classifierScore(Tables.spread(Tables.documents(s, d)),
          "text", "doc_id", QualityModel.standInWeights(s, 4096), 4096)
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // t38's replay: same feature bag (unigram occurrences + bigrams —
      // range(1, len) is end-exclusive, matching Spark's zip_with/slice
      // form), same md5→bucket and md5→milliweight derivations, integer
      // sum, sigmoid at the end. kept re-derived from the integer sign.
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), feats AS (
        |  SELECT doc_id, unnest(list_concat(t,
        |    list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i + 1]))) AS f
        |  FROM toks
        |), bk AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % 4096 AS bucket
        |  FROM feats
        |), w AS (
        |  SELECT range AS bucket,
        |    CAST('0x' || substr(md5('w:' || range), 1, 15) AS BIGINT)
        |      % 2001 - 1000 AS wm
        |  FROM range(0, 4096)
        |), sc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
        |    CAST(sum(coalesce(wm, 0)) AS BIGINT) AS s
        |  FROM bk LEFT JOIN w USING (bucket) GROUP BY doc_id
        |)
        |SELECT doc_id, n_features,
        |  round(1.0 / (1.0 + exp(-(CAST(s AS DOUBLE)
        |    / (1000.0 * n_features)))), 6) AS quality_score,
        |  s >= 0 AS kept
        |FROM sc ORDER BY doc_id""".stripMargin)),

    // T39 — dataset-card audit (the per-source datasheet a corpus
    // release ships — Gebru et al. 2021 "Datasheets for Datasets";
    // Dodge et al. 2021's C4 audit): per source, corpus mass (docs,
    // tokens, mean doc length), Gopher quality pass rate, exact-dup
    // rate (distinct fingerprints vs docs — on the cloned
    // documentsWithDups fixture so the rate discriminates), language
    // count, PLUS the two release-blocking rates a real datasheet
    // carries: near-dup rate (fraction of docs in ≥1 d3 MinHash-LSH
    // candidate pair, est. Jaccard ≥ 0.3 — the clones score 1.0) and
    // cross-source contamination rate (fraction sharing a width-8
    // shingle with ANOTHER source — t36's matrix at doc grain). Card
    // signals stay ONE gopherProfile projection + one source-grain
    // aggregate; the two rates reuse the d3/t36 machinery (band join,
    // group-collapsed shingle probe) and land as source-grain left
    // joins against the card.
    QuerySpec("t39_dataset_card", (s, d) => {
      val docs = Tables.spread(Tables.documentsWithDups(s, d))
        .localCheckpoint(eager = false) // signals + rate probes + BPE
      val flagged = TextAnalysis.gopherProfile(docs,
        "text", "doc_id", "n_chars",
        col("source").as("__src"), col("lang").as("__lang"),
        TextAnalysis.normHash(col("text")).as("__fp"))
        .localCheckpoint(eager = false) // card agg + doc→source map
      val srcOf = flagged.select(col("doc_id"), col("__src"))
      // n_bpe_tokens: the unit a training budget is denominated in —
      // counted under the FROZEN reference tokenizer (t28's k=4 merges
      // off `documents`, the x2 production-tokenizer contract), riding
      // the shared docs checkpoint. The merge table is the ExportTier
      // artifact (identical learnMerges run — see t31's note; r14 opt
      // round): re-learning it per invocation re-paid t28 inside every
      // t39 timing.
      val bpeBySrc = Bpe.applyMerges(docs, "text", "doc_id",
          ExportTier(s, d)._1)
        .join(srcOf, Seq("doc_id"))
        .groupBy(col("__src").as("source"))
        .agg(sum(col("n_bpe_tokens")).as("__n_bpe"))
      val nearBySrc = Dedup.minHashLshPairs(docs)
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .distinct()
        .join(srcOf, Seq("doc_id"))
        .groupBy(col("__src").as("source"))
        .agg(count(lit(1)).as("__n_near"))
      val contamBySrc = Dedup.crossGroupContaminatedIds(docs, "source",
          "doc_id", "text")
        .join(srcOf, Seq("doc_id"))
        .groupBy(col("__src").as("source"))
        .agg(count(lit(1)).as("__n_contam"))
      flagged.groupBy(col("__src").as("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_tokens"),
          round(sum(col("n_words")) * lit(1.0) / count(lit(1)), 4)
            .as("avg_doc_tokens"),
          round(Summaries.countIf(col("reject_reason") === "pass")
            * lit(1.0) / count(lit(1)), 4).as("quality_pass_rate"),
          countDistinct(col("__fp")).as("n_distinct_fp"),
          round(lit(1.0) - countDistinct(col("__fp")) * lit(1.0)
            / count(lit(1)), 4).as("dup_frac"),
          countDistinct(col("__lang")).as("n_langs"))
        .join(nearBySrc, Seq("source"), "left")
        .join(contamBySrc, Seq("source"), "left")
        .join(bpeBySrc, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          coalesce(col("__n_bpe"), lit(0L)).as("n_bpe_tokens"),
          col("avg_doc_tokens"), col("quality_pass_rate"),
          col("n_distinct_fp"), col("dup_frac"), col("n_langs"),
          round(coalesce(col("__n_near"), lit(0L)) * lit(1.0)
            / col("n_docs"), 4).as("near_dup_frac"),
          round(coalesce(col("__n_contam"), lit(0L)) * lit(1.0)
            / col("n_docs"), 4).as("cross_src_contam_frac"))
        .orderBy(col("source"))
    }, oracle = Some(
      // t39's replay: the green t27 signal battery at source grain over
      // the d1 clone injection; every rate a double division of exact
      // ints, round 4
      // t39: the card CTE replays the t27 battery at source grain; the
      // near-dup rate replays the full d3 signature/banding/cap/pair
      // chain over the SAME clone-injected fixture, the cross-source
      // contamination rate the t36 shingle collapse at doc grain.
      s"""${bpeChainSql(4, applyAll = true)}
        |, docs AS MATERIALIZED (
        |  SELECT * FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 25 = 0
        |), bpe_by AS MATERIALIZED (
        |  SELECT d.source,
        |    CAST(sum(len(string_split(v.rep, ' '))) AS BIGINT) AS n_bpe
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM docs) d
        |  JOIN w4 v ON d.w = v.w
        |  GROUP BY d.source
        |), consts AS (SELECT $minhashA AS ca, $minhashB AS cb),
        |sig AS MATERIALIZED (
        |  SELECT doc_id, list_transform(range(1, 33), s ->
        |    list_min(list_transform(hs, h -> (ca[s] * h + cb[s]) % 1000000007)))
        |    AS sig
        |  FROM (
        |    SELECT doc_id, list_transform(list_distinct(list_transform(
        |      range(1, greatest(len(string_split(text,' ')) - 3 + 2, 2)),
        |      i -> array_to_string(list_slice(string_split(text,' '), i, i + 2), ' '))),
        |      x -> CAST('0x' || substr(md5(x),1,15) AS BIGINT) % 1000000007) AS hs
        |    FROM docs) CROSS JOIN consts
        |), capped AS MATERIALIZED (
        |  SELECT * FROM (
        |    SELECT doc_id, sig, band,
        |      array_to_string(list_slice(sig, band * 4 + 1, band * 4 + 4), ',')
        |        AS bkey,
        |      row_number() OVER (
        |        PARTITION BY band,
        |          array_to_string(list_slice(sig, band * 4 + 1, band * 4 + 4), ',')
        |        ORDER BY doc_id) AS brank
        |    FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b)
        |  WHERE brank <= 100
        |), nd AS MATERIALIZED (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT unnest(LIST_VALUE(a_id, b_id)) AS doc_id FROM (
        |      SELECT a_id, b_id,
        |        round(len(list_filter(range(1, 33), i -> a_sig[i] = b_sig[i]))
        |          / 32.0, 4) AS ej
        |      FROM (
        |        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |          a.sig AS a_sig, b.sig AS b_sig
        |        FROM capped a JOIN capped b
        |          ON a.band = b.band AND a.bkey = b.bkey
        |          AND a.doc_id < b.doc_id))
        |    WHERE ej >= 0.3)
        |), nd_by AS MATERIALIZED (
        |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_near
        |  FROM nd JOIN docs d USING (doc_id) GROUP BY d.source
        |), dh AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, source,
        |    CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
        |  FROM (
        |    SELECT doc_id, source, unnest(list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 7, 1) + 1),
        |      i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS s
        |    FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
        |          FROM docs))
        |), gsh AS MATERIALIZED (
        |  SELECT DISTINCT source AS og, h FROM dh
        |), ct_by AS MATERIALIZED (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_ct FROM (
        |    SELECT DISTINCT d.doc_id, d.source
        |    FROM dh d JOIN gsh g USING (h) WHERE g.og <> d.source)
        |  GROUP BY source
        |), flagged AS MATERIALIZED (
        |  SELECT source, lang, md5(lower(trim(text))) AS fp, n_words,
        |    CASE WHEN n_words NOT BETWEEN 50 AND 100000 THEN 'word_count'
        |         WHEN mean_word_len NOT BETWEEN 3.0 AND 10.0
        |           THEN 'mean_word_len'
        |         WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
        |         WHEN alpha_frac < 0.8 THEN 'alpha_frac'
        |         WHEN n_stopword_hits < 2 THEN 'stopwords'
        |         ELSE 'pass' END AS reject_reason
        |  FROM (
        |    SELECT source, lang, text,
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
        |    FROM docs)
        |), card AS MATERIALIZED (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |    round(sum(n_words) * 1.0 / count(*), 4) AS avg_doc_tokens,
        |    round(sum(CASE WHEN reject_reason = 'pass' THEN 1 ELSE 0 END)
        |      * 1.0 / count(*), 4) AS quality_pass_rate,
        |    CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
        |    round(1.0 - count(DISTINCT fp) * 1.0 / count(*), 4) AS dup_frac,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM flagged GROUP BY source
        |)
        |SELECT c.source, c.n_docs, c.n_tokens,
        |  CAST(coalesce(bb.n_bpe, 0) AS BIGINT) AS n_bpe_tokens,
        |  c.avg_doc_tokens,
        |  c.quality_pass_rate, c.n_distinct_fp, c.dup_frac, c.n_langs,
        |  round(coalesce(nb.n_near, 0) * 1.0 / c.n_docs, 4)
        |    AS near_dup_frac,
        |  round(coalesce(cb.n_ct, 0) * 1.0 / c.n_docs, 4)
        |    AS cross_src_contam_frac
        |FROM card c
        |LEFT JOIN nd_by nb ON c.source = nb.source
        |LEFT JOIN ct_by cb ON c.source = cb.source
        |LEFT JOIN bpe_by bb ON c.source = bb.source
        |ORDER BY c.source""".stripMargin)),

    // T40 — classifier TRAINING (batch-GD logistic regression over the
    // t38 hashed feature space), labels DISTILLED from the t27 Gopher
    // battery — the DCLM recipe (Li et al. 2024): train a linear model
    // on heuristic labels, then run the model, not the rules, at
    // corpus scale. Completes t38's train→apply loop the way t28→t31
    // closed BPE's. 3 unrolled GD iterations, 4096 buckets, lr=100
    // (the N-normalized gradient needs a real step size, and 512
    // buckets collide too hard on this corpus to separate); every
    // float collapse is quantize→decimal-sum (see
    // QualityModel.trainLogistic), so the oracle replays the whole
    // optimization bit-for-bit.
    // Build-once: the family's trained model is a [[ClassifierModel]]
    // artifact (the TradingRank contract — one GD run serves t40's
    // weight output, t41's cut, t42's eval and t43's contract).
    QuerySpec("t40_classifier_training", (s, d) =>
      ClassifierModel(s, d).weights.orderBy(col("bucket")),
      oracle = Some(classifierTrainingOracleSql(4096, 3, 100.0) +
        "\nSELECT bucket, w AS weight FROM w3 ORDER BY bucket")),

    // T41 — the trained model SCORES the corpus (the back half of the
    // DCLM loop t40 opens): t40's 3-GD-iteration weights applied per
    // doc — model_score (σ of the mean trained weight), kept = score ≥
    // the corpus median score (the production quantile cut — 3 GD steps
    // rank far better than they calibrate), and the rule label
    // alongside so model-vs-rules agreement is readable. The oracle
    // replays training AND inference in one statement.
    QuerySpec("t41_model_scored_corpus", (s, d) => {
      import graft.extensions.QualityModel
      // the scored frame comes from the family's build-once
      // [[ClassifierModel]] artifact (ONE featurize pass + ONE GD run
      // for t40-t43); this query owns the median cut on top of it
      // checkpoint = false: the artifact's scored frame is already
      // checkpointed — re-wrapping would pin a second corpus copy
      QualityModel.modelScoreFromScored(ClassifierModel(s, d).scored,
          "doc_id", checkpoint = false)
        .orderBy(col("doc_id"))
    }, oracle = Some(modelScoredOracleSql(4096, 3, 100.0))),

    // T42 — HELD-OUT classifier evaluation: the t40/t41 loop finally
    // measured on docs the optimizer never saw. Split by the s18
    // leakage-safe convention (seeded md5 of the content FINGERPRINT —
    // an exact duplicate can never straddle train/eval), train on
    // buckets 0–7, cut at the TRAIN median score, score buckets 8–9,
    // report integer confusion counts + round-6 precision/recall/
    // accuracy vs the t27 rule labels. The oracle replays the split,
    // the whole 3-iteration GD run on the train slice, both scoring
    // passes and the confusion sums — every count exact.
    // split convention, slices and training all live in the
    // [[ClassifierModel]] artifact (t42 is the family member that
    // trains on the s18-split train slice rather than the full corpus)
    QuerySpec("t42_classifier_eval", (s, d) => ClassifierModel(s, d).evalRow, oracle = Some(
      // t42 replays split → train-slice GD → both scoring passes →
      // confusion sums; see classifierEvalOracleSql
      classifierEvalOracleSql(4096, 3, 100.0))),

    // T43 — t41's quantile cut in its PRODUCTION form (percentile_
    // approx, bounded sketch state) tied to the exact cut by a one-row
    // contract: the sketch cut's rank interval must lie within
    // n/accuracy of the median rank, and the kept-set disagreement
    // (the sets are nested — both upward-closed in score) must stay
    // inside rank slack + tie widths + 1. n_docs/kept_exact replay
    // exactly in SQL; the booleans are Spark-verified, oracle-pinned
    // (the w33 discipline — DuckDB has no GK sketch to replay).
    QuerySpec("t43_model_approx_cut", (s, d) => {
      import graft.extensions.QualityModel
      QualityModel.approxCutContractFromScored(
        ClassifierModel(s, d).scored, accuracy = 10000)
    }, oracle = Some(
      // t43 replays the exact half (n_docs, kept_exact); sketch booleans
      // Spark-verified, oracle-pinned — see approxCutOracleSql
      approxCutOracleSql(4096, 3, 100.0))),

    // T32 — BM25 ranked retrieval (Robertson/Spärck Jones; Lucene's
    // +1-inside-the-log idf so scores stay positive), k1=1.2, b=0.75:
    // the query a retrieval-augmented pipeline runs against the corpus
    // index. Per-term tf via size(filter(toks)) — a MAP-ONLY projection
    // over the token array, no explode/shuffle at tf grain; corpus
    // stats (N, Σlen, per-term df) are ONE aggregate broadcast back
    // (bounded: 2 + |terms| values); top-k is the w5 heap plan. Float
    // policy: per-row fixed-order arithmetic (no float aggregation
    // anywhere — the sums are over exact longs), final score round-6,
    // (bm25 desc, doc_id) total order so the cut is engine-identical.
    QuerySpec("t32_bm25_topk", (s, d) => {
      val terms = Seq("hash", "join", "scan")
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(Seq(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens")) ++
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("toks"), x => x === lit(t))).cast("long")
              .as(s"__tf$i")
          }: _*)
        .localCheckpoint(eager = false) // stats agg + scoring share it
      val statCols =
        Seq(count(lit(1)).as("__n"), sum(col("n_tokens")).as("__sl")) ++
          terms.indices.map(i =>
            Summaries.countIf(col(s"__tf$i") > 0).as(s"__df$i"))
      val st = docs.agg(statCols.head, statCols.tail: _*)
      val avgl = col("__sl") * lit(1.0) / col("__n")
      val score = terms.indices.map { i =>
        log(lit(1.0) + (col("__n") - col(s"__df$i") + lit(0.5))
          / (col(s"__df$i") + lit(0.5))) *
          (col(s"__tf$i") * lit(2.2)) /
          (col(s"__tf$i") + lit(1.2) *
            (lit(1.0) - lit(0.75) + lit(0.75) * col("n_tokens") / avgl))
      }.reduce(_ + _)
      docs.crossJoin(broadcast(st))
        .select(col("doc_id"), col("n_tokens"), round(score, 6).as("bm25"))
        .filter(col("bm25") > 0)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(15)
    }, oracle = Some(
      // t32 replays the map-only tf projection, the one-aggregate corpus
      // stats and the fixed-order per-row BM25 arithmetic; identical
      // operator associativity keeps the round-6 scores bit-aligned
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), tf AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf0,
        |    CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf1,
        |    CAST(len(list_filter(toks, x -> x = 'scan')) AS BIGINT) AS tf2
        |  FROM base
        |), st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(n_tokens) AS BIGINT) AS sl,
        |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM tf
        |)
        |SELECT doc_id, n_tokens, bm25 FROM (
        |  SELECT doc_id, n_tokens, round(
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
        |      / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * n_tokens / (sl * 1.0 / n)))
        |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
        |      / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * n_tokens / (sl * 1.0 / n)))
        |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2)
        |      / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * n_tokens / (sl * 1.0 / n))),
        |    6) AS bm25
        |  FROM tf, st)
        |WHERE bm25 > 0
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 15""".stripMargin)),

    // T34 — sequence-packing audit (GPT-style concat-and-chunk: docs
    // concatenate in deterministic (source, doc_id) order and split
    // into fixed C=256-token context windows). Per source: window
    // count, docs SPLIT across a window boundary (fragmented docs lose
    // attention locality — the number a packing ablation reads), and
    // the tail padding the last window wastes. One cumulative-sum
    // window at source grain + one aggregate, all exact ints. At
    // 100 TB the partition key gains a shard component
    // ((source, hash(doc_id) % k)) so no single source serializes into
    // one task — any deterministic order packs equally well, so
    // sharding changes boundaries but not the audit's meaning.
    QuerySpec("t34_sequence_packing", (s, d) => {
      val c = 256
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      Tables.spread(Tables.documents(s, d))
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .withColumn("__cum", sum(col("n_tokens")).over(w))
        // integer floor division on both engines (Spark `div` ≡ DuckDB
        // `//` on non-negative longs — the m7 pseudo-dim precedent)
        .withColumn("__split",
          expr(s"(__cum - n_tokens) div $c") =!= expr(s"(__cum - 1) div $c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          expr(s"((max(__cum) - 1) div $c) + 1").as("n_windows"),
          Summaries.countIf(col("__split")).as("split_docs"),
          expr(s"($c - (max(__cum) % $c)) % $c").as("pad_tokens"))
        .orderBy(col("source"))
    }, oracle = Some(
      // t34 replays the deterministic (source, doc_id) concat order, the
      // cumulative window, the boundary-split predicate and the per-source
      // window/padding arithmetic — all exact integer ops (// ≡ div)
      """WITH cum AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(sum(len(string_split(text, ' '))) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        |  FROM documents
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  ((max(c) - 1) // 256) + 1 AS n_windows,
        |  CAST(sum(CASE WHEN (c - n_tokens) // 256 <> (c - 1) // 256
        |    THEN 1 ELSE 0 END) AS BIGINT) AS split_docs,
        |  (256 - (max(c) % 256)) % 256 AS pad_tokens
        |FROM cum
        |GROUP BY source
        |ORDER BY source""".stripMargin)),

    // T36 — cross-source contamination matrix (corpus forensics): which
    // sources share width-8 shingles with which — mirrors, syndicated
    // boilerplate, benchmark leakage across crawls. The corpus collapses
    // to DISTINCT (source, shingle-hash) FIRST, so the self-join's worst
    // bucket is |sources|² pairs — bounded by group cardinality, never
    // corpus size (see Dedup.crossGroupOverlap).
    QuerySpec("t36_source_overlap", (s, d) => {
      Dedup.crossGroupOverlap(Tables.spread(Tables.documents(s, d)),
          "source", "text")
        .orderBy(col("a_group"), col("b_group"))
    }, oracle = Some(
      // t36 replays the shingle recipe (d5's list_slice form at n=8, md5
      // hash), the (source, h) collapse, the pair join and the jaccard
      """WITH sh AS (
        |  SELECT DISTINCT source AS g,
        |    CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
        |  FROM (
        |    SELECT source, unnest(list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 7, 1) + 1),
        |      i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS s
        |    FROM (SELECT source, string_split(text, ' ') AS toks
        |          FROM documents))
        |), per AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY g
        |), shared AS (
        |  SELECT a.g AS a_group, b.g AS b_group,
        |    CAST(count(*) AS BIGINT) AS shared_shingles
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.g < b.g
        |  GROUP BY 1, 2
        |)
        |SELECT s.a_group, s.b_group, s.shared_shingles,
        |  round(s.shared_shingles * 1.0
        |    / (pa.n + pb.n - s.shared_shingles), 4) AS jaccard
        |FROM shared s
        |JOIN per pa ON s.a_group = pa.g
        |JOIN per pb ON s.b_group = pb.g
        |ORDER BY a_group, b_group""".stripMargin)),

    // T35 — PII scrubbing audit: regex battery (emails, phone-shaped
    // strings) counted per doc plus the post-scrub char count — the
    // redaction step every public-corpus pipeline runs before training.
    // The base corpus is PII-free (letters only), so PII is PLANTED
    // deterministically (the documentsWithDups convention: doc_id%7
    // buckets get an email / a phone appended) to make every output
    // column discriminating; both engines replay the injection. All
    // map-only — regex count + replace in one codegen projection, no
    // shuffle anywhere but the output sort.
    QuerySpec("t35_pii_audit", (s, d) => {
      val email = "[a-z0-9]+@[a-z0-9.]+"
      val phone = "555-[0-9]+"
      Tables.spread(Tables.documents(s, d))
        .withColumn("__t",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact"),
              col("doc_id").cast("string"), lit("@example.com")))
            .when(col("doc_id") % 7 === 1,
              concat(col("text"), lit(" call 555-"),
                (col("doc_id") % 9000 + 1000).cast("string")))
            .otherwise(col("text")))
        .select(col("doc_id"),
          size(regexp_extract_all(col("__t"), lit(email), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("__t"), lit(phone), lit(0)))
            .cast("long").as("n_phones"),
          length(regexp_replace(
            regexp_replace(col("__t"), email, "<EMAIL>"),
            phone, "<PHONE>")).cast("long").as("n_chars_clean"))
        .withColumn("has_pii", col("n_emails") + col("n_phones") > 0)
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // t35 replays the deterministic PII injection, the regex counts and
      // the global-flag scrub ('g' — DuckDB defaults to first-match-only,
      // Spark replaces all)
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact'
        |        || CAST(doc_id AS VARCHAR) || '@example.com'
        |      WHEN doc_id % 7 = 1 THEN text || ' call 555-'
        |        || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        |      ELSE text END AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9.]+'))
        |    AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '555-[0-9]+')) AS BIGINT)
        |    AS n_phones,
        |  CAST(length(regexp_replace(regexp_replace(t,
        |    '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '555-[0-9]+', '<PHONE>', 'g')) AS BIGINT) AS n_chars_clean,
        |  (len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9.]+'))
        |    + len(regexp_extract_all(t, '555-[0-9]+'))) > 0 AS has_pii
        |FROM d
        |ORDER BY doc_id""".stripMargin)),

    // T33 — temperature-scaled source mixing (the multilingual/multi-
    // domain sampling rule, cf. mT5 §3.1: p_s ∝ n_s^α with α = 0.3):
    // per source, raw and α-smoothed sampling weights plus the epochs
    // each source repeats at a 2×-total-tokens training budget — the
    // over-sampling audit (epochs ≫ 1 on a tiny source means
    // memorization risk). Two bounded aggregates (source grain), the
    // 1-row total broadcast back. Float policy: pow round-6 BEFORE the
    // denominator sum, which runs in DECIMAL so the (bounded) source
    // frame sums exactly in any order; ratios divide exact inputs.
    QuerySpec("t33_mix_weights", (s, d) => {
      val per = Tables.spread(Tables.documents(s, d))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
        .localCheckpoint(eager = false) // totals + output share it
      val pw = round(pow(col("n_tokens").cast("double"), lit(0.3)), 6)
      val tot = per.agg(
        sum(col("n_tokens")).as("__tot_tokens"),
        sum(pw.cast("decimal(38,6)")).as("__tot_pw"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("n_tokens") * lit(1.0) / col("__tot_tokens")).as("p_raw"),
          round(pw / col("__tot_pw").cast("double"), 6).as("p_alpha"),
          round(lit(2.0) * col("__tot_tokens")
            * (pw / col("__tot_pw").cast("double")) / col("n_tokens"), 4)
            .as("epochs_at_2x"))
        .orderBy(col("source"))
    }, oracle = Some(
      // t33 replays the source-grain aggregates, the round-6 pow, the
      // DECIMAL denominator sum and the exact-input ratios
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
        |    sum(CAST(round(power(n_tokens, 0.3), 6) AS DECIMAL(38,6)))
        |      AS tot_pw
        |  FROM per
        |)
        |SELECT source, n_docs, n_tokens,
        |  n_tokens * 1.0 / tot_tokens AS p_raw,
        |  round(round(power(n_tokens, 0.3), 6) / CAST(tot_pw AS DOUBLE), 6)
        |    AS p_alpha,
        |  round(2.0 * tot_tokens
        |    * (round(power(n_tokens, 0.3), 6) / CAST(tot_pw AS DOUBLE))
        |    / n_tokens, 4) AS epochs_at_2x
        |FROM per, tot
        |ORDER BY source""".stripMargin)),

    // D21 — the END-TO-END curation recipe (quality rules → exact dedup
    // → benchmark decontamination) as ONE composed Catalyst plan with
    // full per-doc fate attribution — the flagship "run your whole
    // pipeline on this engine" query. Corpus = documentsWithDups (live
    // duplicates), benchmark = the doc_id%20 held-out split (d7/d8's
    // convention; eval docs present in the corpus are themselves flagged
    // contaminated — exactly what decontamination is for). Stage
    // precedence and scale shape documented on Curation.curate.
    QuerySpec("d21_corpus_curation", (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.curate(Tables.spread(Tables.documentsWithDups(s, d)),
          docs.filter(col("doc_id") % 20 === 0), "text", "doc_id",
          "n_chars")
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // Replays the full three-stage recipe: t9's signal formulas over the
      // cloned corpus, keeper election per fingerprint among
      // quality-passing docs, d8's shingle replay for contamination, and
      // the same CASE precedence as Curation.curate.
      """WITH corpus AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, n_chars
        |  FROM documents WHERE doc_id % 25 = 0
        |), sig AS (
        |  SELECT doc_id, text, md5(lower(trim(text))) AS fp,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('el','la','de','y','que','en','un'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('der','die','das','und','ist','ein','zu'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('le','la','de','et','est','un','dans'))) AS BIGINT) AS s_fr,
        |    round(1.0 - len(list_distinct(list_transform(
        |        range(1, greatest(len(string_split(text,' ')) - 3 + 2, 2)),
        |        i -> array_to_string(list_slice(string_split(text,' '), i, i + 2),
        |          ' ')))) * 1.0
        |      / greatest(len(string_split(text,' ')) - 3 + 1, 1), 4) AS dup3,
        |    round((CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.5 END)
        |        * 0.4
        |      + least(len(list_distinct(string_split(text, ' '))) * 1.0 /
        |          len(string_split(text, ' ')) * 2, 1.0) * 0.6, 4) AS q
        |  FROM corpus
        |), flagged AS (
        |  SELECT *, (s_en + s_es + s_de + s_fr > 0
        |    AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
        |    AND q >= 0.5 AND nt BETWEEN 20 AND 1000 AND dup3 <= 0.3)
        |    AS quality_ok
        |  FROM sig
        |), keep AS (
        |  SELECT fp, min(doc_id) AS keep_id FROM flagged
        |  WHERE quality_ok GROUP BY fp
        |), bsh AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text,' ')) - 8 + 2, 2)),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i + 7), ' '))))
        |    AS sh
        |  FROM documents WHERE doc_id % 20 = 0
        |), contam AS (
        |  SELECT DISTINCT c.doc_id FROM (
        |    SELECT doc_id, unnest(list_distinct(list_transform(
        |      range(1, greatest(len(string_split(text,' ')) - 8 + 2, 2)),
        |      i -> array_to_string(list_slice(string_split(text,' '), i, i + 7), ' '))))
        |      AS sh
        |    FROM flagged WHERE quality_ok) c JOIN bsh USING (sh)
        |)
        |SELECT f.doc_id,
        |  CASE WHEN NOT f.quality_ok THEN 'low_quality'
        |       WHEN f.doc_id <> k.keep_id THEN 'exact_dup'
        |       WHEN f.doc_id IN (SELECT doc_id FROM contam)
        |         THEN 'contaminated'
        |       ELSE 'kept' END AS status,
        |  f.nt AS n_tokens
        |FROM flagged f LEFT JOIN keep k ON f.fp = k.fp
        |ORDER BY f.doc_id""".stripMargin)),

    // X2 — the TRAINING-DATA EXPORT FLAGSHIP (VERDICT r11 item 1): ONE
    // composed plan running the whole ship-it path — d21's curation
    // recipe → t31's BPE apply against the t28-learned merge table
    // (trained on the reference corpus and FROZEN, the production
    // tokenizer contract) → t34's concat-and-chunk packing arithmetic
    // at C=256 → s13's seeded-md5 shard assignment (8 shards) → the
    // shard manifest with t33's α=0.3 mixture weights. The output is
    // the datasheet a training run consumes: per (shard, source) doc
    // and BPE-token counts, realized shard mix, shard sequence/padding/
    // split audit, corpus-level sampling weight. Stage tiers scan once
    // each (ExportManifestSpec pins the plan); scale shape on
    // Curation.exportManifest.
    // Since round 14 the three queries share ONE doc-grain tier
    // artifact (ExportTier — curation + frozen-merge BPE + shard keys,
    // built once, checkpointed): each timed query adds only its own
    // bounded tail (manifest aggregate / window explode / probe cut),
    // with tier construction disclosed in the bench `builds` block —
    // the classifier_train_score precedent, adopted after the round-14
    // controlled experiment (EXPLAIN.md).
    QuerySpec("x2_training_export", (s, d) =>
      Curation.manifestFromDocGrain(ExportTier(s, d)._2,
          "doc_id", contextLen = 256, alpha = 0.3)
        .orderBy(col("shard_id"), col("source")), oracle = Some(
      // x2 replays the whole export: the t28/t31 BPE chain (w0..w4 over
      // the reference corpus — the frozen tokenizer), the d21 curation
      // CTEs with source carried through, kept-slice BPE counts via the
      // vocab join, the s13 seeded-md5 shard key, the t34 cumulative
      // window per shard, and the t33 pow-round-6/decimal-sum mixture.
      // The chain through `cum` is shared with x3 (exportCumCteSql).
      s"""$exportCumCteSql
        |, g1 AS MATERIALIZED (
        |  SELECT shard_id, source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_bpe) AS BIGINT) AS n_tokens,
        |    CAST(count(CASE WHEN (cum - n_bpe) // 256 <> (cum - 1) // 256
        |      THEN 1 END) AS BIGINT) AS split_src
        |  FROM cum GROUP BY shard_id, source
        |), shd AS (
        |  SELECT shard_id, CAST(sum(n_tokens) AS BIGINT) AS sh_tokens,
        |    CAST(sum(split_src) AS BIGINT) AS split_docs
        |  FROM g1 GROUP BY shard_id
        |), srcw AS (
        |  SELECT source, round(pow(CAST(sum(n_tokens) AS DOUBLE), 0.3), 6)
        |    AS pw
        |  FROM g1 GROUP BY source
        |), tpw AS (SELECT sum(CAST(pw AS DECIMAL(38,6))) AS tpw FROM srcw)
        |SELECT g1.shard_id, g1.source, g1.n_docs, g1.n_tokens,
        |  g1.n_tokens * 1.0 / shd.sh_tokens AS tok_frac,
        |  CAST((shd.sh_tokens - 1) // 256 + 1 AS BIGINT) AS n_sequences,
        |  CAST((256 - (shd.sh_tokens % 256)) % 256 AS BIGINT) AS pad_tokens,
        |  shd.split_docs,
        |  round(srcw.pw / CAST(t.tpw AS DOUBLE), 6) AS p_alpha
        |FROM g1 JOIN shd USING (shard_id) JOIN srcw USING (source)
        |CROSS JOIN tpw t
        |ORDER BY shard_id, source""".stripMargin)),

    // X3 — the export's WINDOW-MEMBERSHIP index (x2's row-grain
    // companion): one row per packed C=256 training sequence with the
    // docs that compose it (count, first/last by packing order) and its
    // occupied/padded token split — the attribution surface
    // memorization and contamination debugging reads ("which documents
    // were in this sample's window"). Same fixture, tokenizer and
    // packing order as x2; scale shape on Curation.packedWindows (the
    // explode is tokens/256 grain — 256× below token grain).
    QuerySpec("x3_packed_windows", (s, d) =>
      Curation.packedWindowsFromDocGrain(ExportTier(s, d)._2, "doc_id",
          contextLen = 256)
        .orderBy(col("shard_id"), col("seq_id")), oracle = Some(
      // x3: the shared export chain, then one generate-range explode of
      // each doc's spanned window interval and the (shard, seq)
      // membership aggregate; arg_min/arg_max over the strictly
      // increasing cumulative position mirror Spark's min_by/max_by
      // (unique within a shard — no tie to break).
      s"""$exportCumCteSql
        |, wins AS MATERIALIZED (
        |  SELECT shard_id, doc_id, n_bpe, cum,
        |    unnest(range(CAST((cum - n_bpe) // 256 AS BIGINT),
        |      CAST((cum - 1) // 256 + 1 AS BIGINT))) AS seq_id
        |  FROM cum
        |)
        |SELECT shard_id, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(arg_min(doc_id, cum) AS BIGINT) AS first_doc,
        |  CAST(arg_max(doc_id, cum) AS BIGINT) AS last_doc,
        |  CAST(sum(least(cum, (seq_id + 1) * 256)
        |    - greatest(cum - n_bpe, seq_id * 256)) AS BIGINT) AS n_tokens,
        |  CAST(256 - sum(least(cum, (seq_id + 1) * 256)
        |    - greatest(cum - n_bpe, seq_id * 256)) AS BIGINT) AS n_pad
        |FROM wins GROUP BY shard_id, seq_id
        |ORDER BY shard_id, seq_id""".stripMargin)),

    // X4 — doc→window INVERSE attribution (VERDICT r12 item 5; x3's
    // companion direction): given suspect doc_ids — here the
    // deterministic doc_id % 13 probe set — which packed C=256 training
    // sequences contain their tokens, and at what in-window offsets
    // ([tok_start, tok_end) — the slice an extraction probe replays).
    // This is the exact lookup memorization debugging starts from:
    // "this document leaked; which training samples carried it". Same
    // fixture, frozen tokenizer, shard keys and packing order as x2/x3;
    // the probe filter cuts AFTER the cumulative window (a doc's
    // position is a corpus-order fact) and BEFORE the explode, so the
    // added work over x2's shared doc-grain tier is probe-grain only —
    // scale shape on Curation.docWindows.
    QuerySpec("x4_doc_windows", (s, d) =>
      Curation.docWindowsFromDocGrain(ExportTier(s, d)._2, "doc_id",
          probe = col("doc_id") % 13 === 0, contextLen = 256)
        .orderBy(col("doc_id"), col("seq_id")), oracle = Some(
      // x4: the shared export chain, the doc_id % 13 probe cut AFTER the
      // cumulative window (position is a corpus-order fact), then the
      // same generate-range explode at probe-doc grain — no regroup; the
      // in-window offsets are the least/greatest clamp arithmetic x3
      // sums, kept per row instead.
      s"""$exportCumCteSql
        |SELECT doc_id, shard_id, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(greatest(cum - n_bpe, seq_id * 256) - seq_id * 256
        |    AS BIGINT) AS tok_start,
        |  CAST(least(cum, (seq_id + 1) * 256) - seq_id * 256
        |    AS BIGINT) AS tok_end,
        |  CAST(least(cum, (seq_id + 1) * 256)
        |    - greatest(cum - n_bpe, seq_id * 256) AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT shard_id, doc_id, n_bpe, cum,
        |    unnest(range(CAST((cum - n_bpe) // 256 AS BIGINT),
        |      CAST((cum - 1) // 256 + 1 AS BIGINT))) AS seq_id
        |  FROM cum WHERE doc_id % 13 = 0
        |)
        |ORDER BY doc_id, seq_id""".stripMargin)),

    // T29 — DSIR importance resampling (Xie et al. 2023): select raw
    // docs whose hashed-n-gram profile looks like the TARGET domain
    // (here: the English slice as the target proxy) by the log ratio of
    // Laplace-smoothed bucket distributions. 512 buckets, top-100 kept.
    // The bounded log-ratio table broadcasts back; selection is the w5
    // heap plan — see TextAnalysis.dsirWeights for the 100-TB shape.
    QuerySpec("t29_dsir_select", (s, d) =>
      TextAnalysis.dsirWeights(Tables.spread(Tables.documents(s, d)),
          isTarget = col("lang") === "en", buckets = 512, keep = 100)
        .orderBy(col("doc_id")), oracle = Some(
      // t29 replays DSIR end-to-end: unigram+bigram explode, md5 bucket
      // hash, Laplace-smoothed bucket distributions, round-6 ln pair,
      // exact-decimal Σ c·lr, unrounded per-gram division, top-100 by
      // (avg desc, doc_id) — the same system t23/t26 proved hash-exact.
      """WITH base AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |    string_split(text, ' ') AS toks
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, is_target, unnest(list_concat(toks,
        |    list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1]))) AS g
        |  FROM base
        |), docf AS (
        |  SELECT doc_id, is_target,
        |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 512 AS f,
        |    count(*) AS c
        |  FROM grams GROUP BY 1, 2, 3
        |), bucket AS (
        |  SELECT f, sum(CASE WHEN is_target THEN c ELSE 0 END) AS ct,
        |    sum(c) AS cr
        |  FROM docf GROUP BY f
        |), tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bucket),
        |lr AS (
        |  SELECT f, round(ln((ct + 1) * 1.0 / (nt + 512)), 6)
        |    - round(ln((cr + 1) * 1.0 / (nr + 512)), 6) AS lr
        |  FROM bucket, tot
        |), scored AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |    CAST(sum(CAST(lr AS DECIMAL(38,6)) * c) AS DOUBLE) / sum(c)
        |      AS avg_logratio
        |  FROM docf JOIN lr USING (f) GROUP BY doc_id
        |), kept AS (
        |  SELECT doc_id FROM scored
        |  ORDER BY avg_logratio DESC, doc_id LIMIT 100
        |)
        |SELECT s.doc_id, s.n_grams, s.avg_logratio,
        |  k.doc_id IS NOT NULL AS selected
        |FROM scored s LEFT JOIN kept k ON s.doc_id = k.doc_id
        |ORDER BY s.doc_id""".stripMargin)),

    // T30 — CCNet perplexity buckets (Wenzek et al. 2020 §4.3): score
    // every doc by bigram cross-entropy against a per-language LM
    // trained ONLY on the "clean" slice (sources src0–src4 stand in for
    // the Wikipedia target), then cut each language into head/middle/
    // tail terciles — the published shape for perplexity-based quality
    // partitioning. t26's exact LM arithmetic with left-join zero
    // counts for unseen grams; tercile bounds are the t18 pattern (one
    // combinable per-lang percentile agg broadcast back, map-side
    // banding — the corpus never sorts; swap percentile for
    // approx_percentile at 100 TB if ce cardinality bites).
    QuerySpec("t30_ccnet_buckets", (s, d) => {
      val cleanSrcs = Seq("src0", "src1", "src2", "src3", "src4")
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), col("source"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .localCheckpoint(eager = false) // bigram AND unigram passes
      val bg = docs.select(col("doc_id"), col("lang"), col("source"),
          explode(TextAnalysis.bigrams(col("toks"))).as("bg"))
        .groupBy(col("doc_id"), col("lang"), col("source"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // clean LM counts + scoring
      val cbg = bg.filter(col("source").isin(cleanSrcs: _*))
        .groupBy(col("lang"), col("bg")).agg(sum(col("c")).as("cbg"))
      val uni = docs.filter(col("source").isin(cleanSrcs: _*))
        .select(col("lang"), explode(col("toks")).as("w1"))
        .groupBy(col("lang"), col("w1")).agg(count(lit(1)).as("cw1"))
      val v = uni.groupBy(col("lang")).agg(count(lit(1)).as("v"))
      val scored = bg
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .join(cbg, Seq("lang", "bg"), "left")
        .join(uni, Seq("lang", "w1"), "left")
        // LEFT join: a language with no clean-slice docs has no LM row
        // in v — its docs must surface as bucket='no_lm' (the d21/t27
        // per-doc-fate convention), not silently vanish. lp stays null
        // for every such row, so nll/ce aggregate to null.
        .join(broadcast(v), Seq("lang"), "left")
        .select(col("doc_id"), col("lang"), col("c"),
          round(log((coalesce(col("cbg"), lit(0L)) + 1) * lit(1.0)
            / (coalesce(col("cw1"), lit(0L)) + col("v"))), 6).as("lp"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c")).as("nb"),
          sum(col("lp").cast("decimal(38,6)") * col("c")).as("nll"))
        .select(col("doc_id"), col("lang"), col("nb"),
          (-col("nll").cast("double") / col("nb")).as("ce"))
        .localCheckpoint(eager = false) // bounds agg + banding share it
      val bounds = scored.groupBy(col("lang"))
        .agg(expr(
          "percentile(ce, array(0.3333333333333333D, 0.6666666666666666D))")
          .as("bs"))
        .select(col("lang"), col("bs").getItem(0).as("b1"),
          col("bs").getItem(1).as("b2"))
      scored.join(broadcast(bounds), Seq("lang"))
        .withColumn("bucket",
          when(col("ce").isNull, lit("no_lm"))
            .when(col("ce") <= col("b1"), lit("head"))
            .when(col("ce") <= col("b2"), lit("middle"))
            .otherwise(lit("tail")))
        .select(col("doc_id"), col("lang"), col("nb"), col("ce"),
          col("bucket"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // t30 replays the clean-slice per-lang bigram LM (t26's arithmetic
      // with COALESCE-0 unseen counts), then the tercile banding against
      // quantile_cont bounds (percentile ≡ quantile_cont proven by w20;
      // the two literals are the exact doubles of Scala's 1.0/3, 2.0/3).
      """WITH base AS (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS toks
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, lang, source, g, count(*) AS c FROM (
        |    SELECT doc_id, lang, source, unnest(list_transform(
        |      range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS g
        |    FROM base)
        |  GROUP BY 1, 2, 3, 4
        |), cbg AS (
        |  SELECT lang, g, sum(c) AS cbg FROM bg
        |  WHERE source IN ('src0','src1','src2','src3','src4')
        |  GROUP BY 1, 2
        |), uni AS (
        |  SELECT lang, w1, count(*) AS cw1 FROM (
        |    SELECT lang, unnest(toks) AS w1 FROM base
        |    WHERE source IN ('src0','src1','src2','src3','src4'))
        |  GROUP BY 1, 2
        |), v AS (SELECT lang, count(*) AS v FROM uni GROUP BY lang),
        |scored AS (
        |  SELECT b.doc_id, b.lang, CAST(sum(b.c) AS BIGINT) AS nb,
        |    -CAST(sum(CAST(round(ln((COALESCE(cb.cbg, 0) + 1) * 1.0
        |        / (COALESCE(u.cw1, 0) + v.v)), 6) AS DECIMAL(38,6)) * b.c)
        |      AS DOUBLE) / sum(b.c) AS ce
        |  FROM bg b
        |  LEFT JOIN cbg cb ON b.lang = cb.lang AND b.g = cb.g
        |  LEFT JOIN uni u
        |    ON b.lang = u.lang AND string_split(b.g, ' ')[1] = u.w1
        |  LEFT JOIN v ON b.lang = v.lang
        |  GROUP BY b.doc_id, b.lang
        |), bounds AS (
        |  SELECT lang, quantile_cont(ce, 0.3333333333333333) AS b1,
        |    quantile_cont(ce, 0.6666666666666666) AS b2
        |  FROM scored GROUP BY lang
        |)
        |SELECT s.doc_id, s.lang, s.nb, s.ce,
        |  CASE WHEN s.ce IS NULL THEN 'no_lm'
        |    WHEN s.ce <= b.b1 THEN 'head'
        |    WHEN s.ce <= b.b2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM scored s JOIN bounds b ON s.lang = b.lang
        |ORDER BY s.doc_id""".stripMargin)),

    // W15B — sketch-accuracy CONTRACT: the HLL distinct count and the
    // approximate median must land within their documented error bounds
    // of the exact values. The d17 pattern (r5 verdict item 2): the
    // EXACT sides — distinct count and sorted-percentile median — are
    // SQL-expressible, so they ride along as output columns the oracle
    // INDEPENDENTLY re-derives (count(DISTINCT) / quantile_cont); only
    // the engine-specific sketch values stay Spark-computed, reduced to
    // the asserted booleans. A broken exact path now hash-mismatches
    // instead of silently weakening both sides of the bound.
    QuerySpec("w15b_sketch_bounds", (s, d) => {
      val exactMed = graft.operators.Summaries.sortedPercentiles(
        Tables.lineitem(s, d), Seq("l_returnflag"),
        col("l_extendedprice"), Seq("exact_median" -> 0.5))
      // the GK sketch aggregates in its OWN pass (the w6 lesson):
      // sharing an agg with countDistinct keys the distinct rewrite's
      // first level by (flag, partkey) and merges a percentile_approx
      // OBJECT buffer per partkey group; split, the sketch aggregates
      // straight to the 3-group grain and the distinct pair stays a
      // codegen'd two-level count — they meet in a broadcast join.
      val sketchMed = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5),
          lit(1000)).as("approx_median"))
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .join(broadcast(sketchMed), Seq("l_returnflag"))
        .join(broadcast(exactMed), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          col("exact_parts"), col("exact_median"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= col("exact_parts") * 0.05).as("hll_within_5pct"),
          (abs(col("approx_median") - col("exact_median"))
            <= col("exact_median") * 0.05).as("median_within_5pct"))
        .orderBy(col("l_returnflag"))
    }, oracle = Some(
      // w15b's exact sides re-derive INDEPENDENTLY (the d17 pattern):
      // count(DISTINCT) and quantile_cont replay the countDistinct /
      // sortedPercentiles ground truth (the x16-proven bit-compatible
      // pair); only the sketch-accuracy booleans stay engine-asserted
      """WITH med AS (
        |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5)
        |    AS exact_median
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l.l_returnflag,
        |  count(DISTINCT l.l_partkey) AS exact_parts,
        |  max(m.exact_median) AS exact_median,
        |  true AS hll_within_5pct, true AS median_within_5pct
        |FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin)),

    // E14 — MMR diversified re-rank (Similarity.mmrRerank): greedy
    // λ-tradeoff between relevance and redundancy over a bounded
    // 50-row shortlist (the distributed brute-force stage pays the
    // corpus scan; the sequential greedy chain runs on the driver
    // under the documented bounded-small-side contract). Rows-only at
    // the oracle (float greedy selection has no SQL replay); the
    // e14b contract twin pins the semantics.
    QuerySpec("e14_mmr_rerank", (s, d) => {
      Similarity.mmrRerank(Tables.embeddings(s, d), queryId = 0L,
          k = 10, shortlist = 50, lambda = 0.7)
        .orderBy(col("rank"))
    }, oracle = None),

    // E14B — MMR CONTRACT (oracle asserts the booleans): k rows
    // selected from within the shortlist; the first pick IS the top-1
    // relevant vector (empty penalty set); λ=1 degenerates to exactly
    // the plain top-k (determinism + tiebreak pinned); and the λ=0.7
    // selection is no MORE redundant than plain top-k (mean pairwise
    // cosine within the selected set — the property MMR exists for).
    QuerySpec("e14b_mmr_contract", (s, d) => {
      val spark = s
      import spark.implicits._
      val emb = Tables.embeddings(s, d)
      val mmr = Similarity.mmrRerank(emb, queryId = 0L, k = 10,
        shortlist = 50, lambda = 0.7)
      val top = Similarity.bruteForceTopK(emb, queryId = 0L, k = 10)
      val short = Similarity.bruteForceTopK(emb, queryId = 0L, k = 50)
        .select(col("vec_id"))
      val mmr1 = Similarity.mmrRerank(emb, queryId = 0L, k = 10,
        shortlist = 10, lambda = 1.0)
      def vecsOf(ids: Seq[Long]): Seq[Array[Float]] =
        emb.filter(col("vec_id").isin(ids: _*))
          .select(col("embedding")).as[Array[Float]].collect().toSeq
      def meanPairSim(ids: Seq[Long]): Double = {
        val vs = vecsOf(ids)
        val sims = for (i <- vs.indices; j <- (i + 1) until vs.size)
          yield Similarity.cosLocal(vs(i), vs(j))
        sims.sum / sims.size
      }
      val mmrIds = mmr.orderBy(col("rank"))
        .select(col("vec_id")).as[Long].collect().toSeq
      val topIds = top.select(col("vec_id")).as[Long].collect().toSeq
      val shortIds = short.as[Long].collect().toSet
      val m1Ids = mmr1.orderBy(col("rank"))
        .select(col("vec_id")).as[Long].collect().toSeq
      // d17 pattern: the plain brute-force top-10 (the λ=1 ground truth
      // the booleans are measured against) is SQL-expressible — emit it
      // sorted so the oracle independently re-derives it via e1's replay
      Seq((
        mmrIds.size == 10,
        mmrIds.headOption.contains(topIds.head),
        mmrIds.forall(shortIds.contains),
        m1Ids == topIds,
        meanPairSim(mmrIds) <= meanPairSim(topIds) + 1e-9,
        topIds.sorted.mkString(",")
      )).toDF("k_selected", "first_is_top1", "subset_of_shortlist",
        "lambda1_equals_topk", "diversity_not_worse", "exact_top10_ids")
    }, oracle = Some(
      // e14 itself is rows-only (greedy float selection has no SQL
      // replay); this contract twin pins its semantics
      (BruteForceTop10Cte + """
        |SELECT true AS k_selected, true AS first_is_top1,
        |  true AS subset_of_shortlist, true AS lambda1_equals_topk,
        |  true AS diversity_not_worse,
        |  (SELECT array_to_string(list_sort(list(vec_id)), ',') FROM top10) AS exact_top10_ids""".stripMargin))),

    // E16 — NEAREST-CENTROID classification eval (Rocchio): fit one
    // exact per-label centroid, predict each vector's label as its
    // max-cosine centroid, report per-class accuracy — the
    // label-quality harness for an embedding-labeled corpus (t22's
    // eval shape on the dense modality). |labels| centroids broadcast,
    // scoring is bounded map-side fanout, argmax one vec_id window;
    // cosine round-4 (e1 convention), exact-integer accuracy division.
    QuerySpec("e16_centroid_eval", (s, d) => {
      Similarity.nearestCentroidEval(Tables.embeddings(s, d))
        .orderBy(col("label"))
    }, oracle = Some(
      // e16 replays the e10 exact-centroid CTE, the e1 unnest cosine per
      // (vector, candidate-label) pair, the identical round-4 + (sim
      // desc, cand) argmax window, and the exact-integer accuracy
      """WITH x AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS actual,
        |    generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), nz AS (
        |  SELECT vec_id FROM x GROUP BY vec_id HAVING sum(v * v) > 0
        |), cent AS (
        |  SELECT actual AS cand, i,
        |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS c
        |  FROM x WHERE vec_id IN (SELECT vec_id FROM nz)
        |  GROUP BY actual, i
        |), s AS (
        |  SELECT x.vec_id, x.actual, cent.cand,
        |    sum(x.v * cent.c) AS dot, sum(x.v * x.v) AS vv,
        |    sum(cent.c * cent.c) AS cc
        |  FROM x JOIN cent ON x.i = cent.i
        |  WHERE x.vec_id IN (SELECT vec_id FROM nz)
        |  GROUP BY x.vec_id, x.actual, cent.cand
        |), p AS (
        |  SELECT vec_id, actual, cand,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY round(dot / (sqrt(vv) * sqrt(cc)), 4) DESC, cand)
        |      AS rn
        |  FROM s
        |)
        |SELECT actual AS label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN cand = actual THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  CAST(sum(CASE WHEN cand = actual THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1.0 / count(*) AS accuracy
        |FROM p WHERE rn = 1 GROUP BY actual ORDER BY label""".stripMargin)),

    // E15 — HYBRID RETRIEVAL via Reciprocal-Rank Fusion: fuse the
    // lexical BM25 ranking (t21 machinery) with the dense cosine
    // ranking (e1 machinery) as Σ 1/(60+rank) — the score-free fusion
    // every RAG / retrieval stack runs because it needs no
    // cross-system score calibration. Scale shape: each ranking is a
    // distributed top-50 (TakeOrderedAndProject — the corpus never
    // fully sorts), and ONLY the two bounded 50-row shortlists meet
    // the single-partition rank window and the full-outer fusion join
    // (a doc top-ranked in one system and absent from the other keeps
    // its one-sided score — that asymmetry is RRF's point).
    // Determinism: ranks are integers off total-order (rounded score,
    // id) sorts; each reciprocal term is one double division rounded
    // to 9, and their sum is a single IEEE add both engines replay.
    QuerySpec("e15_rrf_fusion", (s, d) => {
      val wLex = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      val lex = TextAnalysis.bm25(Tables.documents(s, d),
          Seq("vector", "stream", "window"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
        .select(col("doc_id"),
          row_number().over(wLex).cast("long").as("r_lex"))
      val wDen = org.apache.spark.sql.expressions.Window
        .orderBy(col("cosine_sim").desc, col("vec_id"))
      val den = Similarity.bruteForceTopK(Tables.embeddings(s, d),
          queryId = 0L, k = 50)
        .select(col("vec_id"),
          row_number().over(wDen).cast("long").as("r_dense"))
        .withColumnRenamed("vec_id", "doc_id")
      lex.join(den, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("r_lex"), col("r_dense"),
          (coalesce(round(lit(1.0) / (lit(60) + col("r_lex")), 9), lit(0.0))
            + coalesce(round(lit(1.0) / (lit(60) + col("r_dense")), 9),
              lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    }, oracle = Some(
      // e15 stitches the t21 BM25 replay and the e1 unnest/rejoin cosine
      // replay into the same two 50-row shortlists, ranks each with the
      // identical total-order window, and fuses with the same
      // round-9 reciprocal terms + one IEEE add
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term
        |), dl AS (
        |  SELECT doc_id, sum(cnt) AS dl FROM tf GROUP BY doc_id
        |), st AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl FROM dl
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf
        |  WHERE term IN ('vector', 'stream', 'window') GROUP BY term
        |), w AS (
        |  SELECT tf.doc_id,
        |    round(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.cnt * 2.2)
        |      / (tf.cnt + 1.2 * (0.25 + (0.75 * dl.dl) / (st.sumdl / st.n))),
        |      6) AS w
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        |), lexs AS (
        |  SELECT doc_id, CAST(sum(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS score
        |  FROM w GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50
        |), lexr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
        |  FROM lexs
        |), q AS (
        |  SELECT generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS qv
        |  FROM embeddings WHERE vec_id = 0
        |), v AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS ev
        |  FROM embeddings WHERE vec_id <> 0
        |), m AS (
        |  SELECT v.vec_id, sum(v.ev * q.qv) AS dot, sum(v.ev * v.ev) AS vv,
        |    sum(q.qv * q.qv) AS qq
        |  FROM v JOIN q ON v.i = q.i GROUP BY v.vec_id
        |), dens AS (
        |  SELECT vec_id AS doc_id, round(dot / (sqrt(vv) * sqrt(qq)), 4) AS cos
        |  FROM m ORDER BY cos DESC, vec_id LIMIT 50
        |), denr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r_dense
        |  FROM dens
        |)
        |SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id, l.r_lex, r.r_dense,
        |  coalesce(round(1.0 / (60 + l.r_lex), 9), 0.0)
        |    + coalesce(round(1.0 / (60 + r.r_dense), 9), 0.0) AS rrf
        |FROM lexr l FULL OUTER JOIN denr r ON l.doc_id = r.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin)),

    // J10 — BANDED range join (price-tier rollup): "price BETWEEN
    // tier.lo AND tier.hi" as a bucket equi-join (Joins.bandJoin, the
    // v5 interval trick on the value axis) — Spark's native plan for a
    // non-equi join is BroadcastNestedLoopJoin (per-row scans of the
    // band table; cartesian-class without a broadcastable side), which
    // PlanSpec asserts is absent. Prices quantize to integer cents
    // once (exact: 2-dp grid), so bucket and residual arithmetic is
    // engine-exact; the bands cover the full observed price range
    // ([902, 105000] dollars), so the inner join drops no rows and
    // the oracle's BETWEEN replay is total.
    QuerySpec("j10_band_join", (s, d) => {
      val spark = s
      import spark.implicits._
      val tiers = Seq(
        ("t1_budget", 0L, 2500000L),
        ("t2_mid", 2500000L, 5000000L),
        ("t3_high", 5000000L, 7500000L),
        ("t4_premium", 7500000L, 11000000L)
      ).toDF("tier", "lo_c", "hi_c")
      val li = Tables.lineitem(s, d)
        .select(col("l_extendedprice"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"))
      graft.operators.Joins
        .bandJoin(li, tiers, "price_c", "lo_c", "hi_c", width = 500000L)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_items"),
          Summaries.exactSum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("tier"))
    }, oracle = Some(
      // j10's oracle is the plain BETWEEN join — bucket-decomposition
      // invariance of the result IS the correctness contract
      """WITH tiers(tier, lo_c, hi_c) AS (VALUES
        |  ('t1_budget', 0, 2500000), ('t2_mid', 2500000, 5000000),
        |  ('t3_high', 5000000, 7500000), ('t4_premium', 7500000, 11000000))
        |SELECT tier, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,6))), 2)
        |    AS DOUBLE) AS sum_price
        |FROM lineitem JOIN tiers
        |  ON CAST(round(l_extendedprice * 100) AS BIGINT) >= lo_c
        |  AND CAST(round(l_extendedprice * 100) AS BIGINT) < hi_c
        |GROUP BY tier ORDER BY tier""".stripMargin)),

    // D15 — SEMANTIC dedup APPLY (embedding grain): the end-to-end
    // "drop near-duplicate meanings" pass — SRP-bucketed cosine
    // candidate pairs (e3's bounded generator, threshold 0.95) →
    // near-dup connected components (d9's hybrid union-find) → keep
    // each cluster's min-id representative. Runs on the cloned corpus
    // (every vec_id % 50 == 0 re-inserted at +1,000,000 — the e3b
    // convention) so the collapse provably fires. Rows-only at the
    // oracle (SRP buckets + float cosine have no SQL replay); d15b
    // pins the semantics.
    QuerySpec("d15_semantic_dedup", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val cloned = emb.unionByName(emb.filter(col("vec_id") % 50 === 0)
          .withColumn("vec_id", col("vec_id") + 1000000L))
        .localCheckpoint(eager = false) // pairs, clusters, apply share it
      val pairs = Similarity.cosineNearDupPairs(cloned,
        threshold = 0.95)
      Dedup.nearDupClusters(cloned, pairs, "vec_id")
        .filter(col("is_canonical"))
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }, oracle = None),

    // D15B — semantic-dedup CONTRACT (oracle asserts the booleans):
    // every planted clone lands in its original's cluster (cos 1.0 ≥
    // any threshold, identical SRP signature ⇒ shared bucket at any
    // plane count — structurally guaranteed candidates), no clone
    // survives the keep-min apply (clone ids sit +1e6 above their
    // originals), and the kept + collapsed counts conserve the input.
    QuerySpec("d15b_semantic_dedup_contract", (s, d) => {
      val spark = s
      import spark.implicits._
      val emb = Tables.embeddings(s, d)
      val cloned = emb.unionByName(emb.filter(col("vec_id") % 50 === 0)
          .withColumn("vec_id", col("vec_id") + 1000000L))
        .localCheckpoint(eager = false)
      val pairs = Similarity.cosineNearDupPairs(cloned,
        threshold = 0.95)
      val cl = Dedup.nearDupClusters(cloned, pairs, "vec_id")
        .localCheckpoint(eager = false) // feeds both aggregates below
      val planted = cl.filter(col("vec_id") >= 1000000L)
        .select((col("vec_id") - 1000000L).as("orig_id"),
          col("cluster_id").as("clone_cl"),
          col("is_canonical").as("clone_canon"))
        .join(cl.select(col("vec_id").as("orig_id"),
          col("cluster_id").as("orig_cl")), Seq("orig_id"))
        .agg(
          (count(lit(1)) > 0).as("planted_pairs_exist"),
          (count(when(col("clone_cl") =!= col("orig_cl"), 1)) === 0)
            .as("clones_cluster_with_original"),
          (count(when(col("clone_canon"), 1)) === 0)
            .as("no_clone_survives"))
      // d17 pattern: the corpus arithmetic is SQL-expressible ground
      // truth — n_planted (clone rows actually present in the clustered
      // frame) and n_input (cloned-corpus size) re-derive in the oracle
      // from the embeddings table alone, so a broken clone-injection or
      // row-dropping cluster stage now hash-mismatches
      val conserve = cl.agg(
        (count(when(col("is_canonical"), 1))
          + count(when(!col("is_canonical"), 1)) === count(lit(1)))
          .as("kept_plus_collapsed_conserves"),
        count(when(col("vec_id") >= 1000000L, 1)).as("n_planted"),
        count(lit(1)).as("n_input"))
      planted.crossJoin(conserve)
    }, oracle = Some(
      // d15 itself is rows-only (SRP buckets + float cosine have no SQL
      // replay); this contract twin pins its semantics
      """WITH pl AS (
        |  SELECT count(*) AS n_planted FROM embeddings WHERE vec_id % 50 = 0
        |), tot AS (SELECT count(*) AS n FROM embeddings)
        |SELECT true AS planted_pairs_exist,
        |  true AS clones_cluster_with_original, true AS no_clone_survives,
        |  true AS kept_plus_collapsed_conserves,
        |  pl.n_planted, tot.n + pl.n_planted AS n_input
        |FROM pl, tot""".stripMargin)),

    // E5 — ANN recall CONTRACT: multi-probe SRP-LSH top-10 must recover
    // at least half of the exact brute-force top-10 (the standard
    // recall@k acceptance gate for an ANN index). Oracle asserts the
    // boolean. Config planes=6/probe=2 measured at recall 7/10 (sf0.01)
    // and 10/10 (sf0.1) on the clusterless synthetic corpus.
    QuerySpec("e5_ann_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = Similarity.bruteForceTopK(emb, queryId = 0L, k = 10)
        .select(col("vec_id")).localCheckpoint(eager = false)
      val ann = Similarity.annTopK(emb, queryId = 0L, k = 10,
          numPlanes = 6, probeHamming = 2)
        .select(col("vec_id"))
      val hits = ann.join(exact, Seq("vec_id"), "left_semi")
      // d17 pattern: the brute-force top-10 id set IS SQL-expressible
      // (e1's oracle already replays it) — emit it sorted so the oracle
      // independently re-derives the ground truth the recall boolean is
      // measured against
      hits.agg((count(lit(1)) >= 5).as("recall_at_10_ge_half"))
        .crossJoin(exact.agg(
          array_join(sort_array(collect_list(col("vec_id"))), ",")
            .as("exact_top10_ids")))
    }, oracle = Some(
      // e5/e6/e12b/e14b re-derive the brute-force top-10 ground truth
      // via e1's replay CTE (the d17 pattern) — the recall booleans stay
      // engine-asserted, but the exact id set they are measured against
      // is now independently recomputed by the oracle
      (BruteForceTop10Cte + """
        |SELECT true AS recall_at_10_ge_half,
        |  (SELECT array_to_string(list_sort(list(vec_id)), ',') FROM top10) AS exact_top10_ids""".stripMargin))),

    // E6 — IVF recall CONTRACT (companion to e5): probing 4 of 16 cells
    // must recover >=8 of the exact top-10. Measured 10/10 at both SFs.
    QuerySpec("e6_ivf_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = Similarity.bruteForceTopK(emb, queryId = 0L, k = 10)
        .select(col("vec_id")).localCheckpoint(eager = false)
      val ivf = Similarity.ivfTopK(emb, queryId = 0L, k = 10)
        .select(col("vec_id"))
      ivf.join(exact, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 8).as("recall_at_10_ge_08"))
        // e5's d17 pattern: oracle re-derives the exact top-10 ground truth
        .crossJoin(exact.agg(
          array_join(sort_array(collect_list(col("vec_id"))), ",")
            .as("exact_top10_ids")))
    }, oracle = Some(
      (BruteForceTop10Cte + """
        |SELECT true AS recall_at_10_ge_08,
        |  (SELECT array_to_string(list_sort(list(vec_id)), ',') FROM top10) AS exact_top10_ids""".stripMargin))),

    // E12B — PQ CONTRACT (e6 pattern; value-verifies e12): the ADC
    // shortlist (256 of N by quantized score) must recover ≥8 of the
    // exact top-10 after re-rank (sample-shard-trained codebooks, the
    // e12 configuration: measured 10/10 at sf0.01, 9/10 at sf0.1 —
    // deterministic, no RNG anywhere; single-stage ADC alone ranks
    // only ~2/10 on this near-random corpus — the re-rank stage is
    // what makes byte codes usable), and every corpus vector must
    // encode to exactly m in-range codes.
    QuerySpec("e12b_pq_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      // codebooks + checkpointed codes from the SHARED train-once
      // artifact (ExtensionQueries.PqArtifact): the contract verifies
      // the very state e12 probes — and the most expensive stage
      // (Lloyd training + encode) runs once for the pair of queries,
      // not once per query
      val (books, encoded) = ExtensionQueries.PqArtifact(s, d)
      val exact = Similarity.bruteForceTopK(emb, queryId = 0L, k = 10)
        .select(col("vec_id")).localCheckpoint(eager = false)
      val pq = Similarity.pqTopKRerank(emb, books,
          m = ExtensionQueries.PqArtifact.M,
          ksub = ExtensionQueries.PqArtifact.KSUB,
          queryId = 0L, k = 10, shortlist = 256, codes = encoded)
        .select(col("vec_id"))
      val recall = pq.join(exact, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 8).as("ok_recall"))
      val codes = encoded
        .agg(((min(size(col("codes"))) === 16) &&
          (max(size(col("codes"))) === 16) &&
          (max(array_max(col("codes"))) <= 15) &&
          (min(array_min(col("codes"))) >= 0)).as("ok_codes"))
      // e5's d17 pattern: oracle re-derives the exact top-10 ground truth
      recall.crossJoin(codes).crossJoin(exact.agg(
        array_join(sort_array(collect_list(col("vec_id"))), ",")
            .as("exact_top10_ids")))
    }, oracle = Some(
      (BruteForceTop10Cte + """
        |SELECT true AS ok_recall, true AS ok_codes,
        |  (SELECT array_to_string(list_sort(list(vec_id)), ',') FROM top10) AS exact_top10_ids""".stripMargin))),

    // E17B — IVF-PQ CONTRACT (e6/e12b pattern; value-verifies e17):
    // after BOTH lossy stages (cell routing to 8 of 16 cells, ADC
    // shortlist of 128 within the probed set) the exact re-rank must
    // still recover ≥8 of the exact top-10 — measured 10/10 at sf0.01
    // and 9/10 at sf0.1 (deterministic, no RNG). The d17 pattern:
    // exact_top10_ids rides along for independent oracle re-derivation.
    QuerySpec("e17b_ivfpq_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val (books, codes) = ExtensionQueries.PqArtifact(s, d)
      val exact = Similarity.bruteForceTopK(emb, queryId = 0L, k = 10)
        .select(col("vec_id")).localCheckpoint(eager = false)
      val ivfpq = Similarity.ivfPqTopK(emb, books,
          m = ExtensionQueries.PqArtifact.M,
          ksub = ExtensionQueries.PqArtifact.KSUB,
          queryId = 0L, k = 10, numCells = 16, nprobe = 8,
          shortlist = 128, codes = codes)
        .select(col("vec_id"))
      ivfpq.join(exact, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 8).as("ok_recall"))
        .crossJoin(exact.agg(
          array_join(sort_array(collect_list(col("vec_id"))), ",")
            .as("exact_top10_ids")))
    }, oracle = Some(
      (BruteForceTop10Cte + """
        |SELECT true AS ok_recall,
        |  (SELECT array_to_string(list_sort(list(vec_id)), ',') FROM top10) AS exact_top10_ids""".stripMargin))),

    // T10 — document chunking (64-token windows, 16-token overlap):
    // the doc → training-unit explosion, emitted as chunk hashes so the
    // verified rows stay narrow.
    QuerySpec("t10_chunking", (s, d) => {
      TextAnalysis.chunk(Tables.spread(Tables.documents(s, d)),
          "text", "doc_id", chunkTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
          md5(col("chunk_text").cast("binary")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }, oracle = Some(
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, unnest(range(1, len(toks)+1, 48)) AS st FROM t)
        |SELECT doc_id, (st-1)//48 AS chunk_id,
        |  CAST(least(64, len(toks)-st+1) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(toks, st, st+63), ' ')) AS chunk_hash
        |FROM s WHERE st = 1 OR st + 16 <= len(toks)
        |ORDER BY doc_id, chunk_id""".stripMargin)),

    // D9 — near-dup cluster canonicalization: connected components over
    // the token-Jaccard pair graph (d2's generation), min-id canonical
    // per cluster. The oracle replays it with a recursive CTE.
    QuerySpec("d9_dedup_clusters", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.tokenJaccardPairs(docs, threshold = 0.5)
      Dedup.nearDupClusters(docs, pairs, "doc_id")
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH RECURSIVE prepared AS (
        |  SELECT doc_id, source, CAST(floor(n_chars / 32.0) AS BIGINT) AS bkt,
        |    list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM prepared a JOIN prepared b
        |    ON a.source = b.source AND abs(a.bkt - b.bkt) <= 1
        |    AND a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.toks, b.toks)) * 1.0 /
        |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4)
        |    >= 0.5
        |), edges AS (
        |  SELECT a_id AS s, b_id AS t FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs
        |), reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.t, r.r FROM reach r JOIN edges e ON e.s = r.id
        |)
        |SELECT id AS doc_id, min(r) AS cluster_id,
        |  CASE WHEN id = min(r) THEN true ELSE false END AS is_canonical
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // Q1 — TPC-H Q1 pricing summary (the canonical scan-heavy
    // aggregation benchmark): one wide partial+final hash aggregate over
    // the filtered scan, decimal-exact sums, UNROUNDED decimal-quotient
    // averages (engine-divergent round-half ties live exactly there).
    QuerySpec("q1_pricing_summary", (s, d) => {
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,6)"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(dsum(col("l_quantity")), 2).cast("double").as("sum_qty"),
          round(dsum(col("l_extendedprice")), 2).cast("double")
            .as("sum_base_price"),
          round(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .cast("double").as("sum_disc_price"),
          round(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).cast("double").as("sum_charge"),
          (dsum(col("l_quantity")).cast("double") / count(col("l_quantity")))
            .as("avg_qty"),
          (dsum(col("l_extendedprice")).cast("double")
            / count(col("l_extendedprice"))).as("avg_price"),
          (dsum(col("l_discount")).cast("double") / count(col("l_discount")))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle = Some(
      """SELECT l_returnflag, l_linestatus,
        |CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE)
        |  AS sum_qty,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE)
        |  AS sum_base_price,
        |CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |  AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_disc_price,
        |CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |  AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_charge,
        |CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
        |  / count(l_quantity) AS avg_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
        |  / count(l_extendedprice) AS avg_price,
        |CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE)
        |  / count(l_discount) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // W23 — RANGE-frame window (trailing 7 calendar days per customer):
    // value-based frames are a different window surface than the ROWS
    // frames of w18 — peers enter by timestamp distance, not row count.
    QuerySpec("w23_range_frame", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("od_s"))
        .rangeBetween(-7L * 86400L, 0L)
      Tables.orders(s, d)
        .withColumn("od_s", unix_timestamp(col("o_orderdate")))
        .select(col("o_custkey"), col("od_s"), col("o_orderkey"),
          round(sum(col("o_totalprice").cast("decimal(38,6)")).over(w), 2)
            .cast("double").as("trailing_7d_total"))
        .orderBy(col("o_custkey"), col("od_s"), col("o_orderkey"))
        .limit(2000)
    }, oracle = Some(
      """SELECT o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_s,
        |  o_orderkey,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW), 2)
        |    AS DOUBLE) AS trailing_7d_total
        |FROM orders
        |ORDER BY o_custkey, od_s, o_orderkey LIMIT 2000""".stripMargin)),

    // O6 — schema-evolution append: unionByName with missing columns
    // (the shape of appending a newer, narrower batch to an existing
    // table — columns align by NAME, absent ones null-fill).
    QuerySpec("o6_union_by_name", (s, d) => {
      val customer = Tables.customer(s, d)
      val base = customer.select(col("c_custkey"), col("c_name"),
        col("c_acctbal"))
      val evolved = customer.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_acctbal"), col("c_custkey")) // reordered, no c_name
      base.unionByName(evolved, allowMissingColumns = true)
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal").cast("decimal(38,6)"), 2).cast("double")
            .as("c_acctbal"))
        .orderBy(col("c_custkey"), col("c_name").asc_nulls_first)
        .limit(1000)
    }, oracle = Some(
      """SELECT c_custkey, c_name,
        |  CAST(round(CAST(c_acctbal AS DECIMAL(38,6)), 2) AS DOUBLE) AS c_acctbal
        |FROM (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  UNION ALL BY NAME
        |  SELECT c_acctbal, c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |)
        |ORDER BY c_custkey, c_name NULLS FIRST LIMIT 1000""".stripMargin)),

    // W26 — incremental aggregate maintenance (metric-state merge): a
    // 100 TB metrics pipeline never re-scans history to refresh an
    // aggregate — it keeps per-key STATE (count + decimal-exact sum)
    // and folds each batch's partial aggregate into it. The ORACLE
    // recomputes from ALL raw rows, so the merge algebra (count add,
    // exact-sum add, avg re-derived from merged sums — never averaged
    // averages) must agree with the from-scratch truth exactly.
    QuerySpec("w26_incremental_agg_merge", (s, d) => {
      val li = Tables.lineitem(s, d)
      def partial(df: DataFrame) = df.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(38,6)")).as("s"))
      val state = partial(li.filter(col("l_orderkey") % 10 =!= 0))
      val batch = partial(li.filter(col("l_orderkey") % 10 === 0))
      state.unionByName(batch)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("n")).as("n_rows"), sum(col("s")).as("s2"))
        .select(col("l_returnflag"), col("n_rows"),
          round(col("s2"), 2).cast("double").as("sum_qty"),
          (col("s2").cast("double") / col("n_rows")).as("avg_qty"))
        .orderBy(col("l_returnflag"))
    }, oracle = Some(
      """SELECT l_returnflag, count(*) AS n_rows,
        |CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE)
        |  AS sum_qty,
        |CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*)
        |  AS avg_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // W27 — per-group OLS trend fit (slope / intercept / R² of value
    // vs event DAY): drift detection and per-cohort growth rates in
    // one distributed pass — five exact-decimal moments in a single
    // hash aggregate, closed-form solution on the per-group scalars
    // (Summaries.olsFit). The regressor is the epoch-DAY long
    // (unix_micros DIV 86_400_000_000 — the epoch-µs convention,
    // integer both engines agree on), never a raw timestamp.
    QuerySpec("w27_ols_trend", (s, d) => {
      Summaries.olsFit(
          Tables.events(s, d),
          Seq(col("event_type")),
          expr("unix_micros(ts) div 86400000000").as("day"),
          col("value"))
        .orderBy(col("event_type"))
    }, oracle = Some(
      // w27 replays olsFit's exact-decimal moments and the identical
      // double expression tree (same parenthesization — a different op
      // order could ulp-shift within round-6's tie window)
      """WITH m AS (
        |  SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(day AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(day * value AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(day * day AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(value * value AS DECIMAL(38,10))) AS DOUBLE) AS syy
        |  FROM (
        |    SELECT event_type, epoch_us(ts) // 86400000000 AS day, value
        |    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  ) GROUP BY event_type
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n_obs,
        |  round(CASE WHEN n * sxx - sx * sx > 0.0
        |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
        |  round(CASE WHEN n * sxx - sx * sx > 0.0
        |    THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
        |    END, 6) AS intercept,
        |  round(CASE WHEN n * sxx - sx * sx > 0.0 AND n * syy - sy * sy > 0.0
        |    THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
        |FROM m ORDER BY event_type""".stripMargin)),

    // W32 — full 4×4 Pearson correlation matrix over the lineitem
    // measures in ONE pass (Summaries.pearsonMatrix): 1 + 2k + C(k,2)
    // decimal moment accumulators in a single hash aggregate — one
    // scan and a 1-row exchange where per-pair w8 calls would scan six
    // times — then each pair's correlation combines its five scalars
    // in double on the result row and explodes to (col_a, col_b,
    // corr) cells. Complete-case semantics (any-null rows leave every
    // moment) keep the shared-moment trick honest; documented on the
    // operator. The oracle replays the identical moment sums and
    // double tree per cell and stacks the six rows with UNION ALL.
    QuerySpec("w32_correlation_matrix", (s, d) => {
      Summaries.pearsonMatrix(Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("col_a"), col("col_b"))
    }, oracle = Some(
      // w32 replays pearsonMatrix: one complete-case moment CTE, then
      // each cell's five scalars combine in the IDENTICAL double tree
      // (cab / sqrt(va * vb), same parenthesization as the Spark
      // Column expression) and the six cells stack via UNION ALL
      {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val moments =
        (cols.map(c =>
          s"CAST(sum(CAST($c AS DECIMAL(38,10))) AS DOUBLE) AS s_$c") ++
         cols.map(c =>
           s"CAST(sum(CAST($c * $c AS DECIMAL(38,10))) AS DOUBLE) AS ss_$c") ++
         (for { i <- cols.indices; j <- cols.indices if i < j }
           yield {
             val (a, b) = (cols(i), cols(j))
             s"CAST(sum(CAST($a * $b AS DECIMAL(38,10))) AS DOUBLE) AS x_${a}_$b"
           })).mkString(",\n        |    ")
      val cells = (for { i <- cols.indices; j <- cols.indices if i < j }
        yield {
          val (a, b) = (cols(i), cols(j))
          s"""SELECT '$a' AS col_a, '$b' AS col_b,
             |  round(CASE WHEN n * ss_$a - s_$a * s_$a > 0.0
             |         AND n * ss_$b - s_$b * s_$b > 0.0
             |    THEN (n * x_${a}_$b - s_$a * s_$b)
             |      / sqrt((n * ss_$a - s_$a * s_$a)
             |             * (n * ss_$b - s_$b * s_$b)) END, 6) AS corr,
             |  CAST(n AS BIGINT) AS n_obs FROM m""".stripMargin
        }).mkString("\n        |  UNION ALL\n        |  ")
      s"""WITH m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    $moments
        |  FROM lineitem
        |  WHERE ${cols.map(c => s"$c IS NOT NULL").mkString(" AND ")}
        |)
        |SELECT * FROM (
        |  $cells
        |) ORDER BY col_a, col_b""".stripMargin
    })),

    // W28 — ROLLUP subtotal lattice (grouping sets): per-(returnflag,
    // linestatus) detail, per-returnflag subtotals and the grand total
    // in ONE aggregate — Spark expands the grouping-set lattice
    // map-side and all levels ride a single hash aggregate + one
    // shuffle (a UNION of three GROUP BYs would scan the fact table
    // three times). Subtotal NULLs are disambiguated from data NULLs
    // by grouping_id (bit per column, MSB = first grouping column —
    // the same bitmask contract as DuckDB's GROUPING()); display keys
    // coalesce to '(all)' so the output carries no NULLs and the
    // cross-engine NULL-ordering divergence (Spark NULLS FIRST vs
    // DuckDB NULLS LAST) never enters the ORDER BY.
    QuerySpec("w28_rollup", (s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_rows"),
          Summaries.exactSum(col("l_quantity")).as("sum_qty"),
          Summaries.exactSum(col("l_extendedprice")).as("sum_price"))
        .select(col("gid"),
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("n_rows"), col("sum_qty"), col("sum_price"))
        .orderBy(col("gid"), col("returnflag"), col("linestatus"))
    }, oracle = Some(
      // w28 replays the rollup lattice; GROUPING(a, b) carries the same
      // bitmask (first column = MSB) in both engines, and the '(all)'
      // coalesce keeps NULLs out of the ORDER BY (Spark NULLS FIRST vs
      // DuckDB NULLS LAST would otherwise reorder subtotal rows)
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  coalesce(l_returnflag, '(all)') AS returnflag,
        |  coalesce(l_linestatus, '(all)') AS linestatus,
        |  count(*) AS n_rows,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,6))), 2)
        |    AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, returnflag, linestatus""".stripMargin)),

    // T21 — Okapi BM25 ranked keyword retrieval (TextAnalysis.bm25):
    // tf saturation + length normalization over the t8 posting
    // machinery; the probe filters to the query terms at the scan, df
    // broadcasts at |queryTerms| rows, corpus stats ride a 1-row
    // broadcast cross join. Per-term contributions round-6 after the
    // one ln() (t8 convention) and sum as exact DECIMAL(38,6).
    QuerySpec("t21_bm25", (s, d) => {
      TextAnalysis.bm25(Tables.documents(s, d),
          Seq("vector", "stream", "window"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }, oracle = Some(
      // t21 replays bm25 with the identical expression tree: ln once per
      // (doc, term), round-6, decimal sum; constants pre-folded to
      // (k1+1)=2.2 and (1-b)=0.25 in BOTH engines so the parse trees
      // agree literal-for-literal
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term
        |), dl AS (
        |  SELECT doc_id, sum(cnt) AS dl FROM tf GROUP BY doc_id
        |), st AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl FROM dl
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf
        |  WHERE term IN ('vector', 'stream', 'window') GROUP BY term
        |), w AS (
        |  SELECT tf.doc_id,
        |    round(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.cnt * 2.2)
        |      / (tf.cnt + 1.2 * (0.25 + (0.75 * dl.dl) / (st.sumdl / st.n))),
        |      6) AS w
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        |)
        |SELECT doc_id, CAST(sum(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS score,
        |  count(*) AS n_terms_hit
        |FROM w GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // X17 — EQUAL-FREQUENCY feature binning (quantile discretization):
    // bin k of n rows by global rank — ((rn−1)·k) div n, integer-exact
    // in both engines. The global rank comes from
    // WindowOps.globalRowNumber (range repartition + per-partition
    // offsets), NOT `row_number() OVER (ORDER BY …)` — the oracle's
    // single-task window is fine for DuckDB but would serialize Spark
    // on one core (the o7 argument, reused on a second consumer). The
    // (value, orderkey, linenumber) tiebreak makes the rank — and so
    // every bin boundary — deterministic under ties.
    QuerySpec("x17_equal_freq_binning", (s, d) => {
      val base = Tables.lineitem(s, d)
        .select(col("l_extendedprice").as("v"),
          col("l_orderkey"), col("l_linenumber"))
      val n = base.agg(count(lit(1)).as("n"))
      WindowOps.globalRowNumber(base,
          Seq(col("v"), col("l_orderkey"), col("l_linenumber")), "rn")
        .crossJoin(broadcast(n))
        .withColumn("bin", expr("((rn - 1) * 8) div n"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("v")).as("lo"), max(col("v")).as("hi"))
        .orderBy(col("bin"))
    }, oracle = Some(
      // x17's oracle uses the single-task window DuckDB runs happily;
      // the Spark side must NOT (globalRowNumber — the o7 argument). The
      // bin formula is pure BIGINT arithmetic: div in Spark, // here.
      """WITH r AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER
        |      (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem
        |)
        |SELECT ((rn - 1) * 8) // n AS bin, count(*) AS n_rows,
        |  min(v) AS lo, max(v) AS hi
        |FROM r GROUP BY bin ORDER BY bin""".stripMargin)),

    // T22 — classifier evaluation: per-class precision / recall / F1 of
    // the t2 language-ID heuristic against the labeled `lang` column —
    // the eval-harness aggregate every labeling pipeline ships next to
    // its labeler. Three bounded grouped counts off ONE checkpointed
    // prediction pass (actual, predicted, agreement), stitched with
    // full-outer joins on the |classes|-sized key so classes that are
    // only ever predicted (fr, unknown) or only ever actual (zh) both
    // surface with the right zeros. Ratios are exact-integer → double
    // single divisions (identical IEEE op both engines, unrounded —
    // the exactAvg rule); F1's guarded form never divides by zero.
    QuerySpec("t22_langid_eval", (s, d) => {
      val preds = Tables.documents(s, d)
        .select(col("lang").as("actual"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .localCheckpoint(eager = false) // feeds all three class counts
      val na = preds.groupBy(col("actual").as("cls"))
        .agg(count(lit(1)).as("n_actual"))
      val np = preds.groupBy(col("predicted").as("cls"))
        .agg(count(lit(1)).as("n_predicted"))
      val tp = preds.filter(col("actual") === col("predicted"))
        .groupBy(col("actual").as("cls")).agg(count(lit(1)).as("tp"))
      val base = na.join(np, Seq("cls"), "full_outer")
        .join(tp, Seq("cls"), "full_outer")
        .select(col("cls"),
          coalesce(col("n_actual"), lit(0L)).as("n_actual"),
          coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
          coalesce(col("tp"), lit(0L)).as("tp"))
      val p = when(col("n_predicted") > 0,
        col("tp").cast("double") / col("n_predicted"))
      val r = when(col("n_actual") > 0,
        col("tp").cast("double") / col("n_actual"))
      base
        .withColumn("precision", p)
        .withColumn("recall", r)
        .withColumn("f1",
          when(coalesce(p, lit(0.0)) + coalesce(r, lit(0.0)) > 0,
            lit(2.0) * p * r / (p + r)).otherwise(lit(0.0)))
        .orderBy(col("cls"))
    }, oracle = Some(
      // t22 replays t2's prediction SQL then stitches the three class
      // counts exactly like the Spark side; ratios are single divisions
      // of exact integers (identical IEEE result), unrounded
      """WITH preds AS (
        |  SELECT lang AS actual,
        |    CASE WHEN s_en + s_es + s_de + s_fr > 0 THEN
        |      CASE
        |        WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |        WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr THEN 'es'
        |        WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |        WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
        |        ELSE 'unknown' END
        |    ELSE 'unknown' END AS predicted
        |  FROM (SELECT lang,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('el','la','de','y','que','en','un'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('der','die','das','und','ist','ein','zu'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('le','la','de','et','est','un','dans'))) AS BIGINT) AS s_fr
        |  FROM documents)
        |), na AS (SELECT actual AS cls, count(*) AS n_actual FROM preds GROUP BY 1),
        |np AS (SELECT predicted AS cls, count(*) AS n_predicted FROM preds GROUP BY 1),
        |tp AS (SELECT actual AS cls, count(*) AS tp FROM preds
        |       WHERE actual = predicted GROUP BY 1),
        |base AS (
        |  SELECT cls, coalesce(n_actual, 0) AS n_actual,
        |    coalesce(n_predicted, 0) AS n_predicted, coalesce(tp, 0) AS tp
        |  FROM na FULL OUTER JOIN np USING (cls) FULL OUTER JOIN tp USING (cls)
        |), m AS (
        |  SELECT cls, n_actual, n_predicted, tp,
        |    CASE WHEN n_predicted > 0
        |      THEN CAST(tp AS DOUBLE) / n_predicted END AS precision,
        |    CASE WHEN n_actual > 0
        |      THEN CAST(tp AS DOUBLE) / n_actual END AS recall
        |  FROM base
        |)
        |SELECT cls, n_actual, n_predicted, tp, precision, recall,
        |  CASE WHEN coalesce(precision, 0.0) + coalesce(recall, 0.0) > 0
        |    THEN 2.0 * precision * recall / (precision + recall)
        |    ELSE 0.0 END AS f1
        |FROM m ORDER BY cls""".stripMargin)),

    // V13 — rolling z-score anomaly flags (leakage-free): each event
    // scored against the mean/std of its OWN user's previous 8 events
    // (rows frame ending at -1 — the current value never contaminates
    // its baseline; the metric-monitoring primitive). Cross-engine
    // determinism: windowed DOUBLE sums are engine-specific (Spark
    // accumulates in frame order, DuckDB merges a segment tree —
    // different float association), so the value is quantized ONCE to
    // centi-units (round(v·100), exact integers — the v11 trick),
    // windowed sums stay integer-exact in any association, and
    // mean/variance/z derive through one identical double expression
    // tree. Sample variance (n−1); full-window-only (n = 8) — partial
    // baselines yield NULL z and never flag. One user_id exchange.
    QuerySpec("v13_rolling_zscore", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(-8, -1)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("long").as("vu"))
        .withColumn("n", count(col("vu")).over(w))
        .withColumn("s1", sum(col("vu")).over(w))
        .withColumn("s2", sum(col("vu") * col("vu")).over(w))
        .withColumn("z", when(col("n") === 8, {
          val mean = col("s1").cast("double") / col("n")
          val varr = (col("n") * col("s2") - col("s1") * col("s1"))
            .cast("double") / (col("n") * (col("n") - 1)).cast("double")
          when(varr > 0,
            round((col("vu").cast("double") - mean) / sqrt(varr), 6))
        }))
        .withColumn("is_anomaly",
          coalesce(abs(col("z")) > 3.0, lit(false)))
        .select(col("event_id"), col("user_id"), col("z"), col("is_anomaly"))
        .orderBy(col("event_id"))
    }, oracle = Some(
      // v13 replays the same rows-frame on centi-unit integers; windowed
      // integer sums are association-free, so DuckDB's segment-tree
      // window and Spark's running accumulation agree bit-for-bit, and
      // the z expression is one shared double tree
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us,
        |    CAST(round(value * 100.0) AS BIGINT) AS vu
        |  FROM events
        |), s AS (
        |  SELECT event_id, user_id, vu,
        |    count(vu) OVER w AS n, sum(vu) OVER w AS s1,
        |    sum(vu * vu) OVER w AS s2
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
        |), z AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN n = 8 AND CAST(n * s2 - s1 * s1 AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE) > 0
        |      THEN round((CAST(vu AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
        |        / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
        |          / CAST(n * (n - 1) AS DOUBLE)), 6) END AS z
        |  FROM s
        |)
        |SELECT event_id, user_id, z,
        |  coalesce(abs(z) > 3.0, false) AS is_anomaly
        |FROM z ORDER BY event_id""".stripMargin)),

    // W29 — join-key skew profile: the pre-flight diagnostic a 100 TB
    // join plan starts from (decides broadcast vs salt vs AQE skew
    // hints). Per candidate key: distinct keys, max/avg frequency,
    // exact p50/p99 of the frequency distribution, and the heaviest
    // key's row share. The frequency table is |distinct keys|-sized
    // (one hash agg off the fact scan); the profile is a bounded
    // second aggregate over it — builtin exact percentile is safe
    // there because frequencies have bounded cardinality (the w6
    // decision rule). avg_freq and top1_share stay unrounded
    // (exactAvg rule: single division of exact integers).
    QuerySpec("w29_key_skew_profile", (s, d) => {
      val li = Tables.lineitem(s, d)
      def profile(keyCol: String): DataFrame = {
        val freq = li.groupBy(col(keyCol)).agg(count(lit(1)).as("f"))
        freq.agg(
          count(lit(1)).as("n_keys"),
          sum(col("f")).as("n_rows"),
          max(col("f")).as("max_freq"),
          expr("CAST(percentile(f, 0.5) AS DOUBLE)").as("p50_freq"),
          expr("CAST(percentile(f, 0.99) AS DOUBLE)").as("p99_freq"))
          .select(lit(keyCol).as("key"), col("n_keys"), col("n_rows"),
            col("max_freq"),
            (col("max_freq").cast("double") / (col("n_rows")
              .cast("double") / col("n_keys"))).as("skew_ratio"),
            col("p50_freq"), col("p99_freq"))
      }
      profile("l_partkey").unionByName(profile("l_suppkey"))
        .unionByName(profile("l_orderkey"))
        .orderBy(col("key"))
    }, oracle = Some(
      """WITH fp AS (SELECT l_partkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
        |fs AS (SELECT l_suppkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
        |fo AS (SELECT l_orderkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
        |p AS (
        |  SELECT 'l_partkey' AS key, count(*) AS n_keys, sum(f) AS n_rows,
        |    max(f) AS max_freq,
        |    CAST(quantile_cont(f, 0.5) AS DOUBLE) AS p50_freq,
        |    CAST(quantile_cont(f, 0.99) AS DOUBLE) AS p99_freq
        |  FROM fp
        |  UNION ALL
        |  SELECT 'l_suppkey', count(*), sum(f), max(f),
        |    CAST(quantile_cont(f, 0.5) AS DOUBLE),
        |    CAST(quantile_cont(f, 0.99) AS DOUBLE) FROM fs
        |  UNION ALL
        |  SELECT 'l_orderkey', count(*), sum(f), max(f),
        |    CAST(quantile_cont(f, 0.5) AS DOUBLE),
        |    CAST(quantile_cont(f, 0.99) AS DOUBLE) FROM fo
        |)
        |SELECT key, n_keys, CAST(n_rows AS BIGINT) AS n_rows, max_freq,
        |  CAST(max_freq AS DOUBLE)
        |    / (CAST(n_rows AS DOUBLE) / n_keys) AS skew_ratio,
        |  p50_freq, p99_freq
        |FROM p ORDER BY key""".stripMargin)),

    // V18 — INTER-ARRIVAL time profile per event type: the gap
    // distribution (n, mean, exact p50/p95) between a user's
    // consecutive events, keyed by the arriving event's type — the
    // burstiness/cadence diagnostic behind session-gap tuning (v2's
    // 1800 s threshold comes FROM this table) and anomaly baselines.
    // Gaps are exact integer seconds off ONE user_id window at
    // epoch-µs (the v9 convention); the percentiles ride
    // Summaries.sortedPercentiles (gap cardinality is unbounded — the
    // w6 decision rule's sort path), the mean is the exactAvg rule,
    // and the two per-type aggregates stitch on the bounded
    // event-type key.
    QuerySpec("v18_interarrival", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gaps = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("gap_s", expr("(us - prev) div 1000000"))
        .filter(col("gap_s").isNotNull)
        .drop("prev")
        .localCheckpoint(eager = false) // stats + percentiles share it
      val stats = gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          Summaries.exactAvg(col("gap_s").cast("double")).as("mean_gap_s"))
      val pcts = Summaries.sortedPercentiles(gaps, Seq("event_type"),
        col("gap_s").cast("double"),
        Seq("p50_gap_s" -> 0.5, "p95_gap_s" -> 0.95))
      stats.join(pcts, Seq("event_type"))
        .orderBy(col("event_type"))
    }, oracle = Some(
      // w29: quantile_cont is DuckDB's (n−1)p linear interpolation —
      // the same rank formula as Spark's exact percentile (the w6
      // median convention, at two more quantiles)
      // v18 replays the µs lag window, the integer-second div, the
      // exactAvg mean and quantile_cont (≡ the Hive interpolation
      // sortedPercentiles reproduces bit-for-bit — the w29 pairing)
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id)) // 1000000 AS gap_s
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_gaps,
        |  CAST(sum(CAST(CAST(gap_s AS DOUBLE) AS DECIMAL(38,6)))
        |    AS DOUBLE) / count(*) AS mean_gap_s,
        |  CAST(quantile_cont(CAST(gap_s AS DOUBLE), 0.5) AS DOUBLE)
        |    AS p50_gap_s,
        |  CAST(quantile_cont(CAST(gap_s AS DOUBLE), 0.95) AS DOUBLE)
        |    AS p95_gap_s
        |FROM g WHERE gap_s IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // X18 — feature STANDARDIZATION (z-score scaling): the
    // fit-then-transform feature-prep pass every model input runs —
    // ONE stats aggregate (decimal-exact moments → mean and population
    // σ per column), the 1-row stats frame broadcast back, and a pure
    // map pass emits (x − μ)/σ. Sample variance vs population is a
    // knob; population (σ² = E[x²] − μ²) is sklearn's
    // StandardScaler default, replayed here. The probe slice (every
    // 200th row) keeps the oracle output bounded while the transform
    // itself is corpus-wide by construction. z rounds to 6 after the
    // one division (the shared float convention).
    QuerySpec("x18_standardize", (s, d) => {
      val li = Tables.lineitem(s, d)
      val stats = li.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("l_extendedprice").cast("decimal(38,10)")).cast("double")
          .as("sx"),
        sum((col("l_extendedprice") * col("l_extendedprice"))
          .cast("decimal(38,10)")).cast("double").as("sxx"))
      li.filter(col("l_orderkey") % 200 === 0 && col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .crossJoin(broadcast(stats))
        .select(col("l_orderkey"), col("l_extendedprice"),
          round((col("l_extendedprice") - col("sx") / col("n"))
            / sqrt(col("sxx") / col("n")
              - (col("sx") / col("n")) * (col("sx") / col("n"))), 6)
            .as("z"))
        .orderBy(col("l_orderkey"))
    }, oracle = Some(
      // x18 replays the moment CTE and the identical (x−μ)/σ tree
      """WITH m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE)
        |      AS sx,
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice
        |      AS DECIMAL(38,10))) AS DOUBLE) AS sxx
        |  FROM lineitem
        |)
        |SELECT l_orderkey, l_extendedprice,
        |  round((l_extendedprice - sx / n)
        |    / sqrt(sxx / n - (sx / n) * (sx / n)), 6) AS z
        |FROM lineitem CROSS JOIN m
        |WHERE l_orderkey % 200 = 0 AND l_linenumber = 1
        |ORDER BY l_orderkey""".stripMargin)),

    // O13 — integrity REPAIR (o12's apply stage): quarantine FK
    // orphans instead of just counting them — the clean side continues
    // to training, the orphan side lands in a quarantine audit with
    // a reason tag (the SourceError quarantine discipline applied
    // relationally). LEFT ANTI for the quarantine, LEFT SEMI for the
    // clean pass-through — two joins against the same broadcast key
    // side, no row ever silently dropped: clean + quarantined = input
    // (asserted by the audit row the query emits).
    QuerySpec("o13_integrity_repair", (s, d) => {
      val ordAug = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .unionByName(Tables.orders(s, d)
          .filter(col("o_orderkey") % 50 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            (col("o_custkey") + 10000000L).as("o_custkey")))
        .localCheckpoint(eager = false) // semi + anti + total share it
      val custKeys = Tables.customer(s, d).select(col("c_custkey"))
      val clean = ordAug.join(custKeys,
        col("o_custkey") === col("c_custkey"), "left_semi")
      val quarantined = ordAug.join(custKeys,
        col("o_custkey") === col("c_custkey"), "left_anti")
      val total = ordAug.agg(count(lit(1)).as("n_input"))
      clean.agg(count(lit(1)).as("n_clean"))
        .crossJoin(quarantined.agg(count(lit(1)).as("n_quarantined")))
        .crossJoin(total)
        .select(col("n_input"), col("n_clean"), col("n_quarantined"),
          (col("n_clean") + col("n_quarantined") === col("n_input"))
            .as("partitioned"))
    }, oracle = Some(
      // o13 replays the augmentation and counts both sides of the
      // semi/anti partition
      """WITH ord_aug AS (
        |  SELECT o_orderkey, o_custkey FROM orders
        |  UNION ALL SELECT o_orderkey + 10000000, o_custkey + 10000000
        |  FROM orders WHERE o_orderkey % 50 = 0
        |)
        |SELECT count(*) AS n_input,
        |  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM customer c
        |    WHERE c.c_custkey = o.o_custkey) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clean,
        |  CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c
        |    WHERE c.c_custkey = o.o_custkey) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_quarantined,
        |  true AS partitioned
        |FROM ord_aug o""".stripMargin)),

    // W36 — WEIGHTED median (SURVEY §7.4's named extension): per
    // returnflag, the price point at which half the shipped QUANTITY
    // sits below — the distribution-shape analytic the unweighted
    // exact forms can't express (a 50-unit line item moves this median
    // 50× more than a 1-unit one). Summaries.weightedMedian: one group
    // exchange, one in-group sort, integer cumulative-weight threshold
    // (2·cumw ≥ W — no float can ulp-flip it), min-over-qualifying.
    QuerySpec("w36_weighted_median", (s, d) => {
      Summaries.weightedMedian(Tables.lineitem(s, d),
          Seq("l_returnflag"), col("l_extendedprice"), col("l_quantity"),
          Seq(col("l_orderkey"), col("l_linenumber")))
        .orderBy(col("l_returnflag"))
    }, oracle = Some(
      // w36 replays the ordered cumulative-weight frame and the integer
      // threshold
      """WITH f AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    CAST(floor(l_quantity) AS BIGINT) AS w, l_orderkey, l_linenumber
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL
        |    AND CAST(floor(l_quantity) AS BIGINT) > 0
        |), c AS (
        |  SELECT l_returnflag, v, w,
        |    sum(w) OVER (PARTITION BY l_returnflag
        |      ORDER BY v, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM f
        |)
        |SELECT l_returnflag, CAST(max(tot) AS BIGINT) AS total_weight,
        |  min(CASE WHEN cumw * 2 >= tot THEN v END) AS weighted_median
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // W35 — GINI coefficient of customer spend per nation (the
    // inequality/concentration analytic w33's HHI doesn't give: HHI
    // weighs the top, Gini the whole Lorenz curve). Spend quantizes
    // to exact integer cents (round → already-integral double → cast,
    // identical truncation both engines), the per-nation rank rides
    // ONE nationkey window (never global), and the Gini closed form
    // (2·Σ rank·x − (n+1)·Σx) / (n·Σx) combines three decimal-exact
    // per-nation scalars in one double tree rounded once. Order-less
    // customers enter at 0 cents (true inequality, not
    // inequality-among-buyers); all-zero nations yield NULL via the
    // guard. rank·cents multiplies in BIGINT then casts — bounded by
    // n·max_spend; at a scale where that nears 2⁶³, multiply in
    // decimal instead (documented trade).
    QuerySpec("w35_gini_spend", (s, d) => {
      val spend = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(Tables.orders(s, d)
          .select(col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_nationkey"))
        .agg(coalesce(sum(col("cents")), lit(0L)).as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_nationkey"))
        .orderBy(col("cents"), col("c_custkey"))
      spend.withColumn("rnk", row_number().over(w).cast("long"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("cents").cast("decimal(38,0)")).cast("double").as("sx"),
          sum((col("rnk") * col("cents")).cast("decimal(38,0)"))
            .cast("double").as("sxi"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n").cast("long").as("n_customers"),
          round(when(col("sx") > 0.0,
            (lit(2.0) * col("sxi") - (col("n") + lit(1.0)) * col("sx"))
              / (col("n") * col("sx"))), 6).as("gini"))
        .orderBy(col("n_name"))
    }, oracle = Some(
      // w35 replays the integer-cent quantization, the identical
      // per-nation rank window and the same Gini double tree
      """WITH spend AS (
        |  SELECT c.c_custkey, c.c_nationkey,
        |    CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)),
        |      0) AS BIGINT) AS cents
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey, c.c_nationkey
        |), ranked AS (
        |  SELECT c_nationkey, cents,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY cents, c_custkey) AS rnk
        |  FROM spend
        |), agg AS (
        |  SELECT c_nationkey, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(rnk * cents AS DECIMAL(38,0))) AS DOUBLE) AS sxi
        |  FROM ranked GROUP BY c_nationkey
        |)
        |SELECT n_name, CAST(n AS BIGINT) AS n_customers,
        |  round(CASE WHEN sx > 0.0
        |    THEN (2.0 * sxi - (n + 1.0) * sx) / (n * sx) END, 6) AS gini
        |FROM agg JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin)),

    // W33 — corpus DIVERSITY profile per source: language entropy
    // (Shannon, nats), Herfindahl concentration (HHI = Σ p²), language
    // count and top-language share — the dataset-balance report every
    // multilingual corpus audit ships (low entropy / high HHI flags a
    // source collapsing to one language). ONE shuffle by source serves
    // both phases: the (source, lang) count feeds a per-source window
    // total (same partition key — no second exchange) and the final
    // per-source aggregate. Determinism: p = cnt/n is one exact-integer
    // double division; entropy follows the t23 convention (round-6 the
    // single ln, cnt·lp products in exact decimal, final division by n
    // unrounded); HHI's numerator Σ cnt² accumulates in exact DECIMAL
    // and the n² denominator squares in double, so NEITHER side wraps
    // past 2³¹-row sources (the 100 TB consideration).
    QuerySpec("w33_diversity_profile", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
      Tables.documents(s, d)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cnt"))
        .withColumn("n", sum(col("cnt")).over(w))
        .withColumn("lp",
          round(log(col("cnt") * lit(1.0) / col("n")), 6))
        .groupBy(col("source"))
        .agg(
          max(col("n")).as("n_docs"),
          count(lit(1)).as("n_langs"),
          (-sum(col("lp").cast("decimal(38,6)") * col("cnt"))
            .cast("double") / max(col("n"))).as("lang_entropy"),
          // numerator in decimal (a cnt ≥ ~3e9 would silently wrap a
          // long multiply in Spark and hard-error in DuckDB); the
          // denominator squares in double — both honest past 2³¹ rows
          (sum(col("cnt").cast("decimal(38,0)") * col("cnt"))
            .cast("double")
            / (max(col("n")).cast("double") * max(col("n")).cast("double")))
            .as("hhi"),
          (max(col("cnt")) * lit(1.0) / max(col("n"))).as("top_share"))
        .orderBy(col("source"))
    }, oracle = Some(
      // w33 replays the diversity profile: same (source,lang) counts,
      // same per-source window total (one partition), the t23 round-6-ln
      // entropy system and the exact-integer/double-denominator ratios
      """WITH c AS (
        |  SELECT source, lang, count(*) AS cnt
        |  FROM documents GROUP BY source, lang
        |), t AS (
        |  SELECT source, lang, cnt,
        |    sum(cnt) OVER (PARTITION BY source) AS n FROM c
        |), l AS (
        |  SELECT source, cnt, n, round(ln(cnt * 1.0 / n), 6) AS lp FROM t
        |)
        |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        |  count(*) AS n_langs,
        |  -CAST(sum(CAST(lp AS DECIMAL(38,6)) * cnt) AS DOUBLE) / max(n)
        |    AS lang_entropy,
        |  CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt) AS DOUBLE)
        |    / (CAST(max(n) AS DOUBLE) * CAST(max(n) AS DOUBLE)) AS hhi,
        |  max(cnt) * 1.0 / max(n) AS top_share
        |FROM l GROUP BY source ORDER BY source""".stripMargin)),

    // S19 — STRATIFIED k-fold assignment: deterministic 5-fold
    // cross-validation splits that preserve per-language proportions —
    // fold = (rank within lang by seeded hash) mod k, so each stratum
    // splits exactly evenly (fold sizes differ by ≤1 per lang) where
    // plain hash-mod folds (s8's machinery) only balance in
    // expectation. The rank rides ONE window per lang partition (the
    // stratum shuffle is the only exchange); the seeded-md5 order is
    // the s13 reproducible-shuffle convention, so a re-run or resumed
    // export yields byte-identical folds. Output: per (fold, lang)
    // cell counts + per-cell char mass — the audit a CV harness
    // actually reads.
    QuerySpec("s19_stratified_kfold", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(concat(lit("fold42:"), col("doc_id").cast("string")))
            .as("h"))
        .withColumn("fold", ((row_number().over(w) - 1) % 5).cast("long"))
        .groupBy(col("fold"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy(col("fold"), col("lang"))
    }, oracle = Some(
      // s19 replays the stratified fold assignment via the s13 seeded-md5
      // order and the identical per-lang rank window
      """WITH h AS (
        |  SELECT doc_id, lang, n_chars,
        |    md5('fold42:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |), f AS (
        |  SELECT lang, n_chars,
        |    (row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) - 1) % 5
        |      AS fold
        |  FROM h
        |)
        |SELECT fold, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM f GROUP BY fold, lang ORDER BY fold, lang""".stripMargin)),

    // V14 — cumulative unique users (the reach curve): per-day NEW
    // users (each user counted on their first event day) plus the
    // running total — the audience-growth analytic that a naive
    // count(DISTINCT) over an expanding window would recompute
    // quadratically. Shape: one user-grain min aggregate (the only
    // full-data pass), a day-grain count, then the cumulative sum over
    // the BOUNDED day table (≤ stream span in days — the v7
    // bounded-single-partition exception, on a ~30-row frame). Days
    // are epoch-day longs (integer div of epoch-µs — the v9
    // convention).
    QuerySpec("v14_cumulative_uniques", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(expr("unix_micros(ts) div 86400000000")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .orderBy(col("day"))
    }, oracle = Some(
      """WITH f AS (
        |  SELECT user_id, min(epoch_us(ts) // 86400000000) AS day
        |  FROM events GROUP BY user_id
        |), dd AS (
        |  SELECT day, count(*) AS new_users FROM f GROUP BY day
        |)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM dd ORDER BY day""".stripMargin)),

    // T24 — Zipf rank-frequency fit: OLS of ln(freq) on ln(rank) over
    // the corpus vocabulary — the corpus-statistics diagnostic (natural
    // text slopes ≈ −1; synthetic or duplication-heavy corpora bend
    // away). Composes the vocabulary aggregate with Summaries.olsFit
    // (one more consumer of the shared moment machinery); both
    // regressand and regressor are round-6 ln values (t8 convention),
    // the rank is a row_number over the BOUNDED vocabulary frame (the
    // t8 vocab-size contract), and the fit is exact-decimal moments +
    // one shared double expression tree.
    QuerySpec("t24_zipf_fit", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("freq").desc, col("word"))
      val ranked = Tables.spread(Tables.documents(s, d))
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .withColumn("rank", row_number().over(w).cast("long"))
      Summaries.olsFit(ranked, Seq(lit("vocab").as("corpus")),
          round(log(col("rank").cast("double")), 6),
          round(log(col("freq").cast("double")), 6))
        .orderBy(col("corpus"))
    }, oracle = Some(
      // t24 replays the ranked vocabulary and w27's exact-decimal moment
      // system over round-6 ln values
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |), v AS (
        |  SELECT word, count(*) AS freq FROM tok GROUP BY word
        |), r AS (
        |  SELECT freq, row_number() OVER (ORDER BY freq DESC, word) AS rank
        |  FROM v
        |), xy AS (
        |  SELECT round(ln(CAST(rank AS DOUBLE)), 6) AS x,
        |    round(ln(CAST(freq AS DOUBLE)), 6) AS y
        |  FROM r
        |), m AS (
        |  SELECT 'vocab' AS corpus, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
        |  FROM xy
        |)
        |SELECT corpus, CAST(n AS BIGINT) AS n_obs,
        |  round(CASE WHEN n * sxx - sx * sx > 0.0
        |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
        |  round(CASE WHEN n * sxx - sx * sx > 0.0
        |    THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
        |    END, 6) AS intercept,
        |  round(CASE WHEN n * sxx - sx * sx > 0.0 AND n * syy - sy * sy > 0.0
        |    THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
        |FROM m ORDER BY corpus""".stripMargin)),

    // T26 — add-one-smoothed BIGRAM LM cross-entropy per doc: the
    // context-aware step up from t23's unigram perplexity proxy (a doc
    // of common words in impossible orders scores high here, identical
    // there). p(w2|w1) = (c(w1w2)+1)/(c(w1)+V) over the corpus's own
    // counts — Laplace smoothing keeps unseen continuations finite;
    // c(w1) is the corpus unigram count (documented variant of the
    // prefix-count denominator). t23's rounded system verbatim: one
    // round-6 ln per distinct (bigram) type, c·lp in exact decimal,
    // final per-bigram division unrounded. The corpus bigram-count
    // join is a plain equi-join (no broadcast hint — the bigram vocab
    // is the n-gram case t8's escape hatch documents).
    QuerySpec("t26_bigram_lm", (s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .localCheckpoint(eager = false) // bigram AND unigram passes
      val bg = docs.select(col("doc_id"),
          explode(TextAnalysis.bigrams(col("toks"))).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // corpus counts + scoring
      val cbg = bg.groupBy(col("bg")).agg(sum(col("c")).as("cbg"))
      val uni = docs.select(explode(col("toks")).as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).as("cw1"))
      val v = uni.agg(count(lit(1)).as("v"))
      bg.withColumn("w1", split(col("bg"), " ").getItem(0))
        .join(cbg, "bg")
        .join(uni, "w1")
        .crossJoin(broadcast(v))
        .select(col("doc_id"), col("c"),
          round(log((col("cbg") + 1) * lit(1.0)
            / (col("cw1") + col("v"))), 6).as("lp"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("nb"),
          sum(col("lp").cast("decimal(38,6)") * col("c")).as("nll"))
        .select(col("doc_id"), col("nb"),
          (-col("nll").cast("double") / col("nb")).as("bigram_ce"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // t26 replays the smoothed bigram LM: positional bigram assembly
      // via range(1, len), the identical (cbg+1)/(cw1+V) round-6 ln,
      // c·lp in exact decimal, per-bigram division unrounded
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), b AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)
        |), bgc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg
        |), cbg AS (
        |  SELECT bg, sum(c) AS cbg FROM bgc GROUP BY bg
        |), uni AS (
        |  SELECT word, count(*) AS cw1 FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |  ) GROUP BY word
        |), v AS (SELECT count(*) AS v FROM uni),
        |sc AS (
        |  SELECT bgc.doc_id, bgc.c,
        |    round(ln((cbg.cbg + 1) * 1.0 / (uni.cw1 + v.v)), 6) AS lp
        |  FROM bgc JOIN cbg USING (bg)
        |  JOIN uni ON string_split(bgc.bg, ' ')[1] = uni.word
        |  CROSS JOIN v
        |)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb,
        |  -CAST(sum(CAST(lp AS DECIMAL(38,6)) * c) AS DOUBLE) / sum(c)
        |    AS bigram_ce
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // G10 — degree ASSORTATIVITY of the trading graph: the Pearson
    // correlation of endpoint degrees across edges (do hubs attach to
    // hubs, or to leaves? — negative on bipartite hub-and-spoke
    // commerce graphs, positive on social graphs). Composes g9's
    // degree frame with w8's exact-moment pearson over the edge list:
    // the |nodes|-row degree frame is a measured cut, so Catalyst
    // broadcasts it onto the edges twice while it fits the broadcast
    // threshold — edges never move, where two sort-merge joins would
    // each shuffle the full edge list (plans/r14/g10_assortativity_*.txt)
    // — and shuffle-joins past it. Then one five-moment hash aggregate.
    // Integer degrees make every decimal moment exact; the closed form
    // is w8's rounded double tree.
    QuerySpec("g10_assortativity", (s, d) => {
      val edges = tradingEdges(s, d)
      val deg = measuredCut( // joins both endpoints
        edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      edges
        .join(deg.select(col("src"), col("deg").as("deg_src")), "src")
        .join(deg.select(col("src").as("dst"), col("deg").as("deg_dst")),
          "dst")
        .withColumn("graph", lit("trading"))
        .transform(df => Summaries.pearson(df, Seq(col("graph")),
          col("deg_src").cast("double"), col("deg_dst").cast("double")))
        .orderBy(col("graph"))
    }, oracle = Some(
      // g10 replays the degree frame + double edge join and the w8
      // exact-moment correlation tree
      """WITH ce AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), e AS (
        |  SELECT c AS src, s AS dst FROM ce
        |  UNION ALL SELECT s, c FROM ce
        |), deg AS (
        |  SELECT src, count(*) AS deg FROM e GROUP BY src
        |), xy AS (
        |  SELECT 'trading' AS graph, CAST(a.deg AS DOUBLE) AS x,
        |    CAST(b.deg AS DOUBLE) AS y
        |  FROM e JOIN deg a ON e.src = a.src JOIN deg b ON e.dst = b.src
        |), m AS (
        |  SELECT graph, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
        |  FROM xy GROUP BY graph
        |)
        |SELECT graph,
        |  round((n * sxy - sx * sy)
        |    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |    AS corr_xy
        |FROM m ORDER BY graph""".stripMargin)),

    // G9 — degree distribution + power-law fit on the trading graph:
    // the first diagnostic a graph pipeline runs (is this scale-free
    // or a near-random gas? — decides whether hub-aware partitioning
    // and the d3-class skew caps are load-bearing). Degrees are one
    // grouped count off the symmetrized edge list, the histogram one
    // more bounded count, and the ln-ln OLS (t24's zipf machinery on
    // degrees) rides Summaries.olsFit over the |distinct degrees|-row
    // frame; the 4-column fit broadcasts back onto every histogram
    // row.
    QuerySpec("g9_degree_dist", (s, d) => {
      val hist = tradingEdges(s, d)
        .groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .localCheckpoint(eager = false) // histogram rows + the fit
      val fit = Summaries.olsFit(hist,
          Seq(lit("degree_dist").as("g")),
          round(log(col("degree").cast("double")), 6),
          round(log(col("n_nodes").cast("double")), 6))
        .select(col("slope"), col("r2"))
      hist.crossJoin(broadcast(fit)).orderBy(col("degree"))
    }, oracle = Some(
      // g9 replays the degree histogram and the t24-style ln-ln moment
      // fit, cross-joined back onto every histogram row
      """WITH ce AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), e AS (
        |  SELECT c AS src FROM ce UNION ALL SELECT s FROM ce
        |), deg AS (
        |  SELECT src, count(*) AS degree FROM e GROUP BY src
        |), h AS (
        |  SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
        |), xy AS (
        |  SELECT degree, n_nodes,
        |    round(ln(CAST(degree AS DOUBLE)), 6) AS x,
        |    round(ln(CAST(n_nodes AS DOUBLE)), 6) AS y
        |  FROM h
        |), m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
        |  FROM xy
        |)
        |SELECT h.degree, h.n_nodes,
        |  round(CASE WHEN n * sxx - sx * sx > 0.0
        |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
        |  round(CASE WHEN n * sxx - sx * sx > 0.0 AND n * syy - sy * sy > 0.0
        |    THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
        |FROM h CROSS JOIN m ORDER BY h.degree""".stripMargin)),

    // T23 — unigram cross-entropy quality score (the perplexity-proxy
    // filter): each document scored by −Σ tf·ln(p(term)) / len against
    // the corpus's OWN unigram LM — the cheap stand-in for an LM
    // perplexity filter (high cross-entropy = rare-word soup /
    // boilerplate-free gibberish; low = stopword mush). t13's
    // frequency machinery with a log-probability head: per-term ln
    // rounds to 6 dp once (t8 convention), the per-doc sum rides
    // exact decimals via c·lp products in DECIMAL arithmetic, and the
    // final per-token division stays unrounded (exactAvg rule). The
    // vocabulary frame broadcasts (bounded vocab — same contract and
    // same n-gram escape hatch as t8).
    QuerySpec("t23_unigram_logprob", (s, d) => {
      val tokc = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // vocab agg + scoring join share it
      val vocab = tokc.groupBy(col("word")).agg(sum(col("c")).as("freq"))
      val total = vocab.agg(sum(col("freq")).as("tot"))
      tokc.join(broadcast(vocab), Seq("word"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("c"),
          round(log(col("freq") * lit(1.0) / col("tot")), 6).as("lp"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("nt"),
          sum(col("lp").cast("decimal(38,6)") * col("c")).as("nll"))
        .select(col("doc_id"), col("nt"),
          (-col("nll").cast("double") / col("nt")).as("cross_entropy"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // t23 replays the LM with the shared rounded system: one ln per
      // vocabulary term rounded to 6 dp, c·lp in exact decimal, final
      // per-token division unrounded
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |), tf AS (
        |  SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word
        |), vocab AS (
        |  SELECT word, sum(c) AS freq FROM tf GROUP BY word
        |), tot AS (SELECT sum(freq) AS tot FROM vocab),
        |w AS (
        |  SELECT doc_id, c, round(ln(freq * 1.0 / tot), 6) AS lp
        |  FROM tf JOIN vocab USING (word) CROSS JOIN tot
        |)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS nt,
        |  -CAST(sum(CAST(lp AS DECIMAL(38,6)) * c) AS DOUBLE) / sum(c)
        |    AS cross_entropy
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // G6 — per-edge common-neighbor Jaccard on the support-≥2
    // co-purchase graph (the g5 graph): link strength for related-item
    // suggestion and weak-tie pruning. Graph.edgeJaccard rides the
    // SAME degeneracy-bounded triangle enumeration as g5 (each
    // triangle witnesses its three edges once — an explode, not a new
    // join), so the common-neighbor count never pays an unoriented
    // wedge blowup; the Jaccard is one division of exact integers.
    QuerySpec("g6_edge_jaccard", (s, d) => {
      graft.operators.Graph.edgeJaccard(CoPurchasePairs(s, d))
        .orderBy(col("a"), col("b"))
    }, oracle = Some(
      // g6 reuses g5's oriented-triangle CTE chain; each triangle
      // witnesses its three edges, the count left-joins back to the
      // canonical edge set (no-common edges score 0.0), and the Jaccard
      // is the same single integer division as the Spark side
      """WITH und AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  GROUP BY a, b HAVING count(*) >= 2
        |), deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und
        |  ) GROUP BY node
        |), o AS (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |         THEN u.a ELSE u.b END AS src,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |         THEN u.b ELSE u.a END AS dst,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |         THEN db.deg ELSE da.deg END AS ddeg
        |  FROM und u
        |  JOIN deg da ON u.a = da.node
        |  JOIN deg db ON u.b = db.node
        |), tri AS (
        |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        |  FROM o e1 JOIN o e2 ON e1.src = e2.src
        |    AND (e1.ddeg < e2.ddeg
        |      OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
        |  WHERE EXISTS (
        |    SELECT 1 FROM o e3 WHERE e3.src = e1.dst AND e3.dst = e2.dst)
        |), wit AS (
        |  SELECT least(x, y) AS a, greatest(x, y) AS b, count(*) AS common
        |  FROM (
        |    SELECT v AS x, w AS y FROM tri
        |    UNION ALL SELECT u, w FROM tri
        |    UNION ALL SELECT u, v FROM tri
        |  ) GROUP BY 1, 2
        |)
        |SELECT u.a, u.b, coalesce(wit.common, 0) AS common,
        |  CAST(coalesce(wit.common, 0) AS DOUBLE)
        |    / (da.deg + db.deg - coalesce(wit.common, 0)) AS jaccard
        |FROM und u
        |LEFT JOIN wit ON u.a = wit.a AND u.b = wit.b
        |JOIN deg da ON u.a = da.node
        |JOIN deg db ON u.b = db.node
        |ORDER BY u.a, u.b""".stripMargin)),

    // O8 — CDC upsert/delete merge (MERGE INTO semantics without a
    // table format): apply a keyed change stream to a snapshot — the
    // LATEST change per key wins (seq-ordered window, the W3
    // machinery), tombstones delete, unchanged keys pass through.
    // Scale shape: one key shuffle to compact the changes, then a
    // full-outer join — which CANNOT broadcast in Spark, so both sides
    // shuffle AND sort on the key (sort-merge join). At 100 TB the
    // sort is removed by keeping snapshot and changes bucketBy(key)
    // on disk (the s12 layout): the SMJ then reads both pre-sorted,
    // zero exchanges.
    QuerySpec("o8_cdc_merge", (s, d) => {
      val snap = Tables.customer(s, d)
        .select(col("c_custkey").as("key"), col("c_acctbal").as("value"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("seq").desc)
      val latest = Tables.orders(s, d)
        .select(col("o_custkey").as("key"), col("o_orderkey").as("seq"),
          (col("o_orderstatus") === "F").as("tombstone"),
          col("o_totalprice").as("new_value"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn", "seq")
      snap.join(latest, Seq("key"), "full_outer")
        .filter(!coalesce(col("tombstone"), lit(false)))
        .select(col("key"), coalesce(col("new_value"), col("value"))
          .as("value"))
        .orderBy(col("key"))
    }, oracle = Some(
      """WITH ch AS (
        |  SELECT o_custkey AS key, o_orderkey AS seq,
        |    o_orderstatus = 'F' AS tombstone, o_totalprice AS new_value
        |  FROM orders
        |), latest AS (
        |  SELECT key, tombstone, new_value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC)
        |      AS rn FROM ch)
        |  WHERE rn = 1
        |)
        |SELECT COALESCE(c.c_custkey, l.key) AS key,
        |  COALESCE(l.new_value, c.c_acctbal) AS value
        |FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.key
        |WHERE NOT COALESCE(l.tombstone, false)
        |ORDER BY key""".stripMargin)),

    // O9 — SCD2 dimension history (the interval twin of o8's
    // latest-state merge): per-user event_type runs collapse into
    // versioned [valid_from, valid_to) rows, open-ended current
    // version flagged. Gaps-and-islands on value CHANGES (v8's
    // machinery pointed at attribute transitions instead of time
    // gaps); everything rides one user_id exchange.
    QuerySpec("o9_scd2_history", (s, d) => {
      WindowOps.scd2History(Tables.events(s, d), keyCol = "user_id",
          attrCol = "event_type", tsCol = "ts",
          orderCols = Seq(col("ts"), col("event_id")))
        .orderBy(col("user_id"), col("version"))
    }, oracle = Some(
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS secs
        |  FROM events
        |), m AS (
        |  SELECT *, CASE WHEN lag(1) OVER w IS NULL OR lag(event_type)
        |    OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |), r AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS version
        |  FROM m
        |), runs AS (
        |  SELECT user_id, version, event_type, min(secs) AS valid_from,
        |    count(*) AS n_events
        |  FROM r GROUP BY user_id, version, event_type
        |)
        |SELECT user_id, version, event_type, valid_from,
        |  lead(valid_from) OVER wv AS valid_to, n_events,
        |  lead(valid_from) OVER wv IS NULL AS is_current
        |FROM runs WINDOW wv AS (PARTITION BY user_id ORDER BY version)
        |ORDER BY user_id, version""".stripMargin)),

    // J11 — POINT-IN-TIME dimension join (the feature-store /
    // warehouse correctness join): each purchase event joins the SCD2
    // state version VALID AT its timestamp — the user's last
    // non-purchase activity run — never a later one (the time-travel
    // leakage s18 guards against, solved at the join level). The dim
    // is o9's scd2History at epoch-µs grain over non-purchase events;
    // the PIT lookup rides Joins.asOfJoin (union + ONE ordered
    // per-user window — no range join, no per-key quadratic work),
    // and pre-state purchases re-attach as NULL rows via a left join
    // (the v17 total-over-facts convention). state_age_s is exact
    // integer µs division. The oracle replays the dim CTE chain and
    // uses DuckDB's native ASOF LEFT JOIN — two independent
    // formulations of the same semantics agreeing is the point.
    QuerySpec("j11_pit_join", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      // same-µs tie collapse (the v17 simultaneous-click rule): two
      // runs starting at one valid_from microsecond would make the
      // as-of pick whichever row is physically last — keep only the
      // LATEST version per (user, valid_from), the state that holds
      // after both events
      val wTie = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("valid_from"))
        .orderBy(col("version").desc)
      val dim = WindowOps.scd2History(
          ev.filter(col("event_type") =!= "purchase"),
          keyCol = "user_id", attrCol = "event_type", tsCol = "us",
          orderCols = Seq(col("us"), col("event_id")))
        .select(col("user_id"), col("version"),
          col("event_type").as("state_type"), col("valid_from"))
        .withColumn("__rn", row_number().over(wTie))
        .filter(col("__rn") === 1).drop("__rn")
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val pit = Joins.asOfJoin(purch, dim, "user_id", "us", "valid_from",
        Seq("state_type", "version", "valid_from"))
      purch
        .join(pit.select(col("event_id"), col("state_type"),
          col("version"), col("valid_from")), Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"), col("state_type"),
          col("version"),
          expr("(us - valid_from) div 1000000").as("state_age_s"))
        .orderBy(col("event_id"))
    }, oracle = Some(
      // j11 replays the non-purchase SCD2 dim (o9's CTE chain at µs
      // grain) and does the PIT lookup with DuckDB's native ASOF LEFT
      // JOIN — an independent formulation of the as-of-union semantics
      """WITH np AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_type <> 'purchase'
        |), m AS (
        |  SELECT *, CASE WHEN lag(1) OVER w IS NULL OR lag(event_type)
        |    OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM np WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), r AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS version
        |  FROM m
        |), dim0 AS (
        |  SELECT user_id, version, event_type AS state_type,
        |    min(us) AS valid_from
        |  FROM r GROUP BY user_id, version, event_type
        |), dim AS (
        |  SELECT * FROM dim0
        |  QUALIFY row_number() OVER (PARTITION BY user_id, valid_from
        |    ORDER BY version DESC) = 1
        |), purch AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.event_id, p.user_id, d.state_type, d.version,
        |  (p.us - d.valid_from) // 1000000 AS state_age_s
        |FROM purch p ASOF LEFT JOIN dim d
        |  ON p.user_id = d.user_id AND p.us >= d.valid_from
        |ORDER BY p.event_id""".stripMargin)),

    // O10 — corpus snapshot diff: classify every doc id across two
    // corpus versions as added / removed / changed / unchanged by
    // comparing md5 content fingerprints through one full-outer key
    // join (Joins.snapshotDiff) — the reconciliation step before
    // incremental reprocessing (reprocess added+changed, retire
    // removed). v2 is a deterministic evolution of the corpus both
    // engines replay: drop doc_id%23==5, append ' v2' to doc_id%17==3,
    // add the +1,000,000 clones. Fingerprints shuffle, payloads never
    // do; every verdict class is populated at sf0.01 (20 added /
    // 29 changed / 22 removed / 449 unchanged), so each branch of the
    // classifier discriminates.
    QuerySpec("o10_snapshot_diff", (s, d) => {
      // v1 feeds the diff's old side AND both v2 branches — one
      // materialization, not three document scans (t8/e3 convention)
      val v1 = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .localCheckpoint(eager = false)
      val v2 = v1.filter(pmod(col("doc_id"), lit(23)) =!= 5)
        .withColumn("text", when(pmod(col("doc_id"), lit(17)) === 3,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(v1.filter(pmod(col("doc_id"), lit(25)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.Joins.snapshotDiff(v1, v2, "doc_id",
          df => md5(df("text").cast("binary")))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents
        |), v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 3 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 23 <> 5
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 0
        |), a AS (
        |  SELECT doc_id, md5(text) AS fp_old FROM v1
        |), b AS (
        |  SELECT doc_id, md5(text) AS fp_new FROM v2
        |)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN fp_old <> fp_new THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  fp_old, fp_new
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // G1 — damped PageRank (5 supersteps) on the customer↔supplier
    // bipartite graph (distinct trading pairs from orders⋈lineitem,
    // symmetrized) — the iterative-graph-compute class (influence /
    // centrality scoring) the Pregel-as-relational pattern covers:
    // per superstep one equi-join of ranks onto edges + one grouped
    // sum of contributions, edge frame checkpointed once, nothing on
    // the driver. Determinism: contributions round to 12 dp, sum as
    // exact DECIMAL(38,12), ranks re-round to 9 dp — both engines
    // iterate the identical rounded system (the repo's decimal-sum
    // convention), so five supersteps stay hash-identical; teleport
    // constant is written 1.0−0.85 in BOTH engines (the two literals
    // subtract to a different double than literal 0.15).
    QuerySpec("g1_pagerank", (s, d) => {
      // rides the shared TradingRank run: iterates 1-4 are the SAME
      // checkpointed states g3's ε-stop walks — only the final
      // superstep is this query's own work
      TradingRank(s, d).ranks(iterations = 5)
        .orderBy(col("node"))
    }, oracle = Some(pageRankOracleSql(5, weighted = false))),

    // G3 — CONVERGENCE-terminated PageRank on the same graph: iterate
    // until the L1 residual (total rank mass moved — scale-free, the
    // stopping rule a production PageRank runs) drops below ε = 1.0,
    // capped at 10 supersteps. The rounded system makes the residual
    // sequence a pure function of the input, and it is SF-invariant by
    // construction (measured: 1.264, 1.075, 0.914, 0.776… at sf0.001,
    // sf0.01 AND sf0.1), so ε = 1.0 deterministically selects FOUR
    // supersteps (0.914 < 1.0 < 1.075, ~8 % margin each side) at every
    // scale factor. The oracle replays the selected count through the
    // fixed-iteration chained-CTE system — if the ε-stop fired one
    // superstep early or late, every rank hash-mismatches.
    QuerySpec("g3_pagerank_converged", (s, d) => {
      TradingRank(s, d).converged(maxIterations = 10, epsilon = 1.0)._1
        .orderBy(col("node"))
    }, oracle = Some(
      // the ε = 1.0 L1-stop deterministically selects 4 supersteps on this
      // graph at EVERY scale factor (SF-invariant residual sequence — see
      // the g3 query comment); the oracle pins that selected count
      pageRankOracleSql(4, weighted = false))),

    // G8 — HITS hubs & authorities (3 iterations) on the DIRECTED
    // customer→supplier trading graph — the two-sided ranking PageRank
    // can't express (influential buyers vs sought-after suppliers).
    // L1-normalized half-steps keep the whole iteration in the
    // replayable rounded-system family (Graph.hits scaladoc: the
    // ranking is identical to textbook L2 HITS, normalization being a
    // monotone per-side rescale); edges checkpoint once, state
    // broadcasts per half-step, L1 totals ride 1-row broadcast joins.
    QuerySpec("g8_hits", (s, d) => {
      graft.operators.Graph.hits(
          TradingPairs(s, d).select(col("c").as("src"), col("s").as("dst")),
          iterations = 3)
        .orderBy(col("side"), col("node"))
    }, oracle = Some(hitsOracleSql(3))),

    // G4 — PERSONALIZED PageRank: teleport returns only to a seed set
    // (every 100th customer), so rank measures proximity to THOSE
    // customers through the trading graph — the related-item /
    // seeded-influence form. Unreachable nodes rank exactly 0.0 but
    // stay in the output (total ranking). Same rounded-system
    // determinism as g1; the oracle replays the per-node teleport
    // through a LEFT JOIN against the seed set each iteration.
    QuerySpec("g4_personalized_pagerank", (s, d) => {
      val seeds = Tables.customer(s, d)
        .filter(col("c_custkey") % 100 === 0)
        .select(concat(lit("c"), col("c_custkey").cast("string"))
          .as("node"))
      // shares TradingRank's prepared edge frame + node set (teleport
      // state is seed-specific, so no iterate sharing — see Run scaladoc)
      TradingRank(s, d).personalized(seeds, iterations = 5)
        .orderBy(col("node"))
    }, oracle = Some(personalizedPageRankOracleSql(5))),

    // G2 — WEIGHTED PageRank: same graph as g1, but each edge carries
    // the pair's lineitem count as weight, so influence follows trading
    // VOLUME, not mere connectivity (contribution = rank·w/Σw). The
    // weight is an exact integer both engines aggregate identically;
    // the single (rank·w)/Σw double division replays bit-for-bit
    // (DuckDB sum(BIGINT) is HUGEINT — the oracle casts it back).
    QuerySpec("g2_weighted_pagerank", (s, d) => {
      // the pair counts come from the shared TradingPairs artifact —
      // same frame g1/g3/g4 read their keys from
      val ce = TradingPairs(s, d)
      val edges = ce.select(col("c").as("src"), col("s").as("dst"), col("w"))
        .unionByName(ce.select(col("s").as("src"), col("c").as("dst"),
          col("w")))
      graft.operators.Graph.pageRank(edges, iterations = 5,
          weightCol = Some("w"))
        .orderBy(col("node"))
    }, oracle = Some(pageRankOracleSql(5, weighted = true))),

    // G5 — exact triangle counting on the part co-purchase graph (parts
    // appearing in the same order are linked): community structure /
    // clustering-coefficient machinery over a graph whose raw degree
    // distribution is skewed — exactly the shape where the naive wedge
    // join melts down. Graph.triangleCount orients every edge from its
    // (degree, id)-smaller endpoint, capping per-key wedge fanout at the
    // O(√m) degeneracy bound, then closes wedges with one semi-join; all
    // counts are exact integers, so the oracle replays the identical
    // oriented system with no float convention needed.
    //
    // SUPPORT THRESHOLD (≥ 2 co-purchases): the market-basket noise
    // prune every co-occurrence graph needs before structure mining —
    // a single shared order is coincidence, and keeping sup-1 edges
    // makes the synthetic graph a ~1.2M-edge near-random gas (avg
    // degree ~120 at sf0.1) whose triangles are noise artifacts. The
    // prune is one HAVING on the already-grouped pair aggregate (no
    // extra pass) and cuts the edge set ~300× at sf0.1 — the
    // difference between mining structure and brute-forcing noise.
    QuerySpec("g5_triangle_count", (s, d) => {
      graft.operators.Graph.triangleCount(CoPurchasePairs(s, d))
        .orderBy(col("node"))
    }, oracle = Some(
      // g5 replays the oriented-wedge system: same (deg, id) orientation,
      // same wedge ordering, EXISTS for the closing semi-join — exact
      // integer counts end to end
      """WITH und AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  GROUP BY a, b HAVING count(*) >= 2
        |), deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und
        |  ) GROUP BY node
        |), o AS (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |         THEN u.a ELSE u.b END AS src,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |         THEN u.b ELSE u.a END AS dst,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |         THEN db.deg ELSE da.deg END AS ddeg
        |  FROM und u
        |  JOIN deg da ON u.a = da.node
        |  JOIN deg db ON u.b = db.node
        |), tri AS (
        |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        |  FROM o e1 JOIN o e2 ON e1.src = e2.src
        |    AND (e1.ddeg < e2.ddeg
        |      OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
        |  WHERE EXISTS (
        |    SELECT 1 FROM o e3 WHERE e3.src = e1.dst AND e3.dst = e2.dst)
        |)
        |SELECT node, count(*) AS triangles FROM (
        |  SELECT u AS node FROM tri
        |  UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT w FROM tri
        |) GROUP BY node ORDER BY node""".stripMargin)),

    // G11 — CONNECTED COMPONENTS as a first-class graph query
    // (r5 verdict item 5): per-component part counts over the SHARED
    // CoPurchasePairs artifact (the g5/g6 extraction — support-≥2
    // co-purchase pairs fragment genuinely: 8 components at sf0.01,
    // ~2300 at sf0.1). Graph.connectedComponents delegates to the
    // nearDupClusters engine d9 already proved against the recursive-
    // CTE oracle — this query re-proves it on a DIFFERENT graph with
    // the same transitive-closure replay. min-id component labels make
    // the rollup deterministic.
    QuerySpec("g11_connected_components", (s, d) => {
      graft.operators.Graph.connectedComponents(CoPurchasePairs(s, d))
        .groupBy(col("component_id"))
        .agg(count(lit(1)).as("n_parts"), max(col("node")).as("max_part"))
        .orderBy(col("n_parts").desc, col("component_id"))
    }, oracle = Some(
      // g11 replays min-label components via the d9 transitive-closure
      // recursive CTE — a second formulation of the same closure on the
      // co-purchase graph
      """WITH RECURSIVE cp AS (
        |  SELECT x.l_partkey AS src, y.l_partkey AS dst
        |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
        |  WHERE x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), nodes AS (
        |  SELECT src AS node FROM cp UNION SELECT dst FROM cp
        |), edges AS (
        |  SELECT src AS s, dst AS t FROM cp UNION ALL SELECT dst, src FROM cp
        |), reach(id, r) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.t, r.r FROM reach r JOIN edges e ON e.s = r.id
        |), lbl AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id)
        |SELECT component_id, count(*) AS n_parts, max(id) AS max_part
        |FROM lbl GROUP BY component_id
        |ORDER BY n_parts DESC, component_id""".stripMargin)),

    // G12 — K-HOP NEIGHBORHOOD AGGREGATION over the shared TradingPairs
    // artifact: for each seed customer (c_custkey % 100 == 0 — the g4
    // seed set), the 1-hop supplier count + traded-lineitem mass and
    // the 2-hop customer reach (customers sharing a supplier with the
    // seed, seed excluded). The relational k-hop shape: k BOUNDED
    // equi-joins on the pair table's own keys — frontier expansion
    // with no iteration state, no cartesian exposure; seeds broadcast
    // by stats, countDistinct exchanges on the seed key only. Seeds
    // with no trades report zeros via the corpus left join.
    QuerySpec("g12_khop_aggregation", (s, d) => {
      val ce = TradingPairs(s, d)
      val seeds = Tables.customer(s, d)
        .filter(col("c_custkey") % 100 === 0)
        .select(concat(lit("c"), col("c_custkey").cast("string"))
          .as("seed"))
      // h1 is UNIQUE on (seed, s) by construction: ce is the (c, s)-grain
      // groupBy artifact and seeds are distinct customer keys, so the
      // equi-join cannot duplicate a pair. That uniqueness makes the
      // 1-hop countDistinct a plain count (removing the planner's
      // two-exchange distinct-aggregate expansion) and the old 2-hop
      // frontier `.distinct()` a no-op whose (seed, s) exchange the
      // plan paid for nothing — the guide §2.4 "distinct on already-
      // unique data" accidental exchange (r14 opt round: 9 → 6
      // exchanges, plan diff in plans/r14/g12_khop_aggregation_*.txt;
      // value-identical, oracle re-verified).
      // 1-hop agg + 2-hop frontier share it. Its measured size lets
      // Catalyst broadcast the 1%-of-customers frontier into the 2-hop
      // expansion and the 1-hop aggregate into its join-back, where
      // sort-merge joins would exchange the FULL pair table (18
      // exchanges, r15). The 2-hop aggregate is estimated as a join
      // product, so its join-back is hinted from h1's measured size
      // (it has at most one row per seed).
      val h1 = measuredCut(seeds.join(ce, col("seed") === col("c"))
        .select(col("seed"), col("s"), col("w")))
      val h1agg = h1.groupBy(col("seed"))
        .agg(count(col("s")).as("n_suppliers_1hop"),
          sum(col("w")).as("w_1hop"))
      val h2agg = h1.select(col("seed"), col("s"))
        .join(ce.select(col("s"), col("c").as("c2")), Seq("s"))
        .filter(col("c2") =!= col("seed"))
        .groupBy(col("seed"))
        .agg(countDistinct(col("c2")).as("n_customers_2hop"))
      seeds.join(h1agg, Seq("seed"), "left")
        .join(if (fitsBroadcast(h1)) broadcast(h2agg) else h2agg,
          Seq("seed"), "left")
        .select(col("seed"),
          coalesce(col("n_suppliers_1hop"), lit(0L)).as("n_suppliers_1hop"),
          coalesce(col("w_1hop"), lit(0L)).as("w_1hop"),
          coalesce(col("n_customers_2hop"), lit(0L)).as("n_customers_2hop"))
        .orderBy(col("seed"))
    }, oracle = Some(
      """WITH ce AS (
        |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS s, count(*) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2
        |), seeds AS (
        |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS seed FROM customer
        |  WHERE c_custkey % 100 = 0
        |), h1 AS (SELECT seed, s, w FROM seeds JOIN ce ON seed = c),
        |h1agg AS (
        |  SELECT seed, count(DISTINCT s) AS n_suppliers_1hop,
        |    CAST(sum(w) AS BIGINT) AS w_1hop FROM h1 GROUP BY seed
        |), h2 AS (
        |  SELECT DISTINCT h.seed, ce.c AS c2
        |  FROM (SELECT DISTINCT seed, s FROM h1) h JOIN ce ON h.s = ce.s
        |  WHERE ce.c <> h.seed
        |), h2agg AS (
        |  SELECT seed, count(*) AS n_customers_2hop FROM h2 GROUP BY seed
        |)
        |SELECT sd.seed, coalesce(a.n_suppliers_1hop, 0) AS n_suppliers_1hop,
        |  coalesce(a.w_1hop, 0) AS w_1hop,
        |  coalesce(b.n_customers_2hop, 0) AS n_customers_2hop
        |FROM seeds sd LEFT JOIN h1agg a ON sd.seed = a.seed
        |LEFT JOIN h2agg b ON sd.seed = b.seed
        |ORDER BY sd.seed""".stripMargin)),

    // O7 — deterministic global row numbering (contiguous example ids /
    // leaderboard positions) WITHOUT `row_number() OVER (ORDER BY …)`'s
    // single-task global window: range repartition + parallel in-
    // partition numbering + a prefix sum over the bounded per-partition
    // count table (WindowOps.globalRowNumber — the DataFrame
    // zipWithIndex). The oracle replays it as the naive global window,
    // proving the decomposition loses/renumbers nothing.
    QuerySpec("o7_global_rownum", (s, d) => {
      WindowOps.globalRowNumber(
          Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal")),
          Seq(col("c_acctbal").desc, col("c_custkey")), "global_rank")
        .select(col("c_custkey"), col("global_rank"))
        .orderBy(col("global_rank"))
    }, oracle = Some(
      """SELECT c_custkey,
        |CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT)
        |  AS global_rank
        |FROM customer ORDER BY global_rank""".stripMargin)),

    // T18 — curriculum/quality-decile binning: exact global decile
    // bounds of the per-doc quality score (percentile ≡ quantile_cont
    // interpolation, proven by w20) broadcast back, each doc assigned
    // band = 1 + #bounds strictly below its score (an integer both
    // engines compute identically on identical doubles), then per-band
    // occupancy + score range — the table a curriculum sampler feeds
    // on. Scale: one combinable agg for bounds (9 doubles), one narrow
    // map for banding, one grouped agg; the corpus never sorts.
    QuerySpec("t18_quality_deciles", (s, d) => {
      val scored = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text"), col("n_chars")).as("q"))
        .localCheckpoint(eager = false) // feeds bounds AND banding
      val bounds = scored.agg(
        expr("percentile(q, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
          .as("bs"))
      scored.crossJoin(broadcast(bounds))
        .withColumn("decile",
          (size(filter(col("bs"), b => col("q") > b)) + 1).cast("long"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("q")).as("min_q"), max(col("q")).as("max_q"))
        .orderBy(col("decile"))
    }, oracle = Some(
      """WITH s AS (
        |  SELECT doc_id,
        |    round((CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.5 END)
        |        * 0.4
        |      + least(len(list_distinct(string_split(text, ' '))) * 1.0
        |          / len(string_split(text, ' ')) * 2, 1.0) * 0.6, 4) AS q
        |  FROM documents
        |), b AS (
        |  SELECT quantile_cont(q, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
        |  FROM s
        |)
        |SELECT CAST(len(list_filter(b.bs, x -> s.q > x)) + 1 AS BIGINT)
        |    AS decile,
        |  count(*) AS n_docs, min(s.q) AS min_q, max(s.q) AS max_q
        |FROM s CROSS JOIN b GROUP BY 1 ORDER BY decile""".stripMargin)),

    // T12 — sequence PACKING (concat-and-chunk): the step that turns a
    // deduped corpus into fixed-budget training sequences. Docs are
    // concatenated in doc_id order and cut every `budget` tokens, so a
    // doc's placement is a pure function of the running token offset:
    // seq_id = floor(start/B), plus how many chunk boundaries the doc
    // straddles (the packer must split it that many times). The running
    // sum is windowed PER SHARD (doc_id % 8) — a global pack order would
    // serialize 100 TB through one reducer; sharded packing is how real
    // pipelines parallelize this (each shard emits its own sequence
    // stream), and the integer shard hash keeps it deterministic on any
    // cluster layout.
    QuerySpec("t12_pack_sequences", (s, d) => {
      val budget = 512
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          TextAnalysis.tokenCount(col("text")).as("nt"))
        .withColumn("start", coalesce(sum(col("nt")).over(w), lit(0L)))
        .select(col("doc_id"), col("shard"), col("nt"),
          floor(col("start") / budget).as("seq_id"),
          (col("start") % budget).as("seq_offset"),
          (floor((col("start") + col("nt") - 1) / budget)
            - floor(col("start") / budget) + 1).as("n_seqs_spanned"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH docs AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, shard, nt,
        |    CAST(COALESCE(sum(nt) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start
        |  FROM docs
        |)
        |SELECT doc_id, shard, nt,
        |  CAST(floor(start / 512) AS BIGINT) AS seq_id,
        |  start % 512 AS seq_offset,
        |  CAST(floor((start + nt - 1) / 512) - floor(start / 512) + 1
        |    AS BIGINT) AS n_seqs_spanned
        |FROM pos ORDER BY doc_id""".stripMargin)),

    // T13 — unigram LM quality score (the CCNet-style signal: docs whose
    // words are globally rare are likelier noise; docs dominated by the
    // top of the vocabulary are likelier boilerplate). Kept in EXACT
    // integer arithmetic — mean corpus frequency of the doc's tokens and
    // the fraction of tokens in the global top-20 vocabulary — instead of
    // log-probs, because libm log() and Java Math.log() can disagree in
    // the last ulp and break the oracle hash. Plan shape is t8's: ONE
    // shuffle of the (doc,word) frame; the vocabulary aggregate and the
    // top-K list are vocabulary-sized and BROADCAST back, so the fat
    // frame never shuffles by word (stopword skew lives there).
    QuerySpec("t13_unigram_quality", (s, d) => {
      val tokc = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // vocab agg + scoring join share it
      val vocab = tokc.groupBy(col("word")).agg(sum(col("c")).as("freq"))
      val top = vocab.orderBy(col("freq").desc, col("word")).limit(20)
        .select(col("word"), lit(1L).as("in_top"))
      tokc.join(broadcast(vocab), Seq("word"))
        .join(broadcast(top), Seq("word"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("nt"),
          sum(col("c") * col("freq")).as("sum_freq"),
          sum(col("c") * coalesce(col("in_top"), lit(0L))).as("top_toks"))
        .select(col("doc_id"),
          (col("sum_freq") * lit(1.0) / col("nt")).as("mean_word_freq"),
          (col("top_toks") * lit(1.0) / col("nt")).as("top20_frac"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """WITH tokc AS (
        |  SELECT doc_id, word, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |    FROM documents)
        |  GROUP BY doc_id, word
        |), vocab AS (
        |  SELECT word, CAST(sum(c) AS BIGINT) AS freq FROM tokc GROUP BY word
        |), top AS (
        |  SELECT word, 1 AS in_top FROM vocab
        |  ORDER BY freq DESC, word LIMIT 20
        |)
        |SELECT t.doc_id,
        |  CAST(sum(t.c * v.freq) AS BIGINT) * 1.0
        |    / CAST(sum(t.c) AS BIGINT) AS mean_word_freq,
        |  CAST(sum(t.c * COALESCE(p.in_top, 0)) AS BIGINT) * 1.0
        |    / CAST(sum(t.c) AS BIGINT) AS top20_frac
        |FROM tokc t JOIN vocab v USING (word) LEFT JOIN top p USING (word)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    // T16 — best-k docs per source via the bounded PAIR aggregator (the
    // curation step that selects exemplar documents per corpus slice).
    // Same scale shape as e8: the shuffle after map-side combine carries
    // at most k (score, id) pairs per (source, partition) — a
    // rank()<=k window would shuffle and sort every document.
    QuerySpec("t16_topk_docs", (s, d) => {
      val topk = udaf(new graft.functions.TopKPairAggregator(3))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          TextAnalysis.qualityScore(col("text"), col("n_chars")).as("q"))
        .groupBy(col("source"))
        .agg(topk(col("q"), col("doc_id")).as("tk"))
        .select(col("source"), posexplode(col("tk")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("doc_id"), col("col.score").as("quality_score"))
        .orderBy(col("source"), col("rnk"))
    }, oracle = Some(
      // Same quality-score formula as the t1 oracle; row_number replays
      // the aggregator's (score DESC, doc_id) tie order.
      """WITH q AS (
        |  SELECT source, doc_id,
        |    round((CASE WHEN n_chars BETWEEN 100 AND 5000
        |        THEN 1.0 ELSE 0.5 END) * 0.4
        |      + least(len(list_distinct(string_split(text, ' '))) * 1.0
        |        / len(string_split(text, ' ')) * 2, 1.0) * 0.6, 4) AS q
        |  FROM documents
        |), r AS (
        |  SELECT source, doc_id, q, row_number() OVER (
        |    PARTITION BY source ORDER BY q DESC, doc_id) AS rnk
        |  FROM q
        |)
        |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id,
        |  q AS quality_score
        |FROM r WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin)),

    // T14 — PII redaction: the scrub pass before any text ships to
    // training. The synthetic corpus carries no PII, so each doc is
    // AUGMENTED with a deterministic email / IPv4 / phone derived from
    // its id (both engines build the identical string), then scrubbed;
    // verified via match counts + md5 of the scrubbed text. Pure
    // codegen regexp ops, map-side only — no shuffle at any width.
    QuerySpec("t14_pii_redact", (s, d) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com from 10."),
        pmod(col("doc_id"), lit(256)), lit(".0.1 call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      Tables.documents(s, d)
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          TextAnalysis.piiCount(col("aug"), TextAnalysis.EmailPattern)
            .as("n_emails"),
          TextAnalysis.piiCount(col("aug"), TextAnalysis.Ipv4Pattern)
            .as("n_ips"),
          TextAnalysis.piiCount(col("aug"), TextAnalysis.PhonePattern)
            .as("n_phones"),
          md5(TextAnalysis.redactPii(col("aug")).cast("binary"))
            .as("redacted_hash"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // DuckDB regexes are RE2; the patterns use only syntax with
      // identical semantics in Java regex ('g' = Spark's replace-all
      // default).
      """WITH aug AS (
        |  SELECT doc_id, text || ' contact user' || doc_id
        |    || '@example.com from 10.' || (doc_id % 256)
        |    || '.0.1 call +1-555-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(aug,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(aug, '\+1-555-\d{4}')) AS BIGINT)
        |    AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+1-555-\d{4}', '<PHONE>', 'g')) AS redacted_hash
        |FROM aug ORDER BY doc_id""".stripMargin)),

    // M2 — the multimodal DECODE path (mapPartitions batch decode +
    // frame sampling), verified on its deterministic outputs: the fake
    // codec's byte length and stride-sampled frame count are pure integer
    // functions of the payload, so the oracle can replay them in SQL.
    QuerySpec("m2_decode_meta", (s, d) => {
      val meta = Multimodal.decodeMeta(s,
        Multimodal.withBinaryPayload(Tables.documents(s, d)))
      Multimodal.frameSampleStub(meta, stride = 2).toDF()
        .select(col("doc_id"), col("n_bytes"), col("frames"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |CAST(greatest((CAST(octet_length(encode(text)) AS BIGINT) // 64 + 1) // 2, 1)
        |  AS INTEGER) AS frames
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin)),

    // Q3 — TPC-H Q3 shipping-priority shape (the canonical
    // filter → join → join → agg → top-k analytical plan, completing
    // the q1 scan-agg / q2 SQL-entry trio): BUILDING-segment customers'
    // orders placed before the cutoff, revenue from line items shipped
    // after it, top 10 orders by decimal-exact revenue. Both joins are
    // plain equi-joins — the filtered customer key list sits well under
    // the broadcast threshold so Catalyst/AQE picks BroadcastHashJoin
    // on its own (forcing broadcast() here would bake in a hint that
    // turns into a hazard when the dimension outgrows executor memory
    // at 100 TB); the lineitem ⋈ orders join is the one shuffle pair.
    // Top-10 plans as TakeOrderedAndProject. Dates emitted as formatted
    // strings (oracle policy).
    QuerySpec("q3_shipping_priority", (s, d) => {
      val cutoff = lit("1998-07-01").cast("timestamp")
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < cutoff)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(Summaries.exactSum(
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_orderpriority"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, oracle = Some(
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // Q5 — TPC-H Q5 local-supplier-volume shape: the canonical 6-way
    // star join (fact ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈
    // region) with the non-key correlation c_nationkey = s_nationkey
    // folded into the supplier join, revenue per nation inside one
    // region-year slice. Join ORDER is the scale design: the region →
    // nation → customer reduction happens entirely on broadcast-sized
    // dimensions BEFORE touching the fact table, so lineitem joins an
    // already-region-filtered orders side and the only big-big shuffle
    // pair is lineitem ⋈ orders (same spine as q3); supplier joins
    // after as a broadcast probe carrying the nationkey-equality
    // filter. Catalyst/AQE picks the broadcast sides from size stats —
    // no baked-in hints (the q3 rationale).
    QuerySpec("q5_local_supplier", (s, d) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val nat = Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = Tables.customer(s, d)
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"), col("n_name"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          Summaries.exactSum(
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }, oracle = Some(
      """SELECT n_name, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // Q10 — TPC-H Q10 returned-item reporting shape: which customers
    // returned the most revenue this half-year — the
    // filter-fact-early → join → wide-group → top-k plan that
    // completes the q1/q3/q5 TPC-H spine with a HIGH-CARDINALITY
    // grouping key (q1 groups on 6 cells, q5 on nations; q10 groups
    // on customers — the shape where partial aggregation and the
    // top-k heap earn their keep at scale). The returnflag filter cuts
    // the fact scan first; orders date-prunes before joining; nation
    // broadcasts onto the grouped result (post-aggregation — |groups|
    // rows, not |lineitem|).
    QuerySpec("q10_returned_items", (s, d) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-07-01").cast("timestamp")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
      val grouped = li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          Summaries.exactSum(
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
      grouped
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("n_items"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, oracle = Some(
      """SELECT c_custkey, c_name, n_name, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // D17 — corpus OVERLAP ESTIMATION via bottom-k sketches: how much
    // of corpus B is already in corpus A, WITHOUT joining the full
    // fingerprint sets — the capacity-planning / contamination-rate
    // estimate that runs before committing to a d7-style exact pass.
    // Bottom-k (the order-statistics cousin of MinHash): each corpus
    // keeps its k smallest fingerprint hashes (TakeOrderedAndProject —
    // a distributed heap, corpus never sorts), and
    // J ≈ |bottomk(A∪B) ∩ skA ∩ skB| / k. UNLIKE the float-projection
    // ANN family this estimator is a DETERMINISTIC integer function of
    // the data (s13's md5→BIGINT idiom), so the estimate itself
    // hash-oracles — emitted NEXT TO the exact Jaccard and the abs
    // error, making the accuracy visible in the oracle output. B
    // derives from A deterministically (every 3rd doc shared, the rest
    // suffixed) so exact J ≈ 1/5 and both engines replay it.
    QuerySpec("d17_overlap_bottomk", (s, d) => {
      val K = 128
      def hkey(c: Column): Column =
        conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
      val docs = Tables.documents(s, d)
      val a = docs.select(hkey(col("text")).as("h")).distinct()
        .localCheckpoint(eager = false) // sketch + exact sides share it
      val b = docs.select(
          when(col("doc_id") % 3 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" vB"))).as("tb"))
        .select(hkey(col("tb")).as("h")).distinct()
        .localCheckpoint(eager = false)
      val ka = a.orderBy(col("h")).limit(K)
        .localCheckpoint(eager = false) // union + membership probes
      val kb = b.orderBy(col("h")).limit(K)
        .localCheckpoint(eager = false)
      val ku = ka.unionByName(kb).distinct().orderBy(col("h")).limit(K)
        .localCheckpoint(eager = false) // membership probe + size
      val y = ku.join(ka, Seq("h"), "left_semi")
        .join(kb, Seq("h"), "left_semi").agg(count(lit(1)).as("y"))
      val inter = a.join(b, Seq("h"), "left_semi")
        .agg(count(lit(1)).as("ni"))
      // denominator is the ACTUAL bottom-k size |ku| (≤ K structurally
      // — ku is limit(K)), not the capacity K: on a union smaller than
      // K the estimator y/K is biased low on BOTH engines (shared bias
      // the oracle can't catch) — y/|ku| is the unbiased inclusion
      // fraction
      val est = col("y") * lit(1.0) / col("ku_n")
      val exact =
        col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni"))
      y.crossJoin(inter)
        .crossJoin(a.agg(count(lit(1)).as("na")))
        .crossJoin(b.agg(count(lit(1)).as("nb")))
        .crossJoin(ku.agg(count(lit(1)).as("ku_n")))
        .select(lit(K.toLong).as("k"), est.as("est_jaccard"),
          exact.as("exact_jaccard"), abs(est - exact).as("abs_err"))
    }, oracle = Some(
      // d17 replays the bottom-k sketches with the s13 md5→BIGINT idiom;
      // the estimator, the exact Jaccard and the error all hash-compare
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |a AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
        |    AS h FROM docs
        |), bsrc AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN text
        |    ELSE text || ' vB' END AS tb FROM docs
        |), b AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(tb), 1, 15) AS BIGINT)
        |    AS h FROM bsrc
        |), ka AS (SELECT h FROM a ORDER BY h LIMIT 128),
        |kb AS (SELECT h FROM b ORDER BY h LIMIT 128),
        |ku AS (
        |  SELECT DISTINCT h FROM (
        |    SELECT h FROM ka UNION ALL SELECT h FROM kb
        |  ) ORDER BY h LIMIT 128
        |), y AS (
        |  SELECT count(*) AS y FROM ku
        |  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
        |), i AS (
        |  SELECT count(*) AS ni FROM a WHERE h IN (SELECT h FROM b)
        |), na AS (SELECT count(*) AS na FROM a),
        |nb AS (SELECT count(*) AS nb FROM b),
        |kun AS (SELECT count(*) AS ku_n FROM ku)
        |SELECT CAST(128 AS BIGINT) AS k,
        |  y * 1.0 / ku_n AS est_jaccard,
        |  ni * 1.0 / (na + nb - ni) AS exact_jaccard,
        |  abs(y * 1.0 / ku_n
        |    - ni * 1.0 / (na + nb - ni)) AS abs_err
        |FROM y, i, na, nb, kun""".stripMargin)),

    // D18 — substring-level dedup at arbitrary length (the complement
    // to the fixed-grain d5/d8/d13 family): maximal spans in which
    // every 8-token shingle is duplicated corpus-wide — the
    // Bloom-filter span-removal semantics (exact for single-source
    // duplication like the planted passage; an upper envelope when
    // duplicated windows chain across partners — see
    // Dedup.substringRuns' contract and DedupSpec's chaining fixture). The corpus carries no guaranteed long
    // shared passage, so a deterministic 30-token passage is appended
    // to every doc_id % 7 == 0 (the d16 injection precedent, replayed
    // verbatim by the oracle): those docs provably report
    // longest_dup_tokens ≥ 30 (23 consecutive passage-internal
    // shingles + width − 1), while the boundary shingles spanning each
    // doc's own tail stay doc-unique and terminate the run — the
    // maximal-extraction property the fixture pins. Integer-exact
    // (counts + md5-derived hashes) → full hash oracle.
    QuerySpec("d18_substring_dedup", (s, d) => {
      // injected corpus + shingle frame from the shared artifact: the
      // md5 explode is paid once for the d18/d20 pair
      val (injected, sh) = InjectedShingles(s, d)
      Dedup.substringRuns(injected, "doc_id", "text", width = 8,
          shingles = sh)
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // d18 replays the injection, the per-position 8-token shingles, the
      // md5-hash duplicated-set, and the gaps-and-islands run extraction
      // (1-based positions vs Spark's 0-based — the island arithmetic
      // pos − row_number is offset-invariant)
      ("""WITH injected AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN text || ' """ + DedupPassage + """' ELSE text END AS text
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM injected
        |  WHERE len(string_split(text, ' ')) >= 8
        |), pos AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM base
        |), sh AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    CAST('0x' || substr(md5(array_to_string(
        |      list_slice(toks, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |  FROM pos
        |), dup AS (
        |  SELECT h FROM sh GROUP BY h HAVING count(*) >= 2
        |), marked AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        |  FROM sh WHERE h IN (SELECT h FROM dup)
        |), runs AS (
        |  SELECT doc_id, pos - rn AS island, count(*) AS rs
        |  FROM marked GROUP BY doc_id, pos - rn
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_dup_runs,
        |    CAST(max(rs) + 7 AS BIGINT) AS longest_dup_tokens,
        |    CAST(sum(rs) AS BIGINT) AS dup_shingles
        |  FROM runs GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(a.n_dup_runs, 0) AS n_dup_runs,
        |  coalesce(a.longest_dup_tokens, 0) AS longest_dup_tokens,
        |  coalesce(a.dup_shingles, 0) AS dup_shingles
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""").stripMargin)),

    // D20 — EXACT longest duplicated span (Lee et al. ExactSubstr
    // semantics) on the d18 injected corpus: where d18 reports the
    // Bloom-envelope (duplicated-shingle runs + width−1, an UPPER
    // bound when duplicated windows chain across different partners),
    // this binary-searches the true maximum with an actual-text
    // duplicate check per probe (Dedup.exactDupSpan — exact, no hash
    // in the reported value). The injected 30-token passage plus any
    // genuinely shared flanking tokens IS the answer; the oracle
    // re-derives it by brute force over every candidate length (the
    // same candidate-completeness lemma, stated in the scaladoc),
    // capped at the same 64-token depth. All-integer output → full
    // hash oracle.
    QuerySpec("d20_exact_dup_span", (s, d) => {
      val (injected, sh) = InjectedShingles(s, d)
      Dedup.exactDupSpan(injected, "doc_id", "text",
        width = 8, maxLen = 64, shingles = sh)
    }, oracle = Some(
      // d20 re-derives the exact answer by BRUTE FORCE over every
      // candidate length 8..64 (no binary search — an independent
      // algorithm agreeing on the value): same injection, same
      // candidate-completeness lemma (an exact dup span's start must sit
      // in a duplicated-shingle island with span_cap ≥ L), then actual
      // substring grouping per length
      ("""WITH injected AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN text || ' """ + DedupPassage + """' ELSE text END AS text
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM injected
        |  WHERE len(string_split(text, ' ')) >= 8
        |), pos AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM base
        |), sh AS (
        |  SELECT doc_id, toks, CAST(i AS BIGINT) AS pos,
        |    CAST('0x' || substr(md5(array_to_string(
        |      list_slice(toks, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |  FROM pos
        |), dup AS (
        |  SELECT h FROM sh GROUP BY h HAVING count(*) >= 2
        |), marked AS (
        |  SELECT doc_id, toks, pos,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        |  FROM sh WHERE h IN (SELECT h FROM dup)
        |), cap AS (
        |  SELECT doc_id, toks, pos,
        |    max(pos) OVER (PARTITION BY doc_id, pos - rn) - pos + 8
        |      AS span_cap
        |  FROM marked
        |), l AS (SELECT unnest(range(8, 65)) AS L
        |), spans AS (
        |  SELECT c.doc_id, l.L, array_to_string(list_slice(c.toks,
        |    CAST(c.pos AS INT), CAST(c.pos + l.L - 1 AS INT)), ' ') AS s
        |  FROM cap c JOIN l ON c.span_cap >= l.L
        |), g AS (
        |  SELECT L, s FROM spans GROUP BY L, s HAVING count(*) >= 2
        |), best AS (SELECT max(L) AS L FROM g
        |), hit AS (
        |  SELECT sp.doc_id FROM spans sp JOIN g USING (L, s)
        |  WHERE sp.L = (SELECT L FROM best)
        |)
        |SELECT CAST(coalesce((SELECT L FROM best), 0) AS BIGINT)
        |    AS longest_exact_dup_tokens,
        |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_occurrences,
        |  CAST((SELECT count(DISTINCT doc_id) FROM hit) AS BIGINT)
        |    AS n_docs""").stripMargin)),

    // Q14 — TPC-H Q14 promo-revenue shape: what share of a quarter's
    // revenue came from promo-type parts — the conditional-aggregate
    // ratio computed in ONE pass (both sums ride the same hash
    // aggregate; a UNION of two filtered sums would scan twice). The
    // shipdate window prunes the fact scan; the |parts|-row dimension
    // broadcasts by stats. Ratio = one double division of two
    // decimal-exact sums, unrounded (the exactAvg rule).
    QuerySpec("q14_promo_revenue", (s, d) => {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-04-01").cast("timestamp")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_partkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("rev"))
        .join(Tables.part(s, d).select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n_items"),
          (lit(100.0) * sum(when(col("p_type") === "PROMO", col("rev"))
              .otherwise(lit(0.0)).cast("decimal(38,6)")).cast("double")
            / sum(col("rev").cast("decimal(38,6)")).cast("double"))
            .as("promo_revenue_pct"))
    }, oracle = Some(
      """SELECT count(*) AS n_items,
        |  100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
        |    AS DECIMAL(38,6))) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin)),

    // Q18 — TPC-H Q18 large-volume-order shape: aggregate-THEN-join —
    // the qualifying-order set (sum(qty) > 250) reduces on the fact
    // table's own key BEFORE any join touches orders or customer, so
    // the join sides are |qualifying orders|-sized, not
    // |lineitem|-sized (the shape that matters when the fact table is
    // 10⁴× the qualifying set at 100 TB). Top-100 plans as the heap.
    QuerySpec("q18_large_orders", (s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(Summaries.exactSum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }, oracle = Some(
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2)
        |      AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2)
        |    AS DOUBLE) > 250
        |)
        |SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // Q4/Q17/Q21/Q22 — the CORRELATED-SUBQUERY TPC-H shapes: the one
    // classic engine-capability class the q1–q18 spine never exercises.
    // Deliberately written as SQL text over temp views (the q2_sql
    // surface), NOT pre-decorrelated DataFrame joins: the capability
    // under test is Catalyst's RewritePredicateSubquery /
    // RewriteCorrelatedScalarSubquery turning EXISTS / NOT EXISTS /
    // correlated scalar aggregates into the j7 semi/anti/aggregate-join
    // machinery — PlanSpec pins that NO correlated predicate survives
    // as a BroadcastNestedLoopJoin (the plan class that re-scans the
    // inner table per outer row and dies at any scale). The testdata
    // schema has no l_commitdate/l_receiptdate/c_phone, so the
    // reference predicates adapt: "late" = shipped >60 days after the
    // order date (a correlation on BOTH l_orderkey and the outer
    // o_orderdate — a strictly richer decorrelation than TPC-H's
    // receipt-vs-commit, which correlates on the key alone), and q22's
    // country code = c_nationkey.

    // Q4 — order-priority checking: orders in one quarter with at
    // least one late lineitem, counted per priority. EXISTS → left
    // semi join on l_orderkey with the o_orderdate comparison as the
    // join condition; the quarter filter prunes the orders scan first.
    QuerySpec("q4_priority_check", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    }, oracle = Some(
      // q4/q17/q21/q22: DuckDB runs the SAME correlated-subquery text —
      // the second formulation is the second ENGINE's decorrelation,
      // which is exactly what's under test
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // Q17 — small-quantity-order revenue: lineitems of one brand/size
    // slice whose quantity sits below 20% of that PART's own average —
    // the per-key correlated SCALAR-aggregate subquery. Catalyst
    // decorrelates into aggregate-then-join (the q18 discipline,
    // derived by the optimizer instead of hand-written): avg(qty)
    // per partkey on the fact table's own key, joined back, ONE fact
    // scan feeding both sides. avg(l_quantity) is exact cross-engine
    // (integral doubles sum exactly in any order); the yearly average
    // is a decimal-exact sum with one unrounded IEEE division (the
    // exactAvg policy).
    QuerySpec("q17_small_qty_revenue", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.part(s, d).createOrReplaceTempView("part")
      s.sql("""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
            / 7.0 AS avg_yearly,
          count(*) AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23' AND p_size < 15
          AND l_quantity < 0.2 * (SELECT avg(l_quantity)
                                  FROM lineitem l2
                                  WHERE l2.l_partkey = p_partkey)""")
    }, oracle = Some(
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)))
        |    AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_size < 15
        |  AND l_quantity < 0.2 * (SELECT avg(l_quantity)
        |                          FROM lineitem l2
        |                          WHERE l2.l_partkey = p_partkey)""".stripMargin)),

    // Q21 — suppliers who kept orders waiting: the multi-EXISTS form —
    // for each late lineitem of a finished order from one nation's
    // suppliers, ANOTHER supplier contributed (EXISTS, → semi join)
    // but NO OTHER supplier was also late (NOT EXISTS, → anti join),
    // pinning the wait on this supplier alone. Both subqueries
    // re-reference the fact table with different correlated
    // predicates — the decorrelation stress test (the BNLJ trap that
    // PlanSpec bites on): Catalyst plans one semi and one anti join on
    // l_orderkey, and the NOT-EXISTS side ALSO carries the outer
    // o_orderdate comparison.
    QuerySpec("q21_waiting_suppliers", (s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      s.sql("""
        SELECT s_name, count(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F' AND n_name = 'NATION_5'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate >
                              o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100""")
    }, oracle = Some(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND n_name = 'NATION_5'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate >
        |                      o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin)),

    // Q22 — dormant high-balance customers: account balance above the
    // positive-balance average (UNCORRELATED scalar subquery — one
    // 1-row broadcast, not a per-row probe) with no order since 1999
    // (NOT EXISTS with a date-filtered inner → anti join against a
    // pre-filtered orders side), grouped by country code. The scalar
    // average is decimal-exact-sum / count (exactAvg policy — a float
    // avg would drift cross-engine on these non-integral balances).
    QuerySpec("q22_dormant_customers", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""
        SELECT c_nationkey AS cntrycode, count(*) AS numcust,
          CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE)
            AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal
                AS DECIMAL(38,6))) AS DOUBLE) / count(*)
              FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY c_nationkey
        ORDER BY cntrycode""")
    }, oracle = Some(
      """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE)
        |    AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal
        |        AS DECIMAL(38,6))) AS DOUBLE) / count(*)
        |      FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_nationkey
        |ORDER BY cntrycode""".stripMargin)),

    // Q7 — TPC-H Q7 volume-shipping shape: trade volume between two
    // nations by direction and year — the symmetric-pair predicate
    // ((A,B) OR (B,A)) carried on two BROADCAST nation dims, the
    // shipdate window pruning the fact scan, year() extraction as a
    // grouping key. The two nation joins reduce customer/supplier to
    // keyed (key, nation) frames BEFORE touching lineitem (the q5
    // dimension-first discipline).
    QuerySpec("q7_nation_volume", (s, d) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val supN = Tables.supplier(s, d)
        .join(Tables.nation(s, d),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custN = Tables.customer(s, d)
        .join(Tables.nation(s, d),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_shipdate"), col("l_extendedprice"), col("l_discount"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(supN, col("l_suppkey") === col("s_suppkey"))
        .join(custN, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_3"
            && col("cust_nation") === "NATION_8")
          || (col("supp_nation") === "NATION_8"
            && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_items"),
          Summaries.exactSum(
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("yr"))
    }, oracle = Some(
      """SELECT supp_nation, cust_nation, yr, count(*) AS n_items,
        |  CAST(round(sum(CAST(rev AS DECIMAL(38,6))), 2) AS DOUBLE)
        |    AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS yr,
        |    l_extendedprice * (1 - l_discount) AS rev
        |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01')
        |GROUP BY supp_nation, cust_nation, yr
        |ORDER BY supp_nation, cust_nation, yr""".stripMargin)),

    // Q9 — TPC-H Q9 product-profit shape: profit per supplier nation
    // per order year over a name-pattern part slice. The schema has no
    // partsupp, so supply cost adapts to 0.8·p_retailprice (a
    // deterministic per-part cost the oracle replays verbatim) —
    // preserving the shape: a 5-way join where the widest row (the
    // profit term) is assembled map-side and immediately aggregated on
    // a LOW-cardinality (nation, year) key; nation broadcasts, part
    // prunes on the LIKE before joining.
    QuerySpec("q9_product_profit", (s, d) => {
      val amount = col("l_extendedprice") * (lit(1) - col("l_discount")) -
        lit(0.8) * col("p_retailprice") * col("l_quantity")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"), col("l_quantity"))
        .join(Tables.part(s, d)
          .filter(col("p_name").like("%a%"))
          .select(col("p_partkey"), col("p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(Summaries.exactSum(amount).as("sum_profit"))
        .orderBy(col("n_name"), col("yr"))
    }, oracle = Some(
      """SELECT n_name, yr,
        |  CAST(round(sum(CAST(amount AS DECIMAL(38,6))), 2) AS DOUBLE)
        |    AS sum_profit
        |FROM (
        |  SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    l_extendedprice * (1 - l_discount)
        |      - 0.8 * p_retailprice * l_quantity AS amount
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%a%')
        |GROUP BY n_name, yr ORDER BY n_name, yr""".stripMargin)),

    // Q16 — TPC-H Q16 supplier-count shape: distinct suppliers per
    // (brand, type, size) slice, EXCLUDING a supplier denylist via
    // NOT IN (uncorrelated subquery → one broadcast LEFT ANTI join —
    // the relational form of q16's complaint filter, here suppliers in
    // arrears). The part-attribute filters (<> and IN-list) push to
    // the part scan; lineitem plays the part↔supplier relation the
    // schema's missing partsupp would provide; countDistinct exchanges
    // once on the 3-column group key.
    QuerySpec("q16_supplier_count", (s, d) => {
      val denylist = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"))
        .join(denylist, col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#45"
            && col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"),
          col("p_type"), col("p_size"))
        .limit(20)
    }, oracle = Some(
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#45'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 20""".stripMargin)),

    // Q19 — TPC-H Q19 discounted-revenue shape: the OR-of-ANDs
    // predicate class — three (brand, size-band, quantity-band)
    // disjuncts spanning BOTH join sides. The engine capability under
    // test: Catalyst splits the disjunction into the part-local
    // residual ((brand∧size) OR …) — pushed INTO the part scan — and
    // keeps only the cross-table conjuncts as the join residual, on
    // top of a plain partkey equi-join (no BNLJ; PlanSpec pins both).
    QuerySpec("q19_disjunctive_revenue", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      li.join(p, col("l_partkey") === col("p_partkey")
          && ((col("p_brand") === "Brand#12"
              && col("p_size").between(1, 15)
              && col("l_quantity").between(1, 21))
            || (col("p_brand") === "Brand#23"
              && col("p_size").between(10, 30)
              && col("l_quantity").between(10, 30))
            || (col("p_brand") === "Brand#34"
              && col("p_size").between(20, 50)
              && col("l_quantity").between(20, 40))))
        .agg(count(lit(1)).as("n_items"),
          Summaries.exactSum(
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
    }, oracle = Some(
      """SELECT count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 21)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
        |    AND l_quantity BETWEEN 10 AND 30)
        |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
        |    AND l_quantity BETWEEN 20 AND 40)""".stripMargin)),

    // Q20 — TPC-H Q20 excess-stock shape: the nested IN + correlated
    // aggregate — suppliers who DOMINATE a meaningful part's flow
    // (own shipped quantity > 20% of the part's corpus-wide total AND
    // ≥ 60 units; no partsupp in the schema, so lineitem's own
    // (part, supplier) rollup plays availqty). SQL text (the q4/q21
    // discipline): Catalyst decorrelates the HAVING's scalar subquery
    // into a per-part total aggregate joined back on l_partkey, and
    // the IN into one left-semi join on s_suppkey — no per-row
    // re-aggregation, no BNLJ (PlanSpec).
    QuerySpec("q20_dominant_suppliers", (s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      s.sql("""
        SELECT s_name, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM lineitem l1
          GROUP BY l_partkey, l_suppkey
          HAVING sum(l_quantity) >= 60
            AND sum(l_quantity) > 0.2 * (
              SELECT sum(l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = l1.l_partkey))
        ORDER BY s_name""")
    }, oracle = Some(
      """SELECT s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem l1
        |  GROUP BY l_partkey, l_suppkey
        |  HAVING sum(l_quantity) >= 60
        |    AND sum(l_quantity) > 0.2 * (
        |      SELECT sum(l_quantity) FROM lineitem l2
        |      WHERE l2.l_partkey = l1.l_partkey))
        |ORDER BY s_name""".stripMargin)),

    // D19 — INCREMENTAL span dedup (d18's production ingest form, the
    // d11/d12 discipline applied to spans): the first 400 doc_ids play
    // the already-ingested snapshot — only their DISTINCT shingle-hash
    // INDEX is touched — and the rest arrive as the new batch, whose
    // spans are flagged where every 8-token shingle is already in the
    // index. Snapshot text is never re-read at ingest; the batch-side
    // cost is flat, and the index side wants the s12 bucketed layout
    // at scale (see substringRunsAgainstIndex's measured note). The shared
    // 30-token passage is injected on BOTH sides (snapshot %5, batch
    // %9 — d16/d18 precedent) so cross-snapshot span hits provably
    // fire; batch docs that are verbatim copies of snapshot docs
    // surface as full-doc runs alongside.
    QuerySpec("d19_incremental_span_dedup", (s, d) => {
      val docs = Tables.documents(s, d)
      def withPassage(df: DataFrame, mod: Int) = df.select(col("doc_id"),
        when(col("doc_id") % mod === 0,
          concat(col("text"), lit(" " + DedupPassage)))
          .otherwise(col("text")).as("text"))
      val snapshot = withPassage(docs.filter(col("doc_id") < 400), 5)
      val batch = withPassage(docs.filter(col("doc_id") >= 400), 9)
      val index = Dedup.shingleIndex(snapshot, "doc_id", "text", width = 8)
      Dedup.substringRunsAgainstIndex(batch, index, "doc_id", "text",
          width = 8)
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // d19 replays the two-sided injection, the snapshot's distinct
      // shingle index, and the batch's index-hit island extraction
      ("""WITH injected AS (
        |  SELECT doc_id, CASE WHEN (doc_id < 400 AND doc_id % 5 = 0)
        |      OR (doc_id >= 400 AND doc_id % 9 = 0)
        |    THEN text || ' """ + DedupPassage + """' ELSE text END AS text
        |  FROM documents
        |), snapbase AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM injected
        |  WHERE doc_id < 400 AND len(string_split(text, ' ')) >= 8
        |), snappos AS (
        |  SELECT toks, unnest(range(1, len(toks) - 6)) AS i FROM snapbase
        |), idx AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(array_to_string(
        |    list_slice(toks, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |  FROM snappos
        |), batchbase AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM injected
        |  WHERE doc_id >= 400 AND len(string_split(text, ' ')) >= 8
        |), bpos AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
        |  FROM batchbase
        |), sh AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    CAST('0x' || substr(md5(array_to_string(
        |      list_slice(toks, i, i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |  FROM bpos
        |), marked AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        |  FROM sh WHERE h IN (SELECT h FROM idx)
        |), runs AS (
        |  SELECT doc_id, pos - rn AS island, count(*) AS rs
        |  FROM marked GROUP BY doc_id, pos - rn
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_dup_runs,
        |    CAST(max(rs) + 7 AS BIGINT) AS longest_dup_tokens,
        |    CAST(sum(rs) AS BIGINT) AS dup_shingles
        |  FROM runs GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(a.n_dup_runs, 0) AS n_dup_runs,
        |  coalesce(a.longest_dup_tokens, 0) AS longest_dup_tokens,
        |  coalesce(a.dup_shingles, 0) AS dup_shingles
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |WHERE d.doc_id >= 400
        |ORDER BY d.doc_id""").stripMargin)),

    // Q2 — TPC-H Q2 minimum-cost-supplier shape (q2_sql_surface is the
    // SQL-registration demo, THIS is the reference query): for a part
    // slice, the region's suppliers achieving that part's GLOBAL
    // minimum unit cost — the correlated scalar min() whose
    // decorrelation is the canonical Q2 test. lineitem's per
    // (part, supplier) min unit price plays the missing
    // ps_supplycost; the cost frame computes ONCE (a CTE) and feeds
    // both the outer join chain and the decorrelated per-part min —
    // Catalyst plans the correlated subquery as a per-partkey
    // aggregate of that same frame joined back, never a per-row
    // re-scan (the q17/q20 discipline; covered by the no-BNLJ guard).
    QuerySpec("q2_min_cost_supplier", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.part(s, d).createOrReplaceTempView("part")
      Tables.region(s, d).createOrReplaceTempView("region")
      s.sql("""
        WITH cost AS (
          SELECT l_partkey AS partkey, l_suppkey AS suppkey,
            min(l_extendedprice / l_quantity) AS unit_cost
          FROM lineitem GROUP BY l_partkey, l_suppkey)
        SELECT p_partkey, s_suppkey, s_name, n_name,
          round(c.unit_cost, 2) AS best_cost
        FROM part JOIN cost c ON p_partkey = c.partkey
        JOIN supplier ON s_suppkey = c.suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE p_size = 25 AND r_name = 'ASIA'
          AND c.unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
                             WHERE c2.partkey = p_partkey)
        ORDER BY p_partkey, s_suppkey LIMIT 100""")
    }, oracle = Some(
      """WITH cost AS (
        |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
        |    min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT p_partkey, s_suppkey, s_name, n_name,
        |  round(c.unit_cost, 2) AS best_cost
        |FROM part JOIN cost c ON p_partkey = c.partkey
        |JOIN supplier ON s_suppkey = c.suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_size = 25 AND r_name = 'ASIA'
        |  AND c.unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
        |                     WHERE c2.partkey = p_partkey)
        |ORDER BY p_partkey, s_suppkey LIMIT 100""".stripMargin)),

    // Q6 — TPC-H Q6 forecast-revenue shape: the pure scan query — every
    // predicate (date window, discount band, quantity cap) pushes into
    // the parquet scan and ONE aggregate runs with no join and no
    // shuffle beyond the 1-row final combine. The floor case of the
    // spine: at 100 TB this query IS the scan, so the plan must show
    // zero operators between scan and aggregate.
    QuerySpec("q6_forecast_revenue", (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.03, 0.05)
          && col("l_quantity") < 24)
        .agg(Summaries.exactSum(
            col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
    }, oracle = Some(
      """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
        |    AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.05
        |  AND l_quantity < 24""".stripMargin)),

    // Q8 — TPC-H Q8 market-share shape: one nation's share of a
    // region's market for one part type, per year — the conditional
    // NUMERATOR over the same rows as the denominator (one hash
    // aggregate carries both decimal sums; q14's one-pass ratio
    // discipline on a 7-way join). Dimension-first: region→nation→
    // customer prunes before orders; the supplier-side nation tags the
    // numerator rows. Share = one unrounded double division.
    QuerySpec("q8_market_share", (s, d) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val custAsia = Tables.customer(s, d)
        .join(Tables.nation(s, d).select(col("n_nationkey").as("c_nk"),
            col("n_regionkey")),
          col("c_nationkey") === col("c_nk"))
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val supN = Tables.supplier(s, d)
        .join(Tables.nation(s, d).select(col("n_nationkey").as("s_nk"),
            col("n_name").as("supp_nation")),
          col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(Tables.part(s, d).filter(col("p_type") === "PROMO")
          .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(custAsia, col("o_custkey") === col("c_custkey"))
        .join(supN, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg((sum(when(col("supp_nation") === "NATION_5", vol)
              .otherwise(lit(0.0)).cast("decimal(38,6)")).cast("double")
            / sum(vol.cast("decimal(38,6)")).cast("double"))
          .as("mkt_share"))
        .orderBy(col("yr"))
    }, oracle = Some(
      """WITH allrows AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT yr,
        |  CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_5' THEN volume
        |      ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
        |    / CAST(sum(CAST(volume AS DECIMAL(38,6))) AS DOUBLE)
        |    AS mkt_share
        |FROM allrows GROUP BY yr ORDER BY yr""".stripMargin)),

    // Q11 — TPC-H Q11 important-stock shape: per-part value held by one
    // nation's suppliers, kept only where it exceeds a FRACTION OF THE
    // WHOLE (the group-vs-global comparison): the per-part aggregate
    // computes once, and the global threshold re-aggregates THAT
    // |parts|-row frame (not the fact table) into a 1-row broadcast —
    // two aggregate grains, one fact scan. No partsupp in the schema,
    // so lineitem value plays stock value.
    QuerySpec("q11_important_stock", (s, d) => {
      val natSupp = Tables.supplier(s, d)
        .join(Tables.nation(s, d).filter(col("n_name") === "NATION_5"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val value = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        .join(natSupp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(Summaries.exactSum(col("l_extendedprice"))
          .as("part_value"))
        .localCheckpoint(eager = false) // threshold + filter share it
      val threshold = value.agg(
        (sum(col("part_value").cast("decimal(38,6)")).cast("double")
          * 0.002).as("thr"))
      value.crossJoin(broadcast(threshold))
        .filter(col("part_value") > col("thr"))
        .select(col("l_partkey"), col("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey"))
        .limit(20)
    }, oracle = Some(
      """WITH val AS (
        |  SELECT l_partkey,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,6))), 2)
        |      AS DOUBLE) AS part_value
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_5'
        |  GROUP BY l_partkey)
        |SELECT l_partkey, part_value FROM val
        |WHERE part_value > (SELECT CAST(sum(CAST(part_value
        |    AS DECIMAL(38,6))) AS DOUBLE) * 0.002 FROM val)
        |ORDER BY part_value DESC, l_partkey LIMIT 20""".stripMargin)),

    // Q12 — TPC-H Q12 shipping-priority-by-mode shape: the two-level
    // conditional count (urgent vs non-urgent lines per shipping
    // class) in ONE aggregate pass — both counts ride the same hash
    // aggregate as conditional sums. The schema has no l_shipmode;
    // l_returnflag plays the 3-class mode axis (the CASE machinery —
    // the capability under test — is identical).
    QuerySpec("q12_priority_by_class", (s, d) => {
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
        .join(Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_returnflag")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_returnflag").as("ship_class"))
        .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!urgent, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy(col("ship_class"))
    }, oracle = Some(
      """SELECT l_returnflag AS ship_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY ship_class""".stripMargin)),

    // Q13 — TPC-H Q13 customer-distribution shape: the outer join with
    // the predicate IN THE JOIN CONDITION (not a WHERE — customers
    // with zero qualifying orders must survive as count 0), then a
    // two-level aggregation: per-customer order count, then the
    // distribution over counts. The second grain aggregates a
    // |customers|-row frame, not the fact table.
    QuerySpec("q13_customer_distribution", (s, d) => {
      val perCust = Tables.customer(s, d).select(col("c_custkey"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderpriority")),
          col("c_custkey") === col("o_custkey")
            && col("o_orderpriority") =!= "1-URGENT",
          "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
        .limit(10)
    }, oracle = Some(
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC LIMIT 10""".stripMargin)),

    // Q15 — TPC-H Q15 top-supplier shape: the aggregate-then-argmax —
    // quarterly revenue per supplier (one fact-table aggregate), then
    // the max-equality filter against a 1-row broadcast of max(rev)
    // over that |suppliers|-row frame (ties all surface — the
    // reference semantics). The name stitch joins AFTER the argmax, on
    // a frame of the winners only.
    QuerySpec("q15_top_supplier", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(Summaries.exactSum(
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_revenue"))
        .localCheckpoint(eager = false) // argmax + filter share it
      val top = rev.agg(max(col("total_revenue")).as("max_rev"))
      rev.crossJoin(broadcast(top))
        .filter(col("total_revenue") === col("max_rev"))
        .join(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name")),
          col("supplier_no") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }, oracle = Some(
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),

    // D16 — URL-level dedup (the crawl-frontier collapse that runs
    // BEFORE any document fetch at corpus scale — distinct from t20's
    // per-domain rollup, which counts URLs without canonicalizing):
    // extract URLs, canonicalize (TextAnalysis.canonicalUrl: scheme
    // dropped, host lowercased, query+fragment stripped, trailing slash
    // removed), keep the min-doc_id occurrence per canonical URL. The
    // synthetic corpus has no URLs, so each doc is injected with one of
    // FOUR deterministic variants of a shared target (plain /
    // cased-host+http / ?utm query / trailing-slash+#fragment — t20
    // injection precedent, replayed verbatim by the oracle):
    // canonicalization provably collapses all four onto one key, and
    // the preserved 'Asset' path case pins that only the HOST folds.
    // Scale: map-side explode + one bounded agg on the canonical key —
    // the same shape as exact dedup (d1), no other shuffle.
    QuerySpec("d16_url_dedup", (s, d) => {
      val k = pmod(col("doc_id"), lit(3)).cast("string")
      val b = pmod(col("doc_id"), lit(20)).cast("string")
      val variant = pmod(col("doc_id"), lit(4))
      val url = when(variant === 0,
          concat(lit("https://cdn"), k, lit(".example.com/Asset/"), b))
        .when(variant === 1,
          concat(lit("http://CDN"), k, lit(".Example.COM/Asset/"), b))
        .when(variant === 2,
          concat(lit("https://cdn"), k, lit(".example.com/Asset/"), b,
            lit("?utm_source=feed")))
        .otherwise(
          concat(lit("https://cdn"), k, lit(".example.com/Asset/"), b,
            lit("/#sec")))
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" see "), url).as("text"))
        .select(col("doc_id"),
          explode(TextAnalysis.extractUrls(col("text"))).as("url"))
        .groupBy(TextAnalysis.canonicalUrl(col("url")).as("canonical_url"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("keeper_doc_id"))
        .orderBy(col("canonical_url"))
    }, oracle = Some(
      // d16's oracle replays the injection, extraction and
      // canonicalization verbatim (t20 precedent)
      """WITH injected AS (
        |  SELECT doc_id, text || ' see ' ||
        |    CASE CAST(doc_id % 4 AS INTEGER)
        |      WHEN 0 THEN 'https://cdn' || (doc_id % 3) ||
        |        '.example.com/Asset/' || (doc_id % 20)
        |      WHEN 1 THEN 'http://CDN' || (doc_id % 3) ||
        |        '.Example.COM/Asset/' || (doc_id % 20)
        |      WHEN 2 THEN 'https://cdn' || (doc_id % 3) ||
        |        '.example.com/Asset/' || (doc_id % 20) || '?utm_source=feed'
        |      ELSE 'https://cdn' || (doc_id % 3) ||
        |        '.example.com/Asset/' || (doc_id % 20) || '/#sec'
        |    END AS text
        |  FROM documents),
        |urls AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^ ]+'))
        |    AS url FROM injected),
        |canon AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '[?#].*$', ''),
        |      '^https?://([^/]+)', 1)) ||
        |    regexp_replace(regexp_extract(regexp_replace(url, '[?#].*$', ''),
        |      '^https?://[^/]+(.*)$', 1), '/$', '') AS canonical_url
        |  FROM urls)
        |SELECT canonical_url, count(*) AS n_urls,
        |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper_doc_id
        |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin)),

    // V14 — LINEAR interpolation over calendar gaps (the resample +
    // interpolate companion to v3's zero-fill densify): per-user daily
    // gauge, gap days take pv + (nv−pv)·(Δprev/Δspan) between the
    // surrounding observed days. Every gap row is interior by
    // construction (the calendar spans [min, max] observed day per
    // user), so the expression is total. Raw IEEE doubles out — the
    // engine-wide unrounded-average policy; the oracle replays the
    // identical fixed-order expression over IGNORE NULLS windows.
    QuerySpec("v14_interpolate", (s, d) => {
      graft.extensions.EventWindows.interpolateDaily(Tables.events(s, d))
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("observed"), col("v_interp"))
        .orderBy(col("user_id"), col("day"))
    }, oracle = Some(
      // v14: identical fixed-order IEEE interpolation over IGNORE NULLS
      // windows; date_diff('day', a, b) = Spark's datediff(b, a)
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS v
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |spans AS (
        |  SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY user_id),
        |calendar AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM spans),
        |dense AS (
        |  SELECT c.user_id, c.day, d.v
        |  FROM calendar c LEFT JOIN daily d USING (user_id, day)),
        |w AS (
        |  SELECT user_id, day, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM dense)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  v IS NOT NULL AS observed,
        |  CASE WHEN v IS NOT NULL THEN v
        |    ELSE pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE) /
        |      CAST(date_diff('day', pd, nd) AS DOUBLE)) END AS v_interp
        |FROM w ORDER BY user_id, day""".stripMargin)),

    // W30 — Misra-Gries heavy hitters (bounded-state top-key sketch):
    // exact per-key counts over an unbounded key domain are O(distinct)
    // aggregation state; MG carries at most k=16 counters per partial,
    // so the shuffle is O(k) per partition at any cardinality. The
    // counter SET depends on partitioning (legitimately), so the query
    // is a CONTRACT: the guarantees — every true heavy hitter
    // (count > n/(k+1)) survives, estimates never exceed truth, error
    // ≤ n/(k+1), ≤ k counters — hold under ANY partitioning, and the
    // skewed key (20% of rows collapse to key 0 — the only true heavy
    // hitter at every SF, margin ~3.4×) makes the capture non-vacuous.
    // n_true_hh and hh_exact_count are value-verified by the oracle.
    // W33 — MERGEABLE approximate quantiles (Greenwald-Khanna-style
    // QuantileSummaries behind percentile_approx): the 100 TB percentile
    // path — w6's exact median needs the full sorted column, the sketch
    // needs O(acc·log n) state per partial and merges associatively.
    // The w30 guarantee-contract discipline: the sketch VALUE is
    // engine-specific (merge-order dependent), so the oracled columns
    // are the exact side (prob, n, exact interpolated quantile — the
    // w6 quantile_cont convention) plus the CONTRACT boolean the oracle
    // emits as literal true: the approx value's exact rank sits within
    // n/accuracy (+1 tie slack) of prob·n. One pass builds the sketch
    // AND the exact percentiles; one more pass ranks the 5 approx
    // values via conditional counts against a 1-row broadcast (no
    // crossJoin amplification).
    QuerySpec("w33_approx_quantiles", (s, d) => {
      val probs = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
      val acc = 1000
      val probsArr = array(probs.map(lit): _*)
      // Exact side via the DISTRIBUTED-RANK frame (r14 verdict item 1,
      // guide §2.4/§5): the old builtin `percentile` kept an
      // O(distinct-values) value→count map as aggregation state on an
      // unbounded-cardinality price column — the exact memory profile
      // Summaries.sortedPercentiles' decision rule bans at 100 TB (and
      // its final single-partition merge serialized ~|distinct| map
      // entries through one task). globalRanked range-sorts once with
      // bounded per-task state; the exact percentiles become five
      // rank-selection aggregates (rankSelectAgg — bit-identical to the
      // builtin's Hive interpolation, pinned in WindowOpsSpec) riding
      // the SAME final aggregate as the sketch-contract rank counts, so
      // the O(distinct) state is gone and one of the two full passes'
      // aggregate work went from SortAggregate-with-array-buffers to a
      // plain codegen HashAggregate of 26 scalars.
      val ranked = Summaries.globalRanked(
        Tables.lineitem(s, d).select(col("l_extendedprice").as("v")),
        col("v"))
      val agg1 = ranked.agg(
        percentile_approx(col("__x"), probsArr, lit(acc)).as("q"))
      // Tie-aware rank contract: a returned value q with duplicates
      // occupies the whole rank interval [count(v < q) + 1, count(v <= q)]
      // — the sketch guarantee is that SOME rank of q lies within
      // n/accuracy of p·n, so the check is interval-vs-interval overlap
      // (count(v < q) ≤ p·n + slack AND count(v <= q) ≥ p·n − slack),
      // not a single count with one unit of slack, which a legitimate
      // result can fail when the data carries many duplicates at q.
      val rankCols = Seq(count(lit(1)).as("n")) ++
        probs.zipWithIndex.map { case (p, i) =>
          Summaries.rankSelectAgg(p).as(s"__q$i") } ++
        probs.indices.flatMap(i => Seq(
          Summaries.countIf(
            col("__x") < element_at(col("q"), i + 1)).as(s"__lt$i"),
          Summaries.countIf(
            col("__x") <= element_at(col("q"), i + 1)).as(s"__le$i")))
      val ranks = ranked.crossJoin(broadcast(agg1))
        .agg(rankCols.head, rankCols.tail: _*)
      ranks
        .select(posexplode(probsArr).as(Seq("__i", "prob")),
          col("n"),
          map(probs.indices.flatMap(i =>
            Seq(lit(i), col(s"__q$i"))): _*).as("__qx"),
          map(probs.indices.flatMap(i =>
            Seq(lit(i), col(s"__lt$i"))): _*).as("__rml"),
          map(probs.indices.flatMap(i =>
            Seq(lit(i), col(s"__le$i"))): _*).as("__rme"))
        .select(col("prob"), col("n"),
          round(element_at(col("__qx"), col("__i")), 6).as("exact_q"),
          ((element_at(col("__rml"), col("__i")) <=
            col("prob") * col("n") + col("n") / acc + 1) &&
            (element_at(col("__rme"), col("__i")) >=
              col("prob") * col("n") - col("n") / acc - 1))
            .as("within_rank_bound"))
        .orderBy(col("prob"))
    }, oracle = Some(
      // w30: the four booleans are the MG guarantees (hold under any
      // partitioning); n_true_hh / hh_exact_count are exact SQL values
      // w33: exact side re-derived (the w6 quantile_cont convention);
      // the rank-bound boolean is the w30 literal-true contract — the
      // hash matches only if Spark's sketch actually met its guarantee
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem),
        |qq AS (SELECT quantile_cont(v, [0.25, 0.5, 0.75, 0.95, 0.99])
        |    AS qs, CAST(count(*) AS BIGINT) AS n FROM v)
        |SELECT [0.25, 0.5, 0.75, 0.95, 0.99][i] AS prob, n,
        |  round(qs[i], 6) AS exact_q, true AS within_rank_bound
        |FROM qq CROSS JOIN (SELECT unnest(range(1, 6)) AS i)
        |ORDER BY prob""".stripMargin)),

    QuerySpec("w30_heavy_hitters", (s, d) => {
      val K = 16
      val mg = udaf(new graft.functions.MisraGriesAggregator(K))
      val skew = Tables.lineitem(s, d).select(
        when(pmod(col("l_partkey"), lit(5)) === 0, lit(0L))
          .otherwise(pmod(col("l_partkey"), lit(997))).as("key"))
      val est = skew.agg(mg(col("key")).as("sketch"))
        .select(explode(col("sketch")).as(Seq("key", "est")))
        .localCheckpoint(eager = false) // feeds two contract joins
      val exact = skew.groupBy(col("key")).agg(count(lit(1)).as("exact"))
        .localCheckpoint(eager = false)
      val tot = skew.agg(count(lit(1)).as("n"))
      val trueHh = exact.crossJoin(tot)
        .filter(col("exact") * (K + 1) > col("n"))
      val captured = trueHh.join(est, Seq("key"), "left_anti")
        .agg(count(lit(1)).as("n_missed"))
      val bounds = est.join(exact, Seq("key"), "left").crossJoin(tot)
        .agg(
          (max(when(col("est") > col("exact"), 1).otherwise(0)) === 0)
            .as("est_le_exact"),
          (max(when((col("exact") - col("est")) * (K + 1) > col("n"), 1)
            .otherwise(0)) === 0).as("err_within_bound"),
          (count(lit(1)) <= K).as("at_most_k"))
      val hhStats = trueHh.agg(count(lit(1)).as("n_true_hh"),
        sum(col("exact")).cast("long").as("hh_exact_count"))
      captured.crossJoin(bounds).crossJoin(hhStats)
        .select((col("n_missed") === 0).as("hh_captured"),
          col("est_le_exact"), col("err_within_bound"), col("at_most_k"),
          col("n_true_hh"), col("hh_exact_count"))
    }, oracle = Some(
      """WITH skew AS (SELECT CASE WHEN l_partkey % 5 = 0 THEN 0
        |    ELSE l_partkey % 997 END AS key FROM lineitem),
        |hh AS (SELECT key, count(*) AS exact FROM skew GROUP BY key
        |  HAVING count(*) * 17 > (SELECT count(*) FROM skew))
        |SELECT true AS hh_captured, true AS est_le_exact,
        |  true AS err_within_bound, true AS at_most_k,
        |  (SELECT count(*) FROM hh) AS n_true_hh,
        |  (SELECT CAST(sum(exact) AS BIGINT) FROM hh) AS hh_exact_count""".stripMargin)),

    // V15 — first-order Markov transition matrix over each user's
    // time-ordered event stream (the behavioral model behind
    // next-action prediction and anomalous-flow scoring): count
    // cur_type→next_type transitions, then P(next|cur). The heavy
    // event frame shuffles ONCE (the user_id lead window); the
    // transition matrix itself is |types|²-tiny, so the conditional
    // probabilities are a second aggregate over a bounded frame.
    // Epoch-µs ordering (the v9 convention); ties pinned by event_id.
    // p = n·1.0/rowtotal is one double division of exact longs —
    // deterministic; round(·,6) quantizes identically in both engines.
    // V16 — exponentially-weighted moving average (α = ½) of each
    // user's metric stream over the trailing 20 events: the standard
    // recency-weighted smoother behind drift monitors and rate
    // estimators, in a form that is EXACTLY deterministic across
    // engines. Every weight is a power of two (0.5^k parses to an
    // exact double literal in both engines), values quantize to
    // centi-unit longs, so every product vu·2⁻ᵏ is an exact dyadic and
    // the 20-term sum is exact in ANY association — no decimal cast,
    // no ordering convention needed, pure IEEE. One user_id exchange
    // feeds all 20 lag() expressions in a single window sort; the
    // normalizer counts only the lags that exist, so early rows get a
    // proper truncated-window mean. Scale: window state is 20 rows per
    // user regardless of stream length.
    QuerySpec("v16_ewma_smoothing", (s, d) => {
      val quantized = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("long").as("vu"))
      WindowOps.ewmaHalfLife(quantized, col("user_id"),
          Seq(col("us"), col("event_id")), col("vu"),
          depth = 20, scale = 100.0, outCol = "ewma")
        .select(col("event_id"), col("user_id"), col("ewma"))
        .orderBy(col("event_id"))
    }, oracle = Some(ewmaOracleSql(20))),

    // V17 — last-touch attribution: each purchase attributes to the
    // user's LATEST preceding click within a 7-day window (the
    // marketing-attribution / cause-assignment op every event pipeline
    // runs). Rides Joins.asOfJoin — union + one ordered window per
    // user, NO range join and no per-key quadratic work — then a left
    // join re-attaches never-attributed purchases (out-of-window or
    // click-less) as NULL rows, keeping the output total over
    // purchases. Epoch-µs arithmetic throughout (the v9 convention);
    // simultaneous clicks dedupe to max event_id upstream so the
    // as-of match is deterministic; gap_s is exact integer division.
    QuerySpec("v17_attribution", (s, d) => {
      val W7 = 604800000000L // 7 days in µs
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("us"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("us").as("click_us"), col("click_id"))
      val att = Joins.asOfJoin(purchases, clicks, "user_id",
        "us", "click_us", Seq("click_id", "click_us"))
      purchases
        .join(att.select(col("event_id"), col("click_id"), col("click_us")),
          Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          when(col("us") - col("click_us") <= W7, col("click_id"))
            .as("click_id"),
          when(col("us") - col("click_us") <= W7,
            expr("(us - click_us) div 1000000")).as("gap_s"))
        .orderBy(col("event_id"))
    }, oracle = Some(
      // v17 replays the as-of union trick: clicks and purchases interleave
      // in one per-user window ordered (us, side) with clicks first at
      // ties (inclusive as-of, the Joins.asOfJoin convention); the
      // IGNORE NULLS last_value carries the latest click forward. The two
      // filled columns cannot blend rows: click_id/cus are never null on
      // click rows, always null on purchase rows.
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |  FROM events),
        |c AS (
        |  SELECT user_id, us, max(event_id) AS click_id FROM ev
        |  WHERE event_type = 'click' GROUP BY user_id, us),
        |u AS (
        |  SELECT user_id, us, NULL AS cid, NULL AS cus, 1 AS side,
        |    event_id
        |  FROM ev WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, us, click_id, us, 0, NULL FROM c),
        |f AS (
        |  SELECT *,
        |    last_value(cid IGNORE NULLS) OVER ww AS lc,
        |    last_value(cus IGNORE NULLS) OVER ww AS lcus
        |  FROM u WINDOW ww AS (PARTITION BY user_id ORDER BY us, side
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  CASE WHEN us - lcus <= 604800000000 THEN lc END AS click_id,
        |  CASE WHEN us - lcus <= 604800000000 THEN (us - lcus) // 1000000
        |    END AS gap_s
        |FROM f WHERE side = 1 ORDER BY event_id""".stripMargin)),

    // O11 — ANALYZE-style column statistics in ONE fact-table pass
    // (null count, exact distinct count, min/max per numeric column) —
    // the table-stats surface a cost-based optimizer and a zone-map
    // pruner feed on. All 5 columns' aggregates fold into a single
    // hash-agg scan (no per-column rescan); the wide one-row result
    // unpivots via stack() into the stats-table shape. min/max are
    // exact input doubles (no float convention needed); distinct
    // counts are exact — swap in approx_count_distinct past the
    // memory budget (documented, not needed at oracle scale).
    QuerySpec("o11_column_stats", (s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_suppkey")
      // r15 (guide §2.3/§2.4): ONE aggregate carrying five
      // countDistinct columns plans Spark's multi-distinct rewrite —
      // an Expand that multiplies every fact row ×5 through the
      // partial aggregate (and the whole expand ran at the SCAN's
      // parallelism: 3 file partitions at sf0.1, so 3 of 32 cores did
      // all the work — r15 stage profile). Per-column aggregates are
      // value-identical, skip Expand entirely (single-distinct plans
      // the 4-phase no-expand form), prune each branch's scan to its
      // ONE column (same total parquet bytes as the fused scan), and
      // the five branches fill the scheduler concurrently.
      cols.map { c =>
        Tables.lineitem(s, d)
          .select(col(c))
          .agg(sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c).cast("double")).as("min_v"),
            max(col(c).cast("double")).as("max_v"))
          .select(lit(c).as("col_name"), col("n_nulls"),
            col("n_distinct"), col("min_v"), col("max_v"))
      }.reduce(_.unionByName(_)).orderBy(col("col_name"))
    }, oracle = Some(
      // o11: one aggregate pass unpivoted — min/max are exact input
      // doubles, null/distinct counts exact integers; no float convention
      {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_suppkey")
      val aggs = cols.map { c =>
        s"""    sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS ${c}_nn,
           |    count(DISTINCT $c) AS ${c}_nd,
           |    min(CAST($c AS DOUBLE)) AS ${c}_mn,
           |    max(CAST($c AS DOUBLE)) AS ${c}_mx""".stripMargin
      }.mkString(",\n")
      val rows = cols.map { c =>
        s"SELECT '$c' AS col_name, CAST(${c}_nn AS BIGINT) AS n_nulls, " +
          s"${c}_nd AS n_distinct, ${c}_mn AS min_v, ${c}_mx AS max_v FROM a"
      }.mkString("\n", "\nUNION ALL ", "")
      s"WITH a AS (\n  SELECT\n$aggs\n  FROM lineitem)$rows\nORDER BY col_name"
    })),

    // O12 — declarative DATA-QUALITY AUDIT (the Deequ-style constraint
    // suite every ingest gate runs before data reaches training): six
    // named checks — key uniqueness, FK referential integrity, two
    // numeric range rules, non-empty text, derived-column consistency —
    // emitted as one (check_name, total_rows, violations, passed)
    // frame. Scale shape: each table's rule set folds into ONE
    // aggregate pass (countIf per rule, stack() to rows — the o11/w9
    // pattern), and the FK check is a LEFT ANTI join — broadcast when
    // the referenced key side fits (customer here), the same
    // shuffle-anti-join at 100 TB that d7 decontamination runs. The
    // driver tables are fully clean, so each violation class is
    // INJECTED deterministically (dup keys 1-in-100, orphan custkeys
    // 1-in-50, out-of-range quantities 1-in-200 — the w9
    // injected-missingness rule): a constant-zero audit would be
    // oracle-dead; the two control rows that DO pass stay green
    // against the same machinery.
    QuerySpec("o12_integrity_audit", (s, d) => {
      val chk = (name: String, total: Column, bad: Column) =>
        struct(lit(name).as("check_name"), total.as("total_rows"),
          bad.as("violations"), (bad === 0L).as("passed"))
      // customer + 1-in-100 duplicated keys → uniqueness violations
      val cust = Tables.customer(s, d)
      val custAug = cust.unionByName(cust.filter(col("c_custkey") % 100 === 0))
      val uniq = custAug.agg(
        chk("customer.c_custkey unique",
          count(lit(1)),
          count(lit(1)) - countDistinct(col("c_custkey"))).as("r"))
      // orders + 1-in-50 re-keyed rows → FK orphans vs real customers
      val ordAug = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .unionByName(Tables.orders(s, d)
          .filter(col("o_orderkey") % 50 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            (col("o_custkey") + 10000000L).as("o_custkey")))
        .localCheckpoint(eager = false) // total + anti-join share it
      val nOrd = ordAug.agg(count(lit(1)).as("t"))
      val orphans = ordAug
        .join(cust.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("bad"))
      val fk = orphans.crossJoin(nOrd)
        .select(chk("orders.o_custkey in customer", col("t"), col("bad"))
          .as("r"))
      // lineitem + 1-in-200 out-of-range quantities; discount rule is
      // the passing control on the same pass
      val liAug = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"))
        .unionByName(Tables.lineitem(s, d)
          .filter(col("l_orderkey") % 200 === 0 && col("l_linenumber") === 1)
          .select((col("l_orderkey") + 10000000L).as("l_orderkey"),
            col("l_linenumber"),
            (col("l_quantity") + 100.0).as("l_quantity"), col("l_discount")))
      val li = liAug.agg(
        count(lit(1)).as("t"),
        Summaries.countIf(col("l_quantity") < 1.0 ||
          col("l_quantity") > 50.0).as("q_bad"),
        Summaries.countIf(col("l_discount") < 0.0 ||
          col("l_discount") > 0.1).as("d_bad"))
        .select(array(
          chk("lineitem.l_quantity in [1,50]", col("t"), col("q_bad")),
          chk("lineitem.l_discount in [0,0.1]", col("t"), col("d_bad")))
          .as("rs"))
        .select(explode(col("rs")).as("r"))
      // documents: non-empty text + n_chars consistency, one pass
      val docs = Tables.documents(s, d).agg(
        count(lit(1)).as("t"),
        Summaries.countIf(col("text").isNull || col("text") === "")
          .as("e_bad"),
        Summaries.countIf(!(col("n_chars") === length(col("text"))))
          .as("c_bad"))
        .select(array(
          chk("documents.text non-empty", col("t"), col("e_bad")),
          chk("documents.n_chars = len(text)", col("t"), col("c_bad")))
          .as("rs"))
        .select(explode(col("rs")).as("r"))
      uniq.unionByName(fk).unionByName(li).unionByName(docs)
        .select(col("r.check_name"), col("r.total_rows"),
          col("r.violations"), col("r.passed"))
        .orderBy(col("check_name"))
    }, oracle = Some(
      // o12 replays the injected-violation audit: the same 1-in-100 /
      // 1-in-50 / 1-in-200 augmentation CTEs, each rule an integer
      // conditional count, FK orphans via NOT EXISTS (the anti join)
      """WITH cust_aug AS (
        |  SELECT * FROM customer
        |  UNION ALL SELECT * FROM customer WHERE c_custkey % 100 = 0
        |), ord_aug AS (
        |  SELECT o_orderkey, o_custkey FROM orders
        |  UNION ALL SELECT o_orderkey + 10000000, o_custkey + 10000000
        |  FROM orders WHERE o_orderkey % 50 = 0
        |), li_aug AS (
        |  SELECT l_quantity, l_discount FROM lineitem
        |  UNION ALL SELECT l_quantity + 100.0, l_discount
        |  FROM lineitem WHERE l_orderkey % 200 = 0 AND l_linenumber = 1
        |)
        |SELECT * FROM (
        |  SELECT 'customer.c_custkey unique' AS check_name,
        |    count(*) AS total_rows,
        |    count(*) - count(DISTINCT c_custkey) AS violations,
        |    count(*) - count(DISTINCT c_custkey) = 0 AS passed
        |  FROM cust_aug
        |  UNION ALL
        |  SELECT 'orders.o_custkey in customer', count(*),
        |    CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c
        |          WHERE c.c_custkey = o.o_custkey) THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c
        |          WHERE c.c_custkey = o.o_custkey) THEN 1 ELSE 0 END) = 0
        |  FROM ord_aug o
        |  UNION ALL
        |  SELECT 'lineitem.l_quantity in [1,50]', count(*),
        |    CAST(sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
        |          THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
        |          THEN 1 ELSE 0 END) = 0
        |  FROM li_aug
        |  UNION ALL
        |  SELECT 'lineitem.l_discount in [0,0.1]', count(*),
        |    CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
        |          THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
        |          THEN 1 ELSE 0 END) = 0
        |  FROM li_aug
        |  UNION ALL
        |  SELECT 'documents.text non-empty', count(*),
        |    CAST(sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) = 0
        |  FROM documents
        |  UNION ALL
        |  SELECT 'documents.n_chars = len(text)', count(*),
        |    CAST(sum(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END) = 0
        |  FROM documents
        |) ORDER BY check_name""".stripMargin)),

    QuerySpec("v15_markov_transitions", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cur_type"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("cur_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p",
          round(col("n") * lit(1.0) / sum(col("n")).over(wc), 6))
        .orderBy(col("cur_type"), col("next_type"))
    }, oracle = Some(
      // v15 replays the lead window on epoch-µs longs (the v9
      // convention); p is one double division of exact counts, round 6
      """WITH t AS (
        |  SELECT event_type AS cur_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS next_type
        |  FROM events),
        |c AS (
        |  SELECT cur_type, next_type, count(*) AS n FROM t
        |  WHERE next_type IS NOT NULL GROUP BY cur_type, next_type)
        |SELECT cur_type, next_type, n,
        |  round(CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY cur_type) AS DOUBLE), 6) AS p
        |FROM c ORDER BY cur_type, next_type""".stripMargin)),

    // G7 — label-propagation community detection (3 synchronous
    // iterations) on the shared trading graph: the cheap plurality-
    // voting community pass (no modularity optimization, no floats)
    // that groups customers/suppliers into trading cliques. All-integer
    // plurality + min-label tie-break makes the iteration exactly
    // replayable; the oracle chains one CTE per iteration with the
    // identical window tie-break. Per iteration one edges⋈labels
    // broadcast join + one (node, label) count — the pageRank
    // superstep's cost shape with no decimal sum needed.
    QuerySpec("g7_label_propagation", (s, d) => {
      graft.operators.Graph
        .labelPropagation(tradingEdges(s, d), iterations = 3)
        .orderBy(col("node"))
    }, oracle = Some(labelPropagationOracleSql(3))),

    // S20 — temperature-balanced domain resampling (the multinomial
    // α-temperature mix every multi-source LM corpus is drawn with,
    // α = 0.5): target share ∝ √n_source, total budget half the
    // corpus, acceptance per doc by deterministic multiplicative hash
    // (the s8 family) against the per-source rate. Determinism: √n is
    // one IEEE sqrt per SOURCE quantized to integer micro-units
    // (round·1e6 — the v11/v13 trick), the share sum S is an exact
    // BIGINT sum, each rate is one double division of exact integer
    // products, and the hash threshold floor(rate·2²⁰) compares as
    // longs. Scale: two passes over (doc_id, source) — a grouped
    // count, then a broadcast rate join + filter; the corpus never
    // sorts and nothing non-combinable touches the fat frame.
    QuerySpec("s20_temperature_resample", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val counts = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
        .withColumn("w", round(sqrt(col("n")) * 1e6).cast("long"))
      val totals = counts.agg(sum(col("w")).as("sw"),
        expr("sum(n) div 2").as("budget"))
      val rates = counts.crossJoin(broadcast(totals))
        .withColumn("rate",
          least(lit(1.0), (col("budget") * col("w")).cast("double")
            / (col("sw") * col("n")).cast("double")))
        .withColumn("thresh",
          floor(col("rate") * lit(1048576L)).cast("long"))
      docs
        .withColumn("h",
          col("doc_id") % 999983 * lit(2654435761L) % 1048576)
        .join(broadcast(rates), Seq("source"))
        .filter(col("h") < col("thresh"))
        // the broadcast join already carried n and rate — group on them
        // (the oracle's GROUP BY source, n, rate) instead of re-joining
        // rates, which would re-run the whole counts→totals pipeline
        .groupBy(col("source"), col("n"), col("rate"))
        .agg(count(lit(1)).as("n_sampled"))
        .select(col("source"), col("n").as("n_docs"),
          round(col("rate"), 6).as("rate"), col("n_sampled"))
        .orderBy(col("source"))
    }, oracle = Some(
      // s20: sqrt is IEEE-identical per source, micro-unit quantized;
      // the rate is exact-integer products divided once as double
      """WITH docs AS (SELECT doc_id, source FROM documents),
        |counts AS (
        |  SELECT source, count(*) AS n,
        |    CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT) AS w
        |  FROM docs GROUP BY source),
        |totals AS (SELECT CAST(sum(w) AS BIGINT) AS sw,
        |  CAST(sum(n) // 2 AS BIGINT) AS budget FROM counts),
        |th AS (
        |  SELECT source, n,
        |    least(1.0, CAST(budget * w AS DOUBLE) / CAST(sw * n AS DOUBLE))
        |      AS rate
        |  FROM counts, totals)
        |SELECT t.source, t.n AS n_docs, round(t.rate, 6) AS rate,
        |  count(*) AS n_sampled
        |FROM docs d JOIN th t ON d.source = t.source
        |WHERE d.doc_id % 999983 * 2654435761 % 1048576
        |  < CAST(floor(t.rate * 1048576) AS BIGINT)
        |GROUP BY t.source, t.n, t.rate
        |ORDER BY t.source""".stripMargin)),

    // W31 — count-min sketch frequency estimation
    // (Summaries.countMinEstimates) over the w30 skewed key stream,
    // reported for the top-20 keys against their exact counts: 4 hash
    // rows × 256 cells of combinable integer state (the fixed-size
    // streaming frequency sketch, CM estimate = min over rows; the
    // hash rows use large-multiplier mixing so they genuinely
    // decorrelate — see the operator's scaladoc). The integer hash
    // family lets DuckDB replay the ENTIRE sketch bit-for-bit — est,
    // exact, and the overestimate column are all value-verified, and
    // est ≥ exact for EVERY key by construction (asserted over the
    // full key set in ScaleSpec). Scale: the fat stream posexplodes
    // ×4 then map-side combines into ≤1024 cells; the probe side
    // joins the broadcast sketch.
    QuerySpec("w31_count_min", (s, d) => {
      val skew = Tables.lineitem(s, d).select(
        when(pmod(col("l_partkey"), lit(5)) === 0, lit(0L))
          .otherwise(pmod(col("l_partkey"), lit(997))).as("key"))
      val est = Summaries.countMinEstimates(skew, "key")
      skew.groupBy(col("key")).agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("key")).limit(20)
        .join(est, Seq("key"))
        .select(col("key"), col("exact"), col("est"),
          (col("est") - col("exact")).as("overest"))
        .orderBy(col("exact").desc, col("key"))
    }, oracle = Some(
      // w31: the whole sketch replays bit-for-bit (integer hash family —
      // the large-multiplier decorrelated rows, Summaries.cmCell), so
      // est/exact/overest are all value-checked
      """WITH skew AS (
        |  SELECT CASE WHEN l_partkey % 5 = 0 THEN 0
        |    ELSE l_partkey % 997 END AS key FROM lineitem),
        |rows4 AS (SELECT * FROM (VALUES (0, 2654435761, 7),
        |  (1, 2246822519, 11), (2, 3266489917, 13),
        |  (3, 668265263, 17)) AS t(j, a, b)),
        |sketch AS (
        |  SELECT j, (key * a + b) % 999983 % 256 AS cell,
        |    count(*) AS cnt
        |  FROM skew CROSS JOIN rows4 GROUP BY 1, 2),
        |top AS (
        |  SELECT key, count(*) AS exact FROM skew GROUP BY key
        |  ORDER BY exact DESC, key LIMIT 20),
        |probe AS (
        |  SELECT key, exact, min(cnt) AS est FROM (
        |    SELECT t.key, t.exact, r.j,
        |      (t.key * r.a + r.b) % 999983 % 256 AS cell
        |    FROM top t CROSS JOIN rows4 r) p
        |  JOIN sketch s ON s.j = p.j AND s.cell = p.cell
        |  GROUP BY key, exact)
        |SELECT key, exact, est, est - exact AS overest
        |FROM probe ORDER BY exact DESC, key""".stripMargin))
  )

  /** DuckDB replay of Graph.pageRank's rounded iteration system: one
    * chained CTE per superstep, identical rounding/decimal-sum points.
    * All constants forced to DOUBLE — DuckDB parses `0.85` as DECIMAL,
    * and decimal 0.15 casts to a DIFFERENT double than the IEEE
    * subtraction 1.0−0.85 both engines actually compute. The weighted
    * form replays contribution = (rank·w)/Σw with the identical paren
    * placement (one double multiply then one double divide) and casts
    * DuckDB's HUGEINT sum(BIGINT) back to BIGINT so the divisions see
    * the same operand types. */
  /** Build-once/analyze-many trading-graph artifact: the distinct
    * customer↔supplier pairs from orders⋈lineitem WITH their lineitem
    * co-occurrence count — the one fact-table pass every g-family
    * consumer starts from (g1/g3/g4 read the keys as the unweighted
    * graph, g2 reads `w` as the edge weight). Shared per
    * (session, sfDir) via the PqArtifact pattern: in production the
    * graph is extracted from the fact table once and a SUITE of
    * analytics runs over it; re-deriving the orders⋈lineitem join per
    * query would re-pay the biggest shuffle four times. The lazy
    * localCheckpoint keeps the frame recomputable from lineage on
    * executor loss. */
  /** Shared TF-IDF scored frame (doc_id, term, round-6 tfidf) — t8's
    * posting machinery, factored so t8 (global top-20) and t25
    * (per-doc top-3) rank the SAME scores. tf materializes once: it
    * feeds both the per-doc total window and dfreq — Spark shares no
    * subplans across DataFrame reuse, so without the barrier the
    * explode+groupBy would evaluate twice. */
  private def tfidfScores(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tok = Tables.spread(docs).select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    tf.withColumn("total", sum(col("cnt")).over(wDoc))
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round((col("cnt") * lit(1.0) / col("total"))
          * log(col("n") * lit(1.0) / col("df")), 6).as("tfidf"))
  }

  /** The x2/x3/x4 shared export tier: the frozen t28 merge table
    * (k = 4, learned once off the reference corpus) and the
    * curate→BPE-count→shard doc-grain frame every export query
    * consumes — built once and checkpointed, the [[TradingPairs]]
    * build-once contract applied to the export family. The manifest
    * (x2), the window index (x3) and the inverse attribution (x4) each
    * add only their own bounded tail over this frame (see
    * `Curation.manifestFromDocGrain` / `packedWindowsFromDocGrain` /
    * `docWindowsFromDocGrain`). */
  private[graft] object ExportTier
      extends Artifact[(Seq[(String, String)], DataFrame)](
        "export_doc_grain" -> (_._2.count())) {
    /** (frozen merge table, checkpointed doc-grain frame). */
    protected def build(s: SparkSession, d: String)
        : (Seq[(String, String)], DataFrame) = {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val merges = Bpe.learnMerges(Tables.spread(docs), "text", k = 4)
        .orderBy(col("merge_rank"))
        .select(col("sym_a"), col("sym_b"))
        .as[(String, String)].collect().toSeq
      val dg = Curation.exportDocGrain(
          Tables.spread(Tables.documentsWithDups(s, d)),
          docs.filter(col("doc_id") % 20 === 0), merges,
          "text", "doc_id", "source", "n_chars", numShards = 8,
          seed = "epoch42", keepText = false)
        .localCheckpoint(eager = false)
      (merges, dg)
    }
  }

  private[graft] object TradingPairs
      extends Artifact[DataFrame]("trading_pairs" -> (_.count())) {
    /** (c, s, w) — one row per distinct trading pair; w = #lineitems. */
    protected def build(s: SparkSession, d: String): DataFrame =
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
          Seq("o_orderkey"))
        .groupBy(
          concat(lit("c"), col("o_custkey").cast("string")).as("c"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("s"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint(eager = false)
  }

  /** The g5/g6 graph: support-≥2 part co-purchase pairs from the
    * lineitem self-join — the other shared graph-extraction artifact
    * (triangle counting and edge Jaccard both start from it; the
    * self-join is the costliest step either query runs). Same
    * build-once contract as [[TradingPairs]]. */
  private[graft] object CoPurchasePairs
      extends Artifact[DataFrame]("copurchase_pairs" -> (_.count())) {
    /** (src, dst) — canonical src < dst part pairs with support ≥ 2. */
    protected def build(s: SparkSession, d: String): DataFrame = {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
      li.as("x").join(li.as("y"), Seq("l_orderkey"))
        .filter(col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("src"),
          col("y.l_partkey").as("dst"))
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 2)
        .select(col("src"), col("dst"))
        .localCheckpoint(eager = false)
    }
  }

  /** The g1/g3 graph: distinct customer↔supplier trading pairs from
    * orders⋈lineitem, symmetrized (every dst is also a src, so rank
    * mass is conserved — the GraphPropsSpec closed-graph property). */
  private[graft] def tradingEdges(s: SparkSession, d: String): DataFrame = {
    val ce = TradingPairs(s, d).select(col("c"), col("s"))
    ce.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(ce.select(col("s").as("src"), col("c").as("dst")))
  }

  /** The d18/d20 shared artifact: the injected corpus (the planted
    * 30-token passage on every doc_id % 7 == 0) and its positioned
    * 8-token shingle frame — the md5 shingle explode is the span
    * family's dominant cost, and both the envelope (d18) and the exact
    * (d20) operator consume the identical frame. Same build-once
    * contract as [[TradingPairs]]/[[TradingRank]]. */
  private[graft] object InjectedShingles
      extends Artifact[(DataFrame, DataFrame)]("injected_shingles" -> {
        case (docs, sh) => docs.count(); sh.count()
      }) {
    /** (injected docs, checkpointed (doc_id, pos, h) shingles). */
    protected def build(s: SparkSession, d: String): (DataFrame, DataFrame) = {
      val injected = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" " + DedupPassage)))
            .otherwise(col("text")).as("text"))
        .localCheckpoint(eager = false)
      val sh = Dedup
        .positionedShingleFrame(injected, "doc_id", "text", width = 8)
        .localCheckpoint(eager = false)
      (injected, sh)
    }
  }

  /** The g1/g3/g4 shared PageRank run over [[tradingEdges]]: one
    * prepared edge frame and ONE chain of checkpointed unweighted
    * iterates serve the fixed-count (g1), convergence-stopped (g3) and
    * personalized (g4) queries — the [[TradingPairs]] build-once
    * contract applied to supersteps themselves (g1 and g3 walk the same
    * rounded system; g4 shares the prepared frames). An entry holds
    * one |nodes|-sized iterate chain per (session, dir) queried. g3's
    * convergence walk can extend the chain past the 5 fixed iterations,
    * so the second force step walks it to full depth: the whole chain
    * then exists before Bench's sweep and is cleanup-protected. */
  private[graft] object TradingRank extends Artifact[graft.operators.Graph.Run](
      "trading_rank_5it" -> (_.ranks(iterations = 5).count()),
      "trading_rank_converged" ->
        (_.converged(maxIterations = 10, epsilon = 1.0)._1.count())) {
    protected def build(s: SparkSession, d: String): graft.operators.Graph.Run =
      graft.operators.Graph.run(tradingEdges(s, d))
  }

  /** Personalized-PageRank oracle: the g1 chained-CTE replay with the
    * per-node teleport (1/|seeds| on seeds, 0 elsewhere) re-attached
    * each iteration via a LEFT JOIN against the seed set. */
  private def personalizedPageRankOracleSql(iters: Int): String = {
    val base =
      """WITH ce AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS s, 1 AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), e AS (
        |  SELECT c AS src, s AS dst, w FROM ce
        |  UNION ALL SELECT s, c, w FROM ce
        |), deg AS (
        |  SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY src
        |), nodes AS (SELECT DISTINCT src FROM e),
        |seeds AS (
        |  SELECT DISTINCT n.src FROM nodes n
        |  JOIN customer c ON n.src = 'c' || CAST(c.c_custkey AS VARCHAR)
        |  WHERE c.c_custkey % 100 = 0
        |), ns AS (SELECT count(*) AS ns FROM seeds),
        |t AS (
        |  SELECT n.src AS node,
        |    CASE WHEN s.src IS NOT NULL THEN CAST(1.0 AS DOUBLE) / ns.ns
        |         ELSE CAST(0.0 AS DOUBLE) END AS tele
        |  FROM nodes n LEFT JOIN seeds s ON n.src = s.src, ns
        |),
        |r0 AS (SELECT node, tele AS rank, tele FROM t)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT t.node,
         |    round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * t.tele
         |      + CAST(0.85 AS DOUBLE)
         |        * CAST(COALESCE(c.csum, CAST(0 AS DECIMAL(38,12)))
         |            AS DOUBLE), 9) AS rank,
         |    t.tele
         |  FROM t LEFT JOIN (
         |    SELECT e.dst AS node,
         |      sum(CAST(round((r.rank * e.w) / d.outw, 12)
         |        AS DECIMAL(38,12))) AS csum
         |    FROM e JOIN r${k - 1} r ON e.src = r.node
         |      JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst
         |  ) c ON t.node = c.node
         |)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$its\nSELECT node, rank FROM r$iters ORDER BY node"
  }

  /** HITS oracle: chained CTEs, two half-steps per iteration — each
    * half-step the exact-decimal sum of round-12 scores followed by one
    * double division rounded to 9 (Graph.hits's rounded system). */
  private def hitsOracleSql(iters: Int): String = {
    val base =
      """WITH ce AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), hn AS (SELECT count(DISTINCT c) AS n FROM ce),
        |h0 AS (
        |  SELECT DISTINCT c AS node, CAST(1.0 AS DOUBLE) / n AS score
        |  FROM ce, hn
        |)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""a${k}r AS (
         |  SELECT ce.s AS node,
         |    sum(CAST(round(h.score, 12) AS DECIMAL(38,12))) AS raw
         |  FROM ce JOIN h${k - 1} h ON ce.c = h.node GROUP BY ce.s
         |), a$k AS (
         |  SELECT node, round(CAST(raw AS DOUBLE)
         |    / CAST((SELECT sum(raw) FROM a${k}r) AS DOUBLE), 9) AS score
         |  FROM a${k}r
         |), h${k}r AS (
         |  SELECT ce.c AS node,
         |    sum(CAST(round(a.score, 12) AS DECIMAL(38,12))) AS raw
         |  FROM ce JOIN a$k a ON ce.s = a.node GROUP BY ce.c
         |), h$k AS (
         |  SELECT node, round(CAST(raw AS DOUBLE)
         |    / CAST((SELECT sum(raw) FROM h${k}r) AS DOUBLE), 9) AS score
         |  FROM h${k}r
         |)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$its
       |SELECT side, node, score FROM (
       |  SELECT 'hub' AS side, node, score FROM h$iters
       |  UNION ALL SELECT 'auth' AS side, node, score FROM a$iters
       |) ORDER BY side, node""".stripMargin
  }

  private def pageRankOracleSql(iters: Int, weighted: Boolean): String = {
    val ce =
      if (weighted)
        """  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS c,
          |    's' || CAST(l_suppkey AS VARCHAR) AS s,
          |    CAST(count(*) AS BIGINT) AS w
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |  GROUP BY 1, 2""".stripMargin
      else
        """  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
          |    's' || CAST(l_suppkey AS VARCHAR) AS s, 1 AS w
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin
    val base =
      s"""WITH ce AS (
         |$ce
         |), e AS (
         |  SELECT c AS src, s AS dst, w FROM ce
         |  UNION ALL SELECT s, c, w FROM ce
         |), deg AS (
         |  SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY src
         |), nn AS (SELECT count(DISTINCT src) AS n FROM e),
         |it0 AS (
         |  SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) / n AS rank, n
         |  FROM e, nn
         |)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""it$k AS (
         |  SELECT e.dst AS node,
         |    round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / r.n
         |      + CAST(0.85 AS DOUBLE) * CAST(sum(CAST(round((r.rank * e.w)
         |        / d.outw, 12) AS DECIMAL(38,12))) AS DOUBLE), 9) AS rank,
         |    r.n AS n
         |  FROM e JOIN it${k - 1} r ON e.src = r.node
         |    JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst, r.n
         |)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$its\nSELECT node, rank FROM it$iters ORDER BY node"
  }

  /** DuckDB replay of [[Bpe.learnMerges]] as k chained CTE iterations:
    * same char segmentation (`string_split(w, '')` ↔ the JVM `(?!^)`
    * split — ASCII-only by the shared filter), same pair grain and
    * (count desc, pair asc) argmax, same double-separator merge
    * application (DuckDB `replace` is leftmost non-overlapping too).
    * Counts CAST AS BIGINT per the HUGEINT→float64 driver lesson. */
  private def bpeChainSql(k: Int, applyAll: Boolean): String = {
    val iters = (1 to k).map { i =>
      val prev = s"w${i - 1}"
      val pairAndBest =
        s""", p$i AS (
           |  SELECT unnest(list_transform(range(1, len(string_split(rep, ' '))),
           |    j -> string_split(rep, ' ')[j] || ' ' || string_split(rep, ' ')[j+1]))
           |    AS pair, cnt
           |  FROM $prev
           |), c$i AS (
           |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS pc FROM p$i GROUP BY pair
           |), b$i AS (
           |  SELECT pair, pc FROM c$i ORDER BY pc DESC, pair ASC LIMIT 1
           |)""".stripMargin
      // the learn form (t28) never applies merge k — nothing reads the
      // result; the apply form (t31) applies every learned merge
      val apply =
        if (i == k && !applyAll) ""
        else
          s""", w$i AS (
             |  SELECT w, trim(replace(replace(' ' || replace(rep, ' ', '  ') || ' ',
             |    ' ' || (SELECT string_split(pair, ' ')[1] FROM b$i) || '  ' ||
             |      (SELECT string_split(pair, ' ')[2] FROM b$i) || ' ',
             |    ' ' || (SELECT replace(pair, ' ', '') FROM b$i) || ' '),
             |    '  ', ' ')) AS rep, cnt
             |  FROM $prev
             |)""".stripMargin
      pairAndBest + apply
    }.mkString("\n")
    s"""WITH w0 AS (
       |  SELECT w, array_to_string(string_split(w, ''), ' ') AS rep,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) u
       |  WHERE regexp_matches(w, '^[!-~]+${"$"}')
       |  GROUP BY w
       |)
       |$iters""".stripMargin
  }

  /** t40/t41's shared fixture: the [[SpamMarker]] injection on
    * doc_id % 5 docs (n_chars recomputed post-injection — the d22
    * convention), then the t27 battery distilled into a 0/1 label. */
  private[graft] def spamLabeledDocs(s: SparkSession, d: String): DataFrame = {
    val docs0 = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(SpamMarker)))
          .otherwise(col("text")).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs0.join(
      TextAnalysis.gopherProfile(docs0, "text", "doc_id", "n_chars")
        .select(col("doc_id"),
          (col("reject_reason") === "pass").cast("double").as("label")),
      Seq("doc_id"))
  }

  /** The t40/t41/t42/t43 shared TRAINED MODEL — the
    * [[TradingRank]]/[[InjectedShingles]] build-once contract applied to
    * the classifier family, and also the family's production shape:
    * a model is trained ONCE and then consumed by many queries (apply,
    * cut, audit, eval) — re-running the GD loop per consumer was the
    * same double-compute class the r9 m6 fix removed at query grain.
    * Built per (session, dir): the t27-distilled labeled corpus (one
    * gopher battery for the whole family), the full-corpus trained
    * weights + scored frame (t40's output, t41's cut input, t43's
    * contract input), and the held-out eval row (t42 — its OWN training
    * run over the s18-split train slice; the only part of the family
    * that trains on a different universe). All checkpointed. */
  private[graft] object ClassifierModel extends Artifact[ClassifierParts](
      "classifier_train_score" -> { p => p.weights.count(); p.scored.count() },
      "classifier_heldout_eval" -> (_.evalRow.count())) {
    protected def build(s: SparkSession, d: String): ClassifierParts = {
      import graft.extensions.QualityModel
      lazy val labeled = spamLabeledDocs(s, d)
        .localCheckpoint(eager = false) // full train + split train
      // the s18 split rides the labeled checkpoint WITHOUT its own:
      // the md5 bucket recomputes on each of the ~4 reads (cheap row
      // math) instead of holding a second full-text copy of the
      // corpus in block storage next to `labeled`
      lazy val split = labeled
        .withColumn("__b", pmod(Dedup.md5Hash60(concat(lit("split42:"),
          TextAnalysis.normHash(col("text")))), lit(10)))
      new ClassifierParts(
        () => QualityModel.trainAndScoreParts(labeled, "text",
          "doc_id", "label", numBuckets = 4096, iters = 3, lr = 100.0),
        () => QualityModel.evalHeldOut(split.filter(col("__b") <= 7),
          split.filter(col("__b") >= 8), "text", "doc_id", "label",
          numBuckets = 4096, iters = 3, lr = 100.0))
    }
  }

  /** [[ClassifierModel]]'s parts are LAZY per consumer: a query that
    * only reads `evalRow` never triggers the full-corpus GD run (whose
    * `docs.count()` is eager inside trainAndScoreParts), and vice versa
    * — so filtered Verify/Bench slices and a build-vs-probe cost split
    * (EXPLAIN.md "Round 11 (11)" table, measured by a scale harness
    * last present at commit c6c1c21) each pay exactly the
    * construction they use. */
  private[graft] final class ClassifierParts(full: () => (DataFrame, DataFrame),
      eval: () => DataFrame) {
    private lazy val f = full()
    lazy val weights: DataFrame = f._1
    lazy val scored: DataFrame = f._2.localCheckpoint(eager = false)
    lazy val evalRow: DataFrame = eval().localCheckpoint(eager = false)
  }

  /** t40's replay, CTEs only (callers append their SELECT — t40 reads
    * the final weights, t41 appends an inference pass, t42 passes a
    * `trainPred` and appends a held-out scoring pass): the t27 battery
    * distills labels, then per iteration k: s_k (per-doc error after
    * the σ, round 6), g_k (bucket gradient — per-occurrence terms
    * round 9, DECIMAL sum), w_k (update, round 9). Every CTE
    * MATERIALIZED (each w_k is read by two successors). `corpus0` is
    * the full labeled fixture; `docs0` (the training universe every
    * downstream CTE reads — features, doc counts, w0's bucket set) is
    * its `trainPred` slice, the whole corpus by default. `lab` stays
    * corpus-grain so a held-out scoring pass can read labels too. */
  private def classifierTrainingOracleSql(buckets: Int, iters: Int,
      lr: Double, trainPred: String = "TRUE"): String = {
    val header = s"""WITH corpus0 AS MATERIALIZED (
      |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || '$SpamMarker'
      |    ELSE text END AS text
      |  FROM documents
      |), docs0 AS MATERIALIZED (
      |  SELECT doc_id, text FROM corpus0 WHERE $trainPred
      |), lab AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN reject_reason = 'pass' THEN 1.0 ELSE 0.0 END AS y
      |  FROM (
      |    SELECT doc_id,
      |      CASE WHEN n_words NOT BETWEEN 50 AND 100000 THEN 'word_count'
      |           WHEN mean_word_len NOT BETWEEN 3.0 AND 10.0
      |             THEN 'mean_word_len'
      |           WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
      |           WHEN alpha_frac < 0.8 THEN 'alpha_frac'
      |           WHEN n_stopword_hits < 2 THEN 'stopwords'
      |           ELSE 'pass' END AS reject_reason
      |    FROM (
      |      SELECT doc_id,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |        round((len(text) - len(string_split(text, ' ')) + 1) * 1.0
      |          / len(string_split(text, ' ')), 4) AS mean_word_len,
      |        round(((len(text) - len(replace(text, '#', '')))
      |            + (len(text) - len(replace(text, '...', ''))) / 3) * 1.0
      |          / len(string_split(text, ' ')), 4) AS symbol_ratio,
      |        round(len(list_filter(string_split(text, ' '),
      |            x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
      |          / len(string_split(text, ' ')), 4) AS alpha_frac,
      |        CAST(len(list_filter(string_split(text, ' '), x -> x IN
      |          ('the','be','to','of','and','that','have','with')))
      |          AS BIGINT) AS n_stopword_hits
      |      FROM corpus0))
      |), feats AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % $buckets
      |      AS bucket
      |  FROM (SELECT doc_id, unnest(list_concat(t,
      |      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])))
      |      AS f
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t
      |          FROM docs0))
      |  UNION ALL SELECT doc_id, CAST($buckets AS BIGINT) FROM docs0
      |), docn AS MATERIALIZED (
      |  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n, any_value(l.y) AS y
      |  FROM feats f JOIN lab l ON f.doc_id = l.doc_id GROUP BY f.doc_id
      |), nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM docs0),
      |w0 AS MATERIALIZED (
      |  SELECT DISTINCT bucket, 0.0 AS w FROM feats)""".stripMargin
    val iterSql = (1 to iters).map { k =>
      s""", s$k AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    round(1.0 / (1.0 + exp(-(CAST(sum(CAST(w AS DECIMAL(38,9)))
        |      AS DOUBLE) / d.n))) - d.y, 6) AS e, d.n
        |  FROM feats f JOIN w${k - 1} USING (bucket)
        |  JOIN docn d ON f.doc_id = d.doc_id
        |  GROUP BY d.doc_id, d.n, d.y
        |), g$k AS MATERIALIZED (
        |  SELECT bucket, CAST(sum(CAST(round(e / n, 9) AS DECIMAL(38,9)))
        |    AS DOUBLE) AS g
        |  FROM feats JOIN s$k USING (doc_id) GROUP BY bucket
        |), w$k AS MATERIALIZED (
        |  SELECT w${k - 1}.bucket,
        |    round(w${k - 1}.w - $lr * coalesce(g, 0.0)
        |      / (SELECT nd FROM nd), 9) AS w
        |  FROM w${k - 1} LEFT JOIN g$k USING (bucket))""".stripMargin
    }.mkString
    header + iterSql
  }

  /** t41's replay — the t40 GD chain, then ONE inference pass of the
    * final weights over the training corpus (the decimal score sum is
    * exact, so `kept` decides on its sign, not a rounded sigmoid). */
  private def modelScoredOracleSql(buckets: Int, iters: Int,
      lr: Double): String =
    classifierTrainingOracleSql(buckets, iters, lr) +
      s"""
        |, scored AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    round(1.0 / (1.0 + exp(-(CAST(sum(CAST(w AS DECIMAL(38,9)))
        |      AS DOUBLE) / d.n))), 6) AS model_score,
        |    any_value(d.y) = 1.0 AS rule_label
        |  FROM feats f JOIN w$iters USING (bucket)
        |  JOIN docn d ON f.doc_id = d.doc_id
        |  GROUP BY d.doc_id, d.n)
        |SELECT doc_id, model_score,
        |  model_score >= (SELECT quantile_cont(model_score, 0.5)
        |    FROM scored) AS kept,
        |  rule_label
        |FROM scored ORDER BY doc_id""".stripMargin

  /** t42's replay: the GD chain restricted to the train slice
    * (`trainPred`), then BOTH scoring passes — train (for the median
    * cut; `tscored`) and held-out (`hscored`, whose feature CTEs mirror
    * the builder's but read the complement slice) — and the confusion
    * sums. A held-out feature hashing to a bucket the trainer never saw
    * drops from the score sum but not the denominator, exactly the
    * Spark inner-join-vs-full-count semantics; the always-trained bias
    * bucket guarantees no held-out DOC drops. */
  private def classifierEvalOracleSql(buckets: Int, iters: Int,
      lr: Double): String =
    classifierTrainingOracleSql(buckets, iters, lr,
      trainPred = SplitTrainPred) +
      s"""
        |, ho AS MATERIALIZED (
        |  SELECT doc_id, text FROM corpus0 WHERE NOT ($SplitTrainPred)
        |), hfeats AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % $buckets
        |      AS bucket
        |  FROM (SELECT doc_id, unnest(list_concat(t,
        |      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])))
        |      AS f
        |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM ho))
        |  UNION ALL SELECT doc_id, CAST($buckets AS BIGINT) FROM ho
        |), hdocn AS MATERIALIZED (
        |  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n, any_value(l.y) AS y
        |  FROM hfeats f JOIN lab l ON f.doc_id = l.doc_id GROUP BY f.doc_id
        |), tscored AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    round(1.0 / (1.0 + exp(-(CAST(sum(CAST(w AS DECIMAL(38,9)))
        |      AS DOUBLE) / d.n))), 6) AS model_score
        |  FROM feats f JOIN w$iters USING (bucket)
        |  JOIN docn d ON f.doc_id = d.doc_id
        |  GROUP BY d.doc_id, d.n
        |), hscored AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    round(1.0 / (1.0 + exp(-(CAST(sum(CAST(w AS DECIMAL(38,9)))
        |      AS DOUBLE) / d.n))), 6) AS model_score,
        |    any_value(d.y) = 1.0 AS y
        |  FROM hfeats f JOIN w$iters USING (bucket)
        |  JOIN hdocn d ON f.doc_id = d.doc_id
        |  GROUP BY d.doc_id, d.n
        |), verdicts AS (
        |  SELECT model_score >= (SELECT quantile_cont(model_score, 0.5)
        |    FROM tscored) AS p, y
        |  FROM hscored)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM docs0) AS n_train,
        |  CAST(count(*) AS BIGINT) AS n_heldout,
        |  CAST(count(CASE WHEN p AND y THEN 1 END) AS BIGINT) AS tp,
        |  CAST(count(CASE WHEN p AND NOT y THEN 1 END) AS BIGINT) AS fp,
        |  CAST(count(CASE WHEN NOT p AND y THEN 1 END) AS BIGINT) AS fn,
        |  CAST(count(CASE WHEN NOT p AND NOT y THEN 1 END) AS BIGINT) AS tn,
        |  round(count(CASE WHEN p AND y THEN 1 END) * 1.0
        |    / nullif(count(CASE WHEN p THEN 1 END), 0), 6) AS precision,
        |  round(count(CASE WHEN p AND y THEN 1 END) * 1.0
        |    / nullif(count(CASE WHEN y THEN 1 END), 0), 6) AS recall,
        |  round((count(CASE WHEN p AND y THEN 1 END)
        |    + count(CASE WHEN NOT p AND NOT y THEN 1 END)) * 1.0
        |    / count(*), 6) AS accuracy
        |FROM verdicts""".stripMargin

  /** t43's replay: the exact half of the contract (n_docs, kept_exact
    * from the replayed GD chain + exact median); the two sketch-side
    * booleans are Spark-verified and pinned literal true — DuckDB has
    * no GK sketch to replay (the w33 discipline). */
  private def approxCutOracleSql(buckets: Int, iters: Int,
      lr: Double): String =
    classifierTrainingOracleSql(buckets, iters, lr) +
      s"""
        |, scored AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    round(1.0 / (1.0 + exp(-(CAST(sum(CAST(w AS DECIMAL(38,9)))
        |      AS DOUBLE) / d.n))), 6) AS model_score
        |  FROM feats f JOIN w$iters USING (bucket)
        |  JOIN docn d ON f.doc_id = d.doc_id
        |  GROUP BY d.doc_id, d.n)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(CASE WHEN model_score >=
        |    (SELECT quantile_cont(model_score, 0.5) FROM scored)
        |    THEN 1 END) AS BIGINT) AS kept_exact,
        |  true AS cut_within_rank_bound,
        |  true AS disagree_within_bound
        |FROM scored""".stripMargin

  /** DuckDB replay of [[Bpe.learnMergesBatched]] — the BATCHED algorithm
    * itself, not the serial chain (stale within-round statistics make
    * batched ≠ serial in general). Unrolled to `k` passes (a safe upper
    * bound: every pass with want > 0 accepts ≥ 1 merge — the top
    * shortlist row never conflicts with an empty used-set). Per pass:
    * pair counts over the word table, a row_numbered shortlist capped at
    * 4·least(B, want) (want threaded through 1-row n-CTEs), then B slot
    * CTEs — slot j is the first shortlist row (by the serial (pc desc,
    * pair asc) order) whose {sym_a, sym_b, sym_a||sym_b} conflict set is
    * disjoint from every earlier slot's, exactly the Scala greedy scan
    * (a row skipped for conflict is never revisited: slot j requires
    * disjointness from ALL of slots 1..j-1). The rewrite applies the
    * whole batch as B unrolled replaces with scalar subqueries; an empty
    * slot coalesces its pattern to chr(1) — unmatchable, identity.
    * Passes past acceptance see want = 0 → empty slots → no-op, so the
    * unroll is safe on early-exhausting corpora. Every chained CTE is
    * MATERIALIZED: inlining would re-expand w{p-1} per reference —
    * exponential parquet re-scans by pass 16. Validated cell-identical
    * against an independent reimplementation on conflict-exhausting,
    * vocab-exhausting and single-char-run corpora (BpeSpec pins the
    * Spark side). */
  private def bpeBatchedOracleSql(k: Int, b: Int): String = {
    val passes = k
    val sb = new StringBuilder
    sb ++=
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT w, array_to_string(string_split(w, ''), ' ') AS rep,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) u
         |  WHERE regexp_matches(w, '^[!-~]+${"$"}')
         |  GROUP BY w
         |), n0 AS MATERIALIZED (SELECT 0 AS n)""".stripMargin
    for (p <- 1 to passes) {
      val prev = s"w${p - 1}"
      sb ++=
        s""", c$p AS MATERIALIZED (
           |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS pc FROM (
           |    SELECT unnest(list_transform(range(1, len(string_split(rep, ' '))),
           |      j -> string_split(rep, ' ')[j] || ' ' || string_split(rep, ' ')[j+1]))
           |      AS pair, cnt
           |    FROM $prev
           |  ) GROUP BY pair
           |), sl$p AS MATERIALIZED (
           |  SELECT string_split(pair, ' ')[1] AS sym_a,
           |    string_split(pair, ' ')[2] AS sym_b, pc,
           |    row_number() OVER (ORDER BY pc DESC, pair ASC) AS rn
           |  FROM c$p
           |  QUALIFY rn <= 4 * least($b, $k - (SELECT n FROM n${p - 1}))
           |)""".stripMargin
      for (j <- 1 to b) {
        val conflicts = (1 until j).map { i =>
          s"""    AND NOT EXISTS (SELECT 1 FROM b${p}_$i u
             |    WHERE t.sym_a IN (u.sym_a, u.sym_b, u.sym_a || u.sym_b)
             |       OR t.sym_b IN (u.sym_a, u.sym_b, u.sym_a || u.sym_b)
             |       OR t.sym_a || t.sym_b IN (u.sym_a, u.sym_b, u.sym_a || u.sym_b))"""
            .stripMargin
        }.mkString("\n")
        sb ++=
          s""", b${p}_$j AS MATERIALIZED (
             |  SELECT sym_a, sym_b, pc FROM sl$p t
             |  WHERE $j <= least($b, $k - (SELECT n FROM n${p - 1}))
             |${conflicts}
             |  ORDER BY rn LIMIT 1
             |)""".stripMargin
      }
      val batchUnion = (1 to b)
        .map(j => s"SELECT $j AS slot, sym_a, sym_b, pc FROM b${p}_$j")
        .mkString("\n  UNION ALL ")
      sb ++=
        s""", batch$p AS MATERIALIZED (
           |  $batchUnion
           |), n$p AS MATERIALIZED (
           |  SELECT (SELECT n FROM n${p - 1})
           |    + (SELECT count(*) FROM batch$p) AS n
           |)""".stripMargin
      if (p < passes) {
        val applied = (1 to b).foldLeft(
          "' ' || replace(rep, ' ', '  ') || ' '") { (r, j) =>
          s"""replace($r,
             |      coalesce((SELECT ' ' || sym_a || '  ' || sym_b || ' '
             |        FROM b${p}_$j), chr(1)),
             |      coalesce((SELECT ' ' || sym_a || sym_b || ' '
             |        FROM b${p}_$j), chr(1)))""".stripMargin
        }
        sb ++=
          s""", w$p AS MATERIALIZED (
             |  SELECT trim(replace($applied, '  ', ' ')) AS rep, cnt
             |  FROM ${prev}
             |)""".stripMargin
      }
    }
    val outUnion = (1 to passes)
      .map(p => s"SELECT $p AS pass, slot, sym_a, sym_b, pc FROM batch$p")
      .mkString("\n  UNION ALL ")
    sb ++=
      s"""
         |SELECT CAST(row_number() OVER (ORDER BY pass, slot) AS INTEGER)
         |    AS merge_rank,
         |  sym_a, sym_b, pc AS pair_count, CAST(pass AS INTEGER) AS pass
         |FROM (
         |  $outUnion
         |)
         |ORDER BY merge_rank""".stripMargin
    sb.toString
  }

  private def bpeOracleSql(k: Int): String = {
    val rows = (1 to k).map { i =>
      s"""SELECT $i AS merge_rank, string_split(pair, ' ')[1] AS sym_a,
         |  string_split(pair, ' ')[2] AS sym_b, pc AS pair_count FROM b$i"""
        .stripMargin
    }.mkString("\n  UNION ALL ")
    s"""${bpeChainSql(k, applyAll = false)}
       |SELECT * FROM (
       |  $rows
       |) ORDER BY merge_rank""".stripMargin
  }

  /** t31: the same k learn iterations, then apply ALL k merges and join
    * the segmented vocab back to the corpus words for per-doc counts. */
  private def bpeApplyOracleSql(k: Int): String =
    s"""${bpeChainSql(k, applyAll = true)}
       |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(string_split(v.rep, ' '))) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(length(d.w)) AS BIGINT) AS n_chars_ascii
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) d
       |JOIN w$k v ON d.w = v.w
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Shared x2/x3 oracle prefix — the export chain through per-shard
    * cumulative positions: the frozen-tokenizer BPE chain (w0..w4 over
    * `documents`), the d21 curation CTEs with source carried, the
    * kept slice, kept-doc BPE counts via the vocab join, the s13
    * seeded-md5 shard key, and the `cum` running position. */
  private lazy val exportCumCteSql: String =
    s"""${bpeChainSql(4, applyAll = true)}
      |, corpus AS (
      |  SELECT doc_id, text, source, n_chars FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text, source, n_chars
      |  FROM documents WHERE doc_id % 25 = 0
      |), sig AS (
      |  SELECT doc_id, text, source, md5(lower(trim(text))) AS fp,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS s_en,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      x -> x IN ('el','la','de','y','que','en','un'))) AS BIGINT) AS s_es,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      x -> x IN ('der','die','das','und','ist','ein','zu'))) AS BIGINT) AS s_de,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      x -> x IN ('le','la','de','et','est','un','dans'))) AS BIGINT) AS s_fr,
      |    round(1.0 - len(list_distinct(list_transform(
      |        range(1, greatest(len(string_split(text,' ')) - 3 + 2, 2)),
      |        i -> array_to_string(list_slice(string_split(text,' '), i, i + 2),
      |          ' ')))) * 1.0
      |      / greatest(len(string_split(text,' ')) - 3 + 1, 1), 4) AS dup3,
      |    round((CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.5 END)
      |        * 0.4
      |      + least(len(list_distinct(string_split(text, ' '))) * 1.0 /
      |          len(string_split(text, ' ')) * 2, 1.0) * 0.6, 4) AS q
      |  FROM corpus
      |), flagged AS (
      |  SELECT *, (s_en + s_es + s_de + s_fr > 0
      |    AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
      |    AND q >= 0.5 AND nt BETWEEN 20 AND 1000 AND dup3 <= 0.3)
      |    AS quality_ok
      |  FROM sig
      |), keep AS (
      |  SELECT fp, min(doc_id) AS keep_id FROM flagged
      |  WHERE quality_ok GROUP BY fp
      |), bsh AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |    range(1, greatest(len(string_split(text,' ')) - 8 + 2, 2)),
      |    i -> array_to_string(list_slice(string_split(text,' '), i, i + 7), ' '))))
      |    AS sh
      |  FROM documents WHERE doc_id % 20 = 0
      |), contam AS (
      |  SELECT DISTINCT c.doc_id FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |      range(1, greatest(len(string_split(text,' ')) - 8 + 2, 2)),
      |      i -> array_to_string(list_slice(string_split(text,' '), i, i + 7), ' '))))
      |      AS sh
      |    FROM flagged WHERE quality_ok) c JOIN bsh USING (sh)
      |), kept AS MATERIALIZED (
      |  SELECT f.doc_id, f.text, f.source
      |  FROM flagged f JOIN keep k
      |    ON f.fp = k.fp AND f.doc_id = k.keep_id
      |  WHERE f.quality_ok
      |    AND f.doc_id NOT IN (SELECT doc_id FROM contam)
      |), cnt AS MATERIALIZED (
      |  SELECT d.doc_id, d.source,
      |    CAST(sum(len(string_split(v.rep, ' '))) AS BIGINT) AS n_bpe
      |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      |        FROM kept) d
      |  JOIN w4 v ON d.w = v.w
      |  GROUP BY d.doc_id, d.source
      |), cum AS MATERIALIZED (
      |  SELECT doc_id, source, n_bpe, key % 8 AS shard_id,
      |    sum(n_bpe) OVER (PARTITION BY key % 8 ORDER BY key, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM (SELECT doc_id, source, n_bpe,
      |    CAST('0x' || substr(md5('epoch42:' || CAST(doc_id AS VARCHAR)),
      |      1, 15) AS BIGINT) AS key FROM cnt)
      |)""".stripMargin

  /** DuckDB replay of v16's truncated EWMA: the same `depth` lag()
    * terms over one named window, each weight an exact power-of-two
    * double (decimal literal CAST to DOUBLE — bare decimals parse as
    * DECIMAL in DuckDB, the g1 lesson). Every product is an exact
    * dyadic, so the sums match Spark's in any association. */
  private def ewmaOracleSql(depth: Int): String = {
    def w(k: Int): String = // 0.5^k is a finite decimal — exact both ways
      s"CAST(${java.math.BigDecimal.valueOf(0.5).pow(k).toPlainString} AS DOUBLE)"
    def v(k: Int): String = if (k == 0) "vu" else s"lag(vu, $k) OVER ww"
    val lagCols = (0 until depth).map(k => s"    ${v(k)} AS v$k").mkString(",\n")
    val num = (0 until depth)
      .map(k => s"coalesce(CAST(v$k AS DOUBLE) * ${w(k)}, 0.0)")
      .mkString("\n      + ")
    val den = (0 until depth)
      .map(k => s"CASE WHEN v$k IS NOT NULL THEN ${w(k)} ELSE 0.0 END")
      .mkString("\n      + ")
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS us,
       |    CAST(round(value * 100.0) AS BIGINT) AS vu
       |  FROM events WHERE value IS NOT NULL),
       |l AS (
       |  SELECT event_id, user_id,
       |$lagCols
       |  FROM e WINDOW ww AS (PARTITION BY user_id ORDER BY us, event_id))
       |SELECT event_id, user_id,
       |  round(($num)
       |    / (($den) * 100.0), 6) AS ewma
       |FROM l ORDER BY event_id""".stripMargin
  }

  /** DuckDB replay of Graph.labelPropagation's all-integer iteration:
    * one CTE per synchronous round, plurality + min-label tie-break via
    * the identical row_number window. */
  private def labelPropagationOracleSql(iters: Int): String = {
    val base =
      """WITH ce AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), e AS (
        |  SELECT c AS src, s AS dst FROM ce UNION ALL SELECT s, c FROM ce
        |), l0 AS (
        |  SELECT DISTINCT src AS node, src AS label FROM e
        |)""".stripMargin
    val steps = (1 to iters).map { i =>
      s""", l$i AS (
         |  SELECT node, label FROM (
         |    SELECT src AS node, label, row_number() OVER
         |      (PARTITION BY src ORDER BY c DESC, label) AS rn
         |    FROM (SELECT e.src, l.label, count(*) AS c
         |          FROM e JOIN l${i - 1} l ON e.dst = l.node
         |          GROUP BY e.src, l.label))
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString
    s"$base$steps\nSELECT node, label FROM l$iters ORDER BY node"
  }
}
