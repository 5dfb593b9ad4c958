package graft.extensions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §7.4): media payloads travel as
  * opaque `binary` columns with typed metadata; decode / feature-extract
  * runs batch-wise inside `mapPartitions` so one task amortizes decoder
  * setup over its whole partition (the Scala analogue of `mapInPandas`
  * batches).
  *
  * The actual codec is STUBBED (no image/audio libs in this container):
  * `fakeDecode` derives deterministic pseudo-features from the bytes.
  * The Spark-side contract — schema, partitioning, batch shape — is real
  * and tested; swap `fakeDecode` for a JNI/ffmpeg/opencv call in
  * production.
  */
object Multimodal {

  /** Typed metadata emitted per media blob. */
  case class MediaMeta(
      doc_id: Long,
      n_bytes: Long,
      checksum: Long,
      width: Int,      // stub: derived from checksum
      height: Int,     // stub: derived from checksum
      frames: Int)     // stub: derived from length

  /** Attach a binary payload column (here: utf-8 bytes of `text` stand
    * in for real media bytes; in production this is the raw blob column
    * of the media table). */
  def withBinaryPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", col("text").cast("binary"))

  /** STUB decoder — deterministic fake features in place of a real
    * image/audio decode. Pure function of the bytes. */
  private def fakeDecode(id: Long, bytes: Array[Byte]): MediaMeta = {
    val crc = new java.util.zip.CRC32
    crc.update(bytes)
    val c = crc.getValue
    MediaMeta(
      doc_id = id,
      n_bytes = bytes.length.toLong,
      checksum = c,
      width = (c % 1920).toInt + 1,
      height = ((c >> 11) % 1080).toInt + 1,
      frames = bytes.length / 64 + 1)
  }

  /** Batch decode: one decoder instance per partition, streamed over the
    * partition's rows — the shape a real codec needs (setup cost
    * amortized, bounded memory, no driver involvement). */
  def decodeMeta(spark: SparkSession, withPayload: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    withPayload
      // rows with no payload are dropped by the decode stage (a codec
      // cannot decode a missing blob) — without the filter a NULL
      // payload deserializes to null bytes and NPEs the whole task
      .filter(col("payload").isNotNull)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real impl: val decoder = Codec.open(); rows.map(decoder.decode)
        rows.map { case (id, bytes) => fakeDecode(id, bytes) }
      }
  }

  /** STUB resize: in production this re-encodes pixels; here it derives
    * the target dims + a new deterministic checksum. Shape contract
    * (Dataset[MediaMeta] → Dataset[MediaMeta]) is the real thing. */
  def resizeStub(meta: Dataset[MediaMeta], maxW: Int, maxH: Int): Dataset[MediaMeta] = {
    import meta.sparkSession.implicits._
    meta.map { m =>
      val scale = math.min(1.0,
        math.min(maxW.toDouble / m.width, maxH.toDouble / m.height))
      m.copy(
        width = math.max(1, (m.width * scale).toInt),
        height = math.max(1, (m.height * scale).toInt),
        checksum = m.checksum ^ (maxW.toLong << 32 | maxH.toLong))
    }
  }

  /** STUB frame sampling for video-like payloads: keep every `stride`-th
    * frame. Production samples real frames batch-wise in mapPartitions;
    * the partitioning/batching shape is identical. */
  def frameSampleStub(meta: Dataset[MediaMeta], stride: Int): Dataset[MediaMeta] = {
    import meta.sparkSession.implicits._
    meta.map(m => m.copy(frames = math.max(1, m.frames / stride)))
  }

  /** Deterministic frame sampling over a binary payload, the relational
    * (codegen'd, oracle-able) twin of `frameSampleStub`: the payload is
    * sliced into fixed `frameBytes`-sized frames and every `stride`-th
    * frame is emitted as its own row with offset, length and a 60-bit
    * md5 fingerprint of the frame bytes (`Dedup.md5Hash60` — replayable
    * cross-engine, unlike crc32). Production swaps the byte slice for a
    * real container-format frame extractor inside `decodeMeta`'s
    * mapPartitions; the OUTPUT shape — map-side explode of computed
    * offsets, per-row fan-out bounded by payloadBytes/(frameBytes·stride),
    * no shuffle anywhere — is exactly this. Rows with empty/missing
    * payloads are dropped (nothing to sample; also keeps the explode's
    * `sequence(0, n-1, stride)` bounds legal). */
  def sampleFrames(withPayload: DataFrame, frameBytes: Int,
      stride: Int): DataFrame = {
    require(frameBytes > 0 && stride > 0, "frameBytes and stride must be positive")
    val nFrames = ((length(col("payload")) + frameBytes - 1) / frameBytes)
      .cast("int")
    val frame = col("payload")
      .substr(col("__i") * frameBytes + 1, lit(frameBytes))
    withPayload
      .filter(col("payload").isNotNull && length(col("payload")) > 0)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0), nFrames - 1, lit(stride))).as("__i"))
      .select(col("doc_id"), col("__i").cast("long").as("frame_idx"),
        (col("__i").cast("long") * frameBytes).as("frame_off"),
        length(frame).cast("long").as("frame_len"),
        Dedup.md5Hash60(frame).as("frame_fp"))
  }

  /** Content-signature near-dup over DECODED-FRAME fingerprints — the
    * perceptual-hash shape one step past m6's byte-grain SimHash
    * (VERDICT r8 item 6): m6 sees re-encoded copies as different byte
    * streams, but a frame-level fingerprint survives container-level
    * edits that keep frames intact (re-muxing, frame drops/inserts,
    * clipping). Two payloads are near-dups when their frame-fingerprint
    * SETS overlap: `overlap = |shared| / min(|A|, |B|)` — the
    * containment coefficient, so a clip of a longer video still scores
    * 1.0. Here the "decode" is [[sampleFrames]]' deterministic byte
    * slicing (oracle-replayable); production swaps in a real
    * frame-extractor + perceptual hash inside `decodeMeta` and this
    * operator is unchanged — it only ever sees (doc_id, frame_fp).
    *
    * Scale shape: candidate pairs come from an equi-join ON frame_fp —
    * never all-pairs — and every fingerprint bucket is capped at
    * `maxBucket` docs first (the d3/m6 skew guard: a boilerplate frame
    * — a black frame, digital silence — shared by millions of payloads
    * would otherwise quadratically explode one bucket; dropping it
    * also REMOVES it as evidence, which is what you want from
    * boilerplate). Per-doc frame counts stay un-capped, so boilerplate
    * deflates a pair's overlap rather than inflating it. One exchange
    * on frame_fp (window + self-join share it), one on the (a, b) pair
    * key, one per-doc aggregate — all key-grain, text/bytes never
    * shuffle past the fingerprint projection. */
  def frameNearDup(withPayload: DataFrame, frameBytes: Int, stride: Int,
      minOverlap: Double, maxBucket: Int): DataFrame = {
    val frames = sampleFrames(withPayload, frameBytes, stride)
      .select(col("doc_id"), col("frame_fp")).distinct()
      // barrier: the per-doc count and the pair join both read it —
      // without it the slice+md5 projection runs three times
      .localCheckpoint(eager = false)
    val perDoc = frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nf"))
    val capped = frames
      .withColumn("bsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("frame_fp"))))
      .filter(col("bsize") <= maxBucket)
      .select(col("doc_id"), col("frame_fp"))
    val shared = capped.select(col("doc_id").as("a_id"), col("frame_fp"))
      .join(capped.select(col("doc_id").as("b_id"), col("frame_fp")),
        Seq("frame_fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared_frames"))
    shared
      .join(perDoc.select(col("doc_id").as("a_id"), col("nf").as("__na")),
        Seq("a_id"))
      .join(perDoc.select(col("doc_id").as("b_id"), col("nf").as("__nb")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("shared_frames"),
        round(col("shared_frames") * lit(1.0)
          / least(col("__na"), col("__nb")), 4).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Relational fast-path for the metadata that needs no decode —
    * byte length + crc32 are Spark built-ins (codegen'd, oracle-able). */
  def payloadStats(withPayload: DataFrame): DataFrame =
    withPayload.select(
      col("doc_id"),
      length(col("payload")).cast("long").as("n_bytes"),
      crc32(col("payload")).as("checksum"))

  /** LAION-style image-text PAIR curation (Schuhmann et al. 2022 §2.2's
    * filter battery re-shaped for this engine): every candidate pair is
    * gated through min-resolution, aspect-ratio, caption-length and
    * embedding-presence rules, emitting the FIRST failing rule as the
    * pair's fate (the t27 per-rule-audit form — per-rule loss rates are
    * one grouped count over `fate`). In production the dims come out of
    * `decodeMeta`'s batch decode; here they are the deterministic
    * md5-derived pseudo-dims (`Dedup.md5Hash60` — replayable
    * cross-engine, unlike the crc32 stub), so the gating plumbing is
    * real and oracle-checked while the codec stays stubbed.
    *
    * Scale shape: every signal is a map-side projection over the media
    * scan (one codegen span, no decode for pairs that fail the cheap
    * byte/caption gates — order the real decoder AFTER this pass and
    * 100 TB of media only decodes the survivors); the one join probes
    * the embedding sidecar per doc_id — broadcastable while the sidecar
    * is small, a plain hash join on the uniform id key beyond. No
    * shuffle of payload bytes anywhere. */
  def pairCuration(withPayload: DataFrame, sidecar: DataFrame,
      minDim: Int = 200, maxAspect: Double = 3.0): DataFrame = {
    // distinct: presence is a SET question — a sidecar carrying
    // duplicate doc_ids (multi-vector embeddings, re-ingested shards)
    // must not fan out the left join into duplicate pair rows
    val side = sidecar.select(col("doc_id")).distinct()
      .withColumn("__has_emb", lit(true))
    withPayload
      .withColumn("__h", Dedup.md5Hash60(col("payload")))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        (pmod(col("__h"), lit(1920L)) + 1).as("width"),
        (pmod(expr("__h div 2048"), lit(1080L)) + 1).as("height"),
        TextAnalysis.tokenCount(col("text")).as("cap_tokens"))
      .join(side, Seq("doc_id"), "left")
      .withColumn("fate",
        when(col("width") < minDim || col("height") < minDim,
          lit("too_small"))
          .when(greatest(col("width"), col("height")) * lit(1.0)
            / least(col("width"), col("height")) > maxAspect,
            lit("bad_aspect"))
          .when(!col("cap_tokens").between(10, 40),
            lit("caption_len"))
          .when(col("__has_emb").isNull, lit("no_embedding"))
          .otherwise(lit("kept")))
      .drop("__has_emb")
  }
}
