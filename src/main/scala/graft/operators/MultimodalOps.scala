package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * with decode / feature-extract stages as partition-local transforms.
  *
  * The real decode (image/audio codecs) is STUBBED — the container has no
  * media libraries — behind `decodeStub`, a deterministic fake that maps
  * bytes → fixed-shape features. Everything around it is the real Spark
  * plumbing a 100 TB multimodal pipeline needs:
  *
  *  - payloads travel as `BinaryType` columns (columnar, dictionary-free,
  *    never parsed by Catalyst — exactly how the reference stores its
  *    opaque `message BLOB`, logsqlite `src/logger.rs:146`);
  *  - metadata (size, checksum, modality) is extracted with codegen'd
  *    built-ins so filtering/routing happens WITHOUT touching decoders;
  *  - the decode stage runs via `mapPartitions` over a typed Dataset —
  *    batch-at-a-time per partition, the Scala analog of `mapInPandas`
  *    (one decoder init per partition, vectorized batches inside);
  *  - partitioning: decode is embarrassingly parallel; repartition by
  *    size-bucket first if payload skew is observed.
  */
object MultimodalOps {

  /** A multimodal record: id + opaque payload + routing metadata. */
  final case class MediaRecord(media_id: Long, modality: String, payload: Array[Byte])
  /** Fixed-shape fake feature vector produced by the stub decoder. */
  final case class MediaFeatures(
      media_id: Long, modality: String, n_bytes: Int,
      checksum: String, features: Array[Double])

  /** Fixture adapter: documents' text bytes stand in for media payloads
    * (modality round-robined by doc_id) — the binary-column plumbing is
    * identical whatever the bytes encode.
    */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      col("text").cast("binary").as("payload"))

  /** Metadata extraction — no decode, pure column ops, pushdown-friendly. */
  def mediaMetadata(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d).select(
      col("media_id"),
      col("modality"),
      length(col("payload")).as("n_bytes"),
      md5(col("payload")).as("checksum"),
      substring(hex(col("payload")), 1, 16).as("magic"))
      .orderBy(col("media_id"))

  /** Content-addressed-storage dedup audit per modality: group payloads
    * by checksum and report how many bytes content-addressing saves —
    * the first question any multimodal corpus store answers (media
    * payloads dominate storage, and crawls re-fetch the same asset from
    * many pages). No decode, no payload comparison: identity IS the
    * 16-byte md5, so the only shuffle carries (checksum, count, length)
    * — the payload bytes never leave their scan (the same
    * never-ship-the-content stance as the text dedup pack).
    */
  def mediaDedup(s: SparkSession, d: String): DataFrame = {
    val groups = mediaTable(s, d)
      .select(col("modality"), md5(col("payload")).as("checksum"),
        length(col("payload")).cast("long").as("n_bytes"))
      .groupBy(col("modality"), col("checksum"))
      .agg(count(lit(1)).as("cnt"), first(col("n_bytes")).as("n_bytes"))
    groups.groupBy(col("modality"))
      .agg(
        sum(col("cnt")).as("n_media"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") - 1).as("n_dup_copies"),
        sum(col("cnt") * col("n_bytes")).as("bytes_total"),
        sum(col("n_bytes")).as("bytes_unique"))
      .select(col("modality"), col("n_media"), col("n_distinct"),
        col("n_dup_copies"), col("bytes_total"),
        (graft.operators.Num.halfUpDiv(
          lit(1000000L) * (col("bytes_total") - col("bytes_unique")),
          greatest(col("bytes_total"), lit(1L))).cast("double") / 1e6)
          .as("savings"))
      .orderBy(col("modality"))
  }

  /** Bytes per partition of a decode stage ([[decodePlan]]). */
  private val DecodeBytes = 4L << 20

  /** Decode-stage partition plan: per (modality, log₂-size bucket), item
    * and byte mass plus the partition count a byte-balanced decode stage
    * needs at [[DecodeBytes]] per partition — the operator form of this
    * pack's "repartition by size-bucket if payload skew is observed"
    * guidance. Decode cost tracks BYTES, not rows: hash-partitioning a
    * mixed corpus by id strands one 4 GB video with 10 000 thumbnails on
    * the same executor; bucketing by size first makes every decode task
    * comparable, and this table is the plan (`repartitionByRange` /
    * AQE-advisory sizing reads straight off `n_partitions`).
    *
    * Exact integer arithmetic end to end: bucket = `length(bin(bytes))−1`
    * (floor(log₂)), partitions = ceil-div in longs.
    */
  def decodePlan(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .select(col("modality"),
        length(col("payload")).cast("long").as("n_bytes"))
      .groupBy(col("modality"),
        (length(bin(col("n_bytes"))) - 1).cast("int").as("size_bucket"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("bytes_total"))
      .select(col("modality"), col("size_bucket"), col("n_items"),
        col("bytes_total"),
        call_function("div",
          col("bytes_total") + (DecodeBytes - 1), lit(DecodeBytes))
          .as("n_partitions"))
      .orderBy(col("modality"), col("size_bucket"))

  /** STUB decoder: a real implementation would decode the codec here
    * (JPEG → pixels, WAV → samples). Deterministic fake: 8 features from
    * byte statistics so the pipeline shape (fixed-size Array[Double] per
    * record) is real and testable.
    */
  def decodeStub(payload: Array[Byte]): Array[Double] = {
    val n = payload.length.max(1)
    val hist = new Array[Double](8)
    var i = 0
    while (i < payload.length) { hist((payload(i) & 0xFF) % 8) += 1.0; i += 1 }
    hist.map(_ / n)
  }

  /** Frame sampling for the video modality: each payload expands to
    * `nFrames` frame records with a per-frame fingerprint. A real decoder
    * would seek and decode I-frames here; the STUB derives each frame's
    * fingerprint deterministically as md5(payload ++ "#" ++ frame_idx) so
    * the expansion plumbing (generator → per-frame rows, no shuffle) is
    * real and oracle-checkable. Pure projection + posexplode: scales
    * linearly, stays in whole-stage codegen.
    */
  def frameSample(s: SparkSession, d: String, nFrames: Int = 3): DataFrame =
    mediaTable(s, d)
      .where(col("modality") === "video")
      .select(
        col("media_id"),
        posexplode(
          transform(sequence(lit(0), lit(nFrames - 1)),
            i => md5(concat(col("payload"), lit("#").cast("binary"),
              i.cast("string").cast("binary")))))
          .as(Seq("frame_idx", "frame_fp")))
      .orderBy(col("media_id"), col("frame_idx"))

  /** STUB resize: downsample each payload by keeping the first byte of
    * every `stride`-byte group, capped at `maxBytes` output bytes — the
    * deterministic stand-in for an image resize / audio downsample (a real
    * implementation decodes, resamples, and re-encodes here; the container
    * has no media libs per the mandate). The plumbing is the real thing:
    * per-row binary → smaller binary, pure codegen'd column ops over the
    * hex view (byte addressing without a decoder), zero shuffle,
    * embarrassingly parallel — and, unlike the feature stub, fully
    * oracle-checkable because byte selection is engine-independent.
    */
  def resizeStub(s: SparkSession, d: String, stride: Int = 4, maxBytes: Int = 64): DataFrame = {
    require(stride >= 1 && maxBytes >= 1, s"need stride/maxBytes >= 1, got $stride/$maxBytes")
    // Byte selection is one codegen'd kernel over the RAW binary
    // ([[graft.functions.StrideBytes]]): reads ≤ maxBytes·stride input
    // bytes per row. The previous hex-view spelling walked the full hex
    // string once per OUTPUT byte (substr on UTF8String is a scan) —
    // O(payload·maxBytes) per row, ~0.9 s of this query's time at sf0.1.
    // The emitted columns are unchanged: resized stays the HEX STRING view
    // and the fingerprint hashes that string, so the DuckDB twin replays
    // byte-identically.
    val resizedBytes =
      graft.functions.sketch.strideBytes(col("payload"), stride, maxBytes)
    mediaTable(s, d)
      .select(col("media_id"), col("modality"),
        length(col("payload")).as("n_bytes"), hex(resizedBytes).as("resized"))
      .select(
        col("media_id"), col("modality"),
        col("n_bytes"),
        (length(col("resized")) / 2).cast("int").as("n_resized_bytes"),
        col("resized").as("resized_hex"),
        md5(col("resized")).as("resized_fp"))
      .orderBy(col("media_id"))
  }

  /** Decode + feature-extract stage: partition-local batch transform over
    * the typed Dataset (decoder state would be initialized once per
    * partition, amortized over its batch — the mapInPandas shape).
    */
  def extractFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the per-row md5 + decode stub runs inside mapPartitions, one
    // decoder per partition; widening hands every core a partition,
    // which is the operator's own scale guidance
    Tables.widen(s, d, "documents", mediaTable(s, d))
      .as[MediaRecord].mapPartitions { it =>
      // per-partition init, amortized over the batch (a real decoder's
      // codec context would be created here the same way)
      val md5 = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        MediaFeatures(
          r.media_id, r.modality, r.payload.length,
          md5.digest(r.payload).map("%02x".format(_)).mkString,
          decodeStub(r.payload))
      }
    }.toDF()
      .select(col("media_id"), col("modality"), col("n_bytes"), col("checksum"),
        round(element_at(col("features"), 1), 6).as("f0"),
        round(element_at(col("features"), 2), 6).as("f1"))
      .orderBy(col("media_id"))
  }

  /** The oracle-checkable slice of [[extractFeatures]]: everything except
    * the stubbed feature values still flows through the SAME mapPartitions
    * decode stage, so the partition-local plumbing (per-partition decoder
    * init, typed batch shape, checksum computation) is hash-verified
    * against DuckDB even though the fake features can't be.
    */
  def extractFeaturesMeta(s: SparkSession, d: String): DataFrame =
    extractFeatures(s, d)
      .select(col("media_id"), col("modality"), col("n_bytes"), col("checksum"))
      .orderBy(col("media_id"))
}
