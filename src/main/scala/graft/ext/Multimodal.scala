package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal columns (north-star extension, SURVEY.md §2.11): media
 * payloads travel as opaque `binary` columns beside typed metadata; the
 * expensive decode/feature step runs as a partition-batched transform.
 *
 * The container has no image/audio codecs, so [[decodeFeatures]] STUBS the
 * actual decode with a deterministic byte-level computation — the
 * Spark-side plumbing (schema, encoder, mapPartitions batch shape,
 * partition preservation) is real and is what the harness tests. Swapping
 * the stub body for a JNI/codec call changes nothing upstream or
 * downstream.
 *
 * Scale: payloads never pass through a shuffle here — attach, decode and
 * project are narrow; join-by-id against feature tables is the only wide
 * op and shuffles ids + small features, not bytes.
 */
object Multimodal {

  final case class MediaRecord(doc_id: Long, mime: String, payload: Array[Byte])

  final case class MediaFeatures(
      doc_id: Long,
      mime: String,
      size_bytes: Long,
      checksum: Long,
      features: Array[Float])

  /** Model a media table from the documents fixture: the UTF-8 text bytes
   * stand in for an image/audio payload. */
  def attachPayload(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      lit("text/plain").as("mime"),
      col("text").cast("binary").as("payload"))

  /**
   * Partition-batched decode/feature-extraction.
   *
   * STUB: a real pipeline would decode the payload (image resize, audio
   * frame-sample, …) with a native library here; this deterministic
   * rolling-checksum + derived 8-dim feature vector keeps the exact same
   * dataflow testable in this container.
   */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        val checksum = r.payload.foldLeft(0L)((a, b) => (a * 131 + (b & 0xff)) % 1000000007L)
        val features = Array.tabulate(8)(i => ((checksum >> (i * 4)) & 0xf).toFloat / 15f)
        MediaFeatures(r.doc_id, r.mime, r.payload.length.toLong, checksum, features)
      }
    }
  }

  final case class MediaFrames(doc_id: Long, n_frames: Int, f0: Long, f1: Long, f2: Long, f3: Long)

  /** Frames per payload — fixed because [[MediaFrames]] carries one field
   * per checksum (a variable count would need an array column, which the
   * oracle harness cannot sort/hash). */
  val FramesPerDoc = 4

  /** Bytes per sampled frame window. */
  val FrameBytes = 16

  /**
   * Partition-batched frame sampling — the video/audio "sample every k-th
   * frame" step of a multimodal pipeline, STUBBED deterministically:
   * [[FramesPerDoc]] [[FrameBytes]]-byte windows at evenly spaced offsets,
   * each reduced to the rolling checksum. The real pipeline swaps the window
   * checksum for a codec's frame decode; the dataflow (narrow, per-row,
   * payloads never shuffled) is identical. Payloads shorter than one
   * frame yield n_frames=0 with sentinel checksums.
   */
  def sampleFrames(media: Dataset[MediaRecord]): Dataset[MediaFrames] = {
    import media.sparkSession.implicits._
    val frames = FramesPerDoc
    media.mapPartitions { records =>
      records.map { r =>
        val n = r.payload.length
        if (n < FrameBytes) MediaFrames(r.doc_id, 0, -1L, -1L, -1L, -1L)
        else {
          val cs = Array.tabulate(frames) { j =>
            val off = ((j.toLong * (n - FrameBytes)) / (frames - 1)).toInt
            var acc = 0L
            var i = 0
            while (i < FrameBytes) {
              acc = (acc * 131 + (r.payload(off + i) & 0xff)) % 1000000007L
              i += 1
            }
            acc
          }
          MediaFrames(r.doc_id, frames, cs(0), cs(1), cs(2), cs(3))
        }
      }
    }
  }

  /**
   * X5b — media SHARD LAYOUT: the WebDataset/tar-shard step of a
   * multimodal training pipeline — payloads packed in deterministic
   * (stream, id) order into numbered ~`shardBytes` shards, so a reader
   * streams one shard sequentially instead of seeking 10⁹ tiny objects.
   *
   * Assignment is START-ASSIGNED: an item belongs to the shard its
   * cumulative start byte falls in, which makes the whole layout ONE
   * two-level cumsum (delegates to [[Curation.packSequences]], the X30
   * device — exact at any scale and skew, payload bytes never shuffle,
   * only (stream, id, size) triples). A shard can therefore overflow by
   * at most one item (bytes ≤ shardBytes + maxItem − 1, pinned in
   * MultimodalSpec); greedy no-split packing would bound shards at
   * `shardBytes` exactly but its boundary is a sequential recurrence
   * (the CDC-clamp class) — the overflow bound is the trade every
   * block-start layout makes for a distributable plan.
   *
   * Output: stream, id, size_bytes, start_byte (within the stream's
   * address space), shard_idx (the start-assigned shard), shard_offset,
   * spans (shards the payload's bytes touch — a reader's continuation
   * count).
   */
  def shardLayout(media: DataFrame, idCol: String, streamCol: String,
      sizeCol: String, shardBytes: Long): DataFrame = {
    require(shardBytes > 0, s"shardBytes must be positive, got $shardBytes")
    Curation.packSequences(
        media.select(col(streamCol), col(idCol), col(sizeCol)),
        idCol, streamCol, col(sizeCol), shardBytes)
      .select(col(streamCol), col(idCol), col("n_tokens").as("size_bytes"),
        col("start_tok").as("start_byte"), col("first_seq").as("shard_idx"),
        col("offset_in_seq").as("shard_offset"), col("n_seqs").as("spans"))
  }

  /** The shard MANIFEST over [[shardLayout]]: one row per (stream, shard)
   * with item count, total bytes of the items it OWNS (start-assigned),
   * and the overflow flag a reader provisioning fixed buffers checks.
   * The id range makes each shard independently addressable — the
   * manifest is what a 100 TB layout job actually publishes. */
  def shardManifest(layout: DataFrame, idCol: String, streamCol: String,
      shardBytes: Long): DataFrame =
    layout.groupBy(col(streamCol), col("shard_idx"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("size_bytes")).as("bytes"),
        min(col(idCol)).as("first_id"),
        max(col(idCol)).as("last_id"))
      .withColumn("overflow", col("bytes") > shardBytes)

  /** X5 — multimodal join: text rows with their (nullable) embedding
   * modality. Ids and small columns shuffle; at production scale the
   * embeddings side would be bucketed on vec_id to kill even that. */
  def joinModalities(documents: DataFrame, embeddings: DataFrame): DataFrame =
    documents.join(embeddings, documents("doc_id") === embeddings("vec_id"), "left_outer")
      .select(
        documents("doc_id"), documents("lang"),
        embeddings("vec_id").isNotNull.as("has_embedding"),
        size(embeddings("embedding")).as("emb_dim"))
}
