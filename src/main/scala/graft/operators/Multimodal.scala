package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads travel as opaque binary
  * columns with typed metadata; decode / feature-extraction runs as a
  * typed mapPartitions stage (one decoder instantiation per partition,
  * batched iteration — the Scala analog of an arrow-batched UDF).
  *
  * Decoding: [[ImageDecoder]] REALLY decodes `image/`-typed payloads with the
  * JDK's javax.imageio (PNG/BMP/GIF — no external deps, satisfies the
  * offline build), emitting true width/height and a pixel-level RGB
  * checksum; non-image types (audio/video codecs are not in this
  * container) fall back to [[StubDecoder]]'s deterministic byte-derived
  * features, honestly labeled as such.
  *
  * Scale notes: payload columns are only scanned when selected (parquet
  * column pruning keeps blobs untouched for metadata-only queries);
  * decode parallelism is the scan partitioning — control batch size with
  * spark.sql.files.maxPartitionBytes, not code.
  */
object Multimodal {

  /** A media row: opaque payload + routing metadata. */
  case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Extracted features; width/height are real decoded dimensions for
    * images, 0 for non-image payloads. */
  case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      byte_len: Int,
      n_frames: Int,
      sample_rate: Int,
      checksum: Long,
      width: Int,
      height: Int)

  /** Per-partition decoder contract (instantiated once per partition —
    * the place a real implementation would open codecs / native handles).
    */
  trait Decoder extends Serializable {
    def decode(mediaType: String, payload: Array[Byte]): MediaFeatures.Partial
  }

  object MediaFeatures {
    /** Decoder output before ids are re-attached. */
    case class Partial(byteLen: Int, nFrames: Int, sampleRate: Int, checksum: Long,
                       width: Int = 0, height: Int = 0)
  }

  /** Deterministic stand-in for codecs this container lacks (audio/video):
    * features derived from the bytes themselves.
    */
  object StubDecoder extends Decoder {
    def decode(mediaType: String, payload: Array[Byte]): MediaFeatures.Partial = {
      var sum = 0L
      var i = 0
      while (i < payload.length) { sum += (payload(i) & 0xff); i += 1 }
      MediaFeatures.Partial(
        byteLen = payload.length,
        nFrames = payload.length / 1024 + 1,
        sampleRate = 16000,
        checksum = sum)
    }
  }

  /** Decode an image payload to pixels, or null when it is not one:
    * wrong media type, unrecognized format (ImageIO.read returns null),
    * or corrupt data behind a valid image signature (ImageIO.read
    * THROWS IIOException there — a distributed decode stage must treat
    * that as a bad row, not a task-killing error). The single routing
    * point for every image operator below.
    */
  private def decodeImage(mediaType: String,
                          payload: Array[Byte]): java.awt.image.BufferedImage =
    if (!mediaType.startsWith("image/")) null
    else
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException => null }

  /** REAL image decode via the JDK's javax.imageio: `image/`-typed payloads
    * are decoded to pixels; checksum is the sum of 8-bit R+G+B over all
    * pixels (deterministic across platforms for PNG/BMP, which are
    * lossless). Undecodable image bytes → negative checksum sentinel so
    * corrupt inputs are visible, not silently stubbed. Non-image types
    * route to [[StubDecoder]].
    */
  object ImageDecoder extends Decoder {
    def decode(mediaType: String, payload: Array[Byte]): MediaFeatures.Partial = {
      if (!mediaType.startsWith("image/")) StubDecoder.decode(mediaType, payload)
      else {
        val img = decodeImage(mediaType, payload)
        if (img == null)
          MediaFeatures.Partial(payload.length, 0, 0, checksum = -1L)
        else {
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          MediaFeatures.Partial(
            byteLen = payload.length,
            nFrames = 1,
            sampleRate = 0,
            checksum = sum,
            width = img.getWidth,
            height = img.getHeight)
        }
      }
    }
  }

  /** A sampled "frame": offset into the payload + a deterministic
    * checksum of its bytes (a real video pipeline would emit decoded
    * frame tensors; the Spark-side shape — explode to one row per
    * sampled frame — is the real contract).
    */
  case class FrameSample(doc_id: Long, frame_idx: Int, offset: Int, checksum: Long)

  /** STUB frame sampling: every `frameBytes` window of the payload is a
    * "frame"; sample every `everyN`-th. Deterministic from the bytes.
    */
  def sampleFrames(records: Dataset[MediaRecord], frameBytes: Int = 256,
                   everyN: Int = 4): Dataset[FrameSample] = {
    import records.sparkSession.implicits._
    records.flatMap { r =>
      frameWindows(r.payload, frameBytes, everyN).map { case (i, from, until) =>
        var sum = 0L
        var j = from
        while (j < until) { sum += (r.payload(j) & 0xff); j += 1 }
        FrameSample(r.doc_id, i, from, sum)
      }
    }
  }

  /** The sampled frames of `payload`, as (frame index, from, until): every
    * `everyN`-th `frameBytes` window, the last one cut at the payload's
    * end, and at least the first window of a short payload.
    */
  private def frameWindows(payload: Array[Byte], frameBytes: Int,
                           everyN: Int): Seq[(Int, Int, Int)] = {
    val n = math.max(1, payload.length / frameBytes)
    (0 until n by everyN).map { i =>
      val from = i * frameBytes
      (i, from, math.min(payload.length, from + frameBytes))
    }
  }

  /** Decode + featurize a media dataset; one decoder per partition.
    * [[ImageDecoder]] routes by media type: real pixel decode for
    * `image/`-typed, byte-derived features otherwise.
    */
  def extractFeatures(records: Dataset[MediaRecord],
                      decoder: Decoder = ImageDecoder): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val p = decoder.decode(r.media_type, r.payload)
        MediaFeatures(r.doc_id, r.media_type, p.byteLen, p.nFrames, p.sampleRate,
          p.checksum, p.width, p.height)
      }
    }
  }

  /** 64-bit difference-hash (dHash) perceptual fingerprint — the
    * standard near-duplicate IMAGE signature (average-pool to a 9×8
    * grid, each bit = "is the right neighbor brighter?"): robust to
    * re-encoding, resizing, and small edits, which exact byte hashing
    * (x10/x12's checksums) cannot see through. Fingerprints are 64-bit,
    * so near-dup mining is Hamming banding — EXACTLY the SimHash x19
    * machinery via [[graft.operators.Dedup.fingerprintBandCandidates]].
    *
    * Image payloads (`image/`, decodable): luminance (R+G+B) sums are
    * average-pooled into 8 rows × 9 columns with integer block bounds
    * (x0 = c·W/9 … — every pixel in exactly one block); bit (r,c),
    * index r·8+c, is set iff block (r,c+1) out-brightens block (r,c)
    * under exact cross-multiplied normalization
    * `sum₂·area₁ > sum₁·area₂` (no float division anywhere, so the
    * fingerprint is bit-deterministic on any platform). Degenerate
    * dimensions (W<9, H<8) leave empty blocks whose comparisons are
    * 0>0 = false — still deterministic.
    *
    * Non-image or undecodable payloads take the same construction over
    * the raw byte signal: 72 cells of unsigned-byte sums over integer
    * ranges [k·n/72, (k+1)·n/72), read as the row-major 9×8 grid. This
    * is the honest stand-in for codecs this container lacks (the
    * [[StubDecoder]] convention) — and it is exactly replayable in SQL
    * over code points, which keeps the whole x68 query oracle-checkable
    * on the text-as-payload driver data.
    */
  def imageDHash(records: Dataset[MediaRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records.map { r =>
      val img = decodeImage(r.media_type, r.payload)
      val h = if (img != null) dhashOfImage(img) else dhashOfBytes(r.payload)
      (r.doc_id, h)
    }.toDF("doc_id", "dhash")
  }

  /** The 8×9-block luminance dHash over decoded pixels; see [[imageDHash]]. */
  private[operators] def dhashOfImage(img: java.awt.image.BufferedImage): Long = {
    val (gw, gh) = (9, 8)
    val sums = Array.ofDim[Long](gh * gw)
    val areas = Array.ofDim[Long](gh * gw)
    var r = 0
    while (r < gh) {
      val y0 = r * img.getHeight / gh
      val y1 = (r + 1) * img.getHeight / gh
      var c = 0
      while (c < gw) {
        val x0 = c * img.getWidth / gw
        val x1 = (c + 1) * img.getWidth / gw
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        sums(r * gw + c) = s
        areas(r * gw + c) = (x1 - x0).toLong * (y1 - y0)
        c += 1
      }
      r += 1
    }
    packDHashBits(sums, areas)
  }

  /** The byte-signal dHash analog for payloads with no decoder; see
    * [[imageDHash]]. Cell k of 72 sums unsigned bytes in
    * [k·n/72, (k+1)·n/72); "area" is the cell width.
    */
  private[operators] def dhashOfBytes(payload: Array[Byte]): Long = {
    val cells = 72
    val n = payload.length
    val sums = Array.ofDim[Long](cells)
    val widths = Array.ofDim[Long](cells)
    var k = 0
    while (k < cells) {
      val from = k * n / cells
      val until = (k + 1) * n / cells
      var s = 0L
      var j = from
      while (j < until) { s += (payload(j) & 0xff); j += 1 }
      sums(k) = s
      widths(k) = until - from
      k += 1
    }
    packDHashBits(sums, widths)
  }

  /** Bit (r,c) of the 64-bit hash, index r·8+c, compares grid cells
    * r·9+c and r·9+c+1 with exact integer cross-multiplication.
    */
  private def packDHashBits(sums: Array[Long], areas: Array[Long]): Long = {
    var h = 0L
    var b = 0
    while (b < 64) {
      val left = (b / 8) * 9 + (b % 8)
      val right = left + 1
      if (sums(right) * areas(left) > sums(left) * areas(right)) h |= (1L << b)
      b += 1
    }
    h
  }

  /** Per-sampled-frame perceptual fingerprints — the VIDEO half of the
    * x68 image story: [[sampleFrames]]'s windows (every `everyN`-th
    * `frameBytes` slice of the payload, a real pipeline's decoded frame
    * tensors) each get the [[dhashOfBytes]] 64-bit difference hash, so
    * cross-video duplicate-frame mining becomes the same Hamming-banded
    * candidate join [[graft.operators.Dedup.fingerprintBandCandidates]]
    * runs for still images. One row per sampled frame:
    * `(doc_id, frame_idx, dhash)`.
    *
    * 100 TB: a flatMap inside the scan stage — frames never shuffle
    * here; parallelism is the payload scan's partitioning, and each
    * frame's hash reads only its own `frameBytes` window.
    */
  def frameDHash(records: Dataset[MediaRecord], frameBytes: Int = 256,
                 everyN: Int = 4): DataFrame = {
    import records.sparkSession.implicits._
    records.flatMap { r =>
      frameWindows(r.payload, frameBytes, everyN).map { case (i, from, until) =>
        (r.doc_id, i, dhashOfBytes(java.util.Arrays.copyOfRange(r.payload, from, until)))
      }
    }.toDF("doc_id", "frame_idx", "dhash")
  }

  /** Adapter: treat the documents table's text as a binary payload so the
    * full plumbing (binary transport → typed decode → features) runs on
    * the driver test data.
    */
  def documentsAsMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(
        col("doc_id"),
        lit("text/plain").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }
}
