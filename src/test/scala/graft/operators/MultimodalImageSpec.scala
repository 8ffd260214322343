package graft.operators

import graft.SparkTestBase

/** Real-codec multimodal tests: the committed PNG/BMP fixtures decode
  * through javax.imageio to known pixels, so width/height/checksums are
  * pinned as literals (computed independently by the fixture generator).
  */
class MultimodalImageSpec extends SparkTestBase {
  import spark.implicits._

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    try in.readAllBytes() finally in.close()
  }

  // gradient_8x5: rgb(x,y) = ((x*31+y*7)%256, (x*13+y*101)%256, (x*3+y*53)%256)
  private val TotalRgbSum = 14596L

  test("imageio decode: PNG and BMP fixtures yield real dimensions and pixel checksum") {
    val media = Seq(
      Multimodal.MediaRecord(0L, "image/png", fixture("gradient_8x5.png")),
      Multimodal.MediaRecord(1L, "image/bmp", fixture("gradient_8x5.bmp")))
      .toDS()
    val feats = Multimodal.extractFeatures(media)
      .collect().map(f => f.doc_id -> f).toMap
    for (id <- Seq(0L, 1L)) {
      assert(feats(id).width === 8)
      assert(feats(id).height === 5)
      assert(feats(id).n_frames === 1)
      assert(feats(id).checksum === TotalRgbSum,
        s"pixel checksum differs for doc $id — decode is not byte-exact")
    }
    // the two containers hold identical pixels → identical checksums
    assert(feats(0L).checksum === feats(1L).checksum)
  }

  test("corrupt image bytes surface as sentinel features, not silent stubs") {
    val media = Seq(
      Multimodal.MediaRecord(9L, "image/png", Array[Byte](1, 2, 3, 4))).toDS()
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.checksum === -1L && f.width === 0 && f.height === 0)
  }

  test("truncated payload behind a VALID image signature is a bad row, not a task killer") {
    // ImageIO.read THROWS (not null) when the format is recognized but
    // the data is corrupt — the decode stage must absorb that per row
    val truncated = fixture("gradient_8x5.png").take(20)
    val media = Seq(Multimodal.MediaRecord(11L, "image/png", truncated)).toDS()
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.checksum === -1L && f.width === 0)
  }

  test("non-image media types still route to the deterministic byte decoder") {
    val payload = "plain text payload".getBytes("UTF-8")
    val media = Seq(Multimodal.MediaRecord(3L, "text/plain", payload)).toDS()
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.checksum === payload.map(_ & 0xff).sum.toLong)
    assert(f.sample_rate === 16000 && f.width === 0)
  }

  // ---- perceptual dHash (x68) ----

  /** A smooth horizontal-ramp test image: brightness rises with x, so
    * every dHash bit is "right neighbor brighter" = 1 for all in-row
    * comparisons — and the hash is invariant to the render resolution.
    */
  private def ramp(w: Int, h: Int, invert: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = if (invert) 255 - (x * 255 / (w - 1)) else x * 255 / (w - 1)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def dhashOf(records: (Long, String, Array[Byte])*): Map[Long, Long] = {
    val ds = records.map(r => Multimodal.MediaRecord(r._1, r._2, r._3)).toDS()
    Multimodal.imageDHash(ds).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("dHash: resolution-invariant on smooth content, identical pixels → identical hash") {
    val h = dhashOf(
      (0L, "image/png", ramp(90, 80)),
      (1L, "image/png", ramp(45, 40)),
      (2L, "image/png", ramp(90, 80)),
      (3L, "image/png", ramp(90, 80, invert = true)))
    // a monotone horizontal ramp sets every bit: the canonical dHash value
    assert(h(0L) === -1L, f"ramp dhash should be all-ones, got ${h(0L)}%016x")
    // the perceptual property exact hashing lacks: same content at half
    // the resolution hashes IDENTICALLY (block pooling absorbs scale)
    assert(h(1L) === h(0L), "dHash not resolution-invariant on smooth ramp")
    assert(h(2L) === h(0L))
    // and the reversed ramp flips every comparison
    assert(h(3L) === 0L, f"inverted ramp should be all-zeros, got ${h(3L)}%016x")
    assert(java.lang.Long.bitCount(h(0L) ^ h(3L)) === 64)
  }

  test("dHash: a small local edit moves few bits; hamming is a usable near-dup signal") {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ramp(90, 80)))
    // darken one 10x10 corner block (1/72 of the grid)
    for (y <- 0 until 10; x <- 0 until 10) img.setRGB(x, y, 0)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val h = dhashOf(
      (0L, "image/png", ramp(90, 80)),
      (1L, "image/png", bos.toByteArray))
    val hamming = java.lang.Long.bitCount(h(0L) ^ h(1L))
    info(s"one-block edit hamming: $hamming")
    assert(hamming <= 8, s"local edit moved $hamming bits — not perceptual")
  }

  test("dHash byte path: matches an independent reimplementation of the " +
       "72-cell construction (the SQL oracle's arithmetic)") {
    val payload = "the quick brown fox jumps over the lazy dog 0123456789"
      .getBytes("UTF-8")
    // independent construction: BigInt accumulation over (cell, width)
    // lists, structured differently from the operator's packed loop
    val n = payload.length
    val cells = (0 until 72).map { k =>
      val (from, until) = (k * n / 72, (k + 1) * n / 72)
      ((from until until).map(payload(_) & 0xff).sum.toLong, (until - from).toLong)
    }
    val expected = (0 until 64).foldLeft(BigInt(0)) { (acc, b) =>
      val l = (b / 8) * 9 + (b % 8)
      val (sl, wl) = cells(l); val (sr, wr) = cells(l + 1)
      if (sr * wl > sl * wr) acc.setBit(b) else acc
    }.toLong
    val got = dhashOf((0L, "text/plain", payload))(0L)
    assert(got === expected, f"byte dhash $got%016x != expected $expected%016x")
    // undecodable "image" routes to the same byte path
    val corrupt = dhashOf((1L, "image/png", payload))(1L)
    assert(corrupt === expected)
  }

  test("x68 banding: identical payloads pair at hamming 0; plan is banded " +
       "shuffle-hash, never all-pairs") {
    val a = ramp(90, 80); val b = ramp(45, 40); val c = ramp(90, 80, invert = true)
    val ds = Seq(
      Multimodal.MediaRecord(1L, "image/png", a),
      Multimodal.MediaRecord(2L, "image/png", b),
      Multimodal.MediaRecord(3L, "image/png", c)).toDS()
    val cand = Dedup.fingerprintBandCandidates(
      Multimodal.imageDHash(ds), "doc_id", "dhash")
    val got = cand.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(4)).toMap
    // 1 and 2 share every band (identical hash) → candidate at hamming 0;
    // 3 shares NO band with the all-ones hash (every 16-bit band differs)
    assert(got === Map((1L, 2L) -> 0), s"unexpected candidate set: $got")
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"band join not pinned:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banded candidates must never be all-pairs:\n$plan")
  }

  // ---- per-frame dHash (x69) ----

  test("frameDHash: each sampled window's hash equals dhashOfBytes of that " +
       "exact slice; sampling grid matches sampleFrames") {
    // 1200 bytes → 4 frames of 256, every 4th sampled → frames {0}; use
    // a longer payload for a second sampled frame: 5*256=1280 → {0, 4}
    val payload = Array.tabulate[Byte](1290)(i => ((i * 37 + 11) % 251).toByte)
    val ds = Seq(Multimodal.MediaRecord(7L, "video/x-raw", payload)).toDS()
    val got = Multimodal.frameDHash(ds).collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(got.keySet === Set(0, 4), s"sampled frames: ${got.keySet}")
    for ((i, h) <- got) {
      val from = i * 256
      val until = math.min(payload.length, from + 256)
      val expected = Multimodal.dhashOfBytes(
        java.util.Arrays.copyOfRange(payload, from, until))
      assert(h === expected, s"frame $i hash mismatch")
    }
  }

  test("frameDHash: sub-window payload yields a single frame covering the " +
       "whole payload; empty payload hashes to 0") {
    val tiny = "short clip".getBytes("UTF-8")
    val ds = Seq(
      Multimodal.MediaRecord(1L, "video/x-raw", tiny),
      Multimodal.MediaRecord(2L, "video/x-raw", Array.emptyByteArray)).toDS()
    val got = Multimodal.frameDHash(ds).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.keySet === Set((1L, 0), (2L, 0)))
    assert(got((1L, 0)) === Multimodal.dhashOfBytes(tiny))
    assert(got((2L, 0)) === 0L, "empty payload: all comparisons 0>0=false")
  }

  test("x69 shape: repeated frames within one video collapse to the first " +
       "occurrence; identical cross-video frames pair at hamming 0") {
    // video 1 repeats window A at frames 0,4,8; video 2 has A at frame 4;
    // video 3 is unrelated content
    val a = Array.tabulate[Byte](256)(i => ((i * 7) % 113).toByte)
    val z = Array.tabulate[Byte](256)(i => ((251 - i * 13) % 127).toByte)
    def vid(windows: Array[Byte]*): Array[Byte] = windows.flatten.toArray
    // frames sampled every 4th: video1 windows 0..8 (A at 0,4,8 sampled)
    val v1 = vid(a, z, z, z, a, z, z, z, a)
    val v2 = vid(z, z, z, z, a, z, z, z)
    val ds = Seq(
      Multimodal.MediaRecord(1L, "video/x-raw", v1),
      Multimodal.MediaRecord(2L, "video/x-raw", v2)).toDS()
    val frames = Multimodal.frameDHash(ds)
    val dd = frames.groupBy("doc_id", "dhash")
      .agg(org.apache.spark.sql.functions.min("frame_idx").as("frame_idx"))
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    // v1's A-frames (0,4,8) collapse to frame 0; v2 keeps {0 (z), 4 (a)}
    assert(dd === Set((1L, 0), (2L, 0), (2L, 4)),
      s"distinct-fingerprint collapse wrong: $dd")
    val cand = graft.queries.Extensions.queries("x69_frame_dedup")
    // run the full query shape on a parquet-free path instead: rebuild
    // inline (the query reads the documents table; here we pin semantics
    // on a constructed corpus via the same operators)
    val keyed = frames.groupBy("doc_id", "dhash")
      .agg(org.apache.spark.sql.functions.min("frame_idx").as("frame_idx"))
      .select((org.apache.spark.sql.functions.col("doc_id") * 1048576L +
        org.apache.spark.sql.functions.col("frame_idx")).as("fid"),
        org.apache.spark.sql.functions.col("dhash"))
    val pairs = Dedup.fingerprintBandCandidates(keyed, "fid", "dhash")
      .collect().map(r => (r.getLong(0) / 1048576, r.getLong(0) % 1048576,
        r.getLong(1) / 1048576, r.getLong(1) % 1048576, r.getInt(4)))
      .filter(p => p._1 != p._3).toSet
    // the ONLY cross-video duplicate: v1 frame 0 (A) ≡ v2 frame 4 (A)
    assert(pairs === Set((1L, 0L, 2L, 4L, 0)), s"cross-video pairs: $pairs")
    assert(cand != null) // query map entry exists for the driver surface
  }
}
