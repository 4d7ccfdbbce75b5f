package graft

import org.apache.spark.sql.functions._
import graft.ops.{Codecs, Multimodal}

/** Real-codec multimodal coverage: decode/resize/frame-grab go through the
  * actual JVM codecs (ImageIO, AudioSystem), exercised both on payloads our
  * encoders produce (round-trips) and on externally-authored fixture bytes
  * written out literally in this file (BMP/WAV headers hand-assembled, so a
  * decode success cannot be an artifact of our own encoder). */
class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  private val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  // ------------------------------------------------------------- codecs

  /** Hand-assembled 24-bit 2×2 BMP (bottom-up rows, 4-byte row padding) —
    * authored byte-by-byte, NOT produced by Codecs.encodePng. */
  private def handMadeBmp: Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(70).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(70).putInt(0).putInt(54) // file header
    b.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24)         // DIB: 2x2, 24bpp
      .putInt(0).putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // two bottom-up rows: 2 BGR pixels + 2 pad bytes each
    b.put(Array[Byte](0, 0, -1, 0, -1, 0, 0, 0))  // red, green
    b.put(Array[Byte](-1, 0, 0, -1, -1, -1, 0, 0)) // blue, white
    b.array()
  }

  /** Hand-assembled RIFF/WAVE: PCM16 mono 4 kHz, 3 frames of silence. */
  private def handMadeWav: Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(50).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(42).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(4000).putInt(8000).putShort(2).putShort(16)
    b.put("data".getBytes).putInt(6).putShort(0).putShort(0).putShort(0)
    b.array()
  }

  test("decodeImage reads externally-authored BMP bytes") {
    assert(Codecs.decodeImage(handMadeBmp) == Some(Codecs.ImageMeta(2, 2, 3)))
  }

  test("decodeWav reads externally-authored RIFF bytes") {
    assert(Codecs.decodeWav(handMadeWav) == Some(Codecs.AudioMeta(1, 4000, 3)))
  }

  test("png/wav/video round-trips through the real codecs") {
    assert(Codecs.decodeImage(Codecs.encodePng(17, 9, seed = 7L)) ==
      Some(Codecs.ImageMeta(17, 9, 3)))
    assert(Codecs.decodeWav(Codecs.encodeWav(2, 8000, 123, seed = 7L)) ==
      Some(Codecs.AudioMeta(2, 8000, 123)))
    assert(Codecs.decodeVideoMeta(Codecs.encodeVideo(16, 12, 5, seed = 7L)) ==
      Some(Codecs.VideoMeta(16, 12, 5, 3)))
    // every container frame is itself a decodable PNG
    val frames = Codecs.videoFrames(Codecs.encodeVideo(16, 12, 5, seed = 7L)).get.toSeq
    assert(frames.map(_._1) == (0 until 5))
    assert(frames.forall { case (_, png) =>
      Codecs.decodeImage(png).contains(Codecs.ImageMeta(16, 12, 3)) })
  }

  test("decoders return None on garbage, truncation, and wrong-type payloads") {
    val garbage = "not media at all".getBytes("UTF-8")
    assert(Codecs.decodeImage(garbage).isEmpty)
    assert(Codecs.decodeWav(garbage).isEmpty)
    assert(Codecs.decodeVideoMeta(garbage).isEmpty)
    val png = Codecs.encodePng(17, 9, seed = 7L)
    assert(Codecs.decodeWav(png).isEmpty)
    val vid = Codecs.encodeVideo(16, 12, 3, seed = 7L)
    // truncated container: short iterator, no exception
    assert(Codecs.videoFrames(vid.take(vid.length / 2)).get.size < 3)
  }

  test("resizeImage really rescales: decoded dims match the target") {
    val resized = Codecs.resizeImage(Codecs.encodePng(40, 30, seed = 1L), 8, 6).get
    assert(Codecs.decodeImage(resized) == Some(Codecs.ImageMeta(8, 6, 3)))
  }

  // ---------------------------------------------------------- Spark side

  test("attachBinary produces typed binary records with media routing") {
    val m = Multimodal.attachBinary(Tables.documents(spark, sf))
    assert(m.schema.fieldNames.toSeq == Seq("doc_id", "media_type", "content"))
    assert(m.schema("content").dataType.typeName == "binary")
    val types = m.select("media_type").distinct().as[String].collect().toSet
    assert(types == Set("image", "audio", "video"))
  }

  test("attachMedia payloads are real media; decoded metadata matches the formulas") {
    val docs = Tables.documents(spark, sf)
    val feats = Multimodal.extractFeatures(Multimodal.attachMedia(docs)).cache()
    assert(feats.count() == docs.count())
    // nothing failed to decode
    assert(feats.where(col("width").isNull || col("n_frames").isNull ||
      col("channels").isNull).count() == 0)
    // decoded values equal the generation formulas (the q67 oracle shape)
    val bad = feats.toDF().join(docs, "doc_id").where(
      (col("doc_id") % 3 === 0 && (col("width") =!= lit(8) + col("doc_id") % 24 ||
        col("height") =!= lit(8) + col("n_chars") % 24 ||
        col("n_frames") =!= 1 || col("channels") =!= 3)) ||
      (col("doc_id") % 3 === 1 && (col("width") =!= 0 || col("height") =!= 0 ||
        col("n_frames") =!= lit(64) + col("n_chars") % 256 ||
        col("channels") =!= lit(1) + col("doc_id") % 2)) ||
      (col("doc_id") % 3 === 2 && (col("width") =!= 16 || col("height") =!= 12 ||
        col("n_frames") =!= lit(1) + col("doc_id") % 7 || col("channels") =!= 3)))
    assert(bad.count() == 0)
    // determinism: same checksums on recompute
    val a = feats.select("doc_id", "checksum").as[(Long, Long)].collect().toMap
    val b = Multimodal.extractFeatures(Multimodal.attachMedia(docs))
      .select("doc_id", "checksum").as[(Long, Long)].collect().toMap
    assert(a == b)
    feats.unpersist()
  }

  test("extractFeatures quarantines undecodable payloads as NULL metadata") {
    val media = Multimodal.attachBinary(Tables.documents(spark, sf).limit(9))
      .as[graft.ops.MediaRecord] // text bytes — not decodable media
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.nonEmpty)
    assert(feats.forall(f => f.width.isEmpty && f.height.isEmpty &&
      f.n_frames.isEmpty && f.channels.isEmpty))
    assert(feats.forall(_.byte_len > 0)) // raw-payload fields still populated
  }

  test("resizeImages rewrites image payloads through the real scaler") {
    val media = Multimodal.attachMedia(Tables.documents(spark, sf))
    val resized = Multimodal.resizeImages(media, 8, 6).cache()
    assert(resized.count() == media.count())
    val byType = resized.collect().groupBy(_.media_type)
    assert(byType("image").forall(r =>
      Codecs.decodeImage(r.content).contains(Codecs.ImageMeta(8, 6, 3))))
    // non-images untouched (byte-equal to the original payloads)
    val orig = media.collect().map(r => r.doc_id -> r.content).toMap
    assert(byType("audio").forall(r => r.content.sameElements(orig(r.doc_id))))
    assert(byType("video").forall(r => r.content.sameElements(orig(r.doc_id))))
    resized.unpersist()
  }

  test("sampleFrames emits every Nth real PNG frame of videos only, no shuffle") {
    // raw read, NOT Tables.documents: the no-Exchange assertion pins the
    // OPERATOR's shape; the loader's small-layout fan-out adds its own
    // documented exchange upstream
    val media = Multimodal.attachMedia(
      spark.read.parquet(s"$sf/documents.parquet"))
    val frames = Multimodal.sampleFrames(media, everyN = 3).cache()
    val videos = media.filter(_.media_type == "video").collect()
    // expected count: ceil(n_frames / 3) per video, from the container header
    val expected = videos.map { r =>
      val n = Codecs.decodeVideoMeta(r.content).get.nFrames
      (n + 2) / 3
    }.sum
    assert(frames.count() == expected)
    // frame indices are 0, 3, 6, ... and every frame decodes as 16x12 PNG
    val rows = frames.collect()
    assert(rows.forall(_.frame_idx % 3 == 0))
    assert(rows.forall(f => Codecs.decodeImage(f.frame).contains(Codecs.ImageMeta(16, 12, 3))))
    // the SAMPLING itself introduces no exchange (map-side frame
    // fan-out). The one allowed Exchange is attachMedia's per-row-compute
    // input fan-out (FanOut.perRowCompute), which sits BELOW the decode —
    // nothing may shuffle between decode and output. In the printed tree
    // (root first) that means every Exchange line comes after the last
    // MapPartitions line.
    val planLines = Multimodal.sampleFrames(media, 3)
      .queryExecution.executedPlan.toString.linesIterator.toSeq
    val exchangeIdx = planLines.zipWithIndex.filter(_._1.contains("Exchange")).map(_._2)
    val lastDecodeIdx = planLines.zipWithIndex.filter(_._1.contains("MapPartitions")).map(_._2)
    assert(exchangeIdx.size <= 1, planLines.mkString("\n"))
    assert(exchangeIdx.forall(e => lastDecodeIdx.forall(_ < e)),
      "no exchange between decode and output:\n" + planLines.mkString("\n"))
    frames.unpersist()
  }

  test("truncated video: metadata frame count agrees with extractable frames") {
    val full = Codecs.encodeVideo(16, 12, nFrames = 5, seed = 7L)
    // cut mid-way through frame 3's payload: 3 complete frames remain
    val it = Codecs.videoFrames(full).get
    it.next(); it.next(); it.next()
    // offsets: 8-byte header + 3 * (4 + frameLen); recompute by walking
    var off = 8
    for (_ <- 0 until 3) {
      off += 4 + java.nio.ByteBuffer.wrap(full, off, 4).getInt
    }
    val truncated = java.util.Arrays.copyOfRange(full, 0, off + 10)
    val meta = Codecs.decodeVideoMeta(truncated).get
    val extractable = Codecs.videoFrames(truncated).get.size
    assert(extractable == 3)
    assert(meta.nFrames == extractable,
      s"meta claims ${meta.nFrames} frames but only $extractable decode")
  }

  test("corrupt near-Int.MaxValue frame length quarantines, never throws") {
    val full = Codecs.encodeVideo(16, 12, nFrames = 3, seed = 11L)
    // keep frame 0 intact, then write a frame-length prefix of 0x7FFFFFF0:
    // off + 4 + len wraps negative in Int — the bound must be in Long
    var off = 8
    off += 4 + java.nio.ByteBuffer.wrap(full, off, 4).getInt
    val corrupt = java.util.Arrays.copyOf(full, off + 4)
    java.nio.ByteBuffer.wrap(corrupt, off, 4).putInt(0x7FFFFFF0)
    assert(Codecs.videoFrames(corrupt).get.size == 1)
    val meta = Codecs.decodeVideoMeta(corrupt).get
    assert(meta.nFrames == 1, s"got ${meta.nFrames}")
  }

  test("frameFeatures decodes every sampled frame's dimensions") {
    val media = Multimodal.attachMedia(Tables.documents(spark, sf))
    val ff = Multimodal.frameFeatures(media, everyN = 3).collect()
    assert(ff.nonEmpty)
    assert(ff.forall(f => f.width.contains(16) && f.height.contains(12) && f.channels.contains(3)))
    assert(ff.forall(_.frame_idx % 3 == 0))
  }

  // dHash presumes natural-image structure: gradients that survive
  // resampling. xorshift noise (encodePng) is the adversarial case -- a
  // thumbnail of re-resampled noise re-rolls every gradient -- so the
  // semantic tests use smooth synthetic images built right here.
  private def structuredPng(w: Int, h: Int, fx: Double, fy: Double,
                            phase: Double): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val v = ((math.sin(x * fx + phase) + math.cos(y * fy)) * 63 + 128).toInt
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dHash: resize-stable, unrelated images far apart, corrupt payloads None") {
    val a = structuredPng(64, 48, 0.15, 0.2, 0)
    val aSmall = Codecs.resizeImage(a, 48, 36).get
    val b = structuredPng(64, 48, 0.45, 0.07, 1.7)
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val ha = Codecs.dHash(a).get
    val hs = Codecs.dHash(aSmall).get
    val hb = Codecs.dHash(b).get
    assert(ham(ha, hs) <= 10,
      s"resized copy drifted to Hamming ${ham(ha, hs)}")
    assert(ham(ha, hb) >= 16,
      s"unrelated images only Hamming ${ham(ha, hb)} apart")
    assert(Codecs.dHash("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("imageNearDupPairs: planted perceptual duplicate found, nothing spurious") {
    val recs = Seq(
      graft.ops.MediaRecord(1L, "image", structuredPng(64, 48, 0.15, 0.2, 0)),
      graft.ops.MediaRecord(2L, "image",
        Codecs.resizeImage(structuredPng(64, 48, 0.15, 0.2, 0), 56, 42).get),
      graft.ops.MediaRecord(3L, "image", structuredPng(64, 48, 0.45, 0.07, 1.7)),
      graft.ops.MediaRecord(4L, "image", structuredPng(64, 48, 0.05, 0.6, 0.4)),
      graft.ops.MediaRecord(5L, "video", Codecs.encodeVideo(16, 12, 3, seed = 5)),
      graft.ops.MediaRecord(6L, "image", "corrupt".getBytes("UTF-8")))
    val pairs = Multimodal.imageNearDupPairs(recs.toDS(), maxHamming = 10, chunks = 16)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("audioFingerprint: volume-invariant, distinct clips far apart, corrupt None") {
    val a = Codecs.encodeWav(1, 8000, 4096, seed = 11)
    // uniform gain: halve every PCM sample in the canonical 44-byte-header
    // RIFF our encoder emits — energies scale by c^2, comparisons survive
    val half = a.clone()
    var i = 44
    while (i + 1 < half.length) {
      val v = (((half(i) & 0xff) | (half(i + 1) << 8)).toShort / 2).toShort
      half(i) = (v & 0xff).toByte; half(i + 1) = ((v >> 8) & 0xff).toByte
      i += 2
    }
    val b = Codecs.encodeWav(1, 8000, 4096, seed = 12)
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val ha = Codecs.audioFingerprint(a).get
    val hh = Codecs.audioFingerprint(half).get
    val hb = Codecs.audioFingerprint(b).get
    assert(ham(ha, hh) <= 4, s"gain-scaled copy drifted to Hamming ${ham(ha, hh)}")
    assert(ham(ha, hb) >= 16, s"unrelated clips only Hamming ${ham(ha, hb)} apart")
    assert(Codecs.audioFingerprint("not audio".getBytes("UTF-8")).isEmpty)
    assert(Codecs.audioFingerprint(Codecs.encodeWav(1, 8000, 30, seed = 1)).isEmpty,
      "too short to frame must be None, not garbage bits")
  }

  test("audioNearDupPairs: planted gain-scaled duplicate found, nothing spurious") {
    val base = Codecs.encodeWav(2, 8000, 4096, seed = 21)
    val scaled = base.clone()
    var i = 44
    while (i + 1 < scaled.length) {
      val v = (((scaled(i) & 0xff) | (scaled(i + 1) << 8)).toShort / 2).toShort
      scaled(i) = (v & 0xff).toByte; scaled(i + 1) = ((v >> 8) & 0xff).toByte
      i += 2
    }
    val recs = Seq(
      graft.ops.MediaRecord(1L, "audio", base),
      graft.ops.MediaRecord(2L, "audio", scaled),
      graft.ops.MediaRecord(3L, "audio", Codecs.encodeWav(2, 8000, 4096, seed = 22)),
      graft.ops.MediaRecord(4L, "audio", Codecs.encodeWav(1, 8000, 4096, seed = 23)),
      graft.ops.MediaRecord(5L, "image", Codecs.encodePng(16, 16, seed = 5)))
    val pairs = Multimodal.audioNearDupPairs(recs.toDS(), maxHamming = 10, chunks = 16)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("videoNearDupPairs: prefix-sharing videos pair at Hamming 0, others don't") {
    // same seed => identical frame sequence prefix; different seed =>
    // unrelated noise frames (dHash ~32 apart with overwhelming odds)
    val recs = Seq(
      graft.ops.MediaRecord(1L, "video", Codecs.encodeVideo(16, 12, 5, seed = 9)),
      graft.ops.MediaRecord(2L, "video", Codecs.encodeVideo(16, 12, 3, seed = 9)),
      graft.ops.MediaRecord(3L, "video", Codecs.encodeVideo(16, 12, 4, seed = 77)),
      graft.ops.MediaRecord(4L, "audio", Codecs.encodeWav(1, 8000, 256, seed = 4)))
    val pairs = Multimodal.videoNearDupPairs(recs.toDS(), everyN = 1,
        maxHamming = 6, chunks = 8)
      .select("doc_a", "doc_b", "hamming", "n_frame_pairs")
      .as[(Long, Long, Int, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)), s"got ${pairs.toSeq}")
    assert(pairs.head._3 == 0, "shared prefix frames must match at Hamming 0")
    assert(pairs.head._4 >= 3, "all three shared frames should pair")
  }
}
