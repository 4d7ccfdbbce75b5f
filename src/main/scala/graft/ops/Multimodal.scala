package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One media record: an opaque binary payload plus typed metadata. */
case class MediaRecord(doc_id: Long, media_type: String, content: Array[Byte])

/** Decoded features for a media record. byte_len/checksum come from the raw
  * payload; width/height/n_frames/channels from the REAL decode
  * ([[Codecs]]) — all four are NULL when the payload doesn't decode (the
  * quarantine signal; see [[Multimodal.extractFeatures]]). For audio,
  * width/height are 0 and n_frames is the PCM frame count. */
case class MediaFeatures(doc_id: Long, media_type: String, byte_len: Int,
                         checksum: Long, width: Option[Int], height: Option[Int],
                         n_frames: Option[Int], channels: Option[Int])

/** Multimodal-column processing: image/audio/video carried as opaque
  * `binary` columns with typed metadata, decoded partition-wise with real
  * JVM codecs (`javax.imageio` for images and video frames,
  * `javax.sound.sampled` for audio — see [[Codecs]]).
  *
  * The reference has no multimodal surface (north-star extension; cf.
  * `/root/reference/README.md` data model — scalar sensor values only).
  *
  * Scale posture: binary payloads never enter a shuffle — decode happens
  * map-side inside `mapPartitions` (the Scala analog of `mapInPandas`: one
  * codec context per partition, streaming through rows without
  * materializing the partition) and only the small typed metadata flows
  * downstream. Undecodable payloads produce NULL metadata rather than a
  * task failure, so one corrupt file in a 100 TB corpus quarantines one
  * row, not a stage. `withBinaryBudget` sizes the partition count from the
  * total payload volume so the EXPECTED per-task payload is ~budget bytes
  * (hash distribution; not a hard per-task cap under size skew).
  */
object Multimodal {

  /** Attach a fake binary payload to the documents table (UTF-8 bytes of
    * the text) so byte-level plumbing (length/checksum routing) is
    * exercised without encoding cost. Payloads are NOT decodable media —
    * see [[attachMedia]] for real encoded payloads. */
  def attachBinary(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      col(textCol).cast("binary").as("content"))

  /** Synthesize REAL encoded media payloads deterministically from
    * `(doc_id, n_chars)` — this container ships no media files, so the
    * corpus is generated, but every payload is a genuine PNG / WAV / GVC1
    * stream that external tools decode. The generation formulas are
    * SQL-expressible, which is what makes the decode round-trip
    * oracle-checkable (q67): the DuckDB side recomputes the formula, the
    * Spark side reports what the codec actually decoded.
    *
    *   - image (doc_id%3==0): PNG, (8 + doc_id%24) × (8 + n_chars%24), 3 bands
    *   - audio (doc_id%3==1): WAV PCM16, 1 + doc_id%2 channels, 8 kHz,
    *     64 + n_chars%256 frames
    *   - video (doc_id%3==2): GVC1, 1 + doc_id%7 frames of 16×12 PNG
    *
    * All `%` above are `floorMod`, so an unexpected negative id still maps
    * to positive dimensions/frame counts instead of killing the task with a
    * `require` failure (matching the decode side's quarantine-not-crash
    * posture). The q67 oracle's SQL `%` agrees for the non-negative ids the
    * corpus actually contains; negative ids are out of oracle scope by
    * construction.
    *
    * Encoding is map-side (`mapPartitions`), payloads stay in the partition
    * that produced them. */
  def attachMedia(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    import java.lang.Math.floorMod
    FanOut.perRowCompute(docs, col("doc_id"))
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.map { case (id, nChars) =>
          floorMod(id, 3L) match {
            case 0L => MediaRecord(id, "image",
              Codecs.encodePng(8 + floorMod(id, 24L).toInt, 8 + floorMod(nChars, 24L).toInt, seed = id))
            case 1L => MediaRecord(id, "audio",
              Codecs.encodeWav(1 + floorMod(id, 2L).toInt, 8000, 64 + floorMod(nChars, 256L).toInt, seed = id))
            case _  => MediaRecord(id, "video",
              Codecs.encodeVideo(16, 12, 1 + floorMod(id, 7L).toInt, seed = id))
          }
        }
      }
  }

  /** Real decode of one payload → (width, height, n_frames, channels), or
    * `None` for an undecodable payload. Audio reports (0, 0, pcmFrames,
    * channels); video reports frame-0 dimensions + container frame count. */
  private[ops] def decode(mediaType: String, bytes: Array[Byte]): Option[(Int, Int, Int, Int)] =
    mediaType match {
      case "image" => Codecs.decodeImage(bytes).map(m => (m.width, m.height, 1, m.channels))
      case "audio" => Codecs.decodeWav(bytes).map(m => (0, 0, m.nSamples, m.channels))
      case "video" => Codecs.decodeVideoMeta(bytes).map(m => (m.width, m.height, m.nFrames, m.channels))
      case _       => None
    }

  private def crc64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a
    var i = 0
    while (i < bytes.length) { h ^= bytes(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Partition-wise feature extraction (the mapInPandas analog): the
    * iterator is consumed lazily, one codec context per partition. Decode
    * failures yield NULL metadata (filter `width IS NULL` downstream for
    * the quarantine audit) — byte_len/checksum are still populated so the
    * corrupt payload remains identifiable. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val meta = decode(r.media_type, r.content)
        MediaFeatures(r.doc_id, r.media_type, r.content.length, crc64(r.content),
          meta.map(_._1), meta.map(_._2), meta.map(_._3), meta.map(_._4))
      }
    }
  }

  /** One sampled video frame: parent doc, frame index, real PNG bytes. */
  case class FrameSample(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Partition-wise resize of image records through the real codec
    * (decode → bilinear scale → PNG re-encode; [[Codecs.resizeImage]]).
    * Non-images pass through unchanged; an image that fails to decode also
    * passes through unchanged (quarantine-by-inspection downstream) —
    * resize never drops rows. One scaler context per partition, lazy
    * iterator, binary never shuffles. */
  def resizeImages(media: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        if (r.media_type == "image")
          Codecs.resizeImage(r.content, w, h).map(b => r.copy(content = b)).getOrElse(r)
        else r
      }
    }
  }

  /** Partition-wise frame sampling of video records: every `everyN`-th
    * frame (index 0, everyN, 2·everyN, …) of each video becomes one output
    * row carrying that frame's real PNG bytes, sliced straight out of the
    * GVC1 container ([[Codecs.videoFrames]]). The fan-out happens inside
    * the partition iterator (`flatMap`) — frames of one video never need
    * co-location, so no shuffle is introduced; downstream feature
    * extraction decodes frame rows exactly like any other image payload.
    * Non-videos and malformed containers contribute no frames. */
  def sampleFrames(media: Dataset[MediaRecord], everyN: Int): Dataset[FrameSample] = {
    require(everyN >= 1, s"everyN must be >= 1 (got $everyN)")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.filter(_.media_type == "video").flatMap { r =>
        Codecs.videoFrames(r.content) match {
          case Some(frames) =>
            frames.collect { case (i, png) if i % everyN == 0 => FrameSample(r.doc_id, i, png) }
          case None => Iterator.empty
        }
      }
    }
  }

  case class FrameFeatures(doc_id: Long, frame_idx: Int, width: Option[Int],
                           height: Option[Int], channels: Option[Int])

  /** Sampled video frames decoded like any other image payload
    * ([[sampleFrames]] → real PNG decode per frame): one row per sampled
    * frame with its decoded dimensions, NULLs for an undecodable frame.
    * Same partition-wise posture as [[extractFeatures]] — the fan-out and
    * the decode happen inside one partition iterator, binary never
    * shuffles. */
  def frameFeatures(media: Dataset[MediaRecord], everyN: Int): Dataset[FrameFeatures] = {
    import media.sparkSession.implicits._
    sampleFrames(media, everyN).mapPartitions { it =>
      it.map { f =>
        val m = Codecs.decodeImage(f.frame)
        FrameFeatures(f.doc_id, f.frame_idx, m.map(_.width), m.map(_.height), m.map(_.channels))
      }
    }
  }

  /** Re-partition so each task holds roughly `budgetBytes` of payload in
    * EXPECTATION: the partition count is total/budget and records
    * hash-spread by doc_id, so the average task carries ~budget bytes.
    * This bounds the mean, not the tail — a pathological size skew (one
    * record ≫ budget) still lands somewhere; a hard per-task byte cap
    * would need a cumulative-size assignment pass (a metadata-only
    * prefix-sum), which this deliberately avoids. */
  def withBinaryBudget(media: DataFrame, budgetBytes: Long, totalBytes: Long): DataFrame = {
    val parts = math.max(1, (totalBytes / budgetBytes).toInt)
    media.repartition(parts, col("doc_id"))
  }

  /** Perceptual hash of every decodable image record
    * ([[Codecs.dHash]]: real decode → 9×8 grayscale → gradient bits).
    * Partition-wise map like every codec pass here — the binary column
    * never shuffles; only (doc_id, 1 long) leaves the scan. Non-images
    * and undecodable payloads yield no row (same contract as frame
    * sampling: dedup over media that can't be decoded is undefined). */
  def imageDHash(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        if (r.media_type == "image")
          Codecs.dHash(r.content).map(h => (r.doc_id, h))
        else None
      }
    }.toDF("doc", "sig")
  }

  /** Acoustic fingerprint of every decodable audio record
    * ([[Codecs.audioFingerprint]]): same partition-wise shape as
    * [[imageDHash]] — PCM never shuffles, 8 bytes per clip leave the
    * scan. */
  def audioFingerprints(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        if (r.media_type == "audio")
          Codecs.audioFingerprint(r.content).map(h => (r.doc_id, h))
        else None
      }
    }.toDF("doc", "sig")
  }

  /** Audio near-dup pairs: acoustic fingerprints through the shared
    * Hamming pigeonhole core ([[Dedup.hammingPairs64]]). */
  def audioNearDupPairs(media: Dataset[MediaRecord],
                        maxHamming: Int = 10, chunks: Int = 16): DataFrame =
    Dedup.hammingPairs64(audioFingerprints(media), maxHamming, chunks)

  /** Per-frame perceptual hashes of every video: real frame slice
    * ([[Codecs.videoFrames]]) → PNG decode → [[Codecs.dHash]]. One row
    * per decodable frame; the frame-hash index video retrieval builds. */
  def videoFrameHashes(media: Dataset[MediaRecord], everyN: Int = 1): DataFrame = {
    import media.sparkSession.implicits._
    sampleFrames(media, everyN).mapPartitions { it =>
      it.flatMap(f => Codecs.dHash(f.frame).map(h => (f.doc_id, f.frame_idx, h)))
    }.toDF("doc", "frame_idx", "sig")
  }

  /** Video near-dup pairs: two videos pair when ANY sampled frame pair
    * lands within `maxHamming` — the shared-scene criterion. Frame
    * hashes go through the same pigeonhole core; a video's own frames
    * never pair it with itself, and per video pair the BEST (minimum)
    * frame distance plus the matching-frame-pair count are kept. */
  def videoNearDupPairs(media: Dataset[MediaRecord], everyN: Int = 1,
                        maxHamming: Int = 6, chunks: Int = 8): DataFrame = {
    val frames = videoFrameHashes(media, everyN).select(col("doc"), col("sig"))
    Dedup.hammingPairs64(frames, maxHamming, chunks)
      .where(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("hamming")).as("hamming"),
        count(lit(1)).as("n_frame_pairs"))
  }

  /** Image near-dup pairs by perceptual hash: dHash per image, then the
    * SAME pigeonhole candidate machinery the text SimHash path uses
    * ([[Dedup.hammingPairs64]]) — bucket by hash chunks, verify with
    * exact `bit_count(xor)`. Scale shape is the text path's: candidate
    * generation is banded, the 100-TB binary payload stays in its scan
    * partitions, and the pairing runs over 8-byte signatures. */
  def imageNearDupPairs(media: Dataset[MediaRecord],
                        maxHamming: Int = 10, chunks: Int = 16): DataFrame =
    Dedup.hammingPairs64(imageDHash(media), maxHamming, chunks)
}
