package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Classify, MediaStore, Multimodal}

/** Pins the persisted media-features store ([[MediaStore]]) and the
  * centroid-prediction store ([[Classify.predictionsPersisted]]) — the
  * round-11 verdict's top two next-round items. Contract for both (the
  * pair-store contract): cold = derive + publish, warm = load without
  * re-deriving, and the store's tables are IDENTICAL to the direct
  * operators they replace — including every downstream sampling/filter
  * consumers apply to the store instead of re-deriving.
  */
class MediaStoreSpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("media store: cold derive+publish, warm load, every table ≡ direct codec pass") {
    val path = tmpDir("mediastore") + "/media"
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachMedia(docs)

    val c0 = MediaStore.computeCount.get()
    val store = MediaStore.persisted(docs, path, resizeW = 10, resizeH = 10)
    assert(MediaStore.computeCount.get() == c0 + 1, "cold path must derive")
    val warm = MediaStore.persisted(docs, path, resizeW = 10, resizeH = 10)
    assert(MediaStore.computeCount.get() == c0 + 1,
      "warm hit re-ran the codec passes")

    assert(rows(store.features) == rows(Multimodal.extractFeatures(media).toDF()),
      "features table diverges from direct decode")
    assert(rows(store.imageDhash) == rows(Multimodal.imageDHash(media)
        .select(col("doc").cast("long").as("doc_id"), col("sig").as("dhash"))),
      "image_dhash table diverges from direct dHash")
    assert(rows(store.audioFp) == rows(Multimodal.audioFingerprints(media)
        .select(col("doc").cast("long").as("doc_id"), col("sig").as("audio_fp"))),
      "audio_fp table diverges from direct fingerprints")
    assert(rows(store.frameHashes) == rows(
        Multimodal.videoFrameHashes(media, everyN = 1)
          .select(col("doc").cast("long").as("doc_id"), col("frame_idx"),
            col("sig").as("dhash"))),
      "frame_hashes table diverges from direct per-frame hashes")
    assert(rows(store.resizedFeatures) ==
        rows(Multimodal.extractFeatures(Multimodal.resizeImages(media, 10, 10)).toDF()),
      "resized_features table diverges from direct resize+decode")
    assert(rows(warm.features) == rows(store.features))
  }

  test("frame tables at everyN=1 subsume any sampling cadence (q69/q85's contract)") {
    val path = tmpDir("mediacadence") + "/media"
    val docs = Tables.documents(spark, sf)
    val store = MediaStore.persisted(docs, path)
    val media = Multimodal.attachMedia(docs)
    // the q69 consumer filters frame_idx % 3 == 0 over the store — must
    // equal the direct everyN = 3 decode
    assert(rows(store.frameFeatures.where(col("frame_idx") % 3 === 0)) ==
        rows(Multimodal.frameFeatures(media, everyN = 3).toDF()),
      "store cadence filter diverges from direct everyN=3 sampling")
  }

  test("media store: a different resize target reads as STALE and re-derives") {
    val path = tmpDir("mediastale") + "/media"
    val docs = Tables.documents(spark, sf)
    MediaStore.persisted(docs, path, resizeW = 10, resizeH = 10)
    val c0 = MediaStore.computeCount.get()
    val other = MediaStore.persisted(docs, path, resizeW = 8, resizeH = 6)
    assert(MediaStore.computeCount.get() == c0 + 1,
      "changed resize target did not trigger re-derivation")
    // the republished store really carries the new target's metadata
    val dims = other.resizedFeatures
      .where(col("media_type") === "image" && col("width").isNotNull)
      .select(col("width"), col("height")).distinct()
      .as[(Int, Int)].collect().toSet
    assert(dims == Set((8, 6)), s"expected 8×6 resized images, got $dims")
  }

  test("prediction store: cold derive+publish, warm load, ≡ direct scoring") {
    val path = tmpDir("scorestore") + "/scores"
    val emb = Tables.embeddings(spark, sf)
    val direct = rows(Classify.centroidPredictions(emb))
    val c0 = Classify.predictionsComputeCount.get()
    val cold = rows(Classify.predictionsPersisted(emb, path))
    assert(Classify.predictionsComputeCount.get() == c0 + 1, "cold path must derive")
    assert(cold == direct, "published predictions diverge from direct scoring")
    val warm = rows(Classify.predictionsPersisted(emb, path))
    assert(Classify.predictionsComputeCount.get() == c0 + 1,
      "warm hit re-ran the scoring")
    assert(warm == cold)
    // surface schema keeps the corpus's own label type (the round-12
    // string-cast regression this line pins against)
    val sch = spark.read.parquet(s"$path/predictions").schema
    assert(sch("label").dataType == emb.schema("label").dataType,
      s"store changed the label type: ${sch("label").dataType}")
  }
}
