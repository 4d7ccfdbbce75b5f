package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.{Classify, Dedup, Text}
import graft.pipeline.IdempotentSink.Route

/** Streaming corpus curation — the training-data analog of the medallion
  * flow, composed from the SAME operator library the batch queries use
  * (q42's stages, streamed): incoming documents are scrubbed to canonical
  * form, exact-deduplicated against recently-seen content
  * (watermark-bounded state keyed on the content fingerprint), then
  * quality-routed to clean/rejected sinks from one scan per micro-batch.
  *
  * Scale posture: scrubbing and scoring are map-side projections; the only
  * stateful operator is `dropDuplicatesWithinWatermark` whose state
  * carries one 32-char fingerprint per distinct document inside the
  * watermark horizon — bounded by arrival rate × watermark, not corpus
  * size (cross-horizon dedup belongs to the batch pass, q20/q42). Both
  * sinks are written by one [[IdempotentSink.writeAll]] job per
  * micro-batch, and rejected rows keep their quality score for the audit
  * trail.
  */
object CurationStream {

  /** @param minQuality  quality-gate threshold (see [[Text.qualityScore]])
    * @param scrubRules  ordered regex scrubbing applied BEFORE dedup, so
    *                    documents differing only in scrubbed content
    *                    (e.g. numeric ids) deduplicate together
    * @param watermark   dedup-state horizon on the `ingest_ts` column */
  case class CurationConfig(minQuality: Double = 0.6,
                            scrubRules: Seq[(String, String)] = Nil,
                            watermark: String = "10 minutes")

  /** The composed streaming transform (unstarted — tests inspect it).
    * Input columns: doc_id, text, ingest_ts (event time). Output adds
    * `quality`; text is scrubbed; duplicates within the watermark are
    * dropped. Across micro-batches the earlier batch's document wins
    * (its fingerprint is already in state); WITHIN one micro-batch the
    * survivor among same-batch duplicates is whichever row reaches the
    * state partition first — stable for a given plan and partitioning
    * but not a cross-partition arrival-order guarantee. */
  def curated(docs: DataFrame, cfg: CurationConfig): DataFrame = {
    val scrubbed = docs.withColumn("text", Text.scrub(col("text"), cfg.scrubRules))
    val wc = Text.tokenCount(col("text"))
    val awl = Text.sumTokenLen(col("text")) / wc
    val stopRatio = Text.stopwordCount(col("text")) / wc
    scrubbed
      .withColumn("quality", Text.qualityScore(wc, stopRatio, awl))
      .withColumn("fp", md5(col("text")))
      .withWatermark("ingest_ts", cfg.watermark)
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp")
  }

  def start(spark: SparkSession, input: DataFrame, cfg: CurationConfig,
            cleanPath: String, rejectedPath: String, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    curated(input, cfg).writeStream
      .queryName("curation_stream")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(qualityGate(cfg, cleanPath, rejectedPath, checkpoint))
      .start()
  }

  /** Clean and rejected sinks of one micro-batch, written in one Spark
    * job; rejected rows (a NULL score included) keep their score. */
  private def qualityGate(cfg: CurationConfig, cleanPath: String, rejectedPath: String,
                          checkpoint: String): (Dataset[Row], Long) => Unit = {
    val tag = IdempotentSink.tagFor(checkpoint)
    val clean = coalesce(col("quality") >= cfg.minQuality, lit(false))
    (batch, batchId) => {
      val all = batch.columns.toSeq.map(batch.col)
      IdempotentSink.writeAll(batch.toDF(), batchId, tag,
        Seq(Route(cleanPath, clean, all), Route(rejectedPath, !clean, all)))
    }
  }

  /** [[curated]] with the rule-based score swapped for a TRAINED
    * classifier's calibrated score ([[graft.ops.Classify]]) — the
    * train-in-batch / serve-in-stream split a production quality gate
    * runs: training is the batch side's aggregation-only GD (bounded
    * sample, driver holds the weight vector), serving is a stateless
    * per-row projection with the weights baked into the streaming plan
    * as literals. Because the scoring expression tree is identical in
    * both modes (same codegen'd built-ins, no state, no UDF), a doc's
    * streamed score is BIT-IDENTICAL to its batch score — asserted by
    * the parity spec. `cfg.minQuality` now thresholds the calibrated
    * probability (0.5 = the model's own decision boundary). */
  def curatedTrained(docs: DataFrame, model: Classify.TrainedLogistic,
                     cfg: CurationConfig): DataFrame = {
    val scrubbed = docs.withColumn("text", Text.scrub(col("text"), cfg.scrubRules))
    scrubbed
      .withColumn("quality",
        Classify.score(Classify.qualityFeatures(col("text")), model))
      .withColumn("fp", md5(col("text")))
      .withWatermark("ingest_ts", cfg.watermark)
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp")
  }

  /** [[start]] with the trained-model gate of [[curatedTrained]]. */
  def startTrained(spark: SparkSession, input: DataFrame,
                   model: Classify.TrainedLogistic, cfg: CurationConfig,
                   cleanPath: String, rejectedPath: String, checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    curatedTrained(input, model, cfg).writeStream
      .queryName("curation_trained_stream")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(qualityGate(cfg, cleanPath, rejectedPath, checkpoint))
      .start()
  }

  /** MinHash near-dup stage parameters (same S-curve semantics as the
    * batch `Dedup.minhashCandidates`: k/bands rows per band, threshold
    * ≈ (1/bands)^(bands/k)).
    *
    * @param compactEvery  fold the signature store's per-batch deltas
    *                      into a bucketed generation every N micro-batches
    *                      from INSIDE the running query (0 = manual
    *                      maintenance via [[SignatureStore.compact]])
    * @param storeBuckets  bucket count for scheduled compactions
    * @param vacuumGrace   scheduled [[SignatureStore.vacuum]] runs this
    *                      many batches after its compaction, so a reader
    *                      planned against the old listing finishes first
    * @param storeMaxGenerations LSM tier budget for scheduled compactions
    *                      (see [[SignatureStore.compact]]): minors fold
    *                      only new deltas (maintenance cost O(arrival
    *                      rate) — measured flat at sf1, PERF.md); the
    *                      probe pays ~10 %/live tier read amplification
    *                      until a major (1-in-`storeMaxGenerations`
    *                      compactions) resets the list. 4–8 with a
    *                      cadence that lands a major about daily is the
    *                      measured sweet spot */
  case class NearDupConfig(k: Int = 64, bands: Int = 16,
                           minEstJaccard: Double = 0.5,
                           compactEvery: Int = 0,
                           storeBuckets: Int = 64,
                           vacuumGrace: Int = 2,
                           storeMaxGenerations: Int = 8)

  /** Streaming MinHash near-dup curation — the continuous counterpart of
    * the batch near-dup pass (q25/q42), composed AFTER the exact stage
    * ([[start]]). Each micro-batch:
    *
    *   1. computes the batch documents' MinHash signatures with the SAME
    *      native expression the batch path uses
    *      ([[graft.ops.Dedup.minhashSignatures]]) and bands them;
    *   2. probes the accumulating [[SignatureStore]] of everything
    *      previously admitted — a (band_id, band_hash) equi-join with the
    *      BATCH side broadcast, so the store is scanned once and never
    *      shuffled, and (once a compacted generation exists) pruned to the
    *      batch's candidate bucket dirs. Guarded to `batch < currentBatchId`
    *      so a replayed batch never matches its own earlier attempt — plus
    *      an intra-batch self-probe (smaller doc_id wins, matching the
    *      batch operator's survivor rule);
    *   3. routes near-duplicates (estimated Jaccard ≥ threshold against
    *      any admitted doc) to the audit sink, admits the rest to the
    *      clean sink — both through [[IdempotentSink]], exactly-once under
    *      replay — and appends the survivors' bucket rows to the store's
    *      delta dir (overwrite per batch id, replay-idempotent).
    *
    * Scale posture: signatures/banding are map-side; the store carries
    * `bands` narrow rows per admitted distinct-signature document; probe
    * cost tracks the CANDIDATE buckets (a broadcast-hash join over the
    * pruned store scan), not accumulated stream length. With
    * `compactEvery > 0` the query schedules its own maintenance:
    * [[SignatureStore.compact]] every N batches and
    * [[SignatureStore.vacuum]] a grace period later, both between the
    * batch's sink writes and the next trigger (foreachBatch is serial, so
    * the owning query never races its own vacuum; the grace protects
    * external readers). The cadence counter is in-memory and resets on
    * restart — harmless, because between compactions the probe unions the
    * deltas in: maintenance cadence is a cost knob, not a correctness
    * one. Store ordinals are lineage-scoped ([[SignatureStore.seqOf]]):
    * restarting with a fresh checkpoint against the same store keeps
    * every prior run's signatures visible instead of overwriting batch 0
    * and hiding them behind the replay guard. State never lives in the
    * streaming checkpoint, so restarts are cheap and the horizon is the
    * whole corpus, not a watermark. Documents too short to shingle have
    * no signature: they are admitted (near-dup undefined) and do not
    * enter the store. */
  def startNearDup(spark: SparkSession, input: DataFrame, cfg: NearDupConfig,
                   cleanPath: String, nearDupPath: String, storePath: String,
                   checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(cfg.k % cfg.bands == 0, s"bands must divide k (got ${cfg.k}/${cfg.bands})")
    SignatureStore.ensure(spark, storePath)
    val r = cfg.k / cfg.bands
    val tag = IdempotentSink.tagFor(checkpoint)
    // one registry read/create per (re)start: a restart of the NEWEST
    // checkpoint lineage gets its old epoch back (replay lands on the
    // original ordinals); a fresh checkpoint — or a stale lineage resumed
    // after a newer one has run — gets a higher epoch, so prior
    // signatures stay visible and new batches sort above the pointer
    val epoch = SignatureStore.registerRun(spark, storePath, tag)
    // scheduled-maintenance cadence (driver-side, serial with the batches)
    var processed = 0L
    var vacuumAt = -1L
    val fn: (Dataset[Row], Long) => Unit = (batch, batchId) => {
      val seq = SignatureStore.seqOf(epoch, batchId)
      val s = batch.sparkSession
      import s.implicits._
      val docs = batch.toDF().persist()
      try {
        val bandStructs = (0 until cfg.bands).map { j =>
          struct(lit(j).as("band_id"),
            xxhash64(slice($"sig", j * r + 1, r)).as("band_hash"))
        }
        val buckets = Dedup.minhashSignatures(docs, "doc_id", "text", cfg.k)
          .select($"doc".cast("long").as("doc_id"), $"sig",
            explode(array(bandStructs: _*)).as("band"))
          .select($"doc_id", $"sig", $"band.band_id", $"band.band_hash")
          .persist()
        // ONE pointer read per micro-batch, threaded into refs: the
        // candidate-bucket set is computed under this generation's bucket
        // modulus, and a concurrent compaction publishing a different
        // modulus between two reads would make the pruning skip true
        // candidate buckets (silently admitting near-dups)
        val ptr = SignatureStore.currentPointer(s, storePath)
        // candidate bucket dirs of the compacted generation: a bounded
        // driver-side collect (≤ the generation's bucket count, a small
        // constant) that buys static partition pruning on the store scan
        val candBuckets = ptr.map { p =>
          buckets.select(SignatureStore.bucketOf($"band_id", $"band_hash", p.buckets).as("b"))
            .distinct().as[Int].collect().toSet
        }
        // reference side: everything admitted in PRIOR batches — of this
        // run AND every earlier lineage (replay guard: batch < seq, with
        // seq lineage-scoped so prior-run ordinals sort below it) — plus
        // smaller-id docs of THIS batch
        val prior = SignatureStore.refs(s, storePath, seq, ptr, candBuckets)
          .select($"doc_id".as("ref_id"), $"sig".as("ref_sig"),
            $"band_id", $"band_hash", lit(true).as("is_prior"))
        val intra = buckets
          .select($"doc_id".as("ref_id"), $"sig".as("ref_sig"),
            $"band_id", $"band_hash", lit(false).as("is_prior"))
        // the micro-batch is the small side — broadcast it so the store
        // scan streams through a broadcast-hash join with no shuffle
        val nearIds = broadcast(buckets)
          .join(prior.unionByName(intra), Seq("band_id", "band_hash"))
          // self-pairs are never near-dup evidence: the prior side can
          // surface a doc's own signature (e.g. a crash-replayed batch of
          // a pre-epoch-scheme store whose legacy raw-id ordinals sort
          // below every epoch ordinal, defeating the batch < seq guard)
          // and est_jaccard 1.0 against itself would misroute the doc
          .where(($"is_prior" || $"ref_id" < $"doc_id")
            && $"ref_id" =!= $"doc_id")
          .dropDuplicates("doc_id", "ref_id")
          .withColumn("est_jaccard",
            aggregate(zip_with($"sig", $"ref_sig",
                (x, y) => when(x === y, 1).otherwise(0)),
              lit(0), (a, x) => a + x) / lit(cfg.k.toDouble))
          .where($"est_jaccard" >= cfg.minEstJaccard)
          .select($"doc_id").distinct()
          .persist() // two consumers below — probe runs once, not twice
        try {
          val flagged = docs.join(broadcast(nearIds.withColumn("_near_dup", lit(true))),
            Seq("doc_id"), "left")
          val near = $"_near_dup".isNotNull
          val all = docs.columns.toSeq.map(c => flagged.col(s"`$c`"))
          IdempotentSink.writeAll(flagged, batchId, tag,
            Seq(Route(cleanPath, !near, all), Route(nearDupPath, near, all)))
          SignatureStore.appendBatch(
            buckets.join(nearIds, Seq("doc_id"), "left_anti"), storePath, seq)
        } finally { nearIds.unpersist(); buckets.unpersist(); () }
      } finally { docs.unpersist(); () }
      // in-stream maintenance, after the batch's writes: vacuum first so
      // a compaction's grace period is honored even when both fall due on
      // the same batch, then compact on the cadence boundary
      if (cfg.compactEvery > 0) {
        processed += 1
        if (vacuumAt >= 0 && processed >= vacuumAt) {
          SignatureStore.vacuum(s, storePath); vacuumAt = -1
        }
        if (processed % cfg.compactEvery == 0 &&
            SignatureStore.compact(s, storePath, cfg.storeBuckets,
              cfg.storeMaxGenerations).isDefined)
          vacuumAt = processed + cfg.vacuumGrace
      }
    }
    input.writeStream
      .queryName("curation_neardup_stream")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(fn)
      .start()
  }
}
