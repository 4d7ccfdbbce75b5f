package graft.pipeline

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The near-dup signature store's maintenance path (compact/vacuum), the
  * bucket-pruned probe, and the exactly-once foreachBatch sink protocol.
  * Lives in graft.pipeline because it exercises `private[pipeline]`
  * surface. */
class SignatureStoreSpec extends graft.SparkSuite {
  import spark.implicits._

  // -- IdempotentSink ------------------------------------------------------

  test("IdempotentSink: replay at every crash point converges, no duplicate rows") {
    val sink = tmpDir("idem-sink")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    IdempotentSink.write(batch, sink, batchId = 0)
    assert(spark.read.parquet(sink).count() == 2)

    // crash AFTER publish, BEFORE marker: simulate by deleting the marker
    // and replaying — deterministic names must overwrite, not append
    val marker = new java.io.File(s"$sink/_commits/0")
    assert(marker.exists()); marker.delete()
    IdempotentSink.write(batch, sink, batchId = 0)
    assert(spark.read.parquet(sink).count() == 2, "partial-publish replay double-appended")

    // crash AFTER marker: replay is a no-op even with different data
    IdempotentSink.write(Seq((9L, "x")).toDF("id", "v"), sink, batchId = 0)
    assert(spark.read.parquet(sink).count() == 2, "committed batch re-wrote")

    // a NEW batch appends
    IdempotentSink.write(Seq((3L, "c")).toDF("id", "v"), sink, batchId = 1)
    assert(spark.read.parquet(sink).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("IdempotentSink: a fresh checkpoint lineage appends instead of silently dropping") {
    val sink = tmpDir("idem-runs")
    val run1 = IdempotentSink.tagFor("/cp/alpha")
    val run2 = IdempotentSink.tagFor("/cp/beta")
    IdempotentSink.write(Seq((1L, "a")).toDF("id", "v"), sink, batchId = 0, Nil, run1)
    // restart against the SAME sink with a NEW checkpoint: batch ids
    // restart at 0 with different data — unscoped markers would skip it
    IdempotentSink.write(Seq((2L, "b")).toDF("id", "v"), sink, batchId = 0, Nil, run2)
    assert(spark.read.parquet(sink).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")), "fresh-lineage batch 0 must append, not skip")
    // within one lineage the replay no-op still holds
    IdempotentSink.write(Seq((9L, "x")).toDF("id", "v"), sink, batchId = 0, Nil, run2)
    assert(spark.read.parquet(sink).count() == 2)
  }

  test("IdempotentSink: readers see only logged files; a sink from before the log stays visible") {
    val sink = tmpDir("idem-log")
    IdempotentSink.write(Seq((1L, "a")).toDF("id", "v"), sink, batchId = 0)
    // a sink written before the file log existed: data, no _spark_metadata
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$sink/_spark_metadata"))
    IdempotentSink.write(Seq((2L, "b")).toDF("id", "v"), sink, batchId = 1)
    assert(spark.read.parquet(sink).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")), "pre-log data lost when the log was created")

    // a file renamed into the sink but not yet logged — the state a reader
    // listing mid-publish would see — is invisible to batch and stream reads
    val data = new java.io.File(sink).listFiles().filter(_.getName.endsWith(".parquet"))
    java.nio.file.Files.copy(data.head.toPath, new java.io.File(sink, "b9-part-00000.parquet").toPath)
    assert(spark.read.parquet(sink).count() == 2, "an unlogged file is visible")
    val q = spark.readStream.schema(spark.read.parquet(sink).schema).parquet(sink)
      .writeStream.format("memory").queryName("idem_log_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(spark.table("idem_log_stream").count() == 2, "a stream read an unlogged file")
  }

  test("IdempotentSink keeps the Hive layout for partitioned sinks") {
    val sink = tmpDir("idem-part")
    val batch = Seq((1L, "x", "2024-01-01"), (2L, "y", "2024-01-02")).toDF("id", "v", "d")
    IdempotentSink.write(batch, sink, batchId = 5, partitionCols = Seq("d"))
    assert(new java.io.File(s"$sink/d=2024-01-01").isDirectory)
    val back = spark.read.parquet(sink)
    assert(back.count() == 2 && back.columns.contains("d"))
    // and replay of the partitioned batch still converges
    val m = new java.io.File(s"$sink/_commits/5"); assert(m.exists()); m.delete()
    IdempotentSink.write(batch, sink, batchId = 5, partitionCols = Seq("d"))
    assert(spark.read.parquet(sink).count() == 2)
  }

  test("exact-stage kill-and-restart: replayed batch does not double-append (DualSink)") {
    implicit val sqlCtx = spark.sqlContext
    val clean = tmpDir("eo-clean"); val rejected = tmpDir("eo-rej"); val cp = tmpDir("eo-cp")
    val goodText = ("the quick brown fox jumps over lazy dogs near riverbank " * 8).trim
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = input.toDF().toDF("doc_id", "text", "ingest_ts")
    input.addData(
      (1L, goodText, java.sql.Timestamp.valueOf("2024-01-01 00:00:01")),
      (2L, "too short", java.sql.Timestamp.valueOf("2024-01-01 00:00:02")))
    val cfg = CurationStream.CurationConfig(minQuality = 0.6)
    val q = CurationStream.start(spark, df, cfg, clean, rejected, cp)
    try q.awaitTermination() finally q.stop()
    assert(spark.read.parquet(clean).count() == 1)
    assert(spark.read.parquet(rejected).count() == 1)

    // kill-and-restart: erase the checkpoint commit so Spark replays
    // batch 0 from its offset log — the crash-before-commit scenario
    assert(new java.io.File(s"$cp/commits/0").delete())
    val q2 = CurationStream.start(spark, df, cfg, clean, rejected, cp)
    try q2.awaitTermination() finally q2.stop()
    assert(spark.read.parquet(clean).count() == 1, "replay double-appended clean sink")
    assert(spark.read.parquet(rejected).count() == 1, "replay double-appended rejected sink")
  }

  // -- SignatureStore maintenance ------------------------------------------

  private val base = "the quick brown fox jumps over the lazy dog while rain falls " +
    "softly on ancient rooftops and children play games under bright summer " +
    "skies every single afternoon without any worry at all"
  private val other = "completely different content about spark execution engines and " +
    "distributed shuffle management across very large analytics clusters " +
    "running continuously in several regions with careful cost controls"

  test("compact mid-stream: probes still hit, store files shrink, replay guard survives") {
    implicit val sqlCtx = spark.sqlContext
    val clean = tmpDir("cpt-clean"); val audit = tmpDir("cpt-audit")
    val store = tmpDir("cpt-store"); val cp = tmpDir("cpt-cp")
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val cfg = CurationStream.NearDupConfig()

    // two micro-batches of admitted docs (restart per batch: AvailableNow
    // snapshots offsets at start)
    input.addData((1L, base))
    val q1 = CurationStream.startNearDup(spark, df, cfg, clean, audit, store, cp)
    try q1.awaitTermination() finally q1.stop()
    input.addData((2L, other))
    val q2 = CurationStream.startNearDup(spark, df, cfg, clean, audit, store, cp)
    try q2.awaitTermination() finally q2.stop()

    def deltaDirs = Option(new java.io.File(s"$store/delta").list()).get
      .count(_.startsWith("batch="))
    assert(deltaDirs == 2)

    // maintenance: fold both deltas into gen-0, then vacuum them away
    // (batch ordinals are lineage-scoped: epoch 1, micro-batch 1)
    val ptr = SignatureStore.compact(spark, store, buckets = 8)
    assert(ptr.exists(p => p.gen == 0 && p.maxBatch == SignatureStore.seqOf(1, 1)
      && p.buckets == 8 && p.gens == Seq(0L)))
    SignatureStore.vacuum(spark, store)
    assert(deltaDirs == 0, "vacuum must drop absorbed deltas")
    assert(new java.io.File(s"$store/gen-0").isDirectory)

    // compacted rows keep doc/batch fidelity
    val gen = SignatureStore.refs(spark, store, beforeBatch = Long.MaxValue,
      SignatureStore.currentPointer(spark, store))
    assert(gen.select("doc_id").distinct().as[Long].collect().toSet == Set(1L, 2L))
    assert(gen.count() == 2 * cfg.bands)

    // batch 2 AFTER compaction: near-dup of the compacted doc 1 is still
    // caught; the fresh doc is admitted and lands in a NEW delta
    input.addData((3L, base.replace("afternoon", "morning")), (4L, other.replace("cost", "risk")))
    val q3 = CurationStream.startNearDup(spark, df, cfg, clean, audit, store, cp)
    try q3.awaitTermination() finally q3.stop()
    val auditSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    assert(spark.read.schema(auditSchema).parquet(audit).select("doc_id").as[Long]
      .collect().toSet == Set(3L, 4L))
    assert(spark.read.parquet(clean).select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L))
    assert(deltaDirs == 1, "post-compaction batch writes a fresh delta")

    // second compaction is a MINOR: only the new delta folds into gen-1,
    // the tier list grows to [0, 1], gen-0 stays live through vacuum
    val ptr2 = SignatureStore.compact(spark, store, buckets = 8)
    assert(ptr2.exists(p => p.gen == 1 && p.maxBatch == SignatureStore.seqOf(1, 2)
      && p.gens == Seq(0L, 1L)))
    SignatureStore.vacuum(spark, store)
    assert(new java.io.File(s"$store/gen-0").exists(), "live tier vacuumed away")
    assert(new java.io.File(s"$store/gen-1").exists())
    assert(deltaDirs == 0, "absorbed delta survived vacuum")
    // docs 3/4 were near-dups (audited, never stored): the minor folded
    // an EMPTY delta — tier list grows, content unchanged
    assert(SignatureStore.refs(spark, store, Long.MaxValue,
      SignatureStore.currentPointer(spark, store))
      .select("doc_id").distinct().as[Long].collect().toSet == Set(1L, 2L))

    // a MAJOR (forced via maxGenerations=1) merges the tiers back to one
    input.addData((5L, base.replace("children", "students") + " tail"),
      (6L, "totally new content about garden tools and careful watering schedules"))
    val q4 = CurationStream.startNearDup(spark, df, cfg, clean, audit, store, cp)
    try q4.awaitTermination() finally q4.stop()
    val ptr3 = SignatureStore.compact(spark, store, buckets = 8, maxGenerations = 1)
    assert(ptr3.exists(p => p.gen == 2 && p.gens == Seq(2L)))
    SignatureStore.vacuum(spark, store)
    assert(!new java.io.File(s"$store/gen-0").exists())
    assert(!new java.io.File(s"$store/gen-1").exists())
    assert(SignatureStore.refs(spark, store, Long.MaxValue,
      SignatureStore.currentPointer(spark, store))
      .select("doc_id").distinct().as[Long].collect().toSet
      == Set(1L, 2L, 6L)) // 5 was a near-dup of 1: audited, not stored
  }

  test("probe prunes to candidate buckets and never shuffles the store") {
    implicit val sqlCtx = spark.sqlContext
    val clean = tmpDir("pr-clean"); val audit = tmpDir("pr-audit")
    val store = tmpDir("pr-store"); val cp = tmpDir("pr-cp")
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val cfg = CurationStream.NearDupConfig()
    input.addData((1L, base), (2L, other))
    val q = CurationStream.startNearDup(spark, df, cfg, clean, audit, store, cp)
    try q.awaitTermination() finally q.stop()
    val nBuckets = 16
    SignatureStore.compact(spark, store, buckets = nBuckets)

    // executed-plan walker that sees through AQE wrappers and stages
    // (DataFrame.inputFiles can't show pruning — it lists the FileIndex
    // before partition filters apply, so assert on scan METRICS instead)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: nodes(a.executedPlan)
      case q: QueryStageExec        => p +: nodes(q.plan)
      case _ => (p +: p.children.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
    }
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      nodes(df.queryExecution.executedPlan)
        .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }

    val all = SignatureStore.refs(spark, store, Long.MaxValue,
      SignatureStore.currentPointer(spark, store), candidateBuckets = None)
    val allFiles = filesRead(all)
    assert(allFiles > 1, "compacted store should span multiple bucket dirs")

    // static partition pruning: a candidate-bucket subset reads a strict
    // subset of the bucket dirs
    val someBuckets = all
      .select(SignatureStore.bucketOf(col("band_id"), col("band_hash"), nBuckets).as("b"))
      .distinct().as[Int].collect().toSet.take(1)
    val pruned = SignatureStore.refs(spark, store, Long.MaxValue,
      SignatureStore.currentPointer(spark, store), Some(someBuckets))
    assert(filesRead(pruned) < allFiles,
      s"pruned probe read ${filesRead(pruned)} of $allFiles files")
    assert(SignatureStore.refs(spark, store, Long.MaxValue,
      SignatureStore.currentPointer(spark, store), Some(Set.empty[Int])).count() == 0)

    // probe join shape: batch side broadcast, store side streamed — the
    // executed plan must contain a broadcast hash join and NO shuffle
    // (the store is scanned exactly once, never exchanged)
    val batchSide = Seq((10L, Array.fill(64)(7L), 0, 123L))
      .toDF("doc_id", "sig", "band_id", "band_hash")
    val probe = broadcast(batchSide)
      .join(SignatureStore.refs(spark, store, Long.MaxValue,
      SignatureStore.currentPointer(spark, store), Some(someBuckets)),
        Seq("band_id", "band_hash"))
    probe.collect()
    val flat = nodes(probe.queryExecution.executedPlan)
    assert(flat.exists(_.isInstanceOf[BroadcastHashJoinExec]), s"no BHJ in probe plan")
    assert(!flat.exists(_.isInstanceOf[ShuffleExchangeLike]), s"store probe shuffled")
  }

  test("pre-tiering pointer files parse as a single-generation tier list") {
    val store = tmpDir("legacy-ptr")
    SignatureStore.ensure(spark, store)
    val ptrDir = new java.io.File(s"$store/_ptr"); ptrDir.mkdirs()
    // a round-5 pointer: "maxBatch buckets", no tier list
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$store/_ptr/v3"), "17 8")
    val p = SignatureStore.currentPointer(spark, store)
    assert(p.contains(SignatureStore.Pointer(3L, 17L, 8, Seq(3L))))
  }

  test("bucket-count change forces a major merge, re-bucketing every tier") {
    val store = tmpDir("tier-rebucket")
    SignatureStore.ensure(spark, store)
    def sigRows(doc: Long) = Seq((doc, Array(doc, doc + 1L), 0, doc * 17L))
      .toDF("doc_id", "sig", "band_id", "band_hash")
    SignatureStore.appendBatch(sigRows(1L), store, seq = 1L)
    val p1 = SignatureStore.compact(spark, store, buckets = 8).get
    SignatureStore.appendBatch(sigRows(2L), store, seq = 2L)
    val p2 = SignatureStore.compact(spark, store, buckets = 8).get
    assert(p1.gens == Seq(0L) && p2.gens == Seq(0L, 1L), "same-bucket minors")

    // changing the bucket count MUST merge every tier into one generation
    // under the new modulus: a minor would leave gen-0/gen-1 bucketed
    // mod 8 while the probe prunes mod 16 — silently missed candidates
    SignatureStore.appendBatch(sigRows(3L), store, seq = 3L)
    val p3 = SignatureStore.compact(spark, store, buckets = 16).get
    assert(p3.gens == Seq(2L) && p3.buckets == 16)
    // every doc lands in exactly the bucket the new-modulus probe prunes to
    for (doc <- 1L to 3L) {
      val b = sigRows(doc).select(SignatureStore.bucketOf(
        col("band_id"), col("band_hash"), 16)).head().getInt(0)
      val hit = SignatureStore.refs(spark, store, Long.MaxValue, Some(p3),
          candidateBuckets = Some(Set(b)))
        .where(col("doc_id") === doc).count()
      assert(hit == 1L, s"doc $doc not re-bucketed under the new modulus")
    }
  }

  // -- run tags and lineage-scoped store ordinals --------------------------

  test("tagFor: 64-bit width, canonicalized path, distinct lineages distinct") {
    val t = IdempotentSink.tagFor("/cp/alpha")
    // r + 16 hex digits + trailing dash: a 32-bit hash would be 8 digits
    assert(t.matches("r[0-9a-f]{16}-"), s"unexpected tag shape: $t")
    assert(t != IdempotentSink.tagFor("/cp/beta"))
    // two spellings of one checkpoint path are ONE lineage: redundant
    // separators, trailing slash, and relative-vs-absolute all collapse
    assert(IdempotentSink.tagFor("/cp//alpha/") == t)
    val cwd = new java.io.File(".").getCanonicalPath
    assert(IdempotentSink.tagFor(s"$cwd/some/cp")
      == IdempotentSink.tagFor("some/cp"))
  }

  test("registerRun: first lineage 1, fresh lineage max+1, newest restart stable") {
    val store = tmpDir("runs-store")
    SignatureStore.ensure(spark, store)
    assert(SignatureStore.registerRun(spark, store, "rAAAA") == 1L)
    assert(SignatureStore.registerRun(spark, store, "rBBBB") == 2L)
    // a RESTART of the NEWEST lineage gets its original epoch back, so
    // replayed micro-batches land on their original store ordinals
    assert(SignatureStore.registerRun(spark, store, "rBBBB") == 2L)
    assert(SignatureStore.seqOf(2L, 0L) > SignatureStore.seqOf(1L, (1L << 40) - 1))
    intercept[IllegalArgumentException](SignatureStore.seqOf(0L, 0L))
    intercept[IllegalArgumentException](SignatureStore.seqOf(1L, 1L << 40))
  }

  test("registerRun: a stale lineage is re-registered above the max, not handed its old epoch") {
    val store = tmpDir("runs-stale")
    SignatureStore.ensure(spark, store)
    assert(SignatureStore.registerRun(spark, store, "rAAAA") == 1L)
    assert(SignatureStore.registerRun(spark, store, "rBBBB") == 2L)
    // resuming rAAAA now would write batches at seq = (1 << 40 | id),
    // UNDER rBBBB's ordinals — once a compaction advances the pointer
    // past them they'd be invisible to refs, skipped by compact, and
    // vacuumed: silent signature loss. It must get a FRESH epoch.
    assert(SignatureStore.registerRun(spark, store, "rAAAA") == 3L)
    // …and having re-registered, it IS the newest lineage: stable again
    assert(SignatureStore.registerRun(spark, store, "rAAAA") == 3L)
    // rBBBB in turn is now stale and re-registers above
    assert(SignatureStore.registerRun(spark, store, "rBBBB") == 4L)
  }

  test("registerRun: duplicate epochs from a register race settle deterministically") {
    val store = tmpDir("runs-dup")
    SignatureStore.ensure(spark, store)
    // simulate the post-race state: two distinct fresh lineages listed the
    // registry before either created, so both hold epoch 1
    new java.io.File(s"$store/_runs").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$store/_runs/rCCCC"), "1")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$store/_runs/rDDDD"), "1")
    // the lexicographically-later tag loses the tie-break and re-registers
    assert(SignatureStore.registerRun(spark, store, "rDDDD") == 2L)
    // the winner's file was never touched…
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$store/_runs/rCCCC")).trim == "1")
    // …but on ITS next restart it is stale (2 > 1) and re-registers too —
    // no epoch is ever shared by two lineages going forward
    assert(SignatureStore.registerRun(spark, store, "rCCCC") == 3L)
  }

  test("fresh checkpoint against the same store keeps prior-run signatures visible") {
    implicit val sqlCtx = spark.sqlContext
    val clean = tmpDir("ln-clean"); val audit = tmpDir("ln-audit")
    val store = tmpDir("ln-store")
    val cfg = CurationStream.NearDupConfig()

    // run 1 (checkpoint A): admit doc 1
    val in1 = MemoryStream[(Long, String)]
    in1.addData((1L, base))
    val q1 = CurationStream.startNearDup(spark, in1.toDF().toDF("doc_id", "text"),
      cfg, clean, audit, store, tmpDir("ln-cpA"))
    try q1.awaitTermination() finally q1.stop()
    assert(spark.read.parquet(clean).count() == 1)

    // run 2 (FRESH checkpoint B, same store): micro-batch ids restart at 0.
    // Raw-id store keying would overwrite delta/batch=0 and the replay
    // guard would hide doc 1 — a near-dup of it would be silently
    // admitted. Epoch-scoped ordinals keep run 1's rows visible.
    val in2 = MemoryStream[(Long, String)]
    in2.addData((2L, base.replace("afternoon", "evening")), (3L, other))
    val q2 = CurationStream.startNearDup(spark, in2.toDF().toDF("doc_id", "text"),
      cfg, clean, audit, store, tmpDir("ln-cpB"))
    try q2.awaitTermination() finally q2.stop()
    val auditSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    assert(spark.read.schema(auditSchema).parquet(audit).select("doc_id").as[Long]
      .collect().toSet == Set(2L), "cross-lineage near-dup not caught")
    assert(spark.read.parquet(clean).select("doc_id").as[Long].collect().toSet
      == Set(1L, 3L))
    // and run 1's delta survived — nothing was overwritten
    val deltaSeqs = Option(new java.io.File(s"$store/delta").list()).get
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).toSet
    assert(deltaSeqs == Set(SignatureStore.seqOf(1, 0), SignatureStore.seqOf(2, 0)))
  }

  test("probe never routes a doc on its own legacy-ordinal signature (self-pair guard)") {
    implicit val sqlCtx = spark.sqlContext
    val clean = tmpDir("sp-clean"); val audit = tmpDir("sp-audit")
    val store = tmpDir("sp-store")
    val cfg = CurationStream.NearDupConfig()
    SignatureStore.ensure(spark, store)

    // a pre-epoch-scheme store holds doc 7's signature under a LEGACY raw
    // ordinal (batch=0). Raw ordinals sort below every epoch ordinal, so
    // when batch 0 of the pre-upgrade checkpoint crash-replays under an
    // epoch, the `batch < seq` guard does NOT hide these rows: doc 7 sees
    // ITSELF as a prior reference at est_jaccard 1.0. Only the explicit
    // ref_id =!= doc_id guard keeps it out of the near-dup sink.
    val r = cfg.k / cfg.bands
    val legacy = graft.ops.Dedup
      .minhashSignatures(Seq((7L, base)).toDF("doc_id", "text"), "doc_id", "text", cfg.k)
      .select($"doc".cast("long").as("doc_id"), $"sig",
        explode(array((0 until cfg.bands).map(j => struct(lit(j).as("band_id"),
          xxhash64(slice($"sig", j * r + 1, r)).as("band_hash"))): _*)).as("band"))
      .select($"doc_id", $"sig", $"band.band_id", $"band.band_hash")
    SignatureStore.appendBatch(legacy, store, seq = 0L)

    // the replayed batch: doc 7 itself, plus doc 8 — a REAL near-dup of it
    val input = MemoryStream[(Long, String)]
    input.addData((7L, base), (8L, base.replace("afternoon", "evening")))
    val q = CurationStream.startNearDup(spark, input.toDF().toDF("doc_id", "text"),
      cfg, clean, audit, store, tmpDir("sp-cp"))
    try q.awaitTermination() finally q.stop()

    assert(spark.read.parquet(clean).select("doc_id").as[Long].collect().toSet
      == Set(7L), "doc routed on a self-pair (or real near-dup admitted)")
    // …and the guard does not over-exclude: doc 8's match against doc 7's
    // legacy row (and intra-batch row) is a genuine near-dup
    val auditSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    assert(spark.read.schema(auditSchema).parquet(audit).select("doc_id").as[Long]
      .collect().toSet == Set(8L))
  }

  test("in-stream maintenance: compact/vacuum scheduled from inside the query") {
    implicit val sqlCtx = spark.sqlContext
    val clean = tmpDir("mx-clean"); val audit = tmpDir("mx-audit")
    val store = tmpDir("mx-store"); val cp = tmpDir("mx-cp")
    // compact every 2 micro-batches, vacuum 1 batch later
    val cfg = CurationStream.NearDupConfig(compactEvery = 2, vacuumGrace = 1,
      storeBuckets = 8)
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    // a long-lived query over many micro-batches: ProcessingTime trigger +
    // processAllAvailable per feed gives one micro-batch per addData
    val q = CurationStream.startNearDup(spark, df, cfg, clean, audit, store, cp,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      val docs = Seq(
        (1L, base), (2L, other),
        (3L, "mountain rivers carve deep valleys through limestone cliffs " +
          "while eagles circle thermal currents above the silent forest " +
          "canopy waiting patiently for careless rodents below them"),
        (4L, "quarterly financial statements require careful reconciliation " +
          "of accounts receivable against the general ledger before any " +
          "auditor signs the attestation letter for regulators"),
        (5L, base.replace("afternoon", "morning")), // near-dup of 1 (post-compaction probe)
        (6L, "short"))
      docs.foreach { d => input.addData(d); q.processAllAvailable() }

      // 6 batches, cadence 2 → compactions after batches 2/4/6; vacuums one
      // batch later honored the grace: by batch 5 the first two compactions'
      // absorbed deltas are gone, gen pointers superseded
      val ptr = SignatureStore.currentPointer(spark, store)
      assert(ptr.exists(_.gen >= 2), s"expected ≥3 scheduled compactions, got $ptr")
      assert(ptr.exists(_.buckets == 8))
      // vacuum kept only post-compaction deltas (batch 6's compaction ran
      // in-stream; its vacuum is still pending — grace not yet elapsed)
      val deltaDirs = Option(new java.io.File(s"$store/delta").list())
        .map(_.count(_.startsWith("batch="))).getOrElse(0)
      assert(deltaDirs <= 2, s"vacuum left $deltaDirs deltas behind")
      // correctness across maintenance: near-dup 5 of compacted doc 1 caught
      val auditSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      assert(spark.read.schema(auditSchema).parquet(audit).select("doc_id").as[Long]
        .collect().toSet == Set(5L), "near-dup across in-stream compaction missed")
      assert(spark.read.parquet(clean).select("doc_id").as[Long].collect().toSet
        == Set(1L, 2L, 3L, 4L, 6L))
    } finally q.stop()
  }
}
