package graft.tools

import org.apache.spark.sql.functions._

/** Per-round machine-readable STREAMING correctness artifact
  * (`perf/streaming_gate.json`) — the driver's correctness gate is
  * batch-only (DuckDB oracles), so without this a streaming regression
  * could hide behind a green batch artifact (round-10 verdict item 4).
  *
  * One run = the full medallion DAG (3 bronze sources → quarantine/
  * silver routing → one-stateful-operator windowed gold) drained end-to-end
  * TWICE, under the HDFS-backed and RocksDB state-store providers, at a
  * gate-sized corpus, plus an exactly-once restart probe. Checks
  * recorded (each a named pass/fail the driver can ingest):
  *
  *  - `equal_output`    — both providers emit the identical gold rowset
  *                        (count + order-independent multiset checksum);
  *  - `nonzero_gold`    — the drain actually produced windows (a gate
  *                        that green-lights an empty pipeline is no gate);
  *  - `bounded_state`   — peak state rows stay at watermark scale
  *                        (< `maxStateRows` = 100,000, 100× the ~900-row
  *                        ceiling the earlier five-operator gold reached
  *                        in the 1M-event GoldSoak — state must track
  *                        in-flight windows, not corpus size);
  *  - `exactly_once`    — restarting the gold query on the SAME
  *                        checkpoint with no new input emits ZERO new
  *                        rows (idempotent recovery).
  *
  * Since round 12 the artifact also carries a `curation` section — the
  * incremental-dedup path ([[graft.pipeline.CurationStream.startNearDup]]
  * + [[graft.pipeline.SignatureStore]]) had spec coverage but no
  * per-round machine-readable gate. One deterministic document corpus
  * (seeded generator, planted cross-batch near-dups) is drained TWICE —
  * a reference run with no store maintenance, and a run with scheduled
  * compaction + vacuum (the bucket-pruned probe path) — then the
  * maintained run is RESTARTED on its checkpoint with no new input:
  *
  *  - `curation_equal_routing` — both runs route the identical doc sets
  *    to clean/near-dup (count + order-independent checksum): bucket
  *    pruning and generation folding change COST, never the answer;
  *  - `curation_replay_guard`  — the restart emits zero new rows to
  *    either sink (exactly-once under replay; the store's lineage-scoped
  *    ordinals keep a replayed batch from matching its own signatures);
  *  - `curation_bounded_state` — signature-store rows = bands × admitted
  *    docs exactly (state tracks the ADMITTED corpus, with near-dups and
  *    nothing else contributing rows), and streaming state stays empty
  *    (the dedup horizon lives in the external store, not checkpoints);
  *  - `curation_nonzero`      — both routes actually fired (a gate that
  *    green-lights an empty pipeline is no gate).
  *
  * Usage: `runMain graft.tools.StreamingGate [outJson] [rate] [durationSec]`
  * (defaults: perf/streaming_gate.json, 100, 1200 → 120k events, ~2 min).
  * Exit is nonzero on any failed check. The full-scale counterpart
  * (1M events) remains [[GoldSoak]]; this gate reuses its drain. */
object StreamingGate {

  /** Deterministic document corpus for the curation gate: `nFiles` NDJSON
    * files × `docsPerFile` docs, ~30-word texts from a fixed vocabulary
    * (seeded), with every 10th doc a ONE-WORD near-copy of an earlier
    * fresh doc — cross-batch near-dups the signature store must catch. */
  private def writeDocCorpus(dir: String, nFiles: Int, docsPerFile: Int): Long = {
    val rng = new scala.util.Random(20260815L)
    val vocab = Vector(
      "alpha", "bridge", "carbon", "delta", "ember", "falcon", "granite",
      "harbor", "ionic", "jasper", "kernel", "lattice", "marble", "nebula",
      "onyx", "prairie", "quartz", "river", "signal", "timber", "umbra",
      "vertex", "willow", "xenon", "yonder", "zephyr", "anchor", "beacon",
      "cobalt", "drift", "echo", "flint", "glacier", "hollow", "ivory",
      "juniper", "keystone", "lumen", "meadow", "north", "orbit", "pine",
      "quill", "ridge", "slate", "thorn", "upland", "vale", "wharf", "zinc")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    def freshText(): String = {
      val t = Seq.fill(30)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      texts += t; t
    }
    new java.io.File(dir).mkdirs()
    val firstSec = System.currentTimeMillis() / 1000 - nFiles
    var id = 0L
    for (f <- 0 until nFiles) {
      val sb = new StringBuilder
      for (_ <- 0 until docsPerFile) {
        val text =
          if (id % 10 == 9 && texts.nonEmpty) {
            val base = texts(rng.nextInt(texts.size)).split(" ")
            base.updated(rng.nextInt(base.length),
              vocab(rng.nextInt(vocab.size))).mkString(" ")
          } else freshText()
        sb.append(s"""{"doc_id":$id,"text":"$text"}""").append('\n')
        id += 1
      }
      val path = java.nio.file.Paths.get(dir, f"docs-$f%04d.json")
      java.nio.file.Files.writeString(path, sb.toString)
      // a file source admits files in modification-time order and ties in
      // listing order; files written within one tick of the filesystem
      // clock tie, so the arrival order, and with it which near-duplicate
      // is kept, would vary from run to run. One second apart, in file order:
      java.nio.file.Files.setLastModifiedTime(path,
        java.nio.file.attribute.FileTime.fromMillis((firstSec + f) * 1000L))
    }
    id
  }

  /** (row count, order-independent xor checksum of doc ids) of a sink. */
  private def sinkSig(spark: org.apache.spark.sql.SparkSession,
                      path: String): (Long, Long) = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val r = spark.read.schema(schema).parquet(path)
      .agg(count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("doc_id"))), lit(0L)).as("h"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** The curation-path gate: returns (check-name → pass, json fragment). */
  private def curationGate(spark: org.apache.spark.sql.SparkSession,
                           work: String): (Map[String, Boolean], String) = {
    import graft.pipeline.{CurationStream, SignatureStore}
    val landing = s"$work/curation/landing"
    val nDocs = writeDocCorpus(landing, nFiles = 8, docsPerFile = 250)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def input() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(landing)

    // run A — reference: no scheduled maintenance (probe unions raw deltas)
    val cfgA = CurationStream.NearDupConfig()
    val qA = CurationStream.startNearDup(spark, input(), cfgA,
      s"$work/curation/a/clean", s"$work/curation/a/neardup",
      s"$work/curation/a/store", s"$work/curation/a/cp")
    try qA.awaitTermination() finally qA.stop()

    // run B — maintained: compaction every 2 batches, vacuum a batch later
    // (the pointer-pruned probe + generation-fold path)
    val cfgB = CurationStream.NearDupConfig(compactEvery = 2,
      storeBuckets = 16, vacuumGrace = 1)
    val qB = CurationStream.startNearDup(spark, input(), cfgB,
      s"$work/curation/b/clean", s"$work/curation/b/neardup",
      s"$work/curation/b/store", s"$work/curation/b/cp")
    try qB.awaitTermination() finally qB.stop()

    val cleanA = sinkSig(spark, s"$work/curation/a/clean")
    val cleanB = sinkSig(spark, s"$work/curation/b/clean")
    val dupA = sinkSig(spark, s"$work/curation/a/neardup")
    val dupB = sinkSig(spark, s"$work/curation/b/neardup")
    val equalRouting = cleanA == cleanB && dupA == dupB

    // replay guard: restart run B on the SAME checkpoint, no new input —
    // a correct recovery (idempotent sinks + lineage-scoped store
    // ordinals) emits zero additional rows to either sink
    val qR = CurationStream.startNearDup(spark, input(), cfgB,
      s"$work/curation/b/clean", s"$work/curation/b/neardup",
      s"$work/curation/b/store", s"$work/curation/b/cp")
    try qR.awaitTermination() finally qR.stop()
    val replayGuard = sinkSig(spark, s"$work/curation/b/clean") == cleanB &&
      sinkSig(spark, s"$work/curation/b/neardup") == dupB

    // bounded state: the signature store carries EXACTLY bands rows per
    // admitted doc (near-dups and replays contribute nothing), under
    // both the raw-delta and the compacted layout. DISTINCT because a
    // doc's bucket rows legitimately appear twice (generation + delta)
    // between a compaction and its vacuum — read amplification, not
    // state growth (the probe dedups the same way).
    def storeRows(store: String): Long =
      SignatureStore.refs(spark, store, Long.MaxValue,
        SignatureStore.currentPointer(spark, store), None)
        .select("doc_id", "band_id", "band_hash").distinct().count()
    val boundedState =
      storeRows(s"$work/curation/a/store") == cfgA.bands * cleanA._1 &&
        storeRows(s"$work/curation/b/store") == cfgB.bands * cleanB._1
    val nonzero = cleanA._1 > 0 && dupA._1 > 0 && cleanA._1 + dupA._1 == nDocs

    val checks = Map(
      "curation_equal_routing" -> equalRouting,
      "curation_replay_guard" -> replayGuard,
      "curation_bounded_state" -> boundedState,
      "curation_nonzero" -> nonzero)
    val json =
      s"""{"docs":$nDocs,"clean_rows":${cleanA._1},"neardup_rows":${dupA._1},""" +
        s""""clean_hash":${cleanA._2},"neardup_hash":${dupA._2},""" +
        s""""store_rows":${storeRows(s"$work/curation/b/store")},""" +
        s""""checks":{${checks.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}"""
    (checks, json)
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("perf/streaming_gate.json")
    val rate = args.lift(1).map(_.toInt).getOrElse(100)
    val duration = args.lift(2).map(_.toInt).getOrElse(1200)
    val maxStateRows = 100000L
    val spark = graft.Session()
    val work = java.nio.file.Files.createTempDirectory("graft-streaming-gate")
      .toString

    val soak = GoldSoak.run(spark, work, rate, duration, fpt = 40)
    val equal = soak.equal
    val goldRows = soak.runs.map(_.goldRows)
    val peakRows = soak.runs.map(_.peakStateRows)
    val nonzeroGold = goldRows.forall(_ > 0L)
    val boundedState = peakRows.forall(_ < maxStateRows)

    // exactly-once restart probe: re-start the gold query on the HDFS
    // run's existing checkpoint with NO new input — a correct recovery
    // emits zero additional rows (the committed offsets already cover
    // the whole landing corpus)
    val cfg = graft.pipeline.PipelineConfig(
      landingRoot = s"$work/landing",
      bronzeRoot = s"$work/hdfs/bronze",
      silverRoot = s"$work/hdfs/silver",
      goldRoot = s"$work/hdfs/gold",
      checkpointRoot = s"$work/hdfs/checkpoints",
      bridgesCsv = s"$work/bridges.csv",
      sourceMaxFilesPerTrigger = Some(40))
    cfg.applySessionConf(spark)
    val before = spark.read.schema(graft.pipeline.Schemas.gold)
      .parquet(cfg.goldDir).count()
    val q = graft.pipeline.Gold.start(spark, cfg)
    q.awaitTermination()
    val after = spark.read.schema(graft.pipeline.Schemas.gold)
      .parquet(cfg.goldDir).count()
    val exactlyOnce = after == before

    // the curation (incremental-dedup) section — see the object doc
    val (curationChecks, curationJson) = curationGate(spark, work)

    val pass = equal && nonzeroGold && boundedState && exactlyOnce &&
      curationChecks.values.forall(identity)
    val doc =
      s"""{"gate":"streaming","pass":$pass,""" +
        s""""checks":{"equal_output":$equal,"nonzero_gold":$nonzeroGold,""" +
        s""""bounded_state":$boundedState,"exactly_once":$exactlyOnce,""" +
        curationChecks.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}," +
        s""""gold_rows":[${goldRows.mkString(",")}],""" +
        s""""state_peak_rows":[${peakRows.mkString(",")}],""" +
        s""""restart_rows_before":$before,"restart_rows_after":$after,""" +
        s""""events":${rate.toLong * duration},""" +
        s""""curation":$curationJson,""" +
        s""""soak":${soak.json}}"""
    Option(new java.io.File(outJson).getParentFile).foreach(_.mkdirs())
    val w = new java.io.FileWriter(outJson)
    try w.write(doc + "\n") finally w.close()
    println(doc)
    spark.stop()
    if (!pass) sys.error(s"streaming gate FAILED — see $outJson")
  }
}
