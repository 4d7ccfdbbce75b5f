package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.{Bronze, Generator, Gold, PipelineConfig}

/** Scale soak for the medallion streaming DAG under BOTH state-store
  * providers: generates an sf1-scale landing corpus (1M raw events —
  * the size of `testdata/sf1/events.parquet`), drains it through
  * bronze (which also writes silver) → gold in bounded micro-batches
  * (`sourceMaxFilesPerTrigger`) under the default HDFS-backed store and
  * again under RocksDB, and records per-tier throughput (input rows from
  * the queries' progress logs over the tier's wall time, start to
  * termination; per-phase times summed over all batches of the tier's
  * queries, which run concurrently) plus the gold query's state-operator
  * metrics (rows, state bytes, provider-specific custom metrics) at
  * their per-run PEAK and at end-of-drain.
  *
  * This is the 100 TB operational evidence the fixture-scale
  * `StateStoreMatrixSpec` cannot give: (a) flipping
  * `spark.sql.streaming.stateStore.providerClass` changes NOTHING about
  * emitted gold rows at 1M-event scale (row count + rounded checksum
  * compared), and (b) the watermark actually bounds state during a long
  * drain — peak state rows stay at (bridges × in-flight windows) in
  * gold's one stateful operator, orders of magnitude below input size,
  * under both providers.
  *
  * Usage: `runMain graft.tools.GoldSoak <workDir> [rate=200]
  * [durationSec=5000] [filesPerTrigger=40]` — writes
  * `<workDir>/gold_soak.json` (one record per provider) and prints it.
  */
object GoldSoak {

  private def fmtD(v: Double): String = f"$v%.2f"

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(sys.error(
      "usage: GoldSoak <workDir> [rate] [durationSec] [filesPerTrigger]"))
    val rate = args.lift(1).map(_.toInt).getOrElse(200)
    val duration = args.lift(2).map(_.toInt).getOrElse(5000)
    val fpt = args.lift(3).map(_.toInt).getOrElse(40)
    val spark = graft.Session()
    val equal = run(spark, work, rate, duration, fpt).equal
    spark.stop()
    // the standalone soak still fails loudly on divergence — but only
    // AFTER the artifact is written (run() itself never throws on the
    // equality check, so gates composing it always get a machine-readable
    // equal_output:false record instead of a crash-with-no-artifact)
    if (!equal) sys.error(
      s"gold outputs differ between state-store providers — see $work/gold_soak.json")
  }

  /** One provider's drain: emitted gold rows and their checksum, the
    * peak state rows across the drain, and the record's JSON. */
  final case class ProviderRun(provider: String, goldRows: Long,
                               goldHash: Long, peakStateRows: Long,
                               json: String)

  /** Both providers' runs. */
  final case class Result(runs: Seq[ProviderRun]) {
    /** Gold output is identical under every provider. */
    def equal: Boolean =
      runs.map(r => (r.goldRows, r.goldHash)).distinct.size == 1
    /** The soak's JSON document (`gold_soak.json`). */
    def json: String =
      s"""{"soak":"gold_statestore","equal_output":$equal,""" +
        s""""runs":[${runs.map(_.json).mkString(",")}]}"""
  }

  /** The dual-provider drain + equivalence check; writes
    * `<work>/gold_soak.json`. NEVER throws on divergence — the caller
    * (StreamingGate, main) decides how to surface `equal = false`; the
    * one failure mode the check exists to catch must still produce an
    * artifact. */
  def run(spark: SparkSession, work: String, rate: Int, duration: Int,
          fpt: Int): Result = {
    // keep every tier's progress for the throughput and state readings
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", 4096L)
    new java.io.File(work).mkdirs()
    val landing = s"$work/landing"
    val bridgesCsv = s"$work/bridges.csv"
    val nEvents = Generator.generate(landing, rate, duration, seed = 42L)
    Generator.writeBridgesCsv(bridgesCsv)
    println(s"[gold-soak] landing corpus: $nEvents events " +
      s"(rate=$rate x ${duration}s, maxFilesPerTrigger=$fpt)")

    val providers = Seq(
      "hdfs" -> PipelineConfig.DefaultProvider,
      "rocksdb" -> PipelineConfig.RocksDbProvider)

    // true first-batch durations, captured AS BATCHES COMPLETE via a
    // listener: recentProgress retains only the newest
    // numRecentProgressUpdates entries, so for a tier exceeding that cap
    // `recentProgress.headOption` is a steady-state batch, not the first —
    // skewing exactly the warmup/steady split the field exists to provide
    val firstBatchMs =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        Option(e.progress.durationMs.get("triggerExecution")).foreach { ms =>
          firstBatchMs.putIfAbsent(e.progress.id, ms)
        }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    val records = try providers.map { case (label, provider) =>
      val root = s"$work/$label"
      val cfg = PipelineConfig(
        landingRoot = landing,
        bronzeRoot = s"$root/bronze",
        silverRoot = s"$root/silver",
        goldRoot = s"$root/gold",
        checkpointRoot = s"$root/checkpoints",
        bridgesCsv = bridgesCsv,
        stateStoreProvider = Some(provider),
        sourceMaxFilesPerTrigger = Some(fpt))
      cfg.applySessionConf(spark)

      // tier-by-tier drain (Pipelines.drainOnce's shape, but keeping the
      // query handles so each tier's progress log is readable after)
      // (rows, nBatches, phaseSumsJson): the phase map sums each
      // durationMs key over every batch of every query of the tier — the
      // bronze queries run concurrently, so these sums can exceed the
      // tier's wall time — plus a first-batch/steady split of
      // triggerExecution, the two numbers that separate "slow engine"
      // from "cold JVM" and "listing-bound" from "compute-bound"
      def tput(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery])
          : (Long, Int, String) = {
        // the listener runs on the async listener bus — a first-progress
        // event can still be in flight when the queries stop. Wait (with
        // a bounded retry) until every query that made progress has its
        // first-batch entry, so firstBatchTriggerMs never undercounts on
        // an undelivered event. No public flush exists on spark.streams;
        // a 10 s ceiling keeps a lost event from hanging the soak.
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (qs.exists(q => q.recentProgress.nonEmpty &&
                 !firstBatchMs.containsKey(q.id)) &&
               System.nanoTime() < deadline)
          Thread.sleep(50)
        val progress = qs.flatMap(_.recentProgress)
        val rows = progress.map(_.numInputRows).sum
        def sumKey(k: String): Long = progress.flatMap(p =>
          Option(p.durationMs.get(k)).map(_.toLong)).sum
        val phaseKeys = progress.flatMap(_.durationMs.keySet().toArray
          .map(_.toString)).distinct.sorted
        // first micro-batch of each query carries codegen/classload
        // warmup; report it apart so steady rows/s is computable
        // (listener-captured — retention-proof; see firstBatchMs above)
        val firstMs = qs.flatMap(q => Option(firstBatchMs.get(q.id)))
          .map(_.toLong).sum
        // one Seq including the firstBatch entry, so an empty phaseKeys
        // (a tier with zero progress entries) still yields valid JSON
        // instead of the {,"firstBatchTriggerMs":...} corruption
        val phases = (phaseKeys.map(k => s""""$k":${sumKey(k)}""") :+
          s""""firstBatchTriggerMs":$firstMs""")
          .mkString("{", ",", "}")
        (rows, progress.length, phases)
      }
      // a tier's time is its wall time, from start to termination
      def secSince(t: Long) = (System.nanoTime() - t) / 1e9
      val t0 = System.nanoTime()
      val bronzeQs = Bronze.startAll(spark, cfg)
      bronzeQs.foreach(_.awaitTermination())
      val bronzeSec = secSince(t0)
      val bronze = tput(bronzeQs)
      val tGold = System.nanoTime()
      val goldQ = Gold.start(spark, cfg)
      goldQ.awaitTermination()
      val goldSec = secSince(tGold)
      val gold = tput(Seq(goldQ))
      val wallSec = secSince(t0)

      // state metrics: per-operator END state from the last progress with
      // state info, and the PEAK totals across the whole drain — peak is
      // the number that must stay bounded for the 100 TB claim
      val withState = goldQ.recentProgress.filter(_.stateOperators.nonEmpty)
      val endOps = withState.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
      val peakRows = if (withState.isEmpty) 0L
        else withState.map(_.stateOperators.map(_.numRowsTotal).sum).max
      val peakBytes = if (withState.isEmpty) 0L
        else withState.map(_.stateOperators.map(_.memoryUsedBytes).sum).max

      // output equivalence inputs: emitted row count + rounded checksum
      val out = spark.read.schema(graft.pipeline.Schemas.gold)
        .parquet(cfg.goldDir)
      // order-independent, overflow-free multiset checksum: XOR of row
      // hashes (ANSI sum(long) overflows on ~thousands of xxhash64 values)
      val chk = out.select(
          coalesce(bit_xor(xxhash64(col("bridge_id"), col("window_start"),
            round(col("avg_temperature"), 6), round(col("max_vibration"), 6),
            round(col("max_tilt_angle"), 6))), lit(0L)).as("h"),
          count(lit(1)).as("n"))
        .head()
      val goldRows = chk.getLong(1)
      val goldHash = chk.getLong(0)

      val opsJson = endOps.map { op =>
        s"""{"operator":"${op.operatorName}","rows":${op.numRowsTotal},""" +
          s""""bytes":${op.memoryUsedBytes}}"""
      }.mkString("[", ",", "]")
      val rec =
        s"""{"provider":"$label","events":$nEvents,""" +
          s""""bronze_rows":${bronze._1},"bronze_sec":${fmtD(bronzeSec)},""" +
          s""""bronze_rows_s":${fmtD(bronze._1 / math.max(bronzeSec, 0.001))},""" +
          s""""bronze_phase_sums_ms":${bronze._3},""" +
          s""""gold_rows_in":${gold._1},"gold_sec":${fmtD(goldSec)},""" +
          s""""gold_rows_s":${fmtD(gold._1 / math.max(goldSec, 0.001))},""" +
          s""""gold_phase_sums_ms":${gold._3},""" +
          s""""gold_batches":${gold._2},"wall_sec":${fmtD(wallSec)},""" +
          s""""state_peak_rows":$peakRows,"state_peak_bytes":$peakBytes,""" +
          s""""state_end":$opsJson,""" +
          s""""gold_out_rows":$goldRows,"gold_out_hash":$goldHash}"""
      println(s"[gold-soak] $rec")
      ProviderRun(label, goldRows, goldHash, peakRows, rec)
    } finally spark.streams.removeListener(listener)

    val result = Result(records)
    val w = new java.io.FileWriter(s"$work/gold_soak.json")
    try w.write(result.json + "\n") finally w.close()
    println(result.json)
    if (!result.equal)
      System.err.println("[gold-soak] PROVIDER DIVERGENCE: " + records.map(r =>
        s"${r.provider} ${r.goldRows}/${r.goldHash}").mkString(" vs ") +
        " — artifact written")
    result
  }
}
