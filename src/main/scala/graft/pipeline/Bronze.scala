package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.{Derive, Quality}

private[pipeline] object PipelineFs {
  /** Create a stream-source dir if missing: a file-stream source refuses
    * to START on a nonexistent path, so on a cold simultaneous start
    * (continuous mode) every tier must be able to open its upstream dir
    * before the upstream has produced anything. Hadoop FS API, so it
    * works on HDFS/S3 as well as local files. */
  def ensureDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    ()
  }
}

/** Shared dual-sink writer: one micro-batch scan feeds both the valid sink
  * and the quarantine sink. The reference runs valid and rejected as
  * independent streaming queries that each rescan the source
  * (`bronze_ingest.py:64-103` — 4 queries per layer); at 100 TB that is 2×
  * the I/O. Inside `foreachBatch` we cache the batch once and write both
  * sides through [[IdempotentSink]], whose stage → publish → mark protocol
  * makes each sink exactly-once under failure-replay — a crash between the
  * clean and rejected writes replays into the same final file set instead
  * of double-appending.
  */
private[pipeline] object DualSink {
  /** Cache `batch` once for every sink `writes` fills from it. */
  def cached(batch: DataFrame)(writes: DataFrame => Unit): Unit = {
    val rows = batch.persist()
    try writes(rows) finally { rows.unpersist(); () }
  }

  /** Valid rows (after `enrich`) to `validPath`, the rest to
    * `rejectedPath`; returns the valid rows, unenriched. Quality.split owns
    * the 3VL routing rule (NULL predicate → quarantine). */
  def route(rows: DataFrame, valid: Column, validPath: String, rejectedPath: String,
            partitionCols: Seq[String], batchId: Long, runTag: String,
            enrich: DataFrame => DataFrame = identity): DataFrame = {
    val (ok, bad) = Quality.split(rows, valid)
    IdempotentSink.write(enrich(ok), validPath, batchId, partitionCols, runTag)
    IdempotentSink.write(bad, rejectedPath, batchId, Nil, runTag)
    ok
  }
}

/** Landing → bronze → silver, one streaming query per sensor: the JSON
  * landing stream gets parsed timestamps + partition date, and each
  * micro-batch, cached once, fills four sinks — invalid rows to the bronze
  * quarantine, the rest to bronze; of those, rows passing [[Silver.rule]]
  * joined with the bridges dimension to silver, the others to the silver
  * quarantine (SURVEY.md §2 S1/K1-K3/P1/P2/F1-F4/J1; ref
  * `bronze_ingest.py`, `silver_enrichment.py`, where silver is a second
  * query reading the bronze sink).
  */
object Bronze {

  /** P1/P2 — timestamp parsing + partition-date derivation
    * (ref `bronze_ingest.py:44-49`). */
  def derive(df: DataFrame): DataFrame =
    Derive.partitionDate(
      Derive.parseTs(Derive.parseTs(df, "event_time", "event_time_ts"),
        "ingest_time", "ingest_time_ts"),
      "event_time_ts")

  /** The bronze rows a separate silver query (an earlier version) had
    * not read when it stopped would never reach silver. */
  private def requireNoSilverCheckpoint(spark: SparkSession, cfg: PipelineConfig): Unit = {
    val left = Schemas.sensors.map(s => new org.apache.hadoop.fs.Path(cfg.checkpoint(s"silver_$s")))
      .filter(p => p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
    if (left.nonEmpty) throw new IllegalStateException(s"silver checkpoints left: " +
      s"${left.mkString(", ")}. Drain once with the previous version, then remove " +
      "them (README: Upgrading silver checkpoints).")
  }

  /** One streaming query per sensor landing zone. The bronze and silver
    * sinks are date-partitioned (scale improvement: partition pruning for
    * all downstream batch reads; the reference writes a flat dir). */
  def start(spark: SparkSession, cfg: PipelineConfig, sensor: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    requireNoSilverCheckpoint(spark, cfg)
    PipelineFs.ensureDir(spark, cfg.landingDir(sensor))
    // schema includes the date partition column (see Schemas.rawLanding),
    // then drops it — keeping the plan schema stable whether or not
    // date= subdirs exist at stream start
    val raw = spark.readStream.schema(Schemas.rawLanding)
      .options(cfg.sourceOptions).json(cfg.landingDir(sensor))
      .select(Schemas.raw.fieldNames.map(col).toIndexedSeq: _*)
    val derived = derive(raw)
    // optional streaming exact dedup: watermark-bounded state keyed on the
    // natural event identity (RAW event_time string, not the parsed
    // timestamp). The WATERMARK column must be non-null for every row —
    // a NULL event-time row would otherwise be discarded as late by the
    // stateful operator once the watermark advances, silently losing the
    // quarantine audit trail — so unparseable rows ride on ingest time
    // (falling back to processing time when that is unparseable too).
    val deduped =
      if (cfg.dedupeLanding)
        derived
          .withColumn("wm_ts",
            coalesce(col("event_time_ts"), col("ingest_time_ts"), current_timestamp()))
          .withWatermark("wm_ts", cfg.watermark)
          .dropDuplicatesWithinWatermark("bridge_id", "sensor_type", "event_time")
          .drop("wm_ts")
      else derived
    // J1: 5-row dimension — broadcast, so the fact rows never shuffle
    val dim = broadcast(Silver.bridges(spark, cfg))
    val runTag = IdempotentSink.tagFor(cfg.checkpoint(s"bronze_$sensor"))
    val fn: (Dataset[Row], Long) => Unit = (batch, batchId) =>
      DualSink.cached(batch.toDF()) { rows =>
        val bronze = DualSink.route(rows, Quality.bronzeValid(), cfg.bronzeDir(sensor),
          cfg.bronzeRejectedDir(sensor), Seq("partition_date"), batchId, runTag)
        DualSink.route(bronze, Silver.rule(sensor), cfg.silverDir(sensor),
          cfg.silverRejectedDir(sensor), Seq("partition_date"), batchId, runTag,
          enrich = _.join(dim, Seq("bridge_id"), "left"))
      }
    deduped.writeStream
      .queryName(s"bronze_$sensor")
      .option("checkpointLocation", cfg.checkpoint(s"bronze_$sensor"))
      .trigger(trigger)
      .foreachBatch(fn)
      .start()
  }

  def startAll(spark: SparkSession, cfg: PipelineConfig,
               trigger: Trigger = Trigger.AvailableNow()): Seq[StreamingQuery] =
    Schemas.sensors.map(start(spark, cfg, _, trigger))
}
