package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.{Derive, Quality}
import graft.pipeline.IdempotentSink.Route

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

/** Landing → bronze → silver, one streaming query for all three sensors:
  * the three landing dirs are JSON sources tagged with their sensor and
  * unioned, and each micro-batch fills twelve sinks from one Spark job —
  * per sensor, invalid rows to the bronze quarantine, the rest to bronze;
  * of those, rows passing [[Silver.rule]] enriched with the bridges
  * dimension to silver, the others to the silver quarantine. Rows route by
  * landing dir, not `sensor_type`, and one unreadable landing file fails
  * the batch of every sensor (SURVEY.md §2 S1/K1-K3/P1/P2/F1-F4/J1; ref
  * `bronze_ingest.py`, one query per sensor, and `silver_enrichment.py`, a
  * second query over the bronze sink; each sink rescans its source,
  * `bronze_ingest.py:64-103`).
  */
object Bronze {

  /** P1/P2 — timestamp parsing + partition-date derivation
    * (ref `bronze_ingest.py:44-49`). */
  def derive(df: DataFrame): DataFrame =
    Derive.partitionDate(
      Derive.parseTs(Derive.parseTs(df, "event_time", "event_time_ts"),
        "ingest_time", "ingest_time_ts"),
      "event_time_ts")

  /** Rows an earlier version's per-sensor silver query had not read would
    * never reach silver, and a `bronze` checkpoint beside per-sensor ones
    * would read every landing file again into bronze and silver. */
  private def requireNoPerSensorCheckpoint(spark: SparkSession, cfg: PipelineConfig): Unit = {
    val left = Seq("silver", "bronze").flatMap(t => Schemas.sensors.map(s =>
      new org.apache.hadoop.fs.Path(cfg.checkpoint(s"${t}_$s"))))
      .filter(p => p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
    if (left.nonEmpty) throw new IllegalStateException(s"per-sensor checkpoints left: " +
      s"${left.mkString(", ")}. Drain once with the previous version, move the drained " +
      "landing files out, then remove them (README: Upgrading bronze checkpoints).")
  }

  /** The bronze and silver sinks are date-partitioned (scale improvement:
    * partition pruning for all downstream batch reads; the reference
    * writes a flat dir). */
  def start(spark: SparkSession, cfg: PipelineConfig,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    requireNoPerSensorCheckpoint(spark, cfg)
    // optional streaming exact dedup: watermark-bounded state keyed on the
    // landing dir and the natural event identity (RAW event_time string),
    // watermarked per source on parsed event time, so the query's
    // watermark is the slowest sensor's. A row without a parsed event time
    // (the quarantine takes it) does not raise the max-based watermark and
    // is never late; identical unparseable rows of one batch collapse.
    val landed = Schemas.sensors.map { sensor =>
      PipelineFs.ensureDir(spark, cfg.landingDir(sensor))
      // schema includes the date partition column (see Schemas.rawLanding),
      // then drops it — keeping the plan schema stable whether or not
      // date= subdirs exist at stream start
      val raw = spark.readStream.schema(Schemas.rawLanding)
        .options(cfg.sourceOptions).json(cfg.landingDir(sensor))
        .select(Schemas.raw.fieldNames.map(col).toIndexedSeq: _*)
      val tagged = derive(raw).withColumn("src", lit(sensor))
      if (cfg.dedupeLanding) tagged.withWatermark("event_time_ts", cfg.watermark) else tagged
    }.reduce(_ unionByName _)
    val deduped = if (!cfg.dedupeLanding) landed
      else landed.dropDuplicatesWithinWatermark("src", "bridge_id", "sensor_type", "event_time")
    val runTag = IdempotentSink.tagFor(cfg.checkpoint("bronze"))
    val valid = coalesce(Quality.bronzeValid(), lit(false))
    val bronzeCols = Schemas.bronze.fieldNames.toSeq
    val dataCols = bronzeCols.filterNot(_ == "partition_date")
    val dimension = new Silver.Dimension(cfg)
    val fn: (Dataset[Row], Long) => Unit = (batch, batchId) => {
      val silverCols = col("bridge_id") +: dataCols.filterNot(_ == "bridge_id").map(col) ++:
        dimension.columns(batch.sparkSession)
      IdempotentSink.writeAll(batch.toDF(), batchId, runTag, Schemas.sensors.flatMap { sensor =>
        val from = col("src") === sensor
        val silverOk = coalesce(Silver.rule(sensor), lit(false))
        Seq(
          Route(cfg.bronzeDir(sensor), from && valid, dataCols.map(col), Seq("partition_date")),
          Route(cfg.bronzeRejectedDir(sensor), from && !valid, bronzeCols.map(col)),
          Route(cfg.silverDir(sensor), from && silverOk, silverCols, Seq("partition_date")),
          Route(cfg.silverRejectedDir(sensor), from && valid && !silverOk, bronzeCols.map(col)))
      })
    }
    deduped.writeStream
      .queryName("bronze")
      .option("checkpointLocation", cfg.checkpoint("bronze"))
      .trigger(trigger)
      .foreachBatch(fn)
      .start()
  }
}
