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

/** Landing → bronze → silver, one streaming query per sensor: the JSON
  * landing stream gets parsed timestamps + partition date, and each
  * micro-batch fills four sinks from one Spark job — invalid rows to the
  * bronze quarantine, the rest to bronze; of those, rows passing
  * [[Silver.rule]] enriched with the bridges dimension to silver, the
  * others to the silver quarantine (SURVEY.md §2 S1/K1-K3/P1/P2/F1-F4/J1;
  * ref `bronze_ingest.py`, `silver_enrichment.py`, where silver is a
  * second query reading the bronze sink and each sink rescans its source,
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
    // timestamp), watermarked on parsed event time. A row without one
    // (the quarantine takes it) does not raise the max-based watermark and
    // is never late, so an unparseable row cannot drop valid rows behind
    // it; identical unparseable rows of one batch share a key and collapse.
    val deduped =
      if (cfg.dedupeLanding)
        derived.withWatermark("event_time_ts", cfg.watermark)
          .dropDuplicatesWithinWatermark("bridge_id", "sensor_type", "event_time")
      else derived
    val runTag = IdempotentSink.tagFor(cfg.checkpoint(s"bronze_$sensor"))
    val valid = coalesce(Quality.bronzeValid(), lit(false))
    val silverOk = coalesce(Silver.rule(sensor), lit(false))
    val bronzeCols = Schemas.bronze.fieldNames.toSeq
    val dataCols = bronzeCols.filterNot(_ == "partition_date")
    // this query's copy of the dimension: its file is compared every batch
    // and parsed again only when it changed, so an edited bridges.csv
    // applies from the next batch on
    val dimension = new Silver.Dimension(cfg)
    val fn: (Dataset[Row], Long) => Unit = (batch, batchId) => {
      val silverCols = col("bridge_id") +: dataCols.filterNot(_ == "bridge_id").map(col) ++:
        dimension.columns(batch.sparkSession)
      IdempotentSink.writeAll(batch.toDF(), batchId, runTag, Seq(
        Route(cfg.bronzeDir(sensor), valid, dataCols.map(col), Seq("partition_date")),
        Route(cfg.bronzeRejectedDir(sensor), !valid, bronzeCols.map(col)),
        Route(cfg.silverDir(sensor), silverOk, silverCols, Seq("partition_date")),
        Route(cfg.silverRejectedDir(sensor), valid && !silverOk, bronzeCols.map(col))))
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
