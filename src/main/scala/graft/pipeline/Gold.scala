package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Gold aggregation: the five-stateful-operator streaming query — three
  * watermarked 1-minute tumbling aggregations (avg temperature, max
  * vibration, max tilt) joined twice on (bridge_id, window), flattened to
  * the 6-column gold schema (SURVEY.md §2 A1/A2/W1/W2/J2/J3;
  * ref `gold_aggregation.py:52-109`).
  *
  * Semantics preserved from the reference: 2-minute watermark bounds both
  * aggregation state and join state; append output mode means a window
  * row is emitted exactly once, only after the watermark passes its end.
  * Multiple stateful operators in one query require Spark ≥ 3.4 watermark
  * propagation — Spark 4.x handles this natively.
  */
object Gold {

  private def sensorAgg(spark: SparkSession, cfg: PipelineConfig, sensor: String,
                        aggExpr: org.apache.spark.sql.Column): DataFrame = {
    PipelineFs.ensureDir(spark, cfg.silverDir(sensor))
    spark.readStream.schema(Schemas.silver)
      .options(cfg.sourceOptions).parquet(cfg.silverDir(sensor))
      .withWatermark("event_time_ts", cfg.watermark)
      .groupBy(col("bridge_id"), window(col("event_time_ts"), cfg.windowLength))
      .agg(aggExpr)
  }

  /** The composed streaming DataFrame (unstarted — tests can inspect it). */
  def metrics(spark: SparkSession, cfg: PipelineConfig): DataFrame = {
    val temp = sensorAgg(spark, cfg, "temperature", avg("value").as("avg_temperature"))
    val vib  = sensorAgg(spark, cfg, "vibration", max("value").as("max_vibration"))
    val tilt = sensorAgg(spark, cfg, "tilt", max("value").as("max_tilt_angle"))
    temp
      .join(vib, Seq("bridge_id", "window"), "inner")
      .join(tilt, Seq("bridge_id", "window"), "inner")
      .select(
        col("bridge_id"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("avg_temperature"), col("max_vibration"), col("max_tilt_angle"))
  }

  def start(spark: SparkSession, cfg: PipelineConfig,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    metrics(spark, cfg).writeStream
      .queryName("gold_bridge_metrics")
      .format("parquet")
      .option("path", cfg.goldDir)
      .option("checkpointLocation", cfg.checkpoint("gold"))
      .outputMode("append")
      .trigger(trigger)
      .start()
}

/** Whole-DAG orchestration. */
object Pipelines {

  /** Drain all currently-available data through bronze → silver → gold,
    * tier by tier (AvailableNow within a tier, sequential across tiers so
    * each tier sees its upstream's output). Returns when the DAG is
    * quiescent. Call again after new landing data arrives — checkpoints
    * make every rerun incremental, and a later call also advances the gold
    * watermark so previously-open windows finalize. */
  def drainOnce(spark: SparkSession, cfg: PipelineConfig): Unit = {
    cfg.applySessionConf(spark)
    Bronze.startAll(spark, cfg).foreach(_.awaitTermination())
    Silver.startAll(spark, cfg).foreach(_.awaitTermination())
    Gold.start(spark, cfg).awaitTermination()
  }

  /** Continuous mode: all 7 queries live at once on micro-batch triggers.
    * Unlike the reference (which blocks on only its *first* query and so
    * never notices the other queries failing, `bronze_ingest.py:105`),
    * a caller blocking on `spark.streams.awaitAnyTermination()` sees the
    * first failure from any query. */
  def startContinuous(spark: SparkSession, cfg: PipelineConfig,
                      trigger: Trigger): Seq[StreamingQuery] = {
    cfg.applySessionConf(spark)
    Bronze.startAll(spark, cfg, trigger) ++
      Silver.startAll(spark, cfg, trigger) :+
      Gold.start(spark, cfg, trigger)
  }
}
