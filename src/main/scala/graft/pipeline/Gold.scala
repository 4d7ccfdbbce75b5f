package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Gold aggregation: one watermarked 1-minute tumbling aggregation over
  * the three unioned silver streams, pivoted per sensor on a `src` tag and
  * flattened to the 6-column gold schema (SURVEY.md §2 A1/A2/W1/W2/J3; ref
  * `gold_aggregation.py:52-109` runs three aggregations and two inner
  * joins: five stateful operators where this runs one). The inner join is
  * the filter keeping windows with rows from all three sensors. Each
  * source sets its own watermark before the union, so the query's is the
  * slowest sensor's, as in the reference; append mode emits each window
  * once, after the watermark passes its end.
  * After a restart (each `Pipelines.drainOnce`) no window closes until
  * one batch holds rows of all three sensors: Spark checkpoints only the
  * query's watermark, and a source without rows counts as 0 (pinned in
  * `PipelineE2ESpec`).
  */
object Gold {

  /** The composed streaming DataFrame (unstarted — tests can inspect it). */
  def metrics(spark: SparkSession, cfg: PipelineConfig): DataFrame = {
    val tagged = Schemas.sensors.map { sensor =>
      PipelineFs.ensureDir(spark, cfg.silverDir(sensor))
      spark.readStream.schema(Schemas.silver)
        .options(cfg.sourceOptions).parquet(cfg.silverDir(sensor))
        .withWatermark("event_time_ts", cfg.watermark)
        .select(col("bridge_id"), col("event_time_ts"), lit(sensor).as("src"), col("value"))
    }.reduce(_ unionByName _)
    def of(sensor: String) = when(col("src") === sensor, col("value"))
    val rows = Schemas.sensors.map(s => count(when(col("src") === s, lit(1))).as(s"n_$s"))
    tagged
      .groupBy(col("bridge_id"), window(col("event_time_ts"), cfg.windowLength))
      .agg(avg(of("temperature")).as("avg_temperature"),
        Seq(max(of("vibration")).as("max_vibration"), max(of("tilt")).as("max_tilt_angle")) ++ rows: _*)
      .where(Schemas.sensors.map(s => col(s"n_$s") > 0).reduce(_ && _))
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

/** Whole-DAG orchestration: three bronze queries (which also write silver)
  * and one gold query. */
object Pipelines {

  /** Drain all currently-available data through bronze (which also fills
    * silver), then gold (AvailableNow within a tier, sequential across
    * tiers so gold sees all of silver). Returns when the DAG is quiescent.
    * Call again after new landing data arrives — checkpoints make every
    * rerun incremental, and a later call also advances the gold watermark
    * so previously-open windows finalize. */
  def drainOnce(spark: SparkSession, cfg: PipelineConfig): Unit = {
    cfg.applySessionConf(spark)
    Bronze.startAll(spark, cfg).foreach(_.awaitTermination())
    Gold.start(spark, cfg).awaitTermination()
  }

  /** Continuous mode: all 4 queries live at once on micro-batch triggers.
    * Unlike the reference (which blocks on only its *first* query and so
    * never notices the other queries failing, `bronze_ingest.py:105`),
    * a caller blocking on `spark.streams.awaitAnyTermination()` sees the
    * first failure from any query. */
  def startContinuous(spark: SparkSession, cfg: PipelineConfig,
                      trigger: Trigger): Seq[StreamingQuery] = {
    cfg.applySessionConf(spark)
    Bronze.startAll(spark, cfg, trigger) :+ Gold.start(spark, cfg, trigger)
  }
}
