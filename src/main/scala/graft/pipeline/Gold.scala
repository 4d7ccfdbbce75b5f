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
  *
  * The aggregation runs on one state partition. Its key space is bridges
  * × open windows (tens of rows at the pipeline's rates), and rows are
  * partially aggregated per input split before the shuffle, so one task
  * gets at most one row per key per split. Each further partition cost a
  * task, a state-store load and commit, and an output file in every
  * micro-batch. Spark pins the
  * count in the checkpoint's offset log at the first batch and restores
  * it on every restart: a checkpoint written with more partitions keeps
  * them, and restarts unchanged. A key space far past one task's state
  * (many thousands of bridges, or long windows) needs a checkpoint
  * started with more partitions.
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

  /** Starts gold on `spark` itself, so the query is in `spark.streams`.
    * The query clones the session when it is created, inside `start()`:
    * the one-partition setting is in the session conf only while
    * `start()` runs, and a query another thread starts on this session in
    * that moment would get it too. */
  def start(spark: SparkSession, cfg: PipelineConfig,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val writer = metrics(spark, cfg).writeStream
      .queryName("gold_bridge_metrics")
      .format("parquet")
      .option("path", cfg.goldDir)
      .option("checkpointLocation", cfg.checkpoint("gold"))
      .outputMode("append")
      .trigger(trigger)
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.sessionState.conf.getAllConfs.get(key)
    spark.conf.set(key, 1L)
    try writer.start()
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
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
