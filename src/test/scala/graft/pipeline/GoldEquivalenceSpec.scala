package graft.pipeline

import java.io.{File, FileWriter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import graft.SparkSuite

/** The reference's gold shape (`gold_aggregation.py:52-109`): one
  * watermarked windowed aggregation per sensor, inner-joined twice on
  * (bridge_id, window) — five stateful operators. Kept here only as the
  * oracle [[Gold.metrics]] is checked against, and to build a checkpoint
  * in that shape for the upgrade test. */
object GoldReference {

  private def sensorAgg(spark: SparkSession, cfg: PipelineConfig, sensor: String,
                        aggExpr: org.apache.spark.sql.Column): DataFrame = {
    PipelineFs.ensureDir(spark, cfg.silverDir(sensor))
    spark.readStream.schema(Schemas.silver)
      .options(cfg.sourceOptions).parquet(cfg.silverDir(sensor))
      .withWatermark("event_time_ts", cfg.watermark)
      .groupBy(col("bridge_id"), window(col("event_time_ts"), cfg.windowLength))
      .agg(aggExpr)
  }

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

  /** Drain the reference into `goldDir` under checkpoint `checkpoint`. */
  def start(spark: SparkSession, cfg: PipelineConfig, goldDir: String,
            checkpoint: String): StreamingQuery =
    metrics(spark, cfg).writeStream
      .format("parquet")
      .option("path", goldDir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
}

/** [[Gold.metrics]] — one aggregation over the unioned silver streams —
  * emits what the reference's three aggregations plus two joins emit, in
  * the same drain step, and refuses a checkpoint the reference wrote. */
class GoldEquivalenceSpec extends SparkSuite {

  private def setup(prefix: String): PipelineConfig = {
    val root = tmpDir(prefix)
    val cfg = PipelineConfig.under(root, s"$root/bridges.csv")
    Generator.writeBridgesCsv(cfg.bridgesCsv)
    cfg
  }

  private var fileNo = 0
  /** One landing file per call: (sensor, bridge, "mm:ss", value). */
  private def land(cfg: PipelineConfig, rows: (String, Int, String, Any)*): Unit =
    rows.groupBy(_._1).foreach { case (sensor, rs) =>
      val dir = new File(s"${cfg.landingDir(sensor)}/date=2024-03-01")
      dir.mkdirs()
      fileNo += 1
      val w = new FileWriter(new File(dir, s"part-$fileNo.json"))
      try rs.foreach { case (_, bridge, t, v) =>
        w.write(s"""{"event_time": "2024-03-01T00:$t.000Z", "bridge_id": $bridge, """ +
          s""""sensor_type": "$sensor", "value": $v, "ingest_time": "2024-03-01T00:$t.000Z"}""" + "\n")
      } finally w.close()
    }

  private def drainUpstream(cfg: PipelineConfig): Unit =
    Bronze.start(spark, cfg).awaitTermination()

  private type GoldRow = (Int, java.sql.Timestamp, java.sql.Timestamp, Double, Double, Double)
  private def goldRows(dir: String): Seq[GoldRow] = {
    import spark.implicits._
    spark.read.schema(Schemas.gold).parquet(dir).as[GoldRow].collect().toSeq
      .sortBy(r => (r._1, r._2.getTime))
  }

  private def assertSame(got: Seq[GoldRow], want: Seq[GoldRow], step: String): Unit = {
    assert(got.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)),
      s"[$step] windows differ: got=$got want=$want")
    got.zip(want).foreach { case (g, w) =>
      Seq(g._4 - w._4, g._5 - w._5, g._6 - w._6).foreach(d =>
        assert(math.abs(d) <= 1e-9, s"[$step] values differ: $g vs $w"))
    }
  }

  private def ts(mmss: String) =
    java.sql.Timestamp.from(java.time.Instant.parse(s"2024-03-01T00:${mmss}Z"))

  test("one-aggregation gold equals the three-aggregation, two-join reference step by step") {
    val cfg = setup("gold-eq")
    val refGold = s"${cfg.goldRoot}/reference"
    val refCp = cfg.checkpoint("gold_reference")
    var last: StreamingQuery = null
    var lastRef: StreamingQuery = null
    def step(name: String): Seq[GoldRow] = {
      drainUpstream(cfg)
      last = Gold.start(spark, cfg); last.awaitTermination()
      lastRef = GoldReference.start(spark, cfg, refGold, refCp); lastRef.awaitTermination()
      val got = goldRows(cfg.goldDir)
      assertSame(got, goldRows(refGold), name)
      got
    }

    // step 1: window [00:00, 00:01) on bridge 1 has all three sensors;
    // bridge 2 has no tilt (missing sensor); bridge 3's only tilt row is
    // out of range, so silver quarantines it and the window lacks tilt.
    // Out-of-range and null values on bridge 1 must not reach either gold.
    land(cfg,
      ("temperature", 1, "00:10", 20.0), ("temperature", 1, "00:40", 22.0),
      ("temperature", 1, "00:20", 999.0), ("temperature", 1, "00:30", "null"),
      ("vibration", 1, "00:15", 1.5), ("vibration", 1, "00:45", 2.5),
      ("tilt", 1, "00:05", 3.0), ("tilt", 1, "00:50", 4.0), ("tilt", 1, "00:55", 95.0),
      ("temperature", 2, "00:10", 25.0), ("vibration", 2, "00:20", 1.0),
      ("temperature", 3, "00:10", 30.0), ("vibration", 3, "00:20", 2.0),
      ("tilt", 3, "00:30", 91.0))
    assert(step("first drain").isEmpty)
    assert(spark.read.parquet(cfg.silverRejectedRoot).count() == 3)

    // step 2: temperature and vibration run ahead to 00:10, tilt lags at
    // 01:30 — the minimum watermark holds every window back in both
    land(cfg,
      ("temperature", 1, "01:10", 21.0), ("vibration", 1, "01:20", 0.5),
      ("tilt", 1, "01:30", 7.0),
      ("temperature", 1, "10:00", 20.0), ("vibration", 1, "10:00", 1.0))
    assert(step("tilt lagging").isEmpty)

    // step 3: tilt catches up; both emit [00:00) and [01:00) for bridge 1.
    // Every sensor gets a row: each step restarts the queries, and Spark
    // does not checkpoint per-source watermarks, so a source with no rows
    // in the first batch after a restart holds the minimum at zero.
    land(cfg, ("tilt", 1, "10:00", 2.0),
      ("temperature", 1, "10:05", 20.0), ("vibration", 1, "10:05", 1.0))
    val emitted = step("tilt caught up")
    assert(emitted.map(r => (r._1, r._2)) == Seq(1 -> ts("00:00"), 1 -> ts("01:00")))
    assert(emitted.head._4 == 21.0 && emitted.head._5 == 2.5 && emitted.head._6 == 4.0)

    // step 4: a temperature row for [00:00) behind the watermark is dropped
    // by both; the advance to 20:00 closes the [10:00) window
    land(cfg,
      ("temperature", 1, "00:30", 39.0),
      ("temperature", 1, "20:00", 20.0), ("vibration", 1, "20:00", 1.0),
      ("tilt", 1, "20:00", 2.0))
    val finalRows = step("late temperature")
    assert(finalRows.map(r => (r._1, r._2)) ==
      Seq(1 -> ts("00:00"), 1 -> ts("01:00"), 1 -> ts("10:00")))
    assert(finalRows.head._4 == 21.0)

    assert(last.lastProgress.stateOperators.length == 1)
    assert(lastRef.lastProgress.stateOperators.length == 5)
  }

  test("gold runs on one state partition, and a checkpoint started with more keeps them") {
    val cfg = setup("gold-partitions")
    val fresh = cfg.copy(goldRoot = s"${cfg.goldRoot}/fresh", checkpointRoot = s"${cfg.checkpointRoot}/fresh")
    val pinned = cfg.copy(goldRoot = s"${cfg.goldRoot}/pinned", checkpointRoot = s"${cfg.checkpointRoot}/pinned")
    def run(q: StreamingQuery): Long = {
      q.awaitTermination()
      q.lastProgress.stateOperators.head.numShufflePartitions
    }
    val sessionPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    assert(sessionPartitions == SparkSuite.Cores.toString)

    land(cfg,
      ("temperature", 1, "00:10", 20.0), ("vibration", 1, "00:20", 1.0), ("tilt", 1, "00:30", 2.0),
      ("temperature", 2, "00:40", 25.0), ("vibration", 2, "00:45", 1.5), ("tilt", 2, "00:50", 3.0),
      ("temperature", 2, "01:10", 26.0), ("vibration", 2, "01:20", 1.7), ("tilt", 2, "01:30", 3.3))
    drainUpstream(cfg)
    // a checkpoint as the session's partition count would start it
    assert(run(Gold.metrics(spark, pinned).writeStream
      .format("parquet")
      .option("path", pinned.goldDir)
      .option("checkpointLocation", pinned.checkpoint("gold"))
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()) == SparkSuite.Cores)
    assert(run(Gold.start(spark, fresh)) == 1)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == sessionPartitions)

    land(cfg,
      ("temperature", 1, "10:00", 21.0), ("vibration", 1, "10:00", 2.0), ("tilt", 1, "10:00", 3.0),
      ("temperature", 2, "10:05", 22.0), ("vibration", 2, "10:05", 2.5), ("tilt", 2, "10:05", 4.0))
    drainUpstream(cfg)
    assert(run(Gold.start(spark, pinned)) == SparkSuite.Cores)
    assert(run(Gold.start(spark, fresh)) == 1)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == sessionPartitions)
    val emitted = goldRows(fresh.goldDir)
    assert(emitted.map(r => (r._1, r._2)) ==
      Seq(1 -> ts("00:00"), 2 -> ts("00:00"), 2 -> ts("01:00")))
    assertSame(goldRows(pinned.goldDir), emitted, "pinned checkpoint")
  }

  test("Gold.start refuses a checkpoint written by the three-aggregation, two-join shape") {
    val cfg = setup("gold-upgrade")
    land(cfg,
      ("temperature", 1, "00:10", 20.0), ("vibration", 1, "00:10", 1.0),
      ("tilt", 1, "00:10", 2.0),
      ("temperature", 1, "10:00", 20.0), ("vibration", 1, "10:00", 1.0),
      ("tilt", 1, "10:00", 2.0))
    drainUpstream(cfg)
    val ref = GoldReference.start(spark, cfg, cfg.goldDir, cfg.checkpoint("gold"))
    ref.awaitTermination()
    def goldFiles(): Set[String] = {
      val d = new File(cfg.goldDir)
      def walk(f: File): Seq[File] = if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(d).map(_.getPath).toSet
    }
    val before = goldFiles()
    assert(spark.read.schema(Schemas.gold).parquet(cfg.goldDir).count() == 1)

    land(cfg,
      ("temperature", 1, "20:00", 20.0), ("vibration", 1, "20:00", 1.0),
      ("tilt", 1, "20:00", 2.0))
    drainUpstream(cfg)
    val q = Gold.start(spark, cfg)
    val err = intercept[StreamingQueryException](q.awaitTermination())
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => s"${e.getClass.getName}: ${e.getMessage}").mkString("\n")
    assert(chain.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"), chain)
    assert(goldFiles() == before, "gold sink changed under a refused checkpoint")
  }
}
