package graft.pipeline

import java.io.{File, FileWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType
import graft.SparkSuite
import graft.ops.Quality

/** The two-query shape per sensor that [[Bronze.start]] replaces: a bronze
  * query writes bronze and its quarantine, then a silver query lists the
  * bronze sink as a parquet file stream and writes silver and its
  * quarantine, each under its own checkpoint. Kept here only as the oracle
  * the one-query shape is checked against, and to leave per-sensor bronze
  * and silver checkpoints behind for the upgrade test. Query names carry a
  * `ref_` prefix. */
object MedallionReference {

  /** One micro-batch, cached once: valid rows (after `enrich`) to the
    * date-partitioned `validDir`, the rest to `rejectedDir`, one sink
    * write each. */
  private def route(batch: DataFrame, valid: Column, validDir: String, rejectedDir: String,
                    batchId: Long, runTag: String,
                    enrich: DataFrame => DataFrame = identity): Unit = {
    val rows = batch.persist()
    try {
      val (ok, bad) = Quality.split(rows, valid)
      IdempotentSink.write(enrich(ok), validDir, batchId, Seq("partition_date"), runTag)
      IdempotentSink.write(bad, rejectedDir, batchId, Nil, runTag)
    } finally { rows.unpersist(); () }
  }

  def bronze(spark: SparkSession, cfg: PipelineConfig, sensor: String): StreamingQuery = {
    PipelineFs.ensureDir(spark, cfg.landingDir(sensor))
    val raw = spark.readStream.schema(Schemas.rawLanding)
      .options(cfg.sourceOptions).json(cfg.landingDir(sensor))
      .select(Schemas.raw.fieldNames.map(col).toIndexedSeq: _*)
    val derived = Bronze.derive(raw)
    val deduped =
      if (cfg.dedupeLanding)
        derived.withWatermark("event_time_ts", cfg.watermark)
          .dropDuplicatesWithinWatermark("bridge_id", "sensor_type", "event_time")
      else derived
    val fn: (Dataset[Row], Long) => Unit = (batch, batchId) =>
      route(batch.toDF(), Quality.bronzeValid(), cfg.bronzeDir(sensor),
        cfg.bronzeRejectedDir(sensor), batchId,
        IdempotentSink.tagFor(cfg.checkpoint(s"bronze_$sensor")))
    deduped.writeStream
      .queryName(s"ref_bronze_$sensor")
      .option("checkpointLocation", cfg.checkpoint(s"bronze_$sensor"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch(fn)
      .start()
  }

  def silver(spark: SparkSession, cfg: PipelineConfig, sensor: String): StreamingQuery = {
    PipelineFs.ensureDir(spark, cfg.bronzeDir(sensor))
    val bronzeStream = spark.readStream.schema(Schemas.bronze)
      .options(cfg.sourceOptions).parquet(cfg.bronzeDir(sensor))
    val dim = broadcast(Silver.bridges(spark, cfg))
    val runTag = IdempotentSink.tagFor(cfg.checkpoint(s"silver_$sensor"))
    val fn: (Dataset[Row], Long) => Unit = (batch, batchId) =>
      route(batch.toDF(), Silver.rule(sensor), cfg.silverDir(sensor),
        cfg.silverRejectedDir(sensor), batchId, runTag,
        enrich = _.join(dim, Seq("bridge_id"), "left"))
    bronzeStream.writeStream
      .queryName(s"ref_silver_$sensor")
      .option("checkpointLocation", cfg.checkpoint(s"silver_$sensor"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch(fn)
      .start()
  }

  def drainBronze(spark: SparkSession, cfg: PipelineConfig): Unit =
    Schemas.sensors.map(bronze(spark, cfg, _)).foreach(_.awaitTermination())

  /** The earlier `Pipelines.drainOnce`: bronze, then silver, then gold. */
  def drainOnce(spark: SparkSession, cfg: PipelineConfig): Unit = {
    drainBronze(spark, cfg)
    Schemas.sensors.map(silver(spark, cfg, _)).foreach(_.awaitTermination())
    Gold.start(spark, cfg).awaitTermination()
  }
}

/** One bronze query for all three sensors from landing to silver writes
  * the same bronze, silver, both quarantines and gold as the two-query-
  * per-sensor reference, drain step by drain step, and refuses to start
  * over a per-sensor checkpoint the reference left behind. With
  * `dedupeLanding` its dedupe watermark is the slowest sensor's where the
  * reference's is each sensor's own; these drains land no row between the
  * two, and `StreamingDedupSpec` pins a row that is. */
class MedallionEquivalenceSpec extends SparkSuite {

  /** The one-query DAG under `<root>`, the reference under `<root>/ref`,
    * both reading the same landing files. */
  private def configs(prefix: String, dedupe: Boolean): (PipelineConfig, PipelineConfig) = {
    val root = tmpDir(prefix)
    val fused = PipelineConfig.under(root, s"$root/bridges.csv").copy(dedupeLanding = dedupe)
    val ref = PipelineConfig.under(s"$root/ref", fused.bridgesCsv)
      .copy(landingRoot = fused.landingRoot, dedupeLanding = dedupe)
    Generator.writeBridgesCsv(fused.bridgesCsv)
    (fused, ref)
  }

  private var fileNo = 0
  /** One landing file per sensor: (sensor, bridge, event time, value). An
    * event time of the form "mm:ss" is a minute and second of
    * 2024-03-01T00 and is also the ingest time; any other event time is
    * unparseable and has ingest time 00:00:30. */
  private def land(cfg: PipelineConfig, rows: (String, Int, String, String)*): Unit =
    rows.groupBy(_._1).foreach { case (sensor, rs) =>
      val dir = new File(s"${cfg.landingDir(sensor)}/date=2024-03-01")
      dir.mkdirs()
      fileNo += 1
      val w = new FileWriter(new File(dir, s"part-$fileNo.json"))
      try rs.foreach { case (_, bridge, t, v) =>
        val (et, it) =
          if (t.matches("\\d\\d:\\d\\d")) (s"2024-03-01T00:$t.000Z", s"2024-03-01T00:$t.000Z")
          else (t, "2024-03-01T00:00:30.000Z")
        w.write(s"""{"event_time": "$et", "bridge_id": $bridge, "sensor_type": "$sensor", """ +
          s""""value": $v, "ingest_time": "$it"}""" + "\n")
      } finally w.close()
    }

  /** The rows of a table, as sorted strings over its name-sorted columns
    * (a multiset: duplicates are kept). */
  private def table(path: String, schema: Option[StructType] = None): Seq[String] = {
    val df = schema.fold(spark.read)(spark.read.schema(_)).parquet(path)
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq.sorted
  }

  private def tables(cfg: PipelineConfig): Map[String, Seq[String]] =
    Schemas.sensors.flatMap(s => Seq(
      s"bronze/$s" -> table(cfg.bronzeDir(s), Some(Schemas.bronze)),
      s"silver/$s" -> table(cfg.silverDir(s), Some(Schemas.silver)))).toMap ++ Map(
      "bronze/rejected" -> table(cfg.bronzeRejectedRoot),
      "silver/rejected" -> table(cfg.silverRejectedRoot))

  private type GoldRow = (Int, java.sql.Timestamp, java.sql.Timestamp, Double, Double, Double)
  private def gold(cfg: PipelineConfig): Seq[GoldRow] = {
    import spark.implicits._
    spark.read.schema(Schemas.gold).parquet(cfg.goldDir).as[GoldRow].collect().toSeq
      .sortBy(r => (r._1, r._2.getTime))
  }

  /** Every query started while `body` runs, by handle: the started event
    * reaches a session's listeners before `start()` returns. */
  private def startedDuring(body: => Unit): Seq[StreamingQuery] = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        Option(spark.streams.get(e.id)).foreach(started.add)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try body finally spark.streams.removeListener(listener)
    started.toArray(Array.empty[StreamingQuery]).toSeq.distinctBy(_.runId)
  }

  private def equivalence(dedupe: Boolean): Unit = {
    val (fused, ref) = configs(s"medallion-eq-$dedupe", dedupe)
    var fusedQueries = Seq.empty[StreamingQuery]
    def step(name: String): Map[String, Seq[String]] = {
      fusedQueries ++= startedDuring(Pipelines.drainOnce(spark, fused))
      MedallionReference.drainOnce(spark, ref)
      val got = tables(fused)
      val want = tables(ref)
      assert(got.keySet == want.keySet)
      got.keys.toSeq.sorted.foreach(k =>
        assert(got(k) == want(k), s"[$name, dedupe=$dedupe] $k differs"))
      val (g, w) = (gold(fused), gold(ref))
      assert(g.map(r => (r._1, r._2, r._3)) == w.map(r => (r._1, r._2, r._3)),
        s"[$name, dedupe=$dedupe] gold windows differ: $g vs $w")
      g.zip(w).foreach { case (a, b) =>
        Seq(a._4 - b._4, a._5 - b._5, a._6 - b._6).foreach(d =>
          assert(math.abs(d) <= 1e-9, s"[$name, dedupe=$dedupe] gold values differ: $a vs $b"))
      }
      got
    }

    val dup = ("temperature", 1, "00:10", "20.0")
    land(fused,
      dup, dup, ("temperature", 1, "00:40", "22.0"),
      ("temperature", 1, "not-a-timestamp", "21.0"), // bronze quarantine
      ("temperature", 2, "00:10", "null"),           // bronze quarantine
      ("temperature", 3, "00:20", "999.0"),          // silver quarantine
      ("temperature", 99, "00:25", "21.5"),          // unknown bridge
      ("vibration", 1, "00:15", "1.5"), ("vibration", 1, "00:45", "-0.5"),
      ("vibration", 99, "00:30", "2.0"),
      ("tilt", 1, "00:05", "3.0"), ("tilt", 1, "00:50", "95.0"),
      ("tilt", 99, "00:35", "10.0"))
    val first = step("first drain")
    def copies(sensor: String, event: String): Long =
      spark.read.schema(Schemas.bronze).parquet(fused.bronzeDir(sensor))
        .where(col("bridge_id") === 1 && col("event_time") === s"2024-03-01T00:$event.000Z")
        .count()
    assert(copies("temperature", "00:10") == (if (dedupe) 1 else 2))
    assert(first("bronze/rejected").size == 2)
    assert(first("silver/rejected").size == 3) // 999.0, -0.5, 95.0
    val unknown = spark.read.schema(Schemas.silver).parquet(fused.silverDir("temperature"))
      .where(col("bridge_id") === 99)
    assert(unknown.count() == 1 && unknown.where(col("name").isNull).count() == 1)
    assert(gold(fused).isEmpty)

    // the same tilt event delivered again in a later drain (inside the
    // dedupe watermark), an out-of-range tilt, and rows of every sensor
    // that close [00:00)
    land(fused,
      ("tilt", 1, "00:50", "95.0"), ("tilt", 2, "00:55", "-1.0"),
      ("vibration", 1, "10:00", "null"),
      ("temperature", 1, "10:00", "20.0"), ("vibration", 1, "10:05", "1.0"),
      ("tilt", 1, "10:00", "2.0"))
    step("second drain")
    assert(copies("tilt", "00:50") == (if (dedupe) 1 else 2))
    assert(gold(fused).map(r => r._1) == Seq(1, 99))

    land(fused,
      ("temperature", 1, "20:00", "20.0"), ("vibration", 1, "20:00", "1.0"),
      ("tilt", 1, "20:00", "2.0"))
    step("third drain")
    assert(gold(fused).size == 3)

    assert(fusedQueries.map(_.name).toSet == Set("bronze", "gold_bridge_metrics"))
    val read = fusedQueries.flatMap(_.recentProgress.toSeq.flatMap(_.sources.toSeq.map(_.description)))
    assert(read.exists(_.contains(fused.landingRoot)) && read.exists(_.contains(fused.silverRoot)))
    assert(!read.exists(_.contains(fused.bronzeRoot)), read.distinct.mkString("\n"))
    assert(new File(fused.checkpointRoot).list().toSet == Set("bronze", "gold"))
  }

  test("one bronze query equals the reference DAG, dedupe off") {
    equivalence(dedupe = false)
  }

  test("one bronze query equals the reference DAG, dedupe on") {
    equivalence(dedupe = true)
  }

  test("Bronze.start refuses to start while a silver checkpoint is left") {
    val (_, cfg) = configs("medallion-upgrade", dedupe = false)
    land(cfg,
      ("temperature", 1, "00:10", "20.0"), ("vibration", 1, "00:10", "1.0"),
      ("tilt", 1, "00:10", "2.0"))
    MedallionReference.drainOnce(spark, cfg)
    // silver lags: bronze has read rows the silver query has not
    land(cfg, ("vibration", 1, "00:20", "1.5"))
    MedallionReference.drainBronze(spark, cfg)
    def files(): Set[String] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      Seq(cfg.bronzeRoot, cfg.silverRoot, cfg.goldRoot)
        .flatMap(r => walk(new File(r))).map(_.getPath).toSet
    }
    land(cfg, ("tilt", 1, "00:30", "3.0"))
    def refused(checkpoint: String): Unit = {
      val before = files()
      assert(before.nonEmpty)
      val err = intercept[IllegalStateException](Pipelines.drainOnce(spark, cfg))
      assert(err.getMessage.contains(cfg.checkpoint(checkpoint)), err.getMessage)
      assert(err.getMessage.contains("Drain once with the previous version"), err.getMessage)
      assert(spark.streams.active.isEmpty)
      assert(files() == before, s"a sink changed while $checkpoint was left")
    }
    refused("silver_temperature")

    // the README's upgrade: drain once with the previous version, move the
    // drained landing files out, remove the per-sensor checkpoints. The
    // per-sensor bronze checkpoints alone still refuse: a new `bronze`
    // checkpoint would read every landing file into bronze and silver again
    MedallionReference.drainOnce(spark, cfg)
    def remove(prefix: String): Unit = Schemas.sensors.foreach(s =>
      org.apache.commons.io.FileUtils.deleteDirectory(new File(cfg.checkpoint(s"$prefix$s"))))
    remove("silver_")
    refused("bronze_temperature")
    org.apache.commons.io.FileUtils.moveDirectory(new File(cfg.landingRoot),
      new File(s"${cfg.landingRoot}-drained"))
    remove("bronze_")
    land(cfg, ("temperature", 1, "00:40", "21.0"))
    Pipelines.drainOnce(spark, cfg)
    def times(dir: String): Seq[String] = spark.read.schema(Schemas.bronze).parquet(dir)
      .select(date_format(col("event_time_ts"), "mm:ss")).collect().map(_.getString(0)).toSeq.sorted
    for (s <- Schemas.sensors; dir <- Seq(cfg.bronzeDir(s), cfg.silverDir(s))) assert(times(dir) ==
      Map("temperature" -> Seq("00:10", "00:40"), "vibration" -> Seq("00:10", "00:20"),
        "tilt" -> Seq("00:10", "00:30"))(s), dir)
    assert(new File(cfg.checkpointRoot).list().toSet == Set("bronze", "gold"))
  }
}
