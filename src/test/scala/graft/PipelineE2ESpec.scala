package graft

import java.io.{File, FileWriter}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.pipeline._

/** Golden end-to-end run (SURVEY.md §5): seeded generator → bronze →
  * silver → gold through temp dirs, with injected DQ violations and a
  * two-phase drain so the gold watermark advances and append-mode windows
  * finalize (SURVEY.md §7.5 hard parts 1–2).
  */
class PipelineE2ESpec extends SparkSuite {

  private val root = tmpDir("graft-e2e")
  private val cfg = PipelineConfig.under(root, s"$root/bridges.csv")

  private def writeLanding(sensor: String, date: String, name: String, lines: Seq[String]): Unit = {
    val dir = new File(s"${cfg.landingDir(sensor)}/date=$date")
    dir.mkdirs()
    val w = new FileWriter(new File(dir, name))
    try w.write(lines.mkString("", "\n", "\n")) finally w.close()
  }

  test("bronze/silver/gold with quarantine routing and watermark finalization") {
    Generator.writeBridgesCsv(cfg.bridgesCsv)
    // phase 1: 2 simulated minutes of valid traffic
    val n = Generator.generate(cfg.landingRoot, rate = 5, durationSeconds = 120, seed = 42L)
    assert(n == 600)
    // injected violations (phase 1):
    writeLanding("temperature", "2024-03-01", "inject_bad.json", Seq(
      // unparseable event_time -> bronze quarantine (F1)
      """{"event_time": "not-a-timestamp", "bridge_id": 1, "sensor_type": "temperature", "value": 20.0, "ingest_time": "2024-03-01T00:00:30.000Z"}""",
      // null value -> bronze quarantine (F1)
      """{"event_time": "2024-03-01T00:00:10.000Z", "bridge_id": 2, "sensor_type": "temperature", "value": null, "ingest_time": "2024-03-01T00:00:30.000Z"}""",
      // out-of-range temperature -> silver quarantine (F3)
      """{"event_time": "2024-03-01T00:00:20.000Z", "bridge_id": 3, "sensor_type": "temperature", "value": 999.0, "ingest_time": "2024-03-01T00:00:40.000Z"}""",
      // unknown bridge, valid value -> silver with null dimension (J1 left join)
      """{"event_time": "2024-03-01T00:00:25.000Z", "bridge_id": 99, "sensor_type": "temperature", "value": 21.5, "ingest_time": "2024-03-01T00:00:45.000Z"}"""))

    Pipelines.drainOnce(spark, cfg)

    val bronzeAll = Schemas.sensors.map(s => spark.read.parquet(cfg.bronzeDir(s)))
      .reduce(_ unionByName _)
    assert(bronzeAll.count() == n + 2) // 600 valid + out-of-range + unknown-bridge
    assert(bronzeAll.columns.toSet == Schemas.bronze.fieldNames.toSet)
    val bronzeRejected = spark.read.parquet(cfg.bronzeRejectedRoot)
    assert(bronzeRejected.count() == 2) // bad ts + null value

    val silverTemp = spark.read.parquet(cfg.silverDir("temperature"))
    assert(silverTemp.columns.toSet == Schemas.silver.fieldNames.toSet)
    val silverRejected = spark.read.parquet(cfg.silverRejectedRoot)
    assert(silverRejected.count() == 1) // the 999.0 temperature
    assert(silverRejected.head.getAs[Double]("value") == 999.0)
    // join success: known bridges enriched, unknown bridge kept with nulls
    assert(silverTemp.where(col("bridge_id") === 99).count() == 1)
    assert(silverTemp.where(col("bridge_id") === 99 && col("name").isNull).count() == 1)
    assert(silverTemp.where(col("bridge_id") <= 5 && col("name").isNull).count() == 0)

    // gold: after one drain the watermark has not passed any window end in
    // the same batch, so append mode emitted nothing yet
    val goldAfter1 = spark.read.schema(Schemas.gold).parquet(cfg.goldDir)
    assert(goldAfter1.count() == 0)

    // phase 2: traffic 10 simulated minutes later advances the watermark
    // past every phase-1 window end
    Generator.generate(cfg.landingRoot, rate = 5, durationSeconds = 60, seed = 43L,
      base = java.time.Instant.parse("2024-03-01T00:10:00Z"))
    Pipelines.drainOnce(spark, cfg)

    val gold = spark.read.parquet(cfg.goldDir)
    assert(gold.count() > 0)
    assert(gold.columns.toSet == Schemas.gold.fieldNames.toSet)
    // emitted exactly once per (bridge, window)
    assert(gold.groupBy("bridge_id", "window_start").count().where(col("count") > 1).count() == 0)

    // values match a batch recomputation over silver for the same windows
    val silverAll = Schemas.sensors.map(s => spark.read.parquet(cfg.silverDir(s)))
      .reduce(_ unionByName _)
    val expected = silverAll
      .groupBy(col("bridge_id"), window(col("event_time_ts"), "1 minute").as("w"),
        col("sensor_type"))
      .agg(avg("value").as("a"), max("value").as("m"))
      .groupBy(col("bridge_id"), col("w.start").as("window_start"))
      .agg(
        max(when(col("sensor_type") === "temperature", col("a"))).as("e_avg_temp"),
        max(when(col("sensor_type") === "vibration", col("m"))).as("e_max_vib"),
        max(when(col("sensor_type") === "tilt", col("m"))).as("e_max_tilt"))
    val joined = gold.join(expected, Seq("bridge_id", "window_start"))
    assert(joined.count() == gold.count()) // every emitted window recomputable
    val mismatches = joined.where(
      abs(col("avg_temperature") - col("e_avg_temp")) > 1e-9 ||
        abs(col("max_vibration") - col("e_max_vib")) > 1e-9 ||
        abs(col("max_tilt_angle") - col("e_max_tilt")) > 1e-9)
    assert(mismatches.count() == 0)
  }

  test("late event beyond the watermark is dropped from gold") {
    // phase 3: an event far older than the current watermark (~00:09)
    writeLanding("temperature", "2024-03-01", "inject_late.json", Seq(
      """{"event_time": "2024-03-01T00:00:05.000Z", "bridge_id": 1, "sensor_type": "temperature", "value": 39.999, "ingest_time": "2024-03-01T00:11:00.000Z"}"""))
    val goldBefore = spark.read.parquet(cfg.goldDir).count()
    Pipelines.drainOnce(spark, cfg)
    val gold = spark.read.parquet(cfg.goldDir)
    // the late row reached silver but its (already finalized) window was
    // not re-emitted, and no window carries its sentinel value
    assert(gold.count() == goldBefore)
    assert(gold.where(col("avg_temperature") === 39.999).count() == 0)
  }

  test("after a gold restart, windows wait for a batch with rows of every sensor") {
    val root = tmpDir("graft-stall")
    val c = PipelineConfig.under(root, s"$root/bridges.csv")
    Generator.writeBridgesCsv(c.bridgesCsv)
    var fileNo = 0
    def land(mmss: String, sensors: String*): Unit = sensors.foreach { s =>
      val dir = new File(s"${c.landingDir(s)}/date=2024-03-01")
      dir.mkdirs()
      fileNo += 1
      val w = new FileWriter(new File(dir, s"stall-$fileNo.json"))
      try w.write(s"""{"event_time": "2024-03-01T00:$mmss.000Z", "bridge_id": 1, """ +
        s""""sensor_type": "$s", "value": 1.0, "ingest_time": "2024-03-01T00:$mmss.000Z"}""" + "\n")
      finally w.close()
    }
    def windows(): Seq[String] =
      spark.read.schema(Schemas.gold).parquet(c.goldDir)
        .select(date_format(col("window_start"), "HH:mm")).collect().map(_.getString(0)).toSeq.sorted

    land("00:10", Schemas.sensors: _*)
    Pipelines.drainOnce(spark, c)
    assert(windows().isEmpty)
    // Spark checkpoints the query's watermark, not each source's: the
    // restarted gold query counts a source without rows in its batch at
    // watermark 0, so rows of one sensor past every open window close
    // nothing ...
    land("10:00", "temperature")
    Pipelines.drainOnce(spark, c)
    assert(windows().isEmpty)
    // ... and neither do rows of the other two in the next drain, which
    // restarts gold again with temperature now the source without rows
    land("10:00", "vibration", "tilt")
    Pipelines.drainOnce(spark, c)
    assert(windows().isEmpty)
    // one batch with rows of every sensor closes both waiting windows
    land("20:00", Schemas.sensors: _*)
    Pipelines.drainOnce(spark, c)
    assert(windows() == Seq("00:00", "00:10"))
  }

  test("each bronze micro-batch runs at most two Spark jobs") {
    val root = tmpDir("graft-jobs")
    val c = PipelineConfig.under(root, s"$root/bridges.csv")
    Generator.writeBridgesCsv(c.bridgesCsv)
    Generator.generate(c.landingRoot, rate = 5, durationSeconds = 60, seed = 7L)
    val bronzeIds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val queries = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name.startsWith("bronze_")) bronzeIds.add(e.id.toString)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // jobs by (query id, batch id), from the local properties Spark sets on
    // a micro-batch's thread; a marker job flushes the listener bus (events
    // reach a listener in order)
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, String),
      java.util.concurrent.atomic.AtomicInteger]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val markerKey = "graft.test.marker"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        if (p.getProperty(markerKey) != null) flushed.countDown()
        Option(p.getProperty("sql.streaming.queryId")).foreach(q =>
          jobs.computeIfAbsent((q, p.getProperty("streaming.sql.batchId")),
            _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet())
      }
    }
    spark.streams.addListener(queries)
    spark.sparkContext.addSparkListener(listener)
    try {
      Pipelines.drainOnce(spark, c)
      spark.sparkContext.setLocalProperty(markerKey, "flush")
      try spark.range(1).count() finally spark.sparkContext.setLocalProperty(markerKey, null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.streams.removeListener(queries)
    }
    import scala.jdk.CollectionConverters._
    val perBatch = jobs.asScala.toMap.collect {
      case (k @ (q, _), n) if bronzeIds.contains(q) => k -> n.get
    }
    assert(perBatch.keySet.map(_._1).size == 3, perBatch)
    // the dimension read and the one job that stages all four sinks
    assert(perBatch.values.forall(_ <= 2), perBatch)
  }

  /** Spark jobs that `body` runs, by (streaming query id, batch id), from
    * the local properties Spark sets on a micro-batch's thread; a marker
    * job flushes the listener bus (events reach a listener in order). */
  private def jobsByBatch(body: => Unit): Map[(String, Long), Int] = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, Long),
      java.util.concurrent.atomic.AtomicInteger]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val markerKey = "graft.test.marker"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        if (p.getProperty(markerKey) != null) flushed.countDown()
        Option(p.getProperty("sql.streaming.queryId")).foreach(q =>
          jobs.computeIfAbsent((q, p.getProperty("streaming.sql.batchId").toLong),
            _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet())
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setLocalProperty(markerKey, "flush")
      try spark.range(1).count() finally spark.sparkContext.setLocalProperty(markerKey, null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.map { case (k, n) => k -> n.get }.toMap
  }

  test("each bronze query parses bridges.csv only in its first batch and when its bytes change") {
    import spark.implicits._
    val root = tmpDir("graft-dim-parse")
    val c = PipelineConfig.under(root, s"$root/bridges.csv").copy(sourceMaxFilesPerTrigger = Some(2))
    Generator.writeBridgesCsv(c.bridgesCsv)
    Generator.generate(c.landingRoot, rate = 5, durationSeconds = 60, seed = 7L)
    var drained = Seq.empty[StreamingQuery]
    val jobs = jobsByBatch { drained = Bronze.startAll(spark, c); drained.foreach(_.awaitTermination()) }
    // six landing files per sensor, two per batch: the parse and the
    // staging job in the first batch, the staging job alone after it
    drained.foreach { q =>
      val batches = jobs.collect { case ((id, b), n) if id == q.id.toString => b -> n }
      assert(batches.toSeq.sorted.map(_._2) == Seq(2, 1, 1), s"${q.name}: $batches")
    }

    // same length and modification time, different bytes
    val csv = new File(c.bridgesCsv)
    val mtime = csv.lastModified()
    val text = new String(java.nio.file.Files.readAllBytes(csv.toPath), "UTF-8")
    val edited = text.replace("Bridge A", "Bridge Q")
    assert(edited != text && edited.length == text.length)
    // written under a hidden name and renamed in: the running query must
    // not list a half-written file
    def landTilt(name: String, mm: String): Unit = {
      val dir = new File(s"${c.landingDir("tilt")}/date=2024-03-01")
      val tmp = new File(dir, s".$name")
      val w = new FileWriter(tmp)
      try w.write(s"""{"event_time": "2024-03-01T00:$mm:00.000Z", "bridge_id": 1, """ +
        s""""sensor_type": "tilt", "value": 1.0, "ingest_time": "2024-03-01T00:$mm:00.000Z"}""" + "\n")
      finally w.close()
      assert(tmp.renameTo(new File(dir, name)))
    }
    val q = Bronze.start(spark, c, "tilt", Trigger.ProcessingTime(100))
    def step(body: => Unit): Seq[Int] =
      jobsByBatch { body; q.processAllAvailable() }
        .collect { case ((id, _), n) if id == q.id.toString => n }.toSeq
    try {
      assert(step(landTilt("x1.json", "05")) == Seq(2)) // a new query parses in its first batch
      assert(step(landTilt("x2.json", "06")) == Seq(1))
      assert(step {
        java.nio.file.Files.write(csv.toPath, edited.getBytes("UTF-8"))
        assert(csv.setLastModified(mtime) && csv.length == text.length)
        landTilt("x3.json", "07")
      } == Seq(2))
      assert(step(landTilt("x4.json", "08")) == Seq(1))
    } finally q.stop()
    val names = spark.read.schema(Schemas.silver).parquet(c.silverDir("tilt"))
      .where(col("event_time_ts") >= lit("2024-03-01 00:05:00").cast("timestamp"))
      .select(date_format(col("event_time_ts"), "mm"), col("name"))
      .as[(String, String)].collect().sorted.toSeq
    assert(names == Seq("05" -> "Bridge A", "06" -> "Bridge A", "07" -> "Bridge Q", "08" -> "Bridge Q"))
  }

  test("dimension lookup: an unknown bridge gets NULLs, a repeated bridge_id fails the batch") {
    import spark.implicits._
    val root = tmpDir("graft-dim")
    val c = PipelineConfig.under(root, s"$root/bridges.csv")
    def bridges(lines: String*): Unit = {
      val w = new FileWriter(c.bridgesCsv)
      try w.write(("bridge_id,name,location,installation_date" +: lines).mkString("", "\n", "\n"))
      finally w.close()
    }
    def landRow(name: String, bridge: Int): Unit = {
      val dir = new File(s"${c.landingDir("tilt")}/date=2024-03-01")
      dir.mkdirs()
      val w = new FileWriter(new File(dir, name))
      try w.write(s"""{"event_time": "2024-03-01T00:00:10.000Z", "bridge_id": $bridge, """ +
        s""""sensor_type": "tilt", "value": 1.0, "ingest_time": "2024-03-01T00:00:10.000Z"}""" + "\n")
      finally w.close()
    }
    bridges("1,Alpha,North,2001-01-01", "2,Beta,South,")
    landRow("a.json", 1); landRow("b.json", 2); landRow("c.json", 3)
    Bronze.start(spark, c, "tilt").awaitTermination()
    val silver = spark.read.schema(Schemas.silver).parquet(c.silverDir("tilt"))
      .select("bridge_id", "name", "location", "installation_date")
      .as[(Int, String, String, String)].collect().sortBy(_._1).toSeq
    assert(silver == Seq((1, "Alpha", "North", "2001-01-01"), (2, "Beta", "South", null),
      (3, null, null, null)))

    bridges("1,Alpha,North,2001-01-01", "4,Gamma,East,2004-04-04", "4,Delta,West,2005-05-05")
    landRow("d.json", 4)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      Bronze.start(spark, c, "tilt").awaitTermination())
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(messages.contains("repeats bridge_id 4"), messages)
    assert(spark.read.schema(Schemas.silver).parquet(c.silverDir("tilt")).count() == 3)
  }
}
