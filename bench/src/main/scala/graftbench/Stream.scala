package graftbench

import java.io.File
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.pipeline.{Bronze, Generator, PipelineConfig, Pipelines, Schemas, Silver}

/** The medallion pipeline restarted on a backlog, then fed live traffic.
  *
  * Catch-up (set-up): a seeded `Generator.generate` backlog is drained tier
  * by tier by `Pipelines.drainOnce`, 40 files per trigger, as the first
  * work of the process. Live: the 7 queries of
  * `Pipelines.startContinuous` run on the same checkpoints with
  * `Trigger.ProcessingTime(0)`, while an open-loop writer publishes one
  * file per sensor per wall second. */
object Stream {
  val BacklogRate = 200 // events per simulated second
  val BacklogSeconds = 30
  val FilesPerTrigger = 40
  val LiveRate = 600 // events per wall second, over the three sensors
  /** Event time advances this many seconds per wall second in the live
    * phase, so that four 1-minute windows close per wall second. */
  val EventSecondsPerWallSecond = 240
  val MaxLagMs = 60000L // event time trails ingest time by up to this
  val Watermark = 120L // seconds; PipelineConfig's default "2 minutes"
  val WindowSeconds = 60L
  /** Share of live events with an out-of-range value, which the silver
    * rules must quarantine. */
  val InvalidShare = 0.01
  /** After the writer stops: how long the windows it closed may take to
    * reach gold before they count as missing. */
  val EmitTimeoutMs = 60000L
  val Base: Instant = Instant.parse("2024-03-01T00:00:00Z")
  val GoldQuery = "gold_bridge_metrics"

  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)
  private val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)

  def config(root: String): PipelineConfig =
    PipelineConfig.under(root, s"$root/bridges.csv")
      .copy(sourceMaxFilesPerTrigger = Some(FilesPerTrigger))

  // ---- the live writer --------------------------------------------------

  /** One published landing file. */
  final case class Published(sensor: String, scheduledMs: Long, publishedMs: Long,
                             maxEventMs: Long, events: Int)

  /** Open-loop writer: file `k` of each sensor is due at `startMs + k`
    * seconds whatever the pipeline is doing; it carries the events of event
    * seconds [eventStart + k·S, eventStart + (k+1)·S). Each file is written
    * outside the watched directory and renamed in. */
  final class Writer(cfg: PipelineConfig, staging: String, seed: Long, eventStartMs: Long,
                     seconds: Int) extends Runnable {
    val published = new java.util.concurrent.ConcurrentLinkedQueue[Published]()
    @volatile var startMs = 0L
    private val rng = new java.util.Random(seed)

    private def value(sensor: String): Double = {
      val v = sensor match {
        case "temperature" => 5.0 + rng.nextDouble() * 35.0
        case "vibration" => rng.nextDouble() * 10.0
        case _ => rng.nextDouble() * 30.0
      }
      if (rng.nextDouble() < InvalidShare) -v - 100.0 else v // below every sensor's range
    }

    def run(): Unit = {
      new File(staging).mkdirs()
      startMs = System.currentTimeMillis()
      val perFile = LiveRate / Schemas.sensors.size
      val spanMs = EventSecondsPerWallSecond * 1000L
      for (k <- 0 until seconds) {
        val due = startMs + k * 1000L
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Schemas.sensors.foreach { sensor =>
          val sb = new StringBuilder
          var maxEvent = Long.MinValue
          var day = ""
          for (i <- 0 until perFile) {
            val ingest = eventStartMs + k * spanMs + (i.toLong * spanMs) / perFile
            val event = ingest - (rng.nextDouble() * MaxLagMs).toLong
            maxEvent = math.max(maxEvent, event)
            day = dateFmt.format(Instant.ofEpochMilli(ingest))
            sb ++= s"""{"event_time": "${isoFmt.format(Instant.ofEpochMilli(event))}", """ +
              s""""bridge_id": ${1 + rng.nextInt(Generator.bridges.size)}, """ +
              s""""sensor_type": "$sensor", "value": ${"%.3f".formatLocal(Locale.US, value(sensor))}, """ +
              s""""ingest_time": "${isoFmt.format(Instant.ofEpochMilli(ingest))}"}""" + "\n"
          }
          val name = f"live_${seed}_$k%05d.json"
          val tmp = new File(staging, s"$sensor-$name")
          val w = new java.io.FileWriter(tmp)
          try w.write(sb.toString) finally w.close()
          val dir = new File(s"${cfg.landingDir(sensor)}/date=$day")
          dir.mkdirs()
          java.nio.file.Files.move(tmp.toPath, new File(dir, name).toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          published.add(Published(sensor, due, System.currentTimeMillis(), maxEvent, perFile))
        }
      }
    }
  }

  // ---- streaming progress -------------------------------------------------

  /** One micro-batch's progress; `watermarkMs` is the event-time
    * watermark the batch ran with (-1 without one). */
  final case class Progress(name: String, batchId: Long, startMs: Long, rows: Long,
                            durations: Map[String, Long], stateRows: Long,
                            stateBytes: Long, stateCommitMs: Long, watermarkMs: Long)

  final class ProgressLog extends StreamingQueryListener {
    val all = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val p = e.progress
      all.add(Progress(p.name, p.batchId, Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum,
        p.stateOperators.map(_.commitTimeMs).sum,
        Option(p.eventTime.get("watermark")).map(Instant.parse(_).toEpochMilli).getOrElse(-1L)))
    }
  }

  // ---- file-sink and file-source logs ------------------------------------

  /** Entries of a Spark metadata log directory (`_spark_metadata`, or a
    * file source's `sources/0`): for each log file, its mtime and the JSON
    * lines it holds. */
  def logEntries(dir: File): Seq[(Long, Long, Seq[String])] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
      .flatMap { f =>
        val id = f.getName.stripSuffix(".compact")
        if (!id.forall(_.isDigit) || id.isEmpty) None
        else {
          val src = scala.io.Source.fromFile(f, "UTF-8")
          val lines = try src.getLines().drop(1).filter(_.nonEmpty).toList finally src.close()
          Some((id.toLong, f.lastModified(), lines))
        }
      }.sortBy(_._1)

  private val PathRe = "\"path\"\\s*:\\s*\"([^\"]+)\"".r
  private val TsRe = "\"timestamp\"\\s*:\\s*(\\d+)".r

  /** Gold file name → commit time: the mtime of the earliest log entry
    * that lists it. Every tenth entry is a `.compact` file re-listing all
    * earlier files, so a later entry would date the file too late. */
  def commitTimes(goldDir: String): Map[String, Long] = {
    val out = scala.collection.mutable.HashMap.empty[String, Long]
    logEntries(new File(goldDir, "_spark_metadata")).foreach { case (_, mtime, lines) =>
      lines.foreach(l => PathRe.findFirstMatchIn(l).foreach { m =>
        val name = new File(new java.net.URI(m.group(1)).getPath).getName
        out(name) = math.min(out.getOrElse(name, Long.MaxValue), mtime)
      })
    }
    out.toMap
  }

  private val LogOffsetRe = "\"logOffset\"\\s*:\\s*(\\d+)".r

  /** Newest input-file mtime of each micro-batch of a query, from its
    * checkpoint: `offsets/<batch>` holds each source's log offset, and the
    * first source's log entries in (previous offset, offset] hold the
    * files the batch read. */
  def newestInputMs(checkpoint: File): Map[Long, Long] = {
    val files = logEntries(new File(checkpoint, "sources/0")).map { case (id, _, lines) =>
      id -> lines.flatMap(l => TsRe.findFirstMatchIn(l).map(_.group(1).toLong)).maxOption.getOrElse(0L)
    }.toMap
    val offsets = logEntries(new File(checkpoint, "offsets")).flatMap { case (batch, _, lines) =>
      lines.lift(1).flatMap(l => LogOffsetRe.findFirstMatchIn(l)).map(m => batch -> m.group(1).toLong)
    }
    offsets.zip((-1L, -1L) +: offsets).flatMap { case ((batch, to), (_, from)) =>
      ((from + 1) to to).flatMap(files.get).maxOption.map(batch -> _)
    }.toMap
  }

  // ---- the reference ------------------------------------------------------

  /** Gold recomputed in batch from every landing event under the silver
    * rules: (bridge, window start ms) → (avg temperature, max vibration,
    * max tilt). */
  def expectedGold(spark: SparkSession, cfg: PipelineConfig): Map[(Int, Long), (Double, Double, Double)] = {
    def sensor(s: String, agg: org.apache.spark.sql.Column): DataFrame =
      Bronze.derive(spark.read.schema(Schemas.raw).json(s"${cfg.landingDir(s)}/*/*.json"))
        .where(Silver.rule(s))
        .groupBy(col("bridge_id"), window(col("event_time_ts"), "1 minute"))
        .agg(agg)
    sensor("temperature", avg("value").as("t"))
      .join(sensor("vibration", max("value").as("v")), Seq("bridge_id", "window"))
      .join(sensor("tilt", max("value").as("a")), Seq("bridge_id", "window"))
      .select(col("bridge_id"), col("window.start").as("ws"), col("t"), col("v"), col("a"))
      .collect().map { r =>
        (r.getInt(0), r.getTimestamp(1).getTime) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      }.toMap
  }

  /** One gold row as emitted: values and the file that holds it. */
  final case class GoldRow(bridge: Int, windowStartMs: Long, values: (Double, Double, Double), file: String)

  def readGold(spark: SparkSession, cfg: PipelineConfig): Seq[GoldRow] =
    spark.read.schema(Schemas.gold).parquet(cfg.goldDir)
      .select(col("bridge_id"), col("window_start"), col("avg_temperature"),
        col("max_vibration"), col("max_tilt_angle"), input_file_name())
      .collect().toSeq.map { r =>
        GoldRow(r.getInt(0), r.getTimestamp(1).getTime, (r.getDouble(2), r.getDouble(3), r.getDouble(4)),
          new File(new java.net.URI(r.getString(5)).getPath).getName)
      }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Check emitted gold against the reference. Every window in `due` must
    * be emitted once with the reference values; any emitted row must match
    * the reference. Returns (attempted, failures). */
  def checkGold(emitted: Seq[GoldRow], expected: Map[(Int, Long), (Double, Double, Double)],
                due: Set[(Int, Long)]): (Int, Seq[String]) = {
    val byKey = emitted.groupBy(g => (g.bridge, g.windowStartMs))
    val keys = due ++ byKey.keySet
    val failures = keys.toSeq.sorted.flatMap { k =>
      val fmt = s"bridge ${k._1} window ${Instant.ofEpochMilli(k._2)}"
      (byKey.get(k), expected.get(k)) match {
        case (None, _) => Some(s"$fmt: not emitted")
        case (Some(rows), _) if rows.size > 1 => Some(s"$fmt: emitted ${rows.size} times")
        case (Some(_), None) => Some(s"$fmt: emitted but absent from the reference")
        case (Some(Seq(g)), Some((t, v, a))) =>
          val (gt, gv, ga) = g.values
          if (close(gt, t) && close(gv, v) && close(ga, a)) None
          else Some(s"$fmt: got ($gt, $gv, $ga), reference ($t, $v, $a)")
        case _ => None
      }
    }
    (keys.size, failures)
  }

  /** For each window: the wall time of the publish after which all three
    * sensors had moved past window end + watermark, for the windows that
    * live files closed (the backlog's event time ends at `liveFromMs`). */
  def closingPublish(published: Seq[Published], windowStarts: Set[Long],
                     liveFromMs: Long): Map[Long, Long] = {
    val bySensor = published.groupBy(_.sensor).map { case (s, ps) => s -> ps.sortBy(_.publishedMs) }
    windowStarts.flatMap { ws =>
      val need = ws + (WindowSeconds + Watermark) * 1000L
      val perSensor = if (need <= liveFromMs) Nil else Schemas.sensors.map(s =>
        bySensor.getOrElse(s, Nil).find(_.maxEventMs >= need).map(_.publishedMs))
      if (perSensor.nonEmpty && perSensor.forall(_.isDefined)) Some(ws -> perSensor.flatten.max)
      else None
    }.toMap
  }

  // ---- the workload -------------------------------------------------------

  def run(ctx: Ctx, root: String): Result = {
    val spark = ctx.spark
    val spans = ctx.spans
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    // set-up: lay down the backlog, then restart on it: the catch-up
    // drain is the first work of this process, as after a real restart
    val cfg = config(s"$root/main")
    Generator.writeBridgesCsv(cfg.bridgesCsv)
    val backlogEvents = spans("generate")(
      Generator.generate(cfg.landingRoot, BacklogRate, BacklogSeconds, ctx.seed, Base))
    val c0 = System.currentTimeMillis()
    spans("catchup")(Probe.tagged(spark, "catchup")(Pipelines.drainOnce(spark, cfg)))
    val c1 = System.currentTimeMillis()
    ctx.setupDone()
    val gc0 = Proc.gcSeconds()
    val ticks0 = Proc.cpuTicks()

    // live: restart all seven queries on the same checkpoints
    val liveFromMs = Base.plusSeconds(BacklogSeconds.toLong).toEpochMilli
    val writer = new Writer(cfg, s"$root/staging", ctx.seed, liveFromMs, ctx.seconds)
    val l0 = System.currentTimeMillis()
    val queries = spans("start")(Probe.tagged(spark, "live")(
      Pipelines.startContinuous(spark, cfg, Trigger.ProcessingTime(0))))
    val startS = (System.currentTimeMillis() - l0) / 1000.0
    val wt = new Thread(writer, "bench-live-writer")
    spans("live") {
      wt.start()
      wt.join()
    }
    val published = { import scala.jdk.CollectionConverters._; writer.published.asScala.toList }
    // the windows the writer closed must reach gold: wait for the gold
    // batch that runs with a watermark past the last one's end (it emits
    // the window; its progress event follows its commit), then stop. The
    // wait reads progress events only, so it adds no Spark job beside the
    // pipeline's own
    val finalEvent = Schemas.sensors.map(s =>
      published.filter(_.sensor == s).map(_.maxEventMs).maxOption.getOrElse(0L)).min
    val lastDue = {
      val end = finalEvent - Watermark * 1000L - 1000L
      end - WindowSeconds * 1000L - Math.floorMod(end, WindowSeconds * 1000L)
    }
    val deadline = System.currentTimeMillis() + EmitTimeoutMs
    def lastEmitted = progress.all.stream().anyMatch(p =>
      p.name == GoldQuery && p.watermarkMs >= lastDue + WindowSeconds * 1000L)
    spans("drain")(while (!lastEmitted && System.currentTimeMillis() < deadline) Thread.sleep(100))
    val l1 = System.currentTimeMillis()
    val gcS = Proc.gcSeconds() - gc0
    val mem = Proc.liveMb() // with the queries and their state still live
    val failedQueries = queries.flatMap(q => q.exception.map(e => s"${q.name}: ${e.getMessage}"))
    queries.foreach(_.stop())
    spark.streams.removeListener(progress)
    val rss = Proc.peakRssMb()
    val steal = Proc.stealShare(ticks0)

    val emitted = readGold(spark, cfg)
    val expected = spans("reference")(expectedGold(spark, cfg))
    val due = expected.keySet.filter(_._2 <= lastDue)
    val commits = commitTimes(cfg.goldDir)
    val (attempted, failures) = checkGold(emitted, expected, due)
    val closing = closingPublish(published, emitted.map(_.windowStartMs).toSet, liveFromMs)
    val latencies = emitted.flatMap { g =>
      for (p <- closing.get(g.windowStartMs); c <- commits.get(g.file)) yield (c - p) / 1000.0
    }
    val catchupS = (c1 - c0) / 1000.0
    val endToEnd = Seq(
      "setup_s" -> ctx.setupS,
      "latency_s.p50" -> Stats.pct(latencies, 0.5),
      "live_mem_mb" -> mem)

    val late = published.map(p => (p.publishedMs - p.scheduledMs) / 1000.0)
    val detail = scala.collection.mutable.ArrayBuffer[(String, Any)](
      "backlog_events" -> backlogEvents, "catchup_s" -> catchupS,
      "catchup_events_per_s" -> backlogEvents / catchupS,
      "gold_latency_s.samples" -> latencies.size,
      "gold_latency_s.p90" -> Stats.pct(latencies, 0.9),
      "gold_latency_s.mean" -> latencies.sum / latencies.size,
      "gold_windows_checked" -> attempted,
      "host.steal_share" -> steal, "peak_rss_mb" -> rss,
      "gen.events" -> published.map(_.events).sum, "gen.late_s.max" -> late.maxOption.getOrElse(0.0),
      "failures" -> (failures ++ failedQueries))
    val perLayer = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    ctx.probe.foreach { p =>
      p.drain()
      val ps = { import scala.jdk.CollectionConverters._; progress.all.asScala.toList }
      val timed = ps.filter(x => x.startMs >= c0)
      val phases = Seq("catchup" -> (c0, c1), "live" -> (l0, l1))
      val exec = p.summary(j => j.tag == "catchup" || j.tag == "live", phases.map(_._2), ctx.cores)
      val planS = timed.map(_.durations.getOrElse("queryPlanning", 0L)).sum / 1000.0
      val constructJobs = p.allJobs.count(j => j.tag == "live" && j.group.isEmpty)
      perLayer ++= Common.perLayer(
        constructS = startS, constructJobs = constructJobs.toDouble,
        planS = planS / math.max(timed.size, 1), exec = exec, perOp = timed.size, gcS = gcS,
        tracedLatencyP50 = Stats.pct(latencies, 0.5),
        execWallS = exec.wallS / math.max(timed.size, 1))
      detail ++= tierMetrics(ps, phases, cfg) :+ ("exec.failed_tasks" -> exec.failedTasks)
      // one span per micro-batch, named after its query, id = batch id
      ps.foreach(b => ctx.spans.record(b.name, s"batch ${b.batchId}", b.startMs,
        b.startMs + b.durations.getOrElse("triggerExecution", 0L)))
    }
    Result(attempted = attempted, failed = failures.size + failedQueries.size,
      endToEnd = endToEnd, perLayer = perLayer.toSeq, detail = detail.toSeq)
  }

  /** `<phase>.<tier>.*` from the streaming progress of each micro-batch. */
  private def tierMetrics(ps: Seq[Progress], phases: Seq[(String, (Long, Long))],
                          cfg: PipelineConfig): Seq[(String, Any)] = {
    val tiers = Seq("bronze", "silver", "gold")
    def dur(p: Progress, ks: String*) = ks.map(k => p.durations.getOrElse(k, 0L)).sum / 1000.0
    // file-source logs: newest input file of each batch, per query
    val newest: Map[String, Map[Long, Long]] =
      (Schemas.sensors.flatMap(s => Seq(s"bronze_$s", s"silver_$s")) :+ "gold").map { q =>
        q -> newestInputMs(new File(cfg.checkpoint(q)))
      }.toMap
    phases.flatMap { case (phase, (a, b)) =>
      val inPhase = ps.filter(p => p.startMs >= a && p.startMs < b)
      tiers.flatMap { tier =>
        val bs = inPhase.filter(_.name.startsWith(tier))
        val withData = bs.filter(_.rows > 0)
        val queryNames = bs.map(_.name).distinct
        val busy = if (queryNames.isEmpty) 0.0 else queryNames.map { q =>
          bs.filter(_.name == q).map(dur(_, "triggerExecution")).sum
        }.sum / (queryNames.size * (b - a) / 1000.0)
        val lags = withData.flatMap { p =>
          newest.get(if (p.name == GoldQuery) "gold" else p.name)
            .flatMap(_.get(p.batchId)).filter(_ > 0).map(n => (p.startMs - n) / 1000.0)
        }
        val files = filesWritten(cfg, tier, a, b)
        Seq(
          s"$phase.$tier.batches" -> bs.size,
          s"$phase.$tier.rows" -> bs.map(_.rows).sum,
          s"$phase.$tier.batch_s.p50" -> Stats.median(bs.map(dur(_, "triggerExecution"))),
          s"$phase.$tier.busy_share" -> busy,
          s"$phase.$tier.add_batch_s" -> bs.map(dur(_, "addBatch")).sum,
          s"$phase.$tier.plan_s" -> bs.map(dur(_, "queryPlanning")).sum,
          s"$phase.$tier.log_s" -> bs.map(dur(_, "walCommit", "commitOffsets")).sum,
          s"$phase.$tier.list_s" -> bs.map(dur(_, "latestOffset", "getBatch")).sum,
          s"$phase.$tier.lag_s" -> Stats.median(lags),
          s"$phase.$tier.files_written" -> files)
      } ++ {
        val gold = inPhase.filter(_.name.startsWith("gold"))
        Seq(
          s"$phase.gold.state_rows.peak" -> gold.map(_.stateRows).maxOption.getOrElse(0L),
          s"$phase.gold.state_bytes.peak" -> gold.map(_.stateBytes).maxOption.getOrElse(0L),
          s"$phase.gold.state_commit_s" -> gold.map(_.stateCommitMs).sum / 1000.0)
      }
    }
  }

  /** Data files a tier's sinks gained during [a, b) (by mtime). */
  private def filesWritten(cfg: PipelineConfig, tier: String, a: Long, b: Long): Int = {
    val roots = tier match {
      case "bronze" => Seq(cfg.bronzeRoot)
      case "silver" => Seq(cfg.silverRoot)
      case _ => Seq(cfg.goldDir)
    }
    def walk(f: File): Seq[File] =
      if (f.isDirectory) {
        if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
        else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      } else Seq(f)
    roots.flatMap(r => walk(new File(r))).count { f =>
      f.getName.endsWith(".parquet") && f.lastModified() >= a && f.lastModified() < b
    }
  }
}
