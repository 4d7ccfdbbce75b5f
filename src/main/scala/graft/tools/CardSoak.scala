package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.CardinalityMonitor
import graft.pipeline.CardinalityMonitor.CardConfig

/** Streaming soak for the HLL cardinality monitor: replays an event
  * corpus as many TIME-CONTIGUOUS micro-batches (a real stream arrives
  * roughly in event-time order; random slices would advance the
  * watermark to the horizon's end in batch 1 and drop everything after
  * as late) and, at the end, compares every closed window's streamed
  * estimate against the batch HLL over the same events, plus the
  * horizon rollup. What the unit spec cannot give: checkpointed sketch
  * state surviving ~100 real trigger boundaries at corpus scale, the
  * watermark lifecycle over hundreds of windows, and the in-flight
  * state bound read from the engine's own metrics.
  *
  * Usage: `runMain graft.tools.CardSoak <events.parquet> <workDir>
  * [nBatches=100]` — writes `<workDir>/soak.json`.
  */
object CardSoak {

  def main(args: Array[String]): Unit = {
    val eventsPath = args(0)
    val work = args(1)
    val nBatches = if (args.length > 2) args(2).toInt else 100
    val cfg = CardConfig(windowDur = "1 hour", watermark = "2 hours",
      keyCol = "user_id", tsCol = "ts", lgK = 12)
    val spark = graft.Session()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", nBatches + 10)
    import spark.implicits._

    new java.io.File(work).mkdirs()
    val staging = s"$work/staging"
    val events = graft.Tables.events(spark,
        new java.io.File(eventsPath).getParent)
      .select($"event_id", $"ts", $"user_id")
    val n = events.count()
    val per = math.max(1L, (n + nBatches - 1) / nBatches)
    // contiguous event-time slices: slice i covers the i-th run of the
    // time-sorted corpus (the soak's one global sort — staging only)
    events
      .withColumn("rn", row_number().over(Window.orderBy($"ts", $"event_id")))
      .withColumn("slice", (($"rn" - 1) / per).cast("int"))
      .select($"ts", $"user_id", $"slice")
      .repartition($"slice")
      .write.partitionBy("slice").mode("overwrite").parquet(staging)
    // mtimes in slice order so the file source admits time-contiguously
    locally {
      val t0 = 1700000000000L
      new java.io.File(staging).listFiles()
        .filter(_.getName.startsWith("slice="))
        .sortBy(f => f.getName.stripPrefix("slice=").toInt)
        .zipWithIndex.foreach { case (dir, i) =>
          dir.listFiles().filter(_.getName.endsWith(".parquet"))
            .foreach(_.setLastModified(t0 + i * 1000L)) }
    }

    val stream = spark.readStream
      .schema("ts timestamp, user_id long")
      .option("maxFilesPerTrigger", "1")
      .option("basePath", staging)
      .parquet(s"$staging/slice=*")
    val t0 = System.nanoTime()
    val q = CardinalityMonitor.start(spark, stream, cfg,
      s"$work/sink", s"$work/cp", Trigger.AvailableNow())
    try q.awaitTermination() finally q.stop()
    val wallSec = (System.nanoTime() - t0) / 1e9

    val progress = q.recentProgress.toSeq.sortBy(_.batchId)
    val perBatch = progress.map { p =>
      val ms = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(-1L)
      val stateRows = p.stateOperators.headOption
        .map(_.numRowsTotal).getOrElse(-1L)
      (p.batchId, p.numInputRows, ms, stateRows)
    }
    val maxStateRows = perBatch.map(_._4).max

    // What is checked, and what deliberately is NOT: HLL estimates are
    // merge-order-sensitive (DataSketches unions go through a wider
    // internal mode than single-pass builds, and the streaming state
    // buffer merges incrementally per trigger), so NO estimate
    // comparison here can demand bit equality — measured on this corpus,
    // both the per-(window,slice) union replay and the direct batch
    // sketch differ from the stream on a few % of windows, all within
    // the sketch's error envelope. The EXACT claims are the
    // exactly-once ones: every closed window appears in the sink
    // exactly once (no replay double-emits across 101 trigger
    // boundaries), the closed-window set is the expected one, and the
    // estimates sit within 3σ = 3·1.04/√2^lgK of the direct batch
    // sketch. The union replay stays as a recorded diagnostic.
    val streamed = CardinalityMonitor.estimates(spark, s"$work/sink")
      .select($"window_start", $"approx_distinct")
      .as[(java.sql.Timestamp, Double)].collect().toMap
    val staged = spark.read.option("basePath", staging)
      .parquet(s"$staging/slice=*")
    val unionReplay = staged
      .groupBy(window($"ts", cfg.windowDur), $"slice")
      .agg(hll_sketch_agg($"user_id", lit(cfg.lgK)).as("sk"))
      .groupBy($"window.start".as("ws"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("d"))
      .as[(java.sql.Timestamp, Double)].collect().toMap
    val mismatches = streamed.filter { case (w, d) => unionReplay.get(w) != Some(d) }
    val direct = events
      .groupBy(window($"ts", cfg.windowDur))
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id", lit(cfg.lgK)))
        .as("d"))
      .select($"window.start".as("ws"), $"d")
      .as[(java.sql.Timestamp, Double)].collect().toMap
    val relErrs = streamed.toSeq.flatMap { case (w, d) =>
      direct.get(w).map(b => math.abs(d - b) / math.max(b, 1.0)) }
    val maxRelErr = if (relErrs.isEmpty) 0.0 else relErrs.max
    val tol3Sigma = 3.0 * 1.04 / math.sqrt(math.pow(2.0, cfg.lgK))
    // exactly-once: raw sink rows, one per closed window, no duplicates
    val dupWindows = spark.read.parquet(s"$work/sink")
      .groupBy($"window_start").agg(count(lit(1)).as("c"))
      .where($"c" > 1).count()
    val rolled = CardinalityMonitor.rollup(spark, s"$work/sink")
      .as[Double].head()
    val closedSet = streamed.keySet
    val batchRoll = events
      .where(window($"ts", cfg.windowDur)("start").isin(closedSet.toSeq: _*))
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id", lit(cfg.lgK))))
      .as[Double].head()

    val batchJson = perBatch.map { case (b, rows, ms, st) =>
      s"""{"batch":$b,"rows":$rows,"wallMs":$ms,"stateRows":$st}"""
    }.mkString("[\n  ", ",\n  ", "\n]")
    val json =
      s"""{"nEvents":$n,"nBatches":${perBatch.size},
         |"closedWindows":${streamed.size},"dupWindows":$dupWindows,
         |"unionReplayMismatches":${mismatches.size},
         |"maxRelErrVsDirect":$maxRelErr,"tol3Sigma":$tol3Sigma,
         |"withinEnvelope":${maxRelErr <= tol3Sigma},
         |"rollup":$rolled,"batchRollup":$batchRoll,
         |"rollupRelErr":${math.abs(rolled - batchRoll) / math.max(batchRoll, 1.0)},
         |"rollupWithinEnvelope":${math.abs(rolled - batchRoll) / math.max(batchRoll, 1.0) <= tol3Sigma},
         |"maxStateRows":$maxStateRows,"wallSec":$wallSec,
         |"batches":$batchJson}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/soak.json"), json)
    println(s"card-soak: $n events / ${perBatch.size} batches, " +
      f"wall $wallSec%.1f s, ${streamed.size} closed windows " +
      s"(dups $dupWindows), union-replay mismatches ${mismatches.size}, " +
      f"max rel err vs direct $maxRelErr%.4f (3-sigma $tol3Sigma%.4f, " +
      s"within ${maxRelErr <= tol3Sigma}), " +
      f"rollup rel err ${math.abs(rolled - batchRoll) / math.max(batchRoll, 1.0)}%.5f, " +
      s"max state rows $maxStateRows")
    spark.stop()
  }
}
