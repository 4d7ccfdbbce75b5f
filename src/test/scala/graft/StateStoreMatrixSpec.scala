package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.Sketches
import graft.pipeline.{CurationStream, QuantileMonitor}
import graft.pipeline.QuantileMonitor.MonitorConfig

/** Production state-store posture: the default HDFSBacked provider keeps
  * every state row ON-HEAP per executor, which at 100 TB arrival rates
  * (large watermark × high key cardinality in
  * `dropDuplicatesWithinWatermark` and the windowed aggs) is the first
  * config a deployment flips. This matrix runs the pipeline's stateful
  * topologies under BOTH providers and requires identical results — the
  * evidence that `spark.sql.streaming.stateStore.providerClass =
  * RocksDBStateStoreProvider` is a pure operational knob for this
  * engine, not a semantics change.
  *
  * Topologies covered (the stateful shapes of the streaming surface):
  *  - watermarked windowed aggregation (Gold A1/A2, QuantileMonitor)
  *  - dropDuplicatesWithinWatermark (CurationStream exact stage)
  *  - stream-stream windowed-agg join (J2: the reference gold's shape)
  */
class StateStoreMatrixSpec extends SparkSuite {
  import spark.implicits._

  private val rocksdb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** Run `body` with the session's state-store provider overridden; the
    * conf is read at QUERY start, so setting it per-run is exactly how a
    * deployment flips it. */
  private def withProvider[T](provider: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(providerKey)
    provider.foreach(spark.conf.set(providerKey, _))
    try body
    finally {
      prev match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  private val providers: Seq[(String, Option[String])] =
    Seq("hdfs-backed (default)" -> None, "rocksdb" -> Some(rocksdb))

  private def ts(min: Int, sec: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  for ((label, provider) <- providers) {

    test(s"windowed DDSketch agg under $label equals batch recompute") {
      withProvider(provider) {
        implicit val sqlCtx = spark.sqlContext
        val sink = tmpDir("ssm-qm-sink"); val cp = tmpDir("ssm-qm-cp")
        val cfg = MonitorConfig(windowDur = "1 minute", watermark = "2 minutes")
        val input = MemoryStream[(java.sql.Timestamp, String, Double)]
        val df = input.toDF().toDF("ts", "event_type", "value")
        val w0 = Seq(
          (ts(0, 1), "view", 10.0), (ts(0, 10), "view", 55.5),
          (ts(0, 20), "click", -3.25), (ts(0, 40), "click", 42.0))
        input.addData(w0 :+ ((ts(4, 0), "view", 1.0)): _*)
        val q1 = QuantileMonitor.start(spark, df, cfg, sink, cp)
        try q1.awaitTermination() finally q1.stop()
        input.addData((ts(10, 0), "view", 2.0)) // advances watermark, closes [0,1)
        val q2 = QuantileMonitor.start(spark, df, cfg, sink, cp)
        try q2.awaitTermination() finally q2.stop()

        val got = QuantileMonitor.quantiles(spark, sink, Seq(0.5, 0.95))
          .where($"window_start" === ts(0, 0))
          .select($"event_type", $"quantile", $"est", $"n_values")
        val want = Sketches.ddQuantiles(
          w0.toDF("ts", "event_type", "value"), "event_type", "value", Seq(0.5, 0.95))
        assert(got.count() == 4)
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"[$label] streaming != batch")
      }
    }

    test(s"dropDuplicatesWithinWatermark under $label dedups across micro-batches") {
      withProvider(provider) {
        implicit val sqlCtx = spark.sqlContext
        val clean = tmpDir("ssm-cl"); val rej = tmpDir("ssm-rj"); val cp = tmpDir("ssm-cp")
        val text = ("the quick brown fox jumps over lazy dogs near riverbank " * 8).trim
        val input = MemoryStream[(Long, String, java.sql.Timestamp)]
        val df = input.toDF().toDF("doc_id", "text", "ingest_ts")
        val cfg = CurationStream.CurationConfig(minQuality = 0.6)
        // batch 1: original; batch 2 (same checkpoint, state within
        // watermark): exact duplicate text under a NEW id must be dropped
        // by fingerprint state held in the store under test
        input.addData((1L, text, ts(0, 1)))
        val q1 = CurationStream.start(spark, df, cfg, clean, rej, cp)
        try q1.awaitTermination() finally q1.stop()
        input.addData((2L, text, ts(0, 30)))
        val q2 = CurationStream.start(spark, df, cfg, clean, rej, cp)
        try q2.awaitTermination() finally q2.stop()
        val ids = spark.read.parquet(clean).select("doc_id").as[Long].collect().toSet
        assert(ids == Set(1L), s"[$label] cross-batch duplicate admitted: $ids")
      }
    }

    test(s"stream-stream windowed join under $label equals batch join") {
      withProvider(provider) {
        implicit val sqlCtx = spark.sqlContext
        val sink = tmpDir("ssm-j-sink"); val cp = tmpDir("ssm-j-cp")
        val in = MemoryStream[(java.sql.Timestamp, String, String, Double)]
        // one interleaved feed split into two streams by metric kind —
        // J2, the reference gold's shape: two watermarked windowed aggs
        // joined on (key, window)
        val events = in.toDF().toDF("ts", "bridge", "kind", "v")
        def agg(kind: String, out: String) = events
          .where($"kind" === kind)
          .withWatermark("ts", "2 minutes")
          .groupBy($"bridge", window($"ts", "1 minute"))
          .agg(avg($"v").as(out))
        val joined = agg("vib", "avg_vib").join(agg("tilt", "avg_tilt"),
            Seq("bridge", "window"))
          .select($"bridge", $"window.start".as("ws"), $"avg_vib", $"avg_tilt")
        val rows = Seq(
          (ts(0, 5), "b1", "vib", 1.0), (ts(0, 25), "b1", "vib", 3.0),
          (ts(0, 10), "b1", "tilt", 0.5), (ts(0, 50), "b1", "tilt", 1.5),
          (ts(0, 15), "b2", "vib", 9.0), (ts(0, 45), "b2", "tilt", 7.0))
        in.addData(rows :+ ((ts(5, 0), "b9", "vib", 0.0)): _*)
        val q1 = joined.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q1.awaitTermination() finally q1.stop()
        // two more watermark advances: one closes the agg windows into
        // the join, the next flushes the joined row through the join's
        // own state (chained stateful ops each consume an advance)
        for (m <- Seq(10, 20)) {
          in.addData((ts(m, 0), "b9", "vib", 0.0), (ts(m, 0), "b9", "tilt", 0.0))
          val qn = joined.writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", cp)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          try qn.awaitTermination() finally qn.stop()
        }

        val got = spark.read.parquet(sink)
          .where($"ws" === ts(0, 0))
          .as[(String, java.sql.Timestamp, Double, Double)].collect().toSet
        val batch = rows.toDF("ts", "bridge", "kind", "v")
        def bagg(kind: String, out: String) = batch.where($"kind" === kind)
          .groupBy($"bridge", window($"ts", "1 minute"))
          .agg(avg($"v").as(out))
        val want = bagg("vib", "avg_vib").join(bagg("tilt", "avg_tilt"),
            Seq("bridge", "window"))
          .select($"bridge", $"window.start".as("ws"), $"avg_vib", $"avg_tilt")
          .where($"ws" === ts(0, 0))
          .as[(String, java.sql.Timestamp, Double, Double)].collect().toSet
        assert(got == want && got.nonEmpty, s"[$label] got=$got want=$want")
      }
    }

    test(s"flatMapGroupsWithState budget admission under $label equals batch sampler") {
      withProvider(provider) {
        implicit val sqlCtx = spark.sqlContext
        val docs = Tables.documents(spark, "/root/testdata/sf0.001")
        val in = MemoryStream[graft.pipeline.DocArrival]
        val q = graft.pipeline.BudgetAdmission.admitted(in.toDS(), 300L)
          .writeStream.format("memory").queryName(s"ssm_ba_${label.take(4)}")
          .outputMode("append").start()
        try {
          // two micro-batches split by doc_id parity — admission must
          // still respect the per-source budget across the boundary
          val all = graft.pipeline.BudgetAdmission
            .arrivals(docs, "doc_id", "text", "source", "ssm").collect()
          in.addData(all.filter(_.doc_id % 2 == 0).toSeq)
          q.processAllAvailable()
          in.addData(all.filter(_.doc_id % 2 == 1).toSeq)
          q.processAllAvailable()
          val admitted = spark.table(s"ssm_ba_${label.take(4)}")
            .as[graft.pipeline.AdmittedDoc].collect()
          val perSource = admitted.groupBy(_.source).view.mapValues(_.map(_.n_tok).sum)
          assert(admitted.nonEmpty && perSource.values.forall(_ <= 300L),
            s"[$label] budget exceeded: ${perSource.toMap}")
          // the prefix clock must agree with a driver-side replay of the
          // same two-batch arrival order
          val replay = (all.filter(_.doc_id % 2 == 0).sortBy(r => (r.ord, r.doc_id)) ++
              all.filter(_.doc_id % 2 == 1).sortBy(r => (r.ord, r.doc_id)))
            .groupBy(_.source).toSeq.flatMap { case (src, rs) =>
              var cum = 0L
              rs.toSeq.flatMap { r =>
                cum += r.n_tok
                if (cum <= 300L) Some((r.doc_id, src, r.n_tok, cum)) else None
              }
            }.toSet
          assert(admitted.map(a => (a.doc_id, a.source, a.n_tok, a.cum_tok)).toSet
            == replay, s"[$label] streamed set diverges from replay")
        } finally q.stop()
      }
    }

    test(s"mapGroupsWithState funnel under $label carries chains across batches") {
      withProvider(provider) {
        implicit val sqlCtx = spark.sqlContext
        val in = MemoryStream[graft.pipeline.FunnelEvent]
        val q = graft.pipeline.FunnelStream.progress(in.toDS(), 3)
          .writeStream.format("memory").queryName(s"ssm_fn_${label.take(4)}")
          .outputMode("append").start()
        try {
          // step 0 in batch 1, steps 1+2 in batch 2 — the chain must
          // cross the trigger boundary through the state store
          in.addData(graft.pipeline.FunnelEvent(1L, 1000L, 0))
          q.processAllAvailable()
          in.addData(graft.pipeline.FunnelEvent(1L, 2000L, 1),
            graft.pipeline.FunnelEvent(1L, 3000L, 2),
            graft.pipeline.FunnelEvent(2L, 3000L, 1)) // no step 0: stays out
          q.processAllAvailable()
          val rows = spark.table(s"ssm_fn_${label.take(4)}")
            .as[graft.pipeline.FunnelProgress].collect().toSet
          assert(rows == Set(
            graft.pipeline.FunnelProgress(1L, 1, 1000L),
            graft.pipeline.FunnelProgress(1L, 3, 3000L)),
            s"[$label] $rows")
        } finally q.stop()
      }
    }
  }

  test("rocksdb provider actually engaged (state store metrics name it)") {
    withProvider(Some(rocksdb)) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Int]
      val cp = tmpDir("ssm-probe-cp")
      // data first: AvailableNow fixes its end offset when the query
      // starts, so rows added after start() may miss the only batch
      input.addData(1, 2, 2)
      val q = input.toDF().toDF("v")
        .groupBy($"v").count()
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      // the RocksDB provider reports provider-specific custom metrics
      // (rocksdbGetCount etc.) in the progress's stateOperators
      val metrics = q.recentProgress.flatMap(_.stateOperators)
        .flatMap(_.customMetrics.keySet().toArray.map(_.toString)).toSet
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb metrics in $metrics — provider not engaged")
    }
  }
}
