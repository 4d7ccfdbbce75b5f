package graft.tools

import scala.collection.immutable.ListMap
import graft.pipeline.CurationStream.NearDupConfig

/** Per-round machine-readable STREAMING correctness artifact
  * (`perf/streaming_gate.json`) — the driver's correctness gate is
  * batch-only (DuckDB oracles), so without this a streaming regression
  * could hide behind a green batch artifact (round-10 verdict item 4).
  *
  * One run composes two [[Soak]] scenarios at gate size, and records
  * eight named pass/fail checks the driver can ingest:
  *
  *  - [[Soak.medallion]] (120k events by default): its own checks
  *    `equal_output`, `nonzero_gold`, `bounded_state` and `exactly_once`;
  *  - [[Soak.curation]], twice over one deterministic document corpus
  *    (seeded generator, planted cross-batch near-dups): a reference run
  *    with no store maintenance, and a run with compaction every 2 batches
  *    and vacuum a batch later (the pointer-pruned probe and
  *    generation-fold path). `curation_equal_routing`: both runs route the
  *    identical doc sets to clean and near-dup (bucket pruning and
  *    generation folding change COST, never the answer);
  *    `curation_replay_guard`, `curation_bounded_state` and
  *    `curation_nonzero`: the scenario's own checks hold in both runs.
  *
  * Usage: `runMain graft.tools.StreamingGate [outJson] [rate] [durationSec]`
  * (defaults: perf/streaming_gate.json, 100, 1200 → 120k events). The work
  * dir is a temp dir, deleted once the artifact is written. Exit is
  * nonzero on any failed check. */
object StreamingGate {

  /** `n` docs of ~30 words from a fixed vocabulary (seeded), every 10th a
    * ONE-WORD near-copy of an earlier fresh doc — cross-batch near-dups
    * the signature store must catch. */
  private def docCorpus(n: Int): Seq[(Long, String)] = {
    val rng = new scala.util.Random(20260815L)
    val vocab = Vector(
      "alpha", "bridge", "carbon", "delta", "ember", "falcon", "granite",
      "harbor", "ionic", "jasper", "kernel", "lattice", "marble", "nebula",
      "onyx", "prairie", "quartz", "river", "signal", "timber", "umbra",
      "vertex", "willow", "xenon", "yonder", "zephyr", "anchor", "beacon",
      "cobalt", "drift", "echo", "flint", "glacier", "hollow", "ivory",
      "juniper", "keystone", "lumen", "meadow", "north", "orbit", "pine",
      "quill", "ridge", "slate", "thorn", "upland", "vale", "wharf", "zinc")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0L until n).map { id =>
      if (id % 10 == 9 && texts.nonEmpty) {
        val base = texts(rng.nextInt(texts.size)).split(" ")
        id -> base.updated(rng.nextInt(base.length), vocab(rng.nextInt(vocab.size))).mkString(" ")
      } else {
        val t = Seq.fill(30)(vocab(rng.nextInt(vocab.size))).mkString(" ")
        texts += t
        id -> t
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("perf/streaming_gate.json")
    val rate = args.lift(1).map(_.toInt).getOrElse(100)
    val duration = args.lift(2).map(_.toInt).getOrElse(1200)
    val spark = graft.Session()
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-streaming-gate").toFile
    val pass = try {
      val gold = Soak.medallion(spark, s"$work/medallion", rate, duration, filesPerTrigger = 40)
      // 8 slices of 250 docs, arriving in id order
      val staged = Soak.stage(docCorpus(2000).toDF("doc_id", "text")
        .withColumn("slice", ($"doc_id" / 250).cast("int")), s"$work/curation/staging")
      val runs = Seq(NearDupConfig(),
          NearDupConfig(compactEvery = 2, storeBuckets = 16, vacuumGrace = 1))
        .zipWithIndex.map { case (cfg, i) => Soak.curation(spark, staged, s"$work/curation/$i", cfg) }
      def inBoth(check: String) = runs.forall(_.checks(check))
      val checks = gold.checks ++ ListMap(
        "curation_equal_routing" -> Seq("cleanRows", "cleanHash", "nearDupRows", "nearDupHash")
          .forall(k => runs.map(_.summary(k)).distinct.size == 1),
        "curation_replay_guard" -> inBoth("replay_guard"),
        "curation_bounded_state" -> inBoth("bounded_state"),
        "curation_nonzero" -> inBoth("nonzero"))
      val pass = checks.values.forall(identity)
      val g = gold.summary
      Soak.write(outJson, ListMap[String, Any]("gate" -> "streaming", "pass" -> pass,
        "checks" -> checks, "gold_rows" -> g("goldRows"), "state_peak_rows" -> g("peakStateRows"),
        "restart_rows_before" -> g("restartRowsBefore"),
        "restart_rows_after" -> g("restartRowsAfter"), "events" -> g("events"),
        "curation" -> runs.map(_.doc), "soak" -> gold.doc))
      println(s"streaming gate: pass=$pass $checks — see $outJson")
      pass
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(work)
    }
    if (!pass) sys.error(s"streaming gate FAILED — see $outJson")
  }
}
