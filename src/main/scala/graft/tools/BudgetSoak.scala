package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.{AdmittedDoc, BudgetAdmission}

/** Streaming soak for token-budget admission: replays a document corpus
  * as MANY micro-batches through [[BudgetAdmission.admitted]] and, at
  * the end of the horizon, compares the streamed admitted set against
  * the BATCH application of the same admission rule over the same total
  * arrival order — the end-to-end parity evidence the unit spec (single
  * MemoryStream batches) cannot give: checkpointed state surviving ~100
  * real trigger boundaries, the file-source admission path, and a
  * parquet sink, at corpus scale.
  *
  * Usage: `runMain graft.tools.BudgetSoak <documents.parquet> <workDir>
  * [nBatches=100] [budget=50000]` — writes `<workDir>/soak.json` with
  * per-batch wall times and the final parity verdict.
  *
  * The batch reference: admission order is arrival order across
  * micro-batches and seeded-ord order within one, and slice membership
  * is a pure function of doc id (same staging discipline as [[Soak]]) —
  * so the reference is one window over (slice, ord, doc_id) per source
  * with the running total admitted while ≤ budget. Any divergence
  * (dropped state at a trigger boundary, double-admission on replay,
  * order instability) shows up as a set difference, not a count drift. */
object BudgetSoak {

  def main(args: Array[String]): Unit = {
    val docsPath = args(0)
    val work = args(1)
    val nBatches = if (args.length > 2) args(2).toInt else 100
    val budget = if (args.length > 3) args(3).toLong else 50000L
    val seed = "soak"
    val spark = graft.Session()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", nBatches + 10)
    import spark.implicits._

    new java.io.File(work).mkdirs()
    val staging = s"$work/staging"
    val docs = spark.read.parquet(docsPath).select($"doc_id", $"text", $"source")
    // slice membership a pure function of doc id; mtimes spaced so the
    // file source's (mtime, path) admission order is run-independent —
    // same discipline and rationale as Soak
    docs.repartition(nBatches, pmod($"doc_id", lit(nBatches.toLong)))
      .write.mode("overwrite").parquet(staging)
    locally {
      val t0 = 1700000000000L
      new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 1000L) }
    }
    val nDocs = docs.count()

    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
    val admitted = BudgetAdmission.admitted(
      BudgetAdmission.arrivals(stream, "doc_id", "text", "source", seed), budget)

    val t0 = System.nanoTime()
    val q = admitted.writeStream
      .format("parquet")
      .option("path", s"$work/admitted")
      .option("checkpointLocation", s"$work/cp")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val wallSec = (System.nanoTime() - t0) / 1e9

    val perBatch = q.recentProgress.toSeq.sortBy(_.batchId).map { p =>
      val ms = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(-1L)
      (p.batchId, p.numInputRows, ms)
    }

    // batch reference over the same total order: (slice, ord, doc_id)
    // per source. The staging files ARE the slices, so read them back
    // with the file-membership column rather than re-deriving pmod —
    // input_file_name() maps each row to its slice's position in the
    // admission order (files were mtime-spaced in name order). The
    // filename → slice-ordinal map rides a broadcast equi-join against a
    // listing-sized frame, keeping the no-ScalaUDF invariant absolute
    // (built-ins only; a udf here was the last one in the repo).
    val sliceOrder = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
      .zipWithIndex.toSeq
    val sliceFrame = broadcast(sliceOrder.toDF("__file", "slice"))
    val arr = BudgetAdmission.arrivals(
        spark.read.parquet(staging), "doc_id", "text", "source", seed)
      .withColumn("__file", substring_index(input_file_name(), "/", -1))
      .join(sliceFrame, Seq("__file"))
      .drop("__file")
    val w = Window.partitionBy($"source")
      .orderBy($"slice", $"ord", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val reference = arr
      .withColumn("cum_tok", sum($"n_tok").over(w))
      .where($"cum_tok" <= budget)
      .select($"doc_id", $"source", $"n_tok", $"cum_tok")

    val streamedSet = spark.read.parquet(s"$work/admitted").as[AdmittedDoc]
      .collect().map(a => (a.source, a.doc_id, a.n_tok, a.cum_tok)).toSet
    val refSet = reference.collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val parity = streamedSet == refSet
    val onlyStream = (streamedSet -- refSet).size
    val onlyRef = (refSet -- streamedSet).size

    val batchJson = perBatch.map { case (b, n, ms) =>
      s"""{"batch":$b,"rows":$n,"wallMs":$ms}"""
    }.mkString("[\n  ", ",\n  ", "\n]")
    val json =
      s"""{"nDocs":$nDocs,"nBatches":${perBatch.size},"budget":$budget,
         |"admitted":${streamedSet.size},"referenceAdmitted":${refSet.size},
         |"parity":$parity,"onlyStream":$onlyStream,"onlyReference":$onlyRef,
         |"wallSec":$wallSec,"batches":$batchJson}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/soak.json"), json)

    def mean(xs: Seq[Long]): Double = if (xs.isEmpty) 0 else xs.sum.toDouble / xs.size
    println(f"budget-soak: $nDocs docs / ${perBatch.size} batches, wall $wallSec%.1f s, " +
      s"admitted ${streamedSet.size} (ref ${refSet.size}), parity=$parity " +
      s"diff(stream-only=$onlyStream, ref-only=$onlyRef)")
    println(f"  mean wallMs first10=${mean(perBatch.take(10).map(_._3))}%.0f " +
      f"last10=${mean(perBatch.takeRight(10).map(_._3))}%.0f")
    if (!parity) sys.exit(1)
    spark.stop()
  }
}
