package graft.tools

import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.{CurationStream, SignatureStore}

/** Streaming soak for the near-dup curation path: replays a document
  * corpus as MANY micro-batches through
  * [[CurationStream.startNearDup]] with in-stream store maintenance on,
  * and records per-batch wall time plus store file counts — the
  * operational evidence that probe cost stays flat while the signature
  * store grows across compactions, instead of degrading with
  * accumulated per-batch delta dirs (the small-files trap a week-long
  * stream hits first).
  *
  * Usage: `runMain graft.tools.Soak <documents.parquet> <workDir>
  * [nBatches=50] [compactEvery=10] [maxGenerations=8]` — set
  * `compactEvery=0` for the no-maintenance control run. Writes
  * `<workDir>/soak.json` with one record per micro-batch:
  * `{batch, rows, wallMs, deltaDirs, storeFiles}`.
  *
  * Mechanics: the corpus is re-written into `nBatches` parquet slices
  * (hash of doc id, NOT round-robin `repartition(n)` — round-robin
  * starts are run-dependent, and near-dup curation is order-dependent
  * by design, so two soaks would otherwise process different batch
  * compositions and their sink counts would not be comparable) and
  * streamed back with `maxFilesPerTrigger=1`, so AvailableNow admits
  * exactly one slice per micro-batch — a deterministic, broker-free
  * stand-in for a day of arrivals. Wall time comes from the query's own
  * progress log (`triggerExecution`, which spans the whole foreachBatch:
  * signature + probe + sinks + any scheduled compact/vacuum), file
  * counts from a post-batch listener snapshot of the store layout.
  */
object Soak {

  private def countFiles(dir: java.io.File): Int =
    if (!dir.exists()) 0
    else if (dir.isFile) 1
    else Option(dir.listFiles()).map(_.map(countFiles).sum).getOrElse(0)

  def main(args: Array[String]): Unit = {
    val docsPath = args(0)
    val work = args(1)
    val nBatches = if (args.length > 2) args(2).toInt else 50
    val compactEvery = if (args.length > 3) args(3).toInt else 10
    val maxGens = if (args.length > 4) args(4).toInt else 8
    val spark = graft.Session()
    // keep every batch's progress: default retention is 100
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", nBatches + 10)
    import spark.implicits._

    new java.io.File(work).mkdirs()
    val staging = s"$work/staging"
    val store = s"$work/store"
    val docs = spark.read.parquet(docsPath).select($"doc_id", $"text")
    // one slice file per intended micro-batch, membership a pure
    // function of doc id so every soak run replays identical batches
    docs.repartition(nBatches, org.apache.spark.sql.functions.pmod(
        $"doc_id", org.apache.spark.sql.functions.lit(nBatches.toLong)))
      .write.mode("overwrite").parquet(staging)
    // pin ADMISSION order, not just slice membership: the file source
    // admits by (modification time, path), and the parallel staging
    // write leaves run-dependent mtimes — two soaks would then replay
    // the same slices in different arrival orders, and near-dup
    // curation is arrival-order-dependent by design (measured: a
    // ±1-doc sink-count wobble from one flipped cluster ordering).
    // Spacing mtimes 1 s apart in path order makes arrival order a
    // pure function of the slicing.
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
    val cfg = CurationStream.NearDupConfig(
      compactEvery = compactEvery, storeBuckets = 64, vacuumGrace = 2,
      storeMaxGenerations = maxGens)

    // store-layout snapshot per completed batch, keyed by batchId; the
    // tier list comes straight off the newest pointer file (local fs —
    // same bytes currentPointer reads) so each compaction's kind is
    // visible in the record: a MINOR appends a generation, a MAJOR
    // collapses the list back to one
    val snapshots = new java.util.concurrent.ConcurrentHashMap[Long, (Int, Int, String)]()
    def tierList(): String = {
      val ptrDir = new java.io.File(s"$store/_ptr")
      val vs = Option(ptrDir.listFiles()).getOrElse(Array.empty)
        .flatMap(f => "^v(\\d+)$".r.findFirstMatchIn(f.getName).map(m => (m.group(1).toLong, f)))
      if (vs.isEmpty) "" else {
        val content = new String(java.nio.file.Files.readAllBytes(
          vs.maxBy(_._1)._2.toPath), "UTF-8").trim.split("\\s+")
        if (content.length > 2) content(2) else vs.maxBy(_._1)._1.toString
      }
    }
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val deltaDirs = Option(new java.io.File(s"$store/delta").list())
          .map(_.count(_.startsWith("batch="))).getOrElse(0)
        val storeFiles = countFiles(new java.io.File(store))
        snapshots.put(e.progress.batchId, (deltaDirs, storeFiles, tierList()))
      }
    }
    spark.streams.addListener(listener)

    val t0 = System.nanoTime()
    val q = CurationStream.startNearDup(spark, stream, cfg,
      s"$work/clean", s"$work/neardup", store, s"$work/cp",
      trigger = Trigger.AvailableNow())
    try q.awaitTermination() finally q.stop()
    val wallSec = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(listener)

    // keep EMPTY batches too: scheduled maintenance still runs on them
    // (an AvailableNow tail batch, or a quiet period in production), and
    // dropping them loses exactly the compaction-wall measurements this
    // tool exists to record
    val rows = q.recentProgress.toSeq
      .sortBy(_.batchId)
      .map { p =>
        val (dd, sf, tiers) = snapshots.getOrDefault(p.batchId, (-1, -1, "?"))
        val ms = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(-1L)
        (p.batchId, p.numInputRows, ms, dd, sf, tiers)
      }
    val json = rows.map { case (b, n, ms, dd, sf, tiers) =>
      s"""{"batch":$b,"rows":$n,"wallMs":$ms,"deltaDirs":$dd,"storeFiles":$sf,"tiers":"$tiers"}"""
    }.mkString("[\n  ", ",\n  ", "\n]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/soak.json"), json)

    val clean = spark.read.parquet(s"$work/clean").count()
    val near = try spark.read
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .parquet(s"$work/neardup").count() catch { case _: Throwable => 0L }
    println(f"soak: $nDocs docs in ${rows.size} batches, wall $wallSec%.1f s, " +
      s"clean=$clean neardup=$near compactEvery=$compactEvery maxGens=$maxGens")
    val head = rows.take(10); val tail = rows.takeRight(10)
    def mean(xs: Seq[Long]): Double = if (xs.isEmpty) 0 else xs.sum.toDouble / xs.size
    println(f"  mean wallMs first10=${mean(head.map(_._3))}%.0f " +
      f"last10=${mean(tail.map(_._3))}%.0f  " +
      s"deltaDirs last=${rows.lastOption.map(_._4).getOrElse(-1)}  " +
      s"storeFiles last=${rows.lastOption.map(_._5).getOrElse(-1)}")
    spark.stop()
  }
}
