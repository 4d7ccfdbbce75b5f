package graft.tools

import graft.ops.{Dedup, Staged}

/** Big-sf measurement of the exact-Jaccard family's SCALE PATH: prints
  * the [[Dedup.jaccardAutoRoute]] decision for the corpus and times the
  * routed plan (plus the explicitly capped variant), so PERF.md's
  * heavy-family curve can report what the engine actually does at a
  * scale where the direct Σdf² join is no longer affordable.
  *
  * `runMain graft.tools.HeavyScale <sfDir> [threshold=0.5] [maxDf=256]`
  */
object HeavyScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val threshold = if (args.length > 1) args(1).toDouble else 0.5
    val maxDf = if (args.length > 2) args(2).toInt else 256
    val spark = graft.Session()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    println(s"[heavy] corpus: ${docs.count()} docs at $sfDir")

    val t0 = System.nanoTime()
    val route = Dedup.jaccardAutoRoute(docs, "doc_id", "text")
    println(f"[heavy] route=$route (decision cost ${(System.nanoTime() - t0) / 1e9}%.2f s)")

    def time(label: String)(body: => Long): Unit = {
      val t = System.nanoTime()
      val n = body
      println(f"[heavy] $label%-28s ${(System.nanoTime() - t) / 1e9}%8.1f s  ($n pairs)")
      Staged.releaseAll(); spark.catalog.clearCache()
    }
    time("auto (routed)") {
      Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text",
        threshold = threshold, cappedMaxDf = maxDf).count()
    }
    time(s"capped maxDf=$maxDf") {
      Dedup.ngramJaccardPairsCapped(docs, "doc_id", "text",
        n = 3, threshold = threshold, maxDf = maxDf).count()
    }
    spark.stop()
  }
}
