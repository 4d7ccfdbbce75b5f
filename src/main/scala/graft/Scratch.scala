package graft

/** Dev tool: standalone steady-state timing of individual queries at
  * bench settings (two runs each — the first absorbs JIT/codegen, the
  * second is the steady-state figure PERF.md quotes).
  * `sbt "runMain graft.Scratch q24_ngram_jaccard q42_curation"` */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    // warmup scan (JIT/codegen); docs-only slices have no lineitem
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable =>
      spark.read.parquet(s"$sfDir/documents.parquet").count() }
    val names = if (args.nonEmpty) args.toSeq else Seq("q42_curation")
    // 1 run for multi-minute big-sf measurements (JIT noise is a wash)
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCRATCH_RUNS", "2").toInt
    for (n <- names; i <- 1 to runs) {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[scratch] $n#$i%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      // same between-run discipline as Bench: staged frames released,
      // cache cleared — run #2 measures the query, not run #1's cache
      graft.ops.Staged.releaseAll()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
