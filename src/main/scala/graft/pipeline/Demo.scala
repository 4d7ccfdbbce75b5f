package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Runnable end-to-end demo of the medallion pipeline: seeded generator →
  * one bronze query for all three sensors, which also writes silver →
  * gold, under a work dir (default: a temp dir).
  *
  *   sbt "runMain graft.pipeline.Demo [workDir]"
  *
  * Two drain passes are performed 10 simulated minutes apart so the
  * watermark passes the first pass's window ends and gold emits
  * (append-mode semantics, ref `gold_aggregation.py:111-118`).
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = graft.Session()
    val cfg = PipelineConfig.under(root, s"$root/bridges.csv")
    Generator.writeBridgesCsv(cfg.bridgesCsv)

    val n1 = Generator.generate(cfg.landingRoot, rate = 10, durationSeconds = 120, seed = 42L)
    println(s"[demo] generated $n1 events (phase 1) under ${cfg.landingRoot}")
    Pipelines.drainOnce(spark, cfg)
    report(spark, cfg, "after phase 1")

    val n2 = Generator.generate(cfg.landingRoot, rate = 10, durationSeconds = 60, seed = 43L,
      base = java.time.Instant.parse("2024-03-01T00:10:00Z"))
    println(s"[demo] generated $n2 events (phase 2, +10 simulated minutes)")
    Pipelines.drainOnce(spark, cfg)
    report(spark, cfg, "after phase 2")

    spark.stop()
  }

  private def report(spark: SparkSession, cfg: PipelineConfig, tag: String): Unit = {
    def count(path: String, schema: org.apache.spark.sql.types.StructType = null): Long =
      try {
        val r = if (schema == null) spark.read else spark.read.schema(schema)
        r.parquet(path).count()
      } catch { case _: Throwable => 0L }
    val bronze = Schemas.sensors.map(s => count(cfg.bronzeDir(s))).sum
    val silver = Schemas.sensors.map(s => count(cfg.silverDir(s))).sum
    println(s"[demo] $tag: bronze=$bronze (rejected=${count(cfg.bronzeRejectedRoot)}) " +
      s"silver=$silver (rejected=${count(cfg.silverRejectedRoot)}) " +
      s"gold=${count(cfg.goldDir, Schemas.gold)}")
    try {
      println(s"[demo] $tag: gold sample:")
      spark.read.schema(Schemas.gold).parquet(cfg.goldDir)
        .orderBy("bridge_id", "window_start").show(5, truncate = false)
    } catch { case _: Throwable => }
  }
}
