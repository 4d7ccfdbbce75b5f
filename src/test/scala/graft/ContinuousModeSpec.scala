package graft

import org.apache.spark.sql.streaming.Trigger
import graft.pipeline._

/** Continuous mode: both queries live concurrently on micro-batch
  * triggers, data flowing landing → bronze and silver → gold while
  * running. */
class ContinuousModeSpec extends SparkSuite {

  test("startContinuous drains landing data through all tiers concurrently") {
    val root = tmpDir("graft-cont")
    val cfg = PipelineConfig.under(root, s"$root/bridges.csv")
    Generator.writeBridgesCsv(cfg.bridgesCsv)
    val n = Generator.generate(cfg.landingRoot, rate = 5, durationSeconds = 60, seed = 11L)

    val queries = Pipelines.startContinuous(spark, cfg, Trigger.ProcessingTime("500 milliseconds"))
    try {
      assert(queries.map(_.name) == Seq("bronze", "gold_bridge_metrics")) // bronze also writes silver
      // wait until silver has absorbed everything bronze saw (bounded)
      val deadline = System.currentTimeMillis() + 60000
      def silverCount(): Long =
        Schemas.sensors.map { s =>
          try spark.read.parquet(cfg.silverDir(s)).count() catch { case _: Throwable => 0L }
        }.sum
      while (silverCount() < n && System.currentTimeMillis() < deadline) Thread.sleep(500)
      assert(silverCount() == n, s"silver=${silverCount()} expected=$n")
      assert(queries.forall(_.isActive)) // no query died along the way
    } finally queries.foreach(_.stop())
  }

  test("the 2-query drain stays green on the RocksDB state store") {
    val root = tmpDir("graft-rocks")
    val cfg = PipelineConfig.under(root, s"$root/bridges.csv")
      .copy(stateStoreProvider = Some(PipelineConfig.RocksDbProvider))
    Generator.writeBridgesCsv(cfg.bridgesCsv)
    val n = Generator.generate(cfg.landingRoot, rate = 5, durationSeconds = 30, seed = 12L)

    val queries = Pipelines.startContinuous(spark, cfg, Trigger.ProcessingTime("500 milliseconds"))
    try {
      assert(queries.size == 2)
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == PipelineConfig.RocksDbProvider)
      val deadline = System.currentTimeMillis() + 60000
      def silverCount(): Long =
        Schemas.sensors.map { s =>
          try spark.read.parquet(cfg.silverDir(s)).count() catch { case _: Throwable => 0L }
        }.sum
      while (silverCount() < n && System.currentTimeMillis() < deadline) Thread.sleep(500)
      assert(silverCount() == n, s"silver=${silverCount()} expected=$n")
      assert(queries.forall(_.isActive), "a query died under the RocksDB provider")
    } finally {
      queries.foreach(_.stop())
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
