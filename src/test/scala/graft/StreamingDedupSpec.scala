package graft

import java.io.{File, FileWriter}
import org.apache.spark.sql.functions._
import graft.pipeline._

/** Streaming exact dedup of landing events (dedupeLanding = true):
  * duplicate deliveries collapse; quarantine-bound rows still route. */
class StreamingDedupSpec extends SparkSuite {

  test("duplicate landing events are dropped; bad rows still quarantined") {
    val root = tmpDir("graft-dedup")
    val cfg = PipelineConfig.under(root, s"$root/bridges.csv").copy(dedupeLanding = true)
    Generator.writeBridgesCsv(cfg.bridgesCsv)
    val dir = new File(s"${cfg.landingDir("temperature")}/date=2024-03-01")
    dir.mkdirs()
    val dup = """{"event_time": "2024-03-01T00:00:10.000Z", "bridge_id": 1, "sensor_type": "temperature", "value": 20.5, "ingest_time": "2024-03-01T00:00:30.000Z"}"""
    val other = """{"event_time": "2024-03-01T00:00:20.000Z", "bridge_id": 2, "sensor_type": "temperature", "value": 21.0, "ingest_time": "2024-03-01T00:00:30.000Z"}"""
    val bad = """{"event_time": "garbage", "bridge_id": 3, "sensor_type": "temperature", "value": 22.0, "ingest_time": "2024-03-01T00:00:30.000Z"}"""
    // a late-phase event advances the watermark well past the others
    val latest = """{"event_time": "2024-03-01T01:00:00.000Z", "bridge_id": 4, "sensor_type": "temperature", "value": 23.0, "ingest_time": "2024-03-01T01:00:01.000Z"}"""
    val w = new FileWriter(new File(dir, "events_a.json"))
    try w.write(Seq(dup, dup, other, bad, dup, latest).mkString("", "\n", "\n")) finally w.close()

    Bronze.start(spark, cfg, "temperature").awaitTermination()

    val bronze = spark.read.parquet(cfg.bronzeDir("temperature"))
    assert(bronze.count() == 3) // dup collapsed to one + other + latest
    assert(bronze.where(col("bridge_id") === 1).count() == 1)
    val rejected = spark.read.parquet(cfg.bronzeRejectedRoot)
    assert(rejected.count() == 1)
    assert(rejected.head.getAs[Int]("bridge_id") == 3)

    // batch 2, with the watermark now at ~00:58: a quarantine-bound row
    // must still reach the rejected sink (rows without a parsed event
    // time go around the dedupe operator)
    val bad2 = """{"event_time": "also-garbage", "bridge_id": 5, "sensor_type": "temperature", "value": 24.0, "ingest_time": "2024-03-01T01:01:00.000Z"}"""
    val w2 = new FileWriter(new File(dir, "events_b.json"))
    try w2.write(bad2 + "\n") finally w2.close()
    Bronze.start(spark, cfg, "temperature").awaitTermination()

    val rejected2 = spark.read.parquet(cfg.bronzeRejectedRoot)
    assert(rejected2.count() == 2)
    assert(rejected2.where(col("bridge_id") === 5).count() == 1)
  }

  test("an unparseable row does not move the dedupe watermark") {
    val root = tmpDir("graft-dedup-wm")
    val cfg = PipelineConfig.under(root, s"$root/bridges.csv").copy(dedupeLanding = true)
    Generator.writeBridgesCsv(cfg.bridgesCsv)
    val dir = new File(s"${cfg.landingDir("temperature")}/date=2024-03-01")
    dir.mkdirs()
    def land(name: String, line: String): Unit = {
      val w = new FileWriter(new File(dir, name))
      try w.write(line + "\n") finally w.close()
    }
    land("a.json", """{"event_time": "not-a-timestamp", "bridge_id": 1, "sensor_type": "temperature", "value": 21.0, "ingest_time": "2024-03-01T00:59:00.000Z"}""")
    Pipelines.drainOnce(spark, cfg)
    land("b.json", """{"event_time": "2024-03-01T00:10:00.000Z", "bridge_id": 1, "sensor_type": "temperature", "value": 20.0, "ingest_time": "2024-03-01T00:10:00.000Z"}""")
    Pipelines.drainOnce(spark, cfg)

    assert(spark.read.parquet(cfg.bronzeRejectedRoot).count() == 1)
    for (table <- Seq(cfg.bronzeDir("temperature"), cfg.silverDir("temperature"))) {
      val rows = spark.read.parquet(table).where(col("bridge_id") === 1)
      assert(rows.count() == 1, table)
      assert(rows.head.getAs[String]("event_time") == "2024-03-01T00:10:00.000Z", table)
    }
  }
}
