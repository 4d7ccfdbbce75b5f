package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.ops.Quality

/** Silver's rule and dimension (SURVEY.md §2 S5/F3; ref
  * `silver_enrichment.py`). The silver sinks are written by [[Bronze.start]]
  * from the same micro-batch as bronze.
  */
object Silver {

  /** S5 — static dimension load (ref `silver_enrichment.py:29-34`). */
  def bridges(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    spark.read.option("header", "true").schema(Schemas.bridges).csv(cfg.bridgesCsv)

  /** F1+F3 — full silver validity rule for a sensor stream. */
  def rule(sensor: String): Column = Quality.bronzeValid() && Quality.sensorRange(sensor)
}
