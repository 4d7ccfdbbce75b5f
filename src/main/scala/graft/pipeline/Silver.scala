package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, lit, map}
import graft.ops.Quality

/** Silver's rule and dimension (SURVEY.md §2 S5/F3; ref
  * `silver_enrichment.py`). The silver sinks are written by [[Bronze.start]]
  * from the same micro-batch as bronze.
  */
object Silver {

  /** S5 — static dimension load (ref `silver_enrichment.py:29-34`). */
  def bridges(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    spark.read.option("header", "true").schema(Schemas.bridges).csv(cfg.bridgesCsv)

  /** J1 — the dimension's non-key columns for each row's `bridge_id`,
    * applied as literal lookups, so enrichment is a projection instead of
    * a join. A `bridge_id` the dimension lacks gets NULLs, as the
    * reference's left join gives. A repeated `bridge_id` would fan each
    * of its fact rows out into several silver rows under a join; here the
    * batch fails with the repeated ids named.
    *
    * One per streaming query, called once per micro-batch. Each call reads
    * the file's bytes through the Hadoop FS API (one small read, no Spark
    * job) and parses them with [[bridges]] (one small job) only in the
    * first call and when they differ from the bytes its rows came from, so
    * an edited file applies from the next batch on. Not thread-safe:
    * `foreachBatch` runs a query's batches one at a time. */
  final class Dimension(cfg: PipelineConfig) {
    private var parsedFrom: Array[Byte] = _
    private var rows: Array[Row] = _

    def columns(spark: SparkSession): Seq[Column] = {
      val path = new Path(cfg.bridgesCsv)
      val in = path.getFileSystem(spark.sessionState.newHadoopConf()).open(path)
      val bytes = try in.readAllBytes() finally in.close()
      if (rows == null || !java.util.Arrays.equals(bytes, parsedFrom)) {
        rows = bridges(spark, cfg).collect().filterNot(_.isNullAt(0))
        parsedFrom = bytes
      }
      val repeated = rows.groupBy(_.getInt(0)).collect { case (id, rs) if rs.length > 1 => id }
      if (repeated.nonEmpty) throw new IllegalStateException(
        s"${cfg.bridgesCsv} repeats bridge_id ${repeated.toSeq.sorted.mkString(", ")}")
      Schemas.bridges.fields.toSeq.zipWithIndex.tail.map { case (field, i) =>
        val lookup =
          if (rows.isEmpty) lit(null)
          else element_at(map(rows.toSeq.flatMap(r => Seq(lit(r.getInt(0)), lit(r.get(i)))): _*),
            col("bridge_id"))
        lookup.cast(field.dataType).as(field.name)
      }
    }
  }

  /** F1+F3 — full silver validity rule for a sensor stream. */
  def rule(sensor: String): Column = Quality.bronzeValid() && Quality.sensorRange(sensor)
}
