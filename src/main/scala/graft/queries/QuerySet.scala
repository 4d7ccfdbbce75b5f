package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One file's share of the query surface: named query builders, and the
  * DuckDB SQL for those that an oracle can check. [[graft.SparkEntry]]
  * joins every set into one registry. */
trait QuerySet {
  type Q = (SparkSession, String) => DataFrame
  def queries: Seq[(String, Q)]
  def oracle: Seq[(String, String)]
}
