package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full checkable operator surface: core relational parity
  * with the reference (graft.queries.CoreQueries) plus the north-star
  * extensions (graft.queries.ExtQueries). Every SQL-expressible query has a
  * DuckDB oracle in `oracleSql` with matching column names, a total ORDER
  * BY, and engine-order-independent float aggregation (graft.ops.Exact).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's gold question — per-entity 1-minute metrics
    * (`gold_aggregation.py:52-109`) — expressed over the events table. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("entity_id", $"user_id" % 5)
      .groupBy($"entity_id", ops.Derive.minuteStart($"ts").as("minute_start"))
      .agg(
        avg($"value").as("avg_value"),
        max($"value").as("max_value"),
        count(lit(1)).as("n_events"))
      .orderBy($"entity_id", $"minute_start")
  }

  /** Every query file, in one list. */
  private val querySets: Seq[graft.queries.QuerySet] = {
    import graft.queries._
    Seq(
      CoreQueries, ExtQueries, AdvQueries, CurateQueries, ExtraQueries, Wave3Queries,
      Wave4Queries, Wave6Queries, Wave7Queries, Wave8Queries, Wave9Queries, Wave10Queries,
      Wave11Queries, Wave12Queries, Wave13Queries, Wave14Queries, Wave15Queries, Wave16Queries,
      Wave17Queries, Wave18Queries, Wave19Queries, Wave20Queries, Wave21Queries, Wave22Queries,
      Wave23Queries, Wave24Queries, Wave25Queries, Wave26Queries, Wave27Queries, Wave28Queries,
      Wave29Queries, Wave30Queries, Wave31Queries, Wave32Queries, Wave33Queries, Wave34Queries,
      Wave35Queries, Wave36Queries, Wave37Queries, Wave38Queries, Wave39Queries, Wave40Queries,
      Wave41Queries, Wave42Queries, Wave43Queries, Wave44Queries, Wave45Queries, Wave46Queries,
      Wave47Queries, Wave48Queries, Wave49Queries, Wave50Queries, Wave51Queries, Wave52Queries,
      Wave53Queries, Wave54Queries, Wave55Queries, Wave56Queries, Wave57Queries, Wave58Queries)
  }

  /** `entries` as a map; throws if a name repeats, so no query file can
    * silently replace another's query. */
  private[graft] def registry[V](entries: Seq[(String, V)]): Map[String, V] = {
    val repeated = entries.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(repeated.isEmpty, s"query names defined twice: ${repeated.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry(querySets.flatMap(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = registry(querySets.flatMap(_.oracle))
}
