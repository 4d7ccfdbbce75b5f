package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave42Queries.scala holds round-12 WAVE-45 query
  * q293 (file numbering lags wave numbering across this package — each
  * file's header carries this map).
  *
  * Closes the one operator-coverage gap the driver couldn't see:
  * [[graft.ops.Skew.saltedJoin]] had spec coverage (OpsSpec pins
  * salted ≡ plain, unsafe-join-type rejection) but no oracle-checked
  * query — and result-identity to the plain join is precisely the
  * property a DuckDB oracle can hash-check end-to-end. */
object Wave42Queries extends QuerySet {

  /** Segment revenue through the SALTED join: the events fact side
    * (user_id is this fixture's measured hot key — q135) joins the
    * customer dim through [[graft.ops.Skew.saltedJoin]] (deterministic
    * hot-key spreading: fact rows hash across saltFactor sub-keys, the
    * dim side replicates saltFactor ways, so one hot user's rows land
    * on saltFactor reducers instead of one straggler). Results are
    * EXACTLY the plain join's — which is what the oracle checks (its
    * SQL is the unsalted join; any row the salting duplicated or
    * dropped reds this row). Exact scaled-long value sums. */
  private val q293: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select($"user_id", $"value", $"event_type")
    val cust = Tables.customer(s, d)
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
    graft.ops.Skew.saltedJoin(ev, cust, Seq("user_id"), saltFactor = 8)
      .groupBy($"c_mktsegment", $"event_type")
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(round($"value" * 10000, 0).cast("long")) / 10000.0, 4)
          .as("total_value"))
      .orderBy($"c_mktsegment", $"event_type")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q293_salted_join_rollup" -> q293)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q293_salted_join_rollup" ->
      """SELECT c.c_mktsegment, e.event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(CAST(round(e.value * 10000, 0) AS BIGINT)) / 10000.0, 4)
        |    AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin)
}
