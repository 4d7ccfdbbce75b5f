package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Derive, Enrich, Exact, Quality, Windows}

/** Core relational query surface — one named batch query per operator
  * family from SURVEY.md §2, each with an equivalent DuckDB oracle
  * (SparkEntry contract). Determinism rules (SURVEY.md §7.2):
  * every query ends in a total ORDER BY; float aggregates go through
  * [[graft.ops.Exact]] (decimal-exact, engine-order-independent); integer
  * results are cast so Spark and DuckDB agree on width.
  */
object CoreQueries extends QuerySet {

  /** TPC-H Q1-shaped pricing summary — grouped sum/avg/count over lineitem
    * (A-family aggregates, P4 aliasing; ref agg shape
    * `gold_aggregation.py:52-86`). */
  private val q01: Q = (s, d) => {
    import s.implicits._
    // scaled-long exact sums: lineitem money/quantity magnitudes are
    // provably bounded, so the primitive-codegen path beats decimal ~2x
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        Exact.dsumScaled($"l_quantity").as("sum_qty"),
        Exact.dsumScaled($"l_extendedprice").as("sum_base_price"),
        Exact.dsumScaled($"l_extendedprice" * (lit(1) - $"l_discount")).as("sum_disc_price"),
        Exact.davgScaled($"l_quantity").as("avg_qty"),
        Exact.davgScaled($"l_extendedprice").as("avg_price"),
        Exact.davgScaled($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Conjunctive range + IN filters pushed to the parquet scan
    * (F3/F5; ref `silver_enrichment.py:70-88`, `demo.ipynb` cell 19). */
  private val q02: Q = (s, d) => {
    import s.implicits._
    // time bound via Tables.eventsFrom: pushed to the parquet scan as a
    // raw-nanos filter (row-group pruning), not evaluated post-conversion
    Tables.eventsFrom(s, d, "2024-01-10T00:00:00Z")
      .where($"event_type".isin("click", "view") &&
        Quality.inRange($"value", 5.0, 50.0))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  private def dqValid(s: SparkSession) = {
    import s.implicits._
    Quality.inRange($"value", 0.0, 100.0) && $"event_type".isNotNull
  }

  /** F2 — valid side of the quarantine split (ref `bronze_ingest.py:55-58`). */
  private val q03: Q = (s, d) => {
    import s.implicits._
    Quality.split(Tables.events(s, d), dqValid(s))._1
      .select($"event_id", $"user_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  /** F4 — quarantine side (ref `silver_enrichment.py:94-96`). */
  private val q04: Q = (s, d) => {
    import s.implicits._
    Quality.split(Tables.events(s, d), dqValid(s))._2
      .select($"event_id", $"user_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  /** P1/P2/P5 — timestamp→date/minute/hour derivations + interval math
    * (ref `bronze_ingest.py:44-49`, `demo.ipynb` cell 19). */
  private val q05: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select(
        $"event_id", $"ts",
        to_date($"ts").as("event_date"),
        Derive.minuteStart($"ts").as("minute_start"),
        hour($"ts").as("hour_of_day"),
        Derive.plusMinutes($"ts", 2).as("ts_plus_2m"))
      .orderBy($"event_id")
  }

  /** J1 — fact⋈small-dimension left broadcast join
    * (ref `silver_enrichment.py:104-106`). */
  private val q06: Q = (s, d) => {
    import s.implicits._
    Enrich.withDim(
        Tables.events(s, d),
        Tables.customer(s, d).withColumnRenamed("c_custkey", "user_id"),
        Seq("user_id"))
      .select($"event_id", $"user_id", $"c_name", $"c_mktsegment")
      .orderBy($"event_id")
  }

  /** J2/J3 batch analog — three grouped aggregations joined on a composite
    * (entity, time-bucket) key, the shape of the reference's 3-way
    * stream-stream join (`gold_aggregation.py:52-99`). */
  private val q07: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .withColumn("entity_id", $"user_id" % 5)
      .withColumn("day_start", date_trunc("day", $"ts"))
    def keyed(t: String) = ev.where($"event_type" === t).groupBy($"entity_id", $"day_start")
    val views  = keyed("view").agg(Exact.davg($"value").as("avg_view"))
    val clicks = keyed("click").agg(max($"value").as("max_click"))
    val errs   = keyed("error").agg(count(lit(1)).as("n_error"))
    views
      .join(clicks, Seq("entity_id", "day_start"))
      .join(errs, Seq("entity_id", "day_start"))
      .orderBy($"entity_id", $"day_start")
  }

  /** U1 — unionByName with missing columns (ref `bronze_ingest.py:91-94`). */
  private val q08: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"value")
    val signups = ev.where($"event_type" === "signup")
      .select($"event_id", $"user_id", $"event_type")
    purchases.unionByName(signups, allowMissingColumns = true).orderBy($"event_id")
  }

  /** O1/A5 — grouped max + top-k with deterministic tie-break
    * (ref `demo.ipynb` cell 11). Plans as TakeOrderedAndProject. */
  private val q09: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id").agg(max($"value").as("peak_value"))
      .orderBy($"peak_value".desc, $"user_id")
      .limit(10)
  }

  /** A4 — events per 1-minute bucket (ref `demo.ipynb` cell 9). */
  private val q10: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(Derive.minuteStart($"ts").as("minute_start"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy($"minute_start")
  }

  /** A6/A7 — global min/max/count (ref `demo.ipynb` cell 18). */
  private val q11: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .agg(min($"ts").as("min_ts"), max($"ts").as("max_ts"), count(lit(1)).as("n"))
  }

  /** A3 — per-type counts, the rejected-audit shape (ref `demo.ipynb` cell 7). */
  private val q12: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  /** Multi-join star aggregation at scale: lineitem⋈orders⋈customer⋈nation.
    * nation is explicitly broadcast; customer/orders joins shuffle on their
    * keys with AQE free to broadcast the smaller side at runtime. */
  private val q13: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        Exact.dsumScaled($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"n_name")
  }

  /** Left-semi EXISTS join (TPC-H Q4 shape): order priorities with at least
    * one late-shipped lineitem in a date range. */
  private val q14: Q = (s, d) => {
    import s.implicits._
    val o = Tables.orders(s, d)
      .where($"o_orderdate" >= lit("1996-01-01 00:00:00").cast("timestamp") &&
             $"o_orderdate" < lit("1996-07-01 00:00:00").cast("timestamp"))
    Enrich.existsIn(o, Tables.lineitem(s, d),
        col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"))
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy($"o_orderpriority")
  }

  /** Left-anti NOT EXISTS join: customers with no order since 2000-01-01. */
  private val q15: Q = (s, d) => {
    import s.implicits._
    val recent = Tables.orders(s, d)
      .where($"o_orderdate" >= lit("2000-01-01 00:00:00").cast("timestamp"))
    Enrich.notExistsIn(Tables.customer(s, d), recent,
        col("o_custkey") === col("c_custkey"))
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Ordered-window top-N per group: 3 biggest orders per customer. */
  private val q16: Q = (s, d) => {
    import s.implicits._
    Windows.topNPerGroup(Tables.orders(s, d),
        Seq($"o_custkey"), Seq($"o_totalprice".desc, $"o_orderkey"), 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
      .orderBy($"o_custkey", $"rn")
  }

  /** DISTINCT projection (exact-dedup primitive). */
  private val q17: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select($"user_id", $"event_type").distinct()
      .orderBy($"user_id", $"event_type")
  }

  /** Gaps-and-islands sessionization (30-min inactivity gap). */
  private val q18: Q = (s, d) => {
    import s.implicits._
    Windows.sessionize(Tables.events(s, d), "user_id", "ts", "event_id", 30)
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id", $"session_id")
  }

  /** North-star JSON props: extract `$.k` from the JSON string column and
    * aggregate — `get_json_object` is codegen'd, no UDF. */
  private val q19: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("k", Derive.jsonInt($"props", "$.k"))
      .groupBy($"event_type")
      .agg((sum($"k").cast("double") / count(lit(1))).as("avg_k"), count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q01_pricing_summary"   -> q01,
    "q02_event_filter"      -> q02,
    "q03_dq_split_valid"    -> q03,
    "q04_dq_split_invalid"  -> q04,
    "q05_derive_time"       -> q05,
    "q06_dim_join_left"     -> q06,
    "q07_triple_agg_join"   -> q07,
    "q08_union_by_name"     -> q08,
    "q09_topk_peak"         -> q09,
    "q10_minute_counts"     -> q10,
    "q11_time_range"        -> q11,
    "q12_type_counts"       -> q12,
    "q13_revenue_by_nation" -> q13,
    "q14_semi_join"         -> q14,
    "q15_anti_join"         -> q15,
    "q16_topn_per_group"    -> q16,
    "q17_distinct_pairs"    -> q17,
    "q18_sessionize"        -> q18,
    "q19_json_props"        -> q19)

  /** DECIMAL-exact sum/avg helpers, mirrored from [[graft.ops.Exact]]. */
  private def dsum(x: String) = s"CAST(sum(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"
  private def davg(x: String) = s"${dsum(x)} / count($x)"
  /** Scaled-long variants (Exact.dsumScaled/davgScaled). */
  private def dsumS(x: String) = s"sum(CAST(round(($x) * 10000, 0) AS BIGINT)) / 10000.0"
  private def davgS(x: String) = s"${dsumS(x)} / count($x)"

  val oracle: Seq[(String, String)] = Seq(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumS("l_quantity")} AS sum_qty,
         |  ${dsumS("l_extendedprice")} AS sum_base_price,
         |  ${dsumS("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${davgS("l_quantity")} AS avg_qty,
         |  ${davgS("l_extendedprice")} AS avg_price,
         |  ${davgS("l_discount")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_event_filter" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |WHERE event_type IN ('click','view') AND value >= 5.0 AND value <= 50.0
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |ORDER BY event_id""".stripMargin,
    "q03_dq_split_valid" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE value >= 0.0 AND value <= 100.0 AND event_type IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "q04_dq_split_invalid" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE NOT coalesce(value >= 0.0 AND value <= 100.0 AND event_type IS NOT NULL, false)
        |ORDER BY event_id""".stripMargin,
    "q05_derive_time" ->
      """SELECT event_id, ts, CAST(ts AS DATE) AS event_date,
        |  date_trunc('minute', ts) AS minute_start,
        |  CAST(hour(ts) AS INTEGER) AS hour_of_day,
        |  ts + INTERVAL 2 MINUTE AS ts_plus_2m
        |FROM events ORDER BY event_id""".stripMargin,
    "q06_dim_join_left" ->
      """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    "q07_triple_agg_join" ->
      s"""WITH v AS (SELECT user_id % 5 AS entity_id, date_trunc('day', ts) AS day_start,
         |             ${davg("value")} AS avg_view
         |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         |     c AS (SELECT user_id % 5 AS entity_id, date_trunc('day', ts) AS day_start,
         |             max(value) AS max_click
         |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |     e AS (SELECT user_id % 5 AS entity_id, date_trunc('day', ts) AS day_start,
         |             count(*) AS n_error
         |           FROM events WHERE event_type = 'error' GROUP BY 1, 2)
         |SELECT entity_id, day_start, avg_view, max_click, n_error
         |FROM v JOIN c USING (entity_id, day_start) JOIN e USING (entity_id, day_start)
         |ORDER BY entity_id, day_start""".stripMargin,
    "q08_union_by_name" ->
      """SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
        |UNION ALL BY NAME
        |SELECT event_id, user_id, event_type FROM events WHERE event_type = 'signup'
        |ORDER BY event_id""".stripMargin,
    "q09_topk_peak" ->
      """SELECT user_id, max(value) AS peak_value FROM events GROUP BY user_id
        |ORDER BY peak_value DESC, user_id LIMIT 10""".stripMargin,
    "q10_minute_counts" ->
      """SELECT date_trunc('minute', ts) AS minute_start, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_time_range" ->
      "SELECT min(ts) AS min_ts, max(ts) AS max_ts, count(*) AS n FROM events",
    "q12_type_counts" ->
      """SELECT event_type, count(*) AS n FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q13_revenue_by_nation" ->
      s"""SELECT n_name,
         |  ${dsumS("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q14_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q15_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "q16_topn_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q17_distinct_pairs" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q18_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_id
        |  FROM x)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |  max(ts) AS session_end, count(*) AS n_events
        |FROM y GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q19_json_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE)
        |    / count(*) AS avg_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
