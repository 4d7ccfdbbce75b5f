package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave38Queries.scala holds round-12 WAVE-41 queries
  * q275–q279 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Window-pattern depth on the business tables — the classic warehouse
  * shapes the surface didn't yet carry as first-class queries:
  * gaps-and-islands (longest consecutive-month order streak), first-vs-
  * last trajectory classification, exact running distinct users via the
  * first-seen reduction, dormancy reactivation, and ratio-to-parent
  * share with intra-group rank. Every window is partitioned by a
  * business key or runs over a bounded histogram/dimension frame —
  * never an unpartitioned per-row sort. All five are
  * DuckDB-oracle-checked. */
object Wave38Queries extends QuerySet {

  /** Gaps-and-islands: the longest streak of consecutive calendar
    * months with ≥1 order, per customer, rolled up to a streak-length
    * histogram. The m − row_number() trick groups consecutive months
    * into islands with one customer-keyed window over the DISTINCT
    * (customer, month) frame — bounded by the calendar horizon per
    * customer, never by order count. */
  private val q275: Q = (s, d) => {
    import s.implicits._
    val cm = Tables.orders(s, d)
      .select($"o_custkey",
        (year($"o_orderdate") * 12 + month($"o_orderdate")).as("m"))
      .distinct()
    cm.withColumn("rn",
        row_number().over(Window.partitionBy($"o_custkey").orderBy($"m")))
      .groupBy($"o_custkey", ($"m" - $"rn").as("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy($"o_custkey").agg(max($"len").as("max_streak"))
      .groupBy($"max_streak".cast("long").as("max_streak"))
      .agg(count(lit(1)).cast("long").as("n_customers"))
      .orderBy($"max_streak")
  }

  /** Customer value trajectory: FIRST vs LAST order value (both ends
    * picked by deterministic (date, orderkey) row_number windows over
    * the customer partition), classified growing / flat / shrinking,
    * rolled up per market segment. The windows ride ONE custkey
    * exchange; segment attaches afterward on the per-customer frame. */
  private val q276: Q = (s, d) => {
    import s.implicits._
    val wf = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val wl = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    val fl = Tables.orders(s, d)
      .select($"o_custkey", $"o_totalprice", $"o_orderdate", $"o_orderkey")
      .withColumn("rn_f", row_number().over(wf))
      .withColumn("rn_l", row_number().over(wl))
      .groupBy($"o_custkey")
      .agg(max(when($"rn_f" === 1, $"o_totalprice")).as("first_price"),
        max(when($"rn_l" === 1, $"o_totalprice")).as("last_price"),
        count(lit(1)).as("n_orders"))
      .where($"n_orders" >= 2)
      .withColumn("ratio", round($"last_price" / $"first_price", 9))
      .withColumn("trajectory",
        when($"ratio" > 1.25, "growing")
          .when($"ratio" < 0.8, "shrinking").otherwise("flat"))
    fl.join(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"trajectory")
      .agg(count(lit(1)).cast("long").as("n_customers"),
        round(sum($"ratio".cast("decimal(28,9)")).cast("double") /
          count(lit(1)), 9).as("mean_ratio"))
      .orderBy($"c_mktsegment", $"trajectory")
  }

  /** Exact running distinct users by day — the cumulative-audience
    * curve. countDistinct under a running frame is quadratic; the
    * first-seen reduction is the scale shape: one user-keyed min
    * collapses the corpus to a user row, a day histogram follows, and
    * the prefix sum runs over the DAY-cardinality frame (a bounded
    * histogram window, the q211 discipline — never a per-row global
    * sort). */
  private val q277: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id").agg(min($"ts".cast("date")).as("day"))
      .groupBy($"day").agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum($"new_users").over(Window.orderBy($"day")))
      .select($"day", $"new_users".cast("long").as("new_users"),
        $"cum_users".cast("long").as("cum_users"))
      .orderBy($"day")
  }

  /** Dormancy reactivation: events arriving after a >3-day silence
    * from the same user, counted per return week — the win-back
    * dashboard number. One user-keyed lag window; the rollup is
    * week-cardinality. */
  private val q278: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d).select($"user_id", $"ts", $"event_id")
      .withColumn("prev", lag($"ts", 1).over(w))
      .where($"prev".isNotNull &&
        (unix_micros($"ts") - unix_micros($"prev")) > 3L * 86400L * 1000000L)
      .select(date_trunc("week", $"ts").cast("date").as("week"), $"user_id")
      .groupBy($"week")
      .agg(count(lit(1)).cast("long").as("n_reactivations"),
        countDistinct($"user_id").cast("long").as("n_users"))
      .orderBy($"week")
  }

  /** Ratio-to-parent with intra-group rank: each customer nation's
    * revenue share WITHIN its region, ranked inside the region — the
    * classic BI share-of-parent shape. Facts collapse to the
    * nation-cardinality aggregate first (exact scaled-long revenue);
    * the share window and rank run over the ≤|nations| frame
    * partitioned by region. */
  private val q279: Q = (s, d) => {
    import s.implicits._
    val nat = Tables.lineitem(s, d)
      .select($"l_orderkey",
        round($"l_extendedprice" * (lit(1) - $"l_discount") * 10000, 0)
          .cast("long").as("v"))
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(sum($"v").as("__v"))
    val wr = Window.partitionBy($"r_name")
    nat.select($"r_name", $"n_name",
        round($"__v" / 10000.0, 4).as("revenue"),
        round($"__v" / sum($"__v").over(wr).cast("double"), 9).as("region_share"),
        row_number().over(wr.orderBy($"__v".desc, $"n_name")).cast("int")
          .as("region_rank"))
      .orderBy($"r_name", $"region_rank")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q275_order_streaks" -> q275,
    "q276_customer_trajectory" -> q276,
    "q277_running_distinct_users" -> q277,
    "q278_reactivation" -> q278,
    "q279_region_share_rank" -> q279)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q275_order_streaks" ->
      """WITH cm AS (SELECT DISTINCT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m FROM orders),
        |g AS (SELECT o_custkey, m,
        |    m - row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
        |  FROM cm),
        |st AS (SELECT o_custkey, grp, count(*) AS len FROM g GROUP BY 1, 2),
        |mx AS (SELECT o_custkey, CAST(max(len) AS BIGINT) AS max_streak
        |  FROM st GROUP BY 1)
        |SELECT max_streak, CAST(count(*) AS BIGINT) AS n_customers
        |FROM mx GROUP BY max_streak ORDER BY max_streak""".stripMargin,
    "q276_customer_trajectory" ->
      """WITH r AS (SELECT o_custkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn_f,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_l
        |  FROM orders),
        |fl AS (SELECT o_custkey,
        |    max(CASE WHEN rn_f = 1 THEN o_totalprice END) AS first_price,
        |    max(CASE WHEN rn_l = 1 THEN o_totalprice END) AS last_price,
        |    count(*) AS n_orders
        |  FROM r GROUP BY 1),
        |t AS (SELECT o_custkey,
        |    round(last_price / first_price, 9) AS ratio
        |  FROM fl WHERE n_orders >= 2),
        |lab AS (SELECT o_custkey, ratio,
        |    CASE WHEN ratio > 1.25 THEN 'growing'
        |         WHEN ratio < 0.8 THEN 'shrinking'
        |         ELSE 'flat' END AS trajectory
        |  FROM t)
        |SELECT c.c_mktsegment, lab.trajectory,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  round(CAST(sum(CAST(ratio AS DECIMAL(28,9))) AS DOUBLE)
        |    / count(*), 9) AS mean_ratio
        |FROM lab JOIN customer c ON lab.o_custkey = c.c_custkey
        |GROUP BY 1, 2 ORDER BY c_mktsegment, trajectory""".stripMargin,
    "q277_running_distinct_users" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY 1),
        |h AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT day, CAST(new_users AS BIGINT) AS new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
        |FROM h ORDER BY day""".stripMargin,
    "q278_reactivation" ->
      """WITH l AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |  CAST(count(*) AS BIGINT) AS n_reactivations,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM l
        |WHERE prev IS NOT NULL
        |  AND epoch_us(ts) - epoch_us(prev) > CAST(259200 AS BIGINT) * 1000000
        |GROUP BY 1 ORDER BY week""".stripMargin,
    "q279_region_share_rank" ->
      """WITH nat AS (SELECT r.r_name, n.n_name,
        |    sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
        |      AS BIGINT)) AS v
        |  FROM lineitem l
        |    JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN customer c ON o.o_custkey = c.c_custkey
        |    JOIN nation n ON c.c_nationkey = n.n_nationkey
        |    JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name,
        |  round(v / 10000.0, 4) AS revenue,
        |  round(v / CAST(sum(v) OVER (PARTITION BY r_name) AS DOUBLE), 9)
        |    AS region_share,
        |  CAST(row_number() OVER (PARTITION BY r_name
        |    ORDER BY v DESC, n_name) AS INTEGER) AS region_rank
        |FROM nat ORDER BY r_name, region_rank""".stripMargin)
}
