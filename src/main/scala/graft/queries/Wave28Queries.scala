package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Exact

/** FILE→WAVE MAP: Wave28Queries.scala holds round-10 WAVE-31 queries
  * q218–q220 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Warehouse shapes round 3: returned-revenue customer ranking (TPC-H
  * Q10's shape), the small-quantity correlated-aggregate filter (Q17's
  * decorrelation shape), and year-over-year revenue growth per nation.
  * All DuckDB-oracle-checked. */
object Wave28Queries extends QuerySet {

  /** Returned-item revenue top-20 customers (TPC-H Q10's shape): which
    * accounts drive the most returned value. The fact side filters on
    * the scan (returnflag pushdown), the orderkey join is the one wide
    * exchange, customer+nation ride broadcasts, and the top-20 is
    * TakeOrderedAndProject. Scaled-long exact revenue. */
  private val q218: Q = (s, d) => {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name")
    val ord = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
    Tables.lineitem(s, d)
      .where($"l_returnflag" === "R")
      .select($"l_orderkey",
        ($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(count(lit(1)).cast("long").as("n_returned"),
        Exact.dsumScaled($"rev").as("returned_revenue"))
      .orderBy($"returned_revenue".desc, $"c_custkey")
      .limit(20)
  }

  /** Small-quantity order revenue (TPC-H Q17's correlated-aggregate
    * shape, decorrelated): lineitems whose quantity is under 20% of
    * their part's average quantity — the "weekly small-order drag"
    * number. The correlated subquery becomes ONE per-part aggregate
    * (broadcast back to the scan, since the per-part frame is
    * dimension-sized) — never a per-row subquery execution.
    *
    * Round-14 integer-grid rewrite (q289's discipline): the predicate
    * `q < 0.2 · avg(q)` clears denominators into the EXACT integer
    * comparison `5·n·q⁴ < Σq⁴` on 1e4-scaled longs (no rounded float
    * threshold at all), and the weekly revenue is an exact integer
    * HALF_UP division — `(2·S + 7) div 14 / 1e4` on the 1e4-scaled
    * revenue sum S. The pre-r14 form rounded a ~1e8-magnitude double at
    * 9 dp — a grid finer than double resolution at that magnitude,
    * which is precisely what left this query in the sf1 oracle's `ulp`
    * class (Spark rounds through BigDecimal, DuckDB through float
    * multiply; they disagree in the last bit at 18 significant
    * digits). The 4 dp money grid is exactly representable:
    * k = (2S+7) div 14 ≤ ~1e13 « 2^53. */
  private val q219: Q = (s, d) => {
    import s.implicits._
    val avgQty = Tables.lineitem(s, d)
      .groupBy($"l_partkey".as("p_key"))
      .agg(sum(round($"l_quantity" * 10000, 0).cast("long")).as("__sq"),
        count($"l_quantity").as("__nq"))
    Tables.lineitem(s, d)
      .join(broadcast(avgQty), $"l_partkey" === $"p_key")
      .where(round($"l_quantity" * 10000, 0).cast("long") * $"__nq" * 5
        < $"__sq")
      .agg(count(lit(1)).cast("long").as("n_small"),
        (expr("(sum(cast(round(l_extendedprice * 10000, 0) as bigint)) * 2 + 7) div 14")
          .cast("double") / 10000.0).as("avg_weekly_revenue"))
  }

  /** Year-over-year revenue growth per customer nation: revenue by
    * (nation, year) with the previous year's revenue and the growth
    * rate — the one-glance trend table. Facts collapse to a
    * nation×year frame first; the lag window runs over that ≤
    * |nations|×|years| aggregate only. */
  private val q220: Q = (s, d) => {
    import s.implicits._
    val cust = Tables.customer(s, d).select($"c_custkey", $"c_nationkey")
      .join(broadcast(Tables.nation(s, d)
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
    val ord = Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", year($"o_orderdate").as("yr"))
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"n_name", $"yr")
    val byYear = Tables.lineitem(s, d)
      .select($"l_orderkey",
        ($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name", $"yr")
      .agg(Exact.dsumScaled($"rev").as("revenue"))
    val w = Window.partitionBy($"n_name").orderBy($"yr")
    byYear
      .withColumn("prev_revenue", lag($"revenue", 1).over(w))
      .withColumn("yoy_growth",
        when($"prev_revenue" > 0,
          round($"revenue" / $"prev_revenue" - 1, 9)))
      .orderBy($"n_name", $"yr")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q218_returned_revenue" -> q218,
    "q219_small_qty_orders" -> q219,
    "q220_yoy_growth" -> q220)

  // ---- oracle SQL -------------------------------------------------------

  private val revS =
    "sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0"

  val oracle: Seq[(String, String)] = Seq(
    "q218_returned_revenue" ->
      s"""SELECT c.c_custkey, c.c_name, n.n_name,
         |  CAST(count(*) AS BIGINT) AS n_returned,
         |  $revS AS returned_revenue
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |WHERE l.l_returnflag = 'R'
         |GROUP BY c.c_custkey, c.c_name, n.n_name
         |ORDER BY returned_revenue DESC, c.c_custkey
         |LIMIT 20""".stripMargin,
    "q219_small_qty_orders" ->
      """WITH a AS (SELECT l_partkey AS p_key,
        |    sum(CAST(round(l_quantity * 10000, 0) AS BIGINT)) AS sq,
        |    CAST(count(l_quantity) AS BIGINT) AS nq
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_small,
        |  CAST((sum(CAST(round(l.l_extendedprice * 10000, 0) AS BIGINT))
        |    * 2 + 7) // 14 AS DOUBLE) / 10000.0 AS avg_weekly_revenue
        |FROM lineitem l JOIN a ON l.l_partkey = a.p_key
        |WHERE CAST(round(l.l_quantity * 10000, 0) AS BIGINT) * a.nq * 5
        |  < a.sq""".stripMargin,
    "q220_yoy_growth" ->
      s"""WITH by_year AS (SELECT n.n_name,
         |    CAST(year(o.o_orderdate) AS INTEGER) AS yr,
         |    $revS AS revenue
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey
         |  GROUP BY n.n_name, year(o.o_orderdate))
         |SELECT n_name, yr, revenue,
         |  lag(revenue, 1) OVER (PARTITION BY n_name ORDER BY yr)
         |    AS prev_revenue,
         |  CASE WHEN lag(revenue, 1) OVER (PARTITION BY n_name ORDER BY yr) > 0
         |    THEN round(revenue / lag(revenue, 1)
         |      OVER (PARTITION BY n_name ORDER BY yr) - 1, 9) END
         |    AS yoy_growth
         |FROM by_year ORDER BY n_name, yr""".stripMargin)
}
