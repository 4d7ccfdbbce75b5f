package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave26Queries.scala holds round-10 WAVE-29 queries
  * q212–q214 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Classic relational BI over the TPC-H-ish tables — the join-heavy
  * shapes a warehouse user expects to just work, each with the
  * broadcast/partial-agg plan a 100 TB fact table needs: shipping
  * priority (TPC-H Q3's shape), per-brand supplier concentration, and
  * market-segment seasonality. All DuckDB-oracle-checked. */
object Wave26Queries extends QuerySet {

  private val D = "decimal(28,12)"
  private val cutoff = "1998-06-01"

  /** Shipping priority (TPC-H Q3's shape): unshipped-revenue top-10 for
    * one market segment — dimension side (filtered customers) broadcast
    * so the orders/lineitem scans never shuffle for it; the only wide
    * exchange is the orderkey equi-join of two date-pruned fact scans;
    * revenue sums are decimal-exact; top-10 is TakeOrderedAndProject
    * (per-partition heaps), never a full sort. */
  private val q212: Q = (s, d) => {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .where($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val ord = Tables.orders(s, d)
      .where($"o_orderdate" < lit(cutoff).cast("timestamp"))
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    Tables.lineitem(s, d)
      .where($"l_shipdate" > lit(cutoff).cast("timestamp"))
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount"), 9)
        .cast(D)).cast("double").as("rev"))
      .select($"l_orderkey", round($"rev", 9).as("revenue"),
        $"o_orderdate".cast("date").as("o_orderdate"), $"o_orderpriority")
      .orderBy($"revenue".desc, $"o_orderdate", $"l_orderkey")
      .limit(10)
  }

  /** Per-brand supplier concentration: the top supplier's shipped-
    * quantity share of each brand (plus brand totals) — the
    * supply-chain-risk table. Facts collapse to a (brand, supplier)
    * frame FIRST; the rank window and the share run over that grouped
    * frame, and both dimension joins are broadcasts. */
  private val q213: Q = (s, d) => {
    import s.implicits._
    val vol = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"l_suppkey")
      .agg(sum(round($"l_quantity", 9).cast(D)).cast("double").as("qty"))
    val w = Window.partitionBy($"p_brand")
    val r = Window.partitionBy($"p_brand")
      .orderBy($"qty".desc, $"l_suppkey")
    vol.withColumn("brand_qty", sum($"qty".cast(D)).over(w).cast("double"))
      .withColumn("rn", row_number().over(r))
      .where($"rn" === 1)
      .join(broadcast(Tables.supplier(s, d)
        .select($"s_suppkey", $"s_name")), $"l_suppkey" === $"s_suppkey")
      .select($"p_brand", $"s_name".as("top_supplier"),
        round($"qty", 9).as("top_qty"),
        round($"brand_qty", 9).as("brand_qty"),
        round($"qty" / $"brand_qty", 9).as("top_share"))
      .orderBy($"p_brand")
  }

  /** Market-segment seasonality: per month × segment, order counts and
    * the segment's share of that month — the demand-mix drift chart.
    * One broadcast dimension join, one rollup; the share window runs
    * over the months × segments aggregate only. */
  private val q214: Q = (s, d) => {
    import s.implicits._
    val m = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
      .groupBy(date_trunc("month", $"o_orderdate").cast("date").as("month"),
        $"c_mktsegment")
      .agg(count(lit(1)).cast("long").as("n_orders"))
    m.withColumn("month_share",
        round($"n_orders".cast("double") /
          sum($"n_orders").over(Window.partitionBy($"month")).cast("double"), 9))
      .orderBy($"month", $"c_mktsegment")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q212_ship_priority" -> q212,
    "q213_supplier_share" -> q213,
    "q214_segment_seasonality" -> q214)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q212_ship_priority" ->
      s"""SELECT l.l_orderkey,
         |  round(CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount), 9)
         |    AS DECIMAL(28,12))) AS DOUBLE), 9) AS revenue,
         |  CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_orderpriority
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |WHERE c.c_mktsegment = 'BUILDING'
         |  AND o.o_orderdate < TIMESTAMP '$cutoff 00:00:00'
         |  AND l.l_shipdate > TIMESTAMP '$cutoff 00:00:00'
         |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
         |ORDER BY revenue DESC, o_orderdate, l_orderkey
         |LIMIT 10""".stripMargin,
    "q213_supplier_share" ->
      """WITH vol AS (SELECT p.p_brand, l.l_suppkey,
        |    CAST(sum(CAST(round(l.l_quantity, 9) AS DECIMAL(28,12)))
        |      AS DOUBLE) AS qty
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY p.p_brand, l.l_suppkey),
        |r AS (SELECT p_brand, l_suppkey, qty,
        |    CAST(sum(CAST(qty AS DECIMAL(28,12))) OVER (PARTITION BY p_brand)
        |      AS DOUBLE) AS brand_qty,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY qty DESC, l_suppkey) AS rn
        |  FROM vol)
        |SELECT r.p_brand, s.s_name AS top_supplier,
        |  round(r.qty, 9) AS top_qty,
        |  round(r.brand_qty, 9) AS brand_qty,
        |  round(r.qty / r.brand_qty, 9) AS top_share
        |FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.rn = 1 ORDER BY r.p_brand""".stripMargin,
    "q214_segment_seasonality" ->
      """WITH m AS (SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE)
        |    AS month, c.c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2)
        |SELECT month, c_mktsegment, n_orders,
        |  round(CAST(n_orders AS DOUBLE) /
        |    CAST(sum(n_orders) OVER (PARTITION BY month) AS DOUBLE), 9)
        |    AS month_share
        |FROM m ORDER BY month, c_mktsegment""".stripMargin)
}
