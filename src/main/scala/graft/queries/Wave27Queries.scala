package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave27Queries.scala holds round-10 WAVE-30 queries
  * q215–q217 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Warehouse shapes round 2: exact grouped percentiles via the
  * small-domain histogram trick (fulfillment latency SLA), the
  * nation×nation trade-flow matrix (TPC-H Q7's shape), and CUBE
  * multi-dimensional rollups with grouping ids. All
  * DuckDB-oracle-checked. */
object Wave27Queries extends QuerySet {

  private val D = "decimal(28,12)"

  /** Fulfillment-latency SLA per order priority: EXACT p50/p95 (nearest-
    * rank), mean, and max of ship-minus-order days. Exactness at scale
    * comes from the histogram trick: the day lag has a SMALL INTEGER
    * domain, so facts collapse to a (priority, lag_days) count frame
    * and the percentiles fall out of integer cumulative sums — no
    * per-group sort of fact rows, no approximate sketch, bit-identical
    * on any engine. Nearest-rank: value at cumulative count ≥
    * ceil(q·n), all in integer arithmetic. */
  private val q215: Q = (s, d) => {
    import s.implicits._
    val hist = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_orderdate",
        $"o_orderpriority"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority",
        datediff($"l_shipdate", $"o_orderdate").as("lag_days"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val wCum = Window.partitionBy($"o_orderpriority").orderBy($"lag_days")
    val wAll = Window.partitionBy($"o_orderpriority")
    hist
      .withColumn("cum", sum($"cnt").over(wCum))
      .withColumn("n", sum($"cnt").over(wAll))
      .groupBy($"o_orderpriority")
      .agg(max($"n").cast("long").as("n_items"),
        // ceil(q·n) in integer arithmetic: (q·100·n + 99) div 100 —
        // Spark's Column `/` on longs is a DOUBLE divide, so floor()
        // restores the integer division DuckDB's `//` computes (exact:
        // 50n+99 and 95n+99 are never multiples of 100, so the double
        // quotient is never an exact integer and truncation is safe)
        min(when($"cum" >= floor(($"n" * 50 + 99) / 100), $"lag_days"))
          .cast("int").as("p50_days"),
        min(when($"cum" >= floor(($"n" * 95 + 99) / 100), $"lag_days"))
          .cast("int").as("p95_days"),
        max($"lag_days").cast("int").as("max_days"),
        round(sum(($"lag_days" * $"cnt").cast(D)).cast("double") /
          max($"n").cast("double"), 9).as("mean_days"))
      .orderBy($"o_orderpriority")
  }

  /** Nation×nation trade flow (TPC-H Q7's shape): revenue between every
    * customer nation and supplier nation — the only wide exchange is
    * the orderkey fact-fact join; customer, supplier, and both nation
    * joins are broadcasts, so the 100 TB lineitem scan shuffles once. */
  private val q216: Q = (s, d) => {
    import s.implicits._
    val nat = Tables.nation(s, d).select($"n_nationkey", $"n_name")
    val cust = Tables.customer(s, d).select($"c_custkey", $"c_nationkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    val supp = Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val ord = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"cust_nation")
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_suppkey",
        ($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"cust_nation", $"supp_nation")
      .agg(count(lit(1)).cast("long").as("n_items"),
        graft.ops.Exact.dsumScaled($"rev").as("revenue"))
      .orderBy($"cust_nation", $"supp_nation")
  }

  /** CUBE rollup of revenue over (discount percent, return flag) with
    * grouping ids — every marginal and the grand total in ONE pass
    * (partial-aggregated per grouping set, never one scan per set).
    * NULL dimension values from the cube are coalesced to sentinels
    * (-1 / 'ALL') so the output has a total ORDER BY that both engines
    * sort identically. */
  private val q217: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .select(round($"l_discount" * 100).cast("int").as("discount_pct"),
        $"l_returnflag",
        ($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
      .cube($"discount_pct", $"l_returnflag")
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).cast("long").as("n_items"),
        graft.ops.Exact.dsumScaled($"rev").as("revenue"))
      .select(coalesce($"discount_pct", lit(-1)).as("discount_pct"),
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        $"gid", $"n_items", $"revenue")
      .orderBy($"gid", $"discount_pct", $"returnflag")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q215_fulfillment_latency" -> q215,
    "q216_trade_flow" -> q216,
    "q217_discount_cube" -> q217)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q215_fulfillment_latency" ->
      """WITH h AS (SELECT o.o_orderpriority,
        |    CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
        |      AS INTEGER) AS lag_days,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |c AS (SELECT o_orderpriority, lag_days, cnt,
        |    sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY lag_days)
        |      AS cum,
        |    sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM h)
        |SELECT o_orderpriority,
        |  CAST(max(n) AS BIGINT) AS n_items,
        |  CAST(min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN lag_days END)
        |    AS INTEGER) AS p50_days,
        |  CAST(min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN lag_days END)
        |    AS INTEGER) AS p95_days,
        |  CAST(max(lag_days) AS INTEGER) AS max_days,
        |  round(CAST(sum(CAST(lag_days * cnt AS DECIMAL(28,12))) AS DOUBLE) /
        |    CAST(max(n) AS DOUBLE), 9) AS mean_days
        |FROM c GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q216_trade_flow" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
        |    AS BIGINT)) / 10000.0 AS revenue
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |GROUP BY cn.n_name, sn.n_name
        |ORDER BY cust_nation, supp_nation""".stripMargin,
    "q217_discount_cube" ->
      """WITH b AS (SELECT
        |    CAST(round(l_discount * 100) AS INTEGER) AS discount_pct,
        |    l_returnflag,
        |    l_extendedprice * (1 - l_discount) AS rev
        |  FROM lineitem)
        |SELECT coalesce(discount_pct, -1) AS discount_pct,
        |  coalesce(l_returnflag, 'ALL') AS returnflag,
        |  CAST(GROUPING(discount_pct) * 2 + GROUPING(l_returnflag)
        |    AS INTEGER) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  sum(CAST(round(rev * 10000, 0) AS BIGINT)) / 10000.0
        |    AS revenue
        |FROM b GROUP BY CUBE(discount_pct, l_returnflag)
        |ORDER BY gid, discount_pct, returnflag""".stripMargin)
}
