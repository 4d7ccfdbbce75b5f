package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Exact

/** FILE→WAVE MAP: Wave30Queries.scala holds round-11 WAVE-33 queries
  * q230–q236 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Warehouse shapes round 5 — the remaining classic TPC-H query
  * families re-expressed scale-first (Q11 important stock, Q15 top
  * supplier, Q18 large orders, Q22 idle customers, Q16 supplier
  * diversity) plus a rolling-window revenue trend and a deterministic
  * stratified-sampling audit for the curation family. All
  * DuckDB-oracle-checked. */
object Wave30Queries extends QuerySet {

  /** Top-5 parts per supplier nation by shipped revenue (TPC-H Q11's
    * "important stock" question, rank-based so the cut is scale-stable —
    * a fixed share threshold either admits everything on a small corpus
    * or nothing on a large one). Facts collapse to the (nation, part)
    * aggregate FIRST; the rank and share windows run over that
    * dimension-bounded frame, partitioned by nation — never a global
    * sort. Supplier/nation ride broadcasts. */
  private val q230: Q = (s, d) => {
    import s.implicits._
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select($"n_nationkey", $"n_name")), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name")
    // round-15 guarded fan-out: the broadcast-join probe + decimal
    // partial agg otherwise run inside the single-row-group scan stage
    val byPart = graft.ops.FanOut.perRowCompute(
        Tables.lineitem(s, d)
          .select($"l_suppkey", $"l_partkey",
            ($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev")),
        "l_partkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"n_name", $"l_partkey")
      .agg(sum(round($"rev" * 10000, 0).cast("long")).as("__v"))
    val w = Window.partitionBy($"n_name")
    byPart
      .withColumn("rnk", row_number().over(
        w.orderBy($"__v".desc, $"l_partkey")))
      .withColumn("share", round($"__v" / sum($"__v").over(w), 9))
      .where($"rnk" <= 5)
      .select($"n_name", $"rnk", $"l_partkey".as("p_partkey"),
        round($"__v" / 10000.0, 4).as("value"), $"share")
      .orderBy($"n_name", $"rnk")
  }

  /** Top supplier by revenue for one quarter (TPC-H Q15's shape): the
    * per-supplier revenue aggregate joined against its own 1-row max —
    * a BROADCAST HASH join on the revenue value (the decorrelated
    * `revenue = (SELECT max ...)` form), never a global sort. Ties
    * would all surface (Q15 semantics). */
  private val q231: Q = (s, d) => {
    import s.implicits._
    val rev = Tables.lineitem(s, d)
      .where($"l_shipdate" >= "1997-01-01" && $"l_shipdate" < "1997-04-01")
      .groupBy($"l_suppkey")
      .agg(Exact.dsumScaled($"l_extendedprice" * (lit(1) - $"l_discount"))
        .as("revenue"))
    val mx = rev.agg(max($"revenue").as("max_rev"))
    rev.join(broadcast(mx), $"revenue" === $"max_rev")
      .join(broadcast(Tables.supplier(s, d)
        .select($"s_suppkey", $"s_name")), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"revenue")
      .orderBy($"s_suppkey")
  }

  /** Large-quantity orders (TPC-H Q18's shape): orders whose total
    * quantity clears 300, with the buying customer — top-20 by
    * quantity. The HAVING is a post-aggregate filter on the orderkey
    * frame (one exchange); orders+customer ride broadcasts onto the
    * surviving handful; the head is TakeOrderedAndProject. */
  private val q232: Q = (s, d) => {
    import s.implicits._
    val big = Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg((sum(round($"l_quantity" * 100, 0).cast("long")) / 100.0)
        .as("total_qty"))
      .where($"total_qty" > 300.0)
    big
      .join(Tables.orders(s, d)
        .select($"o_orderkey", $"o_custkey", $"o_orderdate".cast("date")
          .as("o_date")), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(s, d)
        .select($"c_custkey", $"c_name")), $"o_custkey" === $"c_custkey")
      .select($"l_orderkey".as("o_orderkey"), $"c_custkey", $"c_name",
        $"o_date", $"total_qty")
      .orderBy($"total_qty".desc, $"o_orderkey")
      .limit(20)
  }

  /** Idle high-balance customers per nation (TPC-H Q22's shape):
    * customers with above-average positive balance and NO RECENT orders
    * (none since 2000-01-01 — every customer in this corpus has SOME
    * order, so recency is the idleness that exists to detect) — the
    * "dormant value" report. The global average is a 1-row broadcast
    * (audited BNLJ); the NOT-EXISTS is a LEFT ANTI join on the custkey
    * against the date-pruned orders scan — one exchange, the
    * decorrelation every warehouse plans for NOT EXISTS. */
  private val q233: Q = (s, d) => {
    import s.implicits._
    val avgBal = Tables.customer(s, d).where($"c_acctbal" > 0)
      .agg((sum(round($"c_acctbal" * 100, 0).cast("long"))
        / (count(lit(1)) * 100.0)).as("avg_bal"))
    Tables.customer(s, d)
      .crossJoin(broadcast(avgBal))
      .where($"c_acctbal" > $"avg_bal")
      .join(Tables.orders(s, d).where($"o_orderdate" >= "2000-01-01")
        .select($"o_custkey"), $"c_custkey" === $"o_custkey", "left_anti")
      .join(broadcast(Tables.nation(s, d)
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).cast("long").as("n_idle"),
        Exact.dsumScaled($"c_acctbal").as("idle_balance"))
      .orderBy($"n_name")
  }

  /** 7-day rolling revenue per European nation for 1997: the BI trend
    * line. Facts collapse to the (nation, day) aggregate FIRST (the one
    * fact exchange); the moving window runs over that dimension×365
    * frame, partitioned by nation — rolling sums never touch per-row
    * data. Integer-scaled daily revenue keeps the window sums exact;
    * one division at the end. */
  private val q234: Q = (s, d) => {
    import s.implicits._
    val euro = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).where($"r_name" === "EUROPE")),
            $"n_regionkey" === $"r_regionkey")
          .select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
    val ord = Tables.orders(s, d)
      .where($"o_orderdate" >= "1997-01-01" && $"o_orderdate" < "1998-01-01")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate".cast("date").as("day"))
      .join(broadcast(euro), $"o_custkey" === $"c_custkey")
    val daily = Tables.lineitem(s, d)
      .select($"l_orderkey",
        ($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name", $"day")
      .agg(sum(round($"rev" * 10000, 0).cast("long")).as("__v"))
    val w = Window.partitionBy($"n_name").orderBy($"day").rowsBetween(-6, 0)
    daily
      .select($"n_name", $"day",
        round($"__v" / 10000.0, 4).as("revenue"),
        round((sum($"__v").over(w) / (count(lit(1)).over(w) * 10000.0)), 6)
          .as("ma7"))
      .orderBy($"n_name", $"day")
  }

  /** Supplier diversity per brand × size class (TPC-H Q16's question):
    * how many distinct suppliers shipped each (brand, size-bucket) —
    * single-sourced cells are procurement risk. Part attributes ride a
    * broadcast; the distinct-count is one (brand, bucket, supplier)
    * exchange collapsed to the bounded brand×bucket grid. */
  private val q235: Q = (s, d) => {
    import s.implicits._
    val parts = Tables.part(s, d)
      .select($"p_partkey", $"p_brand",
        (floor($"p_size" / 10) * 10).cast("int").as("size_bucket"))
    Tables.lineitem(s, d)
      .select($"l_partkey", $"l_suppkey")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"size_bucket")
      .agg(countDistinct($"l_suppkey").cast("long").as("n_suppliers"),
        countDistinct($"l_partkey").cast("long").as("n_parts"))
      .orderBy($"p_brand", $"size_bucket")
  }

  /** Deterministic stratified-sampling audit: per language, a Knuth
    * multiplicative-hash sample (engine-portable integer arithmetic —
    * no seeded xxhash, no RNG) at per-stratum permille rates, with the
    * realized rate and a population-vs-sample mean-length comparison —
    * the representativeness check a curation team runs on every
    * sampling stage before shipping a subset. Map-side assignment, one
    * stratum-cardinality rollup. */
  private val q236: Q = (s, d) => {
    import s.implicits._
    val rate = when($"lang" === "en", 100L).otherwise(300L) // permille
    // Knuth multiplicative hash mod 2^32 in OVERFLOW-SAFE two-step
    // modular arithmetic: the naive doc_id * 2654435761 wraps silently
    // in Spark at doc_id ≳ 3.47e9 while DuckDB raises on BIGINT overflow
    // — the two engines would diverge exactly at the corpus sizes this
    // sampling audit targets. Split the low 32 bits of doc_id into
    // 16-bit halves so every intermediate stays < 2^49: h ≡
    // ((hi·K mod 2^32)·2^16 + lo·K) mod 2^32 = (doc_id·K) mod 2^32.
    // floor(x / 65536) is exact (x < 2^32 is an exact double; dividing
    // by a power of two is exact in IEEE). Identical arithmetic in the
    // oracle; for doc_id < 2^32 the value equals the naive formula, so
    // fixture results are unchanged.
    val x = pmod($"doc_id".cast("long"), lit(4294967296L))
    val hiT = pmod(floor(x / 65536).cast("long") * 2654435761L, lit(4294967296L))
    val h = pmod(hiT * 65536L + pmod(x, lit(65536L)) * 2654435761L,
      lit(4294967296L))
    val sampled = (pmod(h, lit(1000L)) < rate).as("in_sample")
    Tables.documents(s, d)
      .select($"lang", $"n_chars", sampled)
      .groupBy($"lang")
      .agg(count(lit(1)).cast("long").as("n_pop"),
        sum($"in_sample".cast("long")).cast("long").as("n_sample"),
        round(sum($"in_sample".cast("long")) / count(lit(1)).cast("double"), 9)
          .as("realized_rate"),
        round(sum($"n_chars") / count(lit(1)).cast("double"), 9)
          .as("mean_chars_pop"),
        round(sum(when($"in_sample", $"n_chars").otherwise(0L))
          / sum($"in_sample".cast("long")).cast("double"), 9)
          .as("mean_chars_sample"))
      .orderBy($"lang")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q230_important_parts" -> q230,
    "q231_top_supplier" -> q231,
    "q232_large_orders" -> q232,
    "q233_idle_customers" -> q233,
    "q234_rolling_revenue" -> q234,
    "q235_supplier_diversity" -> q235,
    "q236_sample_audit" -> q236)

  // ---- oracle SQL -------------------------------------------------------

  private val revScaled =
    "sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT))"

  val oracle: Seq[(String, String)] = Seq(
    "q230_important_parts" ->
      s"""WITH v AS (SELECT n.n_name, l.l_partkey,
         |    $revScaled AS v
         |  FROM lineitem l
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  GROUP BY 1, 2),
         |r AS (SELECT n_name, l_partkey, v,
         |    CAST(row_number() OVER (PARTITION BY n_name
         |      ORDER BY v DESC, l_partkey) AS INTEGER) AS rnk,
         |    round(v / sum(v) OVER (PARTITION BY n_name), 9) AS share
         |  FROM v)
         |SELECT n_name, rnk, l_partkey AS p_partkey,
         |  round(v / 10000.0, 4) AS value, share
         |FROM r WHERE rnk <= 5
         |ORDER BY n_name, rnk""".stripMargin,
    "q231_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey,
         |    $revScaled / 10000.0 AS revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY 1)
         |SELECT s.s_suppkey, s.s_name, rev.revenue
         |FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
         |WHERE rev.revenue = (SELECT max(revenue) FROM rev)
         |ORDER BY s.s_suppkey""".stripMargin,
    "q232_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |    sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0
        |      AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 > 300.0)
        |SELECT big.l_orderkey AS o_orderkey, c.c_custkey, c.c_name,
        |  CAST(o.o_orderdate AS DATE) AS o_date, big.total_qty
        |FROM big
        |JOIN orders o ON big.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY big.total_qty DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "q233_idle_customers" ->
      """WITH a AS (SELECT sum(CAST(round(c_acctbal * 100, 0) AS BIGINT))
        |    / (count(*) * 100.0) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT n.n_name,
        |  CAST(count(*) AS BIGINT) AS n_idle,
        |  sum(CAST(round(c.c_acctbal * 10000, 0) AS BIGINT)) / 10000.0
        |    AS idle_balance
        |FROM customer c CROSS JOIN a
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal > a.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,
    "q234_rolling_revenue" ->
      s"""WITH daily AS (SELECT n.n_name,
         |    CAST(o.o_orderdate AS DATE) AS day,
         |    $revScaled AS v
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |  WHERE r.r_name = 'EUROPE'
         |    AND o.o_orderdate >= TIMESTAMP '1997-01-01'
         |    AND o.o_orderdate < TIMESTAMP '1998-01-01'
         |  GROUP BY 1, 2)
         |SELECT n_name, day,
         |  round(v / 10000.0, 4) AS revenue,
         |  round(sum(v) OVER w / (count(*) OVER w * 10000.0), 6) AS ma7
         |FROM daily
         |WINDOW w AS (PARTITION BY n_name ORDER BY day
         |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY n_name, day""".stripMargin,
    "q235_supplier_diversity" ->
      """SELECT p.p_brand,
        |  CAST(floor(p.p_size / 10) * 10 AS INTEGER) AS size_bucket,
        |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers,
        |  CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_parts
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1, 2
        |ORDER BY p_brand, size_bucket""".stripMargin,
    // overflow-safe two-step Knuth hash, identical to the Spark side
    // (see q236's Scaladoc): every intermediate < 2^49, so neither
    // engine wraps or raises at any doc_id
    "q236_sample_audit" ->
      """WITH x AS (SELECT lang, n_chars,
        |    doc_id % 4294967296 AS x FROM documents),
        |s AS (SELECT lang, n_chars,
        |    ((x // 65536 * 2654435761 % 4294967296) * 65536
        |      + x % 65536 * 2654435761) % 4294967296 % 1000 <
        |      (CASE WHEN lang = 'en' THEN 100 ELSE 300 END) AS in_sample
        |  FROM x)
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_pop,
        |  CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sample,
        |  round(sum(CASE WHEN in_sample THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 9) AS realized_rate,
        |  round(sum(n_chars) / CAST(count(*) AS DOUBLE), 9)
        |    AS mean_chars_pop,
        |  round(sum(CASE WHEN in_sample THEN n_chars ELSE 0 END)
        |    / CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS DOUBLE), 9)
        |    AS mean_chars_sample
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin)
}
