package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Dedup

/** FILE→WAVE MAP: Wave33Queries.scala holds round-12 WAVE-36 queries
  * q245–q252 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Four more TPC-H analogs over the fixture's columns (Q6 forecast
  * revenue, Q8 market share, Q13 customer distribution, Q19 disjunctive
  * promo revenue), shipping-latency-by-priority (the Q12 shape without
  * the absent shipmode column), directed shingle CONTAINMENT pairs (the
  * doc-swallowed-by-doc dedup signal Jaccard misses), an oracle-checked
  * consumer of the media store's frame table, and the confusion matrix
  * over the persisted centroid-score store. All eight are
  * DuckDB-oracle-checked. */
object Wave33Queries extends QuerySet {

  /** TPC-H Q6 analog: forecast-revenue-change — the discount revenue of
    * 1997 shipments in the 0.05–0.07 band below quantity 24. One
    * scan-with-pushed-filters, one scalar aggregate; revenue rides the
    * scaled-long exact sum (4-dp product of two 2-dp columns). */
  private val q245: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .where(year($"l_shipdate") === 1997 &&
        $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
      .agg(count(lit(1)).cast("long").as("n_items"),
        round(sum(round($"l_extendedprice" * $"l_discount" * 10000, 0)
          .cast("long")) / 10000.0, 4).as("revenue"))
  }

  /** TPC-H Q8 analog: NATION_3's market share of the ASIA PROMO-part
    * market by order year. The two fact tables meet on the one
    * unavoidable orderkey exchange; parts (filtered), customers+nation+
    * region, and the supplier→nation side all broadcast. Shares are
    * exact scaled-long revenue ratios, one double division at the end. */
  private val q246: Q = (s, d) => {
    import s.implicits._
    val asiaCust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .where($"r_name" === "ASIA")
      .select($"c_custkey")
    val suppNation = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val promo = Tables.part(s, d).where($"p_type" === "PROMO")
      .select($"p_partkey")
    val v = round($"l_extendedprice" * (lit(1) - $"l_discount") * 10000, 0)
      .cast("long")
    Tables.lineitem(s, d)
      .join(broadcast(promo), $"l_partkey" === $"p_partkey")
      .join(Tables.orders(s, d)
        .select($"o_orderkey", $"o_custkey", year($"o_orderdate").as("o_year")),
        $"l_orderkey" === $"o_orderkey")
      .join(asiaCust, $"o_custkey" === $"c_custkey", "left_semi")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .groupBy($"o_year")
      .agg(sum(v).as("__tot"),
        sum(when($"supp_nation" === "NATION_3", v).otherwise(0L)).as("__n3"))
      .select($"o_year",
        round($"__tot" / 10000.0, 4).as("total_revenue"),
        round($"__n3" / 10000.0, 4).as("nation3_revenue"),
        round($"__n3" / $"__tot".cast("double"), 9).as("mkt_share"))
      .orderBy($"o_year")
  }

  /** TPC-H Q13 analog: the customer order-count distribution (how many
    * customers placed k orders, zero included — the left join keeps
    * orderless customers). Per-customer aggregate on the custkey
    * exchange, then a count-cardinality rollup. */
  private val q247: Q = (s, d) => {
    import s.implicits._
    Tables.customer(s, d).select($"c_custkey")
      .join(Tables.orders(s, d).select($"o_custkey", $"o_orderkey"),
        $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").cast("long").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).cast("long").as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** TPC-H Q19 analog: disjunctive brand/size/quantity promo revenue —
    * the classic OR-of-ANDs predicate Catalyst must push as one filter
    * (no union-of-scans). Broadcast the filtered part side; exact
    * scaled-long revenue. */
  private val q248: Q = (s, d) => {
    import s.implicits._
    val parts = Tables.part(s, d).select($"p_partkey", $"p_brand", $"p_size")
      .where(($"p_brand" === "Brand#1" && $"p_size".between(1, 15)) ||
        ($"p_brand" === "Brand#2" && $"p_size".between(10, 30)))
    Tables.lineitem(s, d)
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .where(($"p_brand" === "Brand#1" && $"l_quantity".between(1, 20)) ||
        ($"p_brand" === "Brand#2" && $"l_quantity".between(10, 40)))
      .groupBy($"p_brand")
      .agg(count(lit(1)).cast("long").as("n_items"),
        round(sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 10000, 0)
          .cast("long")) / 10000.0, 4).as("revenue"))
      .orderBy($"p_brand")
  }

  /** Media-store frame-table inventory: per video, the stored frame
    * count and (constant) frame geometry — the ORACLE-checked consumer
    * of the store's everyN=1 frame table (q85 pins the same table's
    * hashes against goldens; this row-checks its cardinality/metadata
    * against the generation formulas in SQL). A store that dropped or
    * duplicated frames, or resized them, reds this row. */
  private val q249: Q = (s, d) => {
    import s.implicits._
    Stores.media(s, d).frameFeatures
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_frames"),
        min($"width").as("width"), min($"height").as("height"),
        min($"channels").as("channels"))
      .orderBy($"doc_id")
  }

  /** Directed shingle-containment pairs: containment(A ⊂ B) ≥ 0.9 over
    * distinct 3-gram sets — the doc-swallowed-by-doc duplication signal
    * symmetric Jaccard MISSES (so NOT a filter over the Jaccard pair
    * store). Reads the PERSISTED containment store
    * ([[Stores.docContainment]]): like the pair store, the table is a
    * pure per-corpus derivation — routed by corpus shape (asymmetric
    * PPJoin prefix on sparse vocabularies, direct posting join on dense-
    * but-affordable ones, df-capped past the router budget; see
    * [[graft.ops.Dedup.containmentPairsAuto]]) — derived once per corpus
    * fingerprint and read as a parquet scan ever after. */
  private val q250: Q = (s, d) => {
    import s.implicits._
    Stores.docContainment(s, d)
      .orderBy($"inner_id", $"outer_id")
  }

  /** Shipping latency by order priority — the TPC-H Q12 question asked
    * of this fixture's columns (no shipmode): per priority, how many
    * orders had ANY lineitem ship more than 60 days after the order
    * date. One orderkey exchange collapses lineitems to a per-order max
    * latency; the rollup is priority-cardinality. */
  private val q251: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderpriority", $"o_orderdate")
      .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_shipdate"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderpriority")
      .agg(max(datediff($"l_shipdate".cast("date"), $"o_orderdate".cast("date")))
        .as("__lat"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(when($"__lat" > 60, 1L).otherwise(0L)).cast("long").as("n_late"),
        round(sum(when($"__lat" > 60, 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 9).as("late_frac"))
      .orderBy($"o_orderpriority")
  }

  /** Confusion matrix of the persisted centroid-score store: (truth,
    * predicted, count) — the error-structure table behind q132's
    * per-class P/R/F1 (which cells confuse which). A parquet scan of
    * the store plus a |labels|²-bounded rollup; the oracle replays the
    * full decimal-exact scoring arithmetic. */
  private val q252: Q = (s, d) => {
    import s.implicits._
    Stores.centroidPredictions(s, d)
      .groupBy($"label", $"predicted")
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy($"label", $"predicted")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q245_tpch_q6_forecast" -> q245,
    "q246_tpch_q8_share" -> q246,
    "q247_tpch_q13_custdist" -> q247,
    "q248_tpch_q19_promo" -> q248,
    "q249_frame_inventory" -> q249,
    "q250_containment_pairs" -> q250,
    "q251_priority_latency" -> q251,
    "q252_confusion_matrix" -> q252)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q245_tpch_q6_forecast" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  round(sum(CAST(round(l_extendedprice * l_discount * 10000, 0)
        |    AS BIGINT)) / 10000.0, 4) AS revenue
        |FROM lineitem
        |WHERE year(l_shipdate) = 1997
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q246_tpch_q8_share" ->
      """WITH ac AS (SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |v AS (SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year, sn.supp_nation,
        |    CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
        |      AS BIGINT) AS v
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN sn ON l.l_suppkey = sn.s_suppkey
        |  WHERE o.o_custkey IN (SELECT c_custkey FROM ac)),
        |g AS (SELECT o_year, sum(v) AS tot,
        |    sum(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE 0 END) AS n3
        |  FROM v GROUP BY o_year)
        |SELECT o_year,
        |  round(tot / 10000.0, 4) AS total_revenue,
        |  round(n3 / 10000.0, 4) AS nation3_revenue,
        |  round(n3 / CAST(tot AS DOUBLE), 9) AS mkt_share
        |FROM g ORDER BY o_year""".stripMargin,
    "q247_tpch_q13_custdist" ->
      """WITH pc AS (SELECT c.c_custkey,
        |    CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM pc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q248_tpch_q19_promo" ->
      """SELECT p.p_brand,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
        |    AS BIGINT)) / 10000.0, 4) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
        |       AND l.l_quantity BETWEEN 10 AND 40)
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin,
    // the store's frame table replayed from the generation formulas
    // (videos are doc_id % 3 = 2: 1 + doc_id % 7 frames of 16×12 PNG,
    // 3 bands — the q67/q69 oracle's arithmetic)
    "q249_frame_inventory" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 7 AS BIGINT) AS n_frames,
        |  CAST(16 AS INTEGER) AS width,
        |  CAST(12 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS channels
        |FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id""".stripMargin,
    "q250_containment_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
        |        CAST(count(*) AS BIGINT) AS inter
        |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |      GROUP BY 1, 2)
        |SELECT inner_id, outer_id,
        |  round(inter / CAST(sz.n AS DOUBLE), 9) AS containment
        |FROM p JOIN sz ON p.inner_id = sz.doc_id
        |WHERE round(inter / CAST(sz.n AS DOUBLE), 9) >= 0.9
        |ORDER BY inner_id, outer_id""".stripMargin,
    "q251_priority_latency" ->
      """WITH po AS (SELECT o.o_orderkey, o.o_orderpriority,
        |    max(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)) AS lat
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2)
        |SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CASE WHEN lat > 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  round(sum(CASE WHEN lat > 60 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 9) AS late_frac
        |FROM po GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the q132 scoring CTEs (identical decimal-exact arithmetic) down to
    // the per-vector prediction, then the |labels|² confusion rollup
    "q252_confusion_matrix" ->
      """WITH e AS (SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    CAST(generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1
        |      AS INTEGER) AS dim
        |  FROM embeddings),
        |cent AS (SELECT label AS clabel, dim,
        |    round(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) / count(v), 6) AS c
        |  FROM e GROUP BY 1, 2),
        |cn AS (SELECT clabel,
        |    CAST(sum(CAST(round(c*c, 9) AS DECIMAL(28,12))) AS DOUBLE) AS c2
        |  FROM cent GROUP BY 1),
        |vn AS (SELECT vec_id,
        |    CAST(sum(CAST(round(v*v, 9) AS DECIMAL(28,12))) AS DOUBLE) AS v2
        |  FROM e GROUP BY 1),
        |dots AS (SELECT vec_id, clabel,
        |    CAST(sum(CAST(round(e.v * cent.c, 9) AS DECIMAL(28,12))) AS DOUBLE) AS dot
        |  FROM e JOIN cent USING (dim) GROUP BY 1, 2),
        |sc AS (SELECT vec_id, clabel, dot / sqrt(v2 * c2) AS cos
        |  FROM dots JOIN vn USING (vec_id) JOIN cn USING (clabel)),
        |pr AS (SELECT vec_id, clabel, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, clabel) AS rn FROM sc),
        |pred AS (SELECT em.vec_id, em.label, p.clabel AS predicted
        |  FROM embeddings em JOIN pr p ON em.vec_id = p.vec_id AND p.rn = 1)
        |SELECT label, predicted, CAST(count(*) AS BIGINT) AS n
        |FROM pred GROUP BY label, predicted
        |ORDER BY label, predicted""".stripMargin)
}
