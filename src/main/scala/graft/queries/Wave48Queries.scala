package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave48Queries.scala holds round-12 WAVE-51 queries
  * q317–q319 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Query-planner and physical-layout introspection — the audits that
  * explain why a plan was fast or slow, run as queries over the data
  * the planner sees: the CBO histogram estimation-error audit (how
  * wrong does the textbook uniform-bucket join estimate get on THIS
  * key distribution), the physical-sortedness audit (the WHY behind
  * q295's zone-map prune rates), and the join fan-out audit (the
  * pre-join skew read that says whether q293's salting is needed).
  * All three are DuckDB-oracle-checked. */
object Wave48Queries extends QuerySet {

  /** CBO estimation-error audit: the textbook equi-join cardinality
    * estimate — per key-range bucket, |L|·|R| / max(d_L, d_R) under
    * the uniform-within-bucket assumption — against the exact join
    * count, over 1024-key orderkey buckets. The relative error is how
    * much a histogram-CBO would mis-size THIS join's shuffle; the max
    * bucket error locates where the uniformity assumption breaks.
    * Per-bucket estimates stay in exact integer arithmetic (floor
    * division of long products); both sides aggregate before any
    * join — the only row-level join is the actual-count probe, which
    * the real workload pays anyway. */
  private val q317: Q = (s, d) => {
    import s.implicits._
    val bkt = (c: Column) => floor(c / 1024).cast("long")
    val l = Tables.lineitem(s, d)
      .groupBy(bkt($"l_orderkey").as("b"))
      .agg(count(lit(1)).cast("long").as("nl"),
        countDistinct($"l_orderkey").cast("long").as("dl"))
    val o = Tables.orders(s, d)
      .groupBy(bkt($"o_orderkey").as("b"))
      .agg(count(lit(1)).cast("long").as("no"),
        countDistinct($"o_orderkey").cast("long").as("dx"))
    val actual = Tables.lineitem(s, d).select($"l_orderkey")
      .join(Tables.orders(s, d).select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy(bkt($"l_orderkey").as("b"))
      .agg(count(lit(1)).cast("long").as("act"))
    l.join(o, Seq("b")).join(actual, Seq("b"), "left")
      .select($"b",
        floor($"nl" * $"no" / greatest($"dl", $"dx")).cast("long").as("est"),
        coalesce($"act", lit(0L)).as("act"))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        sum($"est").cast("long").as("est_rows"),
        sum($"act").cast("long").as("actual_rows"),
        max(abs($"est" - $"act")).as("max_bucket_abs_err"))
      .select($"n_buckets", $"est_rows", $"actual_rows",
        $"max_bucket_abs_err",
        round(abs($"est_rows" - $"actual_rows") /
          $"actual_rows".cast("double"), 6).as("rel_err"))
  }

  /** Physical-sortedness audit: the share of adjacent event pairs (in
    * event_id ingest order) whose timestamps are in order, and the
    * mean monotone-run length — the WHY behind q295's zone-map prune
    * rates (long runs ⇒ tight per-block min/max ⇒ pruning pays; short
    * runs ⇒ re-sort before relying on stats). Adjacency is evaluated
    * WITHIN 256-id blocks (q295's row-group analog) so every ordered
    * window is partitioned and block-bounded — never a global sort of
    * events. Runs count per block (a block with p pairs and x breaks
    * has x+1 runs), so mean run length = rows / runs. */
  private val q318: Q = (s, d) => {
    import s.implicits._
    val byBlock = Window.partitionBy($"blk").orderBy($"event_id")
    val flagged = Tables.events(s, d)
      .select($"event_id", unix_micros($"ts").as("us"),
        floor($"event_id" / 256).cast("long").as("blk"))
      .withColumn("prev", lag($"us", 1).over(byBlock))
      .select($"blk", $"prev".isNotNull.as("is_pair"),
        ($"prev".isNotNull && $"us" >= $"prev").as("in_order"))
    flagged.agg(
        count(lit(1)).cast("long").as("n_events"),
        sum(when($"is_pair", 1L).otherwise(0L)).as("n_pairs"),
        sum(when($"is_pair" && !$"in_order", 1L).otherwise(0L))
          .as("n_breaks"),
        countDistinct($"blk").cast("long").as("n_blocks"))
      .select($"n_events",
        round((($"n_pairs" - $"n_breaks") / $"n_pairs".cast("double")), 6)
          .as("in_order_frac"),
        ($"n_breaks" + $"n_blocks").as("n_runs"),
        round($"n_events" / ($"n_breaks" + $"n_blocks").cast("double"), 6)
          .as("mean_run_length"))
  }

  /** Join fan-out audit: the per-key output-multiplicity distribution
    * of events⋈customer — the pre-join read that decides whether the
    * plain hash join is safe or q293's salting is needed. Both sides
    * collapse to per-key counts BEFORE pairing (the fan-out of key k
    * is n_events(k)·n_cust(k) — no row-level join is executed to
    * measure it); p50/p99/max come from the multiplicity histogram
    * (the q308 nearest-rank pattern, windows over the value frame). */
  private val q319: Q = (s, d) => {
    import s.implicits._
    val e = Tables.events(s, d).groupBy($"user_id")
      .agg(count(lit(1)).cast("long").as("ne"))
    val c = Tables.customer(s, d).groupBy($"c_custkey".as("user_id"))
      .agg(count(lit(1)).cast("long").as("nc"))
    val m = e.join(c, Seq("user_id"))
      .select($"user_id", ($"ne" * $"nc").as("m"))
    val hist = m.groupBy($"m").agg(count(lit(1)).cast("long").as("k"))
    val cum = hist
      .withColumn("cum", sum($"k").over(Window.orderBy($"m")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum($"k").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("total_out", sum($"m" * $"k").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    def qtile(p: Int): Column =
      min(when($"cum" >= floor((lit(p) * $"n" + 99) / 100).cast("long"),
        $"m")).as(s"p${p}_fanout")
    cum.groupBy($"n".as("n_keys"), $"total_out".as("out_rows"))
      .agg(qtile(50), qtile(99), max($"m").as("max_fanout"))
      .select($"n_keys", $"out_rows".cast("long").as("out_rows"),
        $"p50_fanout", $"p99_fanout", $"max_fanout")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q317_join_estimate_audit" -> q317,
    "q318_sortedness_audit" -> q318,
    "q319_join_fanout_audit" -> q319)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q317_join_estimate_audit" ->
      """WITH l AS (SELECT CAST(floor(l_orderkey / 1024) AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS nl,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS dl
        |  FROM lineitem GROUP BY 1),
        |o AS (SELECT CAST(floor(o_orderkey / 1024) AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS no,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS dx
        |  FROM orders GROUP BY 1),
        |act AS (SELECT CAST(floor(l_orderkey / 1024) AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS act
        |  FROM lineitem li JOIN orders od ON li.l_orderkey = od.o_orderkey
        |  GROUP BY 1),
        |j AS (SELECT l.b,
        |    CAST(floor(nl * no / greatest(dl, dx)) AS BIGINT) AS est,
        |    coalesce(act, 0) AS act
        |  FROM l JOIN o ON l.b = o.b LEFT JOIN act ON l.b = act.b),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
        |    CAST(sum(est) AS BIGINT) AS est_rows,
        |    CAST(sum(act) AS BIGINT) AS actual_rows,
        |    CAST(max(abs(est - act)) AS BIGINT) AS max_bucket_abs_err
        |  FROM j)
        |SELECT n_buckets, est_rows, actual_rows, max_bucket_abs_err,
        |  round(abs(est_rows - actual_rows)
        |    / CAST(actual_rows AS DOUBLE), 6) AS rel_err
        |FROM a""".stripMargin,
    "q318_sortedness_audit" ->
      """WITH f AS (SELECT
        |    CAST(floor(event_id / 256) AS BIGINT) AS blk,
        |    epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (
        |      PARTITION BY CAST(floor(event_id / 256) AS BIGINT)
        |      ORDER BY event_id) AS prev
        |  FROM events),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND us < prev
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks,
        |    CAST(count(DISTINCT blk) AS BIGINT) AS n_blocks
        |  FROM f)
        |SELECT n_events,
        |  round((n_pairs - n_breaks) / CAST(n_pairs AS DOUBLE), 6)
        |    AS in_order_frac,
        |  n_breaks + n_blocks AS n_runs,
        |  round(n_events / CAST(n_breaks + n_blocks AS DOUBLE), 6)
        |    AS mean_run_length
        |FROM a""".stripMargin,
    "q319_join_fanout_audit" ->
      """WITH e AS (SELECT user_id, CAST(count(*) AS BIGINT) AS ne
        |  FROM events GROUP BY 1),
        |c AS (SELECT c_custkey AS user_id, CAST(count(*) AS BIGINT) AS nc
        |  FROM customer GROUP BY 1),
        |m AS (SELECT e.user_id, ne * nc AS m
        |  FROM e JOIN c USING (user_id)),
        |h AS (SELECT m, CAST(count(*) AS BIGINT) AS k FROM m GROUP BY 1),
        |cm AS (SELECT m, k,
        |    sum(k) OVER (ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(k) OVER () AS n,
        |    sum(m * k) OVER () AS total_out
        |  FROM h)
        |SELECT CAST(n AS BIGINT) AS n_keys,
        |  CAST(total_out AS BIGINT) AS out_rows,
        |  min(CASE WHEN cum >= CAST(floor((50 * n + 99) / 100.0) AS BIGINT)
        |    THEN m END) AS p50_fanout,
        |  min(CASE WHEN cum >= CAST(floor((99 * n + 99) / 100.0) AS BIGINT)
        |    THEN m END) AS p99_fanout,
        |  max(m) AS max_fanout
        |FROM cm GROUP BY 1, 2""".stripMargin)
}
