package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Text

/** FILE→WAVE MAP: Wave41Queries.scala holds round-12 WAVE-44 queries
  * q289–q292 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Representative-selection policy, association lift, engagement
  * churn, and exact regression coefficients: which cluster survivor
  * rule retains the most value (q121 ships ONE rule; this compares
  * three), supplier↔brand affinity as observed-over-expected lift,
  * week-over-week active-user retention, and the least-squares
  * quantity-on-discount slope per return flag (the elasticity
  * read). All four are DuckDB-oracle-checked. */
object Wave41Queries extends QuerySet {

  /** Representative-selection policy comparison: for the θ=0.5
    * near-dup clusters (singletons = their own cluster), the corpus
    * kept by three survivor rules — lowest id (the classic dedup
    * default), longest member (max tokens), best quality (q121's
    * rule) — as retained token mass and mean representative quality.
    * All three argmins ride ONE component-keyed aggregate (payload
    * structs under min — no per-cluster windows), melted to a 3-row
    * policy table. Cluster membership reads the PERSISTED store. */
  private val q289: Q = (s, d) => {
    import s.implicits._
    val wc = Text.tokenCount($"text")
    val awl = Text.sumTokenLen($"text") / wc
    val stopRatio = Text.stopwordCount($"text") / wc
    // the per-doc score rides as an INTEGER grid value (floor of the
    // bit-identical raw double × 1e6): a 6-dp round() here and in the
    // oracle disagreed at half-boundaries (sf0.3 slice-check catch),
    // and two floored DOUBLES can't safely re-derive the integer —
    // floor((k/1e6)·1e6) loses a cell when the double sits below k
    val base = Tables.documents(s, d)
      .select($"doc_id", wc.cast("long").as("n_tok"),
        floor(Text.qualityScore(wc, stopRatio, awl) * 1e6).cast("long")
          .as("qq"))
      .join(Stores.docClusters(s, d), Seq("doc_id"), "left")
      .withColumn("component_id", coalesce($"component_id", $"doc_id"))
    val reps = base.groupBy($"component_id")
      .agg(
        min(struct($"doc_id", $"n_tok", $"qq")).as("by_id"),
        min(struct(-$"n_tok".as("neg"), $"doc_id", $"n_tok", $"qq")).as("by_len"),
        min(struct(-$"qq".as("negq"), $"doc_id", $"n_tok", $"qq")).as("by_q"))
    val rows = Seq(
      struct(lit("best_quality").as("strategy"),
        $"by_q.n_tok".as("n_tok"), $"by_q.qq".as("qq")),
      struct(lit("longest").as("strategy"),
        $"by_len.n_tok".as("n_tok"), $"by_len.qq".as("qq")),
      struct(lit("min_id").as("strategy"),
        $"by_id.n_tok".as("n_tok"), $"by_id.qq".as("qq")))
    reps.select(explode(array(rows: _*)).as("r"))
      .groupBy($"r.strategy".as("strategy"))
      .agg(count(lit(1)).cast("long").as("n_clusters"),
        sum($"r.n_tok").cast("long").as("retained_tokens"),
        (floor(sum($"r.qq") / count(lit(1)).cast("double") * 1e3) / 1e9)
          .as("mean_rep_quality"))
      .orderBy($"strategy")
  }

  /** Supplier↔brand affinity lift: observed brand share within a
    * supplier's shipments over the brand's global share — lift > 1 is
    * specialization, ≈1 is indifference (the association read behind
    * sourcing concentration; q225's basket lift is item×item, this is
    * entity×attribute). One (supplier, brand) exchange; margins and
    * the grand total are windows over that dim-bounded aggregate
    * frame. Cells under 20 lineitems suppressed (noise floor). */
  private val q290: Q = (s, d) => {
    import s.implicits._
    val cells = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey", $"p_brand")
      .agg(count(lit(1)).as("n"))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    cells
      .withColumn("ns", sum($"n").over(Window.partitionBy($"l_suppkey")))
      .withColumn("nb", sum($"n").over(Window.partitionBy($"p_brand")))
      .withColumn("nn", sum($"n").over(all))
      .where($"n" >= 20)
      .select($"l_suppkey", $"p_brand", $"n".cast("long").as("n_items"),
        round(($"n" / $"ns".cast("double")) /
          ($"nb" / $"nn".cast("double")), 6).as("lift"))
      .orderBy($"l_suppkey", $"p_brand")
  }

  /** Week-over-week retention: per activity week, how many active
    * users return the following week — the WAU-churn dashboard (q114
    * is cohort-offset retention; this is the rolling week-pair read).
    * One distinct (user, week) frame probes itself shifted by 7 days
    * (a user-keyed semi join); the rollup is week-cardinality. */
  private val q291: Q = (s, d) => {
    import s.implicits._
    val uw = Tables.events(s, d)
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("week"))
      .distinct()
      // staged: unstaged, the distinct's shuffle runs again (2.1× the
      // shuffle bytes at sf0.01, 2.7× at sf0.1)
      .transform(graft.ops.Staged(_))
    val retained = uw.join(
        uw.select($"user_id", date_sub($"week", 7).as("week")),
        Seq("user_id", "week"), "left_semi")
      .groupBy($"week").agg(count(lit(1)).as("n_ret"))
    uw.groupBy($"week").agg(count(lit(1)).as("n_active"))
      .join(retained, Seq("week"), "left")
      .select($"week", $"n_active".cast("long").as("n_active"),
        coalesce($"n_ret", lit(0L)).cast("long").as("n_retained_next"),
        round(coalesce($"n_ret", lit(0L)) / $"n_active".cast("double"), 9)
          .as("retention_rate"))
      .orderBy($"week")
  }

  /** Quantity-on-discount least-squares slope per return flag — the
    * elasticity coefficient ("do deeper discounts move volume"),
    * computed EXACTLY: both moments are decimal sums of fixed-grid
    * products (discount is 2-dp, quantity integral), one double
    * formula at the end (the q37 discipline, solved for slope and
    * intercept instead of r). Map-side sums, |flags|-row output. */
  private val q292: Q = (s, d) => {
    import s.implicits._
    // round-15 guarded fan-out, keyed by the unique order key (NOT the
    // 3-value group key — that would put the heavy decimal partial agg
    // on 3 cores); sums are decimal-exact, so order-independent
    val g = graft.ops.FanOut.perRowCompute(
        Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_returnflag",
            $"l_discount".as("x"), $"l_quantity".as("y")), "l_orderkey")
      .drop("l_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum($"x".cast("decimal(18,2)")).cast("double").as("sx"),
        sum(round($"x" * $"x", 4).cast("decimal(18,4)")).cast("double").as("sxx"),
        sum($"y".cast("decimal(18,0)")).cast("double").as("sy"),
        sum(round($"x" * $"y", 2).cast("decimal(28,2)")).cast("double").as("sxy"))
    g.select($"l_returnflag", $"n".cast("long").as("n_items"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n" * $"sxx" - $"sx" * $"sx"), 6).as("slope"),
        round(($"sy" - ($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n" * $"sxx" - $"sx" * $"sx") * $"sx") / $"n", 6).as("intercept"))
      .orderBy($"l_returnflag")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q289_rep_policy_comparison" -> q289,
    "q290_supplier_brand_lift" -> q290,
    "q291_weekly_retention" -> q291,
    "q292_discount_slope" -> q292)

  // ---- oracle SQL -------------------------------------------------------

  /** The θ=0.5 connected-components walk + quality score, verbatim from
    * the q121 oracle (same stopword list, same recursive labeling). */
  private val stopList10 =
    Text.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
  private val componentsCte =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT DISTINCT doc_id,
       |        unnest(list_transform(generate_series(1, len(w) - 2),
       |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
       |      FROM t),
       |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |pp AS (SELECT doc_a, doc_b FROM p
       |       JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |       WHERE inter / (sa.n + sb.n - inter) >= 0.5),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pp
       |      UNION SELECT doc_b, doc_a FROM pp),
       |walk(node, label) AS (
       |  SELECT a, a FROM e
       |  UNION
       |  SELECT e.a, w.label FROM e JOIN walk w ON e.b = w.node),
       |cc AS (SELECT node AS doc_id, min(label) AS component_id
       |  FROM walk GROUP BY node),
       |m AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS INTEGER) AS word_count,
       |    list_sum(list_transform(string_split(text, ' '), x -> length(x)))
       |      AS sum_len,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> list_contains($stopList10, x))) AS INTEGER) AS n_stop
       |  FROM documents),
       |sc AS (SELECT doc_id, CAST(word_count AS BIGINT) AS n_tok,
       |    CAST(floor((least(1.0, word_count / 100.0) * 0.4
       |      + (1.0 - n_stop / word_count) * 0.3
       |      + least(1.0, (sum_len / word_count) / 8.0) * 0.3) * 1e6)
       |      AS BIGINT) AS qq
       |  FROM m),
       |j AS (SELECT sc.doc_id, coalesce(cc.component_id, sc.doc_id)
       |    AS component_id, sc.n_tok, sc.qq
       |  FROM sc LEFT JOIN cc USING (doc_id))""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q289_rep_policy_comparison" -> {
      val strategies = Seq(
        ("best_quality", "ORDER BY qq DESC, doc_id"),
        ("longest", "ORDER BY n_tok DESC, doc_id"),
        ("min_id", "ORDER BY doc_id"))
      val perS = strategies.map { case (name, ord) =>
        s"""SELECT '$name' AS strategy,
           |  CAST(count(*) AS BIGINT) AS n_clusters,
           |  CAST(sum(n_tok) AS BIGINT) AS retained_tokens,
           |  floor(CAST(sum(qq) AS DOUBLE)
           |    / count(*) * 1e3) / 1e9 AS mean_rep_quality
           |FROM (SELECT component_id, n_tok, qq,
           |    row_number() OVER (PARTITION BY component_id $ord) AS rn
           |  FROM j) x WHERE rn = 1""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH RECURSIVE
         |$componentsCte
         |SELECT * FROM ($perS) u ORDER BY strategy""".stripMargin
    },
    "q290_supplier_brand_lift" ->
      """WITH cells AS (SELECT l.l_suppkey, p.p_brand, count(*) AS n
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |w AS (SELECT l_suppkey, p_brand, n,
        |    sum(n) OVER (PARTITION BY l_suppkey) AS ns,
        |    sum(n) OVER (PARTITION BY p_brand) AS nb,
        |    sum(n) OVER () AS nn
        |  FROM cells)
        |SELECT l_suppkey, p_brand, CAST(n AS BIGINT) AS n_items,
        |  round((n / CAST(ns AS DOUBLE)) / (nb / CAST(nn AS DOUBLE)), 6)
        |    AS lift
        |FROM w WHERE n >= 20 ORDER BY l_suppkey, p_brand""".stripMargin,
    "q291_weekly_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
        |ret AS (SELECT a.week, count(*) AS n_ret
        |  FROM uw a JOIN uw b
        |    ON a.user_id = b.user_id AND b.week = a.week + 7
        |  GROUP BY 1)
        |SELECT uw.week, CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(coalesce(min(ret.n_ret), 0) AS BIGINT) AS n_retained_next,
        |  round(coalesce(min(ret.n_ret), 0) / CAST(count(*) AS DOUBLE), 9)
        |    AS retention_rate
        |FROM uw LEFT JOIN ret ON uw.week = ret.week
        |GROUP BY uw.week ORDER BY uw.week""".stripMargin,
    "q292_discount_slope" ->
      """WITH g AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(round(l_discount * l_discount, 4) AS DECIMAL(18,4)))
        |      AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(l_discount * l_quantity, 2) AS DECIMAL(28,2)))
        |      AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_items,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |    AS intercept
        |FROM g ORDER BY l_returnflag""".stripMargin)
}
