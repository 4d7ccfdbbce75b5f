package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave39Queries.scala holds round-12 WAVE-42 queries
  * q280–q284 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Privacy, funnel-policy, and cross-table audits: l-diversity over the
  * quasi-identifier cells (the disclosure check k-anonymity alone
  * misses), the conversion-deadline sweep (how the funnel number moves
  * with the attribution window), the top-k token coverage curve (the
  * vocabulary-concentration table a tokenizer budget is chosen from),
  * and the cross-table engagement↔spend correlation over the shared
  * user/customer key space. All five are DuckDB-oracle-checked. */
object Wave39Queries extends QuerySet {

  /** l-diversity audit: within each (lang, source) quasi-identifier
    * cell, how many DISTINCT sensitive values (the embedding label via
    * the shared id space) are present — a cell can be k-anonymous
    * (q118) yet still leak when every member shares one sensitive
    * value. Cells with fewer than l = 3 distinct labels are flagged.
    * One id-keyed join + a taxonomy-sized rollup; countDistinct is
    * bounded by the label vocabulary. */
  private val q280: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d).select($"doc_id", $"lang", $"source")
      .join(Tables.embeddings(s, d)
        .select($"vec_id".as("doc_id"), $"label"), Seq("doc_id"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct($"label").cast("long").as("n_labels"))
      .withColumn("l_diverse", $"n_labels" >= 3)
      .orderBy($"lang", $"source")
  }

  /** Conversion-deadline sweep: view→purchase conversion when the
    * attribution window is 1 h / 6 h / 24 h — the table the deadline
    * policy is CHOSEN from (a rate that collapses at 1 h but holds at
    * 24 h says conversions are slow, not absent). ONE user-keyed
    * bookend aggregate (first view, first purchase — q168's shape)
    * feeds all three deadline rows; each row is a 1-row scalar
    * aggregate over the per-user frame. */
  private val q281: Q = (s, d) => {
    import s.implicits._
    val u = Tables.events(s, d).groupBy($"user_id").agg(
        min(when($"event_type" === "view", $"ts")).as("fv"),
        min(when($"event_type" === "purchase", $"ts")).as("fp"))
      .where($"fv".isNotNull)
      .select($"fv", $"fp",
        (unix_micros($"fp") - unix_micros($"fv")).as("delta_us"))
    def at(label: String, hours: Long): DataFrame =
      u.agg(count(lit(1)).cast("long").as("n_viewers"),
        sum(when($"fp".isNotNull && $"delta_us" > 0 &&
          $"delta_us" <= hours * 3600L * 1000000L, 1L).otherwise(0L))
          .cast("long").as("n_converted"))
        .select(lit(hours).cast("long").as("deadline_hours"),
          $"n_viewers", $"n_converted",
          round($"n_converted" / $"n_viewers".cast("double"), 9)
            .as("conv_rate"))
    at("1h", 1L).unionByName(at("6h", 6L)).unionByName(at("24h", 24L))
      .orderBy($"deadline_hours")
  }

  /** Top-k token coverage curve: the share of corpus token mass the
    * top 5 / 10 / 25 tokens carry — the concentration table behind
    * vocabulary budgeting (complement of q124's Zipf fit: that
    * estimates the law, this measures the mass). The rank/cumulative
    * window runs over the VOCABULARY frame (an aggregate — the guard's
    * collapsed-frame rule), never per-token rows. */
  private val q282: Q = (s, d) => {
    import s.implicits._
    val vocab = Tables.documents(s, d)
      .select(explode(graft.ops.Text.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(
        Window.orderBy($"cnt".desc, $"tok")))
    val ks = Seq(5, 10, 25)
    val aggs = ks.map(k =>
      sum(when($"rnk" <= k, $"cnt").otherwise(0L)).as(s"c$k"))
    val tot = vocab.agg(aggs.head, (aggs.tail :+ sum($"cnt").as("tot")): _*)
    val rows = ks.map(k => struct(lit(k).cast("int").as("k"),
      col(s"c$k").cast("long").as("covered_tokens")))
    tot.select(explode(array(rows: _*)).as("r"), $"tot")
      .select($"r.k".as("k"), $"r.covered_tokens".as("covered_tokens"),
        $"tot".cast("long").as("total_tokens"),
        round($"r.covered_tokens" / $"tot".cast("double"), 9).as("coverage"))
      .orderBy($"k")
  }

  /** Cross-table engagement↔spend correlation: the event stream and the
    * order book share a key space (user_id ⊆ custkey); per market
    * segment, the exact Pearson correlation between a user's event
    * count and their order spend — the "does engagement predict
    * revenue" number, computed across TWO fact tables. Both sides
    * collapse to per-user aggregates BEFORE the key join; sums ride
    * the decimal discipline (q37's exact-correlation shape). */
  private val q283: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"))
    val sp = Tables.orders(s, d).groupBy($"o_custkey")
      .agg(round(sum(round($"o_totalprice" * 100, 0).cast("long")) / 100.0, 2)
        .as("spend"))
    val j = ev.join(sp, $"user_id" === $"o_custkey")
      .join(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment"),
        $"user_id" === $"c_custkey")
      .select($"c_mktsegment", $"n_events".cast("double").as("x"), $"spend")
    val g = j.groupBy($"c_mktsegment")
      .agg(count(lit(1)).cast("double").as("n"),
        sum($"x".cast("decimal(28,0)")).cast("double").as("sx"),
        sum(($"x" * $"x").cast("decimal(38,0)")).cast("double").as("sxx"),
        sum($"spend".cast("decimal(28,2)")).cast("double").as("sy"),
        sum(round($"spend" * $"spend", 4).cast("decimal(38,4)")).cast("double")
          .as("syy"),
        sum(round($"x" * $"spend", 4).cast("decimal(38,4)")).cast("double")
          .as("sxy"))
    g.select($"c_mktsegment", $"n".cast("long").as("n_users"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx") *
            ($"n" * $"syy" - $"sy" * $"sy")), 6).as("engagement_spend_corr"))
      .orderBy($"c_mktsegment")
  }

  /** Priority-transition matrix: consecutive-order priority pairs per
    * customer (the business-sequence Markov q131 computes for event
    * types), with row-normalized probabilities — "does an URGENT order
    * predict another URGENT one". One custkey-keyed lag window; the
    * matrix rollup is 5×5; probabilities divide by a window total over
    * that 25-row frame. */
  private val q284: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val tr = Tables.orders(s, d)
      .select($"o_custkey", $"o_orderdate", $"o_orderkey", $"o_orderpriority")
      .withColumn("prev", lag($"o_orderpriority", 1).over(w))
      .where($"prev".isNotNull)
      .groupBy($"prev".as("from_priority"), $"o_orderpriority".as("to_priority"))
      .agg(count(lit(1)).cast("long").as("n"))
    tr.withColumn("p", round($"n" /
        sum($"n").over(Window.partitionBy($"from_priority")).cast("double"), 9))
      .orderBy($"from_priority", $"to_priority")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q280_l_diversity" -> q280,
    "q281_conversion_deadline_sweep" -> q281,
    "q282_token_coverage_curve" -> q282,
    "q283_engagement_spend_corr" -> q283,
    "q284_priority_transitions" -> q284)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q280_l_diversity" ->
      """SELECT d.lang, d.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT e.label) AS BIGINT) AS n_labels,
        |  count(DISTINCT e.label) >= 3 AS l_diverse
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,
    "q281_conversion_deadline_sweep" -> {
      val perD = Seq(1L, 6L, 24L).map { h =>
        s"""SELECT CAST($h AS BIGINT) AS deadline_hours,
           |  CAST(count(*) AS BIGINT) AS n_viewers,
           |  CAST(sum(CASE WHEN fp IS NOT NULL AND delta_us > 0
           |    AND delta_us <= $h * CAST(3600000000 AS BIGINT)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           |  round(sum(CASE WHEN fp IS NOT NULL AND delta_us > 0
           |    AND delta_us <= $h * CAST(3600000000 AS BIGINT)
           |    THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 9) AS conv_rate
           |FROM u""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH b AS (SELECT user_id,
         |    min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
         |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
         |  FROM events GROUP BY 1),
         |u AS (SELECT fv, fp, epoch_us(fp) - epoch_us(fv) AS delta_us
         |  FROM b WHERE fv IS NOT NULL)
         |SELECT * FROM ($perD) s ORDER BY deadline_hours""".stripMargin
    },
    "q282_token_coverage_curve" -> {
      val perK = Seq(5, 10, 25).map { k =>
        s"""SELECT CAST($k AS INTEGER) AS k,
           |  (SELECT CAST(sum(cnt) AS BIGINT) FROM v WHERE rnk <= $k)
           |    AS covered_tokens""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
         |v AS (SELECT tok, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, tok) AS rnk FROM c),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM c)
         |SELECT k, covered_tokens, tot.total_tokens,
         |  round(covered_tokens / CAST(tot.total_tokens AS DOUBLE), 9)
         |    AS coverage
         |FROM ($perK) s CROSS JOIN tot ORDER BY k""".stripMargin
    },
    "q283_engagement_spend_corr" ->
      """WITH ev AS (SELECT user_id, count(*) AS n_events
        |  FROM events GROUP BY 1),
        |sp AS (SELECT o_custkey,
        |    round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0, 2)
        |      AS spend
        |  FROM orders GROUP BY 1),
        |j AS (SELECT c.c_mktsegment,
        |    CAST(ev.n_events AS DOUBLE) AS x, sp.spend
        |  FROM ev JOIN sp ON ev.user_id = sp.o_custkey
        |    JOIN customer c ON ev.user_id = c.c_custkey),
        |g AS (SELECT c_mktsegment,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(spend AS DECIMAL(28,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(spend * spend, 4) AS DECIMAL(38,4))) AS DOUBLE)
        |      AS syy,
        |    CAST(sum(CAST(round(x * spend, 4) AS DECIMAL(38,4))) AS DOUBLE)
        |      AS sxy
        |  FROM j GROUP BY 1)
        |SELECT c_mktsegment, CAST(n AS BIGINT) AS n_users,
        |  round((n * sxy - sx * sy) /
        |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |    AS engagement_spend_corr
        |FROM g ORDER BY c_mktsegment""".stripMargin,
    "q284_priority_transitions" ->
      """WITH l AS (SELECT o_custkey, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |tr AS (SELECT prev AS from_priority,
        |    o_orderpriority AS to_priority, CAST(count(*) AS BIGINT) AS n
        |  FROM l WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT from_priority, to_priority, n,
        |  round(n / CAST(sum(n) OVER (PARTITION BY from_priority) AS DOUBLE), 9)
        |    AS p
        |FROM tr ORDER BY from_priority, to_priority""".stripMargin)
}
