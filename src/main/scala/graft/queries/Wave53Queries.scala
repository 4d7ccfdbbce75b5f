package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave53Queries.scala holds round-13 WAVE-56 queries
  * q338–q342 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Estimation-theory statistics over corpus and revenue frames: the
  * seasonal-strength share of daily-revenue variance explained by the
  * day-of-week component (the forecasting-readiness scalar behind
  * q237's table and q174's anomaly flags), Morisita–Horn
  * ABUNDANCE-weighted source overlap (q321's overlap coefficient sees
  * only vocabulary presence; re-crawls with shifted token frequencies
  * need the abundance version), the Hill estimator of the document-
  * length tail exponent (is length heavy-tailed enough that mean-based
  * packing budgets lie), James–Stein shrinkage of per-source mean
  * lengths (the don't-trust-small-sample-winners correction any
  * per-source leaderboard needs), and a Lincoln–Petersen / Chapman
  * capture–recapture estimate of TRUE vocabulary size from two
  * doc-parity captures — with the actual distinct count alongside,
  * since at fixture scale the truth is computable and the estimator's
  * bias is itself the interesting output (q305's Chao1 is
  * abundance-based; this is the two-sample design).
  *
  * Exactness discipline as the rest of the round-13 waves: integer
  * sums to the last step, ln() quantized on the 1e-9 grid (the proven
  * q71/q124 pattern — both engines' libm agree here), per-element
  * floor-to-long BEFORE any cross-row float reduction (residuals,
  * log-order-stats, squared deviations), DECIMAL(38,0) for the
  * integer-valued big squares. All five DuckDB-oracle-checked. */
object Wave53Queries extends QuerySet {

  /** Seasonal strength of daily revenue: 1 − Var(residual)/Var(total)
    * after removing day-of-week means. Residuals floor-quantize to
    * cent longs before the variance sums (per-element deterministic;
    * the cross-day reduction is then pure integer + the DECIMAL(38,0)
    * square path). */
  private val q338: Q = (s, d) => {
    import s.implicits._
    val day = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("r"))
      .withColumn("dow", dayofweek($"day") - 1)
      // staged: unstaged, the daily aggregate's shuffle runs again (1.9×
      // the shuffle bytes at both scales)
      .transform(graft.ops.Staged(_))
    val dow = day.groupBy($"dow")
      .agg(sum($"r").as("sd"), count(lit(1)).cast("long").as("nd"))
    val tot = day.agg(sum($"r").as("st"),
      count(lit(1)).cast("long").as("n"),
      sum(($"r".cast("double") * $"r").cast("decimal(38,0)"))
        .cast("double").as("s2t"))
    val resid = day.join(broadcast(dow), Seq("dow"))
      .select(floor($"r" - $"sd".cast("double") / $"nd").cast("long")
        .as("rq"))
      .agg(sum($"rq").as("sr"),
        sum(($"rq".cast("double") * $"rq").cast("decimal(38,0)"))
          .cast("double").as("sr2"))
    resid.crossJoin(broadcast(tot))
      .select($"n".as("n_days"),
        (floor((lit(1.0) -
          (($"sr2" / $"n" - ($"sr".cast("double") / $"n") *
            ($"sr".cast("double") / $"n")) /
           ($"s2t" / $"n" - ($"st".cast("double") / $"n") *
            ($"st".cast("double") / $"n")))) * 1e6) / 1e6)
          .as("seasonal_strength"))
  }

  /** Morisita–Horn abundance overlap for every source pair:
    * MH = 2·Σaᵢbᵢ / ((Σaᵢ²/Nₐ² + Σbᵢ²/N_b²)·Nₐ·N_b). Every Σ is a
    * long over the per-source token-count frames (a vocabulary-keyed
    * join, the q321 shape — never per-document pairs); the final
    * formula is one deterministic double expression per pair row. */
  private val q339: Q = (s, d) => {
    import s.implicits._
    val counts = Tables.documents(s, d)
      .select($"source", explode(graft.ops.Text.tokens($"text")).as("tok"))
      .groupBy($"source", $"tok")
      .agg(count(lit(1)).cast("long").as("c"))
    val per = counts.groupBy($"source")
      .agg(sum($"c").as("nt"), sum($"c" * $"c").as("s2"))
    val cross = counts.as("a").join(counts.as("b"),
        $"a.tok" === $"b.tok" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(sum($"a.c" * $"b.c").as("sab"))
    cross
      .join(broadcast(per.select($"source".as("source_a"),
        $"nt".as("na"), $"s2".as("s2a"))), Seq("source_a"))
      .join(broadcast(per.select($"source".as("source_b"),
        $"nt".as("nb"), $"s2".as("s2b"))), Seq("source_b"))
      .select($"source_a", $"source_b",
        (floor((lit(2.0) * $"sab" /
          (($"s2a" / ($"na".cast("double") * $"na") +
            $"s2b" / ($"nb".cast("double") * $"nb")) *
           $"na" * $"nb")) * 1e6) / 1e6).as("morisita_horn"))
      .orderBy($"source_a", $"source_b")
  }

  /** Hill estimator of the document-length tail exponent over the
    * k=100 largest n_chars order statistics (top-101 head via
    * TakeOrderedAndProject — the q124 shape; only VALUES enter, so
    * ties need no break). Each log-order-stat floor-quantizes to the
    * 1e-9 grid as a long before the k-row mean, keeping the reduction
    * order-free; α = 1/H with H in grid units. */
  private val q340: Q = (s, d) => {
    import s.implicits._
    val top = Tables.documents(s, d)
      .select($"n_chars".cast("double").as("x"))
      .orderBy($"x".desc).limit(101)
      .select($"x", floor(log($"x") * 1e9).cast("long").as("lq"),
        row_number().over(Window.orderBy($"x".desc)).cast("long").as("rk"))
    val thr = top.where($"rk" === 101L).select($"lq".as("lthr"))
    top.where($"rk" <= 100L)
      .crossJoin(broadcast(thr))
      .agg(count(lit(1)).cast("long").as("k"),
        max($"lthr").as("lt"), sum($"lq").as("sl"))
      .select($"k",
        (floor(($"sl" / $"k".cast("double") - $"lt") / 1e9 * 1e6) / 1e6)
          .as("hill_h"),
        (floor(lit(1e9) * $"k" / ($"sl" - $"k" * $"lt").cast("double")
          * 1e6) / 1e6).as("tail_alpha"))
  }

  /** James–Stein (positive-part) shrinkage of per-source mean n_chars
    * toward the grand mean: the correction that stops a 20-source
    * quality leaderboard from crowning small-sample flukes. The
    * pooled within variance and the between-source deviation mass
    * both assemble from integer sums (deviations floor-quantized to
    * micro-longs before squaring — the q330 discipline), so the
    * shrinkage factors are bit-stable. */
  private val q341: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"source", $"n_chars")
    val per = docs.groupBy($"source")
      .agg(count(lit(1)).cast("long").as("ns"), sum($"n_chars").as("ss"),
        sum(($"n_chars".cast("double") * $"n_chars")
          .cast("decimal(38,0)")).cast("double").as("s2s"))
    val g = per.agg(sum($"ns").as("n"), sum($"ss").as("st"),
      count(lit(1)).cast("long").as("kk"))
    // pooled within-source variance: Σ(s2s − ss²/ns) / (n − K), each
    // group term quantized to an integer grid before the cross-group sum
    val within = per
      .select(floor($"s2s" - $"ss".cast("double") * $"ss" / $"ns")
        .cast("long").as("wq"))
      .agg(sum($"wq").as("sw"))
    val between = per.crossJoin(broadcast(g))
      .select($"source", $"ns", $"ss",
        floor(($"ss".cast("double") / $"ns" -
          $"st".cast("double") / $"n") * 1e6).cast("long").as("dq"))
    val bmass = between
      .agg(sum(($"dq".cast("double") * $"dq").cast("decimal(38,0)"))
        .cast("double").as("sb"))
    between.crossJoin(broadcast(bmass)).crossJoin(broadcast(within))
      .crossJoin(broadcast(g.select($"n", $"st", $"kk")))
      .select($"source", $"ns".as("n_docs"),
        (floor($"ss".cast("double") / $"ns" * 1e4) / 1e4).as("mean_raw"),
        greatest(lit(0.0), floor((lit(1.0) -
          (($"kk" - 3L).cast("double") *
            ($"sw".cast("double") / ($"n" - $"kk")) * 1e12 / $"ns") /
          $"sb") * 1e6) / 1e6).as("shrink_factor"),
        (floor(($"st".cast("double") / $"n" +
          greatest(lit(0.0), lit(1.0) -
            (($"kk" - 3L).cast("double") *
              ($"sw".cast("double") / ($"n" - $"kk")) * 1e12 / $"ns") /
            $"sb") *
          ($"ss".cast("double") / $"ns" - $"st".cast("double") / $"n"))
          * 1e4) / 1e4).as("mean_shrunk"))
      .orderBy($"source")
  }

  /** Lincoln–Petersen / Chapman capture–recapture estimate of true
    * vocabulary size from two captures (tokens seen in even- vs
    * odd-doc_id documents), with the actual distinct count alongside —
    * the estimator audit: closed-population bias is visible because
    * fixture truth is computable. All counts exact longs; two double
    * divisions at the end. */
  private val q342: Q = (s, d) => {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select((pmod($"doc_id", lit(2L)) === 0L).as("even"),
        explode(graft.ops.Text.tokens($"text")).as("tok"))
      .groupBy($"tok")
      .agg(max(when($"even", 1L).otherwise(0L)).as("in_a"),
        max(when(!$"even", 1L).otherwise(0L)).as("in_b"))
    tok.agg(sum($"in_a").as("n_cap_a"), sum($"in_b").as("n_cap_b"),
        sum($"in_a" * $"in_b").as("n_both"),
        count(lit(1)).cast("long").as("true_vocab"))
      .select($"n_cap_a", $"n_cap_b", $"n_both", $"true_vocab",
        (floor($"n_cap_a" * $"n_cap_b" / $"n_both".cast("double") * 100)
          / 100.0).as("lincoln_petersen"),
        (floor((($"n_cap_a" + 1L) * ($"n_cap_b" + 1L) /
          ($"n_both" + 1L).cast("double") - 1.0) * 100) / 100.0)
          .as("chapman"))
  }

  val queries: Seq[(String, Q)] = Seq(
    "q338_seasonal_strength" -> q338,
    "q339_morisita_overlap" -> q339,
    "q340_hill_tail_index" -> q340,
    "q341_james_stein" -> q341,
    "q342_capture_recapture" -> q342)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q338_seasonal_strength" ->
      """WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |dd AS (SELECT day, r, dayofweek(day) AS dow FROM day),
        |dw AS (SELECT dow, CAST(sum(r) AS BIGINT) AS sd,
        |    CAST(count(*) AS BIGINT) AS nd FROM dd GROUP BY 1),
        |tot AS (SELECT CAST(sum(r) AS BIGINT) AS st,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(CAST(r AS DOUBLE) * r AS DECIMAL(38,0)))
        |      AS DOUBLE) AS s2t FROM dd),
        |res AS (SELECT CAST(floor(r - CAST(sd AS DOUBLE) / nd) AS BIGINT)
        |      AS rq
        |  FROM dd JOIN dw USING (dow)),
        |ragg AS (SELECT CAST(sum(rq) AS BIGINT) AS sr,
        |    CAST(sum(CAST(CAST(rq AS DOUBLE) * rq AS DECIMAL(38,0)))
        |      AS DOUBLE) AS sr2 FROM res)
        |SELECT n AS n_days,
        |  floor((1.0 -
        |    ((sr2 / n - (CAST(sr AS DOUBLE) / n) *
        |      (CAST(sr AS DOUBLE) / n)) /
        |     (s2t / n - (CAST(st AS DOUBLE) / n) *
        |      (CAST(st AS DOUBLE) / n)))) * 1e6) / 1e6
        |    AS seasonal_strength
        |FROM ragg, tot""".stripMargin,
    "q339_morisita_overlap" ->
      """WITH counts AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |per AS (SELECT source, CAST(sum(c) AS BIGINT) AS nt,
        |    CAST(sum(c*c) AS BIGINT) AS s2 FROM counts GROUP BY 1),
        |cross_ab AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(sum(a.c * b.c) AS BIGINT) AS sab
        |  FROM counts a JOIN counts b
        |    ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b,
        |  floor((2.0 * sab /
        |    ((pa.s2 / (CAST(pa.nt AS DOUBLE) * pa.nt) +
        |      pb.s2 / (CAST(pb.nt AS DOUBLE) * pb.nt)) *
        |     pa.nt * pb.nt)) * 1e6) / 1e6 AS morisita_horn
        |FROM cross_ab
        |JOIN per pa ON source_a = pa.source
        |JOIN per pb ON source_b = pb.source
        |ORDER BY source_a, source_b""".stripMargin,
    "q340_hill_tail_index" ->
      """WITH top AS (SELECT CAST(n_chars AS DOUBLE) AS x,
        |    CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS lq,
        |    CAST(row_number() OVER (ORDER BY n_chars DESC) AS BIGINT)
        |      AS rk
        |  FROM documents ORDER BY n_chars DESC LIMIT 101),
        |thr AS (SELECT lq AS lt FROM top WHERE rk = 101),
        |h AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(max(lt) AS BIGINT) AS lt, CAST(sum(lq) AS BIGINT) AS sl
        |  FROM top, thr WHERE rk <= 100)
        |SELECT k,
        |  floor((sl / CAST(k AS DOUBLE) - lt) / 1e9 * 1e6) / 1e6
        |    AS hill_h,
        |  floor(1e9 * k / CAST(sl - k * lt AS DOUBLE) * 1e6) / 1e6
        |    AS tail_alpha
        |FROM h""".stripMargin,
    "q341_james_stein" ->
      """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS ns,
        |    CAST(sum(n_chars) AS BIGINT) AS ss,
        |    CAST(sum(CAST(CAST(n_chars AS DOUBLE) * n_chars
        |      AS DECIMAL(38,0))) AS DOUBLE) AS s2s
        |  FROM documents GROUP BY 1),
        |g AS (SELECT CAST(sum(ns) AS BIGINT) AS n,
        |    CAST(sum(ss) AS BIGINT) AS st,
        |    CAST(count(*) AS BIGINT) AS kk FROM per),
        |w AS (SELECT CAST(sum(CAST(floor(s2s -
        |      CAST(ss AS DOUBLE) * ss / ns) AS BIGINT)) AS BIGINT) AS sw
        |  FROM per),
        |btw AS (SELECT source, ns, ss,
        |    CAST(floor((CAST(ss AS DOUBLE) / ns -
        |      CAST(st AS DOUBLE) / n) * 1e6) AS BIGINT) AS dq
        |  FROM per, g),
        |bm AS (SELECT CAST(sum(CAST(CAST(dq AS DOUBLE) * dq
        |    AS DECIMAL(38,0))) AS DOUBLE) AS sb FROM btw)
        |SELECT source, ns AS n_docs,
        |  floor(CAST(ss AS DOUBLE) / ns * 1e4) / 1e4 AS mean_raw,
        |  greatest(0.0, floor((1.0 -
        |    (CAST(kk - 3 AS DOUBLE) *
        |      (CAST(sw AS DOUBLE) / (n - kk)) * 1e12 / ns) / sb)
        |    * 1e6) / 1e6) AS shrink_factor,
        |  floor((CAST(st AS DOUBLE) / n +
        |    greatest(0.0, 1.0 -
        |      (CAST(kk - 3 AS DOUBLE) *
        |        (CAST(sw AS DOUBLE) / (n - kk)) * 1e12 / ns) / sb) *
        |    (CAST(ss AS DOUBLE) / ns - CAST(st AS DOUBLE) / n)) * 1e4)
        |    / 1e4 AS mean_shrunk
        |FROM btw, bm, w, g ORDER BY source""".stripMargin,
    "q342_capture_recapture" ->
      """WITH tok AS (SELECT tok,
        |    CAST(max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS in_a,
        |    CAST(max(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS in_b
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1),
        |a AS (SELECT CAST(sum(in_a) AS BIGINT) AS n_cap_a,
        |    CAST(sum(in_b) AS BIGINT) AS n_cap_b,
        |    CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
        |    CAST(count(*) AS BIGINT) AS true_vocab FROM tok)
        |SELECT n_cap_a, n_cap_b, n_both, true_vocab,
        |  floor(n_cap_a * n_cap_b / CAST(n_both AS DOUBLE) * 100) / 100.0
        |    AS lincoln_petersen,
        |  floor(((n_cap_a + 1) * (n_cap_b + 1) /
        |    CAST(n_both + 1 AS DOUBLE) - 1.0) * 100) / 100.0 AS chapman
        |FROM a""".stripMargin)
}
