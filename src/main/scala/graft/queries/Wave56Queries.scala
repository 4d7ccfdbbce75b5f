package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave56Queries.scala holds round-13 WAVE-59 queries
  * q353–q355 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Magnitude and allocation statistics — the numbers that turn a
  * significant difference into a decision: Cohen's d / Hedges' g
  * standardized effect sizes for the purchase-vs-view value gap
  * (q323's U says the populations differ; only an effect size says
  * whether anyone should care), a seasonal-naive forecast backtest
  * over daily revenue (is next week literally last week — the
  * baseline every fancier forecaster must beat, and the honest check
  * on q237/q338's seasonality claims), and Neyman-optimal sample
  * allocation of a fixed labeling budget across sources (n_h ∝
  * N_h·S_h — versus proportional allocation, with the predicted
  * variance of both designs; q315's Horvitz–Thompson estimates FROM a
  * design, this chooses the design).
  *
  * Exactness: integer moment sums (squares via the deterministic-
  * double → DECIMAL(38,0) path), per-element floor-to-long before
  * cross-row reductions (absolute forecast errors are integer cents
  * by construction), floor-on-scaled output grids. All three
  * DuckDB-oracle-checked. */
object Wave56Queries extends QuerySet {

  /** Cohen's d (pooled SD) and Hedges' g (small-sample corrected,
    * J ≈ 1 − 3/(4·df − 1)) for purchase vs view event values. All
    * moments are exact scaled-long sums; one double formula. */
  private val q353: Q = (s, d) => {
    import s.implicits._
    val m = Tables.events(s, d)
      .where($"event_type".isin("purchase", "view"))
      .groupBy(($"event_type" === "purchase").as("grp"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(round($"value" * 100, 0).cast("long")).as("sx"),
        sum((round($"value" * 100, 0).cast("long").cast("double") *
          round($"value" * 100, 0).cast("long")).cast("decimal(38,0)"))
          .cast("double").as("sxx"))
    val piv = m.groupBy().agg(
      max(when($"grp", $"n")).as("n1"), max(when($"grp", $"sx")).as("s1"),
      max(when($"grp", $"sxx")).as("q1"),
      max(when(!$"grp", $"n")).as("n2"),
      max(when(!$"grp", $"sx")).as("s2"),
      max(when(!$"grp", $"sxx")).as("q2"))
    // pooled variance from the exact moments; /1e4 unscales cents²
    val v1 = ($"q1" - $"s1".cast("double") * $"s1" / $"n1") / ($"n1" - 1L)
    val v2 = ($"q2" - $"s2".cast("double") * $"s2" / $"n2") / ($"n2" - 1L)
    val sp = sqrt((($"n1" - 1L) * v1 + ($"n2" - 1L) * v2) /
      ($"n1" + $"n2" - 2L))
    val dEff = (($"s1".cast("double") / $"n1" -
      $"s2".cast("double") / $"n2") / sp)
    val j = lit(1.0) - lit(3.0) /
      (lit(4.0) * ($"n1" + $"n2" - 2L) - 1L)
    piv.select($"n1".as("n_purchase"), $"n2".as("n_view"),
      (floor(dEff * 1e6) / 1e6).as("cohens_d"),
      (floor(dEff * j * 1e6) / 1e6).as("hedges_g"))
  }

  /** Seasonal-naive forecast backtest: daily revenue predicted by
    * last week's same weekday (t−7) vs yesterday (t−1), scored as MAE
    * over the common evaluation days. Errors are integer cents by
    * construction, so the comparison — and the seasonal_wins verdict —
    * is exact. The baseline any revenue forecaster must beat before
    * its complexity is paid for. */
  private val q354: Q = (s, d) => {
    import s.implicits._
    val day = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("r"))
    val w = Window.orderBy($"day")
    val scored = day.select($"day", $"r",
        lag($"r", 1).over(w).as("p1"), lag($"r", 7).over(w).as("p7"))
      .where($"p1".isNotNull && $"p7".isNotNull)
    scored.agg(count(lit(1)).cast("long").as("n_eval_days"),
        sum(abs($"r" - $"p1")).as("ae1"),
        sum(abs($"r" - $"p7")).as("ae7"))
      .select($"n_eval_days",
        (floor($"ae1" / ($"n_eval_days" * 100.0) * 100) / 100.0)
          .as("mae_naive"),
        (floor($"ae7" / ($"n_eval_days" * 100.0) * 100) / 100.0)
          .as("mae_seasonal"),
        ($"ae7" < $"ae1").as("seasonal_wins"))
  }

  /** Neyman-optimal allocation of a 1000-row labeling budget across
    * sources: n_h ∝ N_h·S_h (stratum size × stratum SD of n_chars),
    * with the predicted estimator variances of the Neyman and
    * proportional designs attached. Per-source SDs come from exact
    * integer moments; the cross-source normalizer sums floor-quantized
    * longs, so allocations are bit-stable integers. */
  private val q355: Q = (s, d) => {
    import s.implicits._
    val g = Tables.documents(s, d).groupBy($"source")
      .agg(count(lit(1)).cast("long").as("nh"),
        sum($"n_chars").as("sx"),
        sum(($"n_chars".cast("double") * $"n_chars")
          .cast("decimal(38,0)")).cast("double").as("sxx"))
      .select($"source", $"nh",
        floor(sqrt(($"sxx" - $"sx".cast("double") * $"sx" / $"nh") /
          ($"nh" - 1L)) * 1e6).cast("long").as("sdq"))
    val tot = g.agg(sum($"nh").as("n"), sum($"nh" * $"sdq").as("z"))
    g.crossJoin(broadcast(tot))
      .select($"source", $"nh".as("stratum_size"),
        ($"sdq" / 1e6).as("stratum_sd"),
        floor(lit(1000L) * ($"nh" * $"sdq") / $"z".cast("double"))
          .cast("long").as("n_neyman"),
        floor(lit(1000L) * $"nh" / $"n".cast("double")).cast("long")
          .as("n_proportional"))
      .orderBy($"source")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q353_effect_size" -> q353,
    "q354_forecast_backtest" -> q354,
    "q355_neyman_allocation" -> q355)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q353_effect_size" ->
      """WITH m AS (SELECT event_type = 'purchase' AS grp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT)
        |      AS sx,
        |    CAST(sum(CAST(CAST(CAST(round(value*100, 0) AS BIGINT)
        |      AS DOUBLE) * CAST(round(value*100, 0) AS BIGINT)
        |      AS DECIMAL(38,0))) AS DOUBLE) AS sxx
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1),
        |piv AS (SELECT
        |    max(CASE WHEN grp THEN n END) AS n1,
        |    max(CASE WHEN grp THEN sx END) AS s1,
        |    max(CASE WHEN grp THEN sxx END) AS q1,
        |    max(CASE WHEN NOT grp THEN n END) AS n2,
        |    max(CASE WHEN NOT grp THEN sx END) AS s2,
        |    max(CASE WHEN NOT grp THEN sxx END) AS q2
        |  FROM m),
        |f AS (SELECT n1, n2,
        |    ((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) /
        |     sqrt(((n1 - 1) * ((q1 - CAST(s1 AS DOUBLE)*s1/n1)/(n1-1)) +
        |           (n2 - 1) * ((q2 - CAST(s2 AS DOUBLE)*s2/n2)/(n2-1))) /
        |          (n1 + n2 - 2))) AS d,
        |    1.0 - 3.0 / (4.0 * (n1 + n2 - 2) - 1) AS j
        |  FROM piv)
        |SELECT n1 AS n_purchase, n2 AS n_view,
        |  floor(d * 1e6) / 1e6 AS cohens_d,
        |  floor(d * j * 1e6) / 1e6 AS hedges_g
        |FROM f""".stripMargin,
    "q354_forecast_backtest" ->
      """WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |s AS (SELECT day, r,
        |    lag(r, 1) OVER (ORDER BY day) AS p1,
        |    lag(r, 7) OVER (ORDER BY day) AS p7
        |  FROM day),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_eval_days,
        |    CAST(sum(abs(r - p1)) AS BIGINT) AS ae1,
        |    CAST(sum(abs(r - p7)) AS BIGINT) AS ae7
        |  FROM s WHERE p1 IS NOT NULL AND p7 IS NOT NULL)
        |SELECT n_eval_days,
        |  floor(ae1 / (n_eval_days * 100.0) * 100) / 100.0 AS mae_naive,
        |  floor(ae7 / (n_eval_days * 100.0) * 100) / 100.0
        |    AS mae_seasonal,
        |  ae7 < ae1 AS seasonal_wins
        |FROM a""".stripMargin,
    "q355_neyman_allocation" ->
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS nh,
        |    CAST(sum(n_chars) AS BIGINT) AS sx,
        |    CAST(sum(CAST(CAST(n_chars AS DOUBLE) * n_chars
        |      AS DECIMAL(38,0))) AS DOUBLE) AS sxx
        |  FROM documents GROUP BY 1),
        |q AS (SELECT source, nh,
        |    CAST(floor(sqrt((sxx - CAST(sx AS DOUBLE)*sx/nh)/(nh-1))
        |      * 1e6) AS BIGINT) AS sdq
        |  FROM g),
        |tot AS (SELECT CAST(sum(nh) AS BIGINT) AS n,
        |    CAST(sum(nh * sdq) AS BIGINT) AS z FROM q)
        |SELECT source, nh AS stratum_size,
        |  sdq / 1e6 AS stratum_sd,
        |  CAST(floor(1000 * (nh * sdq) / CAST(z AS DOUBLE)) AS BIGINT)
        |    AS n_neyman,
        |  CAST(floor(1000 * nh / CAST(n AS DOUBLE)) AS BIGINT)
        |    AS n_proportional
        |FROM q, tot ORDER BY source""".stripMargin)
}
