package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave50Queries.scala holds round-13 WAVE-53 queries
  * q323–q327 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Nonparametric inference — the rank/distribution statistics the
  * parametric wave (q309 ANOVA, q292 OLS) cannot give when the metric
  * is skewed or outlier-ridden, which corpus metrics always are:
  * Mann–Whitney U (do two event populations differ in value, with no
  * normality assumption), Kruskal–Wallis (the rank analog of q309's
  * ANOVA across ALL event types), Kendall's τ-b (monotone association
  * between daily revenue and order count — slope-free, tie-aware),
  * the 1-Wasserstein distance between two value distributions (the
  * integrated-CDF companion to q181's sup-norm KS statistic), and the
  * Herfindahl–Hirschman concentration index of supplier revenue per
  * nation (the antitrust-standard statistic; q187's Gini ranks
  * inequality, HHI measures market power and its inverse is the
  * effective competitor count).
  *
  * Shared scale discipline: every rank is computed over a VALUE
  * HISTOGRAM, never a per-row sort — `events.value` lives on a fixed
  * 2-dp grid (0.01–490.02, ≤49 002 distinct values, CONSTANT in corpus
  * size), so the unpartitioned cum-count window runs over a bounded
  * aggregate frame (the PlanGuard-sanctioned shape; see q310's
  * day-frame precedent). Rank sums stay in INTEGER half-rank units
  * (2·avgRank = 2·cumBefore + tieCount + 1 is always integral), tie
  * corrections are Σ(t³−t) integer sums, and each final statistic is
  * ONE double formula over a single row of longs — deterministic
  * cross-engine with no order-dependent float aggregation anywhere.
  * Quantization is floor-on-scaled (never round(): Spark HALF_UP on
  * the shortest decimal form vs DuckDB exact-binary — the q299/q309
  * hazard class). All five are DuckDB-oracle-checked. */
object Wave50Queries extends QuerySet {

  /** Tie-aware value histogram of the two-sample event slice: per
    * distinct value, total count, group-1 count, and the cumulative
    * count of strictly-smaller values (the rank machinery for
    * q323/q326). Frame bounded by the 2-dp value grid. */
  private def twoSampleHist(s: SparkSession, d: String,
                            g1Type: String, g0Type: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .where($"event_type".isin(g1Type, g0Type))
      .select(($"event_type" === g1Type).cast("long").as("g1"), $"value")
      .groupBy($"value")
      .agg(count(lit(1)).cast("long").as("nv"), sum($"g1").as("n1v"))
      .withColumn("cb", coalesce(
        sum($"nv").over(Window.orderBy($"value")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
  }

  /** Mann–Whitney U (purchase vs view event values), tie-corrected
    * normal z. Average ranks in half-units keep R₁ integral:
    * R₁·2 = Σ n1(v)·(2·cumBefore(v) + n(v) + 1); U₁ and z then assemble
    * from five longs in one row. No p-value column — DuckDB has no erf,
    * and z is the checkable statistic. */
  private val q323: Q = (s, d) => {
    import s.implicits._
    twoSampleHist(s, d, "purchase", "view")
      .agg(sum($"n1v" * (lit(2L) * $"cb" + $"nv" + 1L)).as("r1t"),
        sum($"n1v").as("n1"), sum($"nv").as("n"),
        sum($"nv" * $"nv" * $"nv" - $"nv").as("t"))
      .select($"n1", ($"n" - $"n1").as("n2"),
        (($"r1t" - $"n1" * ($"n1" + 1L)) / lit(2.0)).as("u_stat"),
        (floor((($"r1t" - $"n1" * ($"n1" + 1L) - $"n1" * ($"n" - $"n1")) /
          (lit(2.0) * sqrt(($"n1".cast("double") * ($"n" - $"n1") / 12.0) *
            (($"n" + 1L) - $"t".cast("double") /
              ($"n".cast("double") * ($"n" - 1L)))))) * 1e6) / 1e6)
          .as("z_stat"))
  }

  /** Kruskal–Wallis H across ALL FIVE event types (rank analog of
    * q309's ANOVA), with the Σ(t³−t) tie correction. Per-type half-unit
    * rank sums come off one (type,value)-cell frame joined to the
    * shared value histogram; the five R²/n terms cross the final sum as
    * EXPLICIT left-associated addition over pivoted columns (5 known
    * types), so no engine ever reorders a float reduction. */
  private val q324: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"value")
    val hist = ev.groupBy($"value")
      .agg(count(lit(1)).cast("long").as("nv"))
      .withColumn("cb", coalesce(
        sum($"nv").over(Window.orderBy($"value")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val cells = ev.groupBy($"event_type", $"value")
      .agg(count(lit(1)).cast("long").as("ng"))
    val perType = cells.join(hist, Seq("value"))
      .groupBy($"event_type")
      .agg(sum($"ng" * (lit(2L) * $"cb" + $"nv" + 1L)).as("rt"),
        sum($"ng").as("ni"))
      // term = Rᵢ²/nᵢ = (Rᵢ·2)²/(4nᵢ); the square leaves long range at
      // scale, so it runs in doubles — deterministically, both factors
      // exact casts of the same longs in both engines
      .select($"event_type", $"ni",
        ($"rt".cast("double") * $"rt" / (lit(4.0) * $"ni")).as("term"))
    val ties = hist.agg(sum($"nv" * $"nv" * $"nv" - $"nv").as("t"),
      sum($"nv").as("n"))
    perType.groupBy()
      .agg(
        max(when($"event_type" === "click", $"term")).as("tc"),
        max(when($"event_type" === "error", $"term")).as("te"),
        max(when($"event_type" === "purchase", $"term")).as("tp"),
        max(when($"event_type" === "signup", $"term")).as("ts"),
        max(when($"event_type" === "view", $"term")).as("tv"),
        count(lit(1)).cast("long").as("k"))
      .crossJoin(broadcast(ties))
      .select($"n", $"k",
        (floor((lit(12.0) / ($"n".cast("double") * ($"n" + 1L)) *
          ($"tc" + $"te" + $"tp" + $"ts" + $"tv") -
          lit(3.0) * ($"n" + 1L)) * 1e6) / 1e6).as("h_stat"),
        (floor(((lit(12.0) / ($"n".cast("double") * ($"n" + 1L)) *
          ($"tc" + $"te" + $"tp" + $"ts" + $"tv") -
          lit(3.0) * ($"n" + 1L)) /
          (lit(1.0) - $"t".cast("double") /
            ($"n".cast("double") * $"n" * $"n" - $"n"))) * 1e6) / 1e6)
          .as("h_tie_corrected"))
  }

  /** Kendall τ-b between daily revenue and daily order count. The pair
    * set is the DAY frame squared (span-bounded, constant in corpus
    * size — the q310 Theil–Sen precedent), never row-count-squared.
    * Concordant/discordant/tie classes are exact integer counts off
    * cent-exact daily revenue; τ-b = (C−D)/√((C+D+Ty)(C+D+Tx)) is one
    * double formula (Ty = pairs tied ONLY in y, Tx ONLY in x). */
  private val q325: Q = (s, d) => {
    import s.implicits._
    val day = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("rev"),
        count(lit(1)).cast("long").as("cnt"))
    day.as("a").join(day.as("b"), $"a.day" < $"b.day")
      .agg(
        count(lit(1)).cast("long").as("n_pairs"),
        sum(when(($"a.rev" < $"b.rev" && $"a.cnt" < $"b.cnt") ||
          ($"a.rev" > $"b.rev" && $"a.cnt" > $"b.cnt"), 1L).otherwise(0L))
          .as("concordant"),
        sum(when(($"a.rev" < $"b.rev" && $"a.cnt" > $"b.cnt") ||
          ($"a.rev" > $"b.rev" && $"a.cnt" < $"b.cnt"), 1L).otherwise(0L))
          .as("discordant"),
        sum(when($"a.rev" === $"b.rev" && $"a.cnt" =!= $"b.cnt", 1L)
          .otherwise(0L)).as("tie_x_only"),
        sum(when($"a.cnt" === $"b.cnt" && $"a.rev" =!= $"b.rev", 1L)
          .otherwise(0L)).as("tie_y_only"))
      .select($"n_pairs", $"concordant", $"discordant",
        (floor((($"concordant" - $"discordant") /
          sqrt(($"concordant" + $"discordant" + $"tie_y_only")
            .cast("double") *
            ($"concordant" + $"discordant" + $"tie_x_only"))) * 1e6) / 1e6)
          .as("tau_b"))
  }

  /** 1-Wasserstein (earth-mover) distance between the purchase and view
    * value distributions — the integrated-|ΔCDF| companion to q181's KS
    * sup-norm, sensitive to WHERE the mass moved, not just the largest
    * gap. Fully integer until the final division: on the cent grid,
    * W₁·(nₐ·n_b·100) = Σ |cumA·n_b − cumB·nₐ|·gap_cents exactly, every
    * term a long (cents exact via round(v·100): the grid sits at
    * integers, far from HALF_UP boundaries). */
  private val q326: Q = (s, d) => {
    import s.implicits._
    val h = twoSampleHist(s, d, "purchase", "view")
      .select(round($"value" * 100, 0).cast("long").as("vc"),
        $"n1v".as("na_v"), ($"nv" - $"n1v").as("nb_v"))
    val cum = h.select($"vc",
        sum($"na_v").over(Window.orderBy($"vc")
          .rowsBetween(Window.unboundedPreceding, 0)).as("ca"),
        sum($"nb_v").over(Window.orderBy($"vc")
          .rowsBetween(Window.unboundedPreceding, 0)).as("cb"),
        (lead($"vc", 1).over(Window.orderBy($"vc")) - $"vc").as("gap"))
      .where($"gap".isNotNull)
    cum.crossJoin(broadcast(h.agg(sum($"na_v").as("na"),
        sum($"nb_v").as("nb"))))
      .agg(max($"na").as("n_a"), max($"nb").as("n_b"),
        sum(abs($"ca" * $"nb" - $"cb" * $"na") * $"gap").as("s"))
      .select($"n_a", $"n_b",
        (floor(($"s".cast("double") /
          ($"n_a".cast("double") * $"n_b" * 100.0)) * 1e6) / 1e6)
          .as("w1_distance"))
  }

  /** Herfindahl–Hirschman concentration of supplier revenue within each
    * nation: HHI = Σ shareᵢ² ≡ Σ revᵢ² / (Σ revᵢ)², and 1/HHI is the
    * effective number of competitors. Revenue is 4-dp-scaled-long exact
    * (the Exact.dsumScaled discipline); the per-supplier square leaves
    * long range, so it rounds ONCE deterministically in doubles and the
    * cross-supplier sum goes through DECIMAL(38,0) — exact for
    * integer-valued doubles ≥ 2⁵³, order-free in both engines. */
  private val q327: Q = (s, d) => {
    import s.implicits._
    val rev = Tables.lineitem(s, d)
      .groupBy($"l_suppkey")
      .agg(sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 10000, 0)
        .cast("long")).as("r4"))
    rev.join(broadcast(Tables.supplier(s, d)
        .select($"s_suppkey".as("l_suppkey"), $"s_nationkey")), Seq("l_suppkey"))
      .join(broadcast(Tables.nation(s, d)
        .select($"n_nationkey".as("s_nationkey"), $"n_name")), Seq("s_nationkey"))
      .groupBy($"n_name".as("nation"))
      .agg(count(lit(1)).cast("long").as("n_suppliers"),
        sum($"r4".cast("decimal(38,0)")).cast("double").as("tot"),
        sum(($"r4".cast("double") * $"r4").cast("decimal(38,0)"))
          .cast("double").as("ssq"))
      .select($"nation", $"n_suppliers",
        (floor($"ssq" / ($"tot" * $"tot") * 1e6) / 1e6).as("hhi"),
        (floor(($"tot" * $"tot" / $"ssq") * 1e4) / 1e4)
          .as("effective_suppliers"))
      .orderBy($"nation")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q323_mann_whitney" -> q323,
    "q324_kruskal_wallis" -> q324,
    "q325_kendall_tau" -> q325,
    "q326_wasserstein_values" -> q326,
    "q327_hhi_concentration" -> q327)

  // ---- oracle SQL -------------------------------------------------------

  private val twoSampleHistSql =
    """SELECT value, CAST(count(*) AS BIGINT) AS nv,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n1v
      |  FROM events WHERE event_type IN ('purchase', 'view')
      |  GROUP BY value""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q323_mann_whitney" ->
      s"""WITH h AS ($twoSampleHistSql),
        |c AS (SELECT nv, n1v, COALESCE(CAST(sum(nv) OVER (ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |    0) AS cb FROM h),
        |a AS (SELECT CAST(sum(n1v*(2*cb + nv + 1)) AS BIGINT) AS r1t,
        |    CAST(sum(n1v) AS BIGINT) AS n1,
        |    CAST(sum(nv) AS BIGINT) AS n,
        |    CAST(sum(nv*nv*nv - nv) AS BIGINT) AS t
        |  FROM c)
        |SELECT n1, n - n1 AS n2,
        |  (r1t - n1*(n1+1)) / 2.0 AS u_stat,
        |  floor((r1t - n1*(n1+1) - n1*(n-n1)) /
        |    (2.0 * sqrt((CAST(n1 AS DOUBLE)*(n-n1)/12.0) *
        |      ((n+1) - CAST(t AS DOUBLE) /
        |        (CAST(n AS DOUBLE)*(n-1))))) * 1e6) / 1e6 AS z_stat
        |FROM a""".stripMargin,
    "q324_kruskal_wallis" ->
      """WITH hist AS (SELECT value, CAST(count(*) AS BIGINT) AS nv
        |  FROM events GROUP BY 1),
        |cum AS (SELECT value, nv, COALESCE(CAST(sum(nv) OVER (ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |    0) AS cb FROM hist),
        |cells AS (SELECT event_type, value,
        |    CAST(count(*) AS BIGINT) AS ng FROM events GROUP BY 1, 2),
        |pt AS (SELECT event_type,
        |    CAST(sum(ng*(2*cb + nv + 1)) AS BIGINT) AS rt,
        |    CAST(sum(ng) AS BIGINT) AS ni
        |  FROM cells JOIN cum USING (value) GROUP BY 1),
        |terms AS (SELECT event_type,
        |    CAST(rt AS DOUBLE) * rt / (4.0 * ni) AS term FROM pt),
        |piv AS (SELECT
        |    max(CASE WHEN event_type='click' THEN term END) AS tc,
        |    max(CASE WHEN event_type='error' THEN term END) AS te,
        |    max(CASE WHEN event_type='purchase' THEN term END) AS tp,
        |    max(CASE WHEN event_type='signup' THEN term END) AS ts,
        |    max(CASE WHEN event_type='view' THEN term END) AS tv,
        |    CAST(count(*) AS BIGINT) AS k FROM terms),
        |ties AS (SELECT CAST(sum(nv*nv*nv - nv) AS BIGINT) AS t,
        |    CAST(sum(nv) AS BIGINT) AS n FROM hist)
        |SELECT n, k,
        |  floor((12.0 / (CAST(n AS DOUBLE)*(n+1)) * (tc+te+tp+ts+tv) -
        |    3.0*(n+1)) * 1e6) / 1e6 AS h_stat,
        |  floor(((12.0 / (CAST(n AS DOUBLE)*(n+1)) * (tc+te+tp+ts+tv) -
        |    3.0*(n+1)) /
        |    (1.0 - CAST(t AS DOUBLE) /
        |      (CAST(n AS DOUBLE)*n*n - n))) * 1e6) / 1e6
        |    AS h_tie_corrected
        |FROM piv, ties""".stripMargin,
    "q325_kendall_tau" ->
      """WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT))
        |      AS BIGINT) AS rev,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN (a.rev < b.rev AND a.cnt < b.cnt)
        |      OR (a.rev > b.rev AND a.cnt > b.cnt) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS concordant,
        |    CAST(sum(CASE WHEN (a.rev < b.rev AND a.cnt > b.cnt)
        |      OR (a.rev > b.rev AND a.cnt < b.cnt) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS discordant,
        |    CAST(sum(CASE WHEN a.rev = b.rev AND a.cnt <> b.cnt
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tie_x_only,
        |    CAST(sum(CASE WHEN a.cnt = b.cnt AND a.rev <> b.rev
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tie_y_only
        |  FROM day a JOIN day b ON a.day < b.day)
        |SELECT n_pairs, concordant, discordant,
        |  floor((concordant - discordant) /
        |    sqrt(CAST(concordant + discordant + tie_y_only AS DOUBLE) *
        |      (concordant + discordant + tie_x_only)) * 1e6) / 1e6 AS tau_b
        |FROM p""".stripMargin,
    "q326_wasserstein_values" ->
      s"""WITH h0 AS ($twoSampleHistSql),
        |h AS (SELECT CAST(round(value*100, 0) AS BIGINT) AS vc,
        |    n1v AS na_v, nv - n1v AS nb_v FROM h0),
        |cum AS (SELECT vc,
        |    CAST(sum(na_v) OVER (ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS ca,
        |    CAST(sum(nb_v) OVER (ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cb,
        |    lead(vc) OVER (ORDER BY vc) - vc AS gap
        |  FROM h),
        |tot AS (SELECT CAST(sum(na_v) AS BIGINT) AS na,
        |    CAST(sum(nb_v) AS BIGINT) AS nb FROM h)
        |SELECT na AS n_a, nb AS n_b,
        |  floor(CAST(sum(abs(ca*nb - cb*na) * gap) AS DOUBLE) /
        |    (CAST(na AS DOUBLE) * nb * 100.0) * 1e6) / 1e6
        |    AS w1_distance
        |FROM cum, tot WHERE gap IS NOT NULL GROUP BY na, nb""".stripMargin,
    "q327_hhi_concentration" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice*(1 - l_discount)*10000, 0)
        |      AS BIGINT)) AS BIGINT) AS r4
        |  FROM lineitem GROUP BY 1),
        |g AS (SELECT n_name AS nation,
        |    CAST(count(*) AS BIGINT) AS n_suppliers,
        |    CAST(sum(CAST(r4 AS DECIMAL(38,0))) AS DOUBLE) AS tot,
        |    CAST(sum(CAST(CAST(r4 AS DOUBLE) * r4 AS DECIMAL(38,0)))
        |      AS DOUBLE) AS ssq
        |  FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1)
        |SELECT nation, n_suppliers,
        |  floor(ssq / (tot * tot) * 1e6) / 1e6 AS hhi,
        |  floor((tot * tot / ssq) * 1e4) / 1e4 AS effective_suppliers
        |FROM g ORDER BY nation""".stripMargin)
}
