package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave46Queries.scala holds round-12 WAVE-49 queries
  * q309–q313 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Inference-grade statistics, each computed without ever sorting raw
  * rows globally: one-way ANOVA (does day-of-week move order value, or
  * is q237's table noise?), the Theil–Sen robust trend (outlier-proof
  * where q292's OLS slope is not — computed over the span-bounded day
  * frame, never over orders), the Wald–Wolfowitz runs test (is the
  * daily series random or regime-y — the check before trusting any
  * trend), Spearman rank stability of part revenue across adjacent
  * years (do the top sellers stay the top sellers), and the cohort
  * LTV curve (q114 counts retained users; this accumulates their
  * value). All five are DuckDB-oracle-checked. */
object Wave46Queries extends QuerySet {

  /** One-way ANOVA of order value across day-of-week groups: the
    * F-statistic that says whether q237's day-of-week revenue table
    * reflects a real effect. Group sums Σx, Σx² are decimal-exact
    * (2-dp prices → 4-dp squares); SSB/SSW assemble on the 7-row group
    * frame; one double formula at the end. Day-of-week is normalized
    * to 0=Sunday in BOTH engines (Spark's dayofweek is 1-based,
    * DuckDB's dow is 0-based — the label must come from the same
    * convention or group rows hash-mismatch). */
  private val q309: Q = (s, d) => {
    import s.implicits._
    val g = Tables.orders(s, d)
      .select((dayofweek($"o_orderdate") - 1).as("dow"), $"o_totalprice")
      .groupBy($"dow")
      .agg(count(lit(1)).cast("long").as("ng"),
        sum(round($"o_totalprice", 2).cast("decimal(28,2)"))
          .cast("double").as("s1"),
        sum(round($"o_totalprice" * $"o_totalprice", 4)
          .cast("decimal(38,4)")).cast("double").as("s2"))
    val tot = g.agg(sum($"ng").as("n"), count(lit(1)).cast("long").as("k"),
      sum($"s1".cast("decimal(38,6)")).cast("double").as("ts1"))
    // per-group terms quantize via decimal CAST, not round(): at this
    // magnitude the 6-dp grid is below double ULP, and Spark's round()
    // (HALF_UP on the SHORTEST decimal form) disagrees with DuckDB's
    // exact-binary rounding — cast rounds the exact binary value in both
    g.crossJoin(broadcast(tot))
      .select($"n", $"k", $"ts1",
        ($"s2" - $"s1" * $"s1" / $"ng").cast("decimal(38,6)").as("ssw_g"),
        ($"ng" * ($"s1" / $"ng" - $"ts1" / $"n") *
          ($"s1" / $"ng" - $"ts1" / $"n")).cast("decimal(38,6)").as("ssb_g"))
      .groupBy($"n", $"k")
      .agg(sum($"ssw_g").cast("double").as("ssw"),
        sum($"ssb_g").cast("double").as("ssb"))
      // sums of squares surface in MILLIONS: rounding a ~1e14 double at
      // 2 dp is below double ULP and DuckDB's multiply-based round()
      // returns noise there — scaling first restores a safe grid/ULP ratio
      .select($"n", $"k",
        round($"ssb" / 1e6, 2).as("ss_between_m"),
        round($"ssw" / 1e6, 2).as("ss_within_m"),
        round(($"ssb" / ($"k" - 1)) / ($"ssw" / ($"n" - $"k")), 6)
          .as("f_stat"))
  }

  /** Theil–Sen robust trend of daily revenue: the median of all
    * pairwise day-to-day slopes — immune to the outlier days that pull
    * q292-style OLS slopes around. The pair set is |days|² — bounded
    * by the TIME SPAN squared (constant in corpus size; a decade is
    * ~6.7 M pairs), never by row count. Slopes quantize to a 1-cent/
    * day grid via floor (boundary-safe in both engines); the median is
    * exact nearest-rank over the slope histogram (the q211
    * discipline). The OLS slope over the same day frame is attached
    * for the robustness gap. */
  private val q310: Q = (s, d) => {
    import s.implicits._
    val day = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(round(sum(round($"o_totalprice" * 100, 0).cast("long")) / 100.0, 2)
        .as("r"))
      .select(datediff($"day", lit("1995-01-01").cast("date")).cast("long")
        .as("t"), $"r")
      // staged: unstaged, the orders scan runs twice and q310 is slower
      // (0.618 → 0.770 s at sf0.1)
      .transform(graft.ops.Staged(_))
    // two-stage exact nearest-rank median: daily-revenue deltas are
    // near-unique, so a value histogram is ~1:1 with the pair set and a
    // single global window over it is a 10⁶-row one-partition sort.
    // Instead: locate the median's COARSE bucket (10⁵-cent/day stripes —
    // a few-hundred-row frame), then resolve the exact grid value only
    // inside that one bucket (≤10⁵-value frame). Both windows run over
    // collapsed, bounded frames at any span.
    // round-15: the staged day frame is one AQE-coalesced partition
    // (tiny aggregate output), so the O(days²) pair generation — and
    // both staged-slope consumers downstream of it — ran on ONE core.
    // Spreading the STREAM side of the nested-loop join by t (explicit
    // partition count so AQE does not re-coalesce the tiny frame; the
    // per-input-row fan-out is ~|days|/2 pair rows, which is what must
    // parallelize) puts all three 10⁶-row passes on the full cluster.
    // At sf0.1's 2.9 M pairs this is wall-time-neutral once codegen is
    // warm (A/B: 1.46 vs 1.50 s) — the win is the multi-core scaling
    // headroom as the day span (and the quadratic pair count) grows.
    // Identical output: counts and decimal sums are partitioning-
    // independent.
    val dayA = day.repartition(s.sparkContext.defaultParallelism, $"t")
    // the slope is guarded on b.t > a.t, not only filtered by the join:
    // the optimizer may evaluate it on every candidate pair (an inferred
    // isnotnull(bkt) lands in the join condition), and ANSI division
    // raises on the a.t = b.t pairs
    val slopes = dayA.as("a").join(day.as("b"), $"a.t" < $"b.t")
      .select(floor(when($"b.t" > $"a.t",
          ($"b.r" - $"a.r") / ($"b.t" - $"a.t")) * 100)
        .cast("long").as("sl"))
      .withColumn("bkt", floor($"sl" / 100000.0).cast("long"))
      // staged: unstaged, the pair join re-runs per consumer (19 → 25
      // jobs; +1.5% shuffle bytes at sf0.01, +2.4% at sf0.1)
      .transform(graft.ops.Staged(_))
    val bhist = slopes.groupBy($"bkt").agg(count(lit(1)).cast("long").as("c"))
    val locate = bhist
      .withColumn("cum", sum($"c").over(Window.orderBy($"bkt")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(bhist.agg(sum($"c").cast("long").as("np"))))
      .where($"cum" >= floor(($"np" + 1) / 2).cast("long"))
      .agg(min(struct($"bkt", ($"cum" - $"c").as("before"), $"np")).as("m"))
      .select($"m.bkt".as("mb"), $"m.before".as("before"), $"m.np".as("np"))
    val med = slopes.join(broadcast(locate), $"bkt" === $"mb")
      .groupBy($"sl", $"before", $"np")
      .agg(count(lit(1)).cast("long").as("c"))
      .withColumn("cum", $"before" + sum($"c").over(Window.orderBy($"sl")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .agg(max($"np").as("n_pairs"),
        (min(when($"cum" >= floor(($"np" + 1) / 2).cast("long"), $"sl")) /
          lit(100.0)).as("theil_sen_slope"))
    val ols = day.agg(count(lit(1)).cast("double").as("n"),
        sum($"t".cast("decimal(28,0)")).cast("double").as("sx"),
        sum(($"t" * $"t").cast("decimal(38,0)")).cast("double").as("sxx"),
        sum($"r".cast("decimal(28,2)")).cast("double").as("sy"),
        sum(round($"t" * $"r", 2).cast("decimal(38,2)")).cast("double")
          .as("sxy"))
      .select($"n".cast("long").as("n_days"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n" * $"sxx" - $"sx" * $"sx"), 6).as("ols_slope"))
    med.crossJoin(broadcast(ols))
      .select($"n_days", $"n_pairs", $"theil_sen_slope", $"ols_slope")
  }

  /** Wald–Wolfowitz runs test on daily revenue around its median: too
    * few runs says regimes (seasonality, drift — trust q303's ACF),
    * too many says oscillation; |z| < 2 says the trend machinery above
    * is reading noise. The median is exact nearest-rank over the
    * revenue histogram; the run count is one lag over the date-ordered
    * DAY frame (span-bounded — the admitted global-window shape);
    * median-tied days are excluded (the standard convention). */
  private val q311: Q = (s, d) => {
    import s.implicits._
    val day = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(round(sum(round($"o_totalprice" * 100, 0).cast("long")) / 100.0, 2)
        .as("r"))
    val hist = day.groupBy($"r").agg(count(lit(1)).cast("long").as("c"))
    val med = hist
      .withColumn("cum", sum($"c").over(Window.orderBy($"r")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(hist.agg(sum($"c").cast("long").as("nd"))))
      .agg(min(when($"cum" >= floor(($"nd" + 1) / 2).cast("long"), $"r"))
        .as("median_r"))
    val signed = day.crossJoin(broadcast(med))
      .where($"r" =!= $"median_r")
      .select($"day", ($"r" > $"median_r").cast("int").as("sgn"))
    val runs = signed
      .withColumn("brk", when(lag($"sgn", 1).over(Window.orderBy($"day"))
        .isNull || lag($"sgn", 1).over(Window.orderBy($"day")) =!= $"sgn", 1L)
        .otherwise(0L))
      .agg(sum(when($"sgn" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"sgn" === 0, 1L).otherwise(0L)).as("n2"),
        sum($"brk").as("rr"))
    val n1d = $"n1".cast("double"); val n2d = $"n2".cast("double")
    val mu = lit(2.0) * n1d * n2d / (n1d + n2d) + 1
    val sg = sqrt(lit(2.0) * n1d * n2d *
      (lit(2.0) * n1d * n2d - n1d - n2d) /
      ((n1d + n2d) * (n1d + n2d) * (n1d + n2d - 1)))
    runs.select($"n1".as("n_above"), $"n2".as("n_below"),
      $"rr".as("n_runs"), round(($"rr" - mu) / sg, 6).as("z"))
  }

  /** Spearman rank stability of part revenue across adjacent years:
    * ρ near 1 says the catalog's top sellers persist (caches, stocking
    * and bucketing choices keyed on last year's hot parts stay valid);
    * near 0 says re-derive them. Ranks are row_numbers with a total
    * tie-break (revenue desc, partkey) over per-year PART-bounded
    * frames (a dimension, never row count); Spearman is then the exact
    * Pearson of two INTEGER rank columns — every sum is exact in
    * decimal. Parts absent from either year are excluded (stated). */
  private val q312: Q = (s, d) => {
    import s.implicits._
    val rev = Tables.lineitem(s, d)
      .where(year($"l_shipdate").isin(1996, 1997))
      .groupBy(year($"l_shipdate").as("yr"), $"l_partkey")
      .agg(sum(round($"l_extendedprice" * (lit(1) - $"l_discount"), 4)
        .cast("decimal(38,4)")).as("rev"))
    val ranked = rev.withColumn("rnk",
      row_number().over(Window.partitionBy($"yr")
        .orderBy($"rev".desc, $"l_partkey")).cast("long"))
    val a = ranked.where($"yr" === 1996).select($"l_partkey", $"rnk".as("ra"))
    val b = ranked.where($"yr" === 1997).select($"l_partkey", $"rnk".as("rb"))
    a.join(b, Seq("l_partkey"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum($"ra".cast("decimal(28,0)")).cast("double").as("sx"),
        sum(($"ra" * $"ra").cast("decimal(38,0)")).cast("double").as("sxx"),
        sum($"rb".cast("decimal(28,0)")).cast("double").as("sy"),
        sum(($"rb" * $"rb").cast("decimal(38,0)")).cast("double").as("syy"),
        sum(($"ra" * $"rb").cast("decimal(38,0)")).cast("double").as("sxy"))
      .select($"n".cast("long").as("n_parts"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx") *
            ($"n" * $"syy" - $"sy" * $"sy")), 6).as("spearman"))
  }

  /** Cohort LTV curve: cumulative revenue per customer by months since
    * the cohort's first order (k = 0…5) — q114 counts who RETURNS,
    * this accumulates what they are WORTH, the number reacquisition
    * budgets come from. Month indices are exact integers (y·12+m);
    * the cumulative window runs over the (cohort × 6) frame — bounded
    * by the time span and the horizon, never by customers. Revenue is
    * decimal-exact; the per-customer division happens once at the
    * end. */
  private val q313: Q = (s, d) => {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_custkey",
      (year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long")
        .as("midx"),
      round($"o_totalprice", 2).cast("decimal(28,2)").as("rev"))
      // staged: unstaged, the orders scan runs three times and q313 is
      // no faster at sf0.01
      .transform(graft.ops.Staged(_))
    val first = o.groupBy($"o_custkey").agg(min($"midx").as("cm"))
    val sized = first.groupBy($"cm").agg(count(lit(1)).cast("long")
      .as("n_customers"))
    val flows = o.join(first, Seq("o_custkey"))
      .select($"cm", ($"midx" - $"cm").as("k"), $"rev")
      .where($"k".between(0, 5))
      .groupBy($"cm", $"k")
      .agg(sum($"rev").cast("decimal(38,2)").as("mrev"))
    flows
      .withColumn("cum", sum($"mrev").over(Window.partitionBy($"cm")
        .orderBy($"k").rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(sized), Seq("cm"))
      .select($"cm".as("cohort_month_idx"), $"k", $"n_customers",
        round($"cum".cast("double") / $"n_customers", 2)
          .as("cum_revenue_per_customer"))
      .orderBy($"cohort_month_idx", $"k")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q309_anova_dow_revenue" -> q309,
    "q310_theilsen_trend" -> q310,
    "q311_runs_test" -> q311,
    "q312_rank_stability" -> q312,
    "q313_cohort_ltv" -> q313)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q309_anova_dow_revenue" ->
      """WITH g AS (SELECT date_part('dow', o_orderdate) AS dow,
        |    CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(28,2)))
        |      AS DOUBLE) AS s1,
        |    CAST(sum(CAST(round(o_totalprice * o_totalprice, 4)
        |      AS DECIMAL(38,4))) AS DOUBLE) AS s2
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(CAST(s1 AS DECIMAL(38,6))) AS DOUBLE) AS ts1 FROM g),
        |p AS (SELECT n, k,
        |    CAST(s2 - s1 * s1 / ng AS DECIMAL(38,6)) AS ssw_g,
        |    CAST(ng * (s1 / ng - ts1 / n) * (s1 / ng - ts1 / n)
        |      AS DECIMAL(38,6)) AS ssb_g
        |  FROM g CROSS JOIN tot),
        |a AS (SELECT n, k,
        |    CAST(sum(ssw_g) AS DOUBLE) AS ssw,
        |    CAST(sum(ssb_g) AS DOUBLE) AS ssb
        |  FROM p GROUP BY 1, 2)
        |SELECT n, k,
        |  round(ssb / 1e6, 2) AS ss_between_m,
        |  round(ssw / 1e6, 2) AS ss_within_m,
        |  round((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat
        |FROM a""".stripMargin,
    "q310_theilsen_trend" ->
      """WITH day AS (SELECT
        |    CAST(date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
        |    round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      / 100.0, 2) AS r
        |  FROM orders GROUP BY 1),
        |sl AS (SELECT CAST(floor(((b.r - a.r) / (b.t - a.t)) * 100)
        |    AS BIGINT) AS sl
        |  FROM day a JOIN day b ON a.t < b.t),
        |h AS (SELECT sl, CAST(count(*) AS BIGINT) AS c FROM sl GROUP BY 1),
        |cm AS (SELECT sl,
        |    sum(c) OVER (ORDER BY sl
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    (SELECT CAST(sum(c) AS BIGINT) FROM h) AS np
        |  FROM h),
        |med AS (SELECT CAST(max(np) AS BIGINT) AS n_pairs,
        |    min(CASE WHEN cum >= CAST(floor((np + 1) / 2.0) AS BIGINT)
        |      THEN sl END) / 100.0 AS theil_sen_slope
        |  FROM cm),
        |ols AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    round((count(*) * CAST(sum(CAST(round(t * r, 2)
        |        AS DECIMAL(38,2))) AS DOUBLE)
        |      - CAST(sum(CAST(t AS DECIMAL(28,0))) AS DOUBLE)
        |        * CAST(sum(CAST(r AS DECIMAL(28,2))) AS DOUBLE))
        |      / (count(*) * CAST(sum(CAST(t * t AS DECIMAL(38,0)))
        |          AS DOUBLE)
        |        - CAST(sum(CAST(t AS DECIMAL(28,0))) AS DOUBLE)
        |          * CAST(sum(CAST(t AS DECIMAL(28,0))) AS DOUBLE)), 6)
        |      AS ols_slope
        |  FROM day)
        |SELECT n_days, n_pairs, theil_sen_slope, ols_slope
        |FROM med CROSS JOIN ols""".stripMargin,
    "q311_runs_test" ->
      """WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      / 100.0, 2) AS r
        |  FROM orders GROUP BY 1),
        |h AS (SELECT r, CAST(count(*) AS BIGINT) AS c FROM day GROUP BY 1),
        |cm AS (SELECT r,
        |    sum(c) OVER (ORDER BY r
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    (SELECT CAST(sum(c) AS BIGINT) FROM h) AS nd
        |  FROM h),
        |med AS (SELECT min(CASE WHEN cum >=
        |    CAST(floor((nd + 1) / 2.0) AS BIGINT) THEN r END) AS median_r
        |  FROM cm),
        |sg AS (SELECT day, CAST(r > median_r AS INTEGER) AS sgn
        |  FROM day CROSS JOIN med WHERE r <> median_r),
        |rn AS (SELECT sgn, CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
        |    OR lag(sgn) OVER (ORDER BY day) <> sgn THEN 1 ELSE 0 END AS brk
        |  FROM sg),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(brk) AS BIGINT) AS rr
        |  FROM rn)
        |SELECT n1 AS n_above, n2 AS n_below, rr AS n_runs,
        |  round((rr - (2.0 * n1 * n2 / (n1 + n2) + 1))
        |    / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        |      / ((CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2)
        |        * (n1 + n2 - 1))), 6) AS z
        |FROM a""".stripMargin,
    "q312_rank_stability" ->
      """WITH rev AS (SELECT date_part('year', l_shipdate) AS yr, l_partkey,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
        |      AS DECIMAL(38,4))) AS rev
        |  FROM lineitem WHERE date_part('year', l_shipdate) IN (1996, 1997)
        |  GROUP BY 1, 2),
        |rk AS (SELECT yr, l_partkey, CAST(row_number() OVER
        |    (PARTITION BY yr ORDER BY rev DESC, l_partkey) AS BIGINT)
        |    AS rnk
        |  FROM rev),
        |j AS (SELECT a.rnk AS ra, b.rnk AS rb
        |  FROM rk a JOIN rk b ON a.l_partkey = b.l_partkey
        |  WHERE a.yr = 1996 AND b.yr = 1997),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(ra AS DECIMAL(28,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ra * ra AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(rb AS DECIMAL(28,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(rb * rb AS DECIMAL(38,0))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(ra * rb AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        |  FROM j)
        |SELECT CAST(n AS BIGINT) AS n_parts,
        |  round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx)
        |    * (n * syy - sy * sy)), 6) AS spearman
        |FROM s""".stripMargin,
    "q313_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(date_part('year', o_orderdate) * 12
        |      + date_part('month', o_orderdate) AS BIGINT) AS midx,
        |    CAST(round(o_totalprice, 2) AS DECIMAL(28,2)) AS rev
        |  FROM orders),
        |f AS (SELECT o_custkey, min(midx) AS cm FROM o GROUP BY 1),
        |sz AS (SELECT cm, CAST(count(*) AS BIGINT) AS n_customers
        |  FROM f GROUP BY 1),
        |fl AS (SELECT f.cm, o.midx - f.cm AS k,
        |    CAST(sum(rev) AS DECIMAL(38,2)) AS mrev
        |  FROM o JOIN f USING (o_custkey)
        |  WHERE o.midx - f.cm BETWEEN 0 AND 5
        |  GROUP BY 1, 2),
        |cu AS (SELECT cm, k,
        |    sum(mrev) OVER (PARTITION BY cm ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM fl)
        |SELECT cm AS cohort_month_idx, k, n_customers,
        |  round(CAST(cum AS DOUBLE) / n_customers, 2)
        |    AS cum_revenue_per_customer
        |FROM cu JOIN sz USING (cm)
        |ORDER BY cohort_month_idx, k""".stripMargin)
}
