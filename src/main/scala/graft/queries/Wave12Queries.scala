package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Graph}

/** Round-9 wave-14 queries: triangle/clustering structure of the
  * duplication graph, an A/B lift report with Welch statistics, and
  * seasonal-baseline anomaly detection. All DuckDB-oracle-checked. */
object Wave12Queries extends QuerySet {

  /** Triangle census of the rare-tile duplication graph
    * ([[Graph.triangles]] over [[Dedup.rareTilePairs]], q155's planted
    * corpus): top 50 nodes by triangle count with degree and local
    * clustering coefficient — separates template FAMILIES (near-clique,
    * coef → 1) from hub-and-spoke mirrors (high degree, coef → 0),
    * which q164's degree histogram cannot. md5 tile keys on the oracle
    * surface (xxhash64 in production). */
  private val q172: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id",
      when($"doc_id" % 11 === 0,
        concat(lit(Wave8Queries.tmpl16 + " "), $"text"))
        .otherwise($"text").as("text"))
    Graph.triangles(
        Dedup.rareTilePairs(docs, "doc_id", "text", k = 8, maxDf = 64,
          minShared = 2, tileKey = c => md5(c)),
        "doc_a", "doc_b")
      .select($"node".as("doc_id"), $"degree", $"n_tri", $"clust_coef")
      .orderBy($"n_tri".desc, $"doc_id")
      .limit(50)
  }

  private val D184 = "decimal(18,4)"

  /** A/B lift report: deterministic user split (user_id parity), per
    * event_type the control/treatment means, relative lift, Welch
    * t-statistic and Welch–Satterthwaite df. ONE scan — both arms'
    * moments come out of a single aggregation via conditional decimal
    * sums (the q37 exact-moment discipline), so the statistic is
    * reduction-order-free; everything after is +,−,×,÷,√ on doubles —
    * IEEE-exact and engine-bit-reproducible on the identical expression
    * tree. */
  private val q173: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).where($"value".isNotNull)
      .withColumn("__t", ($"user_id" % 2).cast("int"))
    def cnt(t: Int) = sum(when($"__t" === t, 1L)).cast("double")
    def sx(t: Int) = sum(when($"__t" === t, $"value".cast(D184))).cast("double")
    def sxx(t: Int) =
      sum(when($"__t" === t, ($"value" * $"value").cast(D184))).cast("double")
    val g = ev.groupBy($"event_type").agg(
      cnt(0).as("__n0"), sx(0).as("__sx0"), sxx(0).as("__sxx0"),
      cnt(1).as("__n1"), sx(1).as("__sx1"), sxx(1).as("__sxx1"))
    val m0 = $"__sx0" / $"__n0"
    val m1 = $"__sx1" / $"__n1"
    val v0 = ($"__sxx0" - $"__sx0" * $"__sx0" / $"__n0") / ($"__n0" - 1)
    val v1 = ($"__sxx1" - $"__sx1" * $"__sx1" / $"__n1") / ($"__n1" - 1)
    val se2 = v1 / $"__n1" + v0 / $"__n0"
    val dfW = se2 * se2 /
      ((v1 / $"__n1") * (v1 / $"__n1") / ($"__n1" - 1) +
        (v0 / $"__n0") * (v0 / $"__n0") / ($"__n0" - 1))
    g.select($"event_type",
        $"__n0".cast("long").as("n_ctl"), $"__n1".cast("long").as("n_trt"),
        round(m0, 9).as("mean_ctl"), round(m1, 9).as("mean_trt"),
        round(m1 / m0 - 1, 9).as("lift"),
        round((m1 - m0) / sqrt(se2), 9).as("t_welch"),
        round(dfW, 9).as("df_welch"))
      .orderBy($"event_type")
  }

  /** Seasonal-baseline anomaly detection: per (event_type, hour-of-day)
    * the mean hourly event count over every OBSERVED hour is the
    * baseline; each concrete (event_type, hour) is scored by its
    * relative deviation |n/baseline − 1|, top 30 reported — the
    * load-spike / outage detector that a flat global threshold misses
    * when traffic has a daily cycle. The hourly frame is types×hours
    * small and read twice (baseline + join); exact integer counts, one
    * division at the end. */
  private val q174: Q = (s, d) => {
    import s.implicits._
    val hourly = Tables.events(s, d)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hour_ts"))
      .agg(count(lit(1)).cast("long").as("n"))
    val base = hourly.groupBy($"event_type", hour($"hour_ts").as("__hod"))
      .agg((sum($"n").cast("double") / count(lit(1))).as("__baseline"))
    hourly.withColumn("__hod", hour($"hour_ts"))
      .join(base, Seq("event_type", "__hod"))
      .select($"event_type", $"hour_ts", $"n",
        round($"__baseline", 9).as("baseline"),
        round(abs($"n" / $"__baseline" - 1), 9).as("dev"))
      .orderBy($"dev".desc, $"event_type", $"hour_ts")
      .limit(30)
  }

  val queries: Seq[(String, Q)] = Seq(
    "q172_triangles" -> q172,
    "q173_ab_lift" -> q173,
    "q174_seasonal_anomaly" -> q174)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    // Orientation note: the Spark side enumerates each triangle once via
    // the degree-oriented join; the oracle uses the simpler a<b<c
    // canonical orientation — the triangle SET (and so every per-node
    // count) is identical, only the join bound differs.
    "q172_triangles" ->
      s"""WITH ${Wave8Queries.dupEdgeSql},
         |und AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
         |  SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY 1),
         |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM und e1 JOIN und e2 ON e1.b = e2.a
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |  SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
         |  UNION ALL SELECT w FROM tri) GROUP BY 1)
         |SELECT deg.node AS doc_id, deg.degree,
         |  CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_tri,
         |  round(CASE WHEN deg.degree > 1
         |    THEN 2.0 * coalesce(tn.n_tri, 0) /
         |      (CAST(deg.degree AS DOUBLE) * (deg.degree - 1))
         |    ELSE 0.0 END, 9) AS clust_coef
         |FROM deg LEFT JOIN tn ON deg.node = tn.node
         |ORDER BY n_tri DESC, doc_id LIMIT 50""".stripMargin,
    "q173_ab_lift" ->
      """WITH g AS (SELECT event_type,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 END) AS DOUBLE) AS n0,
        |    CAST(sum(CASE WHEN user_id % 2 = 0
        |      THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS sx0,
        |    CAST(sum(CASE WHEN user_id % 2 = 0
        |      THEN CAST(value * value AS DECIMAL(18,4)) END) AS DOUBLE) AS sxx0,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 END) AS DOUBLE) AS n1,
        |    CAST(sum(CASE WHEN user_id % 2 = 1
        |      THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS sx1,
        |    CAST(sum(CASE WHEN user_id % 2 = 1
        |      THEN CAST(value * value AS DECIMAL(18,4)) END) AS DOUBLE) AS sxx1
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |m AS (SELECT event_type, n0, n1,
        |    sx0 / n0 AS m0, sx1 / n1 AS m1,
        |    (sxx0 - sx0 * sx0 / n0) / (n0 - 1) AS v0,
        |    (sxx1 - sx1 * sx1 / n1) / (n1 - 1) AS v1
        |  FROM g),
        |w AS (SELECT *, v1 / n1 + v0 / n0 AS se2 FROM m)
        |SELECT event_type,
        |  CAST(n0 AS BIGINT) AS n_ctl, CAST(n1 AS BIGINT) AS n_trt,
        |  round(m0, 9) AS mean_ctl, round(m1, 9) AS mean_trt,
        |  round(m1 / m0 - 1, 9) AS lift,
        |  round((m1 - m0) / sqrt(se2), 9) AS t_welch,
        |  round(se2 * se2 /
        |    ((v1 / n1) * (v1 / n1) / (n1 - 1) +
        |     (v0 / n0) * (v0 / n0) / (n0 - 1)), 9) AS df_welch
        |FROM w ORDER BY event_type""".stripMargin,
    "q174_seasonal_anomaly" ->
      """WITH hourly AS (SELECT event_type,
        |    date_trunc('hour', ts) AS hour_ts,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |base AS (SELECT event_type, hour(hour_ts) AS hod,
        |    CAST(sum(n) AS DOUBLE) / count(*) AS baseline
        |  FROM hourly GROUP BY 1, 2)
        |SELECT h.event_type, h.hour_ts, h.n,
        |  round(b.baseline, 9) AS baseline,
        |  round(abs(h.n / b.baseline - 1), 9) AS dev
        |FROM hourly h JOIN base b
        |  ON h.event_type = b.event_type AND hour(h.hour_ts) = b.hod
        |ORDER BY dev DESC, h.event_type, h.hour_ts LIMIT 30""".stripMargin)
}
