package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Exact

/** Round-9 wave-21 queries: inter-event gap (think-time) histogram on
  * log2 buckets and the top-decile value-concentration (Pareto) report.
  * Both DuckDB-oracle-checked. */
object Wave19Queries extends QuerySet {

  /** Log2 bucket boundaries for gaps up to ~2^26 s (~2 years); the
    * CASE ladder is generated from the SAME literals in both engines —
    * floor(log2(g+1)) WITHOUT floating log2, whose last-ulp differences
    * at exact powers of two would flip boundary buckets. */
  private val gapBuckets: Seq[Long] = (0 to 26).map(1L << _)

  /** Think-time distribution: per-user inter-event gaps (seconds,
    * exact epoch arithmetic) bucketed into powers of two, with each
    * bucket's share — the session-gap read that calibrates q18/q39's
    * 30-minute sessionization gap instead of folklore. One user-keyed
    * lag window feeds one ≤27-row histogram; the share divides by a
    * window total over that histogram, never the corpus. */
  private val q189: Q = (s, d) => {
    import s.implicits._
    val gaps = Tables.events(s, d)
      .withColumn("__gap_us",
        unix_micros($"ts") - unix_micros(lag($"ts", 1).over(
          Window.partitionBy($"user_id").orderBy($"ts", $"event_id"))))
      .where($"__gap_us".isNotNull)
      .withColumn("__gap", expr("__gap_us div 1000000"))
    // ascending fold wraps each larger boundary OUTSIDE the previous
    // chain → first-match-top-down from 2^26, exactly the SQL ladder
    val bucketLo = gapBuckets.foldLeft(lit(0L)) {
      case (acc, lo) => when($"__gap" >= lo, lit(lo)).otherwise(acc)
    }
    gaps.select(bucketLo.cast("long").as("bucket_lo"))
      .groupBy($"bucket_lo")
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("share", round($"n".cast("double") /
        sum($"n").over(Window.partitionBy()), 9))
      .orderBy($"bucket_lo")
  }

  /** Value-concentration (Pareto) report: per event type, the share of
    * total value carried by the top decile of users — the "80/20"
    * number behind rate-limit and whale-analysis decisions. Per-user
    * totals are decimal-exact (q37 discipline); the rank window runs
    * over the PER-USER frame (already collapsed from events — at true
    * corpus scale the threshold would come from an approx quantile,
    * same report shape); the decile cut k = ceil(n/10) is INTEGER
    * arithmetic, not n·0.1 (whose decimal-vs-double literal rounding
    * disagrees between engines at exact multiples). */
  private val q190: Q = (s, d) => {
    import s.implicits._
    val D = "decimal(18,4)"
    val ut = Tables.events(s, d).where($"value".isNotNull)
      .groupBy($"event_type", $"user_id")
      .agg(Exact.dsum($"value").as("ut"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"ut".desc, $"user_id"))
        .cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy($"event_type")).cast("long"))
      .withColumn("__k", floor(($"__n" + 9) / lit(10.0)).cast("long"))
    ut.groupBy($"event_type")
      .agg(max($"__n").as("n_users"),
        sum($"ut".cast(D)).cast("double").as("__total"),
        sum(when($"__rn" <= $"__k", $"ut".cast(D))).cast("double")
          .as("__top"),
        max($"__k").as("k_users"))
      .select($"event_type", $"n_users", $"k_users",
        round($"__total", 4).as("total_value"),
        round($"__top" / $"__total", 9).as("top_decile_share"))
      .orderBy($"event_type")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q189_gap_histogram" -> q189,
    "q190_pareto_share" -> q190)

  // ---- oracle SQL -------------------------------------------------------

  private val bucketCaseSql = (gapBuckets.reverse.map(lo =>
    s"WHEN g >= $lo THEN CAST($lo AS BIGINT)") :+
    "ELSE CAST(0 AS BIGINT)").mkString("CASE ", " ", " END")

  val oracle: Seq[(String, String)] = Seq(
    "q189_gap_histogram" ->
      s"""WITH g0 AS (SELECT (epoch_us(ts) - epoch_us(lag(ts, 1) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id))) // 1000000 AS g
         |  FROM events),
         |b AS (SELECT $bucketCaseSql AS bucket_lo
         |  FROM g0 WHERE g IS NOT NULL),
         |h AS (SELECT bucket_lo, CAST(count(*) AS BIGINT) AS n
         |  FROM b GROUP BY 1)
         |SELECT bucket_lo, n,
         |  round(CAST(n AS DOUBLE) / sum(n) OVER (), 9) AS share
         |FROM h ORDER BY bucket_lo""".stripMargin,
    "q190_pareto_share" ->
      """WITH ut AS (SELECT event_type, user_id,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS ut
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, ut,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY ut DESC, user_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM ut),
        |k AS (SELECT *, CAST(floor((n + 9) / 10.0) AS BIGINT) AS k FROM r)
        |SELECT event_type, max(n) AS n_users, max(k) AS k_users,
        |  round(CAST(sum(CAST(ut AS DECIMAL(18,4))) AS DOUBLE), 4)
        |    AS total_value,
        |  round(CAST(sum(CASE WHEN rn <= k
        |      THEN CAST(ut AS DECIMAL(18,4)) END) AS DOUBLE) /
        |    CAST(sum(CAST(ut AS DECIMAL(18,4))) AS DOUBLE), 9)
        |    AS top_decile_share
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin)
}
