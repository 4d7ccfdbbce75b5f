package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Text

/** Round-9 wave-20 queries: token-mass concentration (Gini) across
  * sources and a Benford first-digit conformance check. Both
  * DuckDB-oracle-checked. */
object Wave18Queries extends QuerySet {

  /** Token-mass concentration per language: the Gini coefficient of
    * token counts across that language's sources — the one-number
    * "is this language's corpus a monoculture" read a mixture planner
    * checks before trusting per-language token budgets (Gini → 0: mass
    * spread evenly; → 1: one source dominates). The corpus collapses
    * to a (lang, source) count frame first; the rank window and the
    * closed-form Σ xᵢ(2i − n − 1) / (n Σx) run over ≤ sources rows per
    * language — EXACT integer arithmetic until the single final
    * division. */
  private val q187: Q = (s, d) => {
    import s.implicits._
    val tc = Tables.documents(s, d)
      .select($"lang", $"source", explode(Text.tokens($"text")).as("tok"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).cast("long").as("x"))
    tc.withColumn("i", row_number().over(
        Window.partitionBy($"lang").orderBy($"x".asc, $"source")).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"lang"))
        .cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).cast("long").as("n_sources"),
        sum($"x").cast("long").as("n_tokens"),
        sum($"x" * (lit(2L) * $"i" - $"n" - lit(1L))).cast("long")
          .as("__num"))
      .select($"lang", $"n_sources", $"n_tokens",
        round($"__num".cast("double") / ($"n_sources" * $"n_tokens"), 9)
          .as("gini"))
      .orderBy($"lang")
  }

  /** Benford first-digit p_d = log10(1 + 1/d), computed once on the
    * driver and embedded as the SAME double literals in both engines
    * (q141's discount-table precedent). */
  private val benfordP: Seq[(Int, Double)] =
    (1 to 9).map(dg => dg -> math.log(1.0 + 1.0 / dg) / math.log(10.0))

  /** Benford first-digit conformance per event type — the fraud/
    * synthetic-data smell test: observed first-significant-digit counts
    * of `value` against Benford expectations, with per-digit χ² terms.
    * Digit extraction is INTEGER-exact: value is a 2-dp quantity, so
    * round(value·100) is an exact long and its leading decimal digit is
    * the first significant digit — no log10/floor on doubles, whose
    * last-ulp engine differences would flip boundary digits. One count
    * aggregation + a broadcast of per-type totals. */
  private val q188: Q = (s, d) => {
    import s.implicits._
    val dg = Tables.events(s, d)
      .where($"value".isNotNull && $"value" > 0)
      .select($"event_type",
        substring(round($"value" * 100, 0).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
      .groupBy($"event_type", $"digit")
      .agg(count(lit(1)).cast("long").as("n_d"))
    val totals = dg.groupBy($"event_type")
      .agg(sum($"n_d").cast("long").as("__n"))
    val pCol = benfordP.foldLeft(lit(null).cast("double")) {
      case (acc, (dig, p)) => when($"digit" === dig, lit(p)).otherwise(acc)
    }
    dg.join(broadcast(totals), Seq("event_type"))
      .withColumn("__e", $"__n" * pCol)
      .select($"event_type", $"digit", $"n_d",
        round($"__e", 9).as("expected"),
        round(($"n_d" - $"__e") * ($"n_d" - $"__e") / $"__e", 9)
          .as("chi2_term"))
      .orderBy($"event_type", $"digit")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q187_gini_sources" -> q187,
    "q188_benford" -> q188)

  // ---- oracle SQL -------------------------------------------------------

  private val benfordCaseSql = benfordP
    .map { case (dg, p) => s"WHEN digit = $dg THEN CAST($p AS DOUBLE)" }
    .mkString("CASE ", " ", " END")

  val oracle: Seq[(String, String)] = Seq(
    "q187_gini_sources" ->
      """WITH tc AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS x
        |  FROM (SELECT lang, source,
        |      unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2),
        |r AS (SELECT lang, source, x,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY x ASC, source) AS BIGINT) AS i,
        |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM tc)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(sum(x) AS BIGINT) AS n_tokens,
        |  round(CAST(CAST(sum(x * (2 * i - n - 1)) AS BIGINT) AS DOUBLE) /
        |    (CAST(count(*) AS BIGINT) * CAST(sum(x) AS BIGINT)), 9) AS gini
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "q188_benford" ->
      s"""WITH dg AS (SELECT event_type,
         |    CAST(substring(CAST(CAST(round(value * 100, 0) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         |    CAST(count(*) AS BIGINT) AS n_d
         |  FROM (SELECT event_type, value FROM events
         |    WHERE value IS NOT NULL AND value > 0)
         |  GROUP BY 1, 2),
         |tot AS (SELECT event_type, CAST(sum(n_d) AS BIGINT) AS n
         |  FROM dg GROUP BY 1),
         |sc AS (SELECT dg.event_type, dg.digit, dg.n_d,
         |    tot.n * ($benfordCaseSql) AS e
         |  FROM dg JOIN tot USING (event_type))
         |SELECT event_type, digit, n_d, round(e, 9) AS expected,
         |  round((n_d - e) * (n_d - e) / e, 9) AS chi2_term
         |FROM sc ORDER BY event_type, digit""".stripMargin)
}
