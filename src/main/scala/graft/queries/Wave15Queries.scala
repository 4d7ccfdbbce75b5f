package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Text

/** Round-9 wave-17 queries: exact Kolmogorov–Smirnov length drift per
  * source and bigram conditional entropy per language. Both
  * DuckDB-oracle-checked. */
object Wave15Queries extends QuerySet {

  private val d189 = org.apache.spark.sql.types.DecimalType(18, 9)

  /** Exact two-sample KS statistic between each source's doc-length
    * distribution and the corpus — the distribution-drift detector that
    * catches a source whose MEAN matches but whose SHAPE doesn't
    * (truncation, chunking, template padding), where mean/variance
    * monitors stay silent. The corpus collapses to a (source, length)
    * HISTOGRAM first; every window below runs on that histogram
    * (≤ sources × distinct lengths rows), never on the corpus — the
    * same aggregate-then-window shape as q144's vocab growth. Both CDFs
    * are evaluated on the full distinct-length grid (a source's CDF is
    * flat where it has no mass, but the corpus CDF still moves — the
    * sup must see those points). Exact integer cumulations; two
    * divisions and one |·| at the end. */
  private val q181: Q = (s, d) => {
    import s.implicits._
    val cnt = Tables.documents(s, d)
      .groupBy($"source", $"n_chars")
      .agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint(true)
    val srcs = cnt.groupBy($"source").agg(sum($"c").cast("long").as("n_s"))
    val total = srcs.agg(sum($"n_s").cast("long").as("__n_all"))
    val allCum = cnt.groupBy($"n_chars")
      .agg(sum($"c").cast("long").as("__ca"))
      .withColumn("cum_all", sum($"__ca").over(Window.orderBy($"n_chars")))
    val grid = broadcast(srcs).crossJoin(cnt.select($"n_chars").distinct())
    grid.join(cnt, Seq("source", "n_chars"), "left")
      .withColumn("cum_s", sum(coalesce($"c", lit(0L)))
        .over(Window.partitionBy($"source").orderBy($"n_chars")))
      .join(allCum.select($"n_chars", $"cum_all"), Seq("n_chars"))
      .crossJoin(broadcast(total))
      .groupBy($"source", $"n_s")
      .agg(max(abs($"cum_s".cast("double") / $"n_s" -
        $"cum_all".cast("double") / $"__n_all")).as("__ks"))
      .select($"source", $"n_s".as("n_docs"), round($"__ks", 9).as("ks"))
      .orderBy($"source")
  }

  /** Bigram conditional entropy H(next|prev) per language — the
    * sequence-predictability read that separates natural prose from
    * templated/boilerplate text (low H: the next token is nearly
    * determined) and degenerate token soup (H near ln V). One 2-shingle
    * explode feeds the (prev, next) counts; prev-marginals and language
    * totals are rollups OF THOSE COUNTS, not rescans; per-term
    * p·ln(p(next|prev)) values are 9 dp-rounded then decimal-summed
    * (q61's entropy discipline — reduction-order-free). */
  private val q182: Q = (s, d) => {
    import s.implicits._
    val pc = graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select($"lang", explode(Text.shingles($"text", 2)).as("bg"))
      .select($"lang", substring_index($"bg", " ", 1).as("prev"), $"bg")
      .groupBy($"lang", $"prev", $"bg")
      .agg(count(lit(1)).cast("long").as("n_pn"))
      .localCheckpoint(true)
    val pt = pc.groupBy($"lang", $"prev")
      .agg(sum($"n_pn").cast("long").as("__n_p"))
    val lt = pc.groupBy($"lang").agg(sum($"n_pn").cast("long").as("__n_all"))
    pc.join(pt, Seq("lang", "prev"))
      .join(broadcast(lt), Seq("lang"))
      .withColumn("__term", round(($"n_pn".cast("double") / $"__n_all") *
        log($"n_pn".cast("double") / $"__n_p"), 9).cast(d189))
      .groupBy($"lang")
      .agg(count(lit(1)).cast("long").as("n_bigram_types"),
        round(-(sum($"__term").cast("double")), 9).as("cond_entropy"))
      .orderBy($"lang")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q181_ks_drift" -> q181,
    "q182_bigram_entropy" -> q182)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q181_ks_drift" ->
      """WITH cnt AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s
        |  FROM cnt GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_all FROM srcs),
        |ac AS (SELECT n_chars,
        |    sum(ca) OVER (ORDER BY n_chars) AS cum_all
        |  FROM (SELECT n_chars, CAST(sum(c) AS BIGINT) AS ca
        |    FROM cnt GROUP BY 1)),
        |grid AS (SELECT s.source, s.n_s, l.n_chars
        |  FROM srcs s CROSS JOIN (SELECT DISTINCT n_chars FROM cnt) l),
        |g2 AS (SELECT g.source, g.n_s, g.n_chars,
        |    sum(coalesce(c.c, 0))
        |      OVER (PARTITION BY g.source ORDER BY g.n_chars) AS cum_s
        |  FROM grid g LEFT JOIN cnt c
        |    ON g.source = c.source AND g.n_chars = c.n_chars)
        |SELECT g2.source, g2.n_s AS n_docs,
        |  round(max(abs(CAST(cum_s AS DOUBLE) / g2.n_s -
        |    CAST(cum_all AS DOUBLE) / n_all)), 9) AS ks
        |FROM g2 JOIN ac USING (n_chars) CROSS JOIN tot
        |GROUP BY g2.source, g2.n_s ORDER BY g2.source""".stripMargin,
    "q182_bigram_entropy" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS w
        |  FROM documents),
        |bg AS (SELECT lang, w[i] AS prev, w[i] || ' ' || w[i+1] AS b
        |  FROM t, unnest(generate_series(1, len(w) - 1)) AS u(i)),
        |pc AS (SELECT lang, prev, b, CAST(count(*) AS BIGINT) AS n_pn
        |  FROM bg GROUP BY 1, 2, 3),
        |pt AS (SELECT lang, prev, CAST(sum(n_pn) AS BIGINT) AS n_p
        |  FROM pc GROUP BY 1, 2),
        |lt AS (SELECT lang, CAST(sum(n_pn) AS BIGINT) AS n_all
        |  FROM pc GROUP BY 1),
        |s AS (SELECT pc.lang,
        |    CAST(round((CAST(n_pn AS DOUBLE) / n_all) *
        |      ln(CAST(n_pn AS DOUBLE) / n_p), 9) AS DECIMAL(18,9)) AS term
        |  FROM pc JOIN pt USING (lang, prev) JOIN lt USING (lang))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_bigram_types,
        |  round(-CAST(sum(term) AS DOUBLE), 9) AS cond_entropy
        |FROM s GROUP BY 1 ORDER BY lang""".stripMargin)
}
