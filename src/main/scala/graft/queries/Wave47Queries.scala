package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave47Queries.scala holds round-12 WAVE-50 queries
  * q314–q316 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Release-engineering audits: the generalization ladder (how much
  * quasi-identifier coarsening buys how much re-identification
  * protection — the knob k-anonymity reports but does not tune), the
  * Horvitz–Thompson estimator audit (does the deterministic hash
  * sample actually estimate corpus totals unbiasedly, per stratum —
  * the check before trusting any sampled metric), and the dictionary-
  * encoding audit (per-column cardinality → bits-per-value estimate —
  * the storage-planning read behind parquet encoding choices). All
  * three are DuckDB-oracle-checked. */
object Wave47Queries extends QuerySet {

  /** Generalization ladder: re-identification risk of the
    * (lang, source, n_chars) quasi-identifier at three n_chars
    * granularities. q118 reports k-anonymity AT one generalization;
    * this table is how the generalization is CHOSEN — each row is one
    * ladder rung: cells, singleton cells, and the share of documents
    * in cells of size ≤ 2 (the journalist-risk convention). One
    * base projection; per rung one dim×bucket-bounded
    * aggregate. */
  private val q314: Q = (s, d) => {
    import s.implicits._
    val base = Tables.documents(s, d).select($"lang", $"source", $"n_chars")
    def rung(g: Int): DataFrame = {
      val cells = base
        .groupBy($"lang", $"source",
          floor($"n_chars" / g).cast("long").as("b"))
        .agg(count(lit(1)).cast("long").as("sz"))
      cells.agg(lit(g).as("granularity"),
        count(lit(1)).cast("long").as("n_cells"),
        sum(when($"sz" === 1, 1L).otherwise(0L)).as("n_singleton_cells"),
        sum(when($"sz" <= 2, $"sz").otherwise(0L)).as("n_risk_docs"),
        sum($"sz").as("n_docs"))
    }
    rung(10).unionByName(rung(100)).unionByName(rung(1000))
      .select($"granularity", $"n_cells", $"n_singleton_cells",
        $"n_risk_docs",
        round($"n_risk_docs" / $"n_docs".cast("double"), 6).as("risk_frac"))
      .orderBy($"granularity")
  }

  /** Horvitz–Thompson estimator audit: a deterministic 20% hash sample
    * (q58's md5-threshold machinery — reproducible in SQL, no RNG)
    * estimates each source's total character mass as Σ n_chars / p;
    * the audit joins the estimate against the exact total and reports
    * the relative error. The table that says whether sampled
    * dashboards can be trusted per stratum — small strata wobble
    * first. Two dim-bounded aggregates over one scan. */
  private val q315: Q = (s, d) => {
    import s.implicits._
    val thr = graft.ops.Sampling.hexThreshold(0.2)
    val base = Tables.documents(s, d).select($"source", $"doc_id", $"n_chars",
      (md5($"doc_id".cast("string")) < lit(thr)).as("in_sample"))
    base.groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when($"in_sample", 1L).otherwise(0L)).as("n_sampled"),
        sum($"n_chars").cast("long").as("true_total_chars"),
        sum(when($"in_sample", $"n_chars").otherwise(0L)).cast("long")
          .as("sampled_chars"))
      .select($"source", $"n_docs", $"n_sampled", $"true_total_chars",
        round($"sampled_chars" / lit(0.2), 2).as("ht_estimate"),
        round(abs($"sampled_chars" / lit(0.2) - $"true_total_chars") /
          $"true_total_chars".cast("double"), 6).as("rel_err"))
      .orderBy($"source")
  }

  /** Dictionary-encoding audit: per column, the cardinality-driven
    * bits-per-value a dictionary encoding would need (⌈log₂ card⌉ via
    * binary-expansion length — q285's exact-integer trick, no floating
    * log), against the column's plain byte width — the storage-
    * planning read behind parquet encoding choices at 100 TB, where a
    * wrong encoding on one fat column is petabytes. One aggregate per
    * audited column (exact distinct over the column's own
    * cardinality), assembled by union. */
  private val q316: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"event_type", $"user_id", $"props")
    def audit(colName: String): DataFrame =
      ev.agg(lit(colName).as("column_name"),
          count(lit(1)).cast("long").as("n_rows"),
          countDistinct(col(colName)).cast("long").as("card"),
          round(avg(length(col(colName).cast("string"))), 6)
            .as("avg_plain_len"))
        .select($"column_name", $"n_rows", $"card", $"avg_plain_len",
          when($"card" > 1, length(bin($"card" - 1)))
            .otherwise(lit(0)).cast("int").as("dict_bits_per_value"))
    audit("event_type").unionByName(audit("user_id"))
      .unionByName(audit("props"))
      .orderBy($"column_name")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q314_generalization_ladder" -> q314,
    "q315_ht_estimator" -> q315,
    "q316_encoding_audit" -> q316)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q314_generalization_ladder" ->
      """WITH g AS (SELECT unnest([10, 100, 1000]) AS granularity),
        |cells AS (SELECT g.granularity, lang, source,
        |    CAST(floor(n_chars / g.granularity) AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS sz
        |  FROM documents CROSS JOIN g GROUP BY 1, 2, 3, 4)
        |SELECT granularity, CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_singleton_cells,
        |  CAST(sum(CASE WHEN sz <= 2 THEN sz ELSE 0 END) AS BIGINT)
        |    AS n_risk_docs,
        |  round(sum(CASE WHEN sz <= 2 THEN sz ELSE 0 END)
        |    / CAST(sum(sz) AS DOUBLE), 6) AS risk_frac
        |FROM cells GROUP BY 1 ORDER BY granularity""".stripMargin,
    "q315_ht_estimator" -> {
      val thr = graft.ops.Sampling.hexThreshold(0.2)
      s"""WITH b AS (SELECT source, n_chars,
        |    md5(CAST(doc_id AS VARCHAR)) < '$thr' AS in_sample
        |  FROM documents),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_sampled,
        |    CAST(sum(n_chars) AS BIGINT) AS true_total_chars,
        |    CAST(sum(CASE WHEN in_sample THEN n_chars ELSE 0 END)
        |      AS BIGINT) AS sampled_chars
        |  FROM b GROUP BY 1)
        |SELECT source, n_docs, n_sampled, true_total_chars,
        |  round(sampled_chars / 0.2, 2) AS ht_estimate,
        |  round(abs(sampled_chars / 0.2 - true_total_chars)
        |    / CAST(true_total_chars AS DOUBLE), 6) AS rel_err
        |FROM a ORDER BY source""".stripMargin
    },
    "q316_encoding_audit" ->
      """WITH a AS (
        |  SELECT 'event_type' AS column_name,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS card,
        |    round(avg(length(CAST(event_type AS VARCHAR))), 6)
        |      AS avg_plain_len
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_id', CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT user_id) AS BIGINT),
        |    round(avg(length(CAST(user_id AS VARCHAR))), 6)
        |  FROM events
        |  UNION ALL
        |  SELECT 'props', CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT props) AS BIGINT),
        |    round(avg(length(CAST(props AS VARCHAR))), 6)
        |  FROM events)
        |SELECT column_name, n_rows, card, avg_plain_len,
        |  CAST(CASE WHEN card > 1 THEN length(to_base(card - 1, 2))
        |    ELSE 0 END AS INTEGER) AS dict_bits_per_value
        |FROM a ORDER BY column_name""".stripMargin)
}
