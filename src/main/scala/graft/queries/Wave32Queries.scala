package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Text}

/** FILE→WAVE MAP: Wave32Queries.scala holds round-11 WAVE-35 queries
  * q242–q244 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Dedup decision support over the persisted pair store: the θ-sweep of
  * DOCUMENT-level drop impact (what a threshold choice actually costs in
  * corpus mass — q167 counts pairs, this counts casualties), the
  * directional source-flow matrix (who kills whom), and the end-to-end
  * curation-funnel observability table (survivors per pipeline stage).
  * All DuckDB-oracle-checked. */
object Wave32Queries extends QuerySet {

  private val sweep = Seq(0.3, 0.5, 0.7, 0.9)

  /** Dedup what-if: documents DROPPED (distinct pair b-sides, q42's
    * keep-the-lower-id rule) at each candidate threshold, from ONE scan
    * of the persisted θ=0.3 pair store — the corpus-mass cost curve a
    * curation team reads next to q167's pair counts before fixing θ.
    * Four conditional distinct-counts in one aggregate. */
  private val q242: Q = (s, d) => {
    import s.implicits._
    val pairs = Stores.docPairs(s, d)
    val aggs = sweep.zipWithIndex.map { case (t, i) =>
      countDistinct(when($"jaccard" >= t, $"doc_b")).cast("long").as(s"c$i") }
    val total = broadcast(Tables.documents(s, d)
      .agg(count(lit(1)).cast("long").as("n_docs")))
    val melted = sweep.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("threshold"), col(s"c$i").as("n_dropped")) }
    pairs.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(melted: _*)).as("x"))
      .select($"x.threshold", $"x.n_dropped")
      .crossJoin(total)
      .select($"threshold", $"n_dropped",
        round($"n_dropped" / $"n_docs".cast("double"), 9).as("drop_frac"))
      .orderBy($"threshold")
  }

  /** Directional dedup source-flow matrix at θ=0.5: each dropped
    * document attributed to ONE killer (its lowest-id surviving pair
    * partner — a deterministic convention), rolled up by
    * (killer source, dropped source). q192 reports per-source drop
    * RATES; this shows the flow — a heavy off-diagonal cell means one
    * feed is systematically shadowing another's content. Pair-bounded:
    * one store scan, a per-victim min, two label joins, a
    * ≤|sources|²-row rollup. */
  private val q243: Q = (s, d) => {
    import s.implicits._
    val lab = Tables.documents(s, d).select($"doc_id", $"source")
    Stores.docPairs(s, d).where($"jaccard" >= 0.5)
      .groupBy($"doc_b")
      .agg(min($"doc_a").as("killer"))
      .join(lab.select($"doc_id".as("doc_b"), $"source".as("dropped_source")),
        Seq("doc_b"))
      .join(lab.select($"doc_id".as("killer"), $"source".as("killer_source")),
        Seq("killer"))
      .groupBy($"killer_source", $"dropped_source")
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .orderBy($"killer_source", $"dropped_source")
  }

  /** Curation-funnel observability: survivors after each stage of the
    * q42 pipeline — raw → quality gate (score ≥ 0.6) → exact dedup
    * (md5 representatives) → near-dup dedup (θ=0.5 pair drop) — with
    * per-stage retention, as ONE four-row table. The monitoring read
    * every curation run logs; conditional counts over the scored frame
    * plus two store-backed drop sets, no stage recomputed. */
  private val q244: Q = (s, d) => {
    import s.implicits._
    val wc = Text.tokenCount($"text")
    val awl = Text.sumTokenLen($"text") / wc
    val stopRatio = Text.stopwordCount($"text") / wc
    val scored = Tables.documents(s, d)
      .withColumn("q", Text.qualityScore(wc, stopRatio, awl))
      .select($"doc_id", $"text", ($"q" >= 0.6).as("pass_q"))
      // staged: unstaged, the scoring scan runs twice and q244 is slower
      // (0.218 → 0.306 s at sf0.1)
      .transform(graft.ops.Staged(_))
    val keepIds = Dedup.exactGroups(scored.where($"pass_q"), "doc_id", "text")
      .select($"keep_id".as("doc_id"), lit(true).as("pass_exact"))
    val nearDropB = Stores.docPairs(s, d).where($"jaccard" >= 0.5)
      .select($"doc_b".as("doc_id"), lit(true).as("near_dropped")).distinct()
    val staged = scored
      .join(keepIds, Seq("doc_id"), "left")
      .join(nearDropB, Seq("doc_id"), "left")
      .select($"pass_q",
        coalesce($"pass_exact", lit(false)).as("pass_exact"),
        coalesce($"near_dropped", lit(false)).as("near_dropped"))
      .agg(
        count(lit(1)).cast("long").as("c0"),
        sum($"pass_q".cast("long")).cast("long").as("c1"),
        sum(($"pass_q" && $"pass_exact").cast("long")).cast("long").as("c2"),
        sum(($"pass_q" && $"pass_exact" && !$"near_dropped").cast("long"))
          .cast("long").as("c3"))
    val stages = Seq(
      (1, "raw", "c0", "c0"), (2, "quality_gate", "c1", "c0"),
      (3, "exact_dedup", "c2", "c1"), (4, "near_dedup", "c3", "c2"))
    staged.select(explode(array(stages.map { case (i, name, c, prev) =>
        struct(lit(i).as("stage"), lit(name).as("stage_name"),
          col(c).as("n_docs"),
          round(col(c) / col(prev).cast("double"), 9).as("retention"))
      }: _*)).as("x"))
      .select($"x.stage", $"x.stage_name", $"x.n_docs", $"x.retention")
      .orderBy($"stage")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q242_dedup_whatif" -> q242,
    "q243_dedup_flow_matrix" -> q243,
    "q244_curation_funnel" -> q244)

  // ---- oracle SQL -------------------------------------------------------

  /** θ=0.3 scored-pair CTE — same construction as Wave29's. */
  private val pairsCte =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        unnest(list_transform(generate_series(1, len(w) - 2),
      |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |      FROM t),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b,
      |        inter / (sa.n + sb.n - inter) AS jaccard
      |      FROM pr JOIN sz sa ON doc_a = sa.doc_id
      |        JOIN sz sb ON doc_b = sb.doc_id
      |      WHERE inter / (sa.n + sb.n - inter) >= 0.3)""".stripMargin

  private val stopList =
    Text.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  val oracle: Seq[(String, String)] = Seq(
    "q242_dedup_whatif" -> (pairsCte +
      """,
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |th AS (SELECT unnest([CAST(0.3 AS DOUBLE), CAST(0.5 AS DOUBLE),
        |    CAST(0.7 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS threshold),
        |dr AS (SELECT th.threshold,
        |    CAST(count(DISTINCT CASE WHEN pairs.jaccard >= th.threshold
        |      THEN pairs.doc_b END) AS BIGINT) AS n_dropped
        |  FROM th LEFT JOIN pairs ON true GROUP BY 1)
        |SELECT threshold, n_dropped,
        |  round(n_dropped / CAST(n.n_docs AS DOUBLE), 9) AS drop_frac
        |FROM dr CROSS JOIN n ORDER BY threshold""".stripMargin),
    "q243_dedup_flow_matrix" -> (pairsCte +
      """,
        |v AS (SELECT doc_b, min(doc_a) AS killer FROM pairs
        |  WHERE jaccard >= 0.5 GROUP BY doc_b)
        |SELECT dk.source AS killer_source, db.source AS dropped_source,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM v
        |JOIN documents db ON v.doc_b = db.doc_id
        |JOIN documents dk ON v.killer = dk.doc_id
        |GROUP BY 1, 2
        |ORDER BY killer_source, dropped_source""".stripMargin),
    "q244_curation_funnel" -> (pairsCte +
      s""",
         |m AS (SELECT doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS word_count,
         |    list_sum(list_transform(string_split(text, ' '),
         |      x -> length(x))) AS sum_len,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      x -> list_contains($stopList, x))) AS INTEGER) AS n_stop
         |  FROM documents),
         |sc AS (SELECT doc_id, text,
         |    least(1.0, word_count / 100.0) * 0.4
         |      + (1.0 - n_stop / word_count) * 0.3
         |      + least(1.0, (sum_len / word_count) / 8.0) * 0.3 >= 0.6
         |      AS pass_q
         |  FROM m),
         |keep AS (SELECT min(doc_id) AS doc_id FROM sc
         |  WHERE pass_q GROUP BY md5(text)),
         |nd AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
         |  WHERE jaccard >= 0.5),
         |f AS (SELECT
         |    CAST(count(*) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN sc.pass_q THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN sc.pass_q AND keep.doc_id IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(sum(CASE WHEN sc.pass_q AND keep.doc_id IS NOT NULL
         |      AND nd.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c3
         |  FROM sc
         |  LEFT JOIN keep ON sc.doc_id = keep.doc_id
         |  LEFT JOIN nd ON sc.doc_id = nd.doc_id),
         |st AS (
         |  SELECT 1 AS stage, 'raw' AS stage_name, c0 AS n_docs,
         |    round(c0 / CAST(c0 AS DOUBLE), 9) AS retention FROM f
         |  UNION ALL SELECT 2, 'quality_gate', c1,
         |    round(c1 / CAST(c0 AS DOUBLE), 9) FROM f
         |  UNION ALL SELECT 3, 'exact_dedup', c2,
         |    round(c2 / CAST(c1 AS DOUBLE), 9) FROM f
         |  UNION ALL SELECT 4, 'near_dedup', c3,
         |    round(c3 / CAST(c2 AS DOUBLE), 9) FROM f)
        |SELECT CAST(stage AS INTEGER) AS stage, stage_name, n_docs, retention
        |FROM st ORDER BY stage""".stripMargin))
}
