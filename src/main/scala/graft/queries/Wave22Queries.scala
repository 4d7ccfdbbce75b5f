package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Text

/** FILE→WAVE MAP: Wave22Queries.scala holds round-10 WAVE-25 queries
  * q200–q202 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Corpus-composition audits: the directional source-to-source content
  * containment matrix (who syndicates from whom), the quality impact of
  * survivor-policy dedup per source, and the language-ID confusion
  * matrix against the labeled corpus. All DuckDB-oracle-checked. */
object Wave22Queries extends QuerySet {

  /** Directional source→source content containment: for every ordered
    * source pair, |shingles(A) ∩ shingles(B)| / |shingles(A)| over
    * DISTINCT 3-gram shingle sets — the syndication-direction triage
    * q103's unordered doc-pair counts can't answer (a feed that copies
    * 80% of its content FROM a wire shows containment(copy→wire) ≈ 0.8
    * while the wire's own containment stays low).
    *
    * Scale shape: the corpus collapses to a DISTINCT (source, shingle)
    * frame FIRST — the self-join fans out per shingle by its
    * cross-source df, bounded by |sources| (not by document count), so
    * pair generation is |sources|²-bounded per shingle and the output
    * is at most |sources|² rows. Never an all-pairs document join. */
  private val q200: Q = (s, d) => {
    import s.implicits._
    val g = Tables.documents(s, d)
      .select($"source", explode(Text.shingles($"text", 3)).as("sh"))
      .distinct()
    val sz = g.groupBy($"source").agg(count(lit(1)).cast("long").as("shingles_a"))
    val inter = g.join(
        g.select($"source".as("source_b"), $"sh"), Seq("sh"))
      .where($"source" =!= $"source_b")
      .groupBy($"source".as("source_a"), $"source_b")
      .agg(count(lit(1)).cast("long").as("inter"))
    inter.join(sz.withColumnRenamed("source", "source_a"), Seq("source_a"))
      .select($"source_a", $"source_b", $"shingles_a", $"inter",
        round($"inter".cast("double") / $"shingles_a".cast("double"), 9)
          .as("containment"))
      .orderBy($"source_a", $"source_b")
  }

  /** Per-source quality impact of keep-min-id near-dup dedup (the q192
    * survivor policy over the persisted cluster store): mean q22
    * quality score of all docs vs survivors, and the shift — the audit
    * that tells a curation team whether their dedup is throwing away
    * better-than-average copies. One corpus scan + the store read;
    * decimal-exact means. */
  private val q201: Q = (s, d) => {
    import s.implicits._
    val wc = Text.tokenCount($"text")
    val awl = Text.sumTokenLen($"text") / wc
    val stopRatio = Text.stopwordCount($"text") / wc
    // round-16: guarded fan-out (quality heuristic = 4 token passes/row)
    val scored = graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select($"doc_id", $"source",
        Text.qualityScore(wc, stopRatio, awl).as("q"))
    val cl = Stores.docClusters(s, d)
    val reps = cl.groupBy($"component_id").agg(min($"doc_id").as("rep_id"))
    val dropped = cl.join(reps, Seq("component_id"))
      .where($"doc_id" =!= $"rep_id")
      .select($"doc_id", lit(1).as("__dr"))
    val D = "decimal(28,12)"
    scored.join(dropped, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when($"__dr".isNull, 1L).otherwise(0L)).cast("long")
          .as("n_survivors"),
        sum(round($"q", 9).cast(D)).cast("double").as("__sq_all"),
        sum(when($"__dr".isNull, round($"q", 9).cast(D))
          .otherwise(lit(0).cast(D))).cast("double").as("__sq_surv"))
      .select($"source", $"n_docs", $"n_survivors",
        round($"__sq_all" / $"n_docs".cast("double"), 9).as("mean_q_all"),
        round($"__sq_surv" / $"n_survivors".cast("double"), 9)
          .as("mean_q_survivors"),
        round($"__sq_surv" / $"n_survivors".cast("double") -
          $"__sq_all" / $"n_docs".cast("double"), 9).as("q_shift"))
      .orderBy($"source")
  }

  /** Language-ID confusion matrix: the q23 marker-score argmax scored
    * against the corpus's labeled `lang` — per (true, predicted) cell,
    * count and row fraction. The eval a team runs before trusting the
    * cheap heuristic as a routing gate. Map-side prediction, ≤|langs|²
    * aggregated rows, window over that tiny frame only. */
  private val q202: Q = (s, d) => {
    import s.implicits._
    val scores = Text.langScores($"text")
    // round-16: guarded fan-out ahead of the marker scoring (3.2x
    // slower at sf1 on the single-row-group scan)
    val m = graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select($"lang", Text.langPredict(scores).as("predicted_lang"))
      .groupBy($"lang", $"predicted_lang")
      .agg(count(lit(1)).cast("long").as("n_docs"))
    m.withColumn("row_frac",
        round($"n_docs".cast("double") /
          sum($"n_docs").over(Window.partitionBy($"lang")).cast("double"), 9))
      .orderBy($"lang", $"predicted_lang")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q200_source_containment" -> q200,
    "q201_dedup_quality_shift" -> q201,
    "q202_langid_confusion" -> q202)

  // ---- oracle SQL -------------------------------------------------------

  private val predSql = {
    val cases = Seq("en", "de", "es", "fr").map { l =>
      val others = Seq("en", "de", "es", "fr", "zh").filter(_ != l)
        .map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $others THEN '$l'"
    }.mkString("\n    ")
    s"""s AS (
       |  SELECT doc_id, lang,
       |    ${Text.langMarkers.map { case (l, _) => ExtQueries.langScoreSql(l) }.mkString(",\n    ")}
       |  FROM documents),
       |pr AS (SELECT lang, CASE
       |    $cases
       |    ELSE 'zh' END AS predicted_lang FROM s)""".stripMargin
  }

  val oracle: Seq[(String, String)] = Seq(
    "q200_source_containment" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT source,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t WHERE len(w) >= 3),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS shingles_a
        |  FROM g GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM g a JOIN g b ON a.sh = b.sh AND a.source <> b.source
        |  GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, sz.shingles_a, p.inter,
        |  round(CAST(p.inter AS DOUBLE) / CAST(sz.shingles_a AS DOUBLE), 9)
        |    AS containment
        |FROM p JOIN sz ON p.source_a = sz.source
        |ORDER BY p.source_a, p.source_b""".stripMargin,
    "q201_dedup_quality_shift" ->
      s"""WITH RECURSIVE
         |${Wave17Queries.ccSql},
         |m AS (SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS word_count,
         |    list_sum(list_transform(string_split(text, ' '), x -> length(x)))
         |      AS sum_len,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x)))
         |      AS INTEGER) AS n_stop
         |  FROM documents),
         |sc AS (SELECT doc_id, source,
         |    least(1.0, word_count / 100.0) * 0.4
         |      + (1.0 - n_stop / word_count) * 0.3
         |      + least(1.0, (sum_len / word_count) / 8.0) * 0.3 AS q
         |  FROM m),
         |reps AS (SELECT comp, min(doc_id) AS rep_id FROM comp GROUP BY comp),
         |dr AS (SELECT c.doc_id FROM comp c JOIN reps r USING (comp)
         |  WHERE c.doc_id <> r.rep_id)
         |SELECT sc.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_survivors,
         |  round(CAST(sum(CAST(round(sc.q, 9) AS DECIMAL(28,12))) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE), 9) AS mean_q_all,
         |  round(CAST(sum(CASE WHEN dr.doc_id IS NULL
         |      THEN CAST(round(sc.q, 9) AS DECIMAL(28,12))
         |      ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) /
         |    CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE),
         |    9) AS mean_q_survivors,
         |  round(CAST(sum(CASE WHEN dr.doc_id IS NULL
         |      THEN CAST(round(sc.q, 9) AS DECIMAL(28,12))
         |      ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) /
         |    CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE) -
         |    CAST(sum(CAST(round(sc.q, 9) AS DECIMAL(28,12))) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE), 9) AS q_shift
         |FROM sc LEFT JOIN dr ON sc.doc_id = dr.doc_id
         |GROUP BY sc.source ORDER BY sc.source""".stripMargin,
    "q202_langid_confusion" ->
      s"""WITH $predSql,
         |m AS (SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM pr GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS t
         |  FROM m GROUP BY lang)
         |SELECT m.lang, m.predicted_lang, m.n_docs,
         |  round(CAST(m.n_docs AS DOUBLE) / CAST(tot.t AS DOUBLE), 9)
         |    AS row_frac
         |FROM m JOIN tot USING (lang)
         |ORDER BY m.lang, m.predicted_lang""".stripMargin)
}
