package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Similarity, Text}

/** FILE→WAVE MAP: Wave58Queries.scala holds round-14 WAVE-61 queries
  * q361–q365 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Cross-source style, language-mixing, and retrieval-quality audits:
  * stopword-profile cosine between source pairs (which feeds share an
  * author/template style — the function-word signal behind Burrows'
  * Δ, as a similarity matrix), a code-switching screen (documents
  * whose language-marker hits split across ≥2 languages — the
  * mixed-language records a per-doc langID silently mislabels), the
  * duplication × quality quadrant (does near-duplication concentrate
  * in low-quality mass — the 2×2 that says whether dedup doubles as a
  * quality filter), per-source document-length percentiles (the
  * datasheet row next to q356's Gini), and retrieval result-list
  * diversity (mean pairwise cosine INSIDE each query's exact top-5 —
  * the redundancy number that motivates MMR-style re-ranking).
  *
  * Exactness: integer counts everywhere; cosines and rates are either
  * exact-grid integer divisions (q289's discipline) or single double
  * formulas over exactly-representable integer operands; percentiles
  * use the engine-matched percentile ↔ quantile_cont pair (q54's
  * precedent). */
object Wave58Queries extends QuerySet {

  /** Stopword-profile cosine between source pairs: per source, the
    * 10-dimensional raw count vector of [[Text.stopwords]] occurrences
    * (cosine is scale-invariant, so raw counts need no normalization);
    * per pair, cos = Σab/(‖a‖·‖b‖). One token-explode filtered to the
    * stopword list (map-side), a (source × 10)-bounded cell frame, a
    * tok-keyed self-join for the dot products — never a corpus×corpus
    * term. Counts < 2^53 stay exact through the double formula. */
  private val q361: Q = (s, d) => {
    import s.implicits._
    val cells = Tables.documents(s, d)
      .select($"source", explode(Text.tokens($"text")).as("tok"))
      .where($"tok".isin(Text.stopwords: _*))
      .groupBy($"source", $"tok").agg(count(lit(1)).cast("long").as("c"))
    val norms = cells.groupBy($"source")
      .agg(sum($"c" * $"c").cast("long").as("nrm2"))
    val dots = cells.select($"source".as("src_a"), $"tok", $"c".as("ca"))
      .join(cells.select($"source".as("src_b"), $"tok", $"c".as("cb")), Seq("tok"))
      .where($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b")
      .agg(sum($"ca" * $"cb").cast("long").as("dot"))
    dots
      .join(broadcast(norms.select($"source".as("src_a"), $"nrm2".as("na"))),
        Seq("src_a"))
      .join(broadcast(norms.select($"source".as("src_b"), $"nrm2".as("nb"))),
        Seq("src_b"))
      .select($"src_a", $"src_b",
        round($"dot".cast("double") /
          (sqrt($"na".cast("double")) * sqrt($"nb".cast("double"))), 6)
          .as("style_cosine"))
      .orderBy($"src_a", $"src_b")
  }

  /** Code-switching screen: a document is `mixed` when ≥2 languages'
    * marker lists ([[Text.langMarkers]]) each hit ≥2 of its tokens —
    * the record a single-label langID mislabels silently. Per LABELED
    * language: doc count, mixed count, mixed rate on the exact 1e6
    * grid. Pure map-side marker counting (5 bounded `filter` HOFs per
    * row), one rollup. */
  private val q362: Q = (s, d) => {
    import s.implicits._
    val toks = Text.tokens($"text")
    val perLang = Text.langMarkers.map { case (_, markers) =>
      size(filter(toks, t => array_contains(typedLit(markers), t)))
    }
    val nLangsHit = perLang.map(h => when(h >= 2, 1).otherwise(0))
      .reduce(_ + _)
    graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select($"lang", (nLangsHit >= 2).as("mixed"))
      .groupBy($"lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when($"mixed", 1L).otherwise(0L)).cast("long").as("n_mixed"))
      .select($"lang", $"n_docs", $"n_mixed",
        (expr("(n_mixed * 2000000 + n_docs) div (n_docs * 2)")
          .cast("double") / 1e6).as("mixed_rate"))
      .orderBy($"lang")
  }

  /** Duplication × quality quadrant: every document classified on two
    * axes — near-duplicated (appears in the persisted θ-scored pair
    * store at Jaccard ≥ 0.5, q24's relation) × high-quality (the
    * library quality heuristic ≥ 0.6, q42's gate) — with doc counts
    * and token mass per cell. If duplication concentrates in the
    * low-quality cells, dedup doubles as a quality filter (and
    * vice-versa: dedup'ing first changes the quality mix). Store read
    * + two map-side flags + a 4-row rollup. */
  private val q363: Q = (s, d) => {
    import s.implicits._
    val pairs = Stores.docPairs(s, d).where($"jaccard" >= 0.5)
    val dupIds = pairs.select($"doc_a".as("doc_id"))
      .unionByName(pairs.select($"doc_b".as("doc_id"))).distinct()
    val wc = Text.tokenCount($"text")
    val awl = Text.sumTokenLen($"text") / wc
    val stopRatio = Text.stopwordCount($"text") / wc
    Tables.documents(s, d)
      .withColumn("high_quality",
        Text.qualityScore(wc, stopRatio, awl) >= 0.6)
      .withColumn("n_tok", wc.cast("long"))
      .join(dupIds.withColumn("duplicated", lit(true)), Seq("doc_id"), "left")
      .withColumn("duplicated", coalesce($"duplicated", lit(false)))
      .groupBy($"duplicated", $"high_quality")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($"n_tok").cast("long").as("token_mass"))
      .orderBy($"duplicated", $"high_quality")
  }

  /** Per-source document-length percentiles (chars): p10/p50/p90 of
    * `n_chars` plus the doc count — the composition datasheet row next
    * to q356's token-mass Gini. Exact percentiles, q54's
    * percentile ↔ quantile_cont engine pair. */
  private val q364: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(percentile($"n_chars", lit(0.1)), 6).as("p10_chars"),
        round(percentile($"n_chars", lit(0.5)), 6).as("p50_chars"),
        round(percentile($"n_chars", lit(0.9)), 6).as("p90_chars"))
      .orderBy($"source")
  }

  /** Retrieval result-list diversity: for each query vector (the
    * id < 10 eval slice), the mean pairwise cosine AMONG its exact
    * top-5 neighbors — a redundant list (near-1 mean) returns five
    * copies of one answer; the number that motivates MMR-style
    * re-ranking. Shape: q27's exact brute-force top-5, neighbors
    * joined back to their vectors, the 10 intra-list pairs per query
    * by a query-keyed self-join of a 50-row frame, decimal-exact mean
    * over the quantized pair cosines. */
  private val q365: Q = (s, d) => {
    import s.implicits._
    val e = Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
    val top = Similarity.knnBruteForce(e.where($"id" < 10), e, k = 5)
      .select($"query_id", $"neighbor_id", $"rank")
      .join(e.select($"id".as("neighbor_id"), $"emb", $"norm"),
        Seq("neighbor_id"))
    val a = top.select($"query_id", $"rank".as("ra"),
      $"emb".as("ea"), $"norm".as("na"))
    val b = top.select($"query_id", $"rank".as("rb"),
      $"emb".as("eb"), $"norm".as("nb"))
    a.join(b, Seq("query_id"))
      .where($"ra" < $"rb")
      .select($"query_id",
        round(Similarity.cosine($"ea", $"eb", $"na", $"nb"), 6).as("c6"))
      .groupBy($"query_id")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(round($"c6" * 1e6, 0).cast("long")).as("__s6"))
      // the pair cosines sit on the 1e-6 grid, so their mean lands on
      // EXACT half-boundaries of that grid (10 pairs) — the mean must be
      // an integer HALF_UP division on the scaled longs or the two
      // engines' double paths round the .5 cases apart
      .select($"query_id", $"n_pairs",
        (expr("(__s6 * 2 + n_pairs) div (n_pairs * 2)").cast("double") / 1e6)
          .as("mean_intra_cosine"))
      .orderBy($"query_id")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q361_source_style_cosine" -> q361,
    "q362_code_switching" -> q362,
    "q363_dup_quality_quadrant" -> q363,
    "q364_doclen_percentiles" -> q364,
    "q365_retrieval_diversity" -> q365)

  // ---- oracle SQL -------------------------------------------------------

  private val stopList = Text.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  val oracle: Seq[(String, String)] = Seq(
    "q361_source_style_cosine" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |cells AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM tok WHERE list_contains($stopList, tok) GROUP BY 1, 2),
         |nrm AS (SELECT source, CAST(sum(c * c) AS BIGINT) AS nrm2
         |  FROM cells GROUP BY source),
         |dots AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(sum(a.c * b.c) AS BIGINT) AS dot
         |  FROM cells a JOIN cells b ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b,
         |  round(CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))),
         |    6) AS style_cosine
         |FROM dots JOIN nrm na ON src_a = na.source
         |JOIN nrm nb ON src_b = nb.source
         |ORDER BY src_a, src_b""".stripMargin,
    "q362_code_switching" -> {
      val hitExprs = Text.langMarkers.map { case (_, markers) =>
        val lst = markers.map(m => s"'$m'").mkString("[", ", ", "]")
        s"(CASE WHEN len(list_filter(w, x -> list_contains($lst, x))) >= 2 THEN 1 ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH t AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
         |f AS (SELECT lang, ($hitExprs) >= 2 AS mixed FROM t),
         |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN mixed THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed
         |  FROM f GROUP BY lang)
         |SELECT lang, n_docs, n_mixed,
         |  CAST((CAST(n_mixed AS HUGEINT) * 2000000 + n_docs)
         |    // (CAST(n_docs AS HUGEINT) * 2) AS DOUBLE) / 1e6 AS mixed_rate
         |FROM g ORDER BY lang""".stripMargin
    },
    "q363_dup_quality_quadrant" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |        unnest(list_transform(generate_series(1, len(w) - 2),
         |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
         |      FROM t),
         |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |dup AS (SELECT DISTINCT doc_id FROM (
         |  SELECT doc_a AS doc_id FROM p
         |    JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         |    WHERE inter / (sa.n + sb.n - inter) >= 0.5
         |  UNION ALL
         |  SELECT doc_b FROM p
         |    JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         |    WHERE inter / (sa.n + sb.n - inter) >= 0.5)),
         |m AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS word_count,
         |    list_sum(list_transform(string_split(text, ' '),
         |      x -> length(x))) AS sum_len,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      x -> list_contains($stopList, x))) AS INTEGER) AS n_stop
         |  FROM documents),
         |f AS (SELECT m.doc_id,
         |    (least(1.0, word_count / 100.0) * 0.4
         |      + (1.0 - n_stop / word_count) * 0.3
         |      + least(1.0, (sum_len / word_count) / 8.0) * 0.3) >= 0.6
         |      AS high_quality,
         |    CAST(word_count AS BIGINT) AS n_tok,
         |    (dup.doc_id IS NOT NULL) AS duplicated
         |  FROM m LEFT JOIN dup ON m.doc_id = dup.doc_id)
         |SELECT duplicated, high_quality,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS token_mass
         |FROM f GROUP BY 1, 2 ORDER BY duplicated, high_quality""".stripMargin,
    "q364_doclen_percentiles" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(quantile_cont(n_chars, 0.1), 6) AS p10_chars,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
        |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q365_retrieval_diversity" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm
        |  FROM e),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS sim
        |      FROM n q JOIN n c ON q.vec_id <> c.vec_id
        |      WHERE q.vec_id < 10),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
        |      FROM s),
        |top AS (SELECT r.query_id, r.neighbor_id, r.rnk, n.emb, n.nrm
        |  FROM r JOIN n ON r.neighbor_id = n.vec_id WHERE r.rnk <= 5),
        |pr AS (SELECT a.query_id,
        |    round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS c6
        |  FROM top a JOIN top b
        |    ON a.query_id = b.query_id AND a.rnk < b.rnk)
        |SELECT query_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST((sum(CAST(round(c6 * 1e6, 0) AS BIGINT)) * 2 + count(*))
        |    // (count(*) * 2) AS DOUBLE) / 1e6 AS mean_intra_cosine
        |FROM pr GROUP BY query_id ORDER BY query_id""".stripMargin)
}
