package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Curate, Dedup, Graph, Ranking, Similarity, Text}

/** Round-9 eighth-wave queries: BM25 lexical retrieval, PageRank
  * authority over the duplication graph, Flesch readability gating,
  * hard-negative mining for contrastive training, and winsorized
  * robust means. All five are DuckDB-oracle-checked. */
object Wave8Queries extends QuerySet {

  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** The fixed query workload: three 3-term queries over the corpus
    * vocabulary — chosen, not derived, as a search/eval harness's query
    * set would be. */
  private[queries] val bm25Queries: Seq[(String, String)] = Seq(
    "qa" -> "table", "qa" -> "key", "qa" -> "scan",
    "qb" -> "vector", "qb" -> "window", "qb" -> "merge",
    "qc" -> "batch", "qc" -> "data", "qc" -> "group")

  /** Okapi BM25 top-10 per query ([[Ranking.bm25TopK]]): postings
    * restricted to the query vocabulary by a broadcast semi-join, corpus
    * stats as a 1-row broadcast, per-query top-k over matched docs. */
  private val q154: Q = (s, d) => {
    import s.implicits._
    val qt = bm25Queries.toDF("query_id", "term")
    Ranking.bm25TopK(Tables.documents(s, d), "doc_id", "text", qt,
        topK = 10, k1 = bm25K1, b = bm25B)
      .orderBy($"query_id", $"rnk")
  }

  /** 16 planted template tokens — q151's corpus, so the duplication
    * graph has real hub structure to rank. */
  private[queries] val tmpl16 = "template header boilerplate nav sidebar footer " +
    "promo banner subscribe follow share like comment related trending latest"

  /** PageRank authority over the rare-tile duplication graph
    * ([[Graph.pageRank]] over [[Dedup.rareTilePairs]]): 5 damped rounds,
    * top 50 docs by rank — the hub measure that sees SECOND-ORDER
    * duplication (copied by other hubs) where q151's degree count
    * cannot. md5 tile keys on the oracle surface (xxhash64 in
    * production). */
  private val q155: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id",
      when($"doc_id" % 11 === 0, concat(lit(tmpl16 + " "), $"text"))
        .otherwise($"text").as("text"))
    val edges = Dedup.rareTilePairs(docs, "doc_id", "text", k = 8,
      maxDf = 64, minShared = 2, tileKey = c => md5(c))
    Graph.pageRank(edges, "doc_a", "doc_b", iters = 5, damping = 0.85)
      .orderBy($"pr".desc, $"node")
      .limit(50)
      .select($"node".as("doc_id"), $"pr")
  }

  /** Flesch readability per language ([[Text.readabilityScore]]) over a
    * corpus with planted sentence markers (every "table" terminates a
    * sentence — the synthetic corpus carries no punctuation of its own,
    * q151's planting precedent): doc counts, exact mean score, mean
    * words-per-sentence, and the hard-to-read tail (< 50). */
  private val q156: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"lang",
      replace($"text", lit("table"), lit("table.")).as("text"))
    Text.readabilityScore(docs, "text")
      .groupBy($"lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(sum($"flesch".cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 9).as("mean_flesch"),
        round(sum(round($"n_words" / $"n_sents", 9).cast("decimal(28,12)"))
          .cast("double") / count(lit(1)), 9).as("mean_wps"),
        sum(($"flesch" < lit(50.0)).cast("long")).as("n_hard"))
      .orderBy($"lang")
  }

  /** Hard-negative mining ([[Similarity.hardNegatives]]): for each of 40
    * query vectors, the 5 most-similar DIFFERENT-label vectors — the
    * near-miss negatives a contrastive embedding run trains against. */
  private val q157: Q = (s, d) => {
    import s.implicits._
    val e = Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
    val lab = Tables.embeddings(s, d).select($"vec_id".as("id"), $"label")
    Similarity.hardNegatives(e.where($"id" < 40), e, lab, k = 5)
      .orderBy($"query_id", $"rnk")
  }

  /** Winsorized robust means per event type ([[Curate.winsorizeReport]]):
    * exact P5/P95 bounds, per-tail clip counts, mean before vs after —
    * the spike-resistant aggregate a metrics pipeline publishes. */
  private val q158: Q = (s, d) => {
    import s.implicits._
    Curate.winsorizeReport(Tables.events(s, d), "event_type", "value",
        pLo = 0.05, pHi = 0.95)
      .orderBy($"event_type")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q154_bm25" -> q154,
    "q155_pagerank" -> q155,
    "q156_readability" -> q156,
    "q157_hard_negatives" -> q157,
    "q158_winsorize" -> q158)

  // ---- oracle SQL -------------------------------------------------------

  /** q151's rare-tile pair CTEs over the template-planted corpus —
    * q155's edge list (both directions). */
  private[queries] val dupEdgeSql =
    s"""corpus AS (SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN '$tmpl16 ' || text
       |    ELSE text END AS text
       |  FROM documents),
       |t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
       |t1 AS (SELECT doc_id, w,
       |    CAST(unnest(range(CAST(ceil(len(w) / 8.0) AS INTEGER)))
       |      AS INTEGER) AS pos FROM t0),
       |tk AS (SELECT DISTINCT doc_id,
       |    md5(array_to_string(list_slice(w, pos*8 + 1, pos*8 + 8), ' '))
       |      AS h
       |  FROM t1),
       |rare AS (SELECT tk.doc_id, tk.h FROM tk
       |  JOIN (SELECT h FROM tk GROUP BY h HAVING count(*) <= 64) g
       |    USING (h)),
       |e AS (SELECT src, dst FROM (
       |  SELECT a.doc_id AS src, b.doc_id AS dst
       |  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2))""".stripMargin

  /** One unrolled PageRank round: w{i}/s{i}/it{i} from it{i-1}. */
  private def prRound(i: Int, damping: Double): String = {
    val f = 1.0 - damping
    s"""w$i AS (SELECT e.dst, round(it${i - 1}.pr / CAST(od.outdeg AS DOUBLE),
       |    12) AS w
       |  FROM e JOIN od USING (src) JOIN it${i - 1} ON it${i - 1}.node = e.src),
       |s$i AS (SELECT dst, CAST(sum(CAST(w AS DECIMAL(28,12))) AS DOUBLE)
       |    AS inw FROM w$i GROUP BY 1),
       |it$i AS (SELECT nn.node, nn.n, round($f / CAST(nn.n AS DOUBLE) +
       |    $damping * coalesce(s$i.inw, 0.0), 12) AS pr
       |  FROM nn LEFT JOIN s$i ON nn.node = s$i.dst)""".stripMargin
  }

  private val bm25ValuesSql = bm25Queries
    .map { case (q, t) => s"('$q','$t')" }.mkString(", ")

  /** The full BM25 scoring replay as CTE text (through ranked frame
    * `r`) — q154's oracle body, shared with the q183 fusion replay. */
  private[queries] val bm25RunSql: String = {
    val k1p1 = bm25K1 + 1.0
    val oneMb = 1.0 - bm25B
    s"""q(query_id, term) AS (SELECT * FROM (VALUES $bm25ValuesSql)),
         |lens AS (SELECT doc_id AS doc,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |  FROM documents),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         |posts AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf,
         |    min(dl) AS dl
         |  FROM (SELECT doc_id AS doc,
         |      CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         |      unnest(string_split(text, ' ')) AS term
         |    FROM documents)
         |  WHERE term IN (SELECT DISTINCT term FROM q)
         |  GROUP BY 1, 2),
         |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dfc
         |  FROM posts GROUP BY 1),
         |sc AS (SELECT query_id, doc,
         |    round(ln(1.0 + (CAST(n - dfc AS DOUBLE) + 0.5) /
         |        (CAST(dfc AS DOUBLE) + 0.5)) *
         |      ((CAST(tf AS DOUBLE) * $k1p1) /
         |        (CAST(tf AS DOUBLE) + $bm25K1 * ($oneMb + $bm25B *
         |          (CAST(dl AS DOUBLE) / avgdl)))), 9) AS s
         |  FROM posts JOIN dfreq USING (term) JOIN q USING (term)
         |  CROSS JOIN stats),
         |agg AS (SELECT query_id, doc,
         |    round(CAST(sum(CAST(s AS DECIMAL(28,12))) AS DOUBLE), 9) AS score
         |  FROM sc GROUP BY 1, 2),
         |r AS (SELECT query_id, doc AS doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc) AS INTEGER) AS rnk
         |  FROM agg)""".stripMargin
  }

  val oracle: Seq[(String, String)] = Seq(
    "q154_bm25" ->
      s"""WITH $bm25RunSql
         |SELECT query_id, doc_id, score, rnk FROM r
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    "q155_pagerank" -> {
      val damping = 0.85
      s"""WITH $dupEdgeSql,
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |  FROM e GROUP BY 1),
         |nd AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |nn AS (SELECT node, n FROM nd CROSS JOIN
         |  (SELECT CAST(count(*) AS BIGINT) AS n FROM nd)),
         |it0 AS (SELECT node, n, 1.0 / CAST(n AS DOUBLE) AS pr FROM nn),
         |${(1 to 5).map(prRound(_, damping)).mkString(",\n")}
         |SELECT node AS doc_id, round(pr, 9) AS pr FROM it5
         |ORDER BY pr DESC, doc_id LIMIT 50""".stripMargin
    },
    "q156_readability" ->
      """WITH c AS (SELECT doc_id, lang,
        |    replace(text, 'table', 'table.') AS text FROM documents),
        |r AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(greatest(1, len(string_split(text, '.')) - 1) AS BIGINT)
        |      AS n_sents,
        |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
        |      AS n_sylls
        |  FROM c),
        |f AS (SELECT lang, n_words, n_sents,
        |    CASE WHEN n_words > 0 THEN
        |      round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents) -
        |        84.6 * (CAST(n_sylls AS DOUBLE) / n_words), 9)
        |    ELSE 206.835 END AS flesch
        |  FROM r)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(flesch AS DECIMAL(28,12))) AS DOUBLE) /
        |    count(*), 9) AS mean_flesch,
        |  round(CAST(sum(CAST(round(CAST(n_words AS DOUBLE) / n_sents, 9)
        |    AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9) AS mean_wps,
        |  CAST(sum(CASE WHEN flesch < 50.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hard
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    "q157_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label,
        |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, label, emb,
        |    sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    c.label AS n_label,
        |    list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS sim
        |  FROM n q JOIN n c
        |    ON q.vec_id <> c.vec_id AND q.label <> c.label
        |  WHERE q.vec_id < 40),
        |r AS (SELECT query_id, neighbor_id, sim, n_label,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
        |  FROM s)
        |SELECT query_id, neighbor_id, round(sim, 6) AS sim, rnk, n_label
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q158_winsorize" ->
      """WITH b AS (SELECT event_type,
        |    round(quantile_cont(value, 0.05), 6) AS p_lo,
        |    round(quantile_cont(value, 0.95), 6) AS p_hi
        |  FROM events GROUP BY 1),
        |j AS (SELECT e.event_type, e.value AS v, b.p_lo, b.p_hi,
        |    least(greatest(e.value, b.p_lo), b.p_hi) AS w
        |  FROM events e JOIN b USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN v < p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN v > p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  round(min(p_lo), 6) AS p_lo, round(max(p_hi), 6) AS p_hi,
        |  round(CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9)
        |    AS mean_raw,
        |  round(CAST(sum(CAST(w AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9)
        |    AS mean_winsor
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin)
}
