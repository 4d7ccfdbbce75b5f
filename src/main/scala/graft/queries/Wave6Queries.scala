package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Classify, Dedup, Kmeans, Ranking, Similarity, Text}

/** Round-9 sixth-wave queries: retrieval-quality evaluation (MRR /
  * precision / recall / nDCG per label), distributed Lloyd k-means,
  * Krippendorff's alpha over incomplete multi-annotator labels,
  * vocabulary-growth (Heaps' law) corpus diagnostics, majority-vote
  * label aggregation with annotator reliability, and CCNet-style
  * boilerplate measurement. All DuckDB-oracle-checked except the
  * iterative k-means fit (golden-pinned, [[graft.ops.Pca]]'s
  * precedent). */
object Wave6Queries extends QuerySet {

  /** The deterministic 3-annotator frame q143/q145 share: annotator `a`
    * is the corpus lang label; `b` disagrees on every 6th doc (q136's
    * cycle); `c` is MISSING on every 5th doc and disagrees via a second
    * cycle on every 7th — both engines construct the identical frame. */
  private[queries] def annotators(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cycle1 = when($"lang" === "en", "de").when($"lang" === "de", "es")
      .when($"lang" === "es", "fr").when($"lang" === "fr", "zh")
      .otherwise("en")
    val cycle2 = when($"lang" === "en", "es").when($"lang" === "de", "fr")
      .when($"lang" === "es", "zh").when($"lang" === "fr", "en")
      .otherwise("de")
    Tables.documents(s, d).select($"doc_id",
      $"lang".as("a"),
      when($"doc_id" % 6 === 0, cycle1).otherwise($"lang").as("b"),
      when($"doc_id" % 5 === 0, lit(null).cast("string"))
        .otherwise(when($"doc_id" % 7 === 0, cycle2).otherwise($"lang"))
        .as("c"))
  }

  /** Retrieval-quality eval ([[Ranking.retrievalEval]]): per-label
    * MRR@10 / precision@10 / recall@10 / nDCG@10 over the evaluation
    * slice (vec_id < 200), relevance = same label, exact cosine ranking
    * (q134's brute-force protocol; at corpus scale the metric frame
    * consumes IVF/LSH candidates instead — q111's precedent). */
  private val q141: Q = (s, d) => {
    import s.implicits._
    val slice = Tables.embeddings(s, d).where($"vec_id" < 200)
    Ranking.retrievalEval(
        Similarity.prepared(slice, "vec_id", "embedding"),
        slice.select($"vec_id".as("id"), $"label"), k = 10)
      .orderBy($"label")
  }

  /** Distributed Lloyd k-means ([[Kmeans.fit]]): 4 clusters, 8
    * iterations over the embedding corpus — per-cluster size, centroid
    * norm, and the shared inertia. Golden-pinned (iterative fit; the
    * [[graft.ops.Pca]]/[[graft.ops.Bpe]] precedent). */
  private val q142: Q = (s, d) => {
    import s.implicits._
    // persisted model store: fit once per corpus, load in every later
    // session ([[Stores.kmeansModel]]); loaded == fitted bit-exactly
    val m = Stores.kmeansModel(s, d)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = m.centroids.indices.map { c =>
      (c, m.sizes(c),
        r6(math.sqrt(m.centroids(c).map(x => x * x).sum)),
        r6(m.inertia))
    }
    rows.toDF("cluster", "n_members", "centroid_norm", "inertia")
      .orderBy($"cluster")
  }

  /** Krippendorff's alpha ([[Classify.krippendorffAlpha]]) over the
    * 3-annotator frame WITH missing ratings — the agreement coefficient
    * kappa can't provide once annotators (or coverage) exceed two. */
  private val q143: Q = (s, d) =>
    Classify.krippendorffAlpha(annotators(s, d), "doc_id", Seq("a", "b", "c"))

  /** Vocabulary-growth / lexical-diversity datasheet
    * ([[Text.vocabGrowth]]): per language — tokens, vocabulary, hapax
    * legomena, TTR, and the Heaps' law β over 10 doc-id-ordered corpus
    * prefixes. */
  private val q144: Q = (s, d) => {
    import s.implicits._
    Text.vocabGrowth(Tables.documents(s, d), "doc_id", "text", "lang", 10)
      .orderBy($"lang")
  }

  /** Majority-vote label aggregation + annotator reliability
    * ([[Classify.majorityVoteReport]]) over the same 3-annotator frame:
    * per-annotator accuracy against the modal consensus, plus the
    * consensus-confidence row. */
  private val q145: Q = (s, d) => {
    import s.implicits._
    Classify.majorityVoteReport(annotators(s, d), "doc_id",
        Seq("a", "b", "c"))
      .orderBy($"annotator")
  }

  /** 16 tokens of synthetic boilerplate, two full 8-token tiles when
    * PREPENDED (tiling is stride-aligned from the doc start — a shared
    * suffix at varying offsets would produce differing tiles, which is
    * exactly why real pipelines measure boilerplate on aligned units). */
  private val bp16 = "legal disclaimer terms conditions apply copyright " +
    "reserved notice privacy policy cookie consent banner footer navigation menu"

  /** Boilerplate measurement ([[Dedup.boilerplateReport]]) over a corpus
    * where every 3rd doc carries a planted 2-tile boilerplate header:
    * per-doc tile counts and boilerplate fraction (df ≥ 8 tiles). md5
    * tile keys on the oracle surface (xxhash64 in production —
    * [[graft.ops.Incremental]]'s convention). */
  private val q146: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id",
      when($"doc_id" % 3 === 0, concat(lit(bp16 + " "), $"text"))
        .otherwise($"text").as("text"))
    Dedup.boilerplateReport(docs, "doc_id", "text", k = 8, minDf = 8,
        tileKey = (c: Column) => md5(c))
      .orderBy($"doc_id")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q141_retrieval_eval" -> q141,
    "q142_kmeans" -> q142,
    "q143_krippendorff" -> q143,
    "q144_vocab_growth" -> q144,
    "q145_annotator_report" -> q145,
    "q146_boilerplate" -> q146)

  // ---- oracle SQL -------------------------------------------------------

  /** The DCG discount / ideal-DCG literals, rendered via
    * Double.toString so DuckDB parses back the BIT-IDENTICAL doubles the
    * Spark plan uses ([[Ranking]] bakes the same arrays as literals). */
  private def dlist(xs: Array[Double]): String =
    xs.map(x => java.lang.Double.toString(x)).mkString("[", ", ", "]")

  private val annSql =
    """ann AS (SELECT doc_id,
      |    lang AS a,
      |    CASE WHEN doc_id % 6 = 0 THEN
      |      CASE lang WHEN 'en' THEN 'de' WHEN 'de' THEN 'es'
      |        WHEN 'es' THEN 'fr' WHEN 'fr' THEN 'zh' ELSE 'en' END
      |    ELSE lang END AS b,
      |    CASE WHEN doc_id % 5 = 0 THEN NULL
      |      WHEN doc_id % 7 = 0 THEN
      |        CASE lang WHEN 'en' THEN 'es' WHEN 'de' THEN 'fr'
      |          WHEN 'es' THEN 'zh' WHEN 'fr' THEN 'en' ELSE 'de' END
      |    ELSE lang END AS c
      |  FROM documents),
      |ratings AS (
      |  SELECT doc_id AS unit, 'a' AS annotator, a AS label FROM ann
      |  UNION ALL SELECT doc_id, 'b', b FROM ann
      |  UNION ALL SELECT doc_id, 'c', c FROM ann WHERE c IS NOT NULL)"""
      .stripMargin

  val oracle: Seq[(String, String)] = Seq(
    // q142_kmeans: golden-pinned — iterative Lloyd fit has no SQL form
    "q141_retrieval_eval" -> {
      val disc = dlist(Ranking.discounts(10))
      val idcg = dlist(Ranking.idcgTable(10))
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings WHERE vec_id < 200),
         |n AS (SELECT vec_id, label, emb,
         |    sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
         |s AS (SELECT q.vec_id AS query_id, q.label AS q_label,
         |    c.label AS n_label,
         |    list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cos,
         |    c.vec_id AS neighbor_id
         |  FROM n q JOIN n c ON q.vec_id <> c.vec_id),
         |r AS (SELECT query_id, q_label, n_label,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank FROM s),
         |t AS (SELECT query_id, q_label,
         |    CASE WHEN q_label = n_label THEN 1 ELSE 0 END AS rel, rank
         |  FROM r WHERE rank <= 10),
         |lsz AS (SELECT label AS q_label, CAST(count(*) AS BIGINT) AS sz
         |  FROM e GROUP BY 1),
         |pq AS (SELECT query_id, q_label,
         |    min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
         |    CAST(sum(rel) AS BIGINT) AS n_rel,
         |    CAST(sum(CAST(round(CASE WHEN rel = 1
         |        THEN ($disc)[rank] ELSE 0.0 END, 9) AS DECIMAL(28,12)))
         |      AS DOUBLE) AS dcg
         |  FROM t GROUP BY 1, 2),
         |m AS (SELECT q_label,
         |    round(coalesce(1.0 / first_rel, 0.0), 9) AS mrr,
         |    round(n_rel / 10.0, 9) AS prec,
         |    round(CASE WHEN sz > 1
         |      THEN CAST(n_rel AS DOUBLE) / least(10, sz - 1)
         |      ELSE 0.0 END, 9) AS rec,
         |    round(CASE WHEN sz > 1
         |      THEN dcg / ($idcg)[least(10, CAST(sz - 1 AS INTEGER))]
         |      ELSE 0.0 END, 9) AS ndcg
         |  FROM pq JOIN lsz USING (q_label))
         |SELECT q_label AS label, CAST(count(*) AS BIGINT) AS n_queries,
         |  round(CAST(sum(CAST(mrr AS DECIMAL(28,12))) AS DOUBLE)
         |    / count(*), 9) AS mrr,
         |  round(CAST(sum(CAST(prec AS DECIMAL(28,12))) AS DOUBLE)
         |    / count(*), 9) AS prec,
         |  round(CAST(sum(CAST(rec AS DECIMAL(28,12))) AS DOUBLE)
         |    / count(*), 9) AS rec,
         |  round(CAST(sum(CAST(ndcg AS DECIMAL(28,12))) AS DOUBLE)
         |    / count(*), 9) AS ndcg
         |FROM m GROUP BY 1 ORDER BY label""".stripMargin
    },
    "q143_krippendorff" ->
      s"""WITH $annSql,
         |muc AS (SELECT unit, label, CAST(count(*) AS BIGINT) AS m_uc
         |  FROM ratings GROUP BY 1, 2),
         |mu AS (SELECT unit, CAST(sum(m_uc) AS BIGINT) AS m_u FROM muc
         |  GROUP BY 1 HAVING sum(m_uc) >= 2),
         |pu AS (SELECT unit, m_u,
         |    round(CAST(sum(m_uc * (m_u - m_uc)) AS BIGINT)
         |      / CAST(m_u - 1 AS DOUBLE), 9) AS t_u
         |  FROM muc JOIN mu USING (unit) GROUP BY 1, 2),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
         |    CAST(sum(m_u) AS BIGINT) AS n_ratings,
         |    CAST(sum(CAST(t_u AS DECIMAL(28,12))) AS DOUBLE) AS sumdis
         |  FROM pu),
         |marg AS (SELECT CAST(sum(nc * nc) AS BIGINT) AS sumnc2 FROM (
         |  SELECT CAST(sum(m_uc) AS BIGINT) AS nc
         |  FROM muc JOIN mu USING (unit) GROUP BY label)),
         |v AS (SELECT n_units, n_ratings,
         |    sumdis / n_ratings AS d_o,
         |    (n_ratings * n_ratings - sumnc2)
         |      / (CAST(n_ratings AS DOUBLE) * (n_ratings - 1)) AS d_e
         |  FROM tot, marg)
         |SELECT n_units, n_ratings, round(d_o, 9) AS d_o,
         |  round(d_e, 9) AS d_e,
         |  round(CASE WHEN d_e > 0.0 THEN 1.0 - d_o / d_e
         |    ELSE 1.0 END, 9) AS alpha
         |FROM v""".stripMargin,
    "q144_vocab_growth" ->
      """WITH docs AS (SELECT lang AS g, doc_id AS id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |nd AS (SELECT g, CAST(count(*) AS BIGINT) AS n_docs FROM docs
        |  GROUP BY 1),
        |ranked AS (SELECT g, id, n_toks,
        |    row_number() OVER (PARTITION BY g ORDER BY id) AS rnk
        |  FROM docs),
        |rb AS (SELECT r.g, r.id, r.n_toks,
        |    CAST(ceil(r.rnk * 10 / n_docs) AS INTEGER) AS bkt
        |  FROM ranked r JOIN nd USING (g)),
        |ncum AS (SELECT g, bkt, sum(sum(n_toks))
        |    OVER (PARTITION BY g ORDER BY bkt) AS n_at
        |  FROM rb GROUP BY 1, 2),
        |vocab AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS cnt,
        |    min(id) AS first_id FROM (
        |  SELECT lang AS g, doc_id AS id,
        |    unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2),
        |vnew AS (SELECT rb.g AS g, bkt, CAST(count(*) AS BIGINT) AS newv
        |  FROM vocab v JOIN rb ON v.g = rb.g AND v.first_id = rb.id
        |  GROUP BY rb.g, bkt),
        |vcum AS (SELECT g, bkt, n_at, sum(coalesce(newv, 0))
        |    OVER (PARTITION BY g ORDER BY bkt) AS v_at
        |  FROM ncum LEFT JOIN vnew USING (g, bkt)),
        |pts AS (SELECT g, round(ln(CAST(n_at AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(v_at AS DOUBLE)), 9) AS y
        |  FROM vcum),
        |fit AS (SELECT g, CAST(count(*) AS DOUBLE) AS np,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sxx
        |  FROM pts GROUP BY 1),
        |stats AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        |  FROM vocab GROUP BY 1)
        |SELECT g AS lang, n_docs, n_tokens, vocab, hapax,
        |  round(vocab / CAST(n_tokens AS DOUBLE), 9) AS ttr,
        |  round(hapax / CAST(vocab AS DOUBLE), 9) AS hapax_frac,
        |  round((np * sxy - sx * sy) / (np * sxx - sx * sx), 6) AS heaps_beta,
        |  round((sy - ((np * sxy - sx * sy) / (np * sxx - sx * sx)) * sx)
        |    / np, 6) AS heaps_logk
        |FROM nd JOIN stats USING (g) JOIN fit USING (g)
        |ORDER BY lang""".stripMargin,
    "q145_annotator_report" ->
      s"""WITH $annSql,
         |votes AS (SELECT unit, label, CAST(count(*) AS BIGINT) AS v
         |  FROM ratings GROUP BY 1, 2),
         |cons AS (SELECT unit, label AS consensus,
         |    round(v / CAST(tot AS DOUBLE), 9) AS share FROM (
         |  SELECT unit, label, v, sum(v) OVER (PARTITION BY unit) AS tot,
         |      row_number() OVER (PARTITION BY unit
         |        ORDER BY v DESC, label) AS rn
         |    FROM votes) WHERE rn = 1),
         |pa AS (SELECT annotator, CAST(count(*) AS BIGINT) AS n_rated,
         |    CAST(sum(CASE WHEN label = consensus THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_agree
         |  FROM ratings JOIN cons USING (unit) GROUP BY 1)
         |SELECT annotator, n_rated, n_agree,
         |  round(n_agree / CAST(n_rated AS DOUBLE), 9) AS score
         |FROM pa
         |UNION ALL
         |SELECT '__consensus__', CAST(count(*) AS BIGINT),
         |  CAST(sum(CASE WHEN share >= 1.0 THEN 1 ELSE 0 END) AS BIGINT),
         |  round(CAST(sum(CAST(share AS DECIMAL(28,12))) AS DOUBLE)
         |    / count(*), 9)
         |FROM cons
         |ORDER BY annotator""".stripMargin,
    "q146_boilerplate" ->
      s"""WITH corpus AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN '$bp16 ' || text
         |    ELSE text END AS text
         |  FROM documents),
         |t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |t1 AS (SELECT doc_id, w,
         |    CAST(unnest(range(CAST(ceil(len(w) / 8.0) AS INTEGER)))
         |      AS INTEGER) AS pos FROM t0),
         |tiles AS (SELECT doc_id,
         |    md5(array_to_string(list_slice(w, pos*8 + 1, pos*8 + 8), ' '))
         |      AS h
         |  FROM t1),
         |bp AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM tiles)
         |  GROUP BY h HAVING count(*) >= 8)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tiles,
         |  CAST(sum(CASE WHEN bp.h IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_bp_tiles,
         |  round(sum(CASE WHEN bp.h IS NOT NULL THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 9) AS bp_frac
         |FROM tiles LEFT JOIN bp ON tiles.h = bp.h
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
