package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Classify, Dedup, Funnel, Kmeans, Ranking, Sampling, Similarity}

/** Round-9 seventh-wave queries: accuracy-weighted label re-vote (one
  * Dawid–Skene step), k-means assignment-margin confidence,
  * first-/last-touch conversion attribution, stride-scheduled
  * curriculum ordering, and duplication-hub diagnostics. All
  * DuckDB-oracle-checked except q148 (golden-pinned k-means fit). */
object Wave7Queries extends QuerySet {

  /** Accuracy-weighted re-vote ([[Classify.weightedVoteReport]]) over
    * the shared 3-annotator frame: per label, units won under plain
    * majority vs under log-odds-weighted voting, and how many units the
    * weighted vote moved into the label. */
  private val q147: Q = (s, d) => {
    import s.implicits._
    Classify.weightedVoteReport(Wave6Queries.annotators(s, d), "doc_id",
        Seq("a", "b", "c"))
      .orderBy($"label")
  }

  /** Assignment-margin confidence report ([[Kmeans.marginReport]]) for
    * q142's fit (same memoized model): per cluster, members whose gap
    * to the second-nearest centroid is under 0.02 — the boundary-mass
    * check an IVF/SemDeDup partitioning runs before trusting its cells.
    * Golden-pinned (centroids come from the iterative fit). */
  private val q148: Q = (s, d) => {
    import s.implicits._
    val m = Stores.kmeansModel(s, d)
    Kmeans.marginReport(Tables.embeddings(s, d), "embedding", m,
        ambThreshold = 0.02)
      .orderBy($"cluster")
  }

  /** First-/last-touch attribution ([[Funnel.attribution]]): which touch
    * type gets credit for each purchase, under both bookend models, in
    * one user-keyed window pass. */
  private val q149: Q = (s, d) => {
    import s.implicits._
    Funnel.attribution(Tables.events(s, d), "user_id", "ts", "event_id",
        "event_type", convType = "purchase",
        touchTypes = Seq("view", "click", "signup"))
      .orderBy($"touch_type")
  }

  /** The q150 mixing weights — chosen, not derived, as a loader config
    * would be (q95 is where ratios get COMPUTED). */
  private val currWeights = Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
    "fr" -> 0.15, "zh" -> 0.15)

  /** Stride-scheduled curriculum order ([[Sampling.curriculumOrder]]):
    * the deterministic training-consumption order whose every prefix
    * tracks the language mixing weights — rank-in-group by seeded hash,
    * virtual time rank/weight, consumed in vt order. */
  private val q150: Q = (s, d) => {
    import s.implicits._
    Sampling.curriculumOrder(Tables.documents(s, d), "lang", "doc_id",
        currWeights, seed = "curr1")
      .select($"id".as("doc_id"), $"group".as("lang"),
        $"rank_in_group", $"vt")
  }

  /** 16 planted template tokens — two full 8-token tiles when prepended
    * (q146's alignment argument). */
  private val tmpl16 = "template header boilerplate nav sidebar footer " +
    "promo banner subscribe follow share like comment related trending latest"

  /** Duplication-hub diagnostics ([[Dedup.duplicationHubs]]) over a
    * corpus where every 11th doc carries the planted template header:
    * the ~45 template docs surface as the degree-44 hub family. md5
    * tile keys on the oracle surface (xxhash64 in production). */
  private val q151: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id",
      when($"doc_id" % 11 === 0, concat(lit(tmpl16 + " "), $"text"))
        .otherwise($"text").as("text"))
    Dedup.duplicationHubs(docs, "doc_id", "text", k = 8, maxDf = 64,
      minShared = 2, topK = 50, tileKey = c => md5(c))
  }

  /** Multi-table-vs-single-table LSH recall report: mean recall@5
    * against the exact brute-force ground truth for the fixed
    * single-table probe (h=8 — the legacy route whose recall collapses
    * with corpus growth) vs the corpus-scaled banded route
    * ([[Similarity.knnLshBanded]] at targetRecall 0.7) — the measured
    * recall the collision-model band derivation buys. The sf1 golden
    * gate enforces both dominance AND a 0.5 floor on the banded arm.
    * Golden-pinned (seeded hyperplanes aren't DuckDB-expressible —
    * q28/q111's precedent). */
  private val q152: Q = (s, d) => {
    import s.implicits._
    val e = Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
    val qs = e.where($"id" < 50)
    val bf = Similarity.knnBruteForce(qs, e, k = 5)
      .select($"query_id", $"neighbor_id")
    // Round-15 shape: the pre-r15 form ran one meanRecall subplan per
    // arm, so the exact ground-truth subtree (corpus scan + 50×N cosine
    // BNLJ + top-k window, 0.95 s/arm at sf0.1) executed TWICE — once
    // under each union branch. Tagging the candidate sets with their
    // probe_mode and intersecting the union against bf in ONE semi-join
    // keeps bf a single subtree in a single plan. The semi-join is
    // flipped (candidates semi truth instead of truth semi candidates):
    // both sides are per-query duplicate-free top-k sets, so the
    // intersection count per (mode, query) — and every reported value —
    // is unchanged (golden-pinned, regenerated bit-identical).
    val cand =
      Similarity.knnLsh(qs, e, k = 5, h = 8)
        .select(lit("single").as("probe_mode"), $"query_id", $"neighbor_id")
        .unionByName(
          Similarity.knnLshBanded(qs, e, k = 5, targetRecall = 0.7)
            .select(lit("multi").as("probe_mode"), $"query_id", $"neighbor_id"))
    val hits = cand.join(bf, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"probe_mode", $"query_id").agg(count(lit(1)).as("n_hit"))
    qs.select($"id".as("query_id"),
        explode(array(lit("single"), lit("multi"))).as("probe_mode"))
      .join(hits, Seq("probe_mode", "query_id"), "left")
      .groupBy($"probe_mode")
      .agg(round(sum(round(coalesce($"n_hit", lit(0L)) / 5.0, 9)
          .cast("decimal(28,12)")).cast("double") / count(lit(1)), 9)
        .as("mean_recall_at_5"))
      .orderBy($"probe_mode")
  }

  /** Retrieval metrics over IVF candidates
    * ([[Ranking.retrievalEvalRanked]]): the corpus-scale path q141's
    * operator documents — the ANN index graded by the SAME per-label
    * MRR/P/R/nDCG frame as the exact ranking, so its quality cost is a
    * side-by-side read against q141. Golden-pinned (IVF centroids come
    * from the trained quantizer). */
  private val q153: Q = (s, d) => {
    import s.implicits._
    val slice = Tables.embeddings(s, d).where($"vec_id" < 200)
    val vecs = Similarity.prepared(slice, "vec_id", "embedding")
    val (cells, probe) = Similarity.ivfScaledParams(vecs.count())
    Ranking.retrievalEvalRanked(
        Similarity.knnIvf(vecs, vecs, k = 10, nCells = cells, nProbe = probe),
        slice.select($"vec_id".as("id"), $"label"), k = 10)
      .orderBy($"label")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q147_weighted_vote" -> q147,
    "q148_kmeans_margin" -> q148,
    "q149_attribution" -> q149,
    "q150_curriculum" -> q150,
    "q151_dup_hubs" -> q151,
    "q152_multiprobe_recall" -> q152,
    "q153_ivf_retrieval_eval" -> q153)

  // ---- oracle SQL -------------------------------------------------------

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
    // q148_kmeans_margin: golden-pinned — centroids come from the
    // iterative Lloyd fit (q142's precedent)
    "q147_weighted_vote" ->
      s"""WITH $annSql,
         |votes AS (SELECT unit, label, CAST(count(*) AS BIGINT) AS v
         |  FROM ratings GROUP BY 1, 2),
         |maj AS (SELECT unit, label AS majority FROM (
         |  SELECT unit, label, row_number() OVER (PARTITION BY unit
         |      ORDER BY v DESC, label) AS rn FROM votes) WHERE rn = 1),
         |wt AS (SELECT annotator,
         |    round(ln(((n_agree + 1) / CAST(n_rated + 2 AS DOUBLE)) /
         |      (1.0 - (n_agree + 1) / CAST(n_rated + 2 AS DOUBLE))), 9) AS w
         |  FROM (SELECT annotator, CAST(count(*) AS BIGINT) AS n_rated,
         |      CAST(sum(CASE WHEN label = majority THEN 1 ELSE 0 END)
         |        AS BIGINT) AS n_agree
         |    FROM ratings JOIN maj USING (unit) GROUP BY 1)),
         |ws AS (SELECT unit, label,
         |    CAST(sum(CAST(w AS DECIMAL(28,12))) AS DOUBLE) AS wsum
         |  FROM ratings JOIN wt USING (annotator) GROUP BY 1, 2),
         |wv AS (SELECT unit, label AS weighted FROM (
         |  SELECT unit, label, row_number() OVER (PARTITION BY unit
         |      ORDER BY round(wsum, 9) DESC, label) AS rn FROM ws)
         |  WHERE rn = 1),
         |j AS (SELECT maj.unit, majority, weighted
         |  FROM maj JOIN wv ON maj.unit = wv.unit),
         |bm AS (SELECT majority AS label, CAST(count(*) AS BIGINT)
         |    AS n_majority FROM j GROUP BY 1),
         |bw AS (SELECT weighted AS label, CAST(count(*) AS BIGINT)
         |    AS n_weighted,
         |    CAST(sum(CASE WHEN majority <> weighted THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_gained
         |  FROM j GROUP BY 1)
         |SELECT label, coalesce(n_majority, 0) AS n_majority,
         |  coalesce(n_weighted, 0) AS n_weighted,
         |  coalesce(n_gained, 0) AS n_gained
         |FROM bm FULL JOIN bw USING (label)
         |ORDER BY label""".stripMargin,
    "q149_attribution" ->
      """WITH w AS (SELECT event_type,
        |    first_value(CASE WHEN event_type IN ('view', 'click', 'signup')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f,
        |    last_value(CASE WHEN event_type IN ('view', 'click', 'signup')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS l
        |  FROM events),
        |conv AS (SELECT coalesce(f, '(none)') AS first_touch,
        |    coalesce(l, '(none)') AS last_touch
        |  FROM w WHERE event_type = 'purchase'),
        |bf AS (SELECT first_touch AS touch_type,
        |    CAST(count(*) AS BIGINT) AS n_first FROM conv GROUP BY 1),
        |bl AS (SELECT last_touch AS touch_type,
        |    CAST(count(*) AS BIGINT) AS n_last FROM conv GROUP BY 1)
        |SELECT touch_type, coalesce(n_first, 0) AS n_first,
        |  coalesce(n_last, 0) AS n_last
        |FROM bf FULL JOIN bl USING (touch_type)
        |ORDER BY touch_type""".stripMargin,
    "q150_curriculum" -> {
      val wCase = currWeights.map { case (g, w) =>
        s"WHEN '$g' THEN $w" }.mkString(" ")
      s"""WITH h AS (SELECT doc_id, lang,
         |    CAST(concat('0x', substr(md5(concat('curr1 ',
         |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hk
         |  FROM documents),
         |r AS (SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id)
         |      AS INTEGER) AS rank_in_group FROM h)
         |SELECT doc_id, lang, rank_in_group,
         |  round(rank_in_group / (CASE lang $wCase END), 9) AS vt
         |FROM r ORDER BY vt, lang, doc_id""".stripMargin
    },
    "q151_dup_hubs" ->
      s"""WITH corpus AS (SELECT doc_id,
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
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT doc_a AS doc_id, CAST(count(*) AS BIGINT) AS n_partners,
         |  CAST(max(n_shared) AS BIGINT) AS max_shared
         |FROM p GROUP BY 1
         |ORDER BY n_partners DESC, max_shared DESC, doc_id LIMIT 50"""
        .stripMargin)
}
