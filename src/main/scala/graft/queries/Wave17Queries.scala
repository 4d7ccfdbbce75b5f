package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Funnel, Text}

/** Round-9 wave-19 queries: per-source distinctive terms (log-odds with
  * Dirichlet prior), duplicate-cluster composition/purity, and the
  * stationary distribution of the event-type Markov chain. All
  * DuckDB-oracle-checked. */
object Wave17Queries extends QuerySet {

  private val D2812 = "decimal(28,12)"

  /** Per-source distinctive vocabulary — Monroe et al.'s log-odds with
    * an uninformative Dirichlet prior, each source against the REST of
    * the corpus, top 3 terms by z-score: the "what characterizes this
    * source" read behind mixture and contamination triage (raw tf-idf
    * overweights rare typos; the variance term 1/(c+a) + 1/(c_rest+a)
    * is exactly what damps them). ONE (source, token) count frame feeds
    * source totals, corpus totals and the score; everything after the
    * exact counts is double arithmetic on an expression tree the oracle
    * replays verbatim (counts cast to double FIRST, so both engines
    * promote identically). Support floor c_ws ≥ 10. */
  private val q184: Q = (s, d) => {
    import s.implicits._
    val cws = Tables.documents(s, d)
      .select($"source", explode(Text.tokens($"text")).as("tok"))
      .groupBy($"source", $"tok")
      .agg(count(lit(1)).cast("long").as("n_ws"))
      .localCheckpoint(true)
    val ns = cws.groupBy($"source").agg(sum($"n_ws").cast("long").as("__n_s"))
    val cw = cws.groupBy($"tok").agg(sum($"n_ws").cast("long").as("__c_w"))
    val tot = cw.agg(sum($"__c_w").cast("long").as("__n"),
      count(lit(1)).cast("long").as("__v"))
    val a0 = $"__v".cast("double") * lit(0.01)
    val cD = $"n_ws".cast("double")
    val crD = ($"__c_w" - $"n_ws").cast("double")
    val d1 = log((cD + lit(0.01)) /
      ($"__n_s".cast("double") + a0 - cD - lit(0.01)))
    val d2 = log((crD + lit(0.01)) /
      (($"__n" - $"__n_s").cast("double") + a0 - crD - lit(0.01)))
    val z = (d1 - d2) /
      sqrt(lit(1.0) / (cD + lit(0.01)) + lit(1.0) / (crD + lit(0.01)))
    cws.join(broadcast(ns), Seq("source"))
      .join(cw, Seq("tok"))
      .crossJoin(broadcast(tot))
      .where($"n_ws" >= 10)
      .select($"source", $"tok", $"n_ws", round(z, 9).as("z"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"source").orderBy($"z".desc, $"tok")).cast("int"))
      .where($"rnk" <= 3)
      .orderBy($"source", $"rnk")
  }

  /** Composition of q43's near-dup clusters: size, language/source
    * spread, modal language and its purity per connected component —
    * the review that decides whether a dup cluster is a same-site
    * template (one source, one lang → collapse) or cross-source
    * syndication (keep one per source). Top 50 clusters by size. */
  private val q185: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // cluster membership comes from the SHARED persisted store (one
    // derivation per corpus, published by whichever family query runs
    // first) — this query is now the rollup it always logically was
    val base = Stores.docClusters(s, d)
      .join(docs.select($"doc_id", $"lang", $"source"), Seq("doc_id"))
      .select($"component_id", $"lang", $"source")
      .localCheckpoint(true)
    val stats = base.groupBy($"component_id")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct($"lang").cast("long").as("n_langs"),
        countDistinct($"source").cast("long").as("n_sources"))
    val top = base.groupBy($"component_id", $"lang")
      .agg(count(lit(1)).cast("long").as("__cl"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"component_id").orderBy($"__cl".desc, $"lang")))
      .where($"__rn" === 1)
      .select($"component_id", $"lang".as("top_lang"), $"__cl".as("__top_n"))
    stats.join(top, Seq("component_id"))
      .select($"component_id", $"n_docs", $"n_langs", $"n_sources",
        $"top_lang",
        round($"__top_n".cast("double") / $"n_docs", 9).as("lang_purity"))
      .orderBy($"n_docs".desc, $"component_id")
      .limit(50)
  }

  /** Stationary distribution of the event-type Markov chain: 8 power
    * iterations of π ← πP over q131's row-normalized transition matrix
    * — the long-run "where does a user's session settle" vector that a
    * single-step transition table cannot answer. The chain frame is
    * |types|²-sized; rounds follow the pageRank discipline (12 dp
    * per-round rounding + decimal-exact sums → the unrolled recurrence
    * is engine-bit-reproducible; eager per-round materialization keeps
    * optimizer work constant). */
  private val q186: Q = (s, d) => {
    import s.implicits._
    val p = Funnel.eventTransitions(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type")
      .select($"from_type", $"to_type", $"prob")
      .localCheckpoint(true)
    val st = p.select($"from_type".as("state"))
      .union(p.select($"to_type".as("state"))).distinct()
    val stN = st.crossJoin(broadcast(
      st.agg(count(lit(1)).cast("long").as("__n")))).localCheckpoint(true)
    var pi = stN.select($"state", (lit(1.0) / $"__n").as("pi"))
    for (_ <- 1 to 8) {
      val sw = p.join(pi.select($"state".as("from_type"), $"pi"),
          Seq("from_type"))
        .select($"to_type", round($"pi" * $"prob", 12).as("__w"))
        .groupBy($"to_type")
        .agg(sum($"__w".cast(D2812)).cast("double").as("__sw"))
      pi = stN.join(sw.select($"to_type".as("state"), $"__sw"),
          Seq("state"), "left")
        .select($"state", round(coalesce($"__sw", lit(0.0)), 12).as("pi"))
        .localCheckpoint(true)
    }
    pi.select($"state", round($"pi", 9).as("pi")).orderBy($"state")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q184_log_odds_terms" -> q184,
    "q185_cluster_purity" -> q185,
    "q186_markov_stationary" -> q186)

  // ---- oracle SQL -------------------------------------------------------

  /** q43's 3-gram Jaccard≥0.5 pair graph + recursive component walk,
    * ending in `comp(doc_id, comp)` — shared with the wave-22 cluster
    * readers (Wave20Queries), which oracle against the same table. */
  private[queries] val ccSql =
    """t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        unnest(list_transform(generate_series(1, len(w) - 2),
      |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |      FROM t),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |pp AS (SELECT doc_a, doc_b FROM p
      |       JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      |       WHERE inter / (sa.n + sb.n - inter) >= 0.5),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pp UNION SELECT doc_b, doc_a FROM pp),
      |walk(node, label) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT e.a, w.label FROM e JOIN walk w ON e.b = w.node),
      |comp AS (SELECT node AS doc_id, min(label) AS comp
      |  FROM walk GROUP BY node)""".stripMargin

  /** One power-iteration round over the transition matrix. */
  private def piRound(i: Int): String =
    s"""w$i AS (SELECT p.to_type, round(it${i - 1}.pi * p.prob, 12) AS w
       |  FROM p JOIN it${i - 1} ON it${i - 1}.state = p.from_type),
       |s$i AS (SELECT to_type, CAST(sum(CAST(w AS DECIMAL(28,12)))
       |    AS DOUBLE) AS sw FROM w$i GROUP BY 1),
       |it$i AS (SELECT sn.state,
       |    round(coalesce(s$i.sw, 0.0), 12) AS pi
       |  FROM sn LEFT JOIN s$i ON sn.state = s$i.to_type)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q184_log_odds_terms" ->
      """WITH cws AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n_ws
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(n_ws) AS BIGINT) AS n_s
        |  FROM cws GROUP BY 1),
        |cw AS (SELECT tok, CAST(sum(n_ws) AS BIGINT) AS c_w
        |  FROM cws GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS v FROM cw),
        |sc AS (SELECT source, tok, n_ws,
        |    round((ln((CAST(n_ws AS DOUBLE) + CAST(0.01 AS DOUBLE)) /
        |        (CAST(n_s AS DOUBLE) + CAST(v AS DOUBLE) * CAST(0.01 AS DOUBLE)
        |          - CAST(n_ws AS DOUBLE) - CAST(0.01 AS DOUBLE))) -
        |      ln((CAST(c_w - n_ws AS DOUBLE) + CAST(0.01 AS DOUBLE)) /
        |        (CAST(n - n_s AS DOUBLE) + CAST(v AS DOUBLE) * CAST(0.01 AS DOUBLE)
        |          - CAST(c_w - n_ws AS DOUBLE) - CAST(0.01 AS DOUBLE)))) /
        |      sqrt(CAST(1 AS DOUBLE) / (CAST(n_ws AS DOUBLE) + CAST(0.01 AS DOUBLE)) +
        |        CAST(1 AS DOUBLE) / (CAST(c_w - n_ws AS DOUBLE) + CAST(0.01 AS DOUBLE))),
        |      9) AS z
        |  FROM cws JOIN ns USING (source) JOIN cw USING (tok), tot
        |  WHERE n_ws >= 10),
        |rk AS (SELECT source, tok, n_ws, z,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY z DESC, tok) AS INTEGER) AS rnk
        |  FROM sc)
        |SELECT source, tok, n_ws, z, rnk FROM rk
        |WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin,
    "q185_cluster_purity" ->
      s"""WITH RECURSIVE
         |$ccSql,
         |base AS (SELECT c.comp, d.lang, d.source
         |  FROM comp c JOIN documents d USING (doc_id)),
         |stats AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |  FROM base GROUP BY 1),
         |bl AS (SELECT comp, lang, CAST(count(*) AS BIGINT) AS cl
         |  FROM base GROUP BY 1, 2),
         |top AS (SELECT comp, lang AS top_lang, cl FROM (
         |  SELECT comp, lang, cl, row_number() OVER (PARTITION BY comp
         |    ORDER BY cl DESC, lang) AS rn FROM bl) WHERE rn = 1)
         |SELECT s.comp AS component_id, s.n_docs, s.n_langs, s.n_sources,
         |  t.top_lang,
         |  round(CAST(t.cl AS DOUBLE) / s.n_docs, 9) AS lang_purity
         |FROM stats s JOIN top t USING (comp)
         |ORDER BY s.n_docs DESC, component_id LIMIT 50""".stripMargin,
    "q186_markov_stationary" ->
      s"""WITH tr AS (SELECT event_type AS from_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS to_type
         |  FROM events),
         |c AS (SELECT from_type, to_type, count(*) AS n_trans FROM tr
         |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |p AS (SELECT from_type, to_type,
         |    round(CAST(n_trans AS DOUBLE) /
         |      sum(n_trans) OVER (PARTITION BY from_type), 9) AS prob
         |  FROM c),
         |st AS (SELECT DISTINCT state FROM (
         |  SELECT from_type AS state FROM p
         |  UNION ALL SELECT to_type FROM p)),
         |sn AS (SELECT state, n FROM st CROSS JOIN
         |  (SELECT CAST(count(*) AS BIGINT) AS n FROM st)),
         |it0 AS (SELECT state, CAST(1 AS DOUBLE) / n AS pi FROM sn),
         |${(1 to 8).map(piRound).mkString(",\n")}
         |SELECT state, round(pi, 9) AS pi FROM it8 ORDER BY state""".stripMargin)
}
