package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Graph, Sampling, Text, Windows}

/** Round-9 ninth-wave queries: semi-supervised label propagation over
  * the duplication graph, exponentially time-decayed means, suffix→
  * prefix stitch detection, dedup-discounted effective token yield, and
  * UniMax mixture allocation. All five are DuckDB-oracle-checked. */
object Wave9Queries extends QuerySet {

  /** Label propagation ([[Graph.labelPropagate]]) over q155's planted
    * duplication graph: docs with `doc_id % 7 = 0` seed their `lang`
    * label; three modal rounds spread labels to near-copies. Integer/
    * string arithmetic only — the one iterative operator with zero
    * float-parity surface. */
  private val q159: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id",
      when($"doc_id" % 11 === 0, concat(lit(Wave8Queries.tmpl16 + " "), $"text"))
        .otherwise($"text").as("text"))
    val edges = Dedup.rareTilePairs(docs, "doc_id", "text", k = 8,
      maxDf = 64, minShared = 2, tileKey = c => md5(c))
    val seeds = Tables.documents(s, d).where($"doc_id" % 7 === 0)
      .select($"doc_id".as("node"), $"lang".as("label"))
    Graph.labelPropagate(edges, "doc_a", "doc_b", seeds, iters = 3)
      .select($"node".as("doc_id"), $"label")
      .orderBy($"doc_id")
  }

  /** Exponentially time-decayed means per event type
    * ([[Windows.decayedMean]], half-life 7 days back from the corpus'
    * latest event): the freshness-weighted engagement aggregate. */
  private val q160: Q = (s, d) => {
    import s.implicits._
    Windows.decayedMean(Tables.events(s, d), "event_type", "ts", "value",
        halfLifeDays = 7.0)
      .orderBy($"event_type")
  }

  /** Suffix→prefix stitch pairs ([[Dedup.stitchPairs]]) over a corpus
    * with planted continuation markers: every even doc STARTS with its
    * decade's 8-token marker tile and every odd doc ENDS with it, so
    * the odd→even continuation pairs surface per decade. md5 edge-tile
    * keys on the oracle surface (xxhash64 in production). */
  private val q161: Q = (s, d) => {
    import s.implicits._
    val m8 = array_join(array_repeat(
      concat(lit("c"), floor($"doc_id" / 10).cast("long").cast("string")), 8), " ")
    val docs = Tables.documents(s, d).select($"doc_id",
      when($"doc_id" % 2 === 0, concat(m8, lit(" "), $"text"))
        .otherwise(concat($"text", lit(" "), m8)).as("text"))
    Dedup.stitchPairs(docs, "doc_id", "text", k = 8, maxDf = 64,
        tileKey = c => md5(c))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Dedup-discounted effective token yield per source: each doc's
    * tokens weight by 1/|its q43 near-dup cluster| (singletons weigh 1),
    * so a source shipping 10 copies of everything reports ~10% yield —
    * the "effective dataset size" a mixture planner budgets on, and the
    * number that exposes a source whose raw volume is duplication. */
  private val q162: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // canonical components via the persisted cluster store — derived
    // once per corpus ([[Stores.docClusters]]), identical rows
    val cc = Stores.docClusters(s, d)
    val sizes = cc.groupBy($"component_id")
      .agg(count(lit(1)).cast("long").as("csz"))
    docs.select($"doc_id", $"source",
        Text.tokenCount($"text").cast("long").as("tok"))
      .join(cc, Seq("doc_id"), "left")
      .join(sizes, Seq("component_id"), "left")
      .withColumn("sz", coalesce($"csz", lit(1L)))
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($"tok").cast("long").as("raw_tokens"),
        round(sum(round($"tok" / $"sz", 9).cast("decimal(28,12)"))
          .cast("double"), 9).as("eff_tokens"))
      .withColumn("yield_ratio", round($"eff_tokens" / $"raw_tokens", 9))
      .orderBy($"source")
  }

  private val umBudget = 40000.0
  private val umEpochs = 4.0

  /** UniMax token-budget allocation across languages
    * ([[Sampling.unimaxAllocation]]): 40k-token budget, 4-epoch cap,
    * ascending water-fill — low-resource languages take their capped
    * allocation and the freed budget flows to high-resource ones. */
  private val q163: Q = (s, d) => {
    import s.implicits._
    val toks = Tables.documents(s, d).select($"lang",
      Text.tokenCount($"text").cast("long").as("tok"))
    Sampling.unimaxAllocation(toks, "lang", "tok",
        budget = umBudget, maxEpochs = umEpochs)
      .select($"domain".as("lang"), $"tokens", $"alloc", $"epochs")
      .orderBy($"lang")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q159_label_propagation" -> q159,
    "q160_time_decay" -> q160,
    "q161_stitch_pairs" -> q161,
    "q162_effective_yield" -> q162,
    "q163_unimax_alloc" -> q163)

  // ---- oracle SQL -------------------------------------------------------

  /** One unrolled label-propagation round: v{i}/w{i}/l{i} from l{i-1}. */
  private[queries] def lpRound(i: Int): String =
    s"""v$i AS (SELECT e.dst, l.label, CAST(count(*) AS BIGINT) AS cnt
       |  FROM e JOIN l${i - 1} l ON l.node = e.src
       |  WHERE l.label IS NOT NULL GROUP BY 1, 2),
       |w$i AS (SELECT dst AS node, label AS newl FROM (
       |  SELECT dst, label, row_number() OVER (PARTITION BY dst
       |    ORDER BY cnt DESC, label) AS rn FROM v$i) WHERE rn = 1),
       |l$i AS (SELECT l.node, coalesce(l.label, w.newl) AS label
       |  FROM l${i - 1} l LEFT JOIN w$i w ON l.node = w.node)""".stripMargin

  /** One unrolled UniMax water-fill step: a{i} picks the rn={i} domain,
    * taking min(cap, remaining/domains_left). */
  private def umStep(i: Int): String = {
    val prevRem = if (i == 1) s"$umBudget" else s"a${i - 1}.rem"
    val joinPrev = if (i == 1) "" else s", a${i - 1}"
    s"""a$i AS (SELECT domain, tokens, rn, alloc, rem0 - alloc AS rem FROM (
       |  SELECT r.domain, r.tokens, r.rn, $prevRem AS rem0,
       |    least(CAST(r.tokens AS DOUBLE) * $umEpochs,
       |      CAST($prevRem AS DOUBLE) / ${6 - i}) AS alloc
       |  FROM r$joinPrev WHERE r.rn = $i))""".stripMargin
  }

  val oracle: Seq[(String, String)] = Seq(
    "q159_label_propagation" ->
      s"""WITH ${Wave8Queries.dupEdgeSql},
         |nd AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |seeds AS (SELECT doc_id AS node, lang AS label FROM documents
         |  WHERE doc_id % 7 = 0),
         |l0 AS (SELECT nd.node, s.label FROM nd LEFT JOIN seeds s USING (node)),
         |${(1 to 3).map(lpRound).mkString(",\n")}
         |SELECT node AS doc_id, label FROM l3 ORDER BY doc_id""".stripMargin,
    "q160_time_decay" ->
      """WITH mx AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
        |x AS (SELECT event_type, value AS v,
        |    round(exp(round(-0.6931471805599453 *
        |      (CAST(max_us - epoch_us(ts) AS DOUBLE) / 86400000000.0) / 7.0,
        |      6)), 6) AS w
        |  FROM events CROSS JOIN mx WHERE value IS NOT NULL),
        |agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    round(CAST(sum(CAST(round(v * w, 9) AS DECIMAL(28,12)))
        |      AS DOUBLE), 9) AS decayed_sum,
        |    round(CAST(sum(CAST(w AS DECIMAL(28,12))) AS DOUBLE), 9)
        |      AS weight_sum,
        |    round(CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / count(*),
        |      9) AS mean_raw
        |  FROM x GROUP BY event_type)
        |SELECT event_type, n, decayed_sum, weight_sum, mean_raw,
        |  round(decayed_sum / weight_sum, 9) AS mean_decayed
        |FROM agg ORDER BY event_type""".stripMargin,
    "q161_stitch_pairs" ->
      """WITH c0 AS (SELECT doc_id, text,
        |    'c' || CAST(CAST(floor(doc_id / 10) AS BIGINT) AS VARCHAR) AS m
        |  FROM documents),
        |c1 AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
        |    THEN array_to_string(list_transform(range(8), x -> m), ' ')
        |      || ' ' || text
        |    ELSE text || ' ' ||
        |      array_to_string(list_transform(range(8), x -> m), ' ')
        |  END AS text FROM c0),
        |f AS (SELECT doc_id, string_split(text, ' ') AS w FROM c1),
        |ff AS (SELECT doc_id, w FROM f WHERE len(w) >= 8),
        |hh AS (SELECT doc_id,
        |    md5(array_to_string(list_slice(w, 1, 8), ' ')) AS h FROM ff),
        |ht AS (SELECT doc_id,
        |    md5(array_to_string(list_slice(w, len(w) - 7, len(w)), ' '))
        |      AS h FROM ff),
        |ch AS (SELECT h FROM hh GROUP BY h HAVING count(*) <= 64),
        |ct AS (SELECT h FROM ht GROUP BY h HAVING count(*) <= 64),
        |p AS (SELECT t.doc_id AS doc_a, s.doc_id AS doc_b
        |  FROM (SELECT ht.doc_id, ht.h FROM ht JOIN ct USING (h)) t
        |  JOIN (SELECT hh.doc_id, hh.h FROM hh JOIN ch USING (h)) s
        |    USING (h)
        |  WHERE t.doc_id <> s.doc_id)
        |SELECT doc_a, doc_b FROM p ORDER BY doc_a, doc_b""".stripMargin,
    "q162_effective_yield" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t),
        |shn AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |pp AS (SELECT doc_a, doc_b FROM p
        |       JOIN shn sa ON doc_a = sa.doc_id JOIN shn sb ON doc_b = sb.doc_id
        |       WHERE inter / (sa.n + sb.n - inter) >= 0.5),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pp
        |      UNION SELECT doc_b, doc_a FROM pp),
        |walk(node, label) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.a, w.label FROM e JOIN walk w ON e.b = w.node),
        |comp AS (SELECT node AS doc_id, min(label) AS component_id
        |  FROM walk GROUP BY node),
        |cs AS (SELECT component_id, CAST(count(*) AS BIGINT) AS csz
        |  FROM comp GROUP BY 1),
        |d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |j AS (SELECT d.source, d.tok, coalesce(cs.csz, 1) AS sz
        |  FROM d LEFT JOIN comp USING (doc_id) LEFT JOIN cs USING (component_id)),
        |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(tok) AS BIGINT) AS raw_tokens,
        |    round(CAST(sum(CAST(round(tok / sz, 9) AS DECIMAL(28,12)))
        |      AS DOUBLE), 9) AS eff_tokens
        |  FROM j GROUP BY source)
        |SELECT source, n_docs, raw_tokens, eff_tokens,
        |  round(eff_tokens / raw_tokens, 9) AS yield_ratio
        |FROM agg ORDER BY source""".stripMargin,
    "q163_unimax_alloc" ->
      s"""WITH tot AS (SELECT lang,
         |    CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
         |      AS BIGINT) AS tokens
         |  FROM documents GROUP BY 1),
         |r AS (SELECT lang AS domain, tokens,
         |    CAST(row_number() OVER (ORDER BY tokens, lang) AS INTEGER) AS rn
         |  FROM tot),
         |${(1 to 5).map(umStep).mkString(",\n")},
         |al AS (${(1 to 5).map(i => s"SELECT domain, tokens, alloc FROM a$i")
            .mkString(" UNION ALL ")})
         |SELECT domain AS lang, tokens, round(alloc, 6) AS alloc,
         |  round(alloc / CAST(tokens AS DOUBLE), 9) AS epochs
         |FROM al ORDER BY lang""".stripMargin)
}
