package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Graph, Text}

/** Round-9 wave-16 queries: link prediction over the duplication graph,
  * token burst detection across ingestion batches, and hub-removal
  * ablation of the dedup cluster structure. All DuckDB-oracle-checked. */
object Wave14Queries extends QuerySet {

  private def plantedDocs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select($"doc_id",
      when($"doc_id" % 11 === 0,
        concat(lit(Wave8Queries.tmpl16 + " "), $"text"))
        .otherwise($"text").as("text"))
  }

  /** Missed-duplicate candidates ([[Graph.linkCandidates]] over the
    * planted duplication graph): top 50 non-adjacent pairs by common
    * dup-neighbors with conservative neighborhood Jaccard — the queue a
    * reviewer walks for near-dups the direct tile join never scored.
    * md5 tile keys on the oracle surface. */
  private val q178: Q = (s, d) => {
    import s.implicits._
    Graph.linkCandidates(
        Dedup.rareTilePairs(plantedDocs(s, d), "doc_id", "text", k = 8,
          maxDf = 64, minShared = 2, tileKey = c => md5(c)),
        "doc_a", "doc_b", maxCenterDeg = 64)
      .orderBy($"n_common".desc, $"u", $"w")
      .limit(50)
  }

  /** Token burst detection: tokens whose within-batch frequency share
    * runs ahead of their corpus share (lift = (n_bt/n_b)/(n_t/n_all)),
    * over q177's equal-width ingestion batches — the trending-term /
    * vocabulary-shift read between crawl snapshots. ONE (batch, token)
    * aggregation feeds batch totals, token totals and the final score;
    * the support floor (n_bt ≥ 20) keeps one-off typos out of the top
    * list. Exact integer counts, two divisions at the end. */
  private val q179: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val mx = docs.agg(max($"doc_id").as("__mx"))
    val bt = docs.crossJoin(broadcast(mx))
      .withColumn("batch",
        floor(($"doc_id" * 10).cast("double") / ($"__mx" + 1)).cast("int"))
      .select($"batch", explode(Text.tokens($"text")).as("tok"))
      .groupBy($"batch", $"tok")
      .agg(count(lit(1)).cast("long").as("n_bt"))
      .localCheckpoint(true)
    val btot = bt.groupBy($"batch").agg(sum($"n_bt").cast("long").as("__n_b"))
    val ttot = bt.groupBy($"tok").agg(sum($"n_bt").cast("long").as("__n_t"))
    val ctot = btot.agg(sum($"__n_b").cast("long").as("__n_all"))
    bt.where($"n_bt" >= 20)
      .join(broadcast(btot), Seq("batch"))
      .join(ttot, Seq("tok"))
      .crossJoin(broadcast(ctot))
      .select($"batch", $"tok", $"n_bt",
        round(($"n_bt".cast("double") / $"__n_b") /
          ($"__n_t".cast("double") / $"__n_all"), 9).as("lift"))
      .orderBy($"lift".desc, $"batch", $"tok")
      .limit(30)
  }

  /** Hub-removal ablation: component structure of the duplication graph
    * before vs after deleting the top-20-degree hubs — the "if we drop
    * these templates, what clusters remain" decision table (a structure
    * held together only by hubs shatters; residual near-clique mass
    * needs cluster collapse instead). Components via
    * [[Dedup.connectedComponents]] on each variant; nodes are counted
    * while they still carry an edge. */
  private val q180: Q = (s, d) => {
    import s.implicits._
    val und = Dedup.rareTilePairs(plantedDocs(s, d), "doc_id", "text",
        k = 8, maxDf = 64, minShared = 2, tileKey = c => md5(c))
      .where($"doc_a" < $"doc_b")
      .select($"doc_a".as("a"), $"doc_b".as("b"))
      .localCheckpoint(true)
    val deg = und.select($"a".as("node")).unionAll(und.select($"b".as("node")))
      .groupBy($"node").agg(count(lit(1)).cast("long").as("degree"))
    val hubs = deg.orderBy($"degree".desc, $"node").limit(20)
      .select($"node").localCheckpoint(true)
    val abl = und
      .join(hubs.select($"node".as("a")), Seq("a"), "left_anti")
      .join(hubs.select($"node".as("b")), Seq("b"), "left_anti")
      .select($"a", $"b")
    def roll(edges: DataFrame, name: String): DataFrame =
      Dedup.connectedComponents(edges)
        .groupBy($"component_id").agg(count(lit(1)).cast("long").as("__sz"))
        .agg(sum($"__sz").cast("long").as("n_nodes"),
          count(lit(1)).cast("long").as("n_components"),
          max($"__sz").as("max_component"))
        .withColumn("variant", lit(name))
    roll(und, "full").unionByName(roll(abl, "no_hubs"))
      .select($"variant", $"n_nodes", $"n_components", $"max_component")
      .orderBy($"variant")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q178_link_prediction" -> q178,
    "q179_token_bursts" -> q179,
    "q180_hub_ablation" -> q180)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q178_link_prediction" ->
      s"""WITH ${Wave8Queries.dupEdgeSql},
         |und AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
         |sym AS (SELECT a AS z, b AS nbr FROM und
         |  UNION ALL SELECT b, a FROM und),
         |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS degree
         |  FROM sym GROUP BY 1),
         |sc AS (SELECT sym.z, sym.nbr FROM sym
         |  JOIN (SELECT z FROM deg WHERE degree <= 64) c USING (z)),
         |wg AS (SELECT x.nbr AS u, y.nbr AS w,
         |    CAST(count(*) AS BIGINT) AS n_common
         |  FROM sc x JOIN sc y ON x.z = y.z AND x.nbr < y.nbr
         |  GROUP BY 1, 2),
         |na AS (SELECT wg.u, wg.w, wg.n_common FROM wg
         |  LEFT JOIN und ON wg.u = und.a AND wg.w = und.b
         |  WHERE und.a IS NULL)
         |SELECT u, w, n_common,
         |  round(CAST(n_common AS DOUBLE) /
         |    (du.degree + dw.degree - n_common), 9) AS jaccard
         |FROM na JOIN deg du ON na.u = du.z JOIN deg dw ON na.w = dw.z
         |ORDER BY n_common DESC, u, w LIMIT 50""".stripMargin,
    "q179_token_bursts" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |db AS (SELECT
        |    CAST(floor(CAST(doc_id * 10 AS DOUBLE) / (m + 1)) AS INT)
        |      AS batch, text
        |  FROM documents, mx),
        |bt AS (SELECT batch, tok, CAST(count(*) AS BIGINT) AS n_bt
        |  FROM (SELECT batch, unnest(string_split(text, ' ')) AS tok
        |    FROM db) GROUP BY 1, 2),
        |btot AS (SELECT batch, CAST(sum(n_bt) AS BIGINT) AS n_b
        |  FROM bt GROUP BY 1),
        |ttot AS (SELECT tok, CAST(sum(n_bt) AS BIGINT) AS n_t
        |  FROM bt GROUP BY 1),
        |ctot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n_all FROM btot)
        |SELECT bt.batch, bt.tok, bt.n_bt,
        |  round((CAST(bt.n_bt AS DOUBLE) / btot.n_b) /
        |    (CAST(ttot.n_t AS DOUBLE) / ctot.n_all), 9) AS lift
        |FROM bt JOIN btot USING (batch) JOIN ttot USING (tok), ctot
        |WHERE bt.n_bt >= 20
        |ORDER BY lift DESC, bt.batch, bt.tok LIMIT 30""".stripMargin,
    "q180_hub_ablation" ->
      s"""WITH RECURSIVE ${Wave8Queries.dupEdgeSql},
         |und AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
         |  SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY 1),
         |hubs AS (SELECT node FROM deg ORDER BY degree DESC, node LIMIT 20),
         |abl AS (SELECT a, b FROM und
         |  WHERE a NOT IN (SELECT node FROM hubs)
         |    AND b NOT IN (SELECT node FROM hubs)),
         |ef AS (SELECT a, b FROM und UNION SELECT b, a FROM und),
         |walkf(node, label) AS (
         |  SELECT a, a FROM ef
         |  UNION
         |  SELECT ef.a, w.label FROM ef JOIN walkf w ON ef.b = w.node),
         |szf AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz FROM (
         |  SELECT node, min(label) AS comp FROM walkf GROUP BY node)
         |  GROUP BY 1),
         |ea AS (SELECT a, b FROM abl UNION SELECT b, a FROM abl),
         |walka(node, label) AS (
         |  SELECT a, a FROM ea
         |  UNION
         |  SELECT ea.a, w.label FROM ea JOIN walka w ON ea.b = w.node),
         |sza AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz FROM (
         |  SELECT node, min(label) AS comp FROM walka GROUP BY node)
         |  GROUP BY 1)
         |SELECT 'full' AS variant, CAST(sum(sz) AS BIGINT) AS n_nodes,
         |  CAST(count(*) AS BIGINT) AS n_components,
         |  CAST(max(sz) AS BIGINT) AS max_component FROM szf
         |UNION ALL
         |SELECT 'no_hubs', CAST(sum(sz) AS BIGINT),
         |  CAST(count(*) AS BIGINT), CAST(max(sz) AS BIGINT) FROM sza
         |ORDER BY variant""".stripMargin)
}
