package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Graph, Similarity}

/** FILE→WAVE MAP: Wave23Queries.scala holds round-10 WAVE-26 queries
  * q203–q205 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Structure-quality audits: modularity of the LPA community labeling
  * (did propagation find real structure or noise), per-user inter-event
  * regularity (the bot-traffic screen), and kNN hubness (the embedding
  * pathology that silently degrades ANN retrieval). All
  * DuckDB-oracle-checked. */
object Wave23Queries extends QuerySet {

  /** Newman modularity of q159's label-propagation communities over the
    * same duplication graph: per community — nodes, internal directed
    * edges, degree sum, and the modularity term e_c/|E| − (deg_c/|E|)².
    * Unlabeled nodes count as singleton communities (their own id), so
    * Σ terms is the exact modularity of the labeling. The audit that
    * tells you whether LPA found real structure (Q ≫ 0) or label noise
    * (Q ≈ 0).
    *
    * Scale shape: the edge list is symmetric-directed ([[Dedup.rareTilePairs]]'
    * contract), so |E| = 2m and out-degree = degree — modularity needs
    * only TWO equi-joins of the edge list to the |V|-row label frame,
    * one |communities|-row aggregate, and a 1-row broadcast total.
    * Exact integer counts until the two final divisions. */
  private val q203: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id",
      when($"doc_id" % 11 === 0, concat(lit(Wave8Queries.tmpl16 + " "), $"text"))
        .otherwise($"text").as("text"))
    // round-15: staged — the edge list feeds BOTH the label propagation
    // (which eagerly checkpoints its own projection of it) and the
    // modularity join below; un-staged, the whole tile-pair derivation
    // (tokenize + postings + df-cap + pair join) runs twice: 2× the
    // shuffle bytes at sf0.01 and sf0.1
    val edges = graft.ops.Staged(
      Dedup.rareTilePairs(docs, "doc_id", "text", k = 8,
        maxDf = 64, minShared = 2, tileKey = c => md5(c)))
    val seeds = Tables.documents(s, d).where($"doc_id" % 7 === 0)
      .select($"doc_id".as("node"), $"lang".as("label"))
    val lab = Graph.labelPropagate(edges, "doc_a", "doc_b", seeds, iters = 3)
      .select($"node", coalesce($"label",
        concat(lit("n"), $"node".cast("string"))).as("community"))
    val e2 = edges.select($"doc_a", $"doc_b")
      .join(lab.select($"node".as("doc_a"), $"community".as("ca")), Seq("doc_a"))
      .join(lab.select($"node".as("doc_b"), $"community".as("cb")), Seq("doc_b"))
    val tot = broadcast(e2.agg(count(lit(1)).cast("long").as("m2")))
    val per = e2.groupBy($"ca".as("community"))
      .agg(count(lit(1)).cast("long").as("degree_sum"),
        sum(when($"ca" === $"cb", 1L).otherwise(0L)).cast("long")
          .as("internal_edges"))
    val nn = lab.groupBy($"community").agg(count(lit(1)).cast("long").as("n_nodes"))
    per.join(nn, Seq("community")).crossJoin(tot)
      .select($"community", $"n_nodes", $"internal_edges", $"degree_sum",
        round($"internal_edges".cast("double") / $"m2".cast("double") -
          ($"degree_sum".cast("double") / $"m2".cast("double")) *
          ($"degree_sum".cast("double") / $"m2".cast("double")), 9)
          .as("modularity_term"))
      .orderBy($"community")
  }

  /** Per-user inter-event regularity — the bot-traffic screen: humans
    * produce bursty gaps (squared coefficient of variation ≳ 1),
    * schedulers produce metronomic ones (CV² ≈ 0). Exact epoch-micro lag
    * gaps (q189's ordering: ts, event_id tie-break), decimal-exact Σg
    * and Σg², and — the round-14 integer-grid rewrite (q289's
    * discipline) — every reported value is an exact integer HALF_UP
    * division ON THE DECIMALS, cast to double only from an exactly
    * representable scaled integer. The pre-r14 form reported
    * CV = √(var)/mean from doubles cast off wide decimals; DuckDB casts
    * its int128 decimals to double differently than the JVM in the last
    * bit, which left this query in the sf1 oracle's `ulp` class. CV²
    * (the variance-to-mean-squared ratio) carries the identical
    * regularity ordering with NO irrational op, so the grid is exact:
    * mean_gap_s = (2000·Σg + n) div (2n) / 1e9 (HALF_UP at 9 dp),
    * cv2_gap = (2·10⁶·num + den) div (2·den) / 1e6 (HALF_UP at 6 dp)
    * with num = n·Σg² − (Σg)², den = (Σg)². The flag threshold
    * CV < 0.3 becomes the EXACT integer comparison 100·num < 9·den.
    * Overflow headroom: gaps are bounded by the corpus time range
    * (~2.6e12 µs), so num ≤ n·Σg·max_g ≤ 1e4·6.8e24 and the 2·10⁶
    * scaling stays under DECIMAL(38) even at 100× this corpus.
    * One window pass + one aggregate; state is per-user scalars, never
    * the event list. */
  private val q204: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val g = Tables.events(s, d)
      .withColumn("__g",
        unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)))
    val agg = g.groupBy($"user_id")
      .agg(count(lit(1)).cast("long").as("n_events"),
        count($"__g").cast("long").as("n_gaps"),
        sum($"__g".cast("decimal(38,0)")).as("__sg"),
        sum($"__g".cast("decimal(38,0)") * $"__g".cast("decimal(38,0)"))
          .as("__sgg"))
      .where($"n_gaps" >= 1)
    agg
      .withColumn("__num", $"__sgg" * $"n_gaps" - $"__sg" * $"__sg")
      .withColumn("__den", $"__sg" * $"__sg")
      .withColumn("__mk", expr("(__sg * 2000 + n_gaps) div (n_gaps * 2)"))
      .withColumn("__ck", expr("(__num * 2000000 + __den) div (__den * 2)"))
      .withColumn("is_regular",
        ($"__num" * 100 < $"__den" * 9) && $"n_gaps" >= 5)
      .select($"user_id", $"n_events", $"n_gaps",
        ($"__mk".cast("double") / 1e9).as("mean_gap_s"),
        when($"__sg" > 0, $"__ck".cast("double") / 1e6).as("cv2_gap"),
        $"is_regular")
      .orderBy($"user_id")
  }

  /** kNN hubness histogram (Radovanović et al. 2010) over the 200-vector
    * evaluation slice: k-occurrence = how often a vector appears in
    * others' exact top-3; the histogram's right tail is the hub
    * pathology that makes ANN retrieval return the same few vectors for
    * everything (and the thing [[graft.ops.Pca.removeTopComponents]]
    * mitigates). Exact brute-force on the bounded slice — q134's
    * eval-scale contract; at corpus scale the same rollup runs over
    * [[Similarity.knnIvf]] output. */
  private val q205: Q = (s, d) => {
    import s.implicits._
    val vecs = Similarity.prepared(
      Tables.embeddings(s, d).where($"vec_id" < 200), "vec_id", "embedding")
    val occ = Similarity.knnBruteForce(vecs, vecs, k = 3)
      .groupBy($"neighbor_id").agg(count(lit(1)).cast("long").as("k_occ"))
    vecs.select($"id".as("neighbor_id"))
      .join(occ, Seq("neighbor_id"), "left")
      .select(coalesce($"k_occ", lit(0L)).as("k_occ"))
      .groupBy($"k_occ")
      .agg(count(lit(1)).cast("long").as("n_vectors"))
      .orderBy($"k_occ")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q203_lpa_modularity" -> q203,
    "q204_bot_regularity" -> q204,
    "q205_knn_hubness" -> q205)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q203_lpa_modularity" ->
      s"""WITH ${Wave8Queries.dupEdgeSql},
         |nd AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |seeds AS (SELECT doc_id AS node, lang AS label FROM documents
         |  WHERE doc_id % 7 = 0),
         |l0 AS (SELECT nd.node, s.label FROM nd LEFT JOIN seeds s USING (node)),
         |${(1 to 3).map(Wave9Queries.lpRound).mkString(",\n")},
         |lab AS (SELECT node,
         |    coalesce(label, 'n' || CAST(node AS VARCHAR)) AS community
         |  FROM l3),
         |e2 AS (SELECT la.community AS ca, lb.community AS cb
         |  FROM e JOIN lab la ON e.src = la.node
         |         JOIN lab lb ON e.dst = lb.node),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e2),
         |per AS (SELECT ca AS community,
         |    CAST(count(*) AS BIGINT) AS degree_sum,
         |    CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS internal_edges
         |  FROM e2 GROUP BY 1),
         |nn AS (SELECT community, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM lab GROUP BY 1)
         |SELECT p.community, nn.n_nodes, p.internal_edges, p.degree_sum,
         |  round(CAST(p.internal_edges AS DOUBLE) / CAST(tot.m2 AS DOUBLE) -
         |    (CAST(p.degree_sum AS DOUBLE) / CAST(tot.m2 AS DOUBLE)) *
         |    (CAST(p.degree_sum AS DOUBLE) / CAST(tot.m2 AS DOUBLE)), 9)
         |    AS modularity_term
         |FROM per p JOIN nn USING (community) CROSS JOIN tot
         |ORDER BY p.community""".stripMargin,
    "q204_bot_regularity" ->
      """WITH g0 AS (SELECT user_id,
        |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id)) AS g
        |  FROM events),
        |a AS (SELECT user_id,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(g) AS BIGINT) AS n_gaps,
        |    sum(CAST(g AS HUGEINT)) AS sg,
        |    sum(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS sgg
        |  FROM g0 GROUP BY user_id
        |  HAVING count(g) >= 1),
        |b AS (SELECT *, sgg * n_gaps - sg * sg AS num, sg * sg AS den
        |  FROM a)
        |SELECT user_id, n_events, n_gaps,
        |  CAST((sg * 2000 + n_gaps) // (n_gaps * 2) AS DOUBLE) / 1e9
        |    AS mean_gap_s,
        |  CASE WHEN sg > 0
        |    THEN CAST((num * 2000000 + den) // (den * 2) AS DOUBLE) / 1e6
        |  END AS cv2_gap,
        |  (num * 100 < den * 9 AND n_gaps >= 5) AS is_regular
        |FROM b ORDER BY user_id""".stripMargin,
    "q205_knn_hubness" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings WHERE vec_id < 200),
        |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS sim
        |  FROM n q JOIN n c ON q.vec_id <> c.vec_id),
        |r AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rnk FROM s),
        |occ AS (SELECT neighbor_id, CAST(count(*) AS BIGINT) AS k_occ
        |  FROM r WHERE rnk <= 3 GROUP BY neighbor_id),
        |ko AS (SELECT coalesce(occ.k_occ, 0) AS k_occ
        |  FROM e LEFT JOIN occ ON e.vec_id = occ.neighbor_id)
        |SELECT k_occ, CAST(count(*) AS BIGINT) AS n_vectors
        |FROM ko GROUP BY k_occ ORDER BY k_occ""".stripMargin)
}
