package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Similarity, Windows}

/** Round-9 tenth-wave queries: duplication-graph degree distribution,
  * top session paths, contrastive triplet mining, a Jaccard-threshold
  * sweep, and time-to-conversion survival summaries. All five are
  * DuckDB-oracle-checked. */
object Wave10Queries extends QuerySet {

  /** q151/q155/q159's planted corpus — shared so the graph family reads
    * one structure. */
  private def plantedDocs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select($"doc_id",
      when($"doc_id" % 11 === 0, concat(lit(Wave8Queries.tmpl16 + " "), $"text"))
        .otherwise($"text").as("text"))
  }

  /** Degree distribution of the duplication graph: how many docs have
    * how many dup partners, with each degree's node share — the shape
    * read (heavy-tailed vs uniform) that picks between hub-removal and
    * cluster-collapse strategies. */
  private val q164: Q = (s, d) => {
    import s.implicits._
    val edges = Dedup.rareTilePairs(plantedDocs(s, d), "doc_id", "text",
      k = 8, maxDf = 64, minShared = 2, tileKey = c => md5(c))
    val hist = edges.groupBy($"doc_a")
      .agg(count(lit(1)).cast("long").as("degree"))
      .groupBy($"degree").agg(count(lit(1)).cast("long").as("n_nodes"))
    hist.crossJoin(broadcast(
        hist.agg(sum($"n_nodes").cast("long").as("__t"))))
      .select($"degree", $"n_nodes",
        round($"n_nodes" / $"__t", 9).as("node_frac"))
      .orderBy($"degree")
  }

  /** Top-20 session paths ([[Windows.sessionize]] 30-min gaps): the
    * first five event types of each session as a `>`-joined path,
    * counted — the navigation read behind funnel design. Ordered
    * collect via `array_sort(collect_list(struct))` (q86's pattern),
    * never a bare collect_list. */
  private val q165: Q = (s, d) => {
    import s.implicits._
    Windows.sessionize(Tables.events(s, d), "user_id", "ts", "event_id", 30)
      .groupBy($"user_id", $"session_id")
      .agg(array_sort(collect_list(
        struct($"ts", $"event_id", $"event_type"))).as("evs"))
      .select(array_join(
        slice(transform($"evs", x => x.getField("event_type")), 1, 5), ">")
        .as("path"))
      .groupBy($"path").agg(count(lit(1)).cast("long").as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path")
      .limit(20)
  }

  /** Contrastive triplets ([[Similarity.contrastiveTriplets]]) for 30
    * query vectors: nearest same-label positive, nearest different-label
    * negative, and the margin between them. */
  private val q166: Q = (s, d) => {
    import s.implicits._
    val e = Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
    val lab = Tables.embeddings(s, d).select($"vec_id".as("id"), $"label")
    Similarity.contrastiveTriplets(e.where($"id" < 30), e, lab)
      .orderBy($"query_id")
  }

  private val sweepThresholds = Seq(0.3, 0.5, 0.7, 0.9)

  /** Jaccard-threshold sweep: pair counts at 0.3/0.5/0.7/0.9 from ONE
    * aggregation over the persisted θ=0.3 pair store
    * ([[Stores.docPairs]] — the store threshold IS the sweep's loosest
    * θ, so the sweep is a parquet scan re-bucketed in a single pass) —
    * the sensitivity table read before committing to a dedup
    * threshold. */
  private val q167: Q = (s, d) => {
    import s.implicits._
    val pairs = Stores.docPairs(s, d)
    val aggCols = sweepThresholds.zipWithIndex.map { case (t, i) =>
      sum(($"jaccard" >= t).cast("long")).as(s"c$i") }
    val melted = sweepThresholds.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("threshold"), col(s"c$i").as("n_pairs")) }
    pairs.agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array(melted: _*)).as("x"))
      .select($"x.threshold", $"x.n_pairs")
      .orderBy($"threshold")
  }

  /** Time-to-conversion survival summary per first-view weekly cohort:
    * converters (first purchase strictly after first view), conversion
    * rate, and exact median/P90 hours-to-convert. One user-keyed
    * aggregation builds the bookends; the cohort rollup is
    * week-cardinality. */
  private val q168: Q = (s, d) => {
    import s.implicits._
    val u = Tables.events(s, d).groupBy($"user_id").agg(
      min(when($"event_type" === "view", $"ts")).as("fv"),
      min(when($"event_type" === "purchase", $"ts")).as("fp"))
    u.where($"fv".isNotNull)
      .select(date_trunc("week", $"fv").cast("date").as("cohort_week"),
        when($"fp" > $"fv",
          (unix_micros($"fp") - unix_micros($"fv")) / lit(3600000000.0))
          .as("delta_h"))
      .groupBy($"cohort_week")
      .agg(count(lit(1)).cast("long").as("n_users"),
        count($"delta_h").cast("long").as("n_converted"),
        round(count($"delta_h") / count(lit(1)), 9).as("conv_rate"),
        round(percentile($"delta_h", lit(0.5)), 6).as("median_h"),
        round(percentile($"delta_h", lit(0.9)), 6).as("p90_h"))
      .orderBy($"cohort_week")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q164_degree_dist" -> q164,
    "q165_session_paths" -> q165,
    "q166_triplets" -> q166,
    "q167_threshold_sweep" -> q167,
    "q168_survival" -> q168)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q164_degree_dist" ->
      s"""WITH ${Wave8Queries.dupEdgeSql},
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
         |  FROM e GROUP BY 1),
         |h AS (SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM deg GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS t FROM h)
         |SELECT degree, n_nodes, round(n_nodes / t, 9) AS node_frac
         |FROM h CROSS JOIN tt ORDER BY degree""".stripMargin,
    "q165_session_paths" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
        |      AS session_id
        |  FROM x),
        |p AS (SELECT user_id, session_id,
        |    array_to_string(list_slice(
        |      list(event_type ORDER BY ts, event_id), 1, 5), '>') AS path
        |  FROM y GROUP BY user_id, session_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "q166_triplets" ->
      """WITH e AS (SELECT vec_id, label,
        |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, label, emb,
        |    sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS is_pos,
        |    list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS sim
        |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 30),
        |r AS (SELECT query_id, neighbor_id, is_pos, sim,
        |    row_number() OVER (PARTITION BY query_id, is_pos
        |      ORDER BY sim DESC, neighbor_id) AS rn
        |  FROM s),
        |t AS (SELECT query_id,
        |    max(CASE WHEN is_pos = 1 THEN neighbor_id END) AS pos_id,
        |    max(CASE WHEN is_pos = 1 THEN round(sim, 6) END) AS pos_sim,
        |    max(CASE WHEN is_pos = 0 THEN neighbor_id END) AS neg_id,
        |    max(CASE WHEN is_pos = 0 THEN round(sim, 6) END) AS neg_sim
        |  FROM r WHERE rn = 1 GROUP BY query_id)
        |SELECT query_id, pos_id, pos_sim, neg_id, neg_sim,
        |  round(pos_sim - neg_sim, 6) AS margin
        |FROM t ORDER BY query_id""".stripMargin,
    "q167_threshold_sweep" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |j AS (SELECT inter / (sa.n + sb.n - inter) AS jaccard
        |      FROM p JOIN sz sa ON doc_a = sa.doc_id
        |        JOIN sz sb ON doc_b = sb.doc_id
        |      WHERE inter / (sa.n + sb.n - inter) >= 0.3),
        |agg AS (SELECT
        |    CAST(sum(CASE WHEN jaccard >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS c3
        |  FROM j)
        |SELECT CAST(0.3 AS DOUBLE) AS threshold, c0 AS n_pairs FROM agg
        |UNION ALL SELECT CAST(0.5 AS DOUBLE), c1 FROM agg
        |UNION ALL SELECT CAST(0.7 AS DOUBLE), c2 FROM agg
        |UNION ALL SELECT CAST(0.9 AS DOUBLE), c3 FROM agg
        |ORDER BY threshold""".stripMargin,
    "q168_survival" ->
      """WITH u AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        |  FROM events GROUP BY 1),
        |c AS (SELECT CAST(date_trunc('week', fv) AS DATE) AS cohort_week,
        |    CASE WHEN fp > fv THEN
        |      CAST(epoch_us(fp) - epoch_us(fv) AS DOUBLE) / 3600000000.0
        |    END AS delta_h
        |  FROM u WHERE fv IS NOT NULL)
        |SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(count(delta_h) AS BIGINT) AS n_converted,
        |  round(count(delta_h) / count(*), 9) AS conv_rate,
        |  round(quantile_cont(delta_h, 0.5), 6) AS median_h,
        |  round(quantile_cont(delta_h, 0.9), 6) AS p90_h
        |FROM c GROUP BY 1 ORDER BY cohort_week""".stripMargin)
}
