package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave20Queries.scala holds round-10 WAVE-22 queries
  * q191–q193 and WAVE-23 queries q194–q196 (file numbering lags wave
  * numbering across this package — each file's header carries this
  * map).
  *
  * Wave 22 — readers over the PERSISTED near-dup cluster store
  * ([[Stores.docClusters]] → [[graft.ops.Dedup.clustersPersisted]]):
  * the size histogram, per-source drop-rate report, and
  * largest-cluster membership listing a curation team runs daily
  * against a cluster table that is derived once per corpus, not once
  * per question. All three are DuckDB-oracle-checked against the same
  * recursive component walk as q43/q185 — identical rows whether the
  * store was hit or the derivation ran, because min-label components
  * over exact routed Jaccard pairs are deterministic.
  *
  * Wave 23 — readers over the PERSISTED PCA / k-means model stores
  * ([[Stores.pcaModel]]/[[Stores.kmeansModel]] →
  * [[graft.ops.Pca.topComponentsPersisted]] /
  * [[graft.ops.Kmeans.fitPersisted]]): the q137/q142 fits derived once
  * per corpus and published with staleness meta, then loaded by every
  * later session — cold repeat-session cost drops from the full
  * iterative fit (25 jobs / 10 scans at sf1) to a few-KB parquet read.
  * Golden-pinned (iterative fits have no SQL form; loaded and fitted
  * models are bit-identical, so the goldens pin BOTH paths). */
object Wave20Queries extends QuerySet {

  /** Cluster-size histogram: how much of the corpus sits in pairs vs
    * deep template families — the first chart of any dedup review (a
    * fat tail of 50-doc clusters means boilerplate, not syndication). */
  private val q191: Q = (s, d) => {
    import s.implicits._
    Stores.docClusters(s, d)
      .groupBy($"component_id")
      .agg(count(lit(1)).cast("long").as("cluster_size"))
      .groupBy($"cluster_size")
      .agg(count(lit(1)).cast("long").as("n_clusters"))
      .orderBy($"cluster_size")
  }

  /** Per-source dedup impact: total docs, docs in some near-dup
    * cluster, docs a keep-min-id survivor policy would DROP, and the
    * drop rate — the "which feeds are bulk re-posts" report. Left
    * joins keep unclustered docs (the store only has docs with ≥1
    * pair); counts are exact longs, the single rate is a rounded
    * double on both engines. */
  private val q192: Q = (s, d) => {
    import s.implicits._
    val cl = Stores.docClusters(s, d)
    val reps = cl.groupBy($"component_id").agg(min($"doc_id").as("rep_id"))
    val dropped = cl.join(reps, Seq("component_id"))
      .where($"doc_id" =!= $"rep_id")
      .select($"doc_id", lit(1).as("__dr"))
    Tables.documents(s, d).select($"doc_id", $"source")
      .join(cl.select($"doc_id", lit(1).as("__in")), Seq("doc_id"), "left")
      .join(dropped, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(coalesce($"__in", lit(0))).cast("long").as("n_clustered"),
        sum(coalesce($"__dr", lit(0))).cast("long").as("n_dropped"))
      .select($"source", $"n_docs", $"n_clustered", $"n_dropped",
        round($"n_dropped".cast("double") / $"n_docs".cast("double"), 9)
          .as("drop_rate"))
      .orderBy($"source")
  }

  /** Membership of the single largest cluster (ties broken by lowest
    * component id): the eyeball check a reviewer does before trusting
    * a dedup policy — is the biggest family one template from one
    * source, or a real cross-source story? 1-row broadcast equi-join
    * on component_id (not a nested-loop shape). */
  private val q193: Q = (s, d) => {
    import s.implicits._
    val cl = Stores.docClusters(s, d)
    val top = cl.groupBy($"component_id")
      .agg(count(lit(1)).cast("long").as("__n"))
      .orderBy($"__n".desc, $"component_id").limit(1)
      .select($"component_id")
    cl.join(broadcast(top), Seq("component_id"))
      .join(Tables.documents(s, d)
        .select($"doc_id", $"source", $"lang", $"n_chars"), Seq("doc_id"))
      .select($"component_id", $"doc_id", $"source", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** q137's component table via the PERSISTED model store
    * ([[Stores.pcaModel]]): first touch per corpus fits + publishes,
    * every later session loads — identical rows either way (decimal-
    * exact fit, lossless double round-trip). */
  private val q194: Q = (s, d) => {
    import s.implicits._
    val m = Stores.pcaModel(s, d)
    val rows = for {
      c <- m.components.indices
      j <- m.components(c).indices
    } yield (c + 1, j, r6(m.components(c)(j)), r6(m.eigenvalues(c)))
    rows.toDF("component", "dim", "loading", "eigenvalue")
      .orderBy($"component", $"dim")
  }

  /** q142's cluster summary via the PERSISTED model store
    * ([[Stores.kmeansModel]]) — sizes/inertia come from the published
    * meta, so a warm session answers this without touching the corpus
    * at all. */
  private val q195: Q = (s, d) => {
    import s.implicits._
    val m = Stores.kmeansModel(s, d)
    val rows = m.centroids.indices.map { c =>
      (c, m.sizes(c),
        r6(math.sqrt(m.centroids(c).map(x => x * x).sum)),
        r6(m.inertia))
    }
    rows.toDF("cluster", "n_members", "centroid_norm", "inertia")
      .orderBy($"cluster")
  }

  /** Cluster × label composition using the SAVED k-means model: load
    * the centroids (never re-fit) and score the corpus with the
    * map-side [[graft.ops.Kmeans.assign]] projection — the production
    * "train once, score everywhere" path a labeling team runs to see
    * which embedding clusters align with which labels. */
  private val q196: Q = (s, d) => {
    import s.implicits._
    val m = Stores.kmeansModel(s, d)
    graft.ops.Kmeans.assign(Tables.embeddings(s, d), "embedding",
        "cluster", m)
      .groupBy($"cluster", $"label")
      .agg(count(lit(1)).cast("long").as("n_vectors"))
      .orderBy($"cluster", $"label")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q191_cluster_size_hist" -> q191,
    "q192_dedup_drop_by_source" -> q192,
    "q193_largest_cluster" -> q193,
    "q194_pca_saved" -> q194,
    "q195_kmeans_saved" -> q195,
    "q196_kmeans_label_profile" -> q196)

  // ---- oracle SQL -------------------------------------------------------

  private val ccSql = Wave17Queries.ccSql

  val oracle: Seq[(String, String)] = Seq(
    "q191_cluster_size_hist" ->
      s"""WITH RECURSIVE
         |$ccSql,
         |szs AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY comp)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM szs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "q192_dedup_drop_by_source" ->
      s"""WITH RECURSIVE
         |$ccSql,
         |reps AS (SELECT comp, min(doc_id) AS rep_id FROM comp GROUP BY comp),
         |dr AS (SELECT c.doc_id FROM comp c JOIN reps r USING (comp)
         |  WHERE c.doc_id <> r.rep_id)
         |SELECT d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clustered,
         |  CAST(sum(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  round(CAST(sum(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS drop_rate
         |FROM documents d
         |LEFT JOIN comp c ON d.doc_id = c.doc_id
         |LEFT JOIN dr x ON d.doc_id = x.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q193_largest_cluster" ->
      s"""WITH RECURSIVE
         |$ccSql,
         |szs AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM comp GROUP BY comp),
         |top AS (SELECT comp FROM szs ORDER BY n_docs DESC, comp LIMIT 1)
         |SELECT c.comp AS component_id, c.doc_id, d.source, d.lang, d.n_chars
         |FROM comp c JOIN top USING (comp) JOIN documents d USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin)
}
