package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Ranking, Text}

/** Round-9 wave-18 query: reciprocal-rank fusion of two lexical
  * retrieval runs — the hybrid-search combiner. DuckDB-oracle-checked
  * end-to-end (both input rankings replayed, then the fusion). */
object Wave16Queries extends QuerySet {

  /** RRF fusion ([[Ranking.rrfFuse]]) of q154's BM25 top-10 with a
    * plain term-frequency top-10 over the SAME query set — the exact
    * shape of a production hybrid stack (two rankers, incomparable
    * score scales, rank-only fusion). Items ranked by both systems
    * float up; each side's rank survives in the output for
    * attribution. */
  private val q183: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val qt = Wave8Queries.bm25Queries.toDF("query_id", "term")
    val bm = Ranking.bm25TopK(docs, "doc_id", "text", qt, topK = 10)
      .select($"query_id", $"doc_id", $"rnk")
    val tf = docs
      .select($"doc_id".as("doc"), explode(Text.tokens($"text")).as("term"))
      .join(broadcast(qt), Seq("term"))
      .groupBy($"query_id", $"doc")
      .agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"tf".desc, $"doc"))
        .cast("int"))
      .where($"rnk" <= 10)
      .select($"query_id", $"doc".as("doc_id"), $"rnk")
    Ranking.rrfFuse(bm, tf, "query_id", "doc_id", "rnk", k0 = 60, topK = 10)
      .orderBy($"query_id", $"rnk")
  }

  val queries: Seq[(String, Q)] = Seq("q183_rrf_fusion" -> q183)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q183_rrf_fusion" ->
      s"""WITH ${Wave8Queries.bm25RunSql},
         |tfp AS (SELECT q.query_id, p.doc, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id AS doc,
         |      unnest(string_split(text, ' ')) AS term FROM documents) p
         |  JOIN q USING (term) GROUP BY 1, 2),
         |tr AS (SELECT query_id, doc AS doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY tf DESC, doc) AS INTEGER) AS rnk
         |  FROM tfp),
         |b10 AS (SELECT query_id, doc_id, rnk FROM r WHERE rnk <= 10),
         |t10 AS (SELECT query_id, doc_id, rnk FROM tr WHERE rnk <= 10),
         |f AS (SELECT coalesce(b.query_id, t.query_id) AS query_id,
         |    coalesce(b.doc_id, t.doc_id) AS doc_id,
         |    b.rnk AS rank_a, t.rnk AS rank_b
         |  FROM b10 b FULL OUTER JOIN t10 t
         |    ON b.query_id = t.query_id AND b.doc_id = t.doc_id),
         |fsc AS (SELECT query_id, doc_id, rank_a, rank_b,
         |    round(coalesce(CAST(1 AS DOUBLE) / (60 + rank_a), 0.0) +
         |      coalesce(CAST(1 AS DOUBLE) / (60 + rank_b), 0.0), 9) AS rrf
         |  FROM f),
         |rk AS (SELECT query_id, doc_id, rank_a, rank_b, rrf,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id) AS INTEGER) AS rnk
         |  FROM fsc)
         |SELECT query_id, doc_id, rank_a, rank_b, rrf, rnk FROM rk
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)
}
