package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Graph}

/** Round-9 wave-15 queries: behavioral segment overlap, k-core of the
  * duplication graph, and the corpus novelty curve over ingestion
  * batches. All DuckDB-oracle-checked. */
object Wave13Queries extends QuerySet {

  /** Segment overlap matrix: exact user-set Jaccard between every pair
    * of event types — the audience-overlap read behind mixture and
    * targeting decisions. One distinct (type, user) frame feeds both
    * the per-type sizes and the user-keyed pair join (fan-out per user
    * ≤ C(|types|, 2) — types are a small enum, so the join is linear in
    * users); sizes attach by broadcast. At corpus scale the same report
    * swaps exact distincts for HLL sketches (q47's family) — the exact
    * form is also the oracle for that estimate. */
  private val q175: Q = (s, d) => {
    import s.implicits._
    val ut = Tables.events(s, d)
      .select($"event_type", $"user_id").distinct()
      .localCheckpoint(true)
    val sizes = ut.groupBy($"event_type")
      .agg(count(lit(1)).cast("long").as("n"))
    ut.select($"user_id", $"event_type".as("type_a"))
      .join(ut.select($"user_id", $"event_type".as("type_b")), Seq("user_id"))
      .where($"type_a" < $"type_b")
      .groupBy($"type_a", $"type_b")
      .agg(count(lit(1)).cast("long").as("n_both"))
      .join(broadcast(sizes.select($"event_type".as("type_a"),
        $"n".as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select($"event_type".as("type_b"),
        $"n".as("n_b"))), Seq("type_b"))
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_both",
        round($"n_both".cast("double") / ($"n_a" + $"n_b" - $"n_both"), 9)
          .as("jaccard"))
      .orderBy($"type_a", $"type_b")
  }

  /** 3-core of the rare-tile duplication graph ([[Graph.kCore]],
    * peeled to certified fixpoint, q155's planted corpus): the dense
    * heart of the template family survives, hub-and-spoke mirrors and
    * incidental pair dups peel away — the cluster-collapse candidate
    * set that degree thresholds (q164) overcount. md5 tile keys on the
    * oracle surface. */
  private val q176: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id",
      when($"doc_id" % 11 === 0,
        concat(lit(Wave8Queries.tmpl16 + " "), $"text"))
        .otherwise($"text").as("text"))
    Graph.kCore(
        Dedup.rareTilePairs(docs, "doc_id", "text", k = 8, maxDf = 64,
          minShared = 2, tileKey = c => md5(c)),
        "doc_a", "doc_b", k = 3, maxRounds = 20)
      .select($"node".as("doc_id"), $"degree")
      .orderBy($"doc_id")
  }

  /** Corpus novelty curve: split the corpus into 10 equal-width
    * ingestion batches by doc_id (arithmetic bucketing against the
    * broadcast max id — deliberately NOT a global ntile window, which
    * would funnel 100 TB through one sort task), then per batch the
    * distinct 8-token tiles and the fraction seen in no earlier batch —
    * the diminishing-returns read that decides whether the next crawl
    * snapshot is worth ingesting. One tile explode
    * ([[Dedup.docTiles]]), one min-batch collapse, one rollup. */
  private val q177: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val mx = docs.agg(max($"doc_id").as("__mx"))
    val withBatch = docs.crossJoin(broadcast(mx))
      .withColumn("batch",
        floor(($"doc_id" * 10).cast("double") / ($"__mx" + 1)).cast("int"))
    val tiles = Dedup.docTiles(withBatch, "doc_id", "text", k = 8,
        tileKey = c => md5(c))
      .join(withBatch.select($"doc_id".as("doc"), $"batch"), Seq("doc"))
      .select($"batch", $"h").distinct()
    tiles.join(tiles.groupBy($"h").agg(min($"batch").as("__fb")), Seq("h"))
      .groupBy($"batch")
      .agg(count(lit(1)).cast("long").as("n_tiles"),
        sum(when($"__fb" === $"batch", 1L).otherwise(0L)).cast("long")
          .as("n_new"))
      .select($"batch", $"n_tiles", $"n_new",
        round($"n_new".cast("double") / $"n_tiles", 9).as("novelty_rate"))
      .orderBy($"batch")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q175_segment_overlap" -> q175,
    "q176_kcore" -> q176,
    "q177_novelty" -> q177)

  // ---- oracle SQL -------------------------------------------------------

  /** One k=3 peel round: d{i} survivors from e{i-1}, e{i} restricted. */
  private def peelRound(i: Int): String =
    s"""d$i AS (SELECT src FROM e${i - 1} GROUP BY src
       |  HAVING count(*) >= 3),
       |e$i AS (SELECT e${i - 1}.src, e${i - 1}.dst FROM e${i - 1}
       |  JOIN d$i USING (src)
       |  JOIN (SELECT src AS dst FROM d$i) dd$i USING (dst))""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q175_segment_overlap" ->
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM ut GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  round(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 9)
        |    AS jaccard
        |FROM p JOIN s sa ON p.type_a = sa.event_type
        |  JOIN s sb ON p.type_b = sb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    // dupEdgeSql's e is the directed both-ways pair list — already the
    // symmetric edge set kCore peels.
    "q176_kcore" ->
      s"""WITH ${Wave8Queries.dupEdgeSql},
         |e0 AS (SELECT src, dst FROM e),
         |${(1 to 5).map(peelRound).mkString(",\n")}
         |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS degree
         |FROM e5 GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q177_novelty" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |db AS (SELECT doc_id, text,
        |    CAST(floor(CAST(doc_id * 10 AS DOUBLE) / (m + 1)) AS INT)
        |      AS batch
        |  FROM documents, mx),
        |t0 AS (SELECT batch, string_split(text, ' ') AS w FROM db),
        |t1 AS (SELECT batch, w,
        |    CAST(unnest(range(CAST(ceil(len(w) / 8.0) AS INTEGER)))
        |      AS INTEGER) AS pos FROM t0),
        |tk AS (SELECT DISTINCT batch,
        |    md5(array_to_string(list_slice(w, pos*8 + 1, pos*8 + 8), ' '))
        |      AS h FROM t1),
        |f AS (SELECT h, min(batch) AS fb FROM tk GROUP BY 1)
        |SELECT batch, CAST(count(*) AS BIGINT) AS n_tiles,
        |  CAST(sum(CASE WHEN fb = batch THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  round(CAST(sum(CASE WHEN fb = batch THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 9) AS novelty_rate
        |FROM tk JOIN f USING (h) GROUP BY 1 ORDER BY batch""".stripMargin)
}
