package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Sampling, Text}

/** FILE→WAVE MAP: Wave34Queries.scala holds round-12 WAVE-37 queries
  * q253–q257 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Dedup-policy and graph-quality audits over the PERSISTED stores
  * (Jaccard pair store + containment store): the containment drop
  * policy, the length-bias profile of what near-dup dedup removes, the
  * transitivity (triangle-closure) audit of the pair graph, the
  * train/val/test leakage matrix, and the containment-only duplication
  * mass Jaccard can't see. Every query is a filter/join over a store
  * scan plus a bounded rollup — no pair machinery re-runs. All five are
  * DuckDB-oracle-checked. */
object Wave34Queries extends QuerySet {

  /** Containment drop policy: a doc is dropped when ≥ 0.9 of its
    * 3-gram set lives inside a LARGER doc (by distinct-shingle count;
    * equal sizes — mutual containment, i.e. identical shingle sets —
    * keep the lower id). Per-source casualty report. The store carries
    * (inner, outer, containment); sizes are one map-side projection. */
  private val q253: Q = (s, d) => {
    import s.implicits._
    // fan out: the shingle+distinct per row ran single-core at sf1 (2.5x)
    val sizes = graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select($"doc_id", size(array_distinct(Text.shingles($"text", 3)))
        .cast("long").as("n_sh"))
    val victims = Stores.docContainment(s, d)
      .join(sizes.select($"doc_id".as("inner_id"), $"n_sh".as("n_inner")),
        Seq("inner_id"))
      .join(sizes.select($"doc_id".as("outer_id"), $"n_sh".as("n_outer")),
        Seq("outer_id"))
      .where($"n_outer" > $"n_inner" ||
        ($"n_outer" === $"n_inner" && $"outer_id" < $"inner_id"))
      .select($"inner_id".as("doc_id")).distinct()
      .withColumn("dropped", lit(1L))
    Tables.documents(s, d).select($"doc_id", $"source")
      .join(victims, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(coalesce($"dropped", lit(0L))).cast("long").as("n_dropped"))
      .withColumn("drop_frac",
        round($"n_dropped" / $"n_docs".cast("double"), 9))
      .orderBy($"source")
  }

  /** What does near-dup dedup actually remove? Length/breadth profile
    * of θ≥0.5 victims (q42's keep-the-lower-id rule: every doc_b of a
    * qualifying pair) vs survivors: doc counts, exact mean chars, mean
    * token count, distinct sources. The bias check a curation team runs
    * before trusting a dedup stage not to skew the corpus short or
    * single-source. Store scan + 2-row rollup. */
  private val q254: Q = (s, d) => {
    import s.implicits._
    val victims = Stores.docPairs(s, d).where($"jaccard" >= 0.5)
      .select($"doc_b".as("doc_id")).distinct()
      .withColumn("is_dropped", lit(true))
    Tables.documents(s, d)
      .select($"doc_id", $"source", $"n_chars",
        Text.tokenCount($"text").as("n_tok"))
      .join(victims, Seq("doc_id"), "left")
      .groupBy(coalesce($"is_dropped", lit(false)).as("is_dropped"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(sum($"n_chars".cast("decimal(28,4)")).cast("double") /
          count(lit(1)), 9).as("mean_chars"),
        round(sum($"n_tok".cast("decimal(28,4)")).cast("double") /
          count(lit(1)), 9).as("mean_tokens"),
        countDistinct($"source").cast("long").as("n_sources"))
      .orderBy($"is_dropped")
  }

  /** Transitivity audit of the θ≥0.5 near-dup graph: wedges (paths
    * a–b–c) vs closed triangles. Near-duplication is "almost an
    * equivalence" — a low closure rate means the threshold is admitting
    * chains (A≈B≈C with A̸≈C) that connected-components clustering will
    * glue into one over-merged cluster; this is the number that says
    * whether single-linkage clustering at this θ is safe. Edge list
    * from the store; wedge join cost is Σdeg² of the SPARSE near-dup
    * graph (pair-bounded, nothing rescans the corpus). */
  private val q255: Q = (s, d) => {
    import s.implicits._
    val e = Stores.docPairs(s, d).where($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b")
      // staged: unstaged, the pair store is read six times (5 → 30 file
      // scans at sf0.1) and q255 is slower at sf0.01
      .transform(graft.ops.Staged(_))
    val und = e.unionByName(
      e.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
    val wedges = und.select($"doc_a".as("center"), $"doc_b".as("x"))
      .join(und.select($"doc_a".as("center"), $"doc_b".as("y")), Seq("center"))
      .where($"x" < $"y")
    val flagged = wedges.join(
        e.select($"doc_a".as("x"), $"doc_b".as("y"),
          lit(1L).as("closed")),
        Seq("x", "y"), "left")
    flagged.agg(count(lit(1)).cast("long").as("n_wedges"),
        sum(coalesce($"closed", lit(0L))).cast("long").as("n_closed"))
      .crossJoin(broadcast(e.agg(count(lit(1)).cast("long").as("n_edges"))))
      .select($"n_edges", $"n_wedges", $"n_closed",
        ($"n_wedges" - $"n_closed").as("n_open"),
        round(when($"n_wedges" > 0, $"n_closed" / $"n_wedges".cast("double"))
          .otherwise(1.0), 9).as("closure_rate"))
  }

  /** Train/val/test leakage matrix: θ≥0.5 near-dup pair mass by the
    * UNORDERED split-pair of its endpoints under the md5 80/10/10
    * assignment (q58's [[Sampling.splitAssign]]) — the full 6-cell
    * version of q72's train/eval probe, and the reason leakage-free
    * splitting (q99) exists: every off-diagonal pair is a duplicate
    * crossing a split boundary. Store scan + two id-keyed label joins +
    * ≤6-row rollup. */
  private val q256: Q = (s, d) => {
    import s.implicits._
    val lab = Sampling.splitAssign(Tables.documents(s, d)
        .select($"doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select($"doc_id", $"split")
    Stores.docPairs(s, d).where($"jaccard" >= 0.5)
      .join(lab.select($"doc_id".as("doc_a"), $"split".as("sa")), Seq("doc_a"))
      .join(lab.select($"doc_id".as("doc_b"), $"split".as("sb")), Seq("doc_b"))
      .groupBy(least($"sa", $"sb").as("split_lo"),
        greatest($"sa", $"sb").as("split_hi"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        round((sum(round($"jaccard", 9).cast("decimal(28,12)")) /
          count(lit(1))).cast("double"), 9).as("mean_jaccard"))
      .orderBy($"split_lo", $"split_hi")
  }

  /** Containment-vs-Jaccard reconciliation: per inner-doc source, how
    * much of the θ≥0.9 containment mass a θ≥0.5 Jaccard dedup stack
    * ALSO sees — and the invisible remainder (doc-inside-doc pairs with
    * very different sizes score J ≈ |A|/|B| below any usable θ; that
    * mass ships straight to training). On this same-length-edit
    * synthetic corpus the invisible column is zero — the audit's point
    * is that it is MEASURED, not assumed (Wave33Spec constructs the
    * nonzero case). Two store scans, a visibility left-join, an
    * id-keyed label join, a ≤|sources|-row rollup. */
  private val q257: Q = (s, d) => {
    import s.implicits._
    val jac = Stores.docPairs(s, d).where($"jaccard" >= 0.5)
      .select(least($"doc_a", $"doc_b").as("lo"),
        greatest($"doc_a", $"doc_b").as("hi"), lit(1L).as("vis"))
    Stores.docContainment(s, d)
      .select($"inner_id",
        least($"inner_id", $"outer_id").as("lo"),
        greatest($"inner_id", $"outer_id").as("hi"))
      .join(jac, Seq("lo", "hi"), "left")
      .join(Tables.documents(s, d)
        .select($"doc_id".as("inner_id"), $"source"), Seq("inner_id"))
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_containment_pairs"),
        sum(coalesce($"vis", lit(0L))).cast("long").as("n_jaccard_visible"),
        sum(when($"vis".isNull, 1L).otherwise(0L)).cast("long")
          .as("n_invisible"))
      .orderBy($"source")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q253_containment_policy" -> q253,
    "q254_dedup_length_bias" -> q254,
    "q255_transitivity_audit" -> q255,
    "q256_split_leakage_matrix" -> q256,
    "q257_containment_visibility" -> q257)

  // ---- oracle SQL -------------------------------------------------------

  /** Shared shingle/pair/containment CTE prefix: distinct 3-gram sets,
    * sizes, θ≥0.3 Jaccard pairs (the pair store's content), θ≥0.9
    * directed containment pairs (the containment store's content). */
  private val storesCte =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        unnest(list_transform(generate_series(1, len(w) - 2),
      |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |      FROM t),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b,
      |        inter / (sa.n + sb.n - inter) AS jaccard
      |      FROM pr JOIN sz sa ON doc_a = sa.doc_id
      |        JOIN sz sb ON doc_b = sb.doc_id
      |      WHERE inter / (sa.n + sb.n - inter) >= 0.3),
      |cd AS (SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
      |        count(*) AS inter
      |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      |      GROUP BY 1, 2),
      |cont AS (SELECT inner_id, outer_id, si.n AS n_inner, so.n AS n_outer,
      |        round(cd.inter / CAST(si.n AS DOUBLE), 9) AS containment
      |      FROM cd JOIN sz si ON cd.inner_id = si.doc_id
      |        JOIN sz so ON cd.outer_id = so.doc_id
      |      WHERE round(cd.inter / CAST(si.n AS DOUBLE), 9) >= 0.9)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q253_containment_policy" -> (storesCte +
      """,
        |v AS (SELECT DISTINCT inner_id FROM cont
        |      WHERE n_outer > n_inner
        |         OR (n_outer = n_inner AND outer_id < inner_id))
        |SELECT d.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(v.inner_id) AS BIGINT) AS n_dropped,
        |  round(count(v.inner_id) / CAST(count(*) AS DOUBLE), 9) AS drop_frac
        |FROM documents d LEFT JOIN v ON d.doc_id = v.inner_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin),
    "q254_dedup_length_bias" -> (storesCte +
      """,
        |v AS (SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE jaccard >= 0.5)
        |SELECT (v.doc_id IS NOT NULL) AS is_dropped,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(d.n_chars AS DECIMAL(28,4))) AS DOUBLE)
        |    / count(*), 9) AS mean_chars,
        |  round(CAST(sum(CAST(len(string_split(d.text, ' ')) AS DECIMAL(28,4)))
        |    AS DOUBLE) / count(*), 9) AS mean_tokens,
        |  CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
        |FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
        |GROUP BY 1 ORDER BY is_dropped""".stripMargin),
    "q255_transitivity_audit" -> (storesCte +
      """,
        |e AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
        |und AS (SELECT doc_a AS c, doc_b AS x FROM e
        |        UNION ALL SELECT doc_b, doc_a FROM e),
        |w AS (SELECT u1.c, u1.x, u2.x AS y
        |      FROM und u1 JOIN und u2 ON u1.c = u2.c AND u1.x < u2.x),
        |f AS (SELECT w.x, w.y,
        |        CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END AS closed
        |      FROM w LEFT JOIN e ON w.x = e.doc_a AND w.y = e.doc_b)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  CAST(count(*) AS BIGINT) AS n_wedges,
        |  CAST(sum(closed) AS BIGINT) AS n_closed,
        |  CAST(count(*) - sum(closed) AS BIGINT) AS n_open,
        |  round(CASE WHEN count(*) > 0
        |    THEN sum(closed) / CAST(count(*) AS DOUBLE) ELSE 1.0 END, 9)
        |    AS closure_rate
        |FROM f""".stripMargin),
    "q256_split_leakage_matrix" -> {
      val t1 = Sampling.hexThreshold(0.8)
      val t2 = Sampling.hexThreshold(0.8 + 0.1)
      storesCte +
        s""",
          |sp AS (SELECT doc_id,
          |    CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '$t1' THEN 'train'
          |         WHEN md5(CAST(doc_id AS VARCHAR)) < '$t2' THEN 'val'
          |         ELSE 'test' END AS split
          |  FROM documents)
          |SELECT least(sa.split, sb.split) AS split_lo,
          |  greatest(sa.split, sb.split) AS split_hi,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  round(CAST(sum(CAST(round(p.jaccard, 9) AS DECIMAL(28,12)))
          |    AS DOUBLE) / count(*), 9) AS mean_jaccard
          |FROM pairs p JOIN sp sa ON p.doc_a = sa.doc_id
          |  JOIN sp sb ON p.doc_b = sb.doc_id
          |WHERE p.jaccard >= 0.5
          |GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin
    },
    "q257_containment_visibility" -> (storesCte +
      """,
        |jp AS (SELECT least(doc_a, doc_b) AS lo, greatest(doc_a, doc_b) AS hi
        |       FROM pairs WHERE jaccard >= 0.5),
        |rec AS (SELECT c.inner_id,
        |          CASE WHEN jp.lo IS NOT NULL THEN 1 ELSE 0 END AS vis
        |        FROM cont c
        |        LEFT JOIN jp ON least(c.inner_id, c.outer_id) = jp.lo
        |          AND greatest(c.inner_id, c.outer_id) = jp.hi)
        |SELECT d.source,
        |  CAST(count(*) AS BIGINT) AS n_containment_pairs,
        |  CAST(sum(vis) AS BIGINT) AS n_jaccard_visible,
        |  CAST(sum(1 - vis) AS BIGINT) AS n_invisible
        |FROM rec JOIN documents d ON rec.inner_id = d.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin)
  )
}
