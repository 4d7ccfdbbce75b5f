package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Sampling, Text}

/** FILE→WAVE MAP: Wave40Queries.scala holds round-12 WAVE-43 queries
  * q285–q288 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Dedup-infrastructure introspection and pipeline-policy audits: the
  * shingle document-frequency profile (the posting-skew table the
  * Jaccard router's Σdf² budget reads, made visible), curation ORDER
  * sensitivity (gate-then-dedup vs dedup-then-gate final yields — the
  * victim set depends on whether the kept endpoint survived the gate),
  * the train→test bigram coverage gap (LM generalization surface), and
  * split churn under re-salting (how much of the corpus changes split
  * when the assignment key rotates). All four are
  * DuckDB-oracle-checked. */
object Wave40Queries extends QuerySet {

  /** Shingle document-frequency profile: 3-gram postings bucketed by
    * ⌊log₂ df⌋ — n_shingles, posting mass, and mass share per bucket.
    * This is the corpus-shape table behind the dedup router: Σdf² (the
    * candidate-pair cost of a posting join) is dominated by the top
    * buckets, and a corpus whose mass sits in high-df buckets routes
    * to the df-capped plan. The bucket is exact integer arithmetic
    * (length of the binary expansion), the share window runs over the
    * ≤64-row bucket frame. */
  private val q285: Q = (s, d) => {
    import s.implicits._
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select($"doc_id", explode(array_distinct(Text.shingles($"text", 3)))
        .as("sh"))
      .groupBy($"sh").agg(count(lit(1)).as("df"))
      .groupBy((length(bin($"df")) - 1).cast("int").as("df_bucket"))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum($"df").cast("long").as("posting_mass"))
      .withColumn("mass_share",
        round($"posting_mass" / sum($"posting_mass").over(w).cast("double"), 9))
      .orderBy($"df_bucket")
  }

  /** Curation order sensitivity: final doc/token yield of
    * gate-then-dedup vs dedup-then-gate. The two differ because the
    * near-dup drop rule keeps doc_a: if the gate already removed
    * doc_a, the gate-first pipeline has no surviving witness and
    * doc_b stays — so gate-first retains MORE than dedup-first
    * whenever victims' keepers fail the gate. Both paths are computed
    * from the SAME staged gate frame and ONE pair-store scan (the
    * victim sets differ only by a semi join against the gate
    * survivors); nothing re-derives. */
  private val q286: Q = (s, d) => {
    import s.implicits._
    val wc = Text.tokenCount($"text")
    val awl = Text.sumTokenLen($"text") / wc
    val stopRatio = Text.stopwordCount($"text") / wc
    val gated = Tables.documents(s, d)
      .select($"doc_id", wc.cast("long").as("n_tok"),
        (Text.qualityScore(wc, stopRatio, awl) >= 0.6).as("pass_q"))
      // staged: unstaged, the scoring scan runs again and q286 is slower
      // (0.238 → 0.320 s at sf0.1)
      .transform(graft.ops.Staged(_))
    val pairs5 = Stores.docPairs(s, d).where($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b")
    val victimsDedupFirst = pairs5.select($"doc_b".as("doc_id")).distinct()
      .withColumn("v_df", lit(true))
    val victimsGateFirst = pairs5
      .join(gated.where($"pass_q").select($"doc_id".as("doc_a")),
        Seq("doc_a"), "left_semi")
      .select($"doc_b".as("doc_id")).distinct()
      .withColumn("v_gf", lit(true))
    val lab = gated
      .join(victimsDedupFirst, Seq("doc_id"), "left")
      .join(victimsGateFirst, Seq("doc_id"), "left")
    def yields(order: String, keep: Column): DataFrame =
      lab.where(keep)
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum($"n_tok").cast("long").as("n_tokens"))
        .select(lit(order).as("pipeline_order"), $"n_docs", $"n_tokens")
    yields("dedup_then_gate", $"pass_q" && $"v_df".isNull)
      .unionByName(yields("gate_then_dedup", $"pass_q" && $"v_gf".isNull))
      .orderBy($"pipeline_order")
  }

  /** Train→test bigram coverage gap: per language, the mean fraction
    * of a TEST document's distinct bigrams already seen in TRAIN under
    * the md5 90/10 split — the LM-generalization surface (a language
    * whose test bigrams are largely unseen will score artificially low
    * perplexity-wise on a train-fit model). One bigram explode, a
    * distinct train set, one bigram-keyed left join (vocabulary²-
    * bounded, never doc × doc), a per-doc rate, a per-lang decimal
    * mean. */
  private val q287: Q = (s, d) => {
    import s.implicits._
    val lab = Sampling.splitAssign(
        Tables.documents(s, d).select($"doc_id"), "doc_id",
        Seq("train" -> 0.9, "test" -> 0.1))
      .select($"doc_id", $"split")
    val docs = Tables.documents(s, d).join(lab, "doc_id")
    val bg = docs.select($"doc_id", $"lang", $"split",
      explode(array_distinct(Text.shingles($"text", 2))).as("bg"))
    val trainBg = bg.where($"split" === "train").select($"bg").distinct()
      .withColumn("seen", lit(true))
    val perDoc = bg.where($"split" === "test")
      .join(trainBg, Seq("bg"), "left")
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_bg"),
        sum(when($"seen", 1L).otherwise(0L)).as("n_seen"))
      .select($"lang", round($"n_seen" / $"n_bg".cast("double"), 9).as("cov"))
    perDoc.groupBy($"lang")
      .agg(count(lit(1)).cast("long").as("n_test_docs"),
        round(sum($"cov".cast("decimal(28,9)")).cast("double") /
          count(lit(1)), 9).as("mean_bigram_coverage"))
      .orderBy($"lang")
  }

  /** Split churn under re-salting: the 3×3 transition matrix between
    * the current split assignment and a re-keyed one (salt "v2") —
    * the cost table of rotating split keys (every off-diagonal
    * train→test cell is potential contamination of the NEW test set
    * by data the OLD model trained on). Two map-side assignments of
    * the same scan, one ≤9-row rollup. */
  private val q288: Q = (s, d) => {
    import s.implicits._
    val defs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val ids = Tables.documents(s, d).select($"doc_id")
    val a = Sampling.splitAssign(ids, "doc_id", defs, outCol = "split_v1")
    val b = Sampling.splitAssign(a, "doc_id", defs, outCol = "split_v2",
      salt = "v2 ")
    b.groupBy($"split_v1", $"split_v2")
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .orderBy($"split_v1", $"split_v2")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q285_shingle_df_profile" -> q285,
    "q286_curation_order_sensitivity" -> q286,
    "q287_bigram_coverage_gap" -> q287,
    "q288_split_churn" -> q288)

  // ---- oracle SQL -------------------------------------------------------

  /** q42's quality-score gate replayed in SQL — the EXACT arithmetic
    * shape of [[Text.qualityScore]] (operand order, least, the same
    * stopword list), copied from the q42 oracle. */
  private val stopList =
    Text.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
  private val gateCte =
    s"""gm AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS INTEGER) AS word_count,
       |    list_sum(list_transform(string_split(text, ' '), x -> length(x)))
       |      AS sum_len,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> list_contains($stopList, x))) AS INTEGER) AS n_stop
       |  FROM documents),
       |gq AS (SELECT doc_id, CAST(word_count AS BIGINT) AS n_tok,
       |    least(1.0, word_count / 100.0) * 0.4
       |      + (1.0 - n_stop / word_count) * 0.3
       |      + least(1.0, (sum_len / word_count) / 8.0) * 0.3 >= 0.6 AS pass_q
       |  FROM gm)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q285_shingle_df_profile" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t),
        |dfreq AS (SELECT sh, count(*) AS df FROM g GROUP BY sh),
        |b AS (SELECT CAST(length(to_base(df, 2)) - 1 AS INTEGER) AS df_bucket,
        |    CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(sum(df) AS BIGINT) AS posting_mass
        |  FROM dfreq GROUP BY 1)
        |SELECT df_bucket, n_shingles, posting_mass,
        |  round(posting_mass / CAST(sum(posting_mass) OVER () AS DOUBLE), 9)
        |    AS mass_share
        |FROM b ORDER BY df_bucket""".stripMargin,
    "q286_curation_order_sensitivity" -> (
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t),
        |sz AS (SELECT doc_id, count(*) AS nsh FROM g GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |p5 AS (SELECT doc_a, doc_b FROM pr
        |      JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |      WHERE inter / (sa.nsh + sb.nsh - inter) >= 0.5),
        |""".stripMargin + gateCte + """,
        |vdf AS (SELECT DISTINCT doc_b AS doc_id FROM p5),
        |vgf AS (SELECT DISTINCT doc_b AS doc_id FROM p5
        |      WHERE doc_a IN (SELECT doc_id FROM gq WHERE pass_q)),
        |lab AS (SELECT gq.doc_id, gq.n_tok, gq.pass_q,
        |    vdf.doc_id IS NOT NULL AS v_df, vgf.doc_id IS NOT NULL AS v_gf
        |  FROM gq LEFT JOIN vdf ON gq.doc_id = vdf.doc_id
        |    LEFT JOIN vgf ON gq.doc_id = vgf.doc_id)
        |SELECT 'dedup_then_gate' AS pipeline_order,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM lab WHERE pass_q AND NOT v_df
        |UNION ALL
        |SELECT 'gate_then_dedup',
        |  CAST(count(*) AS BIGINT), CAST(sum(n_tok) AS BIGINT)
        |FROM lab WHERE pass_q AND NOT v_gf
        |ORDER BY pipeline_order""".stripMargin),
    "q287_bigram_coverage_gap" -> {
      val t1 = Sampling.hexThreshold(0.9)
      s"""WITH sp AS (SELECT doc_id, lang, string_split(text, ' ') AS w,
         |    CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '$t1' THEN 'train'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |bg AS (SELECT DISTINCT doc_id, lang, split,
         |    unnest(list_transform(generate_series(1, len(w) - 1),
         |      i -> w[i] || ' ' || w[i+1])) AS bg
         |  FROM sp),
         |tb AS (SELECT DISTINCT bg FROM bg WHERE split = 'train'),
         |pd AS (SELECT b.doc_id, b.lang,
         |    round(sum(CASE WHEN tb.bg IS NOT NULL THEN 1 ELSE 0 END)
         |      / CAST(count(*) AS DOUBLE), 9) AS cov
         |  FROM bg b LEFT JOIN tb ON b.bg = tb.bg
         |  WHERE b.split = 'test' GROUP BY 1, 2)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_test_docs,
         |  round(CAST(sum(CAST(cov AS DECIMAL(28,9))) AS DOUBLE) / count(*), 9)
         |    AS mean_bigram_coverage
         |FROM pd GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q288_split_churn" -> {
      val t1 = Sampling.hexThreshold(0.8)
      val t2 = Sampling.hexThreshold(0.9)
      s"""WITH a AS (SELECT doc_id,
         |    CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '$t1' THEN 'train'
         |         WHEN md5(CAST(doc_id AS VARCHAR)) < '$t2' THEN 'val'
         |         ELSE 'test' END AS split_v1,
         |    CASE WHEN md5('v2 ' || CAST(doc_id AS VARCHAR)) < '$t1' THEN 'train'
         |         WHEN md5('v2 ' || CAST(doc_id AS VARCHAR)) < '$t2' THEN 'val'
         |         ELSE 'test' END AS split_v2
         |  FROM documents)
         |SELECT split_v1, split_v2, CAST(count(*) AS BIGINT) AS n_docs
         |FROM a GROUP BY 1, 2 ORDER BY split_v1, split_v2""".stripMargin
    })
}
