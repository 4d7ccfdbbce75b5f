package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Curate, Sampling, Text}

/** FILE→WAVE MAP: Wave36Queries.scala holds round-12 WAVE-39 queries
  * q265–q269 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Curation-policy calibration sweeps and cross-signal audits: the
  * decontamination n-gram-size sweep (what n should the eval-overlap
  * filter use?), the gopher-gate failure-combination histogram (which
  * rule COMBINATIONS kill documents — q198's ablation shows marginals,
  * this shows the joint), the cross-modal embedding-norm-by-language
  * profile, the crawl-order quality-drift correlation (was quality
  * front-loaded?), and the dedup-victim quality-bias audit (does
  * near-dup dedup preferentially remove low-quality docs?). All five
  * are DuckDB-oracle-checked. */
object Wave36Queries extends QuerySet {

  private val splitDefs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Decontamination n-gram sweep: for n ∈ {4, 8, 13}, the fraction of
    * TEST-split documents sharing at least one n-gram with any TRAIN
    * document under the deterministic md5 80/10/10 split (q58's
    * assignment). Small n over-flags (common phrases), large n
    * under-flags (only long verbatim spans); this table is how the
    * threshold is CHOSEN rather than assumed — the 13-gram row is the
    * published GPT-3/Gopher decontamination setting. Per n: one
    * shingle explode, a distinct train-shingle frame, a left-semi
    * probe, two scalar counts attached by 1-row broadcast (the audited
    * BNLJ). Inverted-index cost — shingle-keyed exchanges, never
    * doc × doc. */
  private val q265: Q = (s, d) => {
    import s.implicits._
    val ns = Seq(4, 8, 13)
    val lab = Sampling.splitAssign(
        Tables.documents(s, d).select($"doc_id"), "doc_id", splitDefs)
      .select($"doc_id", $"split")
    val docs = Tables.documents(s, d).join(lab, "doc_id")
      .where($"split".isin("train", "test"))
      .select($"doc_id", $"split", $"text")
    // ONE (n-tagged) n-gram-hash explode per branch instead of one
    // shingle explode per n. Two structural wins over the pre-r14 form:
    // (a) the per-doc n-gram sets come from the NATIVE
    //     [[graft.functions.NgramHashes]] expression — one buffer-reuse
    //     pass per (row, n); the composed zip_with/concat shingle chain
    //     it replaces materialized O(n²) intermediate string bytes per
    //     document and was the profiled dominant cost (4.5 s warm at
    //     sf1 for the explode projection alone);
    // (b) the exchanges carry 8-byte xxhash64 keys (n folded into the
    //     hash as the seed-leading column) instead of ~60-byte 13-gram
    //     strings. The distinct and semi-join only test shingle
    //     EQUALITY; a collision (≈1e11 candidate pairs against 2^64)
    //     would over-count one doc — negligible, and the DuckDB gate
    //     compares the string-exact counts.
    graft.functions.GraftFunctions.register(s)
    val tagged = concat(ns.map(n => transform(
      call_function("ngram_hashes", $"toks", lit(n)),
      x => struct(lit(n).as("n"), x.as("h")))): _*)
    // scan parallelism: Tables.documents' small-layout fan-out already
    // spreads the corpus across the cluster before this projection
    val sh = docs
      .select($"doc_id", $"split", Text.tokens($"text").as("toks"))
      .select($"doc_id", $"split", explode(tagged).as("g"))
      .select($"doc_id", $"split", $"g.n".as("n"), $"g.h".as("h"))
    // n is folded into the hash as a seed column, so equality on h alone
    // is equality on (n, shingle); n rides along only for the final rollup
    val trainSh = sh.where($"split" === "train").select($"h").distinct()
    val contaminated = sh.where($"split" === "test")
      .join(trainSh, Seq("h"), "left_semi")
      .select($"n", $"doc_id").distinct()
      .groupBy($"n").agg(count(lit(1)).as("n_contaminated"))
    val nTest = lab.where($"split" === "test")
      .agg(count(lit(1)).as("n_test_docs"))
    // literal n frame keeps a zero-contamination n present (the
    // per-n scalar aggregate always yielded a row; a groupBy would not)
    ns.toDF("n").join(contaminated, Seq("n"), "left")
      .withColumn("n_contaminated", coalesce($"n_contaminated", lit(0L)))
      .crossJoin(broadcast(nTest))
      .select($"n", $"n_test_docs", $"n_contaminated",
        round($"n_contaminated" / $"n_test_docs".cast("double"), 9)
          .as("contam_rate"))
      .orderBy($"n")
  }

  /** Gopher-gate failure-combination histogram: documents grouped by
    * the EXACT set of rules they fail (q96's fixed-order fail_reasons
    * string; 'PASS' for none), with the token mass at stake per cell.
    * q198's ablation answers "what does each rule kill alone"; this
    * joint table answers "which rules travel together" — a combination
    * cell with high mass and two rules means re-thresholding either
    * recovers nothing. ONE corpus scan (the same map-side gate
    * expressions), then a ≤2^4-row rollup. */
  private val q266: Q = (s, d) => {
    import s.implicits._
    Curate.gopherGate(Tables.documents(s, d), "doc_id", "text")
      .groupBy(when($"fail_reasons" === "", "PASS")
        .otherwise($"fail_reasons").as("combo"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($"n_words").cast("long").as("token_mass"))
      .orderBy($"n_docs".desc, $"combo")
  }

  /** Cross-modal norm profile: embedding L2 norms joined to the text
    * table's language, per-lang mean norm and label spread — the drift
    * check that catches an encoder normalizing one language's vectors
    * differently (a real failure mode of multilingual embedding
    * pipelines). One id-keyed join (embeddings⋈documents on the shared
    * id space), decimal-exact mean, label countDistinct bounded by the
    * label vocabulary. */
  private val q267: Q = (s, d) => {
    import s.implicits._
    val emb = $"embedding".cast("array<double>")
    Tables.embeddings(s, d)
      .select($"vec_id".as("doc_id"),
        graft.ops.Similarity.l2Norm(emb).as("nrm"), $"label")
      .join(Tables.documents(s, d).select($"doc_id", $"lang"), Seq("doc_id"))
      .groupBy($"lang")
      .agg(count(lit(1)).cast("long").as("n"),
        graft.ops.Exact.davg($"nrm").as("avg_norm"),
        countDistinct($"label").cast("long").as("n_labels"))
      .orderBy($"lang")
  }

  /** Crawl-order quality drift: per source, the exact Pearson
    * correlation between document position (doc_id, the ingest-order
    * proxy) and stop-word fraction (the gate's fluency signal) — a
    * strong negative r says the crawl front-loaded quality and a
    * "take the first N" truncation is biased (the ordering audit run
    * before any head-of-corpus sampling). q37's exact-correlation
    * discipline: every sum term is decimal-cast (products decimal-
    * widened BEFORE multiplication — doc_id² overflows a long), the
    * five sums are order-independent, one double formula at the end.
    * Map-side signals, one |sources|-row rollup. */
  private val q268: Q = (s, d) => {
    import s.implicits._
    val d19 = "decimal(19,0)"
    val sf = round(
      size(filter(Text.tokens($"text"), w => w.isin(Curate.Stopwords: _*)))
        .cast("double") / size(Text.tokens($"text")), 6)
    val g = Tables.documents(s, d)
      .select($"source", $"doc_id", sf.as("y"))
      .groupBy($"source")
      .agg(count(lit(1)).cast("double").as("n"),
        sum($"doc_id".cast(d19)).cast("double").as("sx"),
        sum(($"doc_id".cast(d19) * $"doc_id".cast(d19))).cast("double").as("sxx"),
        sum($"y".cast("decimal(18,6)")).cast("double").as("sy"),
        sum(round($"y" * $"y", 12).cast("decimal(28,12)")).cast("double").as("syy"),
        sum(round($"doc_id" * $"y", 6).cast("decimal(38,6)")).cast("double").as("sxy"))
    g.select($"source", $"n".cast("long").as("n_docs"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx") *
            ($"n" * $"syy" - $"sy" * $"sy")), 6).as("order_quality_corr"))
      .orderBy($"source")
  }

  /** Dedup-victim quality bias: does θ≥0.5 near-dup dedup (q42's
    * keep-the-lower-id rule) preferentially remove documents the
    * quality gate would have killed anyway? Victims from the PERSISTED
    * pair store crossed with the gopher verdict — the 2×2 the curation
    * team reads before deciding dedup-then-gate vs gate-then-dedup
    * ordering (q254 profiles length bias; this is the quality cross).
    * Store scan + map-side gate + 4-row rollup. */
  private val q269: Q = (s, d) => {
    import s.implicits._
    val victims = Stores.docPairs(s, d).where($"jaccard" >= 0.5)
      .select($"doc_b".as("doc_id")).distinct()
      .withColumn("isv", lit(true))
    Curate.gopherGate(Tables.documents(s, d), "doc_id", "text")
      .join(victims, Seq("doc_id"), "left")
      .groupBy(coalesce($"isv", lit(false)).as("is_victim"), $"passes")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(sum($"stop_frac".cast("decimal(28,9)")).cast("double") /
          count(lit(1)), 9).as("mean_stop_frac"))
      .orderBy($"is_victim", $"passes")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q265_decontam_ngram_sweep" -> q265,
    "q266_gate_combo_histogram" -> q266,
    "q267_embed_norm_by_lang" -> q267,
    "q268_crawl_order_drift" -> q268,
    "q269_dedup_quality_bias" -> q269)

  // ---- oracle SQL -------------------------------------------------------

  /** w[i] || ' ' || w[i+1] ... n terms, the DuckDB n-gram constructor. */
  private def shingleExpr(n: Int): String =
    (0 until n).map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")

  /** The q96 gopher measurement CTE (verbatim thresholds). */
  private val gopherCte =
    """m AS (SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_words,
      |    round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
      |      len(string_split(text, ' ')), 6) AS mean_wlen,
      |    round(CAST(len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the', 'a', 'of', 'to', 'and', 'in'))) AS DOUBLE) /
      |      len(string_split(text, ' ')), 6) AS stop_frac,
      |    round(CAST(list_max(list_transform(list_distinct(string_split(text, ' ')),
      |        d -> len(list_filter(string_split(text, ' '), x -> x = d)))) AS DOUBLE) /
      |      len(string_split(text, ' ')), 6) AS top_word_frac
      |  FROM documents),
      |v AS (SELECT doc_id, n_words, mean_wlen, stop_frac, top_word_frac,
      |    n_words BETWEEN 20 AND 100000 AS words_ok,
      |    mean_wlen BETWEEN 4.0 AND 10.0 AS wlen_ok,
      |    stop_frac >= 0.02 AS stop_ok,
      |    top_word_frac <= 0.2 AS top_ok
      |  FROM m)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q265_decontam_ngram_sweep" -> {
      val t1 = Sampling.hexThreshold(0.8)
      val t2 = Sampling.hexThreshold(0.9)
      val perN = Seq(4, 8, 13).map { n =>
        s"""SELECT $n AS n,
           |  (SELECT CAST(count(*) AS BIGINT) FROM sp WHERE split = 'test')
           |    AS n_test_docs,
           |  (SELECT CAST(count(DISTINCT a.doc_id) AS BIGINT)
           |   FROM (SELECT doc_id, unnest(list_transform(
           |       generate_series(1, len(w) - ${n - 1}),
           |       i -> ${shingleExpr(n)})) AS sh
           |     FROM sp WHERE split = 'test') a
           |   WHERE a.sh IN (SELECT unnest(list_transform(
           |       generate_series(1, len(w) - ${n - 1}),
           |       i -> ${shingleExpr(n)}))
           |     FROM sp WHERE split = 'train')) AS n_contaminated""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS w,
         |    CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '$t1' THEN 'train'
         |         WHEN md5(CAST(doc_id AS VARCHAR)) < '$t2' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT n, n_test_docs, n_contaminated,
         |  round(n_contaminated / CAST(n_test_docs AS DOUBLE), 9) AS contam_rate
         |FROM ($perN) ORDER BY n""".stripMargin
    },
    "q266_gate_combo_histogram" -> (s"WITH $gopherCte" +
      """
        |SELECT CASE WHEN NOT words_ok OR NOT wlen_ok OR NOT stop_ok
        |              OR NOT top_ok
        |         THEN concat_ws(',',
        |           CASE WHEN NOT words_ok THEN 'n_words' END,
        |           CASE WHEN NOT wlen_ok THEN 'mean_wlen' END,
        |           CASE WHEN NOT stop_ok THEN 'stop_frac' END,
        |           CASE WHEN NOT top_ok THEN 'top_word_frac' END)
        |         ELSE 'PASS' END AS combo,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS token_mass
        |FROM v GROUP BY 1 ORDER BY n_docs DESC, combo""".stripMargin),
    "q267_embed_norm_by_lang" ->
      """WITH e AS (SELECT vec_id AS doc_id,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm, label
        |  FROM embeddings)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(nrm AS DECIMAL(18,4))) AS DOUBLE) / count(nrm)
        |    AS avg_norm,
        |  CAST(count(DISTINCT e.label) AS BIGINT) AS n_labels
        |FROM e JOIN documents d ON e.doc_id = d.doc_id
        |GROUP BY d.lang ORDER BY lang""".stripMargin,
    "q268_crawl_order_drift" ->
      """WITH y AS (SELECT source, doc_id,
        |    round(CAST(len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a', 'of', 'to', 'and', 'in'))) AS DOUBLE) /
        |      len(string_split(text, ' ')), 6) AS y
        |  FROM documents),
        |g AS (SELECT source,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(doc_id AS DECIMAL(19,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(doc_id AS DECIMAL(19,0))
        |      * CAST(doc_id AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(y * y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(round(doc_id * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        |  FROM y GROUP BY source)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  round((n * sxy - sx * sy) /
        |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |    AS order_quality_corr
        |FROM g ORDER BY source""".stripMargin,
    "q269_dedup_quality_bias" -> (
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g0 AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t),
        |sz AS (SELECT doc_id, count(*) AS nsh FROM g0 GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM g0 a JOIN g0 b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |vict AS (SELECT DISTINCT doc_b AS doc_id
        |      FROM pr JOIN sz sa ON doc_a = sa.doc_id
        |        JOIN sz sb ON doc_b = sb.doc_id
        |      WHERE inter / (sa.nsh + sb.nsh - inter) >= 0.5),
        |""".stripMargin + gopherCte.replace("m AS", "m AS").stripPrefix("") +
      """
        |SELECT (vict.doc_id IS NOT NULL) AS is_victim,
        |  (words_ok AND wlen_ok AND stop_ok AND top_ok) AS passes,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(stop_frac AS DECIMAL(28,9))) AS DOUBLE)
        |    / count(*), 9) AS mean_stop_frac
        |FROM v LEFT JOIN vict ON v.doc_id = vict.doc_id
        |GROUP BY 1, 2 ORDER BY is_victim, passes""".stripMargin))
}
