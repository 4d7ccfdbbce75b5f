package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Curate, Sampling, Text}

/** Round-8 curation-surface queries: PII redaction, temperature-scaled
  * source mixing, Gopher-rule quality gating, CCNet-style perplexity
  * bucketing. Every entry is fully oracle-checkable — the operators are
  * built from engine-portable expressions (shared regex subset, md5
  * thresholds, decimal rounding) precisely so DuckDB can replay them. */
object CurateQueries extends QuerySet {

  /** PII redaction ([[Curate.redactPii]]). The synthetic corpus carries
    * no PII, so the query plants deterministic email/phone/IPv4 strings
    * derived from (doc_id, source) — both engines build the identical
    * augmented text, then redact: the operator is exercised on real
    * matches and the oracle checks mask placement AND counts. Map-side
    * only; at 100 TB this is a pure scan transform. */
  private val q94: Q = (s, d) => {
    import s.implicits._
    val aug = Tables.documents(s, d).select($"doc_id",
      concat($"text",
        lit(" contact user"), $"doc_id".cast("string"),
        lit("@"), $"source", lit(".org call "),
        (pmod($"doc_id", lit(900)) + 100).cast("string"), lit("-555-"),
        lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0"),
        lit(" from "), pmod($"doc_id", lit(256)).cast("string"), lit("."),
        pmod($"doc_id" * 7, lit(256)).cast("string"), lit("."),
        pmod($"doc_id" * 11, lit(256)).cast("string"), lit("."),
        pmod($"doc_id" * 13, lit(256)).cast("string")).as("text"))
    Curate.redactPii(aug, "text")
      .select($"doc_id", $"clean_text",
        $"n_email".cast("long").as("n_email"),
        $"n_phone".cast("long").as("n_phone"),
        $"n_ip".cast("long").as("n_ip"))
      .orderBy($"doc_id")
  }

  /** Temperature-scaled language mixing ([[Sampling.temperatureMix]]),
    * α = 0.5 at a 50% token... row target: the dominant language (en,
    * ~44% of the corpus) admits at a lower rate than the tail languages
    * — the mBERT/XLM-R multilingual sampling rule, deterministic and
    * engine-replayable. One taxonomy-sized aggregate + broadcast join +
    * map-side hash filter; the corpus never shuffles. */
  private val q95: Q = (s, d) => {
    import s.implicits._
    Sampling.temperatureMix(
        Tables.documents(s, d).select($"doc_id", $"lang"),
        "doc_id", "lang", alpha = 0.5, targetFraction = 0.5, seed = "mix")
      .select($"doc_id", $"lang", $"rate")
      .orderBy($"doc_id")
  }

  /** Gopher-rule quality gate ([[Curate.gopherGate]]): per-doc metrics,
    * composite verdict, deterministic fail-reason list. Thresholds are
    * calibrated so the fixture corpus splits (short docs fail n_words,
    * low-stopword docs fail stop_frac). Pure map-side expressions. */
  private val q96: Q = (s, d) => {
    import s.implicits._
    Curate.gopherGate(Tables.documents(s, d), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** CCNet-style perplexity bucketing: [[Text.bigramLogProb]] scores
    * every doc, then EXACT NEAREST-RANK TERCILE BOUNDARIES split
    * head/middle/tail by model fit (head = most probable under the
    * corpus LM — CCNet keeps head/middle for training). Boundaries come
    * from the score-value histogram (the q211 technique, descending):
    * bᵢ = the score at descending rank ⌈i·N/3⌉ ((i·N+2) div 3 in
    * integer arithmetic), bucket = 1 + #{i : score < bᵢ} — docs tied on
    * a score share a bucket (tie → the better bucket). The score is
    * already on a FIXED 6-dp grid ([[Text.bigramLogProb]] rounds the
    * per-doc mean), so the histogram frame's cardinality is bounded by
    * the score range × 10⁶ — a value-domain bound independent of corpus
    * size — and bucketing is a map-side comparison against 2 broadcast
    * boundaries. This replaces the round-≤11 global ntile (an
    * unpartitioned sort over the full per-document frame — the
    * straggler shape); q98 remains the sketch-boundary variant for
    * corpora where even exact histogram terciles are not worth a
    * value-keyed exchange. */
  private val q97: Q = (s, d) => {
    import s.implicits._
    // the scored frame is a PERSISTED-store scan (Stores.lmScores), so
    // the double use (histogram + final bucketing) re-reads parquet —
    // no Staged persist needed anymore
    val scored = Stores.lmScores(s, d)
      .select($"doc_id", $"n_tokens", $"bigram_logprob")
    val hist = scored.groupBy($"bigram_logprob".as("v"))
      .agg(count(lit(1)).cast("long").as("c"))
    val cum = hist
      .withColumn("cum", sum($"c").over(
        org.apache.spark.sql.expressions.Window.orderBy($"v".desc)))
      .crossJoin(broadcast(hist.agg(sum($"c").cast("long").as("n"))))
    // exact ⌈i·N/3⌉ = (i·N+2) div 3 via floor of double division (exact
    // in IEEE up to 2^52), matching DuckDB's `//`; descending walk →
    // boundary = MAX value whose descending cumulative count reaches rᵢ
    val bs = (1 to 2).map(i =>
      max(when($"cum" >= floor((lit(i) * $"n" + 2) / 3).cast("long"), $"v"))
        .as(s"b$i"))
    val bounds = cum.agg(bs.head, bs.tail: _*)
    val bucket = (1 to 2).map(i => ($"bigram_logprob" < col(s"b$i")).cast("int"))
      .reduce(_ + _) + 1
    scored.crossJoin(broadcast(bounds))
      .select($"doc_id", $"n_tokens", $"bigram_logprob",
        when(bucket === 1, "head").when(bucket === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy($"doc_id")
  }

  /** The 100 TB face of q97: DDSketch tercile boundaries + map-side
    * bucketing ([[Curate.pplBucketsScaled]]) — no global sort anywhere.
    * Deterministic (DDSketch is merge-order-independent), golden-pinned;
    * no oracle because the boundary replay would duplicate q68/q70's
    * DDSketch SQL at triple length for no new signal. */
  private val q98: Q = (s, d) => {
    import s.implicits._
    Curate.pplBucketsScaledFrom(Stores.lmScores(s, d)
        .select($"doc_id", $"n_tokens", $"bigram_logprob"), "doc_id")
      .orderBy($"doc_id")
  }

  /** Leakage-free train/val/test split ([[Sampling.leakageFreeSplit]]):
    * near-dup clusters (q43's exact-Jaccard connected components) draw
    * ONE split per cluster, so duplicated documents can never sit on
    * both sides of a train/val boundary — the contamination-through-
    * duplication leak a per-doc hash split has. Oracle replays the
    * recursive component walk + the same md5 thresholds. */
  private val q99: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // canonical (n=3, 0.5) full-corpus components: READ the persisted
    // cluster store instead of re-running the pair machinery — identical
    // rows by construction (deterministic min-label components), and the
    // derivation is paid once per corpus, not once per query
    val cc = Stores.docClusters(s, d)
    Sampling.leakageFreeSplit(docs, "doc_id", cc,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select($"doc_id", $"split_key", $"split")
      .orderBy($"doc_id")
  }

  /** Corpus data card: the per-language datasheet row a curation run
    * publishes next to its output (docs, token volume, exact-dup rate,
    * quality-gate pass rate, char volume) — Gebru et al.'s "Datasheets
    * for Datasets" reduced to the signals this corpus carries. One scan
    * plus a taxonomy-sized aggregate; every column is engine-portable
    * arithmetic the oracle replays. */
  private val q100: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val gate = Curate.gopherGate(docs, "doc_id", "text")
      .select($"doc_id", $"passes")
    docs.join(gate, Seq("doc_id"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount($"text")).cast("long").as("total_tokens"),
        countDistinct(md5($"text")).as("distinct_texts"),
        sum(when($"passes", 1L).otherwise(0L)).as("n_gopher_pass"),
        sum($"n_chars").cast("long").as("sum_chars"))
      .orderBy($"lang")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q100_data_card"      -> q100,
    "q94_pii_redact"      -> q94,
    "q95_temperature_mix" -> q95,
    "q96_gopher_gate"     -> q96,
    "q97_ppl_buckets"     -> q97,
    "q98_ppl_buckets_scaled" -> q98,
    "q99_leakage_free_split" -> q99)

  val oracle: Seq[(String, String)] = Seq(
    "q100_data_card" ->
      """WITH m AS (SELECT doc_id,
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
        |v AS (SELECT doc_id,
        |    (n_words BETWEEN 20 AND 100000) AND
        |    (mean_wlen BETWEEN 4.0 AND 10.0) AND
        |    (stop_frac >= 0.02) AND
        |    (top_word_frac <= 0.2) AS passes
        |  FROM m)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens,
        |  count(DISTINCT md5(d.text)) AS distinct_texts,
        |  CAST(sum(CASE WHEN v.passes THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_gopher_pass,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN v USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q94_pii_redact" ->
      s"""WITH aug AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' ||
        |    source || '.org call ' ||
        |    CAST(doc_id % 900 + 100 AS VARCHAR) || '-555-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |    ' from ' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |    CAST((doc_id * 7) % 256 AS VARCHAR) || '.' ||
        |    CAST((doc_id * 11) % 256 AS VARCHAR) || '.' ||
        |    CAST((doc_id * 13) % 256 AS VARCHAR) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '${Curate.EmailRe}', '<EMAIL>', 'g'),
        |    '${Curate.PhoneRe}', '<PHONE>', 'g'),
        |    '${Curate.Ipv4Re}', '<IP>', 'g') AS clean_text,
        |  len(regexp_extract_all(text, '${Curate.EmailRe}')) AS n_email,
        |  len(regexp_extract_all(text, '${Curate.PhoneRe}')) AS n_phone,
        |  len(regexp_extract_all(text, '${Curate.Ipv4Re}')) AS n_ip
        |FROM aug ORDER BY doc_id""".stripMargin,
    "q95_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS nn, sum(pow(n, 0.5)) AS sw FROM c),
        |r AS (SELECT lang,
        |    round(least(1.0, 0.5 * nn * pow(n, 0.5) / sw / n), 9) AS rate
        |  FROM c CROSS JOIN t)
        |SELECT d.doc_id, d.lang, r.rate
        |FROM documents d JOIN r USING (lang)
        |WHERE r.rate >= 1.0 OR
        |  substr(md5('mix ' || CAST(d.doc_id AS VARCHAR)), 1, 15) <
        |  printf('%015x', CAST(floor(r.rate * power(2, 60)) AS BIGINT))
        |ORDER BY d.doc_id""".stripMargin,
    "q96_gopher_gate" ->
      """WITH m AS (SELECT doc_id,
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
        |  FROM m)
        |SELECT doc_id, n_words, mean_wlen, stop_frac, top_word_frac,
        |  words_ok AND wlen_ok AND stop_ok AND top_ok AS passes,
        |  concat_ws(',',
        |    CASE WHEN NOT words_ok THEN 'n_words' END,
        |    CASE WHEN NOT wlen_ok THEN 'mean_wlen' END,
        |    CASE WHEN NOT stop_ok THEN 'stop_frac' END,
        |    CASE WHEN NOT top_ok THEN 'top_word_frac' END) AS fail_reasons
        |FROM v ORDER BY doc_id""".stripMargin,
    "q99_leakage_free_split" -> {
      val t1 = graft.ops.Sampling.hexThreshold(0.8)
      val t2 = graft.ops.Sampling.hexThreshold(0.8 + 0.1)
      s"""WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |pp AS (SELECT doc_a, doc_b FROM p
        |       JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |       WHERE inter / (sa.n + sb.n - inter) >= 0.5),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pp UNION SELECT doc_b, doc_a FROM pp),
        |walk(node, label) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.a, w.label FROM e JOIN walk w ON e.b = w.node),
        |cc AS (SELECT node AS doc_id, min(label) AS component_id
        |       FROM walk GROUP BY node),
        |keyed AS (SELECT d.doc_id,
        |    coalesce(cc.component_id, d.doc_id) AS split_key
        |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id)
        |SELECT doc_id, split_key,
        |  CASE WHEN md5(CAST(split_key AS VARCHAR)) < '$t1' THEN 'train'
        |       WHEN md5(CAST(split_key AS VARCHAR)) < '$t2' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM keyed ORDER BY doc_id""".stripMargin
    },
    "q97_ppl_buckets" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, w[i] AS tok,
        |          CASE WHEN i > 1 THEN w[i-1] END AS prev
        |        FROM t, unnest(generate_series(1, len(w))) AS u(i)),
        |uni AS (SELECT tok, count(*) AS n_u FROM tok GROUP BY tok),
        |big AS (SELECT prev, tok, count(*) AS n_bg FROM tok
        |        WHERE prev IS NOT NULL GROUP BY prev, tok),
        |tot AS (SELECT CAST(sum(n_u) AS DOUBLE) AS n FROM uni),
        |s AS (SELECT doc_id,
        |    CAST(round(ln(CASE WHEN tk.prev IS NULL THEN u.n_u / n
        |      ELSE 0.75 * (b.n_bg / CAST(pu.n_u AS DOUBLE)) + 0.25 * (u.n_u / n)
        |      END), 9) AS DECIMAL(18,9)) AS lp
        |  FROM tok tk JOIN uni u USING (tok)
        |  LEFT JOIN uni pu ON pu.tok = tk.prev
        |  LEFT JOIN big b ON b.prev = tk.prev AND b.tok = tk.tok
        |  CROSS JOIN tot),
        |sc AS (SELECT doc_id, count(*) AS n_tokens,
        |    round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS bigram_logprob
        |  FROM s GROUP BY doc_id),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
        |h AS (SELECT bigram_logprob AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM sc GROUP BY 1),
        |cm AS (SELECT v, sum(c) OVER (ORDER BY v DESC) AS cum FROM h),
        |b AS (SELECT
        |    max(CASE WHEN cum >= (1*n+2)//3 THEN v END) AS b1,
        |    max(CASE WHEN cum >= (2*n+2)//3 THEN v END) AS b2
        |  FROM cm CROSS JOIN n)
        |SELECT doc_id, n_tokens, bigram_logprob,
        |  CASE 1 + CAST(bigram_logprob < b1 AS INTEGER)
        |         + CAST(bigram_logprob < b2 AS INTEGER)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS ppl_bucket
        |FROM sc CROSS JOIN b ORDER BY doc_id""".stripMargin)
}
