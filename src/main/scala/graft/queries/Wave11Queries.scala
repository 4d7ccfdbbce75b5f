package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Text}

/** Round-9 eleventh-wave queries: a per-column null/distinct profiler,
  * cross-language duplication detection, and the dedup token-gain
  * report. All DuckDB-oracle-checked. */
object Wave11Queries extends QuerySet {

  private val profileCols = Seq("event_id", "ts", "user_id", "event_type",
    "value", "props")

  /** Per-column profile of the events table — row count, null count,
    * exact distinct count per column, the first table a data-quality
    * review opens. ONE aggregation computes every column's stats
    * (Spark plans multi-distinct aggregates with one Expand — one scan,
    * no per-column rescans), then a literal-struct melt emits the
    * long-format rows. */
  private val q169: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val aggs = profileCols.flatMap { c => Seq(
      (count(lit(1)) - count(col(c))).cast("long").as(s"__null_$c"),
      countDistinct(col(c)).cast("long").as(s"__dist_$c")) } :+
      count(lit(1)).cast("long").as("__rows")
    val melted = profileCols.map { c =>
      struct(lit(c).as("column"), col("__rows").as("n_rows"),
        col(s"__null_$c").as("n_nulls"), col(s"__dist_$c").as("n_distinct")) }
    ev.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(melted: _*)).as("x"))
      .select($"x.column", $"x.n_rows", $"x.n_nulls", $"x.n_distinct")
      .orderBy($"column")
  }

  /** Eight shared tokens planted on every 17th doc — a lang-independent
    * "translated boilerplate" block, so duplication crosses language
    * boundaries the way templated multilingual sites do. */
  private val xl8 = "alpha beta gamma delta epsilon zeta eta theta"

  /** Cross-language duplication: rare-tile pairs whose endpoints carry
    * DIFFERENT langs, rolled up per ordered lang pair — the detector
    * for translated/templated content that per-lang dedup never sees. */
  private val q170: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"lang",
      when($"doc_id" % 17 === 0, concat(lit(xl8 + " "), $"text"))
        .otherwise($"text").as("text"))
    val langs = docs.select($"doc_id", $"lang")
    Dedup.rareTilePairs(docs, "doc_id", "text", k = 8, maxDf = 64,
        minShared = 1, tileKey = c => md5(c))
      .join(langs.select($"doc_id".as("doc_a"), $"lang".as("lang_a")),
        Seq("doc_a"))
      .join(langs.select($"doc_id".as("doc_b"), $"lang".as("lang_b")),
        Seq("doc_b"))
      .where($"lang_a" =!= $"lang_b")
      .groupBy($"lang_a", $"lang_b")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        countDistinct($"doc_a").cast("long").as("n_docs_a"))
      .orderBy($"lang_a", $"lang_b")
  }

  /** Dedup token gain per language: tokens and type-token ratio on the
    * raw corpus vs after exact (md5 min-id) dedup — the honest "what
    * did dedup buy" line of a curation report. The deduped branch
    * reuses q20's keep-first rule; TTRs are exact long ratios. */
  private val q171: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    def stats(df: DataFrame, prefix: String) = df
      .select($"lang", explode(Text.tokens($"text")).as("tok"))
      .groupBy($"lang")
      .agg(count(lit(1)).cast("long").as(s"${prefix}_tokens"),
        countDistinct($"tok").cast("long").as(s"${prefix}_types"))
    val kept = docs.groupBy(md5($"text").as("__h"))
      .agg(min($"doc_id").as("doc_id"))
      .join(docs, Seq("doc_id"))
    stats(docs, "raw").join(stats(kept, "dedup"), Seq("lang"))
      .select($"lang", $"raw_tokens", $"dedup_tokens",
        round($"raw_types" / $"raw_tokens", 9).as("raw_ttr"),
        round($"dedup_types" / $"dedup_tokens", 9).as("dedup_ttr"),
        round($"dedup_tokens" / $"raw_tokens", 9).as("token_keep_frac"))
      .orderBy($"lang")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q169_null_profile" -> q169,
    "q170_cross_lang_dup" -> q170,
    "q171_dedup_gain" -> q171)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q169_null_profile" -> {
      val per = profileCols.map { c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM events"""
          .stripMargin }
      per.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    "q170_cross_lang_dup" ->
      s"""WITH corpus AS (SELECT doc_id, lang,
         |    CASE WHEN doc_id % 17 = 0 THEN '$xl8 ' || text
         |    ELSE text END AS text
         |  FROM documents),
         |t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |t1 AS (SELECT doc_id, w,
         |    CAST(unnest(range(CAST(ceil(len(w) / 8.0) AS INTEGER)))
         |      AS INTEGER) AS pos FROM t0),
         |tk AS (SELECT DISTINCT doc_id,
         |    md5(array_to_string(list_slice(w, pos*8 + 1, pos*8 + 8), ' '))
         |      AS h
         |  FROM t1),
         |rare AS (SELECT tk.doc_id, tk.h FROM tk
         |  JOIN (SELECT h FROM tk GROUP BY h HAVING count(*) <= 64) g
         |    USING (h)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 1),
         |x AS (SELECT la.lang AS lang_a, lb.lang AS lang_b, p.doc_a
         |  FROM p JOIN corpus la ON p.doc_a = la.doc_id
         |    JOIN corpus lb ON p.doc_b = lb.doc_id
         |  WHERE la.lang <> lb.lang)
         |SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT doc_a) AS BIGINT) AS n_docs_a
         |FROM x GROUP BY 1, 2 ORDER BY lang_a, lang_b""".stripMargin,
    "q171_dedup_gain" ->
      """WITH raw AS (SELECT lang,
        |    CAST(count(*) AS BIGINT) AS raw_tokens,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS raw_types
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1),
        |keep AS (SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(text)),
        |dd AS (SELECT lang,
        |    CAST(count(*) AS BIGINT) AS dedup_tokens,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS dedup_types
        |  FROM (SELECT d.lang, unnest(string_split(d.text, ' ')) AS tok
        |    FROM documents d JOIN keep k ON d.doc_id = k.doc_id)
        |  GROUP BY 1)
        |SELECT lang, raw_tokens, dedup_tokens,
        |  round(raw_types / raw_tokens, 9) AS raw_ttr,
        |  round(dedup_types / dedup_tokens, 9) AS dedup_ttr,
        |  round(dedup_tokens / raw_tokens, 9) AS token_keep_frac
        |FROM raw JOIN dd USING (lang) ORDER BY lang""".stripMargin)
}
