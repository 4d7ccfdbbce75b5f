package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Curate, Ranking, Sampling, Text}

/** FILE→WAVE MAP: Wave37Queries.scala holds round-12 WAVE-40 queries
  * q270–q274 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Mix-design and retrieval-diagnostics sweeps: the temperature-α sweep
  * (the per-language sampling-weight table at three temperatures — the
  * knob a multilingual mix is tuned with), the context-length sweep
  * (packing stats at 128/512/2048 — the knob sequence assembly is tuned
  * with), hybrid-retrieval overlap (how much BM25 and a second ranker
  * agree per query — the complementarity number that justifies fusion),
  * intra-document chunk duplication (self-repeated 16-token blocks —
  * boilerplate/stutter INSIDE documents that cross-doc dedup never
  * sees), and the contamination×quality cross (are contaminated test
  * docs also the high-quality ones — the question that decides whether
  * decontamination costs eval difficulty). All five are
  * DuckDB-oracle-checked. */
object Wave37Queries extends QuerySet {

  private val splitDefs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Temperature-α sweep: per language, the admission rate and expected
    * surviving docs at α ∈ {0.3, 0.5, 1.0} (q95 ships one α; this is
    * the table the α is CHOSEN from — α→0 flattens toward uniform,
    * α=1 is proportional). Per α: one taxonomy-sized aggregate, the
    * 1-row totals broadcast (audited BNLJ), zero corpus shuffles;
    * rates replay [[Sampling.temperatureRates]]' 9-dp arithmetic
    * exactly. */
  private val q270: Q = (s, d) => {
    import s.implicits._
    val counts = Tables.documents(s, d).select($"lang")
      .groupBy($"lang").agg(count(lit(1)).as("n"))
    def at(alpha: Double): DataFrame =
      Sampling.temperatureRatesFromCounts(counts, "lang", alpha,
          targetFraction = 0.5)
        .join(counts, Seq("lang"))
        .select(lit(alpha).as("alpha"), $"lang", $"n".cast("long").as("n_docs"),
          $"rate", round($"n" * $"rate", 3).as("expected_docs"))
    at(0.3).unionByName(at(0.5)).unionByName(at(1.0))
      .orderBy($"alpha", $"lang")
  }

  /** Context-length sweep: corpus-level concat-packing stats at ctx ∈
    * {128, 512, 2048} — sequences produced, boundary-straddling docs
    * (attention-contamination surface), docs longer than the window
    * (must-split mass). q229 ships one length per source; this is the
    * corpus table the length is CHOSEN from. Packing streams stay
    * per-source (q229's hierarchical-prefix-sum posture: the global
    * order never lives in one task); the sweep is three passes over a
    * (source, doc)-keyed window plus a 3-row union. */
  private val q271: Q = (s, d) => {
    import s.implicits._
    def at(ctx: Long): DataFrame = {
      val w = Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select($"source", $"doc_id", Text.tokenCount($"text").cast("long").as("toks"))
        .withColumn("before", coalesce(sum($"toks").over(w), lit(0L)))
        .withColumn("straddles",
          (floor($"before" / ctx) =!=
            floor(($"before" + $"toks" - 1) / ctx)).cast("int"))
        .groupBy($"source")
        .agg(sum($"toks").as("tt"), count(lit(1)).as("nd"),
          sum($"straddles").as("nb"),
          sum(($"toks" > ctx).cast("int")).as("nov"))
        .select($"tt", $"nd", $"nb", $"nov",
          floor(($"tt" + ctx - 1) / ctx).as("ns"))
        .agg(sum($"tt").cast("long").as("total_tokens"),
          sum($"ns").cast("long").as("n_seqs"),
          sum($"nd").cast("long").as("n_docs"),
          sum($"nb").cast("long").as("n_boundary_docs"),
          sum($"nov").cast("long").as("n_oversize_docs"))
        .select(lit(ctx).as("ctx"), $"total_tokens", $"n_seqs", $"n_docs",
          $"n_boundary_docs", $"n_oversize_docs",
          round($"n_boundary_docs" / $"n_docs".cast("double"), 9)
            .as("boundary_frac"))
    }
    at(128L).unionByName(at(512L)).unionByName(at(2048L)).orderBy($"ctx")
  }

  /** Hybrid-retrieval overlap: per query, the Jaccard between q154's
    * BM25 top-10 and the raw term-frequency top-10 (q183's second
    * ranker). LOW overlap is the case FOR rank fusion (the rankers see
    * different documents); overlap ≈ 1 means the second ranker adds
    * nothing. Both top-10 frames are per-query-bounded; the compare is
    * a full-outer join on (query, doc) + a |queries|-row rollup. */
  private val q272: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val qt = Wave8Queries.bm25Queries.toDF("query_id", "term")
    val bm = Ranking.bm25TopK(docs, "doc_id", "text", qt, topK = 10)
      .select($"query_id", $"doc_id", lit(1).as("in_bm"))
    val tf = docs
      .select($"doc_id".as("doc"), explode(Text.tokens($"text")).as("term"))
      .join(broadcast(qt), Seq("term"))
      .groupBy($"query_id", $"doc")
      .agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"tf".desc, $"doc")).cast("int"))
      .where($"rnk" <= 10)
      .select($"query_id", $"doc".as("doc_id"), lit(1).as("in_tf"))
    bm.join(tf, Seq("query_id", "doc_id"), "full_outer")
      .groupBy($"query_id")
      .agg(sum(coalesce($"in_bm", lit(0))).cast("long").as("n_bm25"),
        sum(coalesce($"in_tf", lit(0))).cast("long").as("n_tf"),
        sum(when($"in_bm".isNotNull && $"in_tf".isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_both"))
      .select($"query_id", $"n_bm25", $"n_tf", $"n_both",
        round($"n_both" /
          ($"n_bm25" + $"n_tf" - $"n_both").cast("double"), 9).as("jaccard"))
      .orderBy($"query_id")
  }

  /** Intra-document chunk duplication: per source, how much of each
    * document is its OWN repetition — documents cut into consecutive
    * 16-token blocks, block text rebuilt order-exactly, duplicate
    * blocks counted per doc. Cross-doc dedup (pair store) never sees
    * this; it is the stutter/boilerplate-loop signal inside one doc at
    * a coarser grain than q44's n-gram ratios. Shape: posexplode →
    * (doc, chunk)-keyed aggregate whose state is ≤16 tokens (the
    * order-exact rebuild), per-doc distinct count bounded by
    * chunks-per-doc, |sources|-row rollup. The chunk frame is keyed by
    * (doc, chunk) — salting-free because chunk count per doc bounds
    * the group size by construction. */
  private val q273: Q = (s, d) => {
    import s.implicits._
    val perDoc = Tables.documents(s, d)
      .select($"doc_id", $"source",
        posexplode(Text.tokens($"text")).as(Seq("pos", "tok")))
      .withColumn("chunk", floor($"pos" / 16))
      .groupBy($"doc_id", $"source", $"chunk")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"pos", $"tok"))), p => p("tok")), " ")
        .as("ctext"))
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("nc"), countDistinct($"ctext").as("ndist"))
      .select($"source",
        round(lit(1) - $"ndist" / $"nc".cast("double"), 9).as("dupf"))
    perDoc.groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(sum($"dupf".cast("decimal(28,9)")).cast("double") /
          count(lit(1)), 9).as("mean_dup_frac"),
        sum(($"dupf" > 0).cast("long")).cast("long").as("n_docs_with_dup"))
      .orderBy($"source")
  }

  /** Contamination × quality cross on the TEST split: are the test docs
    * that share an 8-gram with TRAIN also the ones the gopher gate
    * passes? If contamination concentrates in high-quality docs,
    * decontamination trades eval difficulty for eval cleanliness — the
    * 2×2 that decides how aggressive the n-gram filter can be. One
    * shingle-keyed semi probe (q265's n=8 machinery) + the map-side
    * gate + a 4-row rollup. */
  private val q274: Q = (s, d) => {
    import s.implicits._
    val lab = Sampling.splitAssign(
        Tables.documents(s, d).select($"doc_id"), "doc_id", splitDefs)
      .select($"doc_id", $"split")
    // round-15 guarded fan-out BEFORE the join: lab is broadcast, so an
    // un-fanned documents side keeps the shingle explode and the gopher
    // gate inside the single-row-group scan stage
    val docs = graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .join(lab, "doc_id")
    val sh = docs.where($"split".isin("train", "test"))
      .select($"doc_id", $"split",
        explode(array_distinct(Text.shingles($"text", 8))).as("sh"))
    val contaminated = sh.where($"split" === "test")
      .join(sh.where($"split" === "train").select($"sh").distinct(),
        Seq("sh"), "left_semi")
      .select($"doc_id").distinct()
      .withColumn("cont", lit(true))
    Curate.gopherGate(docs.where($"split" === "test"), "doc_id", "text")
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy(coalesce($"cont", lit(false)).as("contaminated"), $"passes")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(sum($"n_words".cast("decimal(28,4)")).cast("double") /
          count(lit(1)), 9).as("mean_words"))
      .orderBy($"contaminated", $"passes")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q270_temperature_sweep" -> q270,
    "q271_context_length_sweep" -> q271,
    "q272_retrieval_overlap" -> q272,
    "q273_intra_doc_dup" -> q273,
    "q274_contam_quality_cross" -> q274)

  // ---- oracle SQL -------------------------------------------------------

  /** The q96 gopher measurement CTEs over an arbitrary doc relation. */
  private def gopherCte(rel: String): String =
    s"""gm AS (SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_words,
       |    round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
       |      len(string_split(text, ' ')), 6) AS mean_wlen,
       |    round(CAST(len(list_filter(string_split(text, ' '),
       |        x -> x IN ('the', 'a', 'of', 'to', 'and', 'in'))) AS DOUBLE) /
       |      len(string_split(text, ' ')), 6) AS stop_frac,
       |    round(CAST(list_max(list_transform(list_distinct(string_split(text, ' ')),
       |        d -> len(list_filter(string_split(text, ' '), x -> x = d)))) AS DOUBLE) /
       |      len(string_split(text, ' ')), 6) AS top_word_frac
       |  FROM $rel),
       |gv AS (SELECT doc_id, n_words,
       |    (n_words BETWEEN 20 AND 100000) AND (mean_wlen BETWEEN 4.0 AND 10.0)
       |      AND (stop_frac >= 0.02) AND (top_word_frac <= 0.2) AS passes
       |  FROM gm)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q270_temperature_sweep" -> {
      val alphas = Seq(0.3, 0.5, 1.0)
      val totCtes = alphas.zipWithIndex.map { case (a, i) =>
        s"""t$i AS (SELECT CAST(sum(n) AS DOUBLE) AS nn, sum(pow(n, $a)) AS sw
           |  FROM c)""".stripMargin
      }.mkString(",\n")
      val perA = alphas.zipWithIndex.map { case (a, i) =>
        s"""SELECT CAST($a AS DOUBLE) AS alpha, lang,
           |  CAST(n AS BIGINT) AS n_docs,
           |  round(least(1.0, 0.5 * nn * pow(n, $a) / sw / n), 9) AS rate
           |FROM c CROSS JOIN t$i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |$totCtes
         |SELECT alpha, lang, n_docs, rate,
         |  round(n_docs * rate, 3) AS expected_docs
         |FROM ($perA) u ORDER BY alpha, lang""".stripMargin
    },
    "q271_context_length_sweep" -> {
      val perC = Seq(128, 512, 2048).map { c =>
        s"""SELECT CAST($c AS BIGINT) AS ctx,
           |  CAST(sum(tt) AS BIGINT) AS total_tokens,
           |  CAST(sum(CAST(ceil(tt / $c.0) AS BIGINT)) AS BIGINT) AS n_seqs,
           |  CAST(sum(nd) AS BIGINT) AS n_docs,
           |  CAST(sum(nb$c) AS BIGINT) AS n_boundary_docs,
           |  CAST(sum(nov$c) AS BIGINT) AS n_oversize_docs,
           |  round(sum(nb$c) / CAST(sum(nd) AS DOUBLE), 9) AS boundary_frac
           |FROM g""".stripMargin
      }.mkString("\nUNION ALL\n")
      val aggs = Seq(128, 512, 2048).map { c =>
        s"""sum(CASE WHEN floor(bef / $c.0) <> floor((bef + toks - 1) / $c.0)
           |      THEN 1 ELSE 0 END) AS nb$c,
           |    sum(CASE WHEN toks > $c THEN 1 ELSE 0 END) AS nov$c""".stripMargin
      }.mkString(",\n    ")
      s"""WITH t AS (SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
         |w AS (SELECT source, doc_id, toks,
         |    coalesce(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |  FROM t),
         |g AS (SELECT source, sum(toks) AS tt, count(*) AS nd,
         |    $aggs
         |  FROM w GROUP BY source)
         |SELECT * FROM ($perC) ORDER BY ctx""".stripMargin
    },
    "q272_retrieval_overlap" ->
      s"""WITH ${Wave8Queries.bm25RunSql},
         |tfp AS (SELECT q.query_id, p.doc, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id AS doc,
         |      unnest(string_split(text, ' ')) AS term FROM documents) p
         |  JOIN q USING (term) GROUP BY 1, 2),
         |tr AS (SELECT query_id, doc AS doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY tf DESC, doc) AS INTEGER) AS rnk
         |  FROM tfp),
         |b10 AS (SELECT query_id, doc_id FROM r WHERE rnk <= 10),
         |t10 AS (SELECT query_id, doc_id FROM tr WHERE rnk <= 10),
         |f AS (SELECT coalesce(b.query_id, t.query_id) AS query_id,
         |    CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_bm,
         |    CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_tf
         |  FROM b10 b FULL OUTER JOIN t10 t
         |    ON b.query_id = t.query_id AND b.doc_id = t.doc_id)
         |SELECT query_id,
         |  CAST(sum(in_bm) AS BIGINT) AS n_bm25,
         |  CAST(sum(in_tf) AS BIGINT) AS n_tf,
         |  CAST(sum(in_bm * in_tf) AS BIGINT) AS n_both,
         |  round(sum(in_bm * in_tf) /
         |    CAST(sum(in_bm) + sum(in_tf) - sum(in_bm * in_tf) AS DOUBLE), 9)
         |    AS jaccard
         |FROM f GROUP BY query_id ORDER BY query_id""".stripMargin,
    "q273_intra_doc_dup" ->
      """WITH toks AS (SELECT doc_id, source,
        |    CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT)
        |      AS pos,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |ch AS (SELECT doc_id, source, CAST(floor(pos / 16) AS BIGINT) AS chunk,
        |    string_agg(tok, ' ' ORDER BY pos) AS ctext
        |  FROM toks GROUP BY 1, 2, 3),
        |pd AS (SELECT doc_id, source,
        |    round(1 - count(DISTINCT ctext) / CAST(count(*) AS DOUBLE), 9)
        |      AS dupf
        |  FROM ch GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(dupf AS DECIMAL(28,9))) AS DOUBLE) / count(*), 9)
        |    AS mean_dup_frac,
        |  CAST(sum(CASE WHEN dupf > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_with_dup
        |FROM pd GROUP BY source ORDER BY source""".stripMargin,
    "q274_contam_quality_cross" -> {
      val t1 = Sampling.hexThreshold(0.8)
      val t2 = Sampling.hexThreshold(0.9)
      s"""WITH sp AS (SELECT doc_id, text, string_split(text, ' ') AS w,
         |    CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '$t1' THEN 'train'
         |         WHEN md5(CAST(doc_id AS VARCHAR)) < '$t2' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |te AS (SELECT doc_id, text FROM sp WHERE split = 'test'),
         |cont AS (SELECT DISTINCT a.doc_id
         |  FROM (SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(w) - 7),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
         |        || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
         |        || ' ' || w[i+7])) AS sh
         |    FROM sp WHERE split = 'test') a
         |  WHERE a.sh IN (SELECT unnest(list_transform(
         |      generate_series(1, len(w) - 7),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
         |        || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
         |        || ' ' || w[i+7]))
         |    FROM sp WHERE split = 'train')),
         |${gopherCte("te")}
         |SELECT (cont.doc_id IS NOT NULL) AS contaminated, passes,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  round(CAST(sum(CAST(n_words AS DECIMAL(28,4))) AS DOUBLE)
         |    / count(*), 9) AS mean_words
         |FROM gv LEFT JOIN cont ON gv.doc_id = cont.doc_id
         |GROUP BY 1, 2 ORDER BY contaminated, passes""".stripMargin
    })
}
