package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Text

/** FILE→WAVE MAP: Wave57Queries.scala holds round-14 WAVE-60 queries
  * q356–q360 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Corpus-balance and dependence datasheets — the audit numbers a
  * training-data release publishes next to its mixing weights: the
  * token-mass Gini per source (is one source's mass concentrated in a
  * few giant documents?), token-pair PMI (which vocabulary items
  * travel together — template/boilerplate detection at the lexical
  * level), Kendall τ-b between document quality and length (does the
  * quality filter secretly select on length?), context-window packing
  * efficiency across ctx sizes (what fraction of every training batch
  * is padding at 256/512/1024), and the lang × source mutual-
  * information table (WHERE the composition dependence lives, in
  * interpretable bits — the effect-size companion to q296's χ²).
  *
  * Exactness discipline (q289/q204's integer grid): every statistic is
  * built from integer counts and integer scaled sums held in
  * DECIMAL(38,0); reported fractions are exact integer HALF_UP
  * divisions (`(2·s·10^k + d) div (2·d)`) unscaled from grids that are
  * exactly representable in double — no wide-decimal→double cast
  * anywhere, so Spark and DuckDB agree to the bit at any scale. */
object Wave57Queries extends QuerySet {

  /** Exact integer HALF_UP division num/den at 10^k fractional digits,
    * computed entirely on decimals, unscaled by an exact double cast of
    * the (small) scaled integer. Operands are SQL fragments resolved
    * against the calling frame (Spark 4's Column no longer exposes its
    * expression). Positive operands only. */
  private def gridDiv(num: String, den: String, k: Int)
      : org.apache.spark.sql.Column = {
    val pow = math.pow(10, k).toLong
    (expr(s"(($num) * ${2 * pow} + ($den)) div (($den) * 2)")
      .cast("double") / lit(pow.toDouble))
  }

  /** Token-mass Gini coefficient per source, from the GROUPED token-
    * count histogram — never a per-document rank window: token counts
    * are small integers, so (source, n_tok) collapses the corpus to a
    * ≤(sources × max_tokens) frame, and the Gini rank sums come from
    * cumulative counts over that bounded frame (ranks of a tie block
    * contribute v·(c·F_prev + c(c+1)/2) — invariant to intra-tie
    * order, so the statistic is exact and partitioning-free). A
    * per-source sorted window over raw documents would put a whole
    * source in one task at 100 TB; this histogram form is one
    * map-side count + a ≤10²-row window. Gini = (2·Σᵢ i·xᵢ) / (n·Σx)
    * − (n+1)/n, reported on the exact 1e6 grid. */
  private val q356: Q = (s, d) => {
    import s.implicits._
    val hist = Tables.documents(s, d)
      .select($"source", Text.tokenCount($"text").cast("long").as("v"))
      .groupBy($"source", $"v")
      .agg(count(lit(1)).cast("long").as("c"))
    val w = Window.partitionBy($"source").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("f_prev", coalesce(sum($"c").over(w), lit(0L)))
      // Σ i·x over the tie block, exact in decimal: v·(c·F_prev + c(c+1)/2)
      .withColumn("rsum",
        ($"v".cast("decimal(38,0)") *
          ($"c".cast("decimal(38,0)") * $"f_prev" +
            $"c".cast("decimal(38,0)") * ($"c" + 1L) / 2)))
    ranked.groupBy($"source")
      .agg(sum($"c").cast("decimal(38,0)").as("n"),
        sum($"v".cast("decimal(38,0)") * $"c").as("sx"),
        sum($"rsum").as("si"))
      // gini = (2·si − (n+1)·sx) / (n·sx), exact HALF_UP at 1e6
      .select($"source", $"n".cast("long").as("n_docs"),
        $"sx".cast("long").as("total_tokens"),
        gridDiv("si * 2 - (n + 1) * sx", "n * sx", 6).as("gini"))
      .orderBy($"source")
  }

  /** The audited token pairs for q357 — structural vocabulary items of
    * the synthetic corpus (boilerplate travels in pairs; independent
    * content words don't). */
  private val pmiPairs = Seq(
    ("spark", "shuffle"), ("table", "row"), ("fast", "slow"),
    ("key", "value"), ("scan", "batch"))

  /** Token-pair PMI / lift over document presence: for each audited
    * pair, the doc frequencies df_a, df_b, df_ab and the pointwise
    * mutual information log₂(N·df_ab / (df_a·df_b)) — the lexical
    * boilerplate detector (a pair whose PMI ≫ 0 co-occurs far above
    * chance, the signature of templated text). ONE corpus scan: the
    * presence booleans for all pairs are map-side `array_contains`
    * over the tokenized attribute, collapsed by a single aggregate.
    * Counts exact; lift on the exact 1e6 grid; PMI is one double log
    * of the exact lift. */
  private val q357: Q = (s, d) => {
    import s.implicits._
    val toked = Tables.documents(s, d)
      .select(Text.tokens($"text").as("toks"))
    val aggs = pmiPairs.zipWithIndex.flatMap { case ((a, b), i) =>
      val ha = array_contains($"toks", a)
      val hb = array_contains($"toks", b)
      Seq(sum(when(ha, 1L).otherwise(0L)).as(s"a$i"),
        sum(when(hb, 1L).otherwise(0L)).as(s"b$i"),
        sum(when(ha && hb, 1L).otherwise(0L)).as(s"ab$i"))
    }
    val n = count(lit(1)).as("n")
    val one = toked.agg(n, aggs: _*)
    val rows = pmiPairs.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(a).as("tok_a"), lit(b).as("tok_b"),
        col(s"a$i").as("df_a"), col(s"b$i").as("df_b"),
        col(s"ab$i").as("df_ab"),
        when(col(s"ab$i") > 0,
          gridDiv(s"CAST(n AS DECIMAL(38,0)) * ab$i",
            s"CAST(a$i AS DECIMAL(38,0)) * b$i", 6))
          .as("lift"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select($"r.tok_a", $"r.tok_b", $"r.df_a", $"r.df_b", $"r.df_ab",
        $"r.lift",
        when($"r.lift".isNotNull, round(log2($"r.lift"), 6)).as("pmi"))
      .orderBy($"tok_a", $"tok_b")
  }

  /** Kendall τ-b between document QUALITY and LENGTH, from the bounded
    * contingency table: quality buckets are the 0.1-wide score bands of
    * the library's quality heuristic, length buckets are 16-token bands
    * — both FIXED grids (never a global-sort ntile), so the corpus
    * collapses to a ≤(11 × ~8)-cell table and the concordant/discordant
    * pair counts come from the table's self-join (≤10⁴ cell pairs in
    * both engines). A strong positive τ means the quality score is
    * secretly a length score — the selection-bias audit a filter
    * publishes. All pair counts exact in DECIMAL(38,0) (they are
    * O(N²) ≈ 1e10 at sf1 — far past long×long safety at 100 TB scale
    * discipline, well inside decimal 38); τ-b's one sqrt runs on exact
    * integer operands. */
  private val q358: Q = (s, d) => {
    import s.implicits._
    val wc = Text.tokenCount($"text")
    val awl = Text.sumTokenLen($"text") / wc
    val stopRatio = Text.stopwordCount($"text") / wc
    val cells = graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select(floor(Text.qualityScore(wc, stopRatio, awl) * 10)
          .cast("long").as("qb"),
        (wc.cast("long") / 16L).cast("long").as("lb"))
      .groupBy($"qb", $"lb").agg(count(lit(1)).cast("long").as("c"))
    val a = cells.select($"qb".as("qa"), $"lb".as("la"),
      $"c".cast("decimal(38,0)").as("ca"))
    val b = cells.select($"qb".as("qbb"), $"lb".as("lbb"),
      $"c".cast("decimal(38,0)").as("cb"))
    val joined = a.crossJoin(broadcast(b)) // bounded: ≤10⁴ cell pairs
    val conc = sum(when(($"qa" < $"qbb" && $"la" < $"lbb") ||
      ($"qa" > $"qbb" && $"la" > $"lbb"), $"ca" * $"cb").otherwise(lit(0))
      .cast("decimal(38,0)"))
    val disc = sum(when(($"qa" < $"qbb" && $"la" > $"lbb") ||
      ($"qa" > $"qbb" && $"la" < $"lbb"), $"ca" * $"cb").otherwise(lit(0))
      .cast("decimal(38,0)"))
    val agg = joined.agg(conc.as("c2"), disc.as("d2"))
    // c2/d2 double-count ordered pairs; ties via marginals: n0 = n(n−1)/2,
    // n1 = Σ_q t_q(t_q−1)/2 (quality ties), n2 = Σ_l t_l(t_l−1)/2
    val qm = cells.groupBy($"qb").agg(sum($"c").cast("decimal(38,0)").as("t"))
      .agg(sum($"t" * ($"t" - 1) / 2).as("n1"),
        sum($"t").as("nq"))
    val lm = cells.groupBy($"lb").agg(sum($"c").cast("decimal(38,0)").as("t"))
      .agg(sum($"t" * ($"t" - 1) / 2).as("n2"))
    agg.crossJoin(broadcast(qm)).crossJoin(broadcast(lm))
      .select(($"c2" / 2).cast("decimal(38,0)").as("concordant"),
        ($"d2" / 2).cast("decimal(38,0)").as("discordant"),
        ($"nq" * ($"nq" - 1) / 2).cast("decimal(38,0)").as("n0"),
        $"n1", $"n2")
      .select($"concordant".cast("long").as("concordant"),
        $"discordant".cast("long").as("discordant"),
        round((($"concordant" - $"discordant").cast("double")) /
          sqrt(($"n0" - $"n1").cast("double") *
            ($"n0" - $"n2").cast("double")), 6).as("tau_b"))
  }

  /** Context-window packing efficiency sweep (ctx ∈ {256, 512, 1024},
    * concat-then-chunk — q229's packing model): per source and ctx,
    * total tokens, packed sequence count ⌈total/ctx⌉, padding waste,
    * and the efficiency fraction on the exact 1e6 grid. The number
    * that chooses a context length for a dataset: small docs at large
    * ctx waste the difference. One corpus aggregate, a 3-element
    * literal explode — no per-doc state. */
  private val q359: Q = (s, d) => {
    import s.implicits._
    val perSource = Tables.documents(s, d)
      .select($"source", Text.tokenCount($"text").cast("long").as("t"))
      .groupBy($"source").agg(sum($"t").cast("long").as("total_tokens"))
    perSource
      .select($"source", $"total_tokens",
        explode(array(lit(256L), lit(512L), lit(1024L))).as("ctx"))
      .select($"source", $"ctx", $"total_tokens",
        expr("(total_tokens + ctx - 1) div ctx").as("n_sequences"))
      .withColumn("pad_tokens", $"n_sequences" * $"ctx" - $"total_tokens")
      .withColumn("efficiency",
        gridDiv("CAST(total_tokens AS DECIMAL(38,0))",
          "CAST(n_sequences * ctx AS DECIMAL(38,0))", 6))
      .orderBy($"source", $"ctx")
  }

  /** lang × source mutual information table: per cell, the document
    * count, the exact-grid lift N·n_ls/(n_l·n_s), and the MI
    * contribution p(l,s)·log₂(lift) — the information-theoretic
    * composition audit next to q296's χ² (χ² says the columns are
    * dependent; the per-cell MI terms say WHERE the dependence lives
    * and in interpretable bits). Shape: one (lang, source) count — a
    * ≤(langs × sources) frame — with the marginals attached by two
    * bounded broadcast joins and the corpus total by a 1-row broadcast.
    * Counts and lift are integer-exact; the only floats are the final
    * division, one log₂ of the exact-grid lift, and their product. */
  private val q360: Q = (s, d) => {
    import s.implicits._
    val cells = Tables.documents(s, d)
      .groupBy($"lang", $"source").agg(count(lit(1)).cast("long").as("n_ls"))
    val lm = cells.groupBy($"lang").agg(sum($"n_ls").cast("long").as("n_l"))
    val sm = cells.groupBy($"source").agg(sum($"n_ls").cast("long").as("n_s"))
    val tot = cells.agg(sum($"n_ls").cast("long").as("n"))
    cells
      .join(broadcast(lm), Seq("lang"))
      .join(broadcast(sm), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("lift",
        gridDiv("CAST(n AS DECIMAL(38,0)) * n_ls",
          "CAST(n_l AS DECIMAL(38,0)) * n_s", 6))
      .select($"lang", $"source", $"n_ls".as("n_docs"), $"lift",
        round(($"n_ls".cast("double") / $"n") * log2($"lift"), 9)
          .as("mi_term"))
      .orderBy($"lang", $"source")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q356_token_gini" -> q356,
    "q357_token_pmi" -> q357,
    "q358_quality_length_tau" -> q358,
    "q359_packing_efficiency" -> q359,
    "q360_lang_source_mi" -> q360)

  // ---- oracle SQL -------------------------------------------------------

  private val tokLen = "len(string_split(text, ' '))"
  private val stopList = Text.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  val oracle: Seq[(String, String)] = Seq(
    "q356_token_gini" ->
      s"""WITH h AS (SELECT source,
         |    CAST($tokLen AS BIGINT) AS v,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM documents GROUP BY 1, 2),
         |r AS (SELECT *, coalesce(sum(c) OVER (PARTITION BY source
         |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS f_prev FROM h),
         |g AS (SELECT source,
         |    sum(CAST(c AS HUGEINT)) AS n,
         |    sum(CAST(v AS HUGEINT) * c) AS sx,
         |    sum(CAST(v AS HUGEINT) * (CAST(c AS HUGEINT) * f_prev
         |      + CAST(c AS HUGEINT) * (c + 1) // 2)) AS si
         |  FROM r GROUP BY source)
         |SELECT source, CAST(n AS BIGINT) AS n_docs,
         |  CAST(sx AS BIGINT) AS total_tokens,
         |  CAST(((si * 2 - (n + 1) * sx) * 2000000 + n * sx)
         |    // (n * sx * 2) AS DOUBLE) / 1e6 AS gini
         |FROM g ORDER BY source""".stripMargin,
    "q357_token_pmi" -> {
      val pairSelects = pmiPairs.map { case (a, b) =>
        s"""SELECT '$a' AS tok_a, '$b' AS tok_b,
           |  sum(CASE WHEN list_contains(w, '$a') THEN 1 ELSE 0 END) AS df_a,
           |  sum(CASE WHEN list_contains(w, '$b') THEN 1 ELSE 0 END) AS df_b,
           |  sum(CASE WHEN list_contains(w, '$a') AND list_contains(w, '$b')
           |    THEN 1 ELSE 0 END) AS df_ab,
           |  CAST(count(*) AS HUGEINT) AS n
           |FROM t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
         |p AS ($pairSelects)
         |SELECT tok_a, tok_b,
         |  CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b,
         |  CAST(df_ab AS BIGINT) AS df_ab,
         |  CASE WHEN df_ab > 0 THEN
         |    CAST((n * CAST(df_ab AS HUGEINT) * 2000000
         |      + CAST(df_a AS HUGEINT) * df_b)
         |      // (CAST(df_a AS HUGEINT) * df_b * 2) AS DOUBLE) / 1e6
         |  END AS lift,
         |  CASE WHEN df_ab > 0 THEN
         |    round(log2(CAST((n * CAST(df_ab AS HUGEINT) * 2000000
         |      + CAST(df_a AS HUGEINT) * df_b)
         |      // (CAST(df_a AS HUGEINT) * df_b * 2) AS DOUBLE) / 1e6), 6)
         |  END AS pmi
         |FROM p ORDER BY tok_a, tok_b""".stripMargin
    },
    "q358_quality_length_tau" ->
      s"""WITH m AS (SELECT
         |    CAST($tokLen AS INTEGER) AS word_count,
         |    list_sum(list_transform(string_split(text, ' '),
         |      x -> length(x))) AS sum_len,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      x -> list_contains($stopList, x))) AS INTEGER) AS n_stop
         |  FROM documents),
         |q AS (SELECT CAST(floor((least(1.0, word_count / 100.0) * 0.4
         |      + (1.0 - n_stop / word_count) * 0.3
         |      + least(1.0, (sum_len / word_count) / 8.0) * 0.3) * 10)
         |      AS BIGINT) AS qb,
         |    CAST(word_count AS BIGINT) // 16 AS lb FROM m),
         |cells AS (SELECT qb, lb, CAST(count(*) AS BIGINT) AS c
         |  FROM q GROUP BY 1, 2),
         |pairs AS (SELECT
         |    sum(CASE WHEN (a.qb < b.qb AND a.lb < b.lb)
         |      OR (a.qb > b.qb AND a.lb > b.lb)
         |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS c2,
         |    sum(CASE WHEN (a.qb < b.qb AND a.lb > b.lb)
         |      OR (a.qb > b.qb AND a.lb < b.lb)
         |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS d2
         |  FROM cells a CROSS JOIN cells b),
         |qm AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1) // 2) AS n1,
         |    sum(CAST(t AS HUGEINT)) AS nq
         |  FROM (SELECT sum(CAST(c AS HUGEINT)) AS t FROM cells GROUP BY qb)),
         |lm AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1) // 2) AS n2
         |  FROM (SELECT sum(CAST(c AS HUGEINT)) AS t FROM cells GROUP BY lb))
         |SELECT CAST(c2 / 2 AS BIGINT) AS concordant,
         |  CAST(d2 / 2 AS BIGINT) AS discordant,
         |  round(CAST(c2 / 2 - d2 / 2 AS DOUBLE) /
         |    sqrt(CAST(nq * (nq - 1) / 2 - n1 AS DOUBLE) *
         |      CAST(nq * (nq - 1) / 2 - n2 AS DOUBLE)), 6) AS tau_b
         |FROM pairs CROSS JOIN qm CROSS JOIN lm""".stripMargin,
    "q359_packing_efficiency" ->
      s"""WITH t AS (SELECT source,
         |    CAST(sum($tokLen) AS BIGINT) AS total_tokens
         |  FROM documents GROUP BY source),
         |x AS (SELECT source, ctx, total_tokens,
         |    (total_tokens + ctx - 1) // ctx AS n_sequences
         |  FROM t CROSS JOIN (SELECT unnest([256, 512, 1024]) AS ctx))
         |SELECT source, CAST(ctx AS BIGINT) AS ctx, total_tokens,
         |  CAST(n_sequences AS BIGINT) AS n_sequences,
         |  CAST(n_sequences * ctx - total_tokens AS BIGINT) AS pad_tokens,
         |  CAST((CAST(total_tokens AS HUGEINT) * 2000000
         |    + CAST(n_sequences AS HUGEINT) * ctx)
         |    // (CAST(n_sequences AS HUGEINT) * ctx * 2) AS DOUBLE) / 1e6
         |    AS efficiency
         |FROM x ORDER BY source, ctx""".stripMargin,
    "q360_lang_source_mi" ->
      """WITH cells AS (SELECT lang, source,
        |    CAST(count(*) AS BIGINT) AS n_ls
        |  FROM documents GROUP BY 1, 2),
        |lm AS (SELECT lang, CAST(sum(n_ls) AS BIGINT) AS n_l
        |  FROM cells GROUP BY lang),
        |sm AS (SELECT source, CAST(sum(n_ls) AS BIGINT) AS n_s
        |  FROM cells GROUP BY source),
        |tot AS (SELECT CAST(sum(n_ls) AS BIGINT) AS n FROM cells),
        |x AS (SELECT c.lang, c.source, c.n_ls, lm.n_l, sm.n_s, tot.n,
        |    CAST((CAST(tot.n AS HUGEINT) * c.n_ls * 2000000
        |      + CAST(lm.n_l AS HUGEINT) * sm.n_s)
        |      // (CAST(lm.n_l AS HUGEINT) * sm.n_s * 2) AS DOUBLE) / 1e6
        |      AS lift
        |  FROM cells c JOIN lm USING (lang) JOIN sm USING (source)
        |  CROSS JOIN tot)
        |SELECT lang, source, n_ls AS n_docs, lift,
        |  round((CAST(n_ls AS DOUBLE) / n) * log2(lift), 9) AS mi_term
        |FROM x ORDER BY lang, source""".stripMargin)
}
