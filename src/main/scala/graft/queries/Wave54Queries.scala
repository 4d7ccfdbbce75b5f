package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave54Queries.scala holds round-13 WAVE-57 queries
  * q343–q347 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Language-modeling and monitoring statistics: Good–Turing
  * frequency-of-frequencies smoothing (the unseen-token mass every
  * closed-vocab perplexity number silently depends on; q305/q342
  * estimate how many types are missing, this estimates how much
  * PROBABILITY is missing), Burrows' Delta stylometric distance
  * between sources over the top-20 function words (the authorship
  * signal — near-zero Delta flags a source as the same generator
  * wearing a different name, orthogonal to q321/q339's vocabulary
  * overlap), a log-log price-elasticity regression over lineitems
  * (the econometric companion to q292's time-trend OLS), monthly
  * p10/p50/p90 drift bands of order value with breach flags (exact
  * nearest-rank over per-month cent histograms — the q211 discipline,
  * partitioned windows only), and per-document hapax share (documents
  * dominated by corpus-hapax tokens are the gibberish/PII-leak
  * suspects that per-document entropy (q61) cannot see, because
  * rarity is a CROSS-document property).
  *
  * Exactness: the round-13 discipline throughout — integer
  * frequency-of-frequencies, per-element floor-to-long quantization
  * before every cross-row float reduction (relative frequencies at
  * 1e-12, ln() at 1e-9, z-gaps at 1e-9, ratios at 1e-6), DECIMAL(38,0)
  * for integer-valued big squares, floor-on-scaled output grids. All
  * five DuckDB-oracle-checked. */
object Wave54Queries extends QuerySet {

  /** Good–Turing mass estimates from the frequency-of-frequencies
    * table of word TRIGRAMS (the fixtures' unigram vocabulary is a
    * closed 31-token set with no low-count tail; trigrams carry a real
    * Zipf tail — 9.4k singletons at sf0.01 — and are the unit
    * contamination checks actually probe): row c=0 carries the
    * unseen-probability mass N₁/N; rows c=1..5 carry the smoothed
    * count c* = (c+1)·N_{c+1}/N_c. Pure integer table, two exact
    * divisions per row. */
  private val q343: Q = (s, d) => {
    import s.implicits._
    val counts = graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select(explode(graft.ops.Text.shingles($"text", 3)).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).cast("long").as("c"))
    val fof = counts.groupBy($"c")
      .agg(count(lit(1)).cast("long").as("nc"))
    val tot = counts.agg(sum($"c").as("n"))
    val next = fof.select(($"c" - 1L).as("c"), $"nc".as("nc_next"))
    fof.where($"c" <= 5L)
      .join(next, Seq("c"), "left")
      .crossJoin(broadcast(tot))
      .unionByName(
        fof.where($"c" === 1L)
          .select(lit(0L).as("c"), $"nc", $"nc".as("nc_next"))
          .crossJoin(broadcast(tot)))
      .select($"c", $"nc".as("n_tokens_at_c"),
        when($"c" === 0L,
            floor($"nc" / $"n".cast("double") * 1e9) / 1e9)
          .otherwise(floor(($"c" + 1L) * coalesce($"nc_next", lit(0L)) /
            $"nc".cast("double") * 1e6) / 1e6).as("gt_estimate"))
      .orderBy($"c")
  }

  /** Burrows' Delta between every source pair over the top-20 tokens:
    * per-source relative frequencies quantize to the 1e-12 grid,
    * per-token mean/σ across the 20 sources assemble from those longs
    * (squares through DECIMAL(38,0)), z-score gaps quantize to 1e-9
    * longs before the per-pair mean. Missing (source, token) cells are
    * explicit zeros via the sources × top-tokens cross frame (20×20,
    * broadcast). */
  private val q344: Q = (s, d) => {
    import s.implicits._
    val st = Tables.documents(s, d)
      .select($"source", explode(graft.ops.Text.tokens($"text")).as("tok"))
      .groupBy($"source", $"tok")
      .agg(count(lit(1)).cast("long").as("cnt"))
      // staged: unstaged, the token-count shuffle runs again (+23%
      // shuffle bytes at sf0.01, +20% at sf0.1)
      .transform(graft.ops.Staged(_))
    val top = st.groupBy($"tok").agg(sum($"cnt").as("g"))
      .orderBy($"g".desc, $"tok").limit(20).select($"tok")
    val perSrc = st.groupBy($"source").agg(sum($"cnt").as("nt"))
    val cells = perSrc.crossJoin(broadcast(top))
      .join(st, Seq("source", "tok"), "left")
      .select($"source", $"tok",
        floor(coalesce($"cnt", lit(0L)) / $"nt".cast("double") * 1e12)
          .cast("long").as("fq"))
      // staged: unstaged, q344 runs 20 → 40 jobs and writes 2× the
      // shuffle bytes at both scales
      .transform(graft.ops.Staged(_))
    val stats = cells.groupBy($"tok")
      .agg(count(lit(1)).cast("long").as("k"), sum($"fq").as("sf"),
        sum(($"fq".cast("double") * $"fq").cast("decimal(38,0)"))
          .cast("double").as("sf2"))
      .select($"tok", ($"sf".cast("double") / $"k").as("mu"),
        sqrt($"sf2" / $"k" - ($"sf".cast("double") / $"k") *
          ($"sf".cast("double") / $"k")).as("sigma"))
    val z = cells.join(broadcast(stats), Seq("tok"))
      .select($"source", $"tok",
        (($"fq" - $"mu") / $"sigma").as("z"))
    z.as("a").join(z.as("b"),
        $"a.tok" === $"b.tok" && $"a.source" < $"b.source")
      .select($"a.source".as("source_a"), $"b.source".as("source_b"),
        floor(abs($"a.z" - $"b.z") * 1e9).cast("long").as("gq"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).cast("long").as("n_terms"), sum($"gq").as("sg"))
      .select($"source_a", $"source_b",
        (floor($"sg" / ($"n_terms" * lit(1e9)) * 1e6) / 1e6)
          .as("burrows_delta"))
      .orderBy($"source_a", $"source_b")
  }

  /** Log-log price elasticity of demand over lineitems:
    * ln(quantity) on ln(discounted unit price), OLS slope + R². Each
    * log quantizes to the 1e-9 grid as a long (the proven q71/q124
    * ln() agreement); Σx², Σxy, Σy² ride the DECIMAL(38,0) path. */
  private val q345: Q = (s, d) => {
    import s.implicits._
    // round-15 guarded fan-out: the whole cost of this query is the
    // partial aggregation (2 logs + 6 decimal accumulations per row),
    // which a single-row-group layout pins to one core (A/B probe at
    // sf0.1: 2.24 → 0.64 s). Keyed by the unique order key — uniform
    // placement; every aggregate here is order-independent (longs and
    // decimals), so the result is partitioning-invariant.
    val pts = graft.ops.FanOut.perRowCompute(
        Tables.lineitem(s, d).select($"l_orderkey", $"l_extendedprice",
          $"l_quantity", $"l_discount"), "l_orderkey")
      .select(
        floor(log(($"l_extendedprice" / $"l_quantity") *
          (lit(1) - $"l_discount")) * 1e9).cast("long").as("x"),
        floor(log($"l_quantity") * 1e9).cast("long").as("y"))
    pts.agg(count(lit(1)).cast("long").as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum(($"x".cast("double") * $"x").cast("decimal(38,0)"))
          .cast("double").as("sxx"),
        sum(($"x".cast("double") * $"y").cast("decimal(38,0)"))
          .cast("double").as("sxy"),
        sum(($"y".cast("double") * $"y").cast("decimal(38,0)"))
          .cast("double").as("syy"))
      .select($"n",
        (floor(($"n" * $"sxy" - $"sx".cast("double") * $"sy") /
          ($"n" * $"sxx" - $"sx".cast("double") * $"sx") * 1e6) / 1e6)
          .as("elasticity"),
        (floor((($"n" * $"sxy" - $"sx".cast("double") * $"sy") *
          ($"n" * $"sxy" - $"sx".cast("double") * $"sy")) /
          (($"n" * $"sxx" - $"sx".cast("double") * $"sx") *
           ($"n" * $"syy" - $"sy".cast("double") * $"sy")) * 1e6) / 1e6)
          .as("r_squared"))
  }

  /** Monthly p10/p50/p90 drift bands of order value: exact
    * nearest-rank quantiles off per-month cent histograms (PARTITIONED
    * cum windows — no global sort anywhere), with breach flags against
    * the all-time p10/p90 from the same machinery. The monitoring
    * table that says WHEN the price mix moved, not just that it did
    * (q127/q334 locate level shifts of the mean; quantile bands see
    * mix shifts the mean hides). */
  private val q346: Q = (s, d) => {
    import s.implicits._
    def bands(df: DataFrame, keys: Seq[String]): DataFrame = {
      val part = Window.partitionBy(keys.map(col): _*)
      val h = df.groupBy((keys.map(col) :+ col("pc")): _*)
        .agg(count(lit(1)).cast("long").as("cv"))
      val cum = h.select((keys.map(col) :+ col("pc") :+
        sum($"cv").over(part.orderBy($"pc")
          .rowsBetween(Window.unboundedPreceding, 0)).as("cum") :+
        sum($"cv").over(part).as("nn")): _*)
      cum.groupBy(keys.map(col): _*)
        .agg(
          (min(when($"cum" * 10L >= $"nn", $"pc")) / 100.0).as("p10"),
          (min(when($"cum" * 2L >= $"nn", $"pc")) / 100.0).as("p50"),
          (min(when($"cum" * 10L >= $"nn" * 9L, $"pc")) / 100.0)
            .as("p90"))
    }
    // round-15 guarded fan-out BEFORE the stage/persist: the staged
    // frame inherits its partitioning, so an un-fanned single-row-group
    // scan pins BOTH bands() passes to one core. Unstaged, the fan-out
    // shuffle runs again (+19% shuffle bytes at sf0.01 and sf0.1).
    val o = graft.ops.FanOut.perRowCompute(
        Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("month"),
          round($"o_totalprice" * 100, 0).cast("long").as("pc")), "pc")
      .transform(graft.ops.Staged(_))
    val monthly = bands(o, Seq("month"))
    val global = bands(o.select(lit("all").as("g"), $"pc"), Seq("g"))
      .select($"p10".as("g10"), $"p90".as("g90"))
    monthly.crossJoin(broadcast(global))
      .select($"month", $"p10", $"p50", $"p90",
        ($"p50" < $"g10").as("breach_low"),
        ($"p50" > $"g90").as("breach_high"))
      .orderBy($"month")
  }

  /** Hapax share per document — the top-10 documents by share of
    * corpus-hapax word trigrams (global count = 1; the unigram vocab
    * is closed in these fixtures, trigrams carry the rarity signal).
    * High hapax share flags gibberish, OCR noise, or unique-identifier
    * leakage: rarity is a cross-document property that per-document
    * entropy can't measure. Shape: shingle explode → global hapax set
    * (semi-join) → per-doc ratio; the head is a 10-row
    * TakeOrderedAndProject. */
  private val q347: Q = (s, d) => {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"doc_id", $"source",
        explode(graft.ops.Text.shingles($"text", 3)).as("tok"))
      // staged: unstaged, the shingling scan runs three times and q347 is
      // slower (0.521 → 0.585 s at sf0.1)
      .transform(graft.ops.Staged(_))
    val hapax = tok.groupBy($"tok")
      .agg(count(lit(1)).cast("long").as("c"))
      .where($"c" === 1L).select($"tok")
    val perDoc = tok.groupBy($"doc_id", $"source")
      .agg(count(lit(1)).cast("long").as("n_tok"))
    val hapaxDoc = tok.join(hapax, Seq("tok"), "left_semi")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_hapax"))
    perDoc.join(hapaxDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"source", $"n_tok",
        coalesce($"n_hapax", lit(0L)).as("n_hapax"),
        (floor(coalesce($"n_hapax", lit(0L)) / $"n_tok".cast("double")
          * 1e6) / 1e6).as("hapax_share"))
      .orderBy($"hapax_share".desc, $"doc_id").limit(10)
  }

  val queries: Seq[(String, Q)] = Seq(
    "q343_good_turing" -> q343,
    "q344_burrows_delta" -> q344,
    "q345_price_elasticity" -> q345,
    "q346_quantile_drift_bands" -> q346,
    "q347_hapax_share" -> q347)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q343_good_turing" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tok
        |    FROM t) GROUP BY 1),
        |fof AS (SELECT c, CAST(count(*) AS BIGINT) AS nc
        |  FROM counts GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
        |rows_c AS (
        |  SELECT f.c, f.nc, nx.nc AS nc_next FROM fof f
        |  LEFT JOIN fof nx ON nx.c = f.c + 1 WHERE f.c <= 5
        |  UNION ALL
        |  SELECT 0, nc, nc FROM fof WHERE c = 1)
        |SELECT c, nc AS n_tokens_at_c,
        |  CASE WHEN c = 0
        |    THEN floor(nc / CAST(n AS DOUBLE) * 1e9) / 1e9
        |    ELSE floor((c + 1) * coalesce(nc_next, 0) /
        |      CAST(nc AS DOUBLE) * 1e6) / 1e6 END AS gt_estimate
        |FROM rows_c, tot ORDER BY c""".stripMargin,
    "q344_burrows_delta" ->
      """WITH st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |top AS (SELECT tok FROM (SELECT tok, CAST(sum(cnt) AS BIGINT)
        |    AS g FROM st GROUP BY 1) ORDER BY g DESC, tok LIMIT 20),
        |per AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS nt
        |  FROM st GROUP BY 1),
        |cells AS (SELECT per.source, top.tok,
        |    CAST(floor(coalesce(st.cnt, 0) / CAST(per.nt AS DOUBLE)
        |      * 1e12) AS BIGINT) AS fq
        |  FROM per CROSS JOIN top
        |  LEFT JOIN st ON st.source = per.source AND st.tok = top.tok),
        |stats AS (SELECT tok, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(fq) AS BIGINT) AS sf,
        |    CAST(sum(CAST(CAST(fq AS DOUBLE) * fq AS DECIMAL(38,0)))
        |      AS DOUBLE) AS sf2
        |  FROM cells GROUP BY 1),
        |z AS (SELECT source, cells.tok,
        |    (fq - CAST(sf AS DOUBLE) / k) /
        |      sqrt(sf2 / k - (CAST(sf AS DOUBLE) / k) *
        |        (CAST(sf AS DOUBLE) / k)) AS z
        |  FROM cells JOIN stats ON cells.tok = stats.tok),
        |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(sum(CAST(floor(abs(a.z - b.z) * 1e9) AS BIGINT))
        |      AS BIGINT) AS sg
        |  FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b,
        |  floor(sg / (n_terms * 1e9) * 1e6) / 1e6 AS burrows_delta
        |FROM pairs ORDER BY source_a, source_b""".stripMargin,
    "q345_price_elasticity" ->
      """WITH pts AS (SELECT
        |    CAST(floor(ln((l_extendedprice / l_quantity) *
        |      (1 - l_discount)) * 1e9) AS BIGINT) AS x,
        |    CAST(floor(ln(l_quantity) * 1e9) AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(CAST(CAST(x AS DOUBLE) * x AS DECIMAL(38,0)))
        |      AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CAST(x AS DOUBLE) * y AS DECIMAL(38,0)))
        |      AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(CAST(y AS DOUBLE) * y AS DECIMAL(38,0)))
        |      AS DOUBLE) AS syy
        |  FROM pts)
        |SELECT n,
        |  floor((n * sxy - CAST(sx AS DOUBLE) * sy) /
        |    (n * sxx - CAST(sx AS DOUBLE) * sx) * 1e6) / 1e6
        |    AS elasticity,
        |  floor(((n * sxy - CAST(sx AS DOUBLE) * sy) *
        |    (n * sxy - CAST(sx AS DOUBLE) * sy)) /
        |    ((n * sxx - CAST(sx AS DOUBLE) * sx) *
        |     (n * syy - CAST(sy AS DOUBLE) * sy)) * 1e6) / 1e6
        |    AS r_squared
        |FROM a""".stripMargin,
    "q346_quantile_drift_bands" ->
      """WITH o AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS pc
        |  FROM orders),
        |h AS (SELECT month, pc, CAST(count(*) AS BIGINT) AS cv
        |  FROM o GROUP BY 1, 2),
        |cum AS (SELECT month, pc,
        |    CAST(sum(cv) OVER (PARTITION BY month ORDER BY pc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(cv) OVER (PARTITION BY month) AS BIGINT) AS nn
        |  FROM h),
        |monthly AS (SELECT month,
        |    min(CASE WHEN cum * 10 >= nn THEN pc END) / 100.0 AS p10,
        |    min(CASE WHEN cum * 2 >= nn THEN pc END) / 100.0 AS p50,
        |    min(CASE WHEN cum * 10 >= nn * 9 THEN pc END) / 100.0
        |      AS p90
        |  FROM cum GROUP BY 1),
        |gh AS (SELECT pc, CAST(count(*) AS BIGINT) AS cv
        |  FROM o GROUP BY 1),
        |gcum AS (SELECT pc,
        |    CAST(sum(cv) OVER (ORDER BY pc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(cv) OVER () AS BIGINT) AS nn
        |  FROM gh),
        |g AS (SELECT
        |    min(CASE WHEN cum * 10 >= nn THEN pc END) / 100.0 AS g10,
        |    min(CASE WHEN cum * 10 >= nn * 9 THEN pc END) / 100.0
        |      AS g90
        |  FROM gcum)
        |SELECT month, p10, p50, p90,
        |  p50 < g10 AS breach_low, p50 > g90 AS breach_high
        |FROM monthly, g ORDER BY month""".stripMargin,
    "q347_hapax_share" ->
      """WITH tok AS (SELECT doc_id, source,
        |    unnest(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |        string_split(text, ' ')[i+1] || ' ' ||
        |        string_split(text, ' ')[i+2])) AS tok FROM documents),
        |hapax AS (SELECT tok FROM tok GROUP BY tok
        |  HAVING count(*) = 1),
        |pd AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tok
        |  FROM tok GROUP BY 1, 2),
        |hd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hapax
        |  FROM tok WHERE tok IN (SELECT tok FROM hapax) GROUP BY 1)
        |SELECT pd.doc_id, source, n_tok,
        |  coalesce(n_hapax, 0) AS n_hapax,
        |  floor(coalesce(n_hapax, 0) / CAST(n_tok AS DOUBLE) * 1e6)
        |    / 1e6 AS hapax_share
        |FROM pd LEFT JOIN hd ON pd.doc_id = hd.doc_id
        |ORDER BY hapax_share DESC, pd.doc_id LIMIT 10""".stripMargin)
}
