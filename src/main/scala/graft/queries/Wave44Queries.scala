package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Curate, Exact, Similarity, Text}

/** FILE→WAVE MAP: Wave44Queries.scala holds round-12 WAVE-47 queries
  * q299–q303 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Exact evaluation statistics over histogram frames: ROC-AUC of the
  * quality score against the gopher gate via the midrank rank-sum (the
  * Mann–Whitney identity — no global sort of documents, only of the
  * score grid), t-closeness (the disclosure audit k-anonymity and
  * l-diversity both miss: a cell can be large AND diverse yet still
  * skew the sensitive distribution), exact higher moments
  * (skewness/kurtosis) on a quantized price grid, the random-pair
  * cosine null model that calibrates every similarity threshold, and
  * daily-revenue autocorrelation at the business lags. All five are
  * DuckDB-oracle-checked. */
object Wave44Queries extends QuerySet {

  /** Exact ROC-AUC of the continuous quality score (q120/q22's formula)
    * as a predictor of the gopher-gate verdict (q96's label) — the
    * standard "does the cheap score rank like the expensive gate"
    * read before replacing a gate with a score threshold. AUC is
    * computed from the Mann–Whitney rank-sum with midrank tie
    * handling, entirely on the score HISTOGRAM: scores quantize to a
    * 4-dp grid, one aggregate collapses N documents to ≤10⁴ grid
    * rows, and the only ordered window runs over that collapsed frame
    * (the q211 discipline — never a global sort of the corpus).
    * Doubling the midrank keeps every term integral until the final
    * division: 2·midrank = 2·cum_before + n_at_value + 1, and
    * AUC = (Σ 2·rank⁺ − n⁺(n⁺+1)) / (2 n⁺ n⁻), with the rank-sum
    * accumulated in decimal(38,0) (n·N products overflow a long at
    * the 10¹¹-document scale this is built for). */
  private val q299: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val wc = Text.tokenCount($"text")
    val score = Text.qualityScore(wc, Text.stopwordCount($"text") / wc,
      Text.sumTokenLen($"text") / wc)
    // grid key via floor, not round: Spark's round() is HALF_UP on the
    // double's SHORTEST decimal form while DuckDB rounds the exact binary
    // value — scores with small integer denominators sit exactly on 4-dp
    // boundaries and diverge. floor of the identical IEEE product is
    // bit-deterministic in both engines. Score rides the gate scan as a
    // carry column — one corpus scan, no re-join.
    val hist = Curate.gopherGate(docs, "doc_id", "text",
        carry = Seq(floor(score * 10000).cast("long").as("sc")))
      .groupBy($"sc")
      .agg(sum(when($"passes", 1L).otherwise(0L)).as("np"),
        count(lit(1)).cast("long").as("na"))
    val byScore = Window.orderBy($"sc")
      .rowsBetween(Window.unboundedPreceding, 0)
    hist
      .withColumn("two_mid",
        lit(2L) * (sum($"na").over(byScore) - $"na") + $"na" + 1L)
      .agg(sum($"np").as("n_pos"), sum($"na" - $"np").as("n_neg"),
        count(lit(1)).cast("long").as("n_scores"),
        sum(($"np" * $"two_mid").cast("decimal(38,0)")).as("trs"))
      .select($"n_pos", $"n_neg", $"n_scores",
        round(($"trs".cast("double") -
            $"n_pos".cast("double") * ($"n_pos" + 1)) /
          (lit(2.0) * $"n_pos" * $"n_neg"), 6).as("auc"))
  }

  /** t-closeness of the sensitive label within each (lang, source)
    * quasi-identifier cell: total-variation distance between the
    * cell's label distribution and the corpus-wide one. q118's
    * k-anonymity checks cell SIZE and q280's l-diversity checks label
    * COUNT; both pass a cell that is large and diverse yet heavily
    * label-skewed — exactly what TVD catches. Absent labels enter the
    * distance through the identity TVD = ½(Σ_present |p_cell − p_glob|
    * + 1 − Σ_present p_glob), so no cell×label grid materializes.
    * Per-label terms quantize to 9 dp and decimal-sum (the q296
    * discipline); every frame is dimension-bounded. */
  private val q300: Q = (s, d) => {
    import s.implicits._
    val cl = Tables.documents(s, d).select($"doc_id", $"lang", $"source")
      .join(Tables.embeddings(s, d)
        .select($"vec_id".as("doc_id"), $"label"), Seq("doc_id"))
      .groupBy($"lang", $"source", $"label")
      .agg(count(lit(1)).cast("long").as("o"))
    val gl = cl.groupBy($"label").agg(sum($"o").as("g"))
    val tot = cl.agg(sum($"o").as("n"))
    val dec = "decimal(28,9)"
    cl.join(broadcast(gl), Seq("label"))
      .crossJoin(broadcast(tot))
      .withColumn("nc", sum($"o").over(
        Window.partitionBy($"lang", $"source")))
      .select($"lang", $"source", $"nc",
        round(abs($"o" / $"nc" - $"g" / $"n"), 9).as("term"),
        round($"g" / $"n", 9).as("gshare"))
      .groupBy($"lang", $"source", $"nc")
      .agg(sum($"term".cast(dec)).cast("double").as("tsum"),
        sum($"gshare".cast(dec)).cast("double").as("gsum"))
      .select($"lang", $"source", $"nc".as("n"),
        round(lit(0.5) * ($"tsum" + lit(1.0) - $"gsum"), 6).as("tvd"))
      .withColumn("exceeds_t", $"tvd" > 0.2)
      .orderBy($"lang", $"source")
  }

  /** Exact skewness and excess kurtosis of order totals per priority —
    * the shape statistics that decide whether mean±stddev summaries
    * (q01's style) are even meaningful. Prices quantize to the 1 k$
    * grid FIRST (q98's scaled-grid discipline), making every power sum
    * exact integer arithmetic: grid values <500 keep the 4th power
    * under 2^63 per row, and the sums accumulate in decimal(38,0) so
    * no row count overflows them. One priority-keyed aggregate; the
    * moment formulas run on exact sums cast to double once, with
    * var·sqrt(var) instead of pow(var, 1.5) (sqrt is IEEE
    * correctly-rounded in both engines; pow is not guaranteed). */
  private val q301: Q = (s, d) => {
    import s.implicits._
    val xq = floor($"o_totalprice" / 1000).cast("long")
    val dec = "decimal(38,0)"
    val g = Tables.orders(s, d).select($"o_orderpriority", xq.as("x"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).cast("long").as("n"),
        sum($"x".cast(dec)).cast("double").as("s1"),
        sum(($"x" * $"x").cast(dec)).cast("double").as("s2"),
        sum(($"x" * $"x" * $"x").cast(dec)).cast("double").as("s3"),
        sum(($"x" * $"x" * $"x" * $"x").cast(dec)).cast("double").as("s4"))
    val nD = $"n".cast("double")
    val m1 = $"s1" / nD
    val vr = $"s2" / nD - m1 * m1
    val skew = ($"s3" / nD - lit(3.0) * m1 * ($"s2" / nD) +
      lit(2.0) * m1 * m1 * m1) / (vr * sqrt(vr))
    val kurt = ($"s4" / nD - lit(4.0) * m1 * ($"s3" / nD) +
      lit(6.0) * m1 * m1 * ($"s2" / nD) -
      lit(3.0) * m1 * m1 * m1 * m1) / (vr * vr) - lit(3.0)
    g.select($"o_orderpriority", $"n",
        round(m1, 6).as("mean_k"),
        round(vr, 6).as("var_k"),
        round(skew, 6).as("skewness"),
        round(kurt, 6).as("kurtosis_excess"))
      .orderBy($"o_orderpriority")
  }

  /** Random-pair cosine null model: the similarity histogram of
    * UNRELATED embedding pairs — the distribution every θ (q32's 0.85,
    * q75's 0.45, SemDeDup's cut) must clear to mean anything. Pairs
    * come from a deterministic derangement over a DENSE 0-based index
    * (partner = (idx + ⌊N/2⌋) mod N — an idx-keyed equi-join), one
    * cosine per row, collapsed to explicit similarity bands. If corpus
    * θ sits inside the null bulk, the threshold labels noise as
    * duplicates.
    *
    * Round-14 structural fix: the dense index is DERIVED (md5-bucketed
    * rank + broadcast prefix-sum offsets), not assumed — the pre-r14
    * form used the raw vec_id as the index, which silently self-pairs
    * or skips rows on a gapped/re-keyed id column. The derivation is
    * scale-shaped: a 64-bucket partitioned rank window (never a global
    * sort-window), per-bucket offsets from ONE collect_list-bounded
    * 1-row aggregate (B ≤ 64 rows) joined back by broadcast. Equal to
    * the global rank under ORDER BY (bucket, ord, id), which is what
    * the oracle replays. Linear in N; one keyed self-join. */
  private val q302: Q = (s, d) => {
    import s.implicits._
    val e = Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
    val B = 64
    val keyed = e
      .withColumn("__ord", graft.ops.Shard.orderKey($"id", "q302"))
      .withColumn("__b", pmod($"__ord", lit(B.toLong)).cast("int"))
    val wB = Window.partitionBy($"__b").orderBy($"__ord", $"id")
    val ranked = keyed
      .withColumn("__r", (row_number().over(wB) - 1).cast("long"))
    val offsets = keyed.groupBy($"__b").agg(count(lit(1)).as("__c"))
      .agg(sort_array(collect_list(struct($"__b", $"__c"))).as("a"))
      .select(explode(expr(
        "transform(a, (x, i) -> struct(x.__b AS __b, " +
          "aggregate(slice(a, 1, i), 0L, (acc, y) -> acc + y.__c) AS __off, " +
          "aggregate(a, 0L, (acc, y) -> acc + y.__c) AS __n))")).as("o"))
      .select($"o.__b".as("__b"), $"o.__off".as("__off"), $"o.__n".as("__n"))
    val dense = ranked.join(broadcast(offsets), Seq("__b"))
      .select($"id", $"emb", $"norm", ($"__off" + $"__r").as("idx"), $"__n")
    val withPartner = dense
      .select($"emb", $"norm",
        pmod($"idx" + floor($"__n" / 2).cast("long"), $"__n").as("pid"))
    val cos = Similarity.cosine($"emb", $"p_emb", $"norm", $"p_norm")
    val c4 = round(cos, 4)
    val band = when($"c4" < 0.0, "a_neg").when($"c4" < 0.2, "b_00_02")
      .when($"c4" < 0.4, "c_02_04").when($"c4" < 0.6, "d_04_06")
      .when($"c4" < 0.8, "e_06_08").otherwise("f_08_10")
    withPartner
      .join(dense.select($"idx".as("pid"), $"emb".as("p_emb"),
        $"norm".as("p_norm")), Seq("pid"))
      .select(c4.as("c4"))
      .select(band.as("cos_band"), $"c4")
      .groupBy($"cos_band")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        Exact.davg($"c4").as("avg_cos"),
        min($"c4").as("min_cos"), max($"c4").as("max_cos"))
      .orderBy($"cos_band")
  }

  /** Daily-revenue autocorrelation at the business lags (1/7/28 days):
    * the seasonality detector behind q237's day-of-week table — a high
    * lag-7 ACF with low lag-1 says weekly cycle, not trend. The day
    * series is ONE date-keyed aggregate (frame bounded by the time
    * span); each lag is an equi-join of that frame against itself
    * shifted by date arithmetic (explode of a 3-element literal — no
    * cross join); Pearson over the matched pairs uses q283's exact-sum
    * discipline (decimal-quantized products, one double formula). */
  private val q303: Q = (s, d) => {
    import s.implicits._
    val day = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(round(sum(round($"o_totalprice" * 100, 0).cast("long")) / 100.0, 2)
        .as("r"))
    val lagged = day.select(explode(array(lit(1), lit(7), lit(28))).as("lag"),
        $"day", $"r")
      .withColumn("day2", date_add($"day", $"lag"))
      .join(day.select($"day".as("day2"), $"r".as("r2")), Seq("day2"))
    lagged.groupBy($"lag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum($"r".cast("decimal(28,2)")).cast("double").as("sx"),
        sum(round($"r" * $"r", 4).cast("decimal(38,4)")).cast("double")
          .as("sxx"),
        sum($"r2".cast("decimal(28,2)")).cast("double").as("sy"),
        sum(round($"r2" * $"r2", 4).cast("decimal(38,4)")).cast("double")
          .as("syy"),
        sum(round($"r" * $"r2", 4).cast("decimal(38,4)")).cast("double")
          .as("sxy"))
      .select($"lag", $"n".cast("long").as("n_pairs"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx") *
            ($"n" * $"syy" - $"sy" * $"sy")), 6).as("acf"))
      .orderBy($"lag")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q299_roc_auc" -> q299,
    "q300_t_closeness" -> q300,
    "q301_price_moments" -> q301,
    "q302_null_cosine_baseline" -> q302,
    "q303_revenue_acf" -> q303)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q299_roc_auc" ->
      """WITH m AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_words,
        |    round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |      len(string_split(text, ' ')), 6) AS mean_wlen,
        |    round(CAST(len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a', 'of', 'to', 'and', 'in'))) AS DOUBLE) /
        |      len(string_split(text, ' ')), 6) AS stop_frac,
        |    round(CAST(list_max(list_transform(
        |        list_distinct(string_split(text, ' ')),
        |        dd -> len(list_filter(string_split(text, ' '),
        |          x -> x = dd)))) AS DOUBLE) /
        |      len(string_split(text, ' ')), 6) AS top_word_frac
        |  FROM documents),
        |lab AS (SELECT doc_id,
        |    n_words BETWEEN 20 AND 100000
        |      AND mean_wlen BETWEEN 4.0 AND 10.0
        |      AND stop_frac >= 0.02 AND top_word_frac <= 0.2 AS passes
        |  FROM m),
        |t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS word_count,
        |    list_sum(list_transform(string_split(text, ' '),
        |      x -> length(x))) AS sum_len,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> list_contains(['the','a','of','and','to','in','is','on',
        |        'for','with'], x))) AS INTEGER) AS n_stop
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |    CAST(floor((least(1.0, word_count / 100.0) * 0.4
        |      + (1.0 - n_stop / word_count) * 0.3
        |      + least(1.0, (sum_len / word_count) / 8.0) * 0.3) * 10000)
        |      AS BIGINT) AS sc
        |  FROM t),
        |h AS (SELECT sc,
        |    CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(count(*) AS BIGINT) AS na
        |  FROM sc JOIN lab USING (doc_id) GROUP BY sc),
        |r AS (SELECT np, na,
        |    2 * (sum(na) OVER (ORDER BY sc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - na)
        |      + na + 1 AS two_mid
        |  FROM h),
        |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(na - np) AS BIGINT) AS n_neg,
        |    CAST(count(*) AS BIGINT) AS n_scores,
        |    sum(CAST(np * two_mid AS DECIMAL(38,0))) AS trs
        |  FROM r)
        |SELECT n_pos, n_neg, n_scores,
        |  round((CAST(trs AS DOUBLE) - CAST(n_pos AS DOUBLE) * (n_pos + 1))
        |    / (2.0 * n_pos * n_neg), 6) AS auc
        |FROM a""".stripMargin,
    "q300_t_closeness" ->
      """WITH cl AS (SELECT d.lang, d.source, e.label,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |  GROUP BY 1, 2, 3),
        |gl AS (SELECT label, sum(o) AS g FROM cl GROUP BY 1),
        |tot AS (SELECT sum(o) AS n FROM cl),
        |k AS (SELECT lang, source,
        |    sum(o) OVER (PARTITION BY lang, source) AS nc,
        |    round(abs(o / sum(o) OVER (PARTITION BY lang, source)
        |      - g / n), 9) AS term,
        |    round(g / n, 9) AS gshare
        |  FROM cl JOIN gl USING (label) CROSS JOIN tot),
        |x AS (SELECT lang, source, nc,
        |    CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE) AS tsum,
        |    CAST(sum(CAST(gshare AS DECIMAL(28,9))) AS DOUBLE) AS gsum
        |  FROM k GROUP BY 1, 2, 3)
        |SELECT lang, source, CAST(nc AS BIGINT) AS n,
        |  round(0.5 * (tsum + 1.0 - gsum), 6) AS tvd,
        |  round(0.5 * (tsum + 1.0 - gsum), 6) > 0.2 AS exceeds_t
        |FROM x ORDER BY lang, source""".stripMargin,
    "q301_price_moments" ->
      """WITH q AS (SELECT o_orderpriority,
        |    CAST(floor(o_totalprice / 1000) AS BIGINT) AS x
        |  FROM orders),
        |g AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(x * x * x AS DECIMAL(38,0))) AS DOUBLE) AS s3,
        |    CAST(sum(CAST(x * x * x * x AS DECIMAL(38,0))) AS DOUBLE) AS s4
        |  FROM q GROUP BY 1),
        |f AS (SELECT o_orderpriority, n,
        |    s1 / n AS m1, s2 / n - (s1 / n) * (s1 / n) AS vr,
        |    s2, s3, s4, CAST(n AS DOUBLE) AS nd
        |  FROM g)
        |SELECT o_orderpriority, n,
        |  round(m1, 6) AS mean_k, round(vr, 6) AS var_k,
        |  round((s3 / nd - 3.0 * m1 * (s2 / nd) + 2.0 * m1 * m1 * m1)
        |    / (vr * sqrt(vr)), 6) AS skewness,
        |  round((s4 / nd - 4.0 * m1 * (s3 / nd) + 6.0 * m1 * m1 * (s2 / nd)
        |    - 3.0 * m1 * m1 * m1 * m1) / (vr * vr) - 3.0, 6)
        |    AS kurtosis_excess
        |FROM f ORDER BY o_orderpriority""".stripMargin,
    "q302_null_cosine_baseline" ->
      """WITH e AS (SELECT vec_id AS id,
        |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |nn AS (SELECT id, emb, sqrt(list_dot_product(emb, emb)) AS nrm
        |  FROM e),
        |k AS (SELECT *, CAST(concat('0x', substr(md5(concat('q302 ',
        |      CAST(id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord
        |  FROM nn),
        |dx AS (SELECT *,
        |    row_number() OVER (ORDER BY ord % 64, ord, id) - 1 AS idx,
        |    count(*) OVER () AS n
        |  FROM k),
        |p AS (SELECT emb, nrm,
        |    (idx + CAST(floor(n / 2) AS BIGINT)) % n AS pid
        |  FROM dx),
        |j AS (SELECT round(list_dot_product(a.emb, b.emb)
        |    / (a.nrm * b.nrm), 4) AS c4
        |  FROM p a JOIN dx b ON a.pid = b.idx),
        |bb AS (SELECT c4, CASE WHEN c4 < 0.0 THEN 'a_neg'
        |    WHEN c4 < 0.2 THEN 'b_00_02' WHEN c4 < 0.4 THEN 'c_02_04'
        |    WHEN c4 < 0.6 THEN 'd_04_06' WHEN c4 < 0.8 THEN 'e_06_08'
        |    ELSE 'f_08_10' END AS cos_band
        |  FROM j)
        |SELECT cos_band, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CAST(c4 AS DECIMAL(18,4))) AS DOUBLE) / count(c4)
        |    AS avg_cos,
        |  min(c4) AS min_cos, max(c4) AS max_cos
        |FROM bb GROUP BY 1 ORDER BY cos_band""".stripMargin,
    "q303_revenue_acf" ->
      """WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      / 100.0, 2) AS r
        |  FROM orders GROUP BY 1),
        |lg AS (SELECT unnest([1, 7, 28]) AS lag),
        |pr AS (SELECT lg.lag, a.r, b.r AS r2
        |  FROM day a CROSS JOIN lg
        |  JOIN day b ON b.day = a.day + CAST(lg.lag || ' days' AS INTERVAL)),
        |g AS (SELECT lag, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(r AS DECIMAL(28,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(round(r * r, 4) AS DECIMAL(38,4))) AS DOUBLE)
        |      AS sxx,
        |    CAST(sum(CAST(r2 AS DECIMAL(28,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(r2 * r2, 4) AS DECIMAL(38,4))) AS DOUBLE)
        |      AS syy,
        |    CAST(sum(CAST(round(r * r2, 4) AS DECIMAL(38,4))) AS DOUBLE)
        |      AS sxy
        |  FROM pr GROUP BY 1)
        |SELECT lag, CAST(n AS BIGINT) AS n_pairs,
        |  round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx)
        |    * (n * syy - sy * sy)), 6) AS acf
        |FROM g ORDER BY lag""".stripMargin)
}
