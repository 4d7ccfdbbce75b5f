package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Text

/** FILE→WAVE MAP: Wave45Queries.scala holds round-12 WAVE-48 queries
  * q304–q308 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Structure statistics a corpus owner reads before trusting derived
  * artifacts: degree assortativity of the near-dup graph (do hubs link
  * to hubs — the mixing pattern that decides whether cluster growth is
  * runaway or bounded), Chao1 unseen-vocabulary estimation (how much
  * vocabulary the corpus has NOT yet seen — the complement of q144's
  * growth curve), conversion-latency quantiles (q281 gives rates at
  * fixed deadlines; this gives the latency distribution those
  * deadlines should come from), Dunning log-likelihood-ratio
  * collocations (the significance-corrected variant of q115's PMI —
  * PMI over-ranks rare pairs, G² does not), and per-type arrival-rate
  * quantiles (the capacity input behind q298's concurrency peak).
  * All five are DuckDB-oracle-checked. */
object Wave45Queries extends QuerySet {

  /** Degree assortativity of the θ≥0.3 near-dup graph: exact Pearson
    * correlation of endpoint degrees over the directed edge list (each
    * undirected pair contributes both directions — the standard
    * Newman definition). Positive r says hubs pair with hubs (dedup
    * clusters snowball; q151/q180's hub machinery matters); negative
    * says star-shaped neighborhoods (canonical-rep picking is stable).
    * Edges from the persisted pair store; degrees from one keyed
    * aggregate over the directed list; sums follow q283's exact
    * discipline (decimal-cast, one double formula). */
  private val q304: Q = (s, d) => {
    import s.implicits._
    val pairs = Stores.docPairs(s, d).select($"doc_a", $"doc_b")
    val dir = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .unionByName(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      // staged: unstaged, the pair store is read twice (10 → 20 file
      // scans at sf0.1) and q304 is no faster at sf0.01
      .transform(graft.ops.Staged(_))
    val deg = dir.groupBy($"src").agg(count(lit(1)).cast("long").as("deg"))
    dir
      .join(deg.select($"src", $"deg".as("dx")), Seq("src"))
      .join(deg.select($"src".as("dst"), $"deg".as("dy")), Seq("dst"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum($"dx".cast("decimal(28,0)")).cast("double").as("sx"),
        sum(($"dx" * $"dx").cast("decimal(38,0)")).cast("double").as("sxx"),
        sum($"dy".cast("decimal(28,0)")).cast("double").as("sy"),
        sum(($"dy" * $"dy").cast("decimal(38,0)")).cast("double").as("syy"),
        sum(($"dx" * $"dy").cast("decimal(38,0)")).cast("double").as("sxy"))
      .select(($"n" / 2).cast("long").as("n_edges"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx") *
            ($"n" * $"syy" - $"sy" * $"sy")), 6).as("assortativity"))
  }

  /** Chao1 unseen-vocabulary estimate per language: V_obs plus the
    * singleton/doubleton correction F1(F1−1)/(2(F2+1)) — the
    * bias-corrected form, defined even when no doubletons exist. A
    * Chao1 far above V_obs says the vocabulary (and the BPE merge
    * table built from it, q83) is still growing and a bigger sample
    * changes tokenizer decisions; ≈V_obs says coverage is saturated.
    * One token explode, one (lang, token) aggregate, one
    * frequency-of-frequencies rollup per language. */
  private val q305: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"lang", explode(Text.tokens($"text")).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).cast("long").as("f"))
      .groupBy($"lang")
      .agg(count(lit(1)).cast("long").as("v_obs"),
        sum(when($"f" === 1, 1L).otherwise(0L)).as("f1"),
        sum(when($"f" === 2, 1L).otherwise(0L)).as("f2"))
      .select($"lang", $"v_obs", $"f1", $"f2",
        round($"v_obs" + $"f1" * ($"f1" - 1) /
          (lit(2.0) * ($"f2" + 1)), 6).as("chao1"))
      .orderBy($"lang")
  }

  /** Conversion-latency quantiles: exact nearest-rank p50/p90/p99 of
    * the view→purchase delay, from the MINUTE-bucketed latency
    * histogram (the q211 discipline — ranks ⌈p·N/100⌉ in integer
    * arithmetic, windows only over the collapsed value frame; never a
    * global sort of converters). q281 answers "what converts within a
    * fixed deadline"; this is where those deadlines should come from. */
  private val q306: Q = (s, d) => {
    import s.implicits._
    val lat = Tables.events(s, d).groupBy($"user_id")
      .agg(min(when($"event_type" === "view", $"ts")).as("fv"),
        min(when($"event_type" === "purchase", $"ts")).as("fp"))
      .where($"fv".isNotNull && $"fp".isNotNull)
      .select((unix_micros($"fp") - unix_micros($"fv")).as("d"))
      .where($"d" > 0)
      .select(floor($"d" / 60000000.0).cast("long").as("lat_min"))
    val hist = lat.groupBy($"lat_min").agg(count(lit(1)).cast("long").as("c"))
    val cum = hist
      .withColumn("cum", sum($"c").over(Window.orderBy($"lat_min")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(hist.agg(sum($"c").cast("long").as("n"))))
    def qtile(p: Int): Column =
      min(when($"cum" >= floor((lit(p) * $"n" + 99) / 100).cast("long"),
        $"lat_min")).as(s"p${p}_min")
    // coalesce to an explicit 0 for the empty cohort (no user with both a
    // view and a purchase): a groupBy-less agg over an empty frame yields
    // one all-null row, and a null n_converted reads as "unknown" rather
    // than the true "zero converters". The quantiles stay null — there is
    // no latency to rank.
    cum.agg(coalesce(max($"n"), lit(0L)).as("n_converted"),
      qtile(50), qtile(90), qtile(99))
  }

  /** Dunning log-likelihood-ratio (G²) collocations: the
    * significance-corrected ranking q115's PMI lacks — PMI over-ranks
    * rare pairs (two hapaxes co-occurring once get maximal PMI); G²
    * weights by evidence mass, so reported pairs are both associated
    * AND attested. Margins come from the bigram-count frame itself
    * (no second corpus pass); the 2×2 expected counts widen to double
    * BEFORE the margin product (c1·c2 overflows a long at web-corpus
    * bigram counts); 0·ln0 terms are explicit zeros. Top-20 by G²
    * with a total tie-break. */
  private val q307: Q = (s, d) => {
    import s.implicits._
    val pc = graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select(explode(Text.shingles($"text", 2)).as("bg"))
      .select(substring_index($"bg", " ", 1).as("w1"),
        substring_index($"bg", " ", -1).as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).cast("long").as("k"))
      // staged: unstaged, the bigram shuffle runs again (2.3× the
      // shuffle bytes at sf0.01, +22% at sf0.1)
      .transform(graft.ops.Staged(_))
    val m1 = pc.groupBy($"w1").agg(sum($"k").as("c1"))
    val m2 = pc.groupBy($"w2").agg(sum($"k").as("c2"))
    val tot = pc.agg(sum($"k").as("nn"))
    def term(o: Column, e: Column): Column =
      when(o > 0, o * log(o / e)).otherwise(lit(0.0))
    val j = pc.where($"k" >= 5)
      .join(m1, Seq("w1")).join(m2, Seq("w2"))
      .crossJoin(broadcast(tot))
    val e11 = $"c1".cast("double") * $"c2" / $"nn"
    val e12 = $"c1".cast("double") * ($"nn" - $"c2") / $"nn"
    val e21 = ($"nn" - $"c1").cast("double") * $"c2" / $"nn"
    val e22 = ($"nn" - $"c1").cast("double") * ($"nn" - $"c2") / $"nn"
    j.select($"w1", $"w2", $"k".as("n_pair"),
        round(lit(2.0) * (term($"k", e11) + term($"c1" - $"k", e12) +
          term($"c2" - $"k", e21) +
          term($"nn" - $"c1" - $"c2" + $"k", e22)), 6).as("g2"))
      .orderBy($"g2".desc, $"w1", $"w2")
      .limit(20)
  }

  /** Arrival-rate quantiles per event type: exact nearest-rank
    * p50/p99/max of events-per-active-minute — the load distribution
    * behind q298's session concurrency and the input to any
    * rate-limit/capacity choice. Minutes with zero events carry no
    * row (active-minute convention, stated in the column name). Two
    * keyed aggregates; rank windows run per event_type over the
    * COUNT-histogram frame (value-cardinality, not minute count). */
  private val q308: Q = (s, d) => {
    import s.implicits._
    val hist = Tables.events(s, d)
      .groupBy($"event_type", date_trunc("minute", $"ts").as("m"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy($"event_type", $"c").agg(count(lit(1)).cast("long").as("k"))
    val byType = Window.partitionBy($"event_type")
    val cum = hist
      .withColumn("cum", sum($"k").over(byType.orderBy($"c")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum($"k").over(byType))
    def qtile(p: Int): Column =
      min(when($"cum" >= floor((lit(p) * $"n" + 99) / 100).cast("long"),
        $"c")).as(s"p${p}_per_min")
    cum.groupBy($"event_type", $"n".as("n_active_minutes"))
      .agg(qtile(50), qtile(99), max($"c").as("max_per_min"))
      .orderBy($"event_type")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q304_degree_assortativity" -> q304,
    "q305_chao1_richness" -> q305,
    "q306_conversion_latency_quantiles" -> q306,
    "q307_llr_collocations" -> q307,
    "q308_arrival_rate_quantiles" -> q308)

  // ---- oracle SQL -------------------------------------------------------

  /** θ=0.3 scored-pair CTE — same construction as Wave29/Wave32's. */
  private val pairsCte =
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
      |      WHERE inter / (sa.n + sb.n - inter) >= 0.3)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q304_degree_assortativity" -> (pairsCte +
      """,
        |dir AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |  FROM dir GROUP BY 1),
        |e AS (SELECT da.deg AS dx, db.deg AS dy
        |  FROM dir JOIN deg da ON dir.src = da.src
        |  JOIN deg db ON dir.dst = db.src),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(dx AS DECIMAL(28,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(dx * dx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(dy AS DECIMAL(28,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(dy * dy AS DECIMAL(38,0))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(dx * dy AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        |  FROM e)
        |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
        |  round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx)
        |    * (n * syy - sy * sy)), 6) AS assortativity
        |FROM a""".stripMargin),
    "q305_chao1_richness" ->
      """WITH tf AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS f
        |  FROM tf GROUP BY 1, 2),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS v_obs,
        |    CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM f GROUP BY 1)
        |SELECT lang, v_obs, f1, f2,
        |  round(v_obs + f1 * (f1 - 1) / (2.0 * (f2 + 1)), 6) AS chao1
        |FROM g ORDER BY lang""".stripMargin,
    "q306_conversion_latency_quantiles" ->
      """WITH u AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        |  FROM events GROUP BY 1),
        |lt AS (SELECT CAST(floor((epoch_us(fp) - epoch_us(fv))
        |    / 60000000.0) AS BIGINT) AS lat_min
        |  FROM u WHERE fv IS NOT NULL AND fp IS NOT NULL
        |    AND epoch_us(fp) - epoch_us(fv) > 0),
        |h AS (SELECT lat_min, CAST(count(*) AS BIGINT) AS c
        |  FROM lt GROUP BY 1),
        |cm AS (SELECT lat_min,
        |    sum(c) OVER (ORDER BY lat_min
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    (SELECT CAST(sum(c) AS BIGINT) FROM h) AS n
        |  FROM h)
        |SELECT coalesce(CAST(max(n) AS BIGINT), 0) AS n_converted,
        |  min(CASE WHEN cum >= CAST(floor((50 * n + 99) / 100.0) AS BIGINT)
        |    THEN lat_min END) AS p50_min,
        |  min(CASE WHEN cum >= CAST(floor((90 * n + 99) / 100.0) AS BIGINT)
        |    THEN lat_min END) AS p90_min,
        |  min(CASE WHEN cum >= CAST(floor((99 * n + 99) / 100.0) AS BIGINT)
        |    THEN lat_min END) AS p99_min
        |FROM cm""".stripMargin,
    "q307_llr_collocations" ->
      """WITH doc AS (SELECT string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT w[CAST(i AS INTEGER)] AS w1,
        |    w[CAST(i AS INTEGER) + 1] AS w2
        |  FROM doc, unnest(range(1, len(w))) AS t(i)),
        |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS k
        |  FROM bg GROUP BY 1, 2),
        |m1 AS (SELECT w1, CAST(sum(k) AS BIGINT) AS c1 FROM pc GROUP BY 1),
        |m2 AS (SELECT w2, CAST(sum(k) AS BIGINT) AS c2 FROM pc GROUP BY 1),
        |tot AS (SELECT CAST(sum(k) AS BIGINT) AS nn FROM pc),
        |j AS (SELECT pc.w1, pc.w2, k, c1, c2, nn
        |  FROM pc JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
        |  WHERE k >= 5)
        |SELECT w1, w2, k AS n_pair,
        |  round(2.0 * (
        |    (CASE WHEN k > 0 THEN k * ln(k /
        |      (CAST(c1 AS DOUBLE) * c2 / nn)) ELSE 0.0 END)
        |    + (CASE WHEN c1 - k > 0 THEN (c1 - k) * ln((c1 - k) /
        |      (CAST(c1 AS DOUBLE) * (nn - c2) / nn)) ELSE 0.0 END)
        |    + (CASE WHEN c2 - k > 0 THEN (c2 - k) * ln((c2 - k) /
        |      (CAST(nn - c1 AS DOUBLE) * c2 / nn)) ELSE 0.0 END)
        |    + (CASE WHEN nn - c1 - c2 + k > 0 THEN (nn - c1 - c2 + k)
        |      * ln((nn - c1 - c2 + k) /
        |        (CAST(nn - c1 AS DOUBLE) * (nn - c2) / nn))
        |      ELSE 0.0 END)), 6) AS g2
        |FROM j ORDER BY g2 DESC, w1, w2 LIMIT 20""".stripMargin,
    "q308_arrival_rate_quantiles" ->
      """WITH mc AS (SELECT event_type, date_trunc('minute', ts) AS m,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |h AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS k
        |  FROM mc GROUP BY 1, 2),
        |cm AS (SELECT event_type, c, k,
        |    sum(k) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(k) OVER (PARTITION BY event_type) AS n
        |  FROM h)
        |SELECT event_type, CAST(n AS BIGINT) AS n_active_minutes,
        |  min(CASE WHEN cum >= CAST(floor((50 * n + 99) / 100.0) AS BIGINT)
        |    THEN c END) AS p50_per_min,
        |  min(CASE WHEN cum >= CAST(floor((99 * n + 99) / 100.0) AS BIGINT)
        |    THEN c END) AS p99_per_min,
        |  max(c) AS max_per_min
        |FROM cm GROUP BY 1, 2 ORDER BY event_type""".stripMargin)
}
