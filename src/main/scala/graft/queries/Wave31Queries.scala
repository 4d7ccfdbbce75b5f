package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Dedup

/** FILE→WAVE MAP: Wave31Queries.scala holds round-11 WAVE-34 queries
  * q237–q241 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Time-series decomposition and decision analytics: day-of-week
  * seasonal decomposition with residual anomalies, inter-purchase
  * intervals, the volume/rate/mix waterfall decomposition every revenue
  * review runs, an LSH band-configuration sweep against pair-store
  * truth, and sequence-packing language diversity (the shuffling-
  * quality signal for LLM training batches). q240 is golden-pinned
  * (seeded xxhash64); the rest are DuckDB-oracle-checked. */
object Wave31Queries extends QuerySet {

  /** Day-of-week seasonal decomposition of 1997 daily revenue: each
    * day's residual against its weekday mean, headlined by the top-10
    * |residual| anomaly days — the "was Tuesday actually unusual, or
    * are Tuesdays just like that" separation. Facts collapse to the
    * daily aggregate first; weekday means are a ≤7-row broadcast; the
    * head is TakeOrderedAndProject. Integer-scaled revenue; the only
    * doubles are the final mean division and residual. */
  private val q237: Q = (s, d) => {
    import s.implicits._
    val daily = Tables.lineitem(s, d)
      .select($"l_orderkey",
        ($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
      .join(Tables.orders(s, d)
        .where($"o_orderdate" >= "1997-01-01" && $"o_orderdate" < "1998-01-01")
        .select($"o_orderkey", $"o_orderdate".cast("date").as("day")),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"day")
      .agg(sum(round($"rev" * 10000, 0).cast("long")).as("__v"))
      .withColumn("dow", dayofweek($"day"))
    val dowMean = daily.groupBy($"dow")
      .agg((sum($"__v") / (count(lit(1)) * 10000.0)).as("__dm"))
    daily.join(broadcast(dowMean), Seq("dow"))
      .select($"day", $"dow",
        round($"__v" / 10000.0, 4).as("revenue"),
        round($"__dm", 4).as("dow_mean"),
        round($"__v" / 10000.0 - $"__dm", 4).as("residual"))
      .orderBy(abs($"residual").desc, $"day")
      .limit(10)
  }

  /** Inter-purchase intervals per market segment: the lag between a
    * customer's consecutive orders, rolled up to segment-level count /
    * exact mean / interpolated p50+p90 days — the repurchase-cadence
    * table behind retention planning. The lag window is partitioned by
    * CUSTOMER (frames are per-customer order counts — tens of rows, a
    * scale-safe partitioned window), the rollup is segment-cardinality,
    * and the segment label rides a broadcast. */
  private val q238: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"day", $"o_orderkey")
    val gaps = Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate".cast("date").as("day"))
      .withColumn("gap_days",
        datediff($"day", lag($"day", 1).over(w)).cast("long"))
      .where($"gap_days".isNotNull)
    gaps.join(broadcast(Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).cast("long").as("n_gaps"),
        round(sum($"gap_days") / count(lit(1)).cast("double"), 9)
          .as("mean_gap_days"),
        round(percentile($"gap_days", lit(0.5)), 6).as("p50_gap"),
        round(percentile($"gap_days", lit(0.9)), 6).as("p90_gap"))
      .orderBy($"c_mktsegment")
  }

  /** Volume/rate waterfall decomposition of 1997→1998 revenue change
    * per market segment — the bridge chart every revenue review opens
    * with: Δrevenue = Δorders × rate₉₇ (volume effect) + orders₉₇ ×
    * Δrate (rate effect) + Δorders × Δrate (interaction). Orders and
    * revenue collapse to the (segment, year) frame first (exact scaled
    * sums); the decomposition is closed-form arithmetic on that ≤
    * |segments|-row frame. */
  private val q239: Q = (s, d) => {
    import s.implicits._
    val seg = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
    val ordRev = Tables.lineitem(s, d)
      .select($"l_orderkey",
        ($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
      .groupBy($"l_orderkey")
      .agg(sum(round($"rev" * 10000, 0).cast("long")).as("__orev"))
    val byYear = Tables.orders(s, d)
      .where($"o_orderdate" >= "1997-01-01" && $"o_orderdate" < "1999-01-01")
      .select($"o_orderkey", $"o_custkey", year($"o_orderdate").as("yr"))
      .join(broadcast(seg), $"o_custkey" === $"c_custkey")
      .join(ordRev, $"o_orderkey" === $"l_orderkey")
      .groupBy($"c_mktsegment")
      .agg(
        sum(when($"yr" === 1997, 1L).otherwise(0L)).as("o97"),
        sum(when($"yr" === 1998, 1L).otherwise(0L)).as("o98"),
        sum(when($"yr" === 1997, $"__orev").otherwise(0L)).as("r97"),
        sum(when($"yr" === 1998, $"__orev").otherwise(0L)).as("r98"))
    val rate97 = $"r97" / ($"o97" * 10000.0)
    val rate98 = $"r98" / ($"o98" * 10000.0)
    byYear.select($"c_mktsegment",
        $"o97".cast("long").as("orders_97"), $"o98".cast("long").as("orders_98"),
        round($"r97" / 10000.0, 4).as("revenue_97"),
        round($"r98" / 10000.0, 4).as("revenue_98"),
        round(($"o98" - $"o97") * rate97, 4).as("volume_effect"),
        round($"o97" * (rate98 - rate97), 4).as("rate_effect"),
        round(($"o98" - $"o97") * (rate98 - rate97), 4).as("interaction"),
        round(($"r98" - $"r97") / 10000.0, 4).as("total_change"))
      .orderBy($"c_mktsegment")
  }

  /** LSH band-configuration sweep: precision/recall of RAW MinHash band
    * candidacy at bands ∈ {8, 16, 32} (k=64 → rows-per-band 8/4/2,
    * S-curve thresholds ≈ 0.77/0.55/0.31) against the pair-store exact
    * θ≥0.5 truth on the q207 evaluation slice — the empirical S-curve a
    * dedup team sweeps before choosing a config (q207 scores ONE
    * config's estimate-filtered output; this ranks the family's
    * CANDIDATE generation, where the config actually bites: more bands
    * = more candidate volume per true pair found, the precision column).
    * Golden-pinned: seeded xxhash64. */
  private val q240: Q = (s, d) => {
    import s.implicits._
    // fan out the slice: the fixture scan is one partition, and all
    // three banded signature passes would otherwise run on one core
    val docs = graft.ops.FanOut.perRowCompute(
        Tables.documents(s, d).where($"doc_id" < 2000), "doc_id")
    // guaranteed-exact slice truth (capped-store guard) — see q207
    val exact = Stores.docPairsExactSlice(s, d, maxDocId = 2000)
      .where($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", lit(1L).as("__e"))
    Seq(8, 16, 32).map { bands =>
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
          k = 64, bands = bands, minEstJaccard = 0.0)
        .select($"doc_a", $"doc_b", lit(1L).as("__c"))
      exact.join(cand, Seq("doc_a", "doc_b"), "full_outer")
        .agg(sum($"__e").cast("long").as("n_exact"),
          sum($"__c").cast("long").as("n_candidates"),
          sum($"__e" * $"__c").cast("long").as("n_hit"))
        .select(lit(bands).as("bands"), $"n_exact", $"n_candidates",
          round($"n_hit" / $"n_candidates".cast("double"), 9).as("precision"),
          round($"n_hit" / $"n_exact".cast("double"), 9).as("recall"))
    }.reduce(_.unionByName(_)).orderBy($"bands")
  }

  /** Sequence-packing language diversity: under q229's concat-then-
    * chunk packing (ctx = 256, documents assigned to their STARTING
    * sequence), how many distinct languages land in each training
    * sequence, per source — homogeneous sequences are the shuffled-
    * batch quality hazard LLM training pipelines measure before
    * fixing document order. Source-partitioned cumulative sum (q229's
    * exchange), then two bounded rollups. */
  private val q241: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select($"source", $"doc_id", $"lang",
        graft.ops.Text.tokenCount($"text").as("toks"))
      .withColumn("seq_id",
        floor(coalesce(sum($"toks").over(w), lit(0L)) / 256).cast("long"))
      .groupBy($"source", $"seq_id")
      .agg(countDistinct($"lang").cast("long").as("n_langs"))
      .groupBy($"source", $"n_langs")
      .agg(count(lit(1)).cast("long").as("n_seqs"))
      .orderBy($"source", $"n_langs")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q237_dow_seasonality" -> q237,
    "q238_reorder_intervals" -> q238,
    "q239_revenue_waterfall" -> q239,
    "q240_lsh_band_sweep" -> q240,
    "q241_packing_diversity" -> q241)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q237_dow_seasonality" ->
      """WITH daily AS (SELECT CAST(o.o_orderdate AS DATE) AS day,
        |    sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
        |      AS BIGINT)) AS v
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1),
        |dd AS (SELECT day, v,
        |    CAST(dayofweek(day) + 1 AS INTEGER) AS dow FROM daily),
        |dm AS (SELECT dow, sum(v) / (count(*) * 10000.0) AS dmean
        |  FROM dd GROUP BY 1)
        |SELECT dd.day, dd.dow,
        |  round(dd.v / 10000.0, 4) AS revenue,
        |  round(dm.dmean, 4) AS dow_mean,
        |  round(dd.v / 10000.0 - dm.dmean, 4) AS residual
        |FROM dd JOIN dm ON dd.dow = dm.dow
        |ORDER BY abs(round(dd.v / 10000.0 - dm.dmean, 4)) DESC, dd.day
        |LIMIT 10""".stripMargin,
    "q238_reorder_intervals" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |    CAST(o_orderdate AS DATE) AS day FROM orders),
        |g AS (SELECT o_custkey,
        |    CAST(day - lag(day) OVER (PARTITION BY o_custkey
        |      ORDER BY day, o_orderkey) AS BIGINT) AS gap_days
        |  FROM o),
        |k AS (SELECT c.c_mktsegment, g.gap_days
        |  FROM g JOIN customer c ON g.o_custkey = c.c_custkey
        |  WHERE g.gap_days IS NOT NULL)
        |SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_gaps,
        |  round(sum(gap_days) / CAST(count(*) AS DOUBLE), 9)
        |    AS mean_gap_days,
        |  round(quantile_cont(gap_days, 0.5), 6) AS p50_gap,
        |  round(quantile_cont(gap_days, 0.9), 6) AS p90_gap
        |FROM k GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q239_revenue_waterfall" ->
      """WITH orev AS (SELECT l_orderkey,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
        |      AS BIGINT)) AS orev
        |  FROM lineitem GROUP BY 1),
        |y AS (SELECT c.c_mktsegment,
        |    sum(CASE WHEN year(o.o_orderdate) = 1997 THEN 1 ELSE 0 END) AS o97,
        |    sum(CASE WHEN year(o.o_orderdate) = 1998 THEN 1 ELSE 0 END) AS o98,
        |    sum(CASE WHEN year(o.o_orderdate) = 1997 THEN orev.orev ELSE 0 END)
        |      AS r97,
        |    sum(CASE WHEN year(o.o_orderdate) = 1998 THEN orev.orev ELSE 0 END)
        |      AS r98
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN orev ON o.o_orderkey = orev.l_orderkey
        |  WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1999-01-01'
        |  GROUP BY 1)
        |SELECT c_mktsegment,
        |  CAST(o97 AS BIGINT) AS orders_97, CAST(o98 AS BIGINT) AS orders_98,
        |  round(r97 / 10000.0, 4) AS revenue_97,
        |  round(r98 / 10000.0, 4) AS revenue_98,
        |  round((o98 - o97) * (r97 / (o97 * 10000.0)), 4) AS volume_effect,
        |  round(o97 * (r98 / (o98 * 10000.0) - r97 / (o97 * 10000.0)), 4)
        |    AS rate_effect,
        |  round((o98 - o97) * (r98 / (o98 * 10000.0) - r97 / (o97 * 10000.0)), 4)
        |    AS interaction,
        |  round((r98 - r97) / 10000.0, 4) AS total_change
        |FROM y ORDER BY c_mktsegment""".stripMargin,
    "q241_packing_diversity" ->
      """WITH d AS (SELECT source, doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (SELECT source, lang,
        |    coalesce(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 256 AS seq_id
        |  FROM d),
        |s AS (SELECT source, seq_id,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM c GROUP BY 1, 2)
        |SELECT source, n_langs, CAST(count(*) AS BIGINT) AS n_seqs
        |FROM s GROUP BY 1, 2 ORDER BY source, n_langs""".stripMargin)
}
