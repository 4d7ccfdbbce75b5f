package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave55Queries.scala holds round-13 WAVE-58 queries
  * q348–q352 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Sequential/decomposition inference and capacity modeling: the
  * Friedman test (blocked rank ANOVA — does day-of-week move revenue
  * once every month serves as its own control; the related-samples
  * design q309/q324 cannot express), a one-sample Wald SPRT over the
  * daily purchase-share series (the sequential A/B monitor that stops
  * EARLY — emitting the day the evidence crossed a boundary, not just
  * an end-of-horizon verdict), Theil-T inequality decomposition of
  * document length within/between sources (the additive split Gini
  * (q187) famously lacks — with the quantization gap emitted
  * honestly), held-out cross-entropy of the event-type Markov model
  * (train on even-parity users, score odd-parity transitions — the
  * LM-eval loop run on behavioral data; q131 fits the model, this
  * says whether it generalizes), and a shard-makespan cost model
  * (max/mean token mass per shard at 8/32/128 shards — the straggler
  * price of a partitioning choice, which q135's skew counts imply but
  * never price).
  *
  * Exactness: the round-13 discipline — per-element floor-to-long
  * before any cross-row float reduction (rank halves are integral by
  * construction, per-day LLR and per-doc Theil terms floor to 1e-9
  * longs, logprobs to 1e-9), explicit pivot sums for tiny cross-group
  * reductions, one deterministic double formula per output row. All
  * five DuckDB-oracle-checked. */
object Wave55Queries extends QuerySet {

  /** Friedman blocked rank test: months are blocks, day-of-week the
    * treatment, mean daily revenue the response. Within-block average
    * ranks come from the 7×7 per-month comparison frame (integral in
    * half-units: 2·rank = 2·|{smaller}| + |{ties}| + 1), the χ² and
    * its tie correction assemble from integer rank sums via an
    * explicit 7-column pivot. */
  private val q348: Q = (s, d) => {
    import s.implicits._
    // round-16: a guarded fan-out ahead of this aggregate was tried and
    // REVERTED — bench 1.27 -> 1.71 s. The per-row work (date_format +
    // dayofweek + rounding) is cheap column arithmetic, so scan +
    // partial-agg beats scan + full-row exchange: the PERF.md fact-table
    // calibration (q02/q303) holds here too.
    val cell = Tables.orders(s, d)
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("m"),
        (dayofweek($"o_orderdate") - 1).as("dow"))
      .agg((sum(round($"o_totalprice" * 100, 0).cast("long")) /
        count(lit(1))).as("v"))
    // keep only complete blocks (all 7 dows present): a partial month
    // would shift that block's rank scale
    val full = cell.groupBy($"m").agg(count(lit(1)).as("k7"))
      .where($"k7" === 7L).select($"m")
    val ranked = cell.join(broadcast(full), Seq("m")).as("a")
      .join(cell.join(broadcast(full), Seq("m")).as("b"), Seq("m"))
      .groupBy($"m", $"a.dow".as("dow"))
      .agg((lit(2L) * sum(when($"b.v" < $"a.v", 1L).otherwise(0L)) +
        sum(when($"b.v" === $"a.v", 1L).otherwise(0L)) + 1L).as("r2"),
        sum(when($"b.v" === $"a.v", 1L).otherwise(0L)).as("t"))
    val ties = ranked.groupBy($"m")
      .agg(sum($"t" * $"t" - lit(1L)).as("tt"))
      .agg(sum($"tt").as("tsum"))
    val rsum = ranked.groupBy($"dow").agg(sum($"r2").as("r2s"))
    val pivCols = (0 to 6).map(j =>
      max(when($"dow" === j, $"r2s")).as(s"r$j"))
    val piv = rsum.groupBy().agg(pivCols.head, pivCols.tail: _*)
    val n = ranked.select($"m").distinct()
      .agg(count(lit(1)).cast("long").as("n"))
    val sumsq =
      $"r0".cast("double") * $"r0" + $"r1".cast("double") * $"r1" +
        $"r2".cast("double") * $"r2" + $"r3".cast("double") * $"r3" +
        $"r4".cast("double") * $"r4" + $"r5".cast("double") * $"r5" +
        $"r6".cast("double") * $"r6"
    val stat =
      (lit(12.0) / ($"n" * 7L * 8L) * (sumsq / 4.0) -
        lit(3.0) * $"n" * 8L) /
        (lit(1.0) - $"tsum".cast("double") / ($"n" * 7L * 48L))
    piv.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .select($"n", lit(7L).as("k"),
        (floor(stat * 1e6) / 1e6).as("friedman_chi2"))
  }

  /** One-sample Wald SPRT on the daily purchase share of the md5
    * hash-assigned B arm (H₀ p=0.19 vs H₁ p=0.21, α=β=0.05): per-day
    * log-likelihood-ratio increments floor to 1e-9 longs, the cumsum
    * walks the bounded day frame, and the output is the FIRST boundary
    * crossing — day, direction, and the final statistic. The
    * sequential monitor that q173's end-of-horizon lift cannot give:
    * at 100 TB of event flow, stopping three weeks early is the whole
    * point. */
  private val q349: Q = (s, d) => {
    import s.implicits._
    val lr1 = math.log(0.21 / 0.19)
    val lr0 = math.log(0.79 / 0.81)
    val a = math.log(0.95 / 0.05)
    val day = Tables.events(s, d)
      .where(md5($"user_id".cast("string")) >= lit("8"))
      .groupBy(to_date($"ts").as("day"))
      .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("x"), count(lit(1)).cast("long").as("nn"))
      .select($"day",
        floor(($"x" * lr1 + ($"nn" - $"x") * lr0) * 1e9).cast("long")
          .as("llrq"))
    val walk = day.select($"day",
      sum($"llrq").over(Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, 0)).as("cum"))
    val crossing = walk
      .where(abs($"cum") >= (a * 1e9).toLong)
      .agg(min(struct($"day", $"cum")).as("c"))
    walk.agg(count(lit(1)).cast("long").as("n_days"),
        max(struct($"day", $"cum")).as("last"))
      .crossJoin(broadcast(crossing))
      .select($"n_days",
        $"c.day".as("decision_day"),
        when($"c.cum".isNull, "continue")
          .when($"c.cum" > 0L, "accept_h1").otherwise("accept_h0")
          .as("decision"),
        (floor($"last.cum" / 1e9 * 1e6) / 1e6).as("final_llr"))
  }

  /** Theil-T inequality decomposition of document length by source:
    * T_total = T_within + T_between exactly in the reals; per-doc and
    * per-group log terms floor to 1e-9 longs first, so each component
    * is bit-stable and the (tiny) quantization residual is EMITTED as
    * additivity_gap rather than hidden. Gini (q187) ranks sources by
    * inequality; only Theil says how much lives inside vs between
    * them. */
  private val q350: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"source", $"n_chars")
    val g = docs.groupBy($"source")
      .agg(count(lit(1)).cast("long").as("ng"), sum($"n_chars").as("xg"))
    val tot = g.agg(sum($"ng").as("n"), sum($"xg").as("x"))
    val withT = docs.join(broadcast(g), Seq("source"))
      .crossJoin(broadcast(tot))
      .select($"source", $"ng", $"xg", $"n", $"x",
        // per-doc terms of T_total and T_g share the doc scan
        floor(($"n_chars" * $"n" / $"x".cast("double")) *
          log($"n_chars" * $"n" / $"x".cast("double")) * 1e9)
          .cast("long").as("ttq"),
        floor(($"n_chars" * $"ng" / $"xg".cast("double")) *
          log($"n_chars" * $"ng" / $"xg".cast("double")) * 1e9)
          .cast("long").as("twq"))
    val per = withT.groupBy($"source", $"ng", $"xg", $"n", $"x")
      .agg(sum($"ttq").as("stt"), sum($"twq").as("stw"))
      .select($"source", $"n", $"x",
        ($"stt".cast("double") / ($"n" * lit(1e9))).as("tt_share"),
        (($"xg".cast("double") / $"x") *
          ($"stw".cast("double") / ($"ng" * lit(1e9)))).as("tw_share"),
        (($"xg".cast("double") / $"x") *
          log(($"xg".cast("double") / $"x") /
            ($"ng".cast("double") / $"n"))).as("tb_share"))
    // 20 per-source shares cross the final sum re-quantized to longs
    val q = per.select(floor($"tt_share" * 1e9).cast("long").as("a"),
      floor($"tw_share" * 1e9).cast("long").as("b"),
      floor($"tb_share" * 1e9).cast("long").as("c"))
    q.agg(sum($"a").as("sa"), sum($"b").as("sb"), sum($"c").as("sc"))
      .select(($"sa" / 1e9).as("theil_total"),
        ($"sb" / 1e9).as("theil_within"),
        ($"sc" / 1e9).as("theil_between"),
        (($"sa" - $"sb" - $"sc") / 1e9).as("additivity_gap"))
  }

  /** Held-out cross-entropy of the event-type Markov chain: transition
    * counts fit on even-parity users, add-one-smoothed logprobs scored
    * on odd-parity users' transitions (per-user time order — q131's
    * partitioned-window shape). Emits mean cross-entropy (nats) and
    * perplexity. The generalization check behind q131: a model that
    * only memorizes its training users shows up here, nowhere else. */
  private val q351: Q = (s, d) => {
    import s.implicits._
    val tr = Tables.events(s, d)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("next", lead($"event_type", 1).over(
        Window.partitionBy($"user_id").orderBy($"ts", $"event_id")))
      .where($"next".isNotNull)
      .withColumn("train", pmod($"user_id", lit(2L)) === 0L)
    val counts = tr.where($"train")
      .groupBy($"event_type", $"next")
      .agg(count(lit(1)).cast("long").as("c"))
    val rows = counts.groupBy($"event_type")
      .agg(sum($"c").as("rowsum"))
    val test = tr.where(!$"train")
      .join(broadcast(counts), Seq("event_type", "next"), "left")
      .join(broadcast(rows), Seq("event_type"), "left")
      .select(floor(log((coalesce($"c", lit(0L)) + 1L) /
        (coalesce($"rowsum", lit(0L)) + 5L).cast("double")) * 1e9)
        .cast("long").as("lpq"))
    test.agg(count(lit(1)).cast("long").as("n_transitions"),
        sum($"lpq").as("slp"))
      .select($"n_transitions",
        (floor(-$"slp" / ($"n_transitions".cast("double") * 1e9) * 1e6)
          / 1e6).as("cross_entropy_nats"),
        (floor(exp(-$"slp" / ($"n_transitions".cast("double") * 1e9))
          * 1e4) / 1e4).as("perplexity"))
  }

  /** Shard-makespan cost model: token mass per shard under doc_id mod
    * S for S ∈ {8, 32, 128}, priced as max/mean (the straggler factor
    * — a 1.3 means the job's tail costs 30% of the cluster). q135
    * counts key skew; this converts a sharding choice into the number
    * capacity planning actually uses. */
  private val q352: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", graft.ops.Text.tokenCount($"text")
        .cast("long").as("toks"))
    Seq(8L, 32L, 128L).map { sN =>
      docs.groupBy(pmod($"doc_id", lit(sN)).as("shard"))
        .agg(sum($"toks").as("mass"))
        .agg(lit(sN).as("n_shards"), count(lit(1)).cast("long")
          .as("n_nonempty"), sum($"mass").as("total_tokens"),
          max($"mass").as("max_shard_tokens"))
        .select($"n_shards", $"n_nonempty", $"total_tokens",
          $"max_shard_tokens",
          (floor($"max_shard_tokens" * sN /
            $"total_tokens".cast("double") * 1e6) / 1e6)
            .as("makespan_factor"))
    }.reduce(_ unionByName _)
      .orderBy($"n_shards")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q348_friedman_test" -> q348,
    "q349_sprt_boundary" -> q349,
    "q350_theil_decomposition" -> q350,
    "q351_markov_heldout" -> q351,
    "q352_shard_makespan" -> q352)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q348_friedman_test" ->
      """WITH cell AS (SELECT strftime(o_orderdate, '%Y-%m') AS m,
        |    dayofweek(o_orderdate) AS dow,
        |    sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) / count(*)
        |      AS v
        |  FROM orders GROUP BY 1, 2),
        |full_m AS (SELECT m FROM cell GROUP BY m HAVING count(*) = 7),
        |cf AS (SELECT cell.* FROM cell JOIN full_m USING (m)),
        |ranked AS (SELECT a.m, a.dow,
        |    CAST(2 * sum(CASE WHEN b.v < a.v THEN 1 ELSE 0 END) +
        |      sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) + 1
        |      AS BIGINT) AS r2,
        |    CAST(sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t
        |  FROM cf a JOIN cf b ON a.m = b.m GROUP BY 1, 2),
        |ties AS (SELECT CAST(sum(tt) AS BIGINT) AS tsum FROM (
        |  SELECT m, sum(t*t - 1) AS tt FROM ranked GROUP BY 1)),
        |rs AS (SELECT dow, CAST(sum(r2) AS BIGINT) AS r2s
        |  FROM ranked GROUP BY 1),
        |piv AS (SELECT
        |    max(CASE WHEN dow=0 THEN r2s END) AS r0,
        |    max(CASE WHEN dow=1 THEN r2s END) AS r1,
        |    max(CASE WHEN dow=2 THEN r2s END) AS r2,
        |    max(CASE WHEN dow=3 THEN r2s END) AS r3,
        |    max(CASE WHEN dow=4 THEN r2s END) AS r4,
        |    max(CASE WHEN dow=5 THEN r2s END) AS r5,
        |    max(CASE WHEN dow=6 THEN r2s END) AS r6
        |  FROM rs),
        |nb AS (SELECT CAST(count(DISTINCT m) AS BIGINT) AS n
        |  FROM ranked)
        |SELECT n, CAST(7 AS BIGINT) AS k,
        |  floor((12.0 / (n * 7 * 8) *
        |    ((CAST(r0 AS DOUBLE)*r0 + CAST(r1 AS DOUBLE)*r1 +
        |      CAST(r2 AS DOUBLE)*r2 + CAST(r3 AS DOUBLE)*r3 +
        |      CAST(r4 AS DOUBLE)*r4 + CAST(r5 AS DOUBLE)*r5 +
        |      CAST(r6 AS DOUBLE)*r6) / 4.0) -
        |    3.0 * n * 8) /
        |    (1.0 - CAST(tsum AS DOUBLE) / (n * 7 * 48)) * 1e6) / 1e6
        |    AS friedman_chi2
        |FROM piv, nb, ties""".stripMargin,
    "q349_sprt_boundary" ->
      s"""WITH day AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(floor((sum(CASE WHEN event_type = 'purchase' THEN 1
        |        ELSE 0 END) * ${math.log(0.21 / 0.19)} +
        |      (count(*) - sum(CASE WHEN event_type = 'purchase' THEN 1
        |        ELSE 0 END)) * ${math.log(0.79 / 0.81)}) * 1e9)
        |      AS BIGINT) AS llrq
        |  FROM events WHERE md5(CAST(user_id AS VARCHAR)) >= '8'
        |  GROUP BY 1),
        |walk AS (SELECT day, CAST(sum(llrq) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum FROM day),
        |crossing AS (SELECT day, cum FROM walk
        |  WHERE abs(cum) >= ${(math.log(0.95 / 0.05) * 1e9).toLong}
        |  ORDER BY day LIMIT 1),
        |lastrow AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    max_by(cum, day) AS lastcum FROM walk)
        |SELECT n_days,
        |  (SELECT day FROM crossing) AS decision_day,
        |  CASE WHEN (SELECT cum FROM crossing) IS NULL THEN 'continue'
        |    WHEN (SELECT cum FROM crossing) > 0 THEN 'accept_h1'
        |    ELSE 'accept_h0' END AS decision,
        |  floor(lastcum / 1e9 * 1e6) / 1e6 AS final_llr
        |FROM lastrow""".stripMargin,
    "q350_theil_decomposition" ->
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(n_chars) AS BIGINT) AS xg
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(xg) AS BIGINT) AS x FROM g),
        |wt AS (SELECT d.source, g.ng, g.xg, tot.n, tot.x,
        |    CAST(floor((d.n_chars * tot.n / CAST(tot.x AS DOUBLE)) *
        |      ln(d.n_chars * tot.n / CAST(tot.x AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS ttq,
        |    CAST(floor((d.n_chars * g.ng / CAST(g.xg AS DOUBLE)) *
        |      ln(d.n_chars * g.ng / CAST(g.xg AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS twq
        |  FROM documents d JOIN g USING (source) CROSS JOIN tot),
        |per AS (SELECT source, n, x,
        |    CAST(sum(ttq) AS BIGINT) / (n * 1e9) AS tt_share,
        |    (CAST(xg AS DOUBLE) / x) *
        |      (CAST(sum(twq) AS BIGINT) / (ng * 1e9)) AS tw_share,
        |    (CAST(xg AS DOUBLE) / x) *
        |      ln((CAST(xg AS DOUBLE) / x) / (CAST(ng AS DOUBLE) / n))
        |      AS tb_share
        |  FROM wt GROUP BY source, ng, xg, n, x),
        |q AS (SELECT CAST(floor(tt_share * 1e9) AS BIGINT) AS a,
        |    CAST(floor(tw_share * 1e9) AS BIGINT) AS b,
        |    CAST(floor(tb_share * 1e9) AS BIGINT) AS c FROM per)
        |SELECT CAST(sum(a) AS BIGINT) / 1e9 AS theil_total,
        |  CAST(sum(b) AS BIGINT) / 1e9 AS theil_within,
        |  CAST(sum(c) AS BIGINT) / 1e9 AS theil_between,
        |  CAST(sum(a) - sum(b) - sum(c) AS BIGINT) / 1e9
        |    AS additivity_gap
        |FROM q""".stripMargin,
    "q351_markov_heldout" ->
      """WITH tr AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next,
        |    user_id % 2 = 0 AS train
        |  FROM events),
        |t2 AS (SELECT * FROM tr WHERE next IS NOT NULL),
        |counts AS (SELECT event_type, next, CAST(count(*) AS BIGINT)
        |    AS c FROM t2 WHERE train GROUP BY 1, 2),
        |rsum AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS rowsum
        |  FROM counts GROUP BY 1),
        |test AS (SELECT CAST(floor(ln((coalesce(c, 0) + 1) /
        |      CAST(coalesce(rowsum, 0) + 5 AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS lpq
        |  FROM t2
        |  LEFT JOIN counts USING (event_type, next)
        |  LEFT JOIN rsum USING (event_type)
        |  WHERE NOT train),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_transitions,
        |    CAST(sum(lpq) AS BIGINT) AS slp FROM test)
        |SELECT n_transitions,
        |  floor(-slp / (CAST(n_transitions AS DOUBLE) * 1e9) * 1e6)
        |    / 1e6 AS cross_entropy_nats,
        |  floor(exp(-slp / (CAST(n_transitions AS DOUBLE) * 1e9))
        |    * 1e4) / 1e4 AS perplexity
        |FROM a""".stripMargin,
    "q352_shard_makespan" ->
      """WITH docs AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |s AS (SELECT n_shards, CAST(count(*) AS BIGINT) AS n_nonempty,
        |    CAST(sum(mass) AS BIGINT) AS total_tokens,
        |    CAST(max(mass) AS BIGINT) AS max_shard_tokens
        |  FROM (SELECT sn.n_shards, doc_id % sn.n_shards AS shard,
        |      CAST(sum(toks) AS BIGINT) AS mass
        |    FROM docs CROSS JOIN (SELECT unnest([8, 32, 128])
        |      AS n_shards) sn
        |    GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT CAST(n_shards AS BIGINT) AS n_shards, n_nonempty,
        |  total_tokens, max_shard_tokens,
        |  floor(max_shard_tokens * n_shards /
        |    CAST(total_tokens AS DOUBLE) * 1e6) / 1e6
        |    AS makespan_factor
        |FROM s ORDER BY n_shards""".stripMargin)
}
