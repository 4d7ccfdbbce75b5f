package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave52Queries.scala holds round-13 WAVE-55 queries
  * q333–q337 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Experiment- and training-infrastructure audits: the Simpson's-
  * paradox stratification check (does the discount↔quantity
  * association reverse inside a stratum — the first question to ask
  * any aggregate correlation before acting on it), exact least-squares
  * changepoint location in the daily revenue series (the regime-break
  * LOCATOR that complements q127's CUSUM drift detector), a
  * sample-ratio-mismatch audit of a hash-based A/B assignment (the
  * experiment-platform invariant: an unbalanced split invalidates
  * every downstream metric before any t-test runs), the word2vec-style
  * unigram^0.75 negative-sampling table (the training-loop artifact:
  * per-token sampling probability and the cumulative mass the sampler
  * bins over), and per-event-type Fano-factor burstiness over hourly
  * windows — including EMPTY windows, which the naive groupBy silently
  * drops and which carry the whole signal for a bursty source
  * (q204 measures per-user regularity; this measures source-level
  * dispersion vs the Poisson baseline Fano=1).
  *
  * Exactness discipline as in Waves 50/54: integer/scaled-long
  * arithmetic to the last step (covariances on the cent×unit grid,
  * changepoint prefix sums on longs with the deterministic-double →
  * DECIMAL(38,0) path for squares, negative-sampling mass
  * floor-quantized to micro-unit longs BEFORE the vocabulary-wide
  * sum), c^0.75 spelled sqrt(c·sqrt(c)) — sqrt is IEEE
  * correctly-rounded in both engines where pow() is not — and
  * floor-on-scaled quantization everywhere. All five
  * DuckDB-oracle-checked. */
object Wave52Queries extends QuerySet {

  /** Simpson's-paradox audit: sign of the discount↔quantity covariance
    * overall vs within each l_returnflag stratum. Covariance assembles
    * from integer sums on the (cent-discount × unit-quantity) grid —
    * n·Σxy − Σx·Σy stays in long range at any benchmark scale — so
    * the reversal flag is exact, not a float-noise artifact. */
  private val q333: Q = (s, d) => {
    import s.implicits._
    val li = Tables.lineitem(s, d).select(
        $"l_returnflag".as("stratum"),
        round($"l_discount" * 100, 0).cast("long").as("x"),
        $"l_quantity".cast("long").as("y"))
    def cov(g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = g
      .agg(count(lit(1)).cast("long").as("n"), sum($"x").as("sx"),
        sum($"y").as("sy"), sum($"x" * $"y").as("sxy"))
      .select(col("*"),
        (($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n".cast("double") * $"n") / 100.0).as("cov"))
    val overall = cov(li.groupBy())
      .select($"n".as("n_total"), $"cov".as("cov_overall"))
    cov(li.groupBy($"stratum"))
      .crossJoin(broadcast(overall))
      .select($"stratum", $"n", $"n_total",
        (floor($"cov" * 1e8) / 1e8).as("cov_stratum"),
        (floor($"cov_overall" * 1e8) / 1e8).as("cov_overall"),
        (signum($"cov") =!= signum($"cov_overall")).as("sign_reversed"))
      .orderBy($"stratum")
  }

  /** Exact least-squares changepoint in daily revenue: the split day t
    * minimizing SSE_left(t) + SSE_right(t), located by evaluating every
    * candidate on the span-bounded day frame via prefix sums (cum Σ is
    * long-exact; cum Σx² crosses the deterministic-double →
    * DECIMAL(38,0) path). Ties break to the earliest day. q127's CUSUM
    * says THAT the level drifted; this says WHERE, with the
    * variance-explained share attached. */
  private val q334: Q = (s, d) => {
    import s.implicits._
    val day = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("r"))
    val w = Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, 0)
    val pre = day.select($"day", $"r",
      count(lit(1)).over(w).as("nl"),
      sum($"r").over(w).as("sl"),
      sum(($"r".cast("double") * $"r").cast("decimal(38,0)")).over(w)
        .cast("double").as("s2l"))
    val tot = day.agg(count(lit(1)).cast("long").as("n"),
      sum($"r").as("st"),
      sum(($"r".cast("double") * $"r").cast("decimal(38,0)"))
        .cast("double").as("s2t"))
    val cand = pre.crossJoin(broadcast(tot)).where($"nl" < $"n")
      .select($"day", $"nl", $"sl", $"n", $"st",
        (($"s2l" - $"sl".cast("double") * $"sl" / $"nl") +
          (($"s2t" - $"s2l") -
            ($"st" - $"sl").cast("double") * ($"st" - $"sl") /
              ($"n" - $"nl"))).as("sse"),
        ($"s2t" - $"st".cast("double") * $"st" / $"n").as("sse0"))
    cand.agg(min(struct($"sse", $"day", $"nl", $"sl", $"n", $"st",
        $"sse0")).as("b"))
      .select($"b.n".as("n_days"), $"b.day".as("change_day"),
        (floor($"b.sl" / ($"b.nl" * 100.0) * 100) / 100.0)
          .as("mean_before"),
        (floor(($"b.st" - $"b.sl") / (($"b.n" - $"b.nl") * 100.0) * 100) /
          100.0).as("mean_after"),
        (floor((lit(1.0) - $"b.sse" / $"b.sse0") * 1e6) / 1e6)
          .as("sse_reduction"))
  }

  /** Sample-ratio-mismatch audit of a hash-based 50/50 A/B assignment
    * (arm = md5(user_id) parity — the q58 split discipline, so both
    * engines assign identically). Emits the one-degree-of-freedom χ²
    * for users and for event exposures, plus the 95% flag
    * (χ² > 3.841): the invariant an experiment platform checks before
    * reading ANY metric. */
  private val q335: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select($"user_id", $"event_type")
      .withColumn("arm",
        (md5($"user_id".cast("string")) < lit("8")).cast("long"))
    val users = ev.select($"user_id", $"arm").distinct()
      .agg(sum($"arm").as("ua"),
        (count(lit(1)) - sum($"arm")).as("ub"))
    val events = ev.agg(sum($"arm").as("ea"),
      (count(lit(1)) - sum($"arm")).as("eb"))
    users.crossJoin(broadcast(events))
      .select($"ua".as("n_users_a"), $"ub".as("n_users_b"),
        (floor((($"ua" - $"ub") * ($"ua" - $"ub")).cast("double") /
          ($"ua" + $"ub") * 1e6) / 1e6).as("chi2_users"),
        (((($"ua" - $"ub") * ($"ua" - $"ub")).cast("double") /
          ($"ua" + $"ub")) > 3.841).as("srm_users"),
        $"ea".as("n_events_a"), $"eb".as("n_events_b"),
        (floor((($"ea" - $"eb") * ($"ea" - $"eb")).cast("double") /
          ($"ea" + $"eb") * 1e6) / 1e6).as("chi2_events"),
        (((($"ea" - $"eb") * ($"ea" - $"eb")).cast("double") /
          ($"ea" + $"eb")) > 3.841).as("srm_events"))
  }

  /** Word2vec-style negative-sampling table: the top-50 tokens by
    * count with sampling probability ∝ count^0.75 over the WHOLE
    * vocabulary. c^0.75 is spelled sqrt(c·sqrt(c)) (correctly-rounded
    * IEEE ops; pow() is not bit-stable cross-engine) and each token's
    * mass floor-quantizes to micro-unit LONGS before the
    * vocabulary-wide normalizer sums them — the quantization is part
    * of the spec, making the distributed sum order-free and the table
    * reproducible bit-for-bit. Cumulative share runs over the 50-row
    * head only (TakeOrderedAndProject under the window — the q124
    * shape). */
  private val q336: Q = (s, d) => {
    import s.implicits._
    val vocab = Tables.documents(s, d)
      .select(explode(graft.ops.Text.tokens($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).cast("long").as("cnt"))
      .select($"token", $"cnt",
        floor(sqrt($"cnt" * sqrt($"cnt")) * 1e6).cast("long").as("wq"))
    val z = vocab.agg(sum($"wq").as("z"),
      count(lit(1)).cast("long").as("vocab_size"))
    val top = vocab.orderBy($"cnt".desc, $"token").limit(50)
    top.crossJoin(broadcast(z))
      .withColumn("rank", row_number().over(
        Window.orderBy($"cnt".desc, $"token")))
      .withColumn("cum_wq", sum($"wq").over(
        Window.orderBy($"cnt".desc, $"token")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select($"rank".cast("long").as("rank"), $"token", $"cnt",
        $"vocab_size",
        (floor($"wq" / $"z".cast("double") * 1e9) / 1e9)
          .as("sample_prob"),
        (floor($"cum_wq" / $"z".cast("double") * 1e9) / 1e9)
          .as("cum_share"))
      .orderBy($"rank")
  }

  /** Per-event-type Fano factor (variance/mean of HOURLY event counts,
    * empty hours included — dropping them biases every bursty source
    * toward Poisson). The window-count moments are pure integer sums;
    * the global hour span comes off one min/max row. Fano = 1 is the
    * Poisson line; > 1 flags burst-driven sources whose hot shards
    * need time-salted partitioning at scale. */
  private val q337: Q = (s, d) => {
    import s.implicits._
    val hours = Tables.events(s, d)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).cast("long").as("c"))
    val span = hours.agg(((unix_timestamp(max($"h")) -
        unix_timestamp(min($"h"))) / lit(3600L) + 1L).cast("long")
        .as("n_windows"))
    hours.groupBy($"event_type")
      .agg(sum($"c").as("sc"), sum($"c" * $"c").as("sc2"),
        count(lit(1)).cast("long").as("n_nonempty"))
      .crossJoin(broadcast(span))
      .select($"event_type", $"n_windows", $"n_nonempty",
        $"sc".as("n_events"),
        (floor(($"sc2" / $"n_windows".cast("double") -
          ($"sc" / $"n_windows".cast("double")) *
            ($"sc" / $"n_windows".cast("double"))) /
          ($"sc" / $"n_windows".cast("double")) * 1e6) / 1e6)
          .as("fano_factor"))
      .orderBy($"event_type")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q333_simpson_audit" -> q333,
    "q334_changepoint" -> q334,
    "q335_srm_audit" -> q335,
    "q336_negative_sampling" -> q336,
    "q337_fano_burstiness" -> q337)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q333_simpson_audit" ->
      """WITH li AS (SELECT l_returnflag AS stratum,
        |    CAST(round(l_discount*100, 0) AS BIGINT) AS x,
        |    CAST(l_quantity AS BIGINT) AS y FROM lineitem),
        |st AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy
        |  FROM li GROUP BY 1),
        |ov AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
        |    (CAST(count(*) AS BIGINT)*CAST(sum(x*y) AS BIGINT) -
        |      CAST(sum(x) AS BIGINT)*CAST(sum(y) AS BIGINT)) /
        |      (CAST(count(*) AS DOUBLE)*count(*)) / 100.0 AS cov_overall
        |  FROM li)
        |SELECT stratum, n, n_total,
        |  floor((n*sxy - sx*sy) / (CAST(n AS DOUBLE)*n) / 100.0 * 1e8)
        |    / 1e8 AS cov_stratum,
        |  floor(cov_overall * 1e8) / 1e8 AS cov_overall,
        |  sign((n*sxy - sx*sy) / (CAST(n AS DOUBLE)*n) / 100.0)
        |    <> sign(cov_overall) AS sign_reversed
        |FROM st, ov ORDER BY stratum""".stripMargin,
    "q334_changepoint" ->
      """WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |pre AS (SELECT day, r,
        |    CAST(count(*) OVER w AS BIGINT) AS nl,
        |    CAST(sum(r) OVER w AS BIGINT) AS sl,
        |    CAST(sum(CAST(CAST(r AS DOUBLE) * r AS DECIMAL(38,0)))
        |      OVER w AS DOUBLE) AS s2l
        |  FROM day
        |  WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r) AS BIGINT) AS st,
        |    CAST(sum(CAST(CAST(r AS DOUBLE) * r AS DECIMAL(38,0)))
        |      AS DOUBLE) AS s2t
        |  FROM day),
        |cand AS (SELECT day, nl, sl, n, st,
        |    (s2l - CAST(sl AS DOUBLE)*sl/nl) +
        |      ((s2t - s2l) - CAST(st - sl AS DOUBLE)*(st - sl)/(n - nl))
        |      AS sse,
        |    s2t - CAST(st AS DOUBLE)*st/n AS sse0
        |  FROM pre, tot WHERE nl < n)
        |SELECT n AS n_days, day AS change_day,
        |  floor(sl / (nl * 100.0) * 100) / 100.0 AS mean_before,
        |  floor((st - sl) / ((n - nl) * 100.0) * 100) / 100.0
        |    AS mean_after,
        |  floor((1.0 - sse / sse0) * 1e6) / 1e6 AS sse_reduction
        |FROM cand ORDER BY sse, day LIMIT 1""".stripMargin,
    "q335_srm_audit" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8' THEN 1 ELSE 0
        |      END AS arm
        |  FROM events),
        |u AS (SELECT CAST(sum(arm) AS BIGINT) AS ua,
        |    CAST(count(*) - sum(arm) AS BIGINT) AS ub
        |  FROM (SELECT DISTINCT user_id, arm FROM ev)),
        |e AS (SELECT CAST(sum(arm) AS BIGINT) AS ea,
        |    CAST(count(*) - sum(arm) AS BIGINT) AS eb FROM ev)
        |SELECT ua AS n_users_a, ub AS n_users_b,
        |  floor(CAST((ua-ub)*(ua-ub) AS DOUBLE) / (ua+ub) * 1e6) / 1e6
        |    AS chi2_users,
        |  CAST((ua-ub)*(ua-ub) AS DOUBLE) / (ua+ub) > 3.841 AS srm_users,
        |  ea AS n_events_a, eb AS n_events_b,
        |  floor(CAST((ea-eb)*(ea-eb) AS DOUBLE) / (ea+eb) * 1e6) / 1e6
        |    AS chi2_events,
        |  CAST((ea-eb)*(ea-eb) AS DOUBLE) / (ea+eb) > 3.841 AS srm_events
        |FROM u, e""".stripMargin,
    "q336_negative_sampling" ->
      """WITH counts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token
        |    FROM documents) GROUP BY 1),
        |vocab AS (SELECT token, cnt,
        |    CAST(floor(sqrt(cnt * sqrt(cnt)) * 1e6) AS BIGINT) AS wq
        |  FROM counts),
        |z AS (SELECT CAST(sum(wq) AS BIGINT) AS z,
        |    CAST(count(*) AS BIGINT) AS vocab_size FROM vocab),
        |top AS (SELECT token, cnt, wq,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
        |      AS rank,
        |    CAST(sum(wq) OVER (ORDER BY cnt DESC, token
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_wq
        |  FROM vocab ORDER BY cnt DESC, token LIMIT 50)
        |SELECT rank, token, cnt, vocab_size,
        |  floor(wq / CAST(z AS DOUBLE) * 1e9) / 1e9 AS sample_prob,
        |  floor(cum_wq / CAST(z AS DOUBLE) * 1e9) / 1e9 AS cum_share
        |FROM top, z ORDER BY rank""".stripMargin,
    "q337_fano_burstiness" ->
      """WITH hours AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT CAST((epoch(max(h)) - epoch(min(h))) / 3600 + 1
        |    AS BIGINT) AS n_windows FROM hours),
        |g AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS sc,
        |    CAST(sum(c*c) AS BIGINT) AS sc2,
        |    CAST(count(*) AS BIGINT) AS n_nonempty
        |  FROM hours GROUP BY 1)
        |SELECT event_type, n_windows, n_nonempty, sc AS n_events,
        |  floor((sc2 / CAST(n_windows AS DOUBLE) -
        |    (sc / CAST(n_windows AS DOUBLE)) *
        |      (sc / CAST(n_windows AS DOUBLE))) /
        |    (sc / CAST(n_windows AS DOUBLE)) * 1e6) / 1e6 AS fano_factor
        |FROM g, span ORDER BY event_type""".stripMargin)
}
