package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Exact, Windows}

/** FILE→WAVE MAP: Wave43Queries.scala holds round-12 WAVE-46 queries
  * q294–q298 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Storage-layout and calibration audits a 100 TB deployment runs
  * before committing to a policy: the exact edit-distance verification
  * stage of the dedup cascade (does the cheap Jaccard filter agree
  * with character-level truth?), the zone-map pruning audit (would
  * parquet row-group min/max stats actually skip blocks for the time
  * predicate workload?), the lang×source chi-square independence test
  * (is source a proxy for language — the stratification-design input),
  * the sessionization gap-threshold sweep (q18 assumes 30 min; this is
  * how 30 is CHOSEN), and the minute-resolution peak-concurrency read
  * (capacity planning over session intervals without an interval
  * self-join). All five are DuckDB-oracle-checked. */
object Wave43Queries extends QuerySet {

  /** Edit-distance verification of near-dup candidates: the exact
    * character-level stage a production dedup cascade runs AFTER the
    * cheap shingle-Jaccard filter (reference dedup pipelines verify
    * LSH candidates before dropping — this measures how often that
    * verification would overturn the filter). θ≥0.5 pairs from the
    * persisted store, both endpoint texts attached (two id-keyed
    * joins; the pair side is the small side and shrinks further at
    * higher θ), Levenshtein on the 240-char prefixes (the documented
    * cost bound: edit distance is O(len²) per pair, so production
    * verifiers always cap the compared span), normalized to
    * edit-similarity 1 − lev/max(len) and floor-quantized to the 4-dp
    * grid (floor of the identical IEEE double is engine-portable;
    * round(…, 4) is not when the ratio lands on a half-boundary —
    * prefix lengths ≤ 240 make that reachable, e.g. 1 − 1/160).
    * Banded by Jaccard via explicit
    * threshold comparisons (never floor-on-scaled-double — band edges
    * like 7/10 are not exact binary), decimal-exact mean per band.
    * A band whose min_edit_sim is far below its Jaccard is the
    * false-positive alarm. */
  private val q294: Q = (s, d) => {
    import s.implicits._
    val pairs = Stores.docPairs(s, d).where($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", $"jaccard")
    val txt = Tables.documents(s, d)
      .select($"doc_id", substring($"text", 1, 240).as("pfx"))
    val jBand = when($"jaccard" >= 0.9, 0.9).when($"jaccard" >= 0.8, 0.8)
      .when($"jaccard" >= 0.7, 0.7).when($"jaccard" >= 0.6, 0.6)
      .otherwise(0.5)
    // quantize via FLOOR on the scaled value, not round(…, 4): the ratio
    // lev/max(len) has small integer denominators (prefix lengths ≤ 240),
    // so it can land exactly on 4-dp half-boundaries (1 − 1/160 = 0.99375)
    // where Spark's HALF_UP-on-shortest-decimal round diverges from
    // DuckDB's exact-binary round — the q299/q309 hazard class. floor of
    // the identical IEEE double is engine-portable by construction.
    val editSim = floor(
      (lit(1.0) - levenshtein($"pa", $"pb").cast("double") /
        greatest(length($"pa"), length($"pb"))) * 10000) / 10000.0
    pairs
      .join(txt.select($"doc_id".as("doc_a"), $"pfx".as("pa")), Seq("doc_a"))
      .join(txt.select($"doc_id".as("doc_b"), $"pfx".as("pb")), Seq("doc_b"))
      .select(jBand.as("j_band"), editSim.as("es"))
      .groupBy($"j_band")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        Exact.davg($"es").as("avg_edit_sim"),
        min($"es").as("min_edit_sim"))
      .orderBy($"j_band")
  }

  /** Zone-map pruning audit: parquet row-group / file min-max stats
    * only skip I/O when the data's physical order correlates with the
    * predicate column — this measures that, for the append-ordered
    * events table and the dominant `ts >= T` predicate family.
    * Blocks = 256 consecutive event_ids (the row-group analog);
    * per-block min/max ts; for cutoffs at 25/50/75% of the time span,
    * the fraction of blocks a min-max index proves empty and the row
    * mass skipped. High prune_frac says time-ordered ingest makes
    * zone maps effective and no explicit re-sort is needed; low says
    * the table needs a ts sort (or z-order, q81) before the stats pay.
    * Cutoffs via exact integer-microsecond arithmetic with an explicit
    * floor (Spark's long cast truncates, DuckDB's rounds — floor is
    * the portable spelling). One scan, a blk-keyed aggregate, two
    * 1-row broadcasts. */
  private val q295: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_id", unix_micros($"ts").as("us"))
    val blocks = ev.groupBy(floor($"event_id" / 256).cast("long").as("blk"))
      .agg(max($"us").as("mx"), count(lit(1)).cast("long").as("rws"))
    val span = ev.agg(min($"us").as("lo"), max($"us").as("hi"))
    val pcts = Seq(25, 50, 75).toDF("pct")
    blocks.crossJoin(broadcast(span)).crossJoin(broadcast(pcts))
      .withColumn("cutoff",
        $"lo" + floor(($"hi" - $"lo") * $"pct" / 100.0).cast("long"))
      .groupBy($"pct", $"cutoff")
      .agg(count(lit(1)).cast("long").as("n_blocks"),
        sum(when($"mx" < $"cutoff", 1L).otherwise(0L)).as("n_pruned"),
        sum(when($"mx" < $"cutoff", $"rws").otherwise(0L)).as("rows_skipped"))
      .withColumn("prune_frac",
        round($"n_pruned" / $"n_blocks".cast("double"), 6))
      .select($"pct", $"cutoff", $"n_blocks", $"n_pruned", $"rows_skipped",
        $"prune_frac")
      .orderBy($"pct")
  }

  /** Chi-square independence of lang × source (+ Cramér's V): the
    * stratification-design input — if source determines language, a
    * per-source sample is already a per-language sample and the q46/
    * q138 strata can collapse; if independent, both dimensions need
    * explicit strata. Exact observed/expected from one corpus scan
    * collapsed to the ≤|langs|·|sources| cell frame; margins are
    * broadcast dim-bounded aggregates; per-cell contributions
    * quantized to 9 dp then decimal-summed (double summation order is
    * not associative — the q37 exact-statistics discipline). */
  private val q296: Q = (s, d) => {
    import s.implicits._
    val cells = Tables.documents(s, d).groupBy($"lang", $"source")
      .agg(count(lit(1)).cast("long").as("o"))
    val rl = cells.groupBy($"lang").agg(sum($"o").as("rl"))
    val cs = cells.groupBy($"source").agg(sum($"o").as("cs"))
    val tot = cells.agg(sum($"o").as("n"),
      countDistinct($"lang").cast("long").as("r"),
      countDistinct($"source").cast("long").as("c"))
    // widen to double BEFORE the margin product: rl·cs as long·long
    // overflows at ~3e9 rows per margin — below the corpus scale this
    // file targets (q307 documents the same discipline). Exact while
    // rl·cs ≤ 2^53, so fixture values are bit-identical either way.
    val e = $"rl".cast("double") * $"cs" / $"n"
    cells.join(broadcast(rl), Seq("lang")).join(broadcast(cs), Seq("source"))
      .crossJoin(broadcast(tot))
      .select($"n", $"r", $"c",
        round(pow($"o" - e, 2) / e, 9).as("contrib"))
      .groupBy($"n", $"r", $"c")
      .agg(sum($"contrib".cast("decimal(28,9)")).cast("double").as("chi2raw"))
      .select($"n",
        (($"r" - 1) * ($"c" - 1)).as("dof"),
        round($"chi2raw", 6).as("chi2"),
        round(sqrt($"chi2raw" / ($"n" * least($"r" - 1, $"c" - 1))), 6)
          .as("cramers_v"))
  }

  /** Sessionization gap-threshold sweep: q18 fixes the session gap at
    * 30 min; this is the calibration table that choice comes from.
    * For gap ∈ {15, 30, 60} min: session count, mean events/session,
    * and the fraction of inter-event gaps that break a session — all
    * three thresholds read from ONE user-keyed lag exchange (the
    * per-user ordered window q18 already pays), three conditional
    * sums, a 3-row struct explode. The knee of break_rate vs gap_min
    * is the defensible threshold. */
  private val q297: Q = (s, d) => {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val g = Tables.events(s, d).select($"user_id", $"ts", $"event_id")
      .withColumn("gap",
        unix_micros($"ts") - unix_micros(lag($"ts", 1).over(byUser)))
    def sessions(mins: Int): Column =
      sum(when($"gap".isNull || $"gap" > mins * 60L * 1000000L, 1L)
        .otherwise(0L))
    def breaks(mins: Int): Column =
      sum(when($"gap" > mins * 60L * 1000000L, 1L).otherwise(0L))
    val agg = g.agg(count(lit(1)).cast("long").as("n_events"),
      count($"gap").cast("long").as("n_gaps"),
      sessions(15).as("s15"), breaks(15).as("b15"),
      sessions(30).as("s30"), breaks(30).as("b30"),
      sessions(60).as("s60"), breaks(60).as("b60"))
    val rows = Seq((15, "s15", "b15"), (30, "s30", "b30"), (60, "s60", "b60"))
      .map { case (m, sc, bc) =>
        struct(lit(m).as("gap_min"), col(sc).as("n_sessions"),
          col(bc).as("n_breaks"))
      }
    agg.select($"n_events", $"n_gaps", explode(array(rows: _*)).as("x"))
      .select($"x.gap_min", $"x.n_sessions",
        round($"n_events" / $"x.n_sessions".cast("double"), 6)
          .as("avg_events_per_session"),
        round($"x.n_breaks" / $"n_gaps".cast("double"), 6).as("break_rate"))
      .orderBy($"gap_min")
  }

  /** Peak concurrent sessions per day at minute resolution — the
    * capacity-planning read, WITHOUT an interval self-join (the naive
    * `a.start <= b.end AND b.start <= a.end` pairing is quadratic in
    * overlapping sessions). Sweep-line instead: 30-min sessions (q18's
    * definition) emit +1 at their start minute and −1 one minute after
    * their end minute (inclusive-end occupancy); deltas collapse to a
    * per-minute net frame (bounded by the time SPAN — minutes in a
    * year, never corpus size); one running sum over that collapsed
    * frame is the concurrency step function, evaluated at its change
    * points. The global sort-window sits on an aggregate frame —
    * exactly the shape PlanGuard admits. Peak is per calendar day of
    * the change point; a day with no session boundary carries no row
    * (the step function did not move that day). */
  private val q298: Q = (s, d) => {
    import s.implicits._
    val sess = Windows
      .sessionize(Tables.events(s, d), "user_id", "ts", "event_id", 30)
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("st"), max($"ts").as("en"))
    val deltas = sess
      .select(date_trunc("minute", $"st").as("m"), lit(1L).as("dlt"))
      .unionByName(sess.select(
        timestamp_micros(unix_micros(date_trunc("minute", $"en")) + 60000000L)
          .as("m"),
        lit(-1L).as("dlt")))
    val perMin = deltas.groupBy($"m").agg(sum($"dlt").as("net"))
    perMin
      .withColumn("conc", sum($"net").over(
        Window.orderBy($"m").rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(to_date($"m").as("day"))
      .agg(max($"conc").as("peak_concurrency"),
        count(lit(1)).cast("long").as("n_change_minutes"))
      .orderBy($"day")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q294_pair_edit_verify" -> q294,
    "q295_zonemap_pruning" -> q295,
    "q296_chi2_lang_source" -> q296,
    "q297_session_gap_sweep" -> q297,
    "q298_concurrency_peak" -> q298)

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
    "q294_pair_edit_verify" -> (pairsCte +
      """,
        |p AS (SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5),
        |tx AS (SELECT doc_id, substr(text, 1, 240) AS pfx FROM documents),
        |e AS (SELECT
        |    CASE WHEN jaccard >= 0.9 THEN 0.9 WHEN jaccard >= 0.8 THEN 0.8
        |         WHEN jaccard >= 0.7 THEN 0.7 WHEN jaccard >= 0.6 THEN 0.6
        |         ELSE 0.5 END AS j_band,
        |    floor((1.0 - levenshtein(a.pfx, b.pfx) /
        |      CAST(greatest(length(a.pfx), length(b.pfx)) AS DOUBLE))
        |      * 10000) / 10000.0 AS es
        |  FROM p JOIN tx a ON doc_a = a.doc_id JOIN tx b ON doc_b = b.doc_id)
        |SELECT j_band, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CAST(es AS DECIMAL(18,4))) AS DOUBLE) / count(es)
        |    AS avg_edit_sim,
        |  min(es) AS min_edit_sim
        |FROM e GROUP BY 1 ORDER BY j_band""".stripMargin),
    "q295_zonemap_pruning" ->
      """WITH b AS (SELECT CAST(floor(event_id / 256) AS BIGINT) AS blk,
        |    max(epoch_us(ts)) AS mx, CAST(count(*) AS BIGINT) AS rws
        |  FROM events GROUP BY 1),
        |s AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        |  FROM events),
        |f AS (SELECT unnest([25, 50, 75]) AS pct),
        |c AS (SELECT pct,
        |    lo + CAST(floor((hi - lo) * pct / 100.0) AS BIGINT) AS cutoff
        |  FROM f CROSS JOIN s)
        |SELECT pct, cutoff, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(CASE WHEN mx < cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pruned,
        |  CAST(sum(CASE WHEN mx < cutoff THEN rws ELSE 0 END) AS BIGINT)
        |    AS rows_skipped,
        |  round(sum(CASE WHEN mx < cutoff THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS prune_frac
        |FROM c CROSS JOIN b GROUP BY pct, cutoff ORDER BY pct""".stripMargin,
    "q296_chi2_lang_source" ->
      """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rl AS (SELECT lang, sum(o) AS rl FROM cells GROUP BY 1),
        |cs AS (SELECT source, sum(o) AS cs FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS r,
        |    CAST(count(DISTINCT source) AS BIGINT) AS c FROM cells),
        |k AS (SELECT n, r, c,
        |    round(pow(o - CAST(rl.rl AS DOUBLE) * cs.cs / n, 2)
        |      / (CAST(rl.rl AS DOUBLE) * cs.cs / n), 9) AS contrib
        |  FROM cells JOIN rl USING (lang) JOIN cs USING (source)
        |    CROSS JOIN tot),
        |x AS (SELECT n, r, c,
        |    CAST(sum(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE) AS chi2raw
        |  FROM k GROUP BY 1, 2, 3)
        |SELECT n, (r - 1) * (c - 1) AS dof, round(chi2raw, 6) AS chi2,
        |  round(sqrt(chi2raw / (n * least(r - 1, c - 1))), 6) AS cramers_v
        |FROM x""".stripMargin,
    "q297_session_gap_sweep" ->
      """WITH g AS (SELECT epoch_us(ts) - epoch_us(lag(ts) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
        |  FROM events),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(gap) AS BIGINT) AS n_gaps,
        |    CAST(sum(CASE WHEN gap IS NULL OR gap > 900000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s15,
        |    CAST(sum(CASE WHEN gap > 900000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b15,
        |    CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s30,
        |    CAST(sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b30,
        |    CAST(sum(CASE WHEN gap IS NULL OR gap > 3600000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s60,
        |    CAST(sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b60
        |  FROM g),
        |t AS (SELECT unnest([15, 30, 60]) AS gap_min)
        |SELECT gap_min,
        |  CASE gap_min WHEN 15 THEN s15 WHEN 30 THEN s30 ELSE s60 END
        |    AS n_sessions,
        |  round(n_events / CAST(CASE gap_min WHEN 15 THEN s15
        |    WHEN 30 THEN s30 ELSE s60 END AS DOUBLE), 6)
        |    AS avg_events_per_session,
        |  round(CASE gap_min WHEN 15 THEN b15 WHEN 30 THEN b30 ELSE b60 END
        |    / CAST(n_gaps AS DOUBLE), 6) AS break_rate
        |FROM t CROSS JOIN a ORDER BY gap_min""".stripMargin,
    "q298_concurrency_peak" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
        |      AS session_id
        |  FROM x),
        |sess AS (SELECT user_id, session_id, min(ts) AS st, max(ts) AS en
        |  FROM y GROUP BY 1, 2),
        |d AS (
        |  SELECT date_trunc('minute', st) AS m, CAST(1 AS BIGINT) AS dlt
        |  FROM sess
        |  UNION ALL
        |  SELECT make_timestamp(epoch_us(date_trunc('minute', en))
        |    + 60000000) AS m, CAST(-1 AS BIGINT) AS dlt FROM sess),
        |pm AS (SELECT m, sum(dlt) AS net FROM d GROUP BY 1),
        |r AS (SELECT m, sum(net) OVER (ORDER BY m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM pm)
        |SELECT CAST(m AS DATE) AS day,
        |  CAST(max(conc) AS BIGINT) AS peak_concurrency,
        |  CAST(count(*) AS BIGINT) AS n_change_minutes
        |FROM r GROUP BY 1 ORDER BY day""".stripMargin)
}
