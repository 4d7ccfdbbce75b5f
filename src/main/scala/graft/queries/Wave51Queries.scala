package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** FILE→WAVE MAP: Wave51Queries.scala holds round-13 WAVE-54 queries
  * q328–q332 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Estimator and engine-machinery audits — the checks a platform team
  * runs on its OWN infrastructure: the equi-depth histogram a
  * cost-based optimizer keeps per column (boundaries + per-bucket NDV
  * off the exact value histogram — q317/q318 audit the planner's
  * estimates, this builds the statistic those estimates should come
  * from), a seeded label-randomization test for a group difference
  * (the inference q309/q323 give asymptotically, re-derived with NO
  * distributional assumption — every "random" relabeling is a pure
  * integer hash both engines compute identically), the delete-one-month
  * jackknife standard error of a ratio estimator (how stable is
  * revenue-per-order, month-resampled), a measured Bloom-filter
  * false-positive-rate audit (the join-prefilter structure at 100 TB;
  * q59 USES a bloom filter, this MEASURES one against its membership
  * truth on an m=2²⁰ bit array), and an incremental-view-maintenance
  * merge audit (partial aggregates split at a date cutoff, merged, and
  * proven bit-equal to the direct aggregate — the algebra every
  * backfill-then-stream gold table silently relies on, checkable only
  * because money sums are scaled-long exact; double sums would drift
  * at the merge boundary).
  *
  * Scale discipline as in Wave 50: integer/scaled-long arithmetic to
  * the last step, floor-on-scaled quantization, windows only over
  * collapsed histogram frames, no order-dependent float reduction
  * (q330's pseudo-values quantize to micro-units BEFORE the
  * cross-month moments). All five are DuckDB-oracle-checked. */
object Wave51Queries extends QuerySet {

  /** Equi-depth 16-bucket histogram of l_extendedprice with per-bucket
    * NDV — the optimizer statistic. Buckets assign on the exact
    * cent-grid value histogram by cumulative row count
    * (bucket = ⌊16·(cum−1)/N⌋, a pure integer function, so boundaries
    * are reproducible); per-bucket rows, distinct values, and min/max
    * bounds read off the same collapsed frame. */
  private val q328: Q = (s, d) => {
    import s.implicits._
    // round-15 guarded fan-out keyed by the histogram key itself: the
    // repartition IS the aggregation's exchange (same hash key), so the
    // plan keeps one shuffle and the cent-histogram partial aggregation
    // runs on the cluster instead of the fixture's single row group
    val hist = graft.ops.FanOut.perRowCompute(
        Tables.lineitem(s, d)
          .select(round($"l_extendedprice" * 100, 0).cast("long").as("pc")),
        "pc")
      .groupBy($"pc")
      .agg(count(lit(1)).cast("long").as("nv"))
    val cum = hist.select($"pc", $"nv",
      sum($"nv").over(Window.orderBy($"pc")
        .rowsBetween(Window.unboundedPreceding, 0)).as("cum"))
    cum.crossJoin(broadcast(hist.agg(sum($"nv").cast("long").as("n"))))
      .select($"pc", $"nv",
        floor(lit(16L) * ($"cum" - 1L) / $"n").cast("long").as("bucket"))
      .groupBy($"bucket")
      .agg(sum($"nv").as("n_rows"),
        count(lit(1)).cast("long").as("n_distinct"),
        (min($"pc") / 100.0).as("lo_price"),
        (max($"pc") / 100.0).as("hi_price"))
      .orderBy($"bucket")
  }

  /** Seeded label-randomization test: is the mean n_chars difference
    * between src0 and src1 documents explainable by chance? 128
    * pseudo-relabelings, each label the PARITY OF AN INTEGER HASH
    * mixed from (doc_id, perm) — identical arithmetic in both engines,
    * no RNG anywhere — against the observed two-group difference.
    * p = share of relabelings at least as extreme. (A Bernoulli-label
    * randomization test: group sizes float around n/2 rather than
    * being fixed — the standard trade for a closed-form-free, exactly
    * reproducible null.) */
  private val q329: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .where($"source".isin("src0", "src1"))
      .select($"doc_id", ($"source" === "src1").cast("long").as("g"),
        $"n_chars")
      // staged: unstaged, the documents scan runs twice and q329 is
      // slower (0.081 → 0.104 s at sf0.1)
      .transform(graft.ops.Staged(_))
    val obs = docs.agg(
        sum(when($"g" === 1L, $"n_chars")).as("s1"),
        sum(when($"g" === 1L, 1L).otherwise(0L)).as("c1"),
        sum(when($"g" === 0L, $"n_chars")).as("s0"),
        sum(when($"g" === 0L, 1L).otherwise(0L)).as("c0"))
      .select($"c1".as("n_a"), $"c0".as("n_b"),
        ($"s1" / $"c1".cast("double") - $"s0" / $"c0".cast("double"))
          .as("d_obs"))
    val perms = docs
      .crossJoin(broadcast(s.range(128).select($"id".as("perm"))))
      .withColumn("bit",
        pmod($"doc_id" * 2654435761L + $"perm" * 40503L + 2463534242L,
          lit(2147483647L)) % 2L)
      .groupBy($"perm")
      .agg(sum(when($"bit" === 1L, $"n_chars")).as("s1"),
        sum(when($"bit" === 1L, 1L).otherwise(0L)).as("c1"),
        sum(when($"bit" === 0L, $"n_chars")).as("s0"),
        sum(when($"bit" === 0L, 1L).otherwise(0L)).as("c0"))
      .select($"perm", ($"s1" / $"c1".cast("double") -
        $"s0" / $"c0".cast("double")).as("dk"))
    perms.crossJoin(broadcast(obs))
      .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"),
        (floor(max($"d_obs") * 1e6) / 1e6).as("obs_diff"),
        count(lit(1)).cast("long").as("n_perms"),
        (sum(when(abs($"dk") >= abs($"d_obs"), 1L).otherwise(0L)) /
          count(lit(1)).cast("double")).as("p_value"))
  }

  /** Delete-one-month jackknife SE of the revenue-per-order ratio. The
    * leave-one-out pseudo-ratios quantize to micro-units (longs)
    * BEFORE the cross-month mean/variance, so the month-frame moments
    * are exact integer sums — the square alone leaves long range and
    * goes through the deterministic-double → DECIMAL(38,0) path (exact
    * for integer-valued doubles ≥ 2⁵³, order-free in both engines). */
  private val q330: Q = (s, d) => {
    import s.implicits._
    val m = Tables.orders(s, d)
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("month"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("rev"),
        count(lit(1)).cast("long").as("cnt"))
    val tot = m.agg(sum($"rev").as("trev"), sum($"cnt").as("tcnt"),
      count(lit(1)).cast("long").as("k"))
    val pseudo = m.crossJoin(broadcast(tot))
      .select($"k", $"trev", $"tcnt",
        floor((($"trev" - $"rev").cast("double") / ($"tcnt" - $"cnt") /
          100.0) * 1e6).cast("long").as("rq"))
    pseudo.groupBy($"k", $"trev", $"tcnt")
      .agg(sum($"rq").as("srq"),
        sum(($"rq".cast("double") * $"rq").cast("decimal(38,0)"))
          .cast("double").as("srq2"))
      .select($"k".as("n_months"),
        (floor(($"trev".cast("double") / $"tcnt" / 100.0) * 1e6) / 1e6)
          .as("ratio_full"),
        (floor($"srq" / $"k".cast("double")) / 1e6).as("jk_mean"),
        (floor(sqrt((($"k" - 1L).cast("double") / $"k") *
          ($"srq2" / $"k" -
            ($"srq".cast("double") / $"k") *
              ($"srq".cast("double") / $"k")) / 1e12) * 1e6) / 1e6)
          .as("jk_se"))
  }

  /** Measured Bloom-filter false-positive rate: members are customers
    * with a 1995 order, probes are customers without one, the filter
    * is m=2²⁰ bits × k=3 integer-mix hashes ((x·Aⱼ+Bⱼ) mod (2³¹−1)
    * mod m — the same closed-form in both engines). A probe false-
    * positives iff all 3 of its positions are set by SOME member. The
    * measured rate is the number q59-style decontamination actually
    * pays in leaked lookups; the ⌈(1−e^(−kn/m))^k⌉ theory line lives
    * here in the doc, not the output (cross-engine pow() is not
    * bit-stable). */
  private val q331: Q = (s, d) => {
    import s.implicits._
    val members = Tables.orders(s, d)
      .where(year($"o_orderdate") === 1995)
      .select($"o_custkey".as("key")).distinct()
      // staged: unstaged, the distinct's shuffle runs again (+35% shuffle
      // bytes at sf0.01, +51% at sf0.1)
      .transform(graft.ops.Staged(_))
    // round-16: staged — the probe set feeds BOTH the false-positive
    // count and the n_probes denominator; unstaged, the customer scan
    // and the anti join against the member set ran twice (q331 at
    // sf0.1: 0.210 → 0.253 s)
    val probes = Tables.customer(s, d).select($"c_custkey".as("key"))
      .join(members, Seq("key"), "left_anti")
      .transform(graft.ops.Staged(_))
    def positions(df: DataFrame): DataFrame = {
      val hashes = Seq((1103515245L, 12345L), (2654435761L, 40503L),
        (2246822519L, 3266489917L))
      hashes.zipWithIndex.map { case ((a, b), j) =>
        df.select(lit(j).as("j"),
          (pmod($"key" * a + b, lit(2147483647L)) % 1048576L).as("pos"))
      }.reduce(_ unionByName _)
    }
    val bits = positions(members).select($"pos").distinct()
      // staged: unstaged, the bit-position shuffle runs again (+74%
      // shuffle bytes at sf0.01, +73% at sf0.1)
      .transform(graft.ops.Staged(_))
    // a probe contributes k=3 position rows; it false-positives iff all
    // 3 survive the semi-join — count probes whose surviving-row count
    // is 3 (the key rides through the position explode)
    val probePos = probes.select($"key").crossJoin(
        broadcast(s.range(3).select($"id".cast("int").as("j"))))
      .withColumn("pos",
        when($"j" === 0, pmod($"key" * 1103515245L + 12345L,
          lit(2147483647L)) % 1048576L)
        .when($"j" === 1, pmod($"key" * 2654435761L + 40503L,
          lit(2147483647L)) % 1048576L)
        .otherwise(pmod($"key" * 2246822519L + 3266489917L,
          lit(2147483647L)) % 1048576L))
    val fpCount = probePos.join(bits, Seq("pos"), "left_semi")
      .groupBy($"key").agg(count(lit(1)).as("nhit"))
      .where($"nhit" === 3L)
      .agg(count(lit(1)).cast("long").as("n_false_pos"))
    members.agg(count(lit(1)).cast("long").as("n_members"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).cast("long")
        .as("n_bits_set"))))
      .crossJoin(broadcast(probes.agg(count(lit(1)).cast("long")
        .as("n_probes"))))
      .crossJoin(broadcast(fpCount))
      .select(lit(1048576L).as("m_bits"), lit(3L).as("k_hashes"),
        $"n_members", $"n_bits_set", $"n_probes",
        coalesce($"n_false_pos", lit(0L)).as("n_false_pos"),
        (floor(coalesce($"n_false_pos", lit(0L)) /
          $"n_probes".cast("double") * 1e6) / 1e6).as("fpp_measured"))
  }

  /** Incremental-view-maintenance merge audit: per-month revenue/count
    * computed directly over the full table and re-assembled from two
    * partial aggregates split at 1997-01-01 — the backfill+stream
    * boundary every medallion gold table has. With scaled-long money
    * the merge is exact BY CONSTRUCTION; the audit emits both sides
    * and the per-month equality flag so a regression to float sums
    * (where the merge boundary drifts) becomes a visible diff, not a
    * silent bias. */
  private val q332: Q = (s, d) => {
    import s.implicits._
    val o = Tables.orders(s, d).select(
        date_format($"o_orderdate", "yyyy-MM").as("month"),
        round($"o_totalprice" * 100, 0).cast("long").as("cents"),
        ($"o_orderdate" < lit("1997-01-01").cast("date")).as("old"))
    val direct = o.groupBy($"month")
      .agg(sum($"cents").as("rc_direct"),
        count(lit(1)).cast("long").as("n_direct"))
    val merged = o.where($"old")
      .groupBy($"month").agg(sum($"cents").as("rc"),
        count(lit(1)).cast("long").as("n"))
      .unionByName(o.where(!$"old")
        .groupBy($"month").agg(sum($"cents").as("rc"),
          count(lit(1)).cast("long").as("n")))
      .groupBy($"month")
      .agg(sum($"rc").as("rc_merged"), sum($"n").as("n_merged"))
    direct.join(merged, Seq("month"))
      .select($"month", $"n_direct", $"n_merged",
        ($"rc_direct" / 100.0).as("rev_direct"),
        ($"rc_merged" / 100.0).as("rev_merged"),
        ($"rc_direct" === $"rc_merged" && $"n_direct" === $"n_merged")
          .as("merge_exact"))
      .orderBy($"month")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q328_equidepth_hist" -> q328,
    "q329_randomization_test" -> q329,
    "q330_jackknife_ratio" -> q330,
    "q331_bloom_fpp_audit" -> q331,
    "q332_ivm_merge_audit" -> q332)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q328_equidepth_hist" ->
      """WITH hist AS (SELECT CAST(round(l_extendedprice*100, 0) AS BIGINT)
        |    AS pc, CAST(count(*) AS BIGINT) AS nv
        |  FROM lineitem GROUP BY 1),
        |cum AS (SELECT pc, nv, CAST(sum(nv) OVER (ORDER BY pc
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum FROM hist),
        |tot AS (SELECT CAST(sum(nv) AS BIGINT) AS n FROM hist),
        |b AS (SELECT pc, nv,
        |    CAST(floor(16 * (cum - 1) / CAST(n AS DOUBLE)) AS BIGINT)
        |      AS bucket
        |  FROM cum, tot)
        |SELECT bucket, CAST(sum(nv) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  min(pc) / 100.0 AS lo_price, max(pc) / 100.0 AS hi_price
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q329_randomization_test" ->
      """WITH docs AS (SELECT doc_id,
        |    CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS g, n_chars
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |obs AS (SELECT
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN g = 1 THEN n_chars END) /
        |      CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS DOUBLE) -
        |    sum(CASE WHEN g = 0 THEN n_chars END) /
        |      CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS d_obs
        |  FROM docs),
        |perms AS (SELECT perm,
        |    sum(CASE WHEN bit = 1 THEN n_chars END) /
        |      CAST(sum(CASE WHEN bit = 1 THEN 1 ELSE 0 END) AS DOUBLE) -
        |    sum(CASE WHEN bit = 0 THEN n_chars END) /
        |      CAST(sum(CASE WHEN bit = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS dk
        |  FROM (SELECT d.doc_id, d.n_chars, p.perm,
        |      ((d.doc_id * 2654435761 + p.perm * 40503 + 2463534242)
        |        % 2147483647) % 2 AS bit
        |    FROM docs d CROSS JOIN
        |      (SELECT CAST(range AS BIGINT) AS perm FROM range(128)) p)
        |  GROUP BY perm)
        |SELECT n_a, n_b, floor(d_obs * 1e6) / 1e6 AS obs_diff,
        |  CAST(count(*) AS BIGINT) AS n_perms,
        |  sum(CASE WHEN abs(dk) >= abs(d_obs) THEN 1 ELSE 0 END) /
        |    CAST(count(*) AS DOUBLE) AS p_value
        |FROM perms, obs GROUP BY n_a, n_b, d_obs""".stripMargin,
    "q330_jackknife_ratio" ->
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT))
        |      AS BIGINT) AS rev,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(rev) AS BIGINT) AS trev,
        |    CAST(sum(cnt) AS BIGINT) AS tcnt,
        |    CAST(count(*) AS BIGINT) AS k FROM m),
        |pseudo AS (SELECT k, trev, tcnt,
        |    CAST(floor((CAST(trev - rev AS DOUBLE) / (tcnt - cnt) /
        |      100.0) * 1e6) AS BIGINT) AS rq
        |  FROM m, tot),
        |agg AS (SELECT k, trev, tcnt,
        |    CAST(sum(rq) AS BIGINT) AS srq,
        |    CAST(sum(CAST(CAST(rq AS DOUBLE) * rq AS DECIMAL(38,0)))
        |      AS DOUBLE) AS srq2
        |  FROM pseudo GROUP BY k, trev, tcnt)
        |SELECT k AS n_months,
        |  floor((CAST(trev AS DOUBLE) / tcnt / 100.0) * 1e6) / 1e6
        |    AS ratio_full,
        |  floor(srq / CAST(k AS DOUBLE)) / 1e6 AS jk_mean,
        |  floor(sqrt((CAST(k - 1 AS DOUBLE) / k) *
        |    (srq2 / k - (CAST(srq AS DOUBLE) / k) *
        |      (CAST(srq AS DOUBLE) / k)) / 1e12) * 1e6) / 1e6 AS jk_se
        |FROM agg""".stripMargin,
    "q331_bloom_fpp_audit" ->
      """WITH members AS (SELECT DISTINCT o_custkey AS key FROM orders
        |  WHERE extract(year FROM o_orderdate) = 1995),
        |probes AS (SELECT c_custkey AS key FROM customer
        |  WHERE c_custkey NOT IN (SELECT key FROM members)),
        |bits AS (
        |  SELECT DISTINCT ((key * 1103515245 + 12345) % 2147483647)
        |    % 1048576 AS pos FROM members
        |  UNION
        |  SELECT DISTINCT ((key * 2654435761 + 40503) % 2147483647)
        |    % 1048576 FROM members
        |  UNION
        |  SELECT DISTINCT ((key * 2246822519 + 3266489917) % 2147483647)
        |    % 1048576 FROM members),
        |pp AS (SELECT key, ((key * 1103515245 + 12345) % 2147483647)
        |    % 1048576 AS pos FROM probes
        |  UNION ALL
        |  SELECT key, ((key * 2654435761 + 40503) % 2147483647)
        |    % 1048576 FROM probes
        |  UNION ALL
        |  SELECT key, ((key * 2246822519 + 3266489917) % 2147483647)
        |    % 1048576 FROM probes),
        |fp AS (SELECT CAST(count(*) AS BIGINT) AS n_false_pos FROM (
        |  SELECT key FROM pp WHERE pos IN (SELECT pos FROM bits)
        |  GROUP BY key HAVING count(*) = 3))
        |SELECT CAST(1048576 AS BIGINT) AS m_bits,
        |  CAST(3 AS BIGINT) AS k_hashes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
        |  (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
        |  (SELECT CAST(count(*) AS BIGINT) FROM probes) AS n_probes,
        |  n_false_pos,
        |  floor(n_false_pos / CAST((SELECT count(*) FROM probes)
        |    AS DOUBLE) * 1e6) / 1e6 AS fpp_measured
        |FROM fp""".stripMargin,
    "q332_ivm_merge_audit" ->
      """WITH o AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents,
        |    o_orderdate < DATE '1997-01-01' AS old
        |  FROM orders),
        |direct AS (SELECT month, CAST(sum(cents) AS BIGINT) AS rc_direct,
        |    CAST(count(*) AS BIGINT) AS n_direct
        |  FROM o GROUP BY 1),
        |parts AS (SELECT month, CAST(sum(cents) AS BIGINT) AS rc,
        |    CAST(count(*) AS BIGINT) AS n FROM o WHERE old GROUP BY 1
        |  UNION ALL
        |  SELECT month, CAST(sum(cents) AS BIGINT),
        |    CAST(count(*) AS BIGINT) FROM o WHERE NOT old GROUP BY 1),
        |merged AS (SELECT month, CAST(sum(rc) AS BIGINT) AS rc_merged,
        |    CAST(sum(n) AS BIGINT) AS n_merged FROM parts GROUP BY 1)
        |SELECT month, n_direct, n_merged,
        |  rc_direct / 100.0 AS rev_direct,
        |  rc_merged / 100.0 AS rev_merged,
        |  rc_direct = rc_merged AND n_direct = n_merged AS merge_exact
        |FROM direct JOIN merged USING (month)
        |ORDER BY month""".stripMargin)
}
