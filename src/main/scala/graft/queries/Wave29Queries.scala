package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Exact, Text}

/** FILE→WAVE MAP: Wave29Queries.scala holds round-11 WAVE-32 queries
  * q221–q229 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Pair-store analytics + warehouse shapes round 4 + packing/novelty
  * curation ops: the θ-band pair-score profile and MinHash calibration
  * read the persisted pair store ([[Stores.docPairs]]); the TPC-H Q5/
  * Q14/Q4 analogs and the market-basket pair mine extend the classic
  * BI family; n-gram novelty attribution, cross-language duplicate
  * leakage, and training-sequence packing stats extend the LLM
  * data-pipeline family. All DuckDB-oracle-checked except q228
  * (seeded-xxhash64 MinHash → golden-pinned). */
object Wave29Queries extends QuerySet {

  private val Dec = "decimal(28,12)"

  /** Jaccard-score band profile of the near-dup pair graph: pair counts
    * and decimal-exact mean scores per 0.05-wide band over the persisted
    * θ=0.3 pair store — the score-distribution read that motivates a
    * threshold choice (q167 gives counts at 4 candidate θs; this gives
    * the whole shape). One parquet scan + a ≤14-row aggregate. */
  private val q221: Q = (s, d) => {
    import s.implicits._
    Stores.docPairs(s, d)
      .select(floor($"jaccard" * 20).cast("int").as("band"), $"jaccard")
      .groupBy($"band")
      // floor-on-scaled, not round(.,9): exact-rational jaccards land on
      // 9-dp half-boundaries at sf1 (caught by the round-13 sf1 oracle
      // gate); per-element floor to 1e-9 longs keeps the sum integral
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        (floor(sum(floor($"jaccard" * 1e9)) /
          count(lit(1)).cast("double")) / 1e9).as("mean_jaccard"))
      .withColumn("band_lo", round($"band" / 20.0, 2))
      .select($"band", $"band_lo", $"n_pairs", $"mean_jaccard")
      .orderBy($"band")
  }

  /** Local-supplier volume per nation (TPC-H Q5's shape): revenue from
    * orders where the customer and the lineitem's supplier share a
    * nation, for one region and a two-year window. The region-filtered
    * nation list, suppliers, and customers ride broadcasts (dimension-
    * sized); the date-pruned orders join is the one orderkey-keyed wide
    * exchange; the same-nation predicate is evaluated map-side after
    * both broadcasts. Scaled-long exact revenue. */
  private val q222: Q = (s, d) => {
    import s.implicits._
    val euroNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).where($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val cust = Tables.customer(s, d)
      .join(broadcast(euroNations), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_nationkey".as("cust_nk"), $"n_name")
    val supp = Tables.supplier(s, d)
      .select($"s_suppkey", $"s_nationkey".as("supp_nk"))
    val ord = Tables.orders(s, d)
      .where($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1998-01-01")
      .select($"o_orderkey", $"o_custkey")
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_suppkey",
        ($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey" &&
        $"supp_nk" === $"cust_nk")
      .groupBy($"n_name")
      .agg(Exact.dsumScaled($"rev").as("revenue"),
        count(lit(1)).cast("long").as("n_lineitems"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** Promotion revenue share per month (TPC-H Q14's shape): of each
    * month's discounted revenue, the percentage carried by PROMO-type
    * parts. Part type rides a broadcast; the share is two conditional
    * scaled-long sums divided ONCE at the end (never a per-row
    * division) — the one-scan seasonal-campaign readout. */
  private val q223: Q = (s, d) => {
    import s.implicits._
    val promo = Tables.part(s, d)
      .select($"p_partkey", ($"p_type" === "PROMO").as("is_promo"))
    Tables.lineitem(s, d)
      .select($"l_partkey", date_trunc("month", $"l_shipdate").cast("date")
          .as("month"),
        ($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
      .join(broadcast(promo), $"l_partkey" === $"p_partkey")
      .groupBy($"month")
      .agg(
        sum(when($"is_promo", round($"rev" * 10000, 0).cast("long"))
          .otherwise(0L)).as("__p"),
        sum(round($"rev" * 10000, 0).cast("long")).as("__t"))
      .select($"month",
        round($"__p" / 10000.0, 4).as("promo_revenue"),
        round($"__t" / 10000.0, 4).as("total_revenue"),
        round(lit(100.0) * $"__p" / $"__t", 9).as("promo_share_pct"))
      .orderBy($"month")
  }

  /** Orders with at least one returned line, per priority (TPC-H Q4's
    * EXISTS shape): the returns-exposure count an operations team
    * watches by urgency class. The EXISTS is a LEFT SEMI join on the
    * orderkey — one exchange, no row multiplication, the decorrelation
    * Spark and every warehouse plan for correlated EXISTS. */
  private val q224: Q = (s, d) => {
    import s.implicits._
    val returned = Tables.lineitem(s, d)
      .where($"l_returnflag" === "R").select($"l_orderkey")
    Tables.orders(s, d)
      .where($"o_orderdate" >= "1997-01-01" && $"o_orderdate" < "1998-01-01")
      .join(returned, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).cast("long").as("n_orders_with_returns"))
      .orderBy($"o_orderpriority")
  }

  /** Market-basket part pairs: the top-20 part pairs most often bought
    * in the same order — the co-occurrence mine behind "frequently
    * bought together". Same in-array pair expansion as the dedup
    * posting lists: orders collapse to their distinct-part arrays
    * (BOUNDED by order size — TPC-H orders have ≤7 lines by
    * construction, so pairs-per-order ≤ C(7,2); the expansion is linear
    * in orders, never quadratic in parts), pairs explode inside the
    * array, and the head is TakeOrderedAndProject. */
  private val q225: Q = (s, d) => {
    import s.implicits._
    val ps = sort_array(collect_set($"l_partkey"))
    val pairsInArr = flatten(transform($"ps", x =>
      transform(filter($"ps", y => y > x), y =>
        struct(x.as("part_a"), y.as("part_b")))))
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_partkey")
      .groupBy($"l_orderkey").agg(ps.as("ps"))
      .select(explode(pairsInArr).as("p"))
      .groupBy($"p.part_a", $"p.part_b")
      .agg(count(lit(1)).cast("long").as("n_orders"))
      .orderBy($"n_orders".desc, $"part_a", $"part_b")
      .limit(20)
  }

  /** N-gram novelty attribution: per source, how many of its distinct
    * 3-grams were FIRST contributed by it (first = the corpus's lowest
    * doc_id emitting the shingle — unique ids make the attribution
    * total-order deterministic). The marginal-novelty table a curation
    * team reads before adding the next crawl source: a source whose
    * shingles are all first-seen elsewhere adds volume, not coverage.
    *
    * ONE raw-posting exchange serves BOTH halves of the report: the
    * postings collapse to distinct (shingle, source) with the per-source
    * min doc_id in a single keyed aggregate (codegen'd hash agg, map-side
    * partials — shuffled rows track distinct shingles per partition, not
    * corpus token volume), and both the per-source denominator and the
    * first-emitter attribution (min over the per-source minima ≡ min
    * over all rows, since doc ids are unique) are aggregates over that
    * COLLAPSED frame. The round-≤11 plan paid TWO full posting
    * exchanges (a (source, shingle) distinct AND a shingle-keyed
    * min-struct) — at 10× the corpus that second shuffle made this the
    * decade-curve tail (3.41×, the steepest in the surface). The counts
    * themselves cannot be df-capped without changing the report's
    * semantics: a cap would undercount both the numerator and the
    * denominator of novelty_ratio, so halving the shuffled volume is
    * the fix exactness allows. */
  private val q226: Q = (s, d) => {
    import s.implicits._
    // round-15 guarded fan-out: the trigram explode is the map cost
    val sh = graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select($"doc_id", $"source",
        explode(array_distinct(Text.shingles($"text", 3))).as("sh"))
    val perPair = sh.groupBy($"sh", $"source")
      .agg(min($"doc_id").as("min_doc"))
      // staged: unstaged, the shingle shuffle runs again (+28% shuffle
      // bytes at sf0.01, +57% at sf0.1)
      .transform(graft.ops.Staged(_))
    val perSource = perPair.groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_distinct_shingles"))
    val firstSeen = perPair.groupBy($"sh")
      .agg(min(struct($"min_doc", $"source")).as("f"))
      .groupBy($"f.source".as("source"))
      .agg(count(lit(1)).cast("long").as("n_first_seen"))
    perSource.join(firstSeen, Seq("source"), "left")
      .select($"source", $"n_distinct_shingles",
        coalesce($"n_first_seen", lit(0L)).as("n_first_seen"))
      .withColumn("novelty_ratio",
        round($"n_first_seen" / $"n_distinct_shingles".cast("double"), 9))
      .orderBy($"source")
  }

  /** Near-dup label-consistency audit: the θ≥0.5 pair graph rolled up
    * by whether the two endpoints AGREE on language and on source — a
    * cross-language near-dup is either a lang-label error or
    * untranslated boilerplate (both poison a lang-ID split), and the
    * cross-source mass is duplication the per-source dedup stages never
    * see. Reads the persisted pair store; the doc labels ride two
    * id-keyed joins; output is a ≤4-row matrix with decimal-exact mean
    * scores — bounded at any corpus size. */
  private val q227: Q = (s, d) => {
    import s.implicits._
    val lab = Tables.documents(s, d).select($"doc_id", $"lang", $"source")
    Stores.docPairs(s, d).where($"jaccard" >= 0.5)
      .join(lab.select($"doc_id".as("doc_a"), $"lang".as("lang_a"),
        $"source".as("source_a")), Seq("doc_a"))
      .join(lab.select($"doc_id".as("doc_b"), $"lang".as("lang_b"),
        $"source".as("source_b")), Seq("doc_b"))
      .groupBy(($"lang_a" === $"lang_b").as("same_lang"),
        ($"source_a" === $"source_b").as("same_source"))
      // same floor-on-scaled discipline as q221 (9-dp boundary hazard)
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        (floor(sum(floor($"jaccard" * 1e9)) /
          count(lit(1)).cast("double")) / 1e9).as("mean_jaccard"))
      .orderBy($"same_lang", $"same_source")
  }

  /** MinHash calibration: per exact-Jaccard band (0.1-wide, from the
    * persisted pair store), the mean MinHash estimate (k=64 matching-
    * component fraction) and its mean absolute error against the exact
    * score — the table that justifies a banding config's S-curve before
    * an LSH rollout (q207 scores ONE config's candidates; this
    * calibrates the estimator itself). Signatures are map-side native
    * expressions; the only new exchange is the id-keyed signature join
    * onto the (already small) pair table. Golden-pinned: seeded
    * xxhash64 has no DuckDB form. */
  private val q228: Q = (s, d) => {
    import s.implicits._
    // signatures only for docs that APPEAR in the pair table — the
    // calibration needs |pairs| rows, not |corpus| signatures (measured
    // 6.6 s → sub-second at sf1: signature hashing was the whole cost)
    val endpoints = Stores.docPairs(s, d)
      .select(explode(array($"doc_a", $"doc_b")).as("doc_id")).distinct()
    // staged: BOTH signature joins (sig_a, sig_b) read this frame — an
    // unstaged subtree would tokenize + hash the endpoint docs twice
    // (q228 at sf0.1: 0.410 → 0.646 s)
    val sigs = Dedup.minhashSignatures(
      Tables.documents(s, d).join(endpoints, Seq("doc_id"), "left_semi"),
      "doc_id", "text", k = 64).transform(graft.ops.Staged(_))
    val est = (size(filter(zip_with($"sig_a", $"sig_b",
      (a, b) => a === b), x => x)) / lit(64.0)).as("est")
    Stores.docPairs(s, d)
      .join(sigs.select($"doc".as("doc_a"), $"sig".as("sig_a")), Seq("doc_a"))
      .join(sigs.select($"doc".as("doc_b"), $"sig".as("sig_b")), Seq("doc_b"))
      .select(floor($"jaccard" * 10).cast("int").as("band"), $"jaccard", est)
      .groupBy($"band")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        round((sum(round($"est", 9).cast(Dec)) / count(lit(1)))
          .cast("double"), 9).as("mean_est"),
        round((sum(round(abs($"est" - $"jaccard"), 9).cast(Dec))
          / count(lit(1))).cast("double"), 9).as("mean_abs_err"))
      .orderBy($"band")
  }

  /** Training-sequence packing stats (ctx = 256 tokens, concat-then-
    * chunk — the GPT-style packing model): per source, total tokens,
    * packed sequence count ⌈total/ctx⌉, and how many documents straddle
    * a sequence boundary (each straddle is a truncation-at-boundary
    * event the loss masking has to handle). The running offset is a
    * source-partitioned cumulative sum ordered by doc_id — the shuffle
    * is source-keyed; at 100 TB the per-source frame is further split
    * by pack-file and the offsets composed hierarchically (prefix sums
    * are associative), so the global order never lives in one task. */
  private val q229: Q = (s, d) => {
    import s.implicits._
    val ctx = 256L
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select($"source", $"doc_id", Text.tokenCount($"text").as("toks"))
      .withColumn("before", coalesce(sum($"toks").over(w), lit(0L)))
      .withColumn("straddles",
        (floor($"before" / ctx) =!=
          floor(($"before" + $"toks" - 1) / ctx)).cast("int"))
      .groupBy($"source")
      .agg(sum($"toks").cast("long").as("total_tokens"),
        count(lit(1)).cast("long").as("n_docs"),
        sum($"straddles").cast("long").as("n_boundary_docs"))
      .select($"source", $"total_tokens",
        floor(($"total_tokens" + ctx - 1) / ctx).cast("long").as("n_seqs"),
        $"n_docs", $"n_boundary_docs",
        round($"n_boundary_docs" / $"n_docs".cast("double"), 9)
          .as("boundary_frac"))
      .orderBy($"source")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q221_pair_band_profile" -> q221,
    "q222_local_supplier_volume" -> q222,
    "q223_promo_share" -> q223,
    "q224_priority_returns" -> q224,
    "q225_basket_pairs" -> q225,
    "q226_ngram_novelty" -> q226,
    "q227_pair_label_audit" -> q227,
    "q228_minhash_calibration" -> q228,
    "q229_packing_stats" -> q229)

  // ---- oracle SQL -------------------------------------------------------

  /** θ=0.3 scored-pair CTE (the persisted store's content), shared by
    * q221; the 3-gram construction matches `Text.shingles` (whitespace
    * tokens, space-joined). */
  private val pairs03Cte =
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

  private val revS =
    "sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0"

  val oracle: Seq[(String, String)] = Seq(
    "q221_pair_band_profile" -> (pairs03Cte +
      """
        |SELECT CAST(floor(jaccard * 20) AS INTEGER) AS band,
        |  round(CAST(floor(jaccard * 20) AS INTEGER) / 20.0, 2) AS band_lo,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  floor(CAST(sum(CAST(floor(jaccard * 1e9) AS BIGINT))
        |    AS DOUBLE) / count(*)) / 1e9 AS mean_jaccard
        |FROM pairs GROUP BY 1, 2 ORDER BY band""".stripMargin),
    "q222_local_supplier_volume" ->
      s"""SELECT n.n_name,
         |  $revS AS revenue,
         |  CAST(count(*) AS BIGINT) AS n_lineitems
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = 'EUROPE'
         |  AND s.s_nationkey = c.c_nationkey
         |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n.n_name
         |ORDER BY revenue DESC, n.n_name""".stripMargin,
    "q223_promo_share" ->
      """WITH m AS (SELECT
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |    sum(CASE WHEN p.p_type = 'PROMO'
        |      THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
        |        AS BIGINT) ELSE 0 END) AS p,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
        |      AS BIGINT)) AS t
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1)
        |SELECT month,
        |  round(p / 10000.0, 4) AS promo_revenue,
        |  round(t / 10000.0, 4) AS total_revenue,
        |  round(100.0 * p / t, 9) AS promo_share_pct
        |FROM m ORDER BY month""".stripMargin,
    "q224_priority_returns" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders_with_returns
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q225_basket_pairs" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b
        |LIMIT 20""".stripMargin,
    "q226_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, source,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t),
        |ps AS (SELECT source, CAST(count(DISTINCT sh) AS BIGINT)
        |    AS n_distinct_shingles
        |  FROM g GROUP BY source),
        |fs AS (SELECT arg_min(source, doc_id) AS source FROM g GROUP BY sh),
        |fc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_first_seen
        |  FROM fs GROUP BY source)
        |SELECT ps.source, ps.n_distinct_shingles,
        |  CAST(coalesce(fc.n_first_seen, 0) AS BIGINT) AS n_first_seen,
        |  round(coalesce(fc.n_first_seen, 0)
        |    / CAST(ps.n_distinct_shingles AS DOUBLE), 9) AS novelty_ratio
        |FROM ps LEFT JOIN fc ON ps.source = fc.source
        |ORDER BY ps.source""".stripMargin,
    "q227_pair_label_audit" -> (pairs03Cte +
      """
        |SELECT da.lang = db.lang AS same_lang,
        |  da.source = db.source AS same_source,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  floor(CAST(sum(CAST(floor(jaccard * 1e9) AS BIGINT))
        |    AS DOUBLE) / count(*)) / 1e9 AS mean_jaccard
        |FROM pairs
        |JOIN documents da ON pairs.doc_a = da.doc_id
        |JOIN documents db ON pairs.doc_b = db.doc_id
        |WHERE jaccard >= 0.5
        |GROUP BY 1, 2
        |ORDER BY same_lang, same_source""".stripMargin),
    "q229_packing_stats" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (SELECT source, toks,
        |    coalesce(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM d),
        |s AS (SELECT source, toks, before,
        |    CASE WHEN before // 256 <> (before + toks - 1) // 256
        |      THEN 1 ELSE 0 END AS straddles
        |  FROM c)
        |SELECT source,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  CAST((sum(toks) + 255) // 256 AS BIGINT) AS n_seqs,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(straddles) AS BIGINT) AS n_boundary_docs,
        |  round(sum(straddles) / CAST(count(*) AS DOUBLE), 9)
        |    AS boundary_frac
        |FROM s GROUP BY source ORDER BY source""".stripMargin)
}
