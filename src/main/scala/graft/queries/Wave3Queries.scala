package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Curate, Dedup, Funnel, Incremental, Similarity, Text}

/** Round-8 third-wave queries: event-sequence analytics (funnel, cohort
  * retention), PMI collocations, int8 quantization planning, and
  * incremental delta-vs-base dedup. All five are DuckDB-oracle-checked —
  * the md5/decimal/floor discipline keeps every expression engine-exact. */
object Wave3Queries extends QuerySet {

  /** Ordered funnel over the event stream ([[Funnel.funnel]]):
    * view → click → purchase, strictly increasing timestamps per user.
    * One shuffle on user regardless of funnel depth. */
  private val q113: Q = (s, d) =>
    Funnel.funnel(Tables.events(s, d), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))

  /** Weekly cohort retention ([[Funnel.cohortRetention]]): users cohorted
    * by first-event week; per (cohort, offset) distinct-active counts and
    * rates. Per-user state bounded by the calendar horizon. */
  private val q114: Q = (s, d) =>
    Funnel.cohortRetention(Tables.events(s, d), "user_id", "ts")

  /** PMI collocations ([[Text.pmiCollocations]]): adjacent-pair PMI with
    * a count floor of 5, top 25. The top-k plans as
    * TakeOrderedAndProject over the vocab-sized pair frame. */
  private val q115: Q = (s, d) =>
    Text.pmiCollocations(Tables.documents(s, d), "text",
      minCount = 5L, topK = 25)

  /** Int8 quantization report ([[Similarity.int8QuantReport]]): per-dim
    * scale and reconstruction error for the embedding corpus. */
  private val q116: Q = (s, d) =>
    Similarity.int8QuantReport(Tables.embeddings(s, d), "embedding")

  /** Incremental delta-vs-base dedup ([[Incremental.deltaDedupStatus]]).
    * The delta drop is constructed deterministically from the corpus so
    * all three statuses occur (q94's planted-fixture precedent, replayed
    * identically by the oracle): every 5th doc arrives as an exact
    * mirror copy, every 7th with a 4-token tail edit (tile containment
    * stays high → near_dup for docs past one tile), every 11th with its
    * token order reversed (tiles all new → new). md5 tile keys on the
    * oracle surface; production uses the xxhash64 default. */
  /** The deterministic delta drop q117/q122 classify: exact mirrors,
    * tail-edited near-copies, token-reversed novel docs (both engines
    * construct the identical frame). */
  private def deltaDrop(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d).select($"doc_id", $"text")
    base.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 2000000L).as("doc_id"), $"text")
      .unionByName(base.where($"doc_id" % 7 === 0)
        .select(($"doc_id" + 3000000L).as("doc_id"),
          concat($"text", lit(" appended drift tokens here")).as("text")))
      .unionByName(base.where($"doc_id" % 11 === 0)
        .select(($"doc_id" + 4000000L).as("doc_id"),
          array_join(reverse(split($"text", " ")), " ").as("text")))
  }

  private val q117: Q = (s, d) => {
    import s.implicits._
    val base = Tables.documents(s, d).select($"doc_id", $"text")
    Incremental.deltaDedupStatus(base, deltaDrop(s, d), "doc_id", "text",
        k = 8, nearFrac = 0.5, tileKey = md5(_))
      .orderBy($"doc_id")
  }

  /** Incremental export: the admitted (`new`) slice of the q117 delta
    * appended to the EXISTING q112-style export — shard membership by the
    * same mod rule, positions continuing after the base manifest counts
    * ([[graft.ops.Shard.appendAssign]]), checksums covering exactly the
    * appended id sequence. The base corpus contributes only its
    * shard-count-sized manifest frame; it is never rescanned for
    * placement. */
  private val q122: Q = (s, d) => {
    import s.implicits._
    val base = Tables.documents(s, d).select($"doc_id", $"text")
    val delta = deltaDrop(s, d)
    val newDocs = graft.ops.Incremental.deltaDedupStatus(base, delta,
        "doc_id", "text", k = 8, nearFrac = 0.5, tileKey = md5(_))
      .where($"status" === "new").select($"doc_id")
      .join(delta, Seq("doc_id"))
    val baseCounts = graft.ops.Shard.manifest(base, "doc_id", nShards = 8,
      seed = "man").select($"shard", $"n_rows")
    graft.ops.Shard.appendAssign(baseCounts, newDocs, "doc_id",
        nShards = 8, seed = "man")
      .withColumn("n_tok", Text.tokenCount($"text"))
      .groupBy($"shard")
      .agg(min($"pos").as("pos_start"),
        count(lit(1)).cast("long").as("n_appended"),
        sum($"n_tok").cast("long").as("n_tokens_appended"),
        md5(array_join(
          transform(array_sort(collect_list(struct($"pos", $"doc_id"))),
            x => x.getField("doc_id").cast("string")), ","))
          .as("checksum_appended"))
      .orderBy($"shard")
  }

  /** k-anonymity suppression ([[Curate.kAnonSuppress]]): per-(lang,
    * source) doc/token rollup with sub-k cells folded into one
    * `__suppressed__` row. k=5 exercises both branches at sf0.01. */
  private val q118: Q = (s, d) => {
    import s.implicits._
    Curate.kAnonSuppress(
        Tables.documents(s, d)
          .withColumn("n_tok", Text.tokenCount($"text").cast("long")),
        Seq("lang", "source"), k = 5L,
        Seq(sum($"n_tok").cast("long").as("n_tokens")))
      .orderBy($"lang", $"source")
  }

  /** ε-DP noisy counts ([[Curate.dpNoisyCounts]]), deterministic seeded
    * Laplace. The true count rides along as the verification surface —
    * a real release would publish only the noisy column. */
  private val q119: Q = (s, d) => {
    import s.implicits._
    Curate.dpNoisyCounts(Tables.events(s, d), "event_type",
        epsilon = 1.0, seed = "dp8")
      .orderBy($"event_type")
  }

  /** Quality-score calibration table: per-source deciles of the q22
    * quality score against the global deciles, with the per-decile shift
    * — the diagnostic a mixing stage reads before reweighting sources
    * whose score distributions are skewed relative to the corpus.
    * Exact `percentile` per source (groups = sources, bounded); the
    * histogram-quantile route ([[graft.ops.Sketches.histQuantiles]],
    * q98's precedent) is the 100 TB path when per-source sorts bite. */
  private val q120: Q = (s, d) => {
    import s.implicits._
    val wc = Text.tokenCount($"text")
    val awl = Text.sumTokenLen($"text") / wc
    val stopRatio = Text.stopwordCount($"text") / wc
    val scored = Tables.documents(s, d).select($"source",
      Text.qualityScore(wc, stopRatio, awl).as("q"))
    val ps = (0 to 10).map(_ / 10.0)
    val srcQ = scored.groupBy($"source")
      .agg(percentile($"q", typedLit(ps)).as("qs"))
      .select($"source", posexplode($"qs").as(Seq("decile", "src_val")))
    val glbQ = scored
      .agg(percentile($"q", typedLit(ps)).as("qs"))
      .select(posexplode($"qs").as(Seq("decile", "global_val")))
    srcQ.join(broadcast(glbQ), Seq("decile"))
      .select($"source", $"decile",
        round($"src_val", 6).as("src_val"),
        round($"global_val", 6).as("global_val"),
        round($"src_val" - $"global_val", 6).as("shift"))
      .orderBy($"source", $"decile")
  }

  /** Canonical representative per near-dup cluster: q43's components
    * (exact-Jaccard pairs → connected components, singletons their own
    * cluster), but the survivor is the BEST-quality member (q22 score,
    * doc_id tie-break) — the curation refinement over keep-first dedup:
    * when a document exists in several mutations, train on the cleanest
    * one. The argmax is a single `min(struct(-q, doc))` two-phase
    * aggregate on the cluster key — no per-cluster window or sort. */
  private val q121: Q = (s, d) => {
    import s.implicits._
    val wc = Text.tokenCount($"text")
    val awl = Text.sumTokenLen($"text") / wc
    val stopRatio = Text.stopwordCount($"text") / wc
    val scored = Tables.documents(s, d).select($"doc_id",
      Text.qualityScore(wc, stopRatio, awl).as("q"))
    // canonical components via the persisted cluster store — derived
    // once per corpus ([[Stores.docClusters]]), identical rows
    val cc = Stores.docClusters(s, d)
    scored.join(cc, Seq("doc_id"), "left")
      .withColumn("component_id", coalesce($"component_id", $"doc_id"))
      .groupBy($"component_id")
      .agg(count(lit(1)).cast("long").as("n_members"),
        min(struct((-$"q").as("nq"), $"doc_id")).as("best"))
      .select($"component_id", $"n_members",
        $"best.doc_id".as("keep_id"),
        // floor-on-scaled, not round(): the quality ratio lands on 6-dp
        // half-boundaries at sf1 (27 of 50k docs), where Spark's HALF_UP
        // on the shortest decimal form diverges from DuckDB's
        // exact-binary round — caught by the round-13 sf1 oracle gate
        (floor(-$"best.nq" * 1e6) / 1e6).as("best_q"))
      .orderBy($"component_id")
  }

  /** Semantic drift monitor — q109's embedding-space counterpart: between
    * two corpus releases, the per-label centroid shift (cosine similarity
    * and L2 distance of the old vs new mean vector). Token PSI catches
    * vocabulary drift; centroid shift catches topical/model drift that
    * leaves token counts alone. The new release is constructed
    * deterministically: drop every 13th vector, and TRANSLATE label-3
    * vectors by +0.1 in every dimension — a translation, not a scaling,
    * because cosine is scale-invariant (a planted `×1.1` would be
    * invisible by construction; measured before settling on this).
    *
    * Shape: each side collapses to (label, dim, centroid) via
    * decimal-exact sums over the posexploded frame — (labels × dims)
    * rows; the centroid join and the per-label reduction run over that
    * tiny frame. Cross-dim sums ride 12 dp decimals so the doubles are
    * reduction-order-free. */
  private val q123: Q = (s, d) => {
    import s.implicits._
    val dec = "decimal(28,12)"
    val old = Tables.embeddings(s, d)
    val nw = old.where($"vec_id" % 13 =!= 0)
      .select($"vec_id", $"label",
        when($"label" === 3,
          transform($"embedding".cast("array<double>"), x => x + 0.1))
          .otherwise($"embedding".cast("array<double>")).as("embedding"))
    def centroids(df: DataFrame, outCol: String) =
      df.select($"label", posexplode($"embedding".cast("array<double>"))
          .as(Seq("dim", "v")))
        .groupBy($"label", $"dim")
        .agg((sum($"v".cast(dec)).cast("double") / count(lit(1)))
          .as(outCol))
    val counts = old.groupBy($"label").agg(count(lit(1)).as("n_old"))
      .join(nw.groupBy($"label").agg(count(lit(1)).as("n_new")), Seq("label"))
    centroids(old, "a").join(centroids(nw, "b"), Seq("label", "dim"))
      .groupBy($"label")
      .agg(
        sum(round($"a" * $"b", 12).cast(dec)).cast("double").as("__ab"),
        sum(round($"a" * $"a", 12).cast(dec)).cast("double").as("__aa"),
        sum(round($"b" * $"b", 12).cast(dec)).cast("double").as("__bb"),
        sum(round(($"a" - $"b") * ($"a" - $"b"), 12).cast(dec))
          .cast("double").as("__d2"))
      .join(counts, Seq("label"))
      .select($"label", $"n_old", $"n_new",
        round($"__ab" / sqrt($"__aa" * $"__bb"), 6).as("centroid_cos"),
        round(sqrt($"__d2"), 6).as("centroid_l2"))
      .orderBy($"label")
  }

  /** Zipf-fit corpus diagnostic: least-squares slope of ln(freq) against
    * ln(rank) over the top-1000 vocabulary head — natural language sits
    * near −1; a synthetic or template-heavy corpus drifts off it. The
    * diagnostic a corpus datasheet quotes next to q100's volumes.
    *
    * Shape: one token explode → vocab-sized frequency frame; the top-1000
    * head is orderBy+limit (TakeOrderedAndProject: per-partition heaps +
    * a 1000-row merge — never a single-partition sort of the vocabulary)
    * and the rank window runs over that 1000-row frame only; the
    * regression is a 1-row closed-form aggregate with 9 dp decimal sums. */
  private val q124: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(28,12)"
    val pts = Tables.documents(s, d)
      .select(explode(Text.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok").limit(1000)
      .withColumn("rank", row_number().over(Window.orderBy($"n".desc, $"tok")))
      .select(round(log($"rank".cast("double")), 9).as("x"),
        round(log($"n".cast("double")), 9).as("y"))
    pts.agg(count(lit(1)).cast("double").as("np"),
        sum($"x".cast(dec)).cast("double").as("sx"),
        sum($"y".cast(dec)).cast("double").as("sy"),
        sum(round($"x" * $"y", 9).cast(dec)).cast("double").as("sxy"),
        sum(round($"x" * $"x", 9).cast(dec)).cast("double").as("sxx"))
      .select($"np".cast("long").as("n_points"),
        round(($"np" * $"sxy" - $"sx" * $"sy") /
          ($"np" * $"sxx" - $"sx" * $"sx"), 6).as("zipf_slope"),
        round(($"sy" - (($"np" * $"sxy" - $"sx" * $"sy") /
          ($"np" * $"sxx" - $"sx" * $"sx")) * $"sx") / $"np", 6)
          .as("intercept"))
  }

  /** Compression-ratio quality signal ([[graft.functions.DeflateRatio]]):
    * per-doc deflate ratio — the cheap repetition/junk detector. Pure
    * map-side native expression inside whole-stage codegen; golden-pinned
    * (zlib bytes are not DuckDB-expressible). */
  private val q125: Q = (s, d) => {
    import s.implicits._
    // round-16: guarded fan-out — deflate per row is the heaviest
    // per-row op on the surface (1.7x slower at sf1 un-fanned)
    graft.ops.FanOut.perRowCompute(Tables.documents(s, d), "doc_id")
      .select($"doc_id", $"n_chars",
        round(call_function("deflate_ratio", $"text"), 6)
          .as("compress_ratio"))
      .orderBy($"doc_id")
  }

  /** Deterministic Poisson-bootstrap CI
    * ([[graft.ops.Sampling.poissonBootstrapCI]]) for the mean tokens per
    * document — the uncertainty a data card should quote next to its
    * point estimates. 200 replicates, exact integer aggregates per
    * replicate, the whole draw replayable by the oracle. */
  private val q126: Q = (s, d) => {
    import s.implicits._
    graft.ops.Sampling.poissonBootstrapCI(
      Tables.documents(s, d)
        .select($"doc_id", Text.tokenCount($"text").as("n_tok")),
      "doc_id", "n_tok", b = 200, seed = "ci8")
  }

  /** CUSUM changepoint scan per event type: cumulative deviation of the
    * DAILY mean value from the series' global mean; the day where |S|
    * peaks is the change candidate, and max|S| its magnitude. The
    * monitoring primitive behind "did this sensor's level shift
    * mid-month" — q109/q123 catch distribution drift between releases,
    * this localizes WHEN a level shift happened inside one series.
    *
    * Shape: events collapse to (type, day) decimal-exact means — the
    * only corpus-sized shuffle; the cumulative window runs per type over
    * ≤days rows (calendar-bounded, like q114's state); argmax via one
    * `min(struct)`. */
  private val q127: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(graft.ops.Exact.davg($"value").as("m"))
    val glob = daily.groupBy($"event_type")
      .agg((sum($"m".cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("mu"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.join(glob, Seq("event_type"))
      .withColumn("s",
        sum(round($"m" - $"mu", 9).cast("decimal(28,12)")).over(w)
          .cast("double"))
      .groupBy($"event_type")
      .agg(count(lit(1)).cast("long").as("n_days"),
        min(struct((-abs($"s")).as("na"), $"day")).as("pk"))
      .select($"event_type", $"n_days",
        $"pk.day".as("peak_day"),
        round(-$"pk.na", 6).as("max_abs_cusum"))
      .orderBy($"event_type")
  }

  /** Exact heavy hitters, sketch-then-verify: a Misra–Gries pass (the
    * library's native `topk_freq` aggregate) nominates candidates with
    * bounded memory, an exact count of ONLY those candidates verifies —
    * the two-pass pattern that gets exact top-k at 100 TB without a
    * vocabulary-sized aggregation feeding a global sort.
    *
    * Capacity honesty: MG guarantees tracking only for items with true
    * frequency > N/(c+1), so the candidate set provably contains the
    * true top-k only when the k-th item clears that bar — size c for
    * the SKEW you expect, not for k (a flat vocabulary near c items
    * can evict a true top-k member, and the "exact" result would be
    * silently wrong where no oracle watches). c=1024 here: this
    * corpus's whole vocabulary (~31) fits outright, so tracking is
    * exact, and the oracle asserts the result against the true top-10;
    * the fixed 1024-entry buffer is still constant memory at 100 TB. */
  private val q128: Q = (s, d) => {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(Text.tokens($"text")).as("tok"))
    val cand = toks
      .agg(call_function("topk_freq", $"tok", lit(1024), lit(10)).as("cands"))
      .select(explode($"cands.item").as("tok"))
    val exact = toks.join(broadcast(cand), Seq("tok"), "left_semi")
      .groupBy($"tok").agg(count(lit(1)).as("n"))
    exact
      .orderBy($"n".desc, $"tok")
      .limit(10)
  }

  /** Referential-integrity health report over the star schema: per FK
    * edge, the child row count, orphan count (children whose parent key
    * is absent), and orphan rate — the one-scan data-quality datasheet a
    * warehouse publishes per load (q15's single anti-join, generalized
    * into the consolidated report). Each edge is one left-anti hash join
    * against the parent's distinct-key frame; parents are dimension-
    * sized and broadcast where small. */
  private val q129: Q = (s, d) => {
    import s.implicits._
    def edge(name: String, child: DataFrame, childKey: String,
             parent: DataFrame, parentKey: String): DataFrame = {
      val orphans = child.join(
        parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphan"))))
        .select(lit(name).as("fk_edge"), $"n_child", $"n_orphan",
          round($"n_orphan" / $"n_child", 9).as("orphan_rate"))
    }
    edge("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey")
      .unionByName(edge("orders->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey"))
      .unionByName(edge("customer->nation", Tables.customer(s, d),
        "c_nationkey", Tables.nation(s, d), "n_nationkey"))
      .unionByName(edge("events->user", Tables.events(s, d), "user_id",
        Tables.customer(s, d), "c_custkey"))
      .orderBy($"fk_edge")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q129_fk_health" -> q129,
    "q127_cusum" -> q127,
    "q128_heavy_hitters" -> q128,
    "q126_bootstrap_ci" -> q126,
    "q124_zipf_fit" -> q124,
    "q125_compress_ratio" -> q125,
    "q123_semantic_drift" -> q123,
    "q122_incremental_export" -> q122,
    "q121_canonical_rep" -> q121,
    "q118_kanon" -> q118,
    "q119_dp_counts" -> q119,
    "q120_score_calibration" -> q120,
    "q113_funnel" -> q113,
    "q114_retention" -> q114,
    "q115_pmi_collocations" -> q115,
    "q116_embed_quantize" -> q116,
    "q117_delta_dedup" -> q117)

  /** Shared q117/q122 oracle prefix: the delta drop, base digest frames,
    * tile coverage, and exact-match CTEs. */
  private val deltaStatusSql =
    """WITH delta AS (
      |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
      |    WHERE doc_id % 5 = 0
      |  UNION ALL SELECT doc_id + 3000000,
      |    text || ' appended drift tokens here' FROM documents
      |    WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 4000000,
      |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
      |    FROM documents WHERE doc_id % 11 = 0),
      |bfp AS (SELECT DISTINCT md5(text) AS fp FROM documents),
      |bt0 AS (SELECT string_split(text, ' ') AS w FROM documents),
      |bt1 AS (SELECT w, CAST(unnest(range(CAST(ceil(len(w) / 8.0) AS INTEGER)))
      |    AS INTEGER) AS pos FROM bt0),
      |btk AS (SELECT DISTINCT
      |    md5(array_to_string(list_slice(w, pos*8 + 1, pos*8 + 8), ' ')) AS h
      |  FROM bt1),
      |dt0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM delta),
      |dt1 AS (SELECT doc_id, w,
      |    CAST(unnest(range(CAST(ceil(len(w) / 8.0) AS INTEGER)))
      |      AS INTEGER) AS pos FROM dt0),
      |dtk AS (SELECT doc_id,
      |    md5(array_to_string(list_slice(w, pos*8 + 1, pos*8 + 8), ' ')) AS h
      |  FROM dt1),
      |cov AS (SELECT doc_id, count(*) AS n_tiles,
      |    sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_in
      |  FROM dtk d LEFT JOIN btk b ON d.h = b.h GROUP BY doc_id),
      |ex AS (SELECT d.doc_id,
      |    CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END AS is_exact
      |  FROM (SELECT doc_id, md5(text) AS fp FROM delta) d
      |  LEFT JOIN bfp b USING (fp))""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "q129_fk_health" ->
      """WITH ed AS (
        |  SELECT 'lineitem->orders' AS fk_edge,
        |    (SELECT count(*) FROM lineitem) AS n_child,
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |      AS n_orphan
        |  UNION ALL SELECT 'orders->customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders r WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = r.o_custkey))
        |  UNION ALL SELECT 'customer->nation',
        |    (SELECT count(*) FROM customer),
        |    (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |  UNION ALL SELECT 'events->user',
        |    (SELECT count(*) FROM events),
        |    (SELECT count(*) FROM events e WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)))
        |SELECT fk_edge, n_child, n_orphan,
        |  round(CAST(n_orphan AS DOUBLE) / n_child, 9) AS orphan_rate
        |FROM ed ORDER BY fk_edge""".stripMargin,
    "q127_cusum" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS m
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type,
        |    CAST(sum(CAST(m AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mu
        |  FROM daily GROUP BY 1),
        |cs AS (SELECT d.event_type, day,
        |    CAST(sum(CAST(round(m - mu, 9) AS DECIMAL(28,12)))
        |      OVER (PARTITION BY d.event_type ORDER BY day
        |        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS s
        |  FROM daily d JOIN g USING (event_type)),
        |r AS (SELECT event_type, day, abs(s) AS a,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(s) DESC, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n_days FROM cs)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days, day AS peak_day,
        |  round(a, 6) AS max_abs_cusum
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q128_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok)
        |SELECT tok, n FROM f ORDER BY n DESC, tok LIMIT 10""".stripMargin,
    "q126_bootstrap_ci" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x FROM documents),
        |r AS (SELECT doc_id, x, unnest(range(200)) AS rep FROM d),
        |uw AS (SELECT rep, x,
        |    (CAST('0x' || substr(md5('bs' || ' ' || 'ci8' || ' ' ||
        |      CAST(rep AS VARCHAR) || ' ' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) + 0.5) / 1152921504606846976.0 AS u
        |  FROM r),
        |ww AS (SELECT rep, x, CASE
        |    WHEN u < 0.36787944117144233 THEN 0
        |    WHEN u < 0.7357588823428847 THEN 1
        |    WHEN u < 0.9196986029286058 THEN 2
        |    WHEN u < 0.9810118431238462 THEN 3
        |    WHEN u < 0.9963401531726563 THEN 4
        |    WHEN u < 0.9994058151824183 THEN 5
        |    ELSE 6 END AS w FROM uw),
        |rm AS (SELECT rep, CAST(sum(w * x) AS DOUBLE) / sum(w) AS rep_mean
        |  FROM ww GROUP BY rep),
        |sel AS (SELECT round(quantile_cont(rep_mean, 0.025), 6) AS ci_lo,
        |    round(quantile_cont(rep_mean, 0.975), 6) AS ci_hi FROM rm),
        |pt AS (SELECT CAST(sum(x) AS DOUBLE) / count(*) AS mean FROM d)
        |SELECT round(mean, 6) AS mean, ci_lo, ci_hi, 200 AS n_replicates
        |FROM sel, pt""".stripMargin,
    "q124_zipf_fit" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank FROM f),
        |pts AS (SELECT round(ln(CAST(rank AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(n AS DOUBLE)), 9) AS y
        |  FROM r WHERE rank <= 1000),
        |ag AS (SELECT CAST(count(*) AS DOUBLE) AS np,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(28,12))) AS DOUBLE) AS sxx
        |  FROM pts)
        |SELECT CAST(np AS BIGINT) AS n_points,
        |  round((np * sxy - sx * sy) / (np * sxx - sx * sx), 6) AS zipf_slope,
        |  round((sy - ((np * sxy - sx * sy) / (np * sxx - sx * sx)) * sx)
        |    / np, 6) AS intercept
        |FROM ag""".stripMargin,
    "q123_semantic_drift" ->
      """WITH old_e AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    CAST(generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1
        |      AS INTEGER) AS dim
        |  FROM embeddings),
        |new_v AS (SELECT vec_id, label,
        |    CASE WHEN label = 3
        |      THEN list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.1)
        |      ELSE CAST(embedding AS DOUBLE[]) END AS embedding
        |  FROM embeddings WHERE vec_id % 13 <> 0),
        |new_e AS (SELECT label, unnest(embedding) AS v,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim
        |  FROM new_v),
        |ca AS (SELECT label, dim,
        |    CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS a
        |  FROM old_e GROUP BY 1, 2),
        |cb AS (SELECT label, dim,
        |    CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS b
        |  FROM new_e GROUP BY 1, 2),
        |red AS (SELECT label,
        |    CAST(sum(CAST(round(a * b, 12) AS DECIMAL(28,12))) AS DOUBLE) AS ab,
        |    CAST(sum(CAST(round(a * a, 12) AS DECIMAL(28,12))) AS DOUBLE) AS aa,
        |    CAST(sum(CAST(round(b * b, 12) AS DECIMAL(28,12))) AS DOUBLE) AS bb,
        |    CAST(sum(CAST(round((a - b) * (a - b), 12) AS DECIMAL(28,12)))
        |      AS DOUBLE) AS d2
        |  FROM ca JOIN cb USING (label, dim) GROUP BY label),
        |cn AS (SELECT o.label, o.n_old, n.n_new FROM
        |    (SELECT label, count(*) AS n_old FROM embeddings GROUP BY 1) o
        |  JOIN (SELECT label, count(*) AS n_new FROM new_v GROUP BY 1) n
        |    USING (label))
        |SELECT label, n_old, n_new,
        |  round(ab / sqrt(aa * bb), 6) AS centroid_cos,
        |  round(sqrt(d2), 6) AS centroid_l2
        |FROM red JOIN cn USING (label) ORDER BY label""".stripMargin,
    "q122_incremental_export" -> (deltaStatusSql + """,
        |st AS (SELECT e.doc_id,
        |    CASE WHEN is_exact = 1 THEN 'exact_dup'
        |      WHEN coalesce(n_in, 0) /
        |        CAST(greatest(coalesce(n_tiles, 0), 1) AS DOUBLE) >= 0.5
        |        THEN 'near_dup'
        |      ELSE 'new' END AS status
        |  FROM ex e LEFT JOIN cov USING (doc_id)),
        |nw AS (SELECT d.doc_id, d.text FROM delta d
        |  JOIN st USING (doc_id) WHERE status = 'new'),
        |basea AS (SELECT CAST(concat('0x', substr(md5(concat('man ',
        |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord
        |  FROM documents),
        |basec AS (SELECT CAST(ord % 8 AS INTEGER) AS shard,
        |    count(*) AS n_rows FROM basea GROUP BY 1),
        |na AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
        |    CAST(concat('0x', substr(md5(concat('man ',
        |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord
        |  FROM nw),
        |np AS (SELECT doc_id, n_tok, CAST(ord % 8 AS INTEGER) AS shard,
        |    row_number() OVER (PARTITION BY ord % 8
        |      ORDER BY ord, doc_id) - 1 AS rk FROM na),
        |wp AS (SELECT np.doc_id, np.n_tok, np.shard,
        |    coalesce(b.n_rows, 0) + rk AS pos
        |  FROM np LEFT JOIN basec b USING (shard))
        |SELECT shard, CAST(min(pos) AS BIGINT) AS pos_start,
        |  count(*) AS n_appended,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens_appended,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos))
        |    AS checksum_appended
        |FROM wp GROUP BY shard ORDER BY shard""".stripMargin),
    "q121_canonical_rep" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |pp AS (SELECT doc_a, doc_b FROM p
        |       JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |       WHERE inter / (sa.n + sb.n - inter) >= 0.5),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pp UNION SELECT doc_b, doc_a FROM pp),
        |walk(node, label) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.a, w.label FROM e JOIN walk w ON e.b = w.node),
        |cc AS (SELECT node AS doc_id, min(label) AS component_id
        |  FROM walk GROUP BY node),
        |m AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS word_count,
        |    list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS sum_len,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x)))
        |      AS INTEGER) AS n_stop
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |    least(1.0, word_count / 100.0) * 0.4
        |      + (1.0 - n_stop / word_count) * 0.3
        |      + least(1.0, (sum_len / word_count) / 8.0) * 0.3 AS q
        |  FROM m),
        |j AS (SELECT sc.doc_id, coalesce(cc.component_id, sc.doc_id)
        |    AS component_id, sc.q
        |  FROM sc LEFT JOIN cc USING (doc_id)),
        |r AS (SELECT component_id, doc_id, q,
        |    row_number() OVER (PARTITION BY component_id
        |      ORDER BY q DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY component_id) AS n_members FROM j)
        |SELECT component_id, CAST(n_members AS BIGINT) AS n_members,
        |  doc_id AS keep_id, floor(q * 1e6) / 1e6 AS best_q
        |FROM r WHERE rn = 1 ORDER BY component_id""".stripMargin,
    "q118_kanon" ->
      """WITH r AS (SELECT lang, source, count(*) AS n_rows,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1, 2),
        |sm AS (SELECT coalesce(sum(n_rows) FILTER (WHERE n_rows < 5), 0)
        |    AS smass FROM r),
        |sv AS (SELECT *, coalesce(sum(n_rows) OVER (
        |      ORDER BY n_rows, lang, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM r WHERE n_rows >= 5),
        |mk AS (
        |  SELECT lang, source, n_rows, n_tokens, TRUE AS fold
        |    FROM r WHERE n_rows < 5
        |  UNION ALL
        |  SELECT lang, source, n_rows, n_tokens,
        |    (smass > 0 AND smass < 5 AND prev < 5 - smass) AS fold
        |  FROM sv, sm),
        |m AS (SELECT
        |    CASE WHEN NOT fold THEN lang ELSE '__suppressed__' END AS lang,
        |    CASE WHEN NOT fold THEN source ELSE '__suppressed__' END AS source,
        |    n_rows, n_tokens FROM mk)
        |SELECT lang, source, CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM m GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,
    "q119_dp_counts" ->
      """WITH c AS (SELECT event_type, count(*) AS true_count
        |  FROM events GROUP BY 1),
        |n AS (SELECT event_type, true_count,
        |    (CAST('0x' || substr(md5('dp8' || ' ' || event_type), 1, 15)
        |      AS BIGINT) + 0.5) / 1152921504606846976.0 - 0.5 AS v
        |  FROM c)
        |SELECT event_type, true_count,
        |  round(true_count + (-(1.0)
        |    * (CASE WHEN v >= 0.0 THEN 1.0 ELSE -1.0 END)
        |    * ln(1.0 - 2.0 * abs(v))), 6) AS noisy_count
        |FROM n ORDER BY event_type""".stripMargin,
    "q120_score_calibration" ->
      """WITH t AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS word_count,
        |    list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS sum_len,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x)))
        |      AS INTEGER) AS n_stop
        |  FROM documents),
        |sc AS (SELECT source,
        |    least(1.0, word_count / 100.0) * 0.4
        |      + (1.0 - n_stop / word_count) * 0.3
        |      + least(1.0, (sum_len / word_count) / 8.0) * 0.3 AS q
        |  FROM t),
        |s AS (SELECT source, quantile_cont(q,
        |    [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]) AS qs
        |  FROM sc GROUP BY source),
        |g AS (SELECT quantile_cont(q,
        |    [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]) AS qs FROM sc),
        |se AS (SELECT source, CAST(generate_subscripts(qs, 1) - 1 AS INTEGER)
        |    AS decile, unnest(qs) AS src_val FROM s),
        |ge AS (SELECT CAST(generate_subscripts(qs, 1) - 1 AS INTEGER)
        |    AS decile, unnest(qs) AS global_val FROM g)
        |SELECT source, decile, round(src_val, 6) AS src_val,
        |  round(global_val, 6) AS global_val,
        |  round(src_val - global_val, 6) AS shift
        |FROM se JOIN ge USING (decile) ORDER BY source, decile""".stripMargin,
    "q113_funnel" ->
      """WITH u0 AS (SELECT user_id, min(ts) AS t0 FROM events
        |    WHERE event_type = 'view' GROUP BY user_id),
        |u1 AS (SELECT e.user_id, min(ts) AS t1 FROM events e
        |    JOIN u0 USING (user_id)
        |    WHERE event_type = 'click' AND ts > t0 GROUP BY e.user_id),
        |u2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
        |    JOIN u1 USING (user_id)
        |    WHERE event_type = 'purchase' AND ts > t1 GROUP BY e.user_id),
        |n AS (SELECT (SELECT count(*) FROM u0) AS n0,
        |    (SELECT count(*) FROM u1) AS n1,
        |    (SELECT count(*) FROM u2) AS n2)
        |SELECT 1 AS step, 'view' AS step_name, n0 AS n_users,
        |  round(CAST(1.0 AS DOUBLE), 9) AS conv_rate FROM n
        |UNION ALL SELECT 2, 'click', n1,
        |  round(CAST(n1 AS DOUBLE) / n0, 9) FROM n
        |UNION ALL SELECT 3, 'purchase', n2,
        |  round(CAST(n2 AS DOUBLE) / n1, 9) FROM n
        |ORDER BY step""".stripMargin,
    "q114_retention" ->
      """WITH pu AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |    FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        |    FROM events),
        |j AS (SELECT p.cohort_week,
        |    CAST(floor(date_diff('day', CAST(p.cohort_week AS DATE),
        |      CAST(a.week AS DATE)) / 7.0) AS INTEGER) AS week_offset,
        |    a.user_id
        |  FROM act a JOIN pu p USING (user_id)),
        |agg AS (SELECT cohort_week, week_offset,
        |    count(DISTINCT user_id) AS n_active FROM j GROUP BY 1, 2),
        |sz AS (SELECT cohort_week, count(*) AS n_cohort FROM pu GROUP BY 1)
        |SELECT cohort_week, week_offset, n_active, n_cohort,
        |  round(CAST(n_active AS DOUBLE) / n_cohort, 9) AS retention
        |FROM agg JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q115_pmi_collocations" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |uni AS (SELECT tok, count(*) AS n_u FROM tok GROUP BY tok),
        |doc AS (SELECT string_split(text, ' ') AS w FROM documents),
        |np AS (SELECT CAST(sum(greatest(len(w) - 1, 0)) AS DOUBLE) AS n_pair_total FROM doc),
        |pairs AS (SELECT w[CAST(i AS INTEGER)] AS w1,
        |    w[CAST(i AS INTEGER) + 1] AS w2
        |  FROM doc, unnest(range(1, len(w))) AS t(i)),
        |pc AS (SELECT w1, w2, count(*) AS n_pair FROM pairs
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |tot AS (SELECT CAST(sum(n_u) AS DOUBLE) AS n_tok FROM uni)
        |SELECT w1, w2, n_pair, u1.n_u AS n_w1, u2.n_u AS n_w2,
        |  round(ln((n_pair / n_pair_total) /
        |    ((u1.n_u / n_tok) * (u2.n_u / n_tok))), 9) AS pmi
        |FROM pc JOIN uni u1 ON u1.tok = pc.w1
        |JOIN uni u2 ON u2.tok = pc.w2, tot, np
        |ORDER BY pmi DESC, w1, w2 LIMIT 25""".stripMargin,
    "q116_embed_quantize" ->
      """WITH e AS (SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    CAST(generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1
        |      AS INTEGER) AS dim
        |  FROM embeddings),
        |sc AS (SELECT dim, max(abs(v)) / 127.0 AS scale FROM e GROUP BY dim),
        |c AS (SELECT e.dim, v, scale,
        |    CASE WHEN scale = 0 THEN 0.0
        |      ELSE floor(v / scale + 0.5) END AS code
        |  FROM e JOIN sc USING (dim)),
        |er AS (SELECT dim, scale, abs(code * scale - v) AS err FROM c)
        |SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |  round(max(scale), 9) AS scale,
        |  round(max(err), 9) AS max_abs_err,
        |  round(CAST(sum(CAST(round(err, 9) AS DECIMAL(18,9))) AS DOUBLE)
        |    / count(*), 9) AS mean_abs_err
        |FROM er GROUP BY dim ORDER BY dim""".stripMargin,
    "q117_delta_dedup" -> (deltaStatusSql + """
        |SELECT e.doc_id,
        |  CAST(coalesce(n_tiles, 0) AS BIGINT) AS n_tiles,
        |  CAST(coalesce(n_in, 0) AS BIGINT) AS n_tiles_in_base,
        |  round(coalesce(n_in, 0) /
        |    CAST(greatest(coalesce(n_tiles, 0), 1) AS DOUBLE), 9) AS tile_frac,
        |  CASE WHEN is_exact = 1 THEN 'exact_dup'
        |    WHEN coalesce(n_in, 0) /
        |      CAST(greatest(coalesce(n_tiles, 0), 1) AS DOUBLE) >= 0.5
        |      THEN 'near_dup'
        |    ELSE 'new' END AS status
        |FROM ex e LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin))
}
