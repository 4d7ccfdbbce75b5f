package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.ops.{AsOf, Bpe, Classify, Dedup, Exact, Layout, Normalize, RangeJoin, Sampling, Shard, Similarity, Sketches, Text, Windows}

/** Advanced relational surface: as-of join, rollup, conditional pivot,
  * exact distinct counts, exact-arithmetic correlation. All oracle-backed.
  */
object AdvQueries extends QuerySet {

  /** As-of join: each purchase enriched with the user's most recent view
    * value at-or-before the purchase time (oracle: DuckDB ASOF LEFT JOIN).
    * (user_id, ts) is unique among views in this corpus, so the result is
    * deterministic. */
  private val q33: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val views = ev.where($"event_type" === "view")
      .select($"user_id", $"ts", $"value".as("last_view_value"))
    AsOf.join(purchases, views, "user_id", "ts", "ts", Seq("last_view_value"))
      .select($"event_id", $"user_id", $"ts", $"last_view_value")
      .orderBy($"event_id")
  }

  /** ROLLUP over (returnflag, linestatus): subtotals + grand total.
    * NULLS FIRST explicitly — Spark and DuckDB default opposite null
    * orderings. */
  private val q34: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(Exact.dsumScaled($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** Conditional-aggregation pivot: per-user metric columns per event type
    * (the scalable alternative to a dynamic pivot — fixed output schema,
    * single pass, map-side partials). */
  private val q35: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id")
      .agg(
        count(when($"event_type" === "view", 1)).as("n_view"),
        count(when($"event_type" === "click", 1)).as("n_click"),
        count(when($"event_type" === "purchase", 1)).as("n_purchase"),
        sum(when($"event_type" === "purchase", $"value").cast(DecimalType(18, 4)))
          .cast("double").as("purchase_value"))
      .orderBy($"user_id")
  }

  /** Exact distinct cardinalities per group (the exact counterpart of the
    * approx_count_distinct scale path; Catalyst plans expand + two-phase
    * aggregation). */
  private val q36: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"), count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  /** Pearson correlation of value vs props.k per event type, computed from
    * DECIMAL-exact component sums so both engines evaluate the identical
    * closed-form double expression (built-in corr() uses engine-specific
    * streaming algorithms whose low bits differ). */
  private val q37: Q = (s, d) => {
    import s.implicits._
    val k = get_json_object($"props", "$.k").cast("int")
    val d4 = DecimalType(18, 4)
    val grouped = Tables.events(s, d)
      .select($"event_type", $"value", k.as("k"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum($"value".cast(d4)).cast("double").as("sx"),
        sum($"k").cast("double").as("sy"),
        sum(($"value" * $"k").cast(d4)).cast("double").as("sxy"),
        sum(($"value" * $"value").cast(d4)).cast("double").as("sxx"),
        sum(($"k" * $"k")).cast("double").as("syy"))
    grouped.select(
        $"event_type",
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          (sqrt($"n" * $"sxx" - $"sx" * $"sx") * sqrt($"n" * $"syy" - $"sy" * $"sy")), 6)
          .as("corr_value_k"),
        $"n".cast("long").as("n"))
      .orderBy($"event_type")
  }

  /** Approximate sketches (HLL++ distinct, DDSketch median) — the scale
    * path for cardinality/quantiles. Both sketches are merge-order-
    * independent (HLL merges register-wise max; DDSketch merges bucket
    * counts), so unlike the `percentile_approx` this query used through
    * round 4 the output is a pure function of the data multiset —
    * deterministic under any partitioning, hence golden-pinned. HLL
    * internals are engine-specific (no SQL oracle); the DDSketch half has
    * a full DuckDB oracle as q68. Error bounds vs the exact q36/q54
    * counterparts are asserted in OpsSpec. */
  private val q38: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val hll = ev.groupBy($"event_type")
      .agg(approx_count_distinct($"user_id").as("approx_users"),
        count(lit(1)).as("n"))
    val med = Sketches.ddQuantiles(ev, "event_type", "value", Seq(0.5))
      .select($"event_type", round($"est", 6).as("approx_median_value"))
    hll.join(med, Seq("event_type"), "left")
      .select($"event_type", $"approx_users", $"approx_median_value", $"n")
      .orderBy($"event_type")
  }

  /** DDSketch grouped quantiles (p50/p95/p99) with the full relative-error
    * machinery SQL-visible — the deterministic-sketch counterpart of q54's
    * exact percentiles, oracle-checked end to end (the DuckDB side runs
    * the identical bucket/cumulate/probe construction). */
  private val q68: Q = (s, d) => {
    import s.implicits._
    Sketches.ddQuantiles(Tables.events(s, d), "event_type", "value",
        Seq(0.5, 0.95, 0.99))
      .select($"event_type", $"quantile", round($"est", 6).as("est"), $"n_values")
      .orderBy($"event_type", $"quantile")
  }

  /** DDSketch ROLLUP: per-(type, day) sketches answer the per-type
    * question by summing bucket counts — no re-scan of events, the
    * additivity that makes sketch stores queryable at any later
    * granularity (the same identity QuantileMonitor's sink relies on).
    * Day-level quantile rows plus rolled-up whole-corpus rows (day NULL);
    * the oracle recomputes both levels from the SAME fine-count CTE, so a
    * rollup that double-counts or drops a bucket reds the hash. */
  private val q70: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).withColumn("day", to_date($"ts"))
    val fine = Sketches.bucketCounts(ev, Seq("event_type", "day"), "value")
    val daily = Sketches.quantilesFromCounts(fine, Seq("event_type", "day"),
        Seq(0.5, 0.9))
      .select($"event_type", $"day", $"quantile",
        round($"est", 6).as("est"), $"n_values")
    val coarse = fine.groupBy($"event_type", $"sgn", $"j")
      .agg(sum($"cnt").as("cnt"))
    val overall = Sketches.quantilesFromCounts(coarse, Seq("event_type"),
        Seq(0.5, 0.9))
      .select($"event_type", lit(null).cast("date").as("day"), $"quantile",
        round($"est", 6).as("est"), $"n_values")
    daily.unionByName(overall)
      .orderBy($"event_type", $"day".asc_nulls_first, $"quantile")
  }

  /** Native session windows (streaming-capable session_window; merge while
    * gap < 30 min, end = last event + gap). */
  private val q39: Q = (s, d) => {
    import s.implicits._
    Windows.sessionWindows(Tables.events(s, d), "user_id", "ts", "30 minutes")
      .orderBy($"user_id", $"session_start")
  }

  /** Whitespace vs BPE-ish token counts per document. */
  private val q40: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        graft.ops.Text.tokenCount($"text").as("ws_tokens"),
        graft.ops.Text.bpeishTokenCount($"text").as("bpeish_tokens"))
      .orderBy($"doc_id")
  }

  /** IVF approximate kNN (k-means coarse quantizer + in-cell exact
    * re-rank). CORPUS-SCALED parameters ([[graft.ops.Similarity.ivfScaledParams]]:
    * nCells ∝ √N, nProbe holds the 0.35 probe fraction) — round 15's fix
    * for fixed 16/4 whose recall fell 0.62 → 0.40 over a corpus decade;
    * the sf1 golden gate enforces recall ≥ 0.5. */
  private val q41: Q = (s, d) => {
    import s.implicits._
    val e = graft.ops.Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
    val (cells, probe) = graft.ops.Similarity.ivfScaledParams(graft.ops.Similarity.corpusCount(e))
    graft.ops.Similarity.knnIvf(e.where($"id" < 10), e, k = 5, nCells = cells, nProbe = probe)
      .select($"query_id", $"neighbor_id", round($"cosine", 6).as("cosine"), $"rank".as("rnk"))
      .orderBy($"query_id", $"rnk")
  }

  /** IVF-PQ approximate kNN (coarse quantizer restricts cells, product-
    * quantization codes rank by asymmetric distance, exact re-rank of the
    * shortlist; golden-pinned — k-means + argmin codebooks aren't
    * DuckDB-expressible). CORPUS-SCALED coarse params (q41's 0.35 probe
    * fraction) + 4-dim subspaces (m = 16 over the 64-dim corpus, kSub =
    * 32, refine = 16): the round-14 gate measured the old 8-dim/16-code
    * books too noisy to rank a weakly-structured corpus (recall 0.18 at
    * sf1); finer books + a deeper exact-re-rank shortlist hold ≥ 0.74 at
    * every shipped scale, enforced ≥ 0.5 at sf1 by GoldenSf1Checks. */
  private val q73: Q = (s, d) => {
    import s.implicits._
    val e = graft.ops.Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
    val (cells, probe) = graft.ops.Similarity.ivfScaledParams(graft.ops.Similarity.corpusCount(e))
    graft.ops.Similarity.knnIvfPq(e.where($"id" < 10), e, k = 5,
        nCells = cells, nProbe = probe, m = 16, kSub = 32, refine = 16)
      .select($"query_id", $"neighbor_id", round($"cosine", 6).as("cosine"), $"rank".as("rnk"))
      .orderBy($"query_id", $"rnk")
  }

  /** IVF kNN through a PERSISTED index: the first execution trains once
    * and publishes the centroid table to a deterministic path; every
    * later execution — any session, any JVM — loads it instead of
    * re-running the sample job. Same parameters as q41, so the output is
    * required to be IDENTICAL to q41's (training is deterministic, and
    * the golden files pin both). */
  private val q74: Q = (s, d) => {
    import s.implicits._
    val e = graft.ops.Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
    // path keyed by the corpus FILES (name, length, mtime), not just the
    // dir — a regenerated corpus under the same path gets a fresh index
    // path and retrains, instead of probing a stale persisted index —
    // and rooted under the per-user 0700 store root (Stores.root)
    val idx = Stores.ivfStorePath(d)
    val (cells, probe) = graft.ops.Similarity.ivfScaledParams(graft.ops.Similarity.corpusCount(e))
    graft.ops.Similarity.knnIvfPersisted(e.where($"id" < 10), e, k = 5,
        indexPath = idx, nCells = cells, nProbe = probe)
      .select($"query_id", $"neighbor_id", round($"cosine", 6).as("cosine"), $"rank".as("rnk"))
      .orderBy($"query_id", $"rnk")
  }

  /** Trained quality classifier ([[Classify.qualityClassifier]]): seed
    * labels from the rule-based quality score, logistic regression
    * trained by aggregation-only batch GD on a deterministic 30%
    * hash-sample (driver holds only the 6 weights), calibrated scores
    * projected over EVERY doc with the weights as plan literals. No
    * oracle — iterative GD is not SQL-expressible — so the output is
    * golden-pinned (decimal-exact gradient sums make training
    * bit-deterministic) and ClassifySpec asserts convergence +
    * separation. Served from the persisted score store
    * ([[Stores.qualityScores]]): weights are a pure function of
    * (corpus fp, hyperparams), so the 30-iteration GD belongs in the
    * once-per-corpus derivation, not in every session's first touch —
    * steady state is one parquet scan, and bit-exact training keeps the
    * golden pin byte-identical across the reroute. */
  private val q79: Q = (s, d) => {
    import s.implicits._
    Stores.qualityScores(s, d)
      .select($"doc_id", $"label", round($"score", 6).as("score"), $"predicted")
      .orderBy($"doc_id")
  }

  /** Deterministic shuffled sharding ([[Shard.shardAssign]]): the
    * training-data export permutation — seed-salted portable hash order,
    * `mod nShards` membership, one shard-partitioned sort for positions.
    * The oracle recomputes placement from the same md5 arithmetic, so a
    * drifting hash, a biased mod, or an unstable tie-break reds the row. */
  private val q80: Q = (s, d) => {
    import s.implicits._
    Shard.shardAssign(Tables.documents(s, d).select($"doc_id"),
        "doc_id", nShards = 16, seed = "graft-r7")
      .select($"doc_id", $"ord", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  /** Z-order clustering key ([[Layout.zValue]] over [[Layout.rankBucket]]
    * ranks): the native `InterleaveBits` Morton interleave that
    * [[Layout.zOrderWrite]] sorts by. Every step is integer-exact and
    * engine-portable (shift-based ranks, `length(bin(range))` for the
    * shift amount), so the oracle recomputes the full clustering key —
    * a drifting spread mask or a rank off-by-one reds the hash. */
  private val q81: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_id", $"user_id")
    val r = ev.agg(min($"user_id"), max($"user_id"),
      min($"event_id"), max($"event_id")).head()
    val rx = Layout.rankBucket($"user_id", r.getLong(0), r.getLong(1), 16)
    val ry = Layout.rankBucket($"event_id", r.getLong(2), r.getLong(3), 16)
    ev.select($"event_id", $"user_id", rx.as("rx"), ry.as("ry"),
        Layout.zValue(rx, ry).as("z"))
      .orderBy($"z", $"event_id")
  }

  /** BPE tokenizer training ([[Bpe.train]]): 50 merges learned from the
    * corpus word-frequency table, one aggregation job per merge, driver
    * holding only the merge list. Iterative — not SQL-expressible — so
    * the learned vocabulary is golden-pinned (exact long pair counts +
    * lexicographic tie-break make it bit-stable across partitionings,
    * spec-asserted); BpeSpec carries the hand-checked merge order and
    * encode round-trip. */
  private val q83: Q = (s, d) => {
    import s.implicits._
    Bpe.mergeTable(Tables.documents(s, d), "text", nMerges = 50)
      .orderBy($"rank")
  }

  /** CCNet-style segment-level keep-first dedup
    * ([[Dedup.tileDedupKeepFirst]]): one surviving copy of every
    * duplicated 8-token tile corpus-wide, documents rewritten without
    * the dropped copies. md5 tile keys on this oracle surface so DuckDB
    * replays the identical keep-first rule (row_number over the same
    * key). */
  private val q86: Q = (s, d) => {
    import s.implicits._
    Dedup.tileDedupKeepFirst(Tables.documents(s, d), "doc_id", "text",
        k = 8, tileKey = md5(_))
      .orderBy($"doc_id")
  }

  /** SemDeDup ([[Similarity.semDedup]]): k-means-cluster-scoped semantic
    * dedup with the keep-the-outlier rule. k-means is iterative (not
    * SQL-expressible) so the output is golden-pinned; OpsSpec carries
    * the pair-rule invariants. */
  private val q87: Q = (s, d) => {
    import s.implicits._
    Similarity.semDedup(
        Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding"),
        nCells = 8, minCosine = 0.3)
      .withColumnRenamed("id", "vec_id")
      .orderBy($"vec_id")
  }

  /** BPE ENCODE under the q83-trained model ([[Bpe.encode]] — the apply
    * half of the tokenizer story; the model memo means this query pays
    * zero training after q83). Iterative greedy merges per word — not
    * SQL-expressible — so golden-pinned; BpeSpec holds the detokenize
    * round-trip proof. */
  private val q88: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val model = Bpe.trainedModel(docs, "text", nMerges = 50)
    Bpe.encode(docs.select($"doc_id", $"text"), "text", model)
      .select($"doc_id",
        Text.tokenCount($"text").as("n_words"),
        size($"bpe_tokens").as("n_bpe_tokens"),
        array_join(slice($"bpe_tokens", 1, 8), " ").as("bpe_head"))
      .orderBy($"doc_id")
  }

  /** DSIR importance weights ([[Text.dsirWeights]]): per-doc mean
    * log-likelihood ratio of a target-domain unigram LM (here source
    * 'src0' plays the trusted subset) vs the raw corpus. Decimal-exact
    * summation, so fully oracle-checkable. */
  private val q89: Q = (s, d) => {
    import s.implicits._
    Text.dsirWeights(Tables.documents(s, d), "doc_id", "text",
        targetPred = $"source" === "src0")
      .orderBy($"doc_id")
  }

  /** Token-budget domain mixing ([[Sampling.tokenBudgetSample]]): each
    * source capped at 800 tokens by the seeded-permutation greedy
    * prefix. The oracle recomputes the SAME sample with its naive
    * single-window cumsum — verifying the scale-side bucketed
    * decomposition against the defining rule. */
  private val q90: Q = (s, d) => {
    import s.implicits._
    Sampling.tokenBudgetSample(Tables.documents(s, d), "doc_id", "text",
        "source", budget = 800L, seed = "mix7")
      .orderBy($"source", $"ord", $"doc_id")
  }

  /** Interpolated bigram LM scoring ([[Text.bigramLogProb]]) — the
    * engine-exact reduction of KenLM-style perplexity filtering; docs
    * with improbable token transitions score low. λ = 0.75, first token
    * unigram-only. Decimal-exact summation, fully oracle-checkable.
    * Reads the PERSISTED LM-score store ([[graft.queries.Stores.lmScores]])
    * — identical rows whether the store was hit or the derivation
    * paid. */
  private val q92: Q = (s, d) => {
    import s.implicits._
    graft.queries.Stores.lmScores(s, d)
      .select($"doc_id", $"n_tokens", $"bigram_logprob")
      .orderBy($"doc_id")
  }

  /** Deterministic epoch upsampling ([[Sampling.upsampleEpochs]]): the
    * corpus at 2.3 epochs — two whole copies plus a 30% hash-gated
    * third; membership replayed exactly by the oracle. */
  private val q93: Q = (s, d) => {
    import s.implicits._
    Sampling.upsampleEpochs(
        Tables.documents(s, d).select($"doc_id", $"source"),
        "doc_id", weight = 2.3)
      .select($"doc_id", $"source", $"epoch")
      .orderBy($"doc_id", $"epoch")
  }

  /** Curation capstone v2 — the round-7 operator family composed
    * end-to-end as ONE deterministic, fully oracle-checkable pipeline
    * (q42 composed the round-1 family; this is its training-data-export
    * successor):
    *
    *   1. DSIR gate ([[Text.dsirWeights]] ≥ 0): keep docs that look at
    *      least as target-like as the raw corpus;
    *   2. tile-level keep-first dedup REWRITE of the survivors
    *      ([[Dedup.tileDedupKeepFirst]]), dropping docs whose content
    *      was entirely claimed by earlier copies;
    *   3. token-budget admission per source on the CLEANED text
    *      ([[Sampling.tokenBudgetSample]], 500 tokens/source);
    *   4. deterministic shuffled shard assignment of the admitted
    *      sample ([[Shard.shardAssign]]) — the export order a training
    *      run would consume.
    *
    * Budget admission and shard placement use DIFFERENT seeds: the same
    * permutation for both would correlate "which docs got in" with
    * "where they landed", reintroducing the ordering bias the shard
    * shuffle exists to break. */
  private val q91: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val gated = docs.join(
      Text.dsirWeights(docs, "doc_id", "text", $"source" === "src0")
        .where($"dsir_weight" >= 0.0).select($"doc_id"),
      Seq("doc_id"), "left_semi")
    val cleaned = Dedup.tileDedupKeepFirst(gated, "doc_id", "text",
        k = 8, tileKey = md5(_))
      .where($"cleaned_text" =!= "")
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
    val admitted = Sampling.tokenBudgetSample(cleaned, "doc_id", "cleaned_text",
        "source", budget = 500L, seed = "cap7")
      .select($"doc_id", $"source", $"n_tok", $"cum_tok")
    Shard.shardAssign(admitted, "doc_id", nShards = 4, seed = "cap7s")
      .select($"shard", $"pos", $"doc_id", $"source", $"n_tok", $"cum_tok")
      .orderBy($"shard", $"pos")
  }

  /** Trailing 5-event moving average of value per user — per-key rolling
    * feature backfill (one hash-partition by user + sort; decimal-exact
    * frame sum). */
  private val q53: Q = (s, d) => {
    import s.implicits._
    Windows.rollingAvg(
        Tables.events(s, d).select($"event_id", $"user_id", $"ts", $"value"),
        "user_id", Seq($"ts", $"event_id"), $"value", frameRows = 5)
      .select($"event_id", $"user_id",
        round($"rolling_avg", 6).as("mov_avg_5"), $"n_frame")
      .orderBy($"event_id")
  }

  /** Exact grouped percentiles (interpolated, the built-in `percentile`):
    * the exact counterpart of q38's approx sketch path. Both engines use
    * the standard p·(n−1) linear-interpolation definition; rounding to
    * 6 dp absorbs last-ulp interpolation-arithmetic differences. */
  private val q54: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(
        round(percentile($"value", lit(0.25)), 6).as("p25"),
        round(percentile($"value", lit(0.5)), 6).as("p50"),
        round(percentile($"value", lit(0.9)), 6).as("p90"),
        count($"value").as("n_values"))
      .orderBy($"event_type")
  }

  /** Per-group z-score normalization of event values (aggregate-and-
    * broadcast-join-back — the fact table is never shuffled; see
    * [[Normalize.zscore]]). */
  private val q55: Q = (s, d) => {
    import s.implicits._
    Normalize.zscore(
        Tables.events(s, d).select($"event_id", $"event_type", $"value"),
        "event_type", "value")
      .select($"event_id", $"event_type", round($"value_z", 6).as("z_value"))
      .orderBy($"event_id")
  }

  /** Token-count decile profile of the corpus. Deciles are EXACT
    * NEAREST-RANK BOUNDARIES from the integer token-count histogram
    * (the q211 technique): boundary bᵢ = the value at ascending rank
    * ⌈i·N/10⌉ (integer arithmetic, (i·N+9) div 10), bucket(v) =
    * 1 + #{i : v > bᵢ}. Tie convention shared with the oracle: all
    * documents with the same token count land in the SAME decile (a
    * value equal to bᵢ belongs to bucket ≤ i), so a heavily-tied value
    * can leave later deciles empty — the profile reports realized
    * buckets. This replaces the round-≤11 global ntile, whose
    * unpartitioned sort over the full per-document frame is a
    * straggler by construction at 100 TB; the histogram window here
    * runs over the token-count VALUE domain only (bounded however
    * large the corpus), and bucketing is a map-side comparison against
    * 9 broadcast boundaries. */
  private val q56: Q = (s, d) => {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", graft.ops.Text.tokenCount($"text").as("n_tokens"))
      // staged: unstaged, the tokenizing scan runs twice and q56 is
      // slower at sf0.1 (0.229 → 0.243 s)
      .transform(graft.ops.Staged(_))
    val hist = toks.groupBy($"n_tokens".as("v"))
      .agg(count(lit(1)).cast("long").as("c"))
    val cum = hist
      .withColumn("cum", sum($"c").over(
        org.apache.spark.sql.expressions.Window.orderBy($"v")))
      .crossJoin(broadcast(hist.agg(sum($"c").cast("long").as("n"))))
    // Spark's `/` on integers is DOUBLE division; floor+cast recovers the
    // exact ⌈i·N/10⌉ = (i·N+9) div 10 (exact in IEEE up to 2^52),
    // matching DuckDB's `//`
    val bs = (1 to 9).map(i =>
      min(when($"cum" >= floor((lit(i) * $"n" + 9) / 10).cast("long"), $"v"))
        .as(s"b$i"))
    val bounds = cum.agg(bs.head, bs.tail: _*)
    val bucket = (1 to 9).map(i => ($"n_tokens" > col(s"b$i")).cast("int"))
      .reduce(_ + _) + 1
    toks.crossJoin(broadcast(bounds))
      .select($"doc_id", $"n_tokens", bucket.cast("int").as("decile"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"),
        min($"n_tokens").as("min_tokens"), max($"n_tokens").as("max_tokens"))
      .orderBy($"decile")
  }

  /** Interval join: each purchase's trailing-30-minute view activity for the
    * same user (count + decimal-exact value sum). Inner interval join →
    * per-purchase aggregate → left join back, so zero-activity purchases
    * keep a 0 row (the left-outer counting shape that keeps the interval
    * join itself inner and bucket-bounded). */
  private val q60: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val views = ev.where($"event_type" === "view")
      .select($"user_id", $"ts".as("view_ts"), $"value".as("view_value"))
    val matched = RangeJoin.intervalJoin(
      purchases, views, "user_id", "ts", "view_ts",
      before = java.time.Duration.ofMinutes(30), after = java.time.Duration.ZERO,
      payload = Seq("view_value"))
    val perPurchase = matched.groupBy($"event_id").agg(
      count(lit(1)).as("n_prior_views"),
      Exact.dsum($"view_value").as("sum_view_value"))
    purchases.join(perPurchase, Seq("event_id"), "left")
      .select($"event_id", $"user_id",
        coalesce($"n_prior_views", lit(0L)).as("n_prior_views"),
        coalesce($"sum_view_value", lit(0.0)).as("sum_view_value"))
      .orderBy($"event_id")
  }

  /** Per-label embedding centroids as flat (label, dim, mean) rows —
    * the class-prototype computation of semantic search / clustering
    * pipelines. posexplode → (label, dim) two-phase aggregate: the
    * shuffle carries per-(label, dim) partial sums, never vectors; the
    * component mean is decimal-exact (q30's precedent) so the oracle
    * hash-compares. */
  private val q63: Q = (s, d) => {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"label", posexplode($"embedding".cast("array<double>")).as(Seq("dim", "v")))
      .groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), round(Exact.davg($"v"), 6).as("mean_v"))
      .orderBy($"label", $"dim")
  }

  /** Robust outlier audit: IQR fences (Tukey 1.5×) per event type from
    * exact interpolated quartiles, outliers counted per group. Two-pass
    * aggregate-and-broadcast-join-back — the fact table is never
    * shuffled (same rationale as [[Normalize.zscore]]). */
  private val q64: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"value")
    val fences = ev.groupBy($"event_type").agg(
      percentile($"value", lit(0.25)).as("p25"),
      percentile($"value", lit(0.75)).as("p75"))
    val iqr = $"p75" - $"p25"
    ev.join(broadcast(fences), Seq("event_type"))
      .withColumn("is_outlier",
        $"value" < $"p25" - iqr * 1.5 || $"value" > $"p75" + iqr * 1.5)
      .groupBy($"event_type")
      .agg(count(when($"is_outlier", 1)).as("n_outliers"),
        count($"value").as("n_values"),
        round(min($"p25" - iqr * 1.5), 6).as("lo_fence"),
        round(min($"p75" + iqr * 1.5), 6).as("hi_fence"))
      .orderBy($"event_type")
  }

  /** Minute-grid resampling with forward fill per event type — the
    * gap-filling view of the event stream (is_gap marks carried-forward
    * minutes). Grid size is bounded by the time span, not data volume. */
  private val q65: Q = (s, d) => {
    import s.implicits._
    Windows.resampleFfill(Tables.events(s, d), "event_type", "ts", "value")
      .select($"event_type", $"grid_ts",
        round($"value_ffill", 6).as("value_ffill"), $"is_gap")
      .orderBy($"event_type", $"grid_ts")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q40_bpeish_tokens"   -> q40,
    "q41_knn_ivf"         -> q41,
    "q60_interval_join"   -> q60,
    "q63_label_centroids" -> q63,
    "q64_iqr_outliers"    -> q64,
    "q65_resample_ffill"  -> q65,
    "q53_rolling_stats"   -> q53,
    "q54_percentiles"     -> q54,
    "q55_zscore"          -> q55,
    "q56_token_deciles"   -> q56,
    "q33_asof_join"       -> q33,
    "q34_rollup"          -> q34,
    "q35_pivot_metrics"   -> q35,
    "q36_distinct_counts" -> q36,
    "q37_corr_exact"      -> q37,
    "q38_approx_sketches" -> q38,
    "q39_session_window"  -> q39,
    "q68_dd_quantiles"    -> q68,
    "q70_sketch_day_rollup" -> q70,
    "q73_knn_ivfpq"       -> q73,
    "q74_knn_ivf_saved"   -> q74,
    "q79_quality_classifier" -> q79,
    "q80_shard_export"    -> q80,
    "q81_zorder_key"      -> q81,
    "q83_bpe_vocab"       -> q83,
    "q86_tile_dedup"      -> q86,
    "q87_semdedup"        -> q87,
    "q88_bpe_encode"      -> q88,
    "q89_dsir_weights"    -> q89,
    "q90_token_budget"    -> q90,
    "q91_curation_v2"     -> q91,
    "q92_bigram_logprob"  -> q92,
    "q93_epoch_upsample"  -> q93)

  // q68's oracle re-runs the DDSketch construction in DuckDB; the γ and
  // ln γ literals are printed from the exact Scala doubles so both engines
  // bucket with bit-identical constants
  private val ddGamma: Double = Sketches.gammaFor(0.01)
  private val ddLnGamma: Double = math.log(ddGamma)

  val oracle: Seq[(String, String)] = Seq(
    "q70_sketch_day_rollup" ->
      s"""WITH b AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CASE WHEN value > 0 THEN 1 WHEN value < 0 THEN -1 ELSE 0 END AS sgn,
        |    CASE WHEN value = 0 THEN 0
        |         ELSE CAST(ceil(ln(abs(value)) / $ddLnGamma) AS BIGINT) END AS j
        |  FROM events WHERE value IS NOT NULL),
        |fine AS (SELECT event_type, day, sgn, j, count(*) AS cnt
        |  FROM b GROUP BY 1, 2, 3, 4),
        |coarse AS (SELECT event_type, sgn, j, CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM fine GROUP BY 1, 2, 3),
        |q AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS quantile),
        |dw AS (SELECT event_type, day, sgn, j,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, day ORDER BY sgn, sgn * j
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, day) AS BIGINT) AS n_values
        |  FROM fine),
        |dp AS (SELECT event_type, day, quantile, n_values,
        |    CASE WHEN sgn = 0 THEN 0.0
        |         ELSE sgn * 2.0 * power($ddGamma, j) / ($ddGamma + 1) END AS bucket_est,
        |    row_number() OVER (PARTITION BY event_type, day, quantile
        |      ORDER BY sgn, sgn * j) AS rn
        |  FROM dw CROSS JOIN q WHERE cum > quantile * (n_values - 1)),
        |cw AS (SELECT event_type, sgn, j,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY sgn, sgn * j
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_values
        |  FROM coarse),
        |cp AS (SELECT event_type, CAST(NULL AS DATE) AS day, quantile, n_values,
        |    CASE WHEN sgn = 0 THEN 0.0
        |         ELSE sgn * 2.0 * power($ddGamma, j) / ($ddGamma + 1) END AS bucket_est,
        |    row_number() OVER (PARTITION BY event_type, quantile
        |      ORDER BY sgn, sgn * j) AS rn
        |  FROM cw CROSS JOIN q WHERE cum > quantile * (n_values - 1))
        |SELECT event_type, day, quantile, round(bucket_est, 6) AS est, n_values
        |FROM dp WHERE rn = 1
        |UNION ALL
        |SELECT event_type, day, quantile, round(bucket_est, 6) AS est, n_values
        |FROM cp WHERE rn = 1
        |ORDER BY event_type, day NULLS FIRST, quantile""".stripMargin,
    "q81_zorder_key" -> {
      // 16 bits per dimension -> 32 disjoint-bit terms; + is | on
      // disjoint bits, and every term is BIGINT arithmetic
      val zTerms = (0 until 16).map(i =>
        s"(((rx >> $i) & 1) << ${2 * i}) + (((ry >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH r AS (SELECT min(user_id) AS xlo, max(user_id) AS xhi,
        |    min(event_id) AS ylo, max(event_id) AS yhi FROM events),
        |s AS (SELECT xlo, ylo,
        |    length(bin(xhi - xlo)) - 16 AS sx,
        |    length(bin(yhi - ylo)) - 16 AS sy FROM r),
        |k AS (SELECT e.event_id, e.user_id,
        |    CASE WHEN s.sx >= 0 THEN (e.user_id - s.xlo) >> s.sx
        |         ELSE (e.user_id - s.xlo) << (-s.sx) END AS rx,
        |    CASE WHEN s.sy >= 0 THEN (e.event_id - s.ylo) >> s.sy
        |         ELSE (e.event_id - s.ylo) << (-s.sy) END AS ry
        |  FROM events e CROSS JOIN s)
        |SELECT event_id, user_id, rx, ry, $zTerms AS z
        |FROM k ORDER BY z, event_id""".stripMargin
    },
    "q86_tile_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, w,
        |        unnest(generate_series(0, (len(w) + 7) // 8 - 1)) AS i FROM t),
        |tl AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
        |        array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') AS tile
        |      FROM c),
        |k AS (SELECT doc_id, pos, tile,
        |        row_number() OVER (PARTITION BY md5(tile) ORDER BY doc_id, pos) AS rn
        |      FROM tl)
        |SELECT doc_id, count(*) AS n_tiles,
        |  CAST(coalesce(sum(CASE WHEN rn = 1 THEN 1 END), 0) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN tile END, ' ' ORDER BY pos), '')
        |    AS cleaned_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q89_dsir_weights" ->
      """WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, count(*) AS n_r,
        |        sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS n_t
        |      FROM t GROUP BY tok),
        |tot AS (SELECT CAST(sum(n_r) AS DOUBLE) AS nr, CAST(sum(n_t) AS DOUBLE) AS nt,
        |        CAST(count(*) AS DOUBLE) AS v FROM f),
        |s AS (SELECT doc_id,
        |    CAST(round(ln((n_t + 1) / (nt + v)) - ln((n_r + 1) / (nr + v)), 9)
        |      AS DECIMAL(18,9)) AS lr
        |  FROM t JOIN f USING (tok) CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(lr) AS DOUBLE) / count(*), 6) AS dsir_weight
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q90_token_budget" ->
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(concat('0x', substr(md5(concat('mix7 ',
        |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tok, ord,
        |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
        |  FROM t)
        |SELECT source, doc_id, n_tok, cum_tok, ord
        |FROM c WHERE cum_tok <= 800 ORDER BY source, ord, doc_id""".stripMargin,
    "q92_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, w[i] AS tok,
        |          CASE WHEN i > 1 THEN w[i-1] END AS prev
        |        FROM t, unnest(generate_series(1, len(w))) AS u(i)),
        |uni AS (SELECT tok, count(*) AS n_u FROM tok GROUP BY tok),
        |big AS (SELECT prev, tok, count(*) AS n_bg FROM tok
        |        WHERE prev IS NOT NULL GROUP BY prev, tok),
        |tot AS (SELECT CAST(sum(n_u) AS DOUBLE) AS n FROM uni),
        |s AS (SELECT doc_id,
        |    CAST(round(ln(CASE WHEN tk.prev IS NULL THEN u.n_u / n
        |      ELSE 0.75 * (b.n_bg / CAST(pu.n_u AS DOUBLE)) + 0.25 * (u.n_u / n)
        |      END), 9) AS DECIMAL(18,9)) AS lp
        |  FROM tok tk JOIN uni u USING (tok)
        |  LEFT JOIN uni pu ON pu.tok = tk.prev
        |  LEFT JOIN big b ON b.prev = tk.prev AND b.tok = tk.tok
        |  CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS bigram_logprob
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q93_epoch_upsample" -> {
      val thr = graft.ops.Sampling.hexThreshold(2.3 - 2)
      s"""WITH e AS (SELECT doc_id, source,
        |    unnest(generate_series(0, 2)) AS epoch FROM documents)
        |SELECT doc_id, source, CAST(epoch AS INTEGER) AS epoch FROM e
        |WHERE epoch < 2 OR md5(concat('epoch ', CAST(epoch AS VARCHAR), ' ',
        |  CAST(doc_id AS VARCHAR))) < '$thr'
        |ORDER BY doc_id, epoch""".stripMargin
    },
    "q91_curation_v2" ->
      """WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, count(*) AS n_r,
        |        sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS n_t
        |      FROM t GROUP BY tok),
        |tot AS (SELECT CAST(sum(n_r) AS DOUBLE) AS nr, CAST(sum(n_t) AS DOUBLE) AS nt,
        |        CAST(count(*) AS DOUBLE) AS v FROM f),
        |sc AS (SELECT doc_id,
        |    round(CAST(sum(CAST(round(ln((n_t + 1) / (nt + v))
        |      - ln((n_r + 1) / (nr + v)), 9) AS DECIMAL(18,9))) AS DOUBLE)
        |      / count(*), 6) AS w
        |  FROM t JOIN f USING (tok) CROSS JOIN tot GROUP BY doc_id),
        |gated AS (SELECT d.doc_id, d.source, d.text
        |  FROM documents d JOIN sc USING (doc_id) WHERE sc.w >= 0.0),
        |tw AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM gated),
        |c AS (SELECT doc_id, source, w,
        |        unnest(generate_series(0, (len(w) + 7) // 8 - 1)) AS i FROM tw),
        |tl AS (SELECT doc_id, source, CAST(i AS INTEGER) AS pos,
        |        array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') AS tile
        |      FROM c),
        |k AS (SELECT doc_id, source, pos, tile,
        |        row_number() OVER (PARTITION BY md5(tile) ORDER BY doc_id, pos) AS rn
        |      FROM tl),
        |cl AS (SELECT doc_id, source,
        |        coalesce(string_agg(CASE WHEN rn = 1 THEN tile END, ' ' ORDER BY pos), '')
        |          AS ct
        |      FROM k GROUP BY doc_id, source),
        |ne AS (SELECT doc_id, source,
        |        CAST(len(string_split(ct, ' ')) AS BIGINT) AS n_tok,
        |        CAST(concat('0x', substr(md5(concat('cap7 ',
        |          CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord
        |      FROM cl WHERE ct <> ''),
        |bu AS (SELECT doc_id, source, n_tok, ord,
        |        CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY ord, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
        |      FROM ne),
        |ad AS (SELECT doc_id, source, n_tok, cum_tok,
        |        CAST(concat('0x', substr(md5(concat('cap7s ',
        |          CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord2
        |      FROM bu WHERE cum_tok <= 500)
        |SELECT CAST(ord2 % 4 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY ord2 % 4 ORDER BY ord2, doc_id) - 1
        |    AS BIGINT) AS pos,
        |  doc_id, source, n_tok, cum_tok
        |FROM ad ORDER BY shard, pos""".stripMargin,
    "q80_shard_export" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(concat('graft-r7 ',
        |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord
        |  FROM documents)
        |SELECT doc_id, ord, CAST(ord % 16 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY ord % 16 ORDER BY ord, doc_id)
        |    - 1 AS BIGINT) AS pos
        |FROM a ORDER BY shard, pos""".stripMargin,
    "q68_dd_quantiles" ->
      s"""WITH b AS (
        |  SELECT event_type,
        |    CASE WHEN value > 0 THEN 1 WHEN value < 0 THEN -1 ELSE 0 END AS sgn,
        |    CASE WHEN value = 0 THEN 0
        |         ELSE CAST(ceil(ln(abs(value)) / $ddLnGamma) AS BIGINT) END AS j
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT event_type, sgn, j, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
        |w AS (SELECT event_type, sgn, j, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY sgn, sgn * j
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_values
        |  FROM c),
        |q AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
        |    CAST(0.99 AS DOUBLE)]) AS quantile),
        |p AS (SELECT event_type, quantile, n_values, sgn, j,
        |    CASE WHEN sgn = 0 THEN 0.0
        |         ELSE sgn * 2.0 * power($ddGamma, j) / ($ddGamma + 1) END AS bucket_est,
        |    row_number() OVER (PARTITION BY event_type, quantile
        |      ORDER BY sgn, sgn * j) AS rn
        |  FROM w CROSS JOIN q WHERE cum > quantile * (n_values - 1))
        |SELECT event_type, quantile, round(bucket_est, 6) AS est, n_values
        |FROM p WHERE rn = 1 ORDER BY event_type, quantile""".stripMargin,
    "q65_resample_ffill" ->
      """WITH b AS (SELECT event_type, date_trunc('minute', min(ts)) AS lo,
        |    date_trunc('minute', max(ts)) AS hi
        |  FROM events GROUP BY event_type),
        |grid AS (SELECT event_type,
        |    unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS grid_ts FROM b),
        |a AS (SELECT event_type, date_trunc('minute', ts) AS grid_ts,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS v,
        |    TRUE AS obs
        |  FROM events GROUP BY event_type, date_trunc('minute', ts))
        |SELECT g.event_type, g.grid_ts,
        |  round(last_value(v IGNORE NULLS) OVER (PARTITION BY g.event_type
        |    ORDER BY g.grid_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS value_ffill,
        |  obs IS NULL AS is_gap
        |FROM grid g LEFT JOIN a USING (event_type, grid_ts)
        |ORDER BY event_type, grid_ts""".stripMargin,
    "q63_label_centroids" ->
      """WITH e AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    CAST(generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS INTEGER) AS dim
        |  FROM embeddings)
        |SELECT label, dim, count(*) AS n,
        |  round(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) / count(v), 6) AS mean_v
        |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "q64_iqr_outliers" ->
      """WITH f AS (SELECT event_type,
        |    quantile_cont(value, 0.25) AS p25, quantile_cont(value, 0.75) AS p75
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type,
        |  count(*) FILTER (WHERE value < p25 - 1.5 * (p75 - p25)
        |    OR value > p75 + 1.5 * (p75 - p25)) AS n_outliers,
        |  count(value) AS n_values,
        |  round(min(p25 - 1.5 * (p75 - p25)), 6) AS lo_fence,
        |  round(min(p75 + 1.5 * (p75 - p25)), 6) AS hi_fence
        |FROM events e JOIN f USING (event_type)
        |GROUP BY e.event_type ORDER BY event_type""".stripMargin,
    "q60_interval_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts AS view_ts, value AS view_value FROM events
        |      WHERE event_type = 'view'),
        |m AS (SELECT p.event_id, count(*) AS n_prior_views,
        |        CAST(sum(CAST(view_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_view_value
        |      FROM p JOIN v ON p.user_id = v.user_id
        |        AND v.view_ts >= p.ts - INTERVAL 30 MINUTE AND v.view_ts <= p.ts
        |      GROUP BY p.event_id)
        |SELECT p.event_id, p.user_id,
        |  coalesce(m.n_prior_views, 0) AS n_prior_views,
        |  coalesce(m.sum_view_value, 0.0) AS sum_view_value
        |FROM p LEFT JOIN m ON p.event_id = m.event_id
        |ORDER BY p.event_id""".stripMargin,
    "q53_rolling_stats" ->
      """SELECT event_id, user_id,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    / count(value) OVER w, 6) AS mov_avg_5,
        |  count(value) OVER w AS n_frame
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q54_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  count(value) AS n_values
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q55_zscore" ->
      """WITH st AS (SELECT event_type,
        |    CAST(count(value) AS DOUBLE) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type,
        |  CASE WHEN n >= 2 AND (sxx - sx * sx / n) / (n - 1) > 0
        |    THEN round((value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)), 6)
        |  END AS z_value
        |FROM events e LEFT JOIN st USING (event_type)
        |ORDER BY event_id""".stripMargin,
    // exact nearest-rank decile boundaries from the integer token-count
    // histogram; tie convention: value == boundary bᵢ → bucket ≤ i
    // (identical integer arithmetic on both engines — see the Spark
    // side's Scaladoc)
    "q56_token_deciles" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |  FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
        |h AS (SELECT n_tokens AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1),
        |cm AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM h),
        |b AS (SELECT
        |    min(CASE WHEN cum >= (1*n+9)//10 THEN v END) AS b1,
        |    min(CASE WHEN cum >= (2*n+9)//10 THEN v END) AS b2,
        |    min(CASE WHEN cum >= (3*n+9)//10 THEN v END) AS b3,
        |    min(CASE WHEN cum >= (4*n+9)//10 THEN v END) AS b4,
        |    min(CASE WHEN cum >= (5*n+9)//10 THEN v END) AS b5,
        |    min(CASE WHEN cum >= (6*n+9)//10 THEN v END) AS b6,
        |    min(CASE WHEN cum >= (7*n+9)//10 THEN v END) AS b7,
        |    min(CASE WHEN cum >= (8*n+9)//10 THEN v END) AS b8,
        |    min(CASE WHEN cum >= (9*n+9)//10 THEN v END) AS b9
        |  FROM cm CROSS JOIN n),
        |d AS (SELECT doc_id, n_tokens,
        |    CAST(1 + CAST(n_tokens > b1 AS INTEGER)
        |      + CAST(n_tokens > b2 AS INTEGER)
        |      + CAST(n_tokens > b3 AS INTEGER)
        |      + CAST(n_tokens > b4 AS INTEGER)
        |      + CAST(n_tokens > b5 AS INTEGER)
        |      + CAST(n_tokens > b6 AS INTEGER)
        |      + CAST(n_tokens > b7 AS INTEGER)
        |      + CAST(n_tokens > b8 AS INTEGER)
        |      + CAST(n_tokens > b9 AS INTEGER) AS INTEGER) AS decile
        |  FROM t CROSS JOIN b)
        |SELECT decile, count(*) AS n_docs,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,
    "q40_bpeish_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q33_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, value AS last_view_value FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, p.ts, v.last_view_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    "q34_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(round(l_quantity * 10000, 0) AS BIGINT)) / 10000.0 AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q35_pivot_metrics" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
        |    AS purchase_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q36_distinct_counts" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q39_session_window" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |      (PARTITION BY user_id ORDER BY ts)) >= 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM x)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
        |FROM y GROUP BY user_id, sess ORDER BY user_id, session_start""".stripMargin,
    "q37_corr_exact" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(value * CAST(json_extract_string(props, '$.k') AS INTEGER) AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)
        |           * CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE) AS syy
        |  FROM events GROUP BY event_type)
        |SELECT event_type,
        |  round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        |    AS corr_value_k,
        |  CAST(n AS BIGINT) AS n
        |FROM g ORDER BY event_type""".stripMargin)
}
