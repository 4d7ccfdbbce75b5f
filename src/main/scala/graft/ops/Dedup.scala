package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, in increasing
  * fuzziness: exact (content hash), n-gram Jaccard (exact set similarity
  * over an inverted index), MinHash+LSH (approximate Jaccard at scale),
  * SimHash (approximate Hamming at scale).
  *
  * Scale posture: every pairwise operator avoids the O(n²) cross join —
  * candidate pairs come from an equi-join on a shared token (inverted
  * index), a shared LSH band bucket, or a shared SimHash chunk
  * (pigeonhole), so Spark plans plain shuffled hash joins whose cost is
  * bounded by bucket sizes, not n².
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact dedup by content hash: one row per distinct content with the
    * survivor id (min) and the duplicate count. Grouping by md5 rather
    * than the text itself keeps the shuffle narrow (32 hex chars vs
    * full documents) at 100 TB. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exploded distinct-shingle index and per-doc set sizes — shared by
    * both Jaccard variants so their shingle semantics cannot diverge. */
  private def shingleIndex(df: DataFrame, idCol: String, textCol: String,
                           n: Int): (DataFrame, DataFrame) = {
    val sh = df.select(col(idCol).as("doc"),
      explode(array_distinct(Text.shingles(col(textCol), n))).as("sh"))
    (sh, sh.groupBy($"doc").agg(count(lit(1)).as("n_sh")))
  }

  /** Shared finalization: exact Jaccard from intersection + set sizes. */
  /** The standard lossless length bound shared by every pair path:
    * jaccard(A,B) ≤ min/max, so a qualifying pair has min(n) ≥ t·max(n) —
    * ε-relaxed so IEEE round-off can only ADMIT extra candidates (the
    * exact jaccard filter at the end re-checks). One definition so an eps
    * or bound change can never silently diverge between the self-join and
    * cross-corpus paths. */
  private def lengthBoundOk(a: Column, b: Column, threshold: Double): Column =
    least(a("n"), b("n")) >= lit(threshold) * greatest(a("n"), b("n")) - 1e-9

  private def jaccardScore(inter: DataFrame, threshold: Double): DataFrame =
    inter
      .withColumn("jaccard", $"inter" / ($"n_a" + $"n_b" - $"inter"))
      .where($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"jaccard")

  /** Exact n-gram Jaccard near-dup pairs via an inverted shingle index,
    * posting-list form: one pass computes each document's distinct-shingle
    * array (set size carried alongside), the index groups postings per
    * shingle, and candidate pairs are generated *inside* each posting-list
    * array — so the input subtree is evaluated exactly once and the whole
    * computation costs two shuffles (by shingle, then by pair) when no
    * posting list exceeds `inArrayLimit` (plus a per-shingle join scoped
    * to the oversized lists otherwise). The earlier self-join form
    * evaluated the upstream plan four times (two join sides plus two size
    * joins) and shuffled five times; on a derived input such as q42's
    * curated subset that repetition dominated the runtime.
    *
    * Candidate cost is Σ_shingle df²/2, same as any inverted-index join.
    * Skew safety ladder: posting lists up to `inArrayLimit` generate
    * their pairs inside the array (fast path, zero extra shuffles);
    * longer lists fall back to a per-shingle self-join scoped to just
    * those shingles, so the O(df²) pairs STREAM through the join instead
    * of materializing as one in-row array (an unbounded in-array
    * generation would OOM a task on the first 100k-doc stop-shingle).
    * For truly unbounded stop-shingles (df in the millions — where even
    * the posting list itself is unreasonable) pass `maxDf` to switch to
    * [[ngramJaccardPairsCapped]]'s df-capped semantics — the standard
    * stop-shingle lever. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxDf: Option[Int] = None,
                        inArrayLimit: Int = 512): DataFrame = maxDf match {
    case Some(cap) => ngramJaccardPairsCapped(df, idCol, textCol, n, threshold, cap)
    case None =>
      // SET-DEDUPLICATED enumeration: documents with identical distinct-
      // shingle sets have jaccard 1 among themselves and identical scores
      // against everything else, so the pair machinery runs on ONE
      // representative per distinct set and expands back afterwards —
      // within-set pairs at jaccard 1.0, cross-set pairs replicated over
      // passing representative pairs only. With duplicate multiplicity m
      // the candidate join would otherwise cost m²× (measured 371 s vs
      // 27 s on a 10×-duplicated corpus); the expansion is output-bound
      // (near-dup OUTPUT is inherently quadratic in multiplicity — a
      // curation caller that only drops doc_b consumes it linearly).
      // Set identity is md5 of the JSON-encoded sorted shingle array (128-bit; a
      // collision would need ~2^64 distinct sets).
      val allDocs = df.select(col(idCol).as("doc"),
        array_distinct(Text.shingles(col(textCol), n)).as("shs"))
        // to_json, not a delimiter concat: JSON quoting/escaping makes
        // the encoding injective regardless of shingle content
        .withColumn("setfp", md5(to_json(array_sort($"shs"))))
      // staged: consumed by the representative pipeline, the within-set
      // self-join (both sides), and the cross-set expansion joins
      val membership = allDocs.select($"doc", $"setfp", size($"shs").as("n_shs"))
        .transform(Staged(_))
      // one row per distinct shingle set; `first` is deterministic here
      // (all rows in the group carry the identical array)
      val docs = allDocs.groupBy($"setfp").agg(first($"shs").as("shs"))
      // the representative pipeline below is keyed by setfp (aliased
      // `doc` so the shared pair machinery applies unchanged)
      val sh = docs.select($"setfp".as("doc"), size($"shs").as("n"), explode($"shs").as("sh"))
      // staged: three consumers below (small filter + both sides of the
      // skew self-join). Exchange/stage reuse does NOT cover this —
      // collect_list is order-nondeterministic, which defeats sameResult
      // canonicalization, so without the persist the scan + shingle
      // explode + shuffle subtree executes three times (verified in the
      // executed AQE plan: three separate Exchanges, zero ReusedExchange).
      // The persist's one materialization job is the scale-correct trade.
      // Repeated calls dedupe via the cache manager.
      val postings = sh.groupBy($"sh")
        .agg(collect_list(struct($"doc", $"n")).as("ds"))
        .transform(Staged(_))
      def lenOk(a: Column, b: Column): Column = lengthBoundOk(a, b, threshold)
      // fast path: all ordered pairs inside the array; `ds` is a plain
      // aggregation attribute, so its capture by the nested lambda is a
      // column read, not a re-evaluated expression (the HOF trap needs a
      // *computed* captured expression)
      val pairsInList = flatten(transform($"ds", x =>
        transform(filter($"ds", y => y("doc") > x("doc") && lenOk(x, y)), y =>
          struct(x("doc").as("doc_a"), y("doc").as("doc_b"),
            x("n").as("n_a"), y("n").as("n_b")))))
      val small = postings.where(size($"ds") <= inArrayLimit)
        .select(explode(pairsInList).as("p"))
      // skew path: re-explode only the oversized posting lists and pair
      // them with a per-shingle equi self-join (both sides derive from
      // the same aggregated exchange, which Spark plans once and reuses)
      val largeRows = postings.where(size($"ds") > inArrayLimit)
        .select($"sh", explode($"ds").as("x"))
      val large = largeRows
        .join(largeRows.select($"sh", $"x".as("y")), Seq("sh"))
        .where($"x.doc" < $"y.doc" && lenOk($"x", $"y"))
        .select(struct($"x.doc".as("doc_a"), $"y.doc".as("doc_b"),
          $"x.n".as("n_a"), $"y.n".as("n_b")).as("p"))
      val inter = small.unionByName(large)
        .select($"p.doc_a", $"p.doc_b", $"p.n_a".as("n_a"), $"p.n_b".as("n_b"))
        .groupBy($"doc_a", $"doc_b", $"n_a", $"n_b").agg(count(lit(1)).as("inter"))
      val repPairs = jaccardScore(inter, threshold) // (setfp_a, setfp_b, jaccard)
      // cross-set expansion: every member of set A × every member of set
      // B, normalized to (min, max) id order; the score is the sets'
      // score. Joins stream — no in-row m² arrays.
      val cross = repPairs
        .join(membership.select($"setfp".as("doc_a"), $"doc".as("id_a")), Seq("doc_a"))
        .join(membership.select($"setfp".as("doc_b"), $"doc".as("id_b")), Seq("doc_b"))
        .select(least($"id_a", $"id_b").as("doc_a"),
          greatest($"id_a", $"id_b").as("doc_b"), $"jaccard")
      // within-set pairs: identical non-empty sets are jaccard 1.0 (empty
      // sets share no shingle — the direct join never pairs them, so
      // neither do we)
      val nonEmpty = membership.where($"n_shs" > 0)
      val within = nonEmpty.select($"setfp", $"doc".as("doc_a"))
        .join(nonEmpty.select($"setfp", $"doc".as("doc_b")), Seq("setfp"))
        .where($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b", lit(1.0).as("jaccard"))
      val expanded =
        if (threshold <= 1.0) cross.unionByName(within) else cross
      expanded
  }

  /** Exact n-gram Jaccard pairs ACROSS two corpora — near-dup
    * decontamination: [[decontaminate]]'s exact 8-gram containment misses
    * a training document that paraphrases an eval document with a few
    * tokens changed, which is precisely a cross-corpus Jaccard pair. Same
    * inverted-index construction as the self-join ([[ngramJaccardPairs]]):
    * per-side posting lists per shingle, candidates generated in-array
    * when the CROSS product of a shingle's two postings is bounded, and
    * streamed through a per-shingle equi-join above that (the skew
    * escape, so one stop-shingle cannot materialize an unbounded in-row
    * array). The lossless length bound prunes before the pair shuffle.
    * Output: (doc_a ∈ left, doc_b ∈ right, jaccard ≥ threshold) — sides
    * keep their identity, no id-order normalization (the caller's
    * decontamination semantics are directional: drop from LEFT what
    * matches RIGHT). Set-dedup is not applied here: decontamination
    * corpora are the post-exact-dedup survivors in practice, and the
    * directional output keeps every (train, eval) pair explicit for the
    * audit trail.
    *
    * ID-SPACE CONTRACT: `excludeSameId = true` (the default) treats an
    * equal id on both sides as the SAME document and drops the pair at
    * candidate generation, so overlapping corpora don't report every
    * shared doc as a jaccard-1.0 "leak" of itself. That is only sound
    * when the two sides share one id space — with independently assigned
    * ids, a genuine cross-corpus leak whose ids happen to collide would
    * be silently dropped (the worst failure direction for
    * decontamination). Pass `excludeSameId = false` for independent id
    * spaces. */
  def ngramJaccardPairsAcross(left: DataFrame, right: DataFrame,
                              idCol: String, textCol: String,
                              n: Int = 3, threshold: Double = 0.5,
                              inArrayLimit: Int = 512,
                              excludeSameId: Boolean = true): DataFrame = {
    def postings(df: DataFrame, listName: String) = df
      .select(col(idCol).as("doc"),
        array_distinct(Text.shingles(col(textCol), n)).as("shs"))
      .select($"doc", size($"shs").as("n"), explode($"shs").as("sh"))
      .groupBy($"sh").agg(collect_list(struct($"doc", $"n")).as(listName))
    def lenOk(a: Column, b: Column): Column = lengthBoundOk(a, b, threshold)
    // inner join: a shingle produces candidates only when BOTH sides
    // carry it. Staged — both the in-array branch and the skew branch
    // read it (collect_list defeats sameResult reuse, as in the
    // self-join path).
    val joined = postings(left, "as_").join(postings(right, "bs_"), Seq("sh"))
      .transform(Staged(_))
    // under the shared-id-space contract a doc id present in BOTH corpora
    // would pair with itself at jaccard 1.0, so self-pairs are dropped at
    // candidate generation (before the pair shuffle), both branches
    def keepPair(x: Column, y: Column): Column =
      if (excludeSameId) lenOk(x, y) && !(y("doc") === x("doc")) else lenOk(x, y)
    val crossInList = flatten(transform($"as_", x =>
      transform(filter($"bs_", y => keepPair(x, y)), y =>
        struct(x("doc").as("doc_a"), y("doc").as("doc_b"),
          x("n").as("n_a"), y("n").as("n_b")))))
    // the split predicate multiplies in LONG: `size` is Int, and with
    // ANSI off a posting product ≥ 2^31 would wrap NEGATIVE and route a
    // giant stop-shingle bucket to the in-array path this split exists
    // to protect against
    val crossSize = size($"as_").cast("long") * size($"bs_").cast("long")
    val small = joined.where(crossSize <= inArrayLimit.toLong * inArrayLimit)
      .select(explode(crossInList).as("p"))
    val bigs = joined.where(crossSize > inArrayLimit.toLong * inArrayLimit)
    val large = bigs.select($"sh", explode($"as_").as("x"))
      .join(bigs.select($"sh", explode($"bs_").as("y")), Seq("sh"))
      .where(keepPair($"x", $"y"))
      .select(struct($"x.doc".as("doc_a"), $"y.doc".as("doc_b"),
        $"x.n".as("n_a"), $"y.n".as("n_b")).as("p"))
    val inter = small.unionByName(large)
      .select($"p.doc_a", $"p.doc_b", $"p.n_a".as("n_a"), $"p.n_b".as("n_b"))
      .groupBy($"doc_a", $"doc_b", $"n_a", $"n_b").agg(count(lit(1)).as("inter"))
    jaccardScore(inter, threshold)
  }

  /** Corpus-adaptive exact Jaccard pairs — ONE entry point that picks the
    * winning plan shape so callers need not know their corpus:
    *
    *  - dense vocabulary (a bounded shingle space saturates: most shingles
    *    frequent) → the direct posting-list join; prefixes barely prune
    *    there and the prefix variant's candidate re-expansion join
    *    dominates (measured 15.4s vs 8.2s at sf0.1 on the synthetic
    *    corpus);
    *  - sparse/Zipfian vocabulary (most shingles rare — realistic text at
    *    scale) → the PPJoin prefix filter, whose rare-shingle prefixes
    *    prune candidates by orders of magnitude.
    *
    * A dense vocabulary is additionally checked for SIZE: the direct
    * join's candidate volume is Σ_sh df², which is quadratic in corpus
    * size when the vocabulary has saturated (every new doc raises every
    * df). A dense corpus small enough to afford that stays exact; past
    * `maxCandidateEstimate` estimated candidates the selector routes to
    * [[ngramJaccardPairsCapped]] — bounded by construction (stop-shingle
    * removal, the documented capped-Jaccard semantics) — because exact
    * all-pairs over a saturated vocabulary is precisely the shape that
    * cannot survive a 100× scale-up no matter the plan.
    *
    * Estimation is one bounded sample job at plan-build time
    * (`sampleDocs` docs → per-shingle sample df → distinct/total ratio
    * and Σdf²) plus — on the dense branch only, where the estimate needs
    * N — one corpus count; the sample Σdf² scales by
    * (N/S)² — exact for the saturated head that dominates the sum,
    * conservative for the Zipf tail that does not. Routing affects cost
    * only between the two exact variants; the capped route changes
    * semantics (capped Jaccard) and is therefore taken only on the
    * documented size threshold, and logged. */
  def ngramJaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, threshold: Double = 0.5,
                            sampleDocs: Int = 2048,
                            sparseVocabRatio: Double = 0.5,
                            maxCandidateEstimate: Double = 1e11,
                            cappedMaxDf: Int = 256,
                            cappedMaxDfFraction: Double = 0.002): DataFrame = {
    val d = jaccardRouteDecision(df, idCol, textCol, n, sampleDocs,
      sparseVocabRatio, maxCandidateEstimate)
    d.route match {
      case "prefix" => ngramJaccardPairsPrefix(df, idCol, textCol, n, threshold)
      case "direct" => ngramJaccardPairs(df, idCol, textCol, n, threshold)
      case _ =>
        // SCALE-FREE cap: an absolute maxDf tightens as the corpus grows
        // (df scales with N on a saturated vocabulary, so a fixed 256
        // keeps only an ever-rarer tail — measured at sf10 in PERF.md).
        // The standard stop-word notion is relative — df/N above a few
        // per mille — so the effective cap is max(cappedMaxDf, fraction
        // of corpus): stable capped semantics across scales, with the
        // absolute value as a small-corpus floor.
        val maxDf = math.max(cappedMaxDf.toLong,
          math.ceil(d.nDocs * cappedMaxDfFraction).toLong)
          .min(Int.MaxValue.toLong).toInt
        ngramJaccardPairsCapped(df, idCol, textCol, n, threshold, maxDf)
    }
  }

  /** The [[ngramJaccardPairsAuto]] decision with its measured inputs:
    * route ∈ prefix/direct/capped, the corpus count, and the
    * (N/S)²-scaled Σdf² candidate estimate. `nDocs` is -1 when the
    * route was decided from the sample alone (sparse vocabulary, or no
    * shingles) — those branches never pay the full corpus count. */
  final case class JaccardRoute(route: String, nDocs: Long,
                                estCandidates: Double)

  /** The [[ngramJaccardPairsAuto]] plan-shape decision, observable for
    * specs and operators: `"prefix"` (sparse vocabulary — lossless
    * prefix pruning wins), `"direct"` (dense but affordable — exact
    * posting join), or `"capped"` (dense AND the estimated Σdf²
    * candidate volume exceeds `maxCandidateEstimate` — bounded
    * stop-shingle semantics, the only shape that survives at scale). */
  def jaccardAutoRoute(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, sampleDocs: Int = 2048,
                       sparseVocabRatio: Double = 0.5,
                       maxCandidateEstimate: Double = 1e11): String =
    jaccardRouteDecision(df, idCol, textCol, n, sampleDocs,
      sparseVocabRatio, maxCandidateEstimate).route

  /** Decide-once memo for [[jaccardRouteDecision]], keyed exactly like
    * the IVF train-once memo: (canonicalized plan, file-listing
    * fingerprint, decision parameters). Repeated runs over an unchanged
    * corpus — q42/q43/q76 in one bench sweep, every steady-state rerun —
    * reuse the routing decision instead of re-paying the sample aggregate
    * and the dense-branch `count()`. The file-listing component
    * invalidates the memo the moment the parquet files underneath are
    * rewritten, so a changed corpus re-decides. Cleared wholesale past a
    * small bound, same as the IVF cache. */
  private val RouteCacheMax = 256
  private val routeCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long,
      String, String, Int, Int, Double, Double), JaccardRoute]()

  /** Observable decision count — lets specs assert one decision per
    * (plan, listing) key. */
  private[graft] val routeDecisionCount =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** See [[jaccardAutoRoute]]; this form also returns the decision's
    * measured inputs (corpus size, candidate estimate). Memoized per
    * (plan, file listing, params) — see [[routeCache]]. */
  def jaccardRouteDecision(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, sampleDocs: Int = 2048,
                           sparseVocabRatio: Double = 0.5,
                           maxCandidateEstimate: Double = 1e11): JaccardRoute = {
    val key = (df.queryExecution.analyzed.canonicalized,
      StoreIO.fileFingerprint(df), idCol, textCol, n, sampleDocs,
      sparseVocabRatio, maxCandidateEstimate)
    if (routeCache.size() > RouteCacheMax) routeCache.clear()
    routeCache.computeIfAbsent(key, _ => {
      routeDecisionCount.incrementAndGet()
      jaccardRouteDecisionUncached(df, idCol, textCol, n, sampleDocs,
        sparseVocabRatio, maxCandidateEstimate)
    })
  }

  private def jaccardRouteDecisionUncached(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, sampleDocs: Int,
      sparseVocabRatio: Double,
      maxCandidateEstimate: Double): JaccardRoute = {
    val s = df.select(col(idCol).as("doc"), col(textCol).as("t")).limit(sampleDocs)
    val r = s.select(explode(array_distinct(Text.shingles($"t", n))).as("sh"))
      .groupBy($"sh").agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("v"), sum($"df").as("total"),
        sum($"df" * $"df").as("sumdf2"))
      .head()
    if (r.isNullAt(1) || r.getLong(1) == 0L)
      return JaccardRoute("direct", -1L, 0.0) // no shingles at all
    val ratio = r.getLong(0).toDouble / r.getLong(1).toDouble
    if (ratio >= sparseVocabRatio) return JaccardRoute("prefix", -1L, 0.0)
    // only the dense branch pays the full corpus count: the (N/S)² scale
    // of the sample Σdf² needs N, the sample-only routes above do not
    val nDocs = df.count()
    val scale = nDocs.toDouble / math.min(sampleDocs.toLong, nDocs).toDouble
    val estSumDf2 = r.getLong(2).toDouble * scale * scale
    val route = if (estSumDf2 <= maxCandidateEstimate) "direct" else "capped"
    log.info(f"jaccardAutoRoute: nDocs=$nDocs ratio=$ratio%.3f " +
      f"estSumDf2=$estSumDf2%.3g -> $route")
    JaccardRoute(route, nDocs, estSumDf2)
  }

  /** Df-capped Jaccard pairs: shingles occurring in more than `maxDf`
    * documents are treated as stop-shingles and removed from the universe —
    * both from candidate generation AND from the set sizes, so the score is
    * the exact Jaccard of the *capped* shingle sets (the standard
    * stop-word-removal semantics, not a biased approximation of the full
    * score). This bounds the per-shingle candidate blowup at maxDf²/2 and
    * the posting-list arrays at maxDf entries — the knob that keeps the
    * plan alive when a 100 TB corpus has shingles with df in the millions.
    * The df-filter join and the df-count aggregate shuffle by the same key,
    * so the exchange is planned once and reused. */
  def ngramJaccardPairsCapped(df: DataFrame, idCol: String, textCol: String,
                              n: Int, threshold: Double, maxDf: Int): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2 (got $maxDf)")
    val (sh, _) = shingleIndex(df, idCol, textCol, n)
    val keptSh = sh.join(
      sh.groupBy($"sh").agg(count(lit(1)).as("df"))
        .where($"df" <= maxDf).select($"sh"),
      Seq("sh"))
    val sizes = keptSh.groupBy($"doc").agg(count(lit(1)).as("n_sh"))
    val postings = keptSh.groupBy($"sh").agg(collect_list($"doc").as("ds"))
    val pairsInList = flatten(transform($"ds", x =>
      transform(filter($"ds", y => y > x), y =>
        struct(x.as("doc_a"), y.as("doc_b")))))
    val inter = postings
      .select(explode(pairsInList).as("p"))
      .select($"p.doc_a", $"p.doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc".as("doc_a"), $"n_sh".as("n_a")), Seq("doc_a"))
      .join(sizes.select($"doc".as("doc_b"), $"n_sh".as("n_b")), Seq("doc_b"))
    jaccardScore(inter, threshold)
  }

  /** PREFIX-FILTERED exact Jaccard pairs (the PPJoin family, Xiao et al.):
    * order shingles globally by rarity (document frequency, then value);
    * for Jaccard ≥ t any matching pair must share a shingle within each
    * side's first |X| − ceil(t·|X|) + 1 shingles, so the candidate
    * self-join runs on prefixes only (plus the |B| ∈ [t·|A|, |A|/t]
    * length filter) and the exact intersection is recomputed just for
    * surviving candidates. Lossless — results identical to
    * [[ngramJaccardPairs]] (asserted in OpsSpec at 3 thresholds).
    *
    * WHEN IT WINS: realistic corpora with large Zipfian vocabularies,
    * where rare-shingle prefixes prune candidates by orders of magnitude.
    * WHEN IT LOSES: tiny-vocabulary corpora like the synthetic test data
    * (25 words → every shingle is frequent → prefixes barely prune, and
    * the candidate re-expansion join dominates: measured 15.4s vs 8.1s at
    * sf0.1). The direct join is therefore the default here; at real scale
    * prefer this variant. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (sh, sizes) = shingleIndex(df, idCol, textCol, n)
    // ε-slack on every threshold comparison: IEEE arithmetic overshoots
    // (0.07 * 100 == 7.000000000000001), which would shorten prefixes /
    // reject sizes below the lossless bound for thresholds like 0.07 or
    // 0.55. Relaxing by ε only ADMITS extra candidates — the final exact
    // jaccard filter keeps the result identical to the direct join.
    val eps = 1e-9
    val shDf = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
    val prefix = sh.join(shDf, "sh")
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc").orderBy($"df", $"sh")))
      .join(sizes, "doc")
      .where($"pos" <= $"n_sh" - ceil(lit(threshold) * $"n_sh" - eps) + 1)
      .select($"doc", $"sh", $"n_sh")
    val cand = prefix.select($"doc".as("doc_a"), $"n_sh".as("n_a"), $"sh")
      .join(prefix.select($"doc".as("doc_b"), $"n_sh".as("n_b"), $"sh"), Seq("sh"))
      .where($"doc_a" < $"doc_b" &&
        $"n_b" >= lit(threshold) * $"n_a" - eps && $"n_a" >= lit(threshold) * $"n_b" - eps)
      .select($"doc_a", $"doc_b", $"n_a", $"n_b")
      .distinct()
    val inter = cand
      .join(sh.select($"doc".as("doc_a"), $"sh"), Seq("doc_a"))
      .join(sh.select($"doc".as("doc_b"), $"sh"), Seq("doc_b", "sh"))
      .groupBy($"doc_a", $"doc_b", $"n_a", $"n_b").agg(count(lit(1)).as("inter"))
    jaccardScore(inter, threshold)
  }


  /** PREFIX-FILTERED directed shingle-CONTAINMENT pairs:
    * containment(A ⊂ B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ t over distinct
    * n-gram sets — the doc-swallowed-by-doc duplication signal symmetric
    * Jaccard misses (a paragraph pasted into a 100× larger page scores
    * J ≈ |A|/|B| ≈ 0 but containment ≈ 1), which is also why it cannot
    * be a filter over the persisted Jaccard pair store.
    *
    * The naive posting self-join has NO threshold to prune with (every
    * pair sharing any shingle is a candidate — measured 178 s at sf1,
    * the one all-pairs-shaped plan the whole library exists to avoid).
    * The prefix filter is the asymmetric PPJoin bound: a qualifying A
    * misses at most ⌊(1−t)·|A|⌋ of its own shingles inside B, so with
    * shingles globally ordered by rarity (df, then value) B must contain
    * one of A's first |A| − ⌈t·|A|⌉ + 1 shingles. Candidates therefore
    * come from joining A-PREFIXES (≈ (1−t)·|A| rare shingles at t=0.9)
    * against full postings, with the one-sided length bound
    * |B| ≥ t·|A| (all matched shingles live in B) — then the exact
    * intersection is recomputed for survivors only. Lossless: results
    * identical to the direct join (asserted in Wave33Spec); the ε-slack
    * only ADMITS candidates, the final exact filter decides.
    *
    * Output: one row per DIRECTED pair (inner_id, outer_id,
    * containment), containment rounded to 9 dp before the ≥ t filter
    * (engine-portable — the oracle applies the identical round). */
  def containmentPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, threshold: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (sh0, sizes) = shingleIndex(df, idCol, textCol, n)
    val sh = Staged(sh0) // three consumers: ranking, candidate join, verify
    val eps = 1e-9
    val shDf = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
    val prefix = sh.join(shDf, "sh")
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc").orderBy($"df", $"sh")))
      .join(sizes, "doc")
      .where($"pos" <= $"n_sh" - ceil(lit(threshold) * $"n_sh" - eps) + 1)
      .select($"doc".as("inner_id"), $"n_sh".as("n_inner"), $"sh")
    val full = sh.join(sizes, "doc")
      .select($"doc".as("outer_id"), $"n_sh".as("n_outer"), $"sh")
    val cand = prefix.join(full, Seq("sh"))
      .where($"inner_id" =!= $"outer_id" &&
        $"n_outer" >= lit(threshold) * $"n_inner" - eps)
      .select($"inner_id", $"outer_id", $"n_inner")
      .distinct()
    cand
      .join(sh.select($"doc".as("inner_id"), $"sh"), Seq("inner_id"))
      .join(sh.select($"doc".as("outer_id"), $"sh"), Seq("outer_id", "sh"))
      .groupBy($"inner_id", $"outer_id", $"n_inner")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        round($"inter" / $"n_inner".cast("double"), 9))
      .where($"containment" >= threshold)
      .select($"inner_id", $"outer_id", $"containment")
  }

  /** The posting-self-join formulation of containment — the dense-
    * vocabulary route (where prefixes barely prune and the candidate
    * re-expansion join dominates, exactly as documented for
    * [[ngramJaccardPairsPrefix]]) and the Wave33Spec cross-check
    * reference. Candidate volume is Σdf² — affordable only below the
    * router's budget; [[containmentPairsAuto]] owns that decision. */
  private[graft] def containmentPairsDirect(df: DataFrame, idCol: String,
                                            textCol: String, n: Int,
                                            threshold: Double): DataFrame = {
    val (sh0, sizes) = shingleIndex(df, idCol, textCol, n)
    // staged: both sides of the candidate self-join read the shingle
    // index; unstaged, the scan + shingle explode runs once per side
    val sh = Staged(sh0)
    sh.select($"sh", $"doc".as("inner_id"))
      .join(sh.select($"sh", $"doc".as("outer_id")), Seq("sh"))
      .where($"inner_id" =!= $"outer_id")
      .groupBy($"inner_id", $"outer_id")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc".as("inner_id"), $"n_sh"), Seq("inner_id"))
      .withColumn("containment",
        round($"inter" / $"n_sh".cast("double"), 9))
      .where($"containment" >= threshold)
      .select($"inner_id", $"outer_id", $"containment")
  }

  /** Df-capped containment (the past-the-budget route, mirroring
    * [[ngramJaccardPairsCapped]]'s semantics): shingles with df > maxDf
    * are stop-shingles, removed from the universe AND from |A| — the
    * score is the exact containment of the CAPPED shingle sets, bounding
    * per-shingle candidates at maxDf². */
  def containmentPairsCapped(df: DataFrame, idCol: String, textCol: String,
                             n: Int, threshold: Double, maxDf: Int): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2 (got $maxDf)")
    val (sh0, _) = shingleIndex(df, idCol, textCol, n)
    // staged: the sizes aggregate and the postings read the capped
    // index; unstaged, the df-cap join and its shuffles run twice
    val kept = Staged(sh0.join(
      sh0.groupBy($"sh").agg(count(lit(1)).as("df"))
        .where($"df" <= maxDf).select($"sh"),
      Seq("sh")))
    val sizes = kept.groupBy($"doc").agg(count(lit(1)).as("n_sh"))
    val pairsInList = flatten(transform($"ds", x =>
      transform(filter($"ds", y => y =!= x), y =>
        struct(x.as("inner_id"), y.as("outer_id")))))
    kept.groupBy($"sh").agg(collect_list($"doc").as("ds"))
      .select(explode(pairsInList).as("p"))
      .select($"p.inner_id", $"p.outer_id")
      .groupBy($"inner_id", $"outer_id").agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc".as("inner_id"), $"n_sh"), Seq("inner_id"))
      .withColumn("containment",
        round($"inter" / $"n_sh".cast("double"), 9))
      .where($"containment" >= threshold)
      .select($"inner_id", $"outer_id", $"containment")
  }

  /** Corpus-adaptive containment pairs — the [[ngramJaccardPairsAuto]]
    * decision applied to the containment family (the decision inputs —
    * vocabulary density, Σdf² candidate estimate — are properties of the
    * CORPUS, not of the score function, so the memoized route is shared):
    * sparse vocabulary → the asymmetric prefix filter; dense but
    * affordable → the direct posting join; past the budget → df-capped
    * semantics. */
  def containmentPairsAuto(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.9,
                           sampleDocs: Int = 2048,
                           sparseVocabRatio: Double = 0.5,
                           maxCandidateEstimate: Double = 1e11,
                           cappedMaxDf: Int = 256,
                           cappedMaxDfFraction: Double = 0.002): DataFrame = {
    val d = jaccardRouteDecision(df, idCol, textCol, n, sampleDocs,
      sparseVocabRatio, maxCandidateEstimate)
    d.route match {
      case "prefix" => containmentPairsPrefix(df, idCol, textCol, n, threshold)
      case "direct" => containmentPairsDirect(df, idCol, textCol, n, threshold)
      case _ =>
        val maxDf = math.max(cappedMaxDf.toLong,
          math.ceil(d.nDocs * cappedMaxDfFraction).toLong)
          .min(Int.MaxValue.toLong).toInt
        containmentPairsCapped(df, idCol, textCol, n, threshold, maxDf)
    }
  }

  val ContainmentAlgoVersion = 1

  /** Observable derivation count (spec hook). */
  private[graft] val containmentComputeCount =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** The checked read-through for the containment store: a pure
    * per-corpus derivation (the one-time inverted-index pass, hours at
    * 100 TB) published once and read as a parquet scan by every later
    * query/session/JVM. Containment is pairwise like Jaccard, so
    * tighter-θ and sub-corpus consumers filter this one θ=0.9 table.
    * Layout: `path/containment` (inner_id, outer_id, containment); the
    * meta carries the route, as the pair store's does (capped means
    * capped-set semantics). */
  def containmentPersisted(docs: DataFrame, idCol: String, textCol: String,
                           path: String, n: Int = 3,
                           threshold: Double = 0.9): DataFrame = {
    val spark = docs.sparkSession
    StoreIO.readThrough(spark, path,
      StoreIO.key(docs, ContainmentAlgoVersion, "n" -> n, "threshold" -> threshold),
      "containmentPersisted") { tmp =>
      containmentComputeCount.incrementAndGet()
      containmentPairsAuto(docs, idCol, textCol, n = n, threshold = threshold)
        .select($"inner_id".cast("long"), $"outer_id".cast("long"),
          $"containment".cast("double"))
        .write.mode("overwrite").parquet(s"$tmp/containment")
      Seq(lit(jaccardAutoRoute(docs, idCol, textCol, n = n)).as("route"))
    } { _ => graft.Parquet.read(spark, s"$path/containment") }
  }

  /** MinHash signatures: k independent hash functions simulated by seeding
    * xxhash64 with the function index (`xxhash64(shingle, i)`), min over
    * the document's shingle set.
    *
    * Computed by the native [[graft.functions.MinHashSignature]]
    * expression: one string hash + k integer finalizations per shingle,
    * as a pure map-side projection — no explode, no shuffle. Bit-identical
    * to [[minhashSignaturesExploded]] (asserted in OpsSpec), which it
    * replaced after three measured shapes:
    *  - pure-HOF (`transform(0..k-1, i -> array_min(...))`): the captured
    *    shingling expression re-evaluates per i — 50× slower (the HOF
    *    capture trap);
    *  - explode + k partial `min()`s: each of the k aggregates re-hashes
    *    the shingle STRING from scratch (k string hashes per shingle) and
    *    the signature build pays an explode and a shuffle;
    *  - native expression: k× less hash work, zero shuffle. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    FanOut.perRowCompute(df, idCol).select(col(idCol).as("doc"),
        call_function("minhash_sigs", Text.shingles(col(textCol)), lit(k)).as("sig"))
      // the exploded form emits no row for a shingle-less doc; match it
      .where($"sig".isNotNull)
  }

  /** The explode + k-partial-mins formulation of [[minhashSignatures]] —
    * built-ins only. Kept as the cross-check path for the native
    * expression (OpsSpec asserts bit-equality of the two). */
  private[graft] def minhashSignaturesExploded(df: DataFrame, idCol: String,
                                               textCol: String, k: Int): DataFrame = {
    val sh = df.select(col(idCol).as("doc"),
      explode(array_distinct(Text.shingles(col(textCol)))).as("sh"))
    val aggs = (0 until k).map(i => min(xxhash64($"sh", lit(i))).as(s"h$i"))
    sh.groupBy($"doc")
      .agg(aggs.head, aggs.tail: _*)
      .select($"doc", array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash + LSH banding: split the k-wide signature into `bands` bands
    * of k/bands rows, hash each band, and emit one (band_id, band_hash)
    * bucket row per band. Documents sharing any band bucket become
    * candidate pairs; the estimated Jaccard is the fraction of equal
    * signature components. With k=64, bands=16 (r=4) the S-curve threshold
    * is (1/16)^(1/4) ≈ 0.5. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 64, bands: Int = 16, minEstJaccard: Double = 0.5): DataFrame = {
    val r = k / bands
    // SIGNATURE-DEDUPLICATED banding (same reasoning as the Jaccard
    // set-dedup and SimHash rewrites): identical signatures share every
    // band and estimate 1.0 among themselves, so banding and candidate
    // pairing run on DISTINCT signatures and expand afterwards —
    // duplicate multiplicity m otherwise costs m²× in every band bucket.
    // The signature identity `sid` is md5 of the JSON-encoded signature
    // (orderable, injective up to md5).
    // staged: unstaged, q25 and q207 re-scan the corpus and write 23–47%
    // more shuffle bytes at sf0.01 and sf0.1
    val members = minhashSignatures(df, idCol, textCol, k)
      .withColumn("sid", md5(to_json($"sig")))
      .transform(Staged(_))
    // distinct signatures are consumed four times (banded self-join both
    // sides + two re-attach joins); exchange reuse across separate join
    // subtrees is not guaranteed, so stage the tiny frame (unstaged,
    // q25, q207 and q240 write 3–9× the shuffle bytes at both scales)
    val sigs = members.select($"sid", $"sig").distinct()
      .transform(Staged(_))
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("band_id"), xxhash64(slice($"sig", j * r + 1, r)).as("band_hash"))
    }
    // candidate generation on NARROW rows (sid, band_id, band_hash): the
    // k-long signatures stay out of the band shuffle and the pair rows,
    // and are re-attached only to the deduplicated candidates
    val banded = sigs.select($"sid", explode(array(bandStructs: _*)).as("band"))
      .select($"sid", $"band.band_id", $"band.band_hash")
    val cand = banded.select($"sid".as("sid_a"), $"band_id", $"band_hash")
      .join(banded.select($"sid".as("sid_b"), $"band_id", $"band_hash"),
        Seq("band_id", "band_hash"))
      .where($"sid_a" < $"sid_b")
      .select($"sid_a", $"sid_b")
      .dropDuplicates("sid_a", "sid_b")
    val sigPairs = cand
      .join(sigs.select($"sid".as("sid_a"), $"sig".as("sig_a")), Seq("sid_a"))
      .join(sigs.select($"sid".as("sid_b"), $"sig".as("sig_b")), Seq("sid_b"))
      .withColumn("est_jaccard",
        aggregate(zip_with($"sig_a", $"sig_b", (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (a, x) => a + x) / lit(k.toDouble))
      .where($"est_jaccard" >= minEstJaccard)
      .select($"sid_a", $"sid_b", $"est_jaccard")
    val cross = sigPairs
      .join(members.select($"sid".as("sid_a"), $"doc".as("id_a")), Seq("sid_a"))
      .join(members.select($"sid".as("sid_b"), $"doc".as("id_b")), Seq("sid_b"))
      .select(least($"id_a", $"id_b").as("doc_a"),
        greatest($"id_a", $"id_b").as("doc_b"), $"est_jaccard")
    // identical signatures agree on all k components: estimate exactly
    // 1.0 — included only while the threshold admits it (a caller using
    // minEstJaccard > 1 as a disable-all still gets an empty result)
    val within = members.select($"sid", $"doc".as("doc_a"))
      .join(members.select($"sid", $"doc".as("doc_b")), Seq("sid"))
      .where($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", lit(1.0).as("est_jaccard"))
    if (minEstJaccard <= 1.0) cross.unionByName(within) else cross
  }

  /** Benchmark decontamination: drop every corpus document that shares at
    * least one word n-gram with the benchmark set — the standard guard
    * against evaluation data leaking into training corpora (n-gram
    * overlap is the published methodology; 8–13 grams typical).
    *
    * Plan shape: the benchmark's distinct shingles are usually tiny
    * relative to the corpus (an eval set, not a second corpus), so the
    * overlap probe is a broadcast semi-join against the corpus shingle
    * explode — one corpus scan, no corpus-sized shuffle — followed by a
    * left-anti join on the contaminated ids. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 8): DataFrame = {
    // per-row-compute entry points (shingle explode) — round-15 guarded
    // fan-out wiring; see decontaminateBloom below for the same move
    val benchSh = FanOut.perRowCompute(benchmark, idCol)
      .select(explode(array_distinct(Text.shingles(col(textCol), n))).as("sh"))
      .distinct()
    val contaminated = FanOut.perRowCompute(corpus, idCol)
      .select(col(idCol), explode(array_distinct(Text.shingles(col(textCol), n))).as("sh"))
      .join(broadcast(benchSh), Seq("sh"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Bloom-prefiltered decontamination — result-identical to
    * [[decontaminate]] (bloom filters have no false negatives; false
    * positives are removed by an exact verify join), but the per-executor
    * probe structure is a fixed-size bit array instead of a hash set of
    * shingle strings. That is the 100 TB lever: a benchmark suite with
    * 10^8 distinct shingles broadcasts as a ~100 MB bloom at 1% fpp where
    * the exact string set would be several GB, and the corpus-side scan
    * stays one map-side pass — only the ~fpp fraction of candidate rows
    * that survive the bloom reach the exact verify join.
    *
    * The bloom is built by `stat.bloomFilter` (a distributed aggregation
    * whose per-partition blooms OR-merge on the driver) at plan-build
    * time — an index-build action, same posture as IVF training: build
    * once, probe many. The probe is Spark's own native
    * `BloomFilterMightContain` expression (the runtime-filter probe,
    * registered as `bloom_might_contain`) over the serialized sketch as a
    * plan literal: it stays inside whole-stage codegen and deserializes
    * the sketch once per codegen instance — no Scala UDF serialization
    * boundary, no Java-object broadcast. The sketch stores longs, so both
    * sides hash through `xxhash64(sh)` (build: putLong via the hashed
    * column; probe: mightContainLong) — membership is consistent by
    * construction, and the exact verify join removes bloom false
    * positives either way. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 8,
                         expectedShingles: Long = 1L << 20,
                         fpp: Double = 0.01): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // staged: the bloom build (an action, below) materializes this
    // frame, and the exact verify join reads it again — without the
    // persist the benchmark scan + shingle explode + distinct runs twice
    // (q59 at sf0.1: 5% more shuffle bytes, one more file scan)
    val benchSh = FanOut.perRowCompute(benchmark, idCol)
      .select(explode(array_distinct(Text.shingles(col(textCol), n))).as("sh"))
      .distinct()
      .transform(Staged(_))
    val bloom = benchSh.select(xxhash64($"sh").as("h"))
      .stat.bloomFilter("h", expectedShingles, fpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val candidates = FanOut.perRowCompute(corpus, idCol)
      .select(col(idCol), explode(array_distinct(Text.shingles(col(textCol), n))).as("sh"))
      .where(call_function("bloom_might_contain", lit(bloomBytes), xxhash64($"sh")))
    // exact verify: candidates are the bloom's ~fpp-sized survivor set, so
    // AQE picks the join strategy from the actual post-filter sizes
    val contaminated = candidates
      .join(benchSh, Seq("sh"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Connected components over an undirected pair graph — the transitive
    * closure step real curation pipelines run on near-dup pairs (single-
    * step pair dropping under-merges: A~B, B~C but A≁C still form one
    * cluster). Returns (doc_id, component_id) for every vertex that
    * appears in a pair, component_id = the minimum doc id in the
    * component.
    *
    * Algorithm, size-adaptive (the same reasoning that makes Spark
    * broadcast a small join side):
    *  - small edge sets (≤ `driverLimit` pair rows — the pair count is
    *    known cheaply because the edge frame is persisted anyway) are
    *    collected and solved with driver-side union-find: microseconds of
    *    CPU instead of O(diameter) Spark rounds of per-job overhead. A
    *    near-dup pair list is ALREADY a reduction of the corpus by many
    *    orders of magnitude, so this is the common case even at large
    *    input scale.
    *  - larger graphs run iterative min-label propagation to fixpoint —
    *    each round every vertex takes the min of its own and its
    *    neighbors' labels (one equi-join + groupBy-min per round),
    *    converging in O(diameter) rounds; near-dup graphs have tiny
    *    diameters (dup clusters are dense). Labels persist per round, the
    *    previous round unpersists, so peak storage is 2|V| label rows.
    *
    * Pathological-diameter bound: from round `jumpFrom` (3) on, each
    * round also pointer-jumps — every node shortcuts its label to its
    * label's label (the star-contraction idea from Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"), so a depth-d label
    * chain halves per round and convergence is O(log d) rounds instead
    * of O(d). The first rounds stay single-join (the dense-cluster
    * common case converges there and never pays the second shuffle).
    *
    * The chosen path and edge count are logged at INFO — a silent
    * multi-MB driver collect on a production cluster is a debugging
    * trap.
    *
    * Fault-tolerance caveat: the distributed path truncates lineage with
    * eager `localCheckpoint`s, whose blocks live only in executor storage,
    * so losing an executor mid-loop fails the job and it must be rerun
    * from the pair frame. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          driverLimit: Long = 1L << 20): DataFrame = {
    val jumpFrom = 3
    val aCol = pairs.columns(0)
    val bCol = pairs.columns(1)
    // integral ids are normalized to long so the driver union-find and
    // the distributed fixpoint emit the same (bigint, bigint) schema;
    // non-numeric ids (uuid strings, …) keep their type and always take
    // the distributed path (the fixpoint only needs an ordering)
    val idIsIntegral = {
      import org.apache.spark.sql.types._
      pairs.schema(aCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    // symmetrize via ONE scan + explode, not union(select, select): the
    // union form references the pair subtree twice, and when `pairs` is an
    // expensive unstaged frame (the Jaccard pair machinery here) the whole
    // upstream computation runs twice before the persist materializes
    // (the real-sf1 sweep caught q43 paying the pair pass twice)
    val casted =
      if (idIsIntegral) pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      else pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val edges = casted
      .select(explode(array(
        struct($"a".as("src"), $"b".as("dst")),
        struct($"b".as("src"), $"a".as("dst")))).as("e"))
      .select($"e.src", $"e.dst")
      .persist()
    val edgeRows = edges.count()
    if (idIsIntegral && edgeRows <= 2 * driverLimit) {
      log.info(s"connectedComponents: driver union-find path " +
        s"(edge rows=$edgeRows <= ${2 * driverLimit})")
      val result = connectedComponentsDriver(
        edges.select($"src", $"dst").collect().map(r => (r.getLong(0), r.getLong(1))),
        pairs.sparkSession)
      edges.unpersist()
      return result
    }
    log.info(s"connectedComponents: distributed min-label path " +
      s"(edge rows=$edgeRows${if (idIsIntegral) s" > ${2 * driverLimit}" else ", non-integral ids"})")
    // each round ends in an EAGER (local)checkpoint, not a persist():
    // persist caches data but leaves the logical plan intact, and this
    // loop's plan GROWS GEOMETRICALLY — `labels` appears twice per round
    // (self-union + neighbor join) and the pointer-jump self-join doubles
    // it again, so by round ~15 the un-truncated tree has millions of
    // nodes and analysis alone overwhelms the driver. localCheckpoint
    // rebases the frame on the materialized RDD (constant-size plan per
    // round); dropped rounds are freed by the ContextCleaner once
    // unreferenced.
    var labels = edges.select($"src".as("node")).distinct()
      .withColumn("label", $"node").localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbors = edges
        .join(labels.select($"node".as("dst"), $"label"), Seq("dst"))
        .select($"src".as("node"), $"label")
      // carry the previous label through the same aggregation (tagged
      // self-rows) so convergence is a scan of the aggregated frame, not
      // an extra per-round join: labels only ever decrease, so the round
      // changed nothing iff no node has new < prev
      val minned = labels.select($"node", $"label", lit(true).as("self"))
        .union(viaNeighbors.select($"node", $"label", lit(false).as("self")))
        .groupBy($"node")
        .agg(min($"label").as("label"),
          min(when($"self", $"label")).as("prev"))
      // pointer-jump from round `jumpFrom`: every label value is itself a
      // node of the same component (min over self+neighbors), so
      // label(label(v)) is valid and ≤ label(v) — the inner self-join
      // halves label-chain depth each round, bounding convergence at
      // O(log diameter) rounds instead of O(diameter). The first rounds
      // stay single-join: the dense-cluster common case converges there
      // and never pays the second shuffle. `prev` still tracks the
      // pre-round label, so the convergence scan is unchanged.
      val next = (if (i < jumpFrom) minned
        else minned.join(
            minned.select($"node".as("label"), $"label".as("__jump")), Seq("label"))
          .select($"node", least($"label", $"__jump").as("label"), $"prev"))
        .localCheckpoint()
      converged = next.where($"label" < $"prev").isEmpty
      labels = next.select($"node", $"label")
      i += 1
    }
    edges.unpersist()
    // a silent partial result would under-merge clusters — exactly the
    // bug this operator exists to prevent; a diameter > maxIter graph is
    // pathological for near-dup data, so fail loudly instead
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds " +
          s"(graph diameter exceeds maxIter); raise maxIter")
    }
    log.info(s"connectedComponents: converged in $i rounds")
    // the returned frame reads the final round's checkpointed labels
    labels.select($"node".as("doc_id"), $"label".as("component_id"))
  }

  /** Driver-side union-find with path compression + union-by-min, used
    * for small edge sets. Produces the identical (doc, min-id) labeling
    * as the distributed fixpoint. */
  private def connectedComponentsDriver(
      edges: Array[(Long, Long)],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(v => (v, find(v))).sorted
      .toDF("doc_id", "component_id")
  }

  /** 64-bit SimHash computed entirely per-row: fold token hashes into 64
    * signed bit-counters (zip_with over a 64-wide state array), then pack
    * the counter signs back into one long. No explode, no shuffle. */
  def simhash(textCol: Column): Column = {
    val hashes = transform(Text.tokens(textCol), t => xxhash64(t))
    val zeros = transform(sequence(lit(0), lit(63)), _ => lit(0L))
    val counters = aggregate(hashes, zeros,
      (st, h) => zip_with(st, sequence(lit(0), lit(63)),
        (c, j) => c + call_function("shiftright", h, j).bitwiseAND(lit(1L)) * 2L - 1L))
    aggregate(zip_with(counters, sequence(lit(0), lit(63)),
        (c, j) => when(c > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (a, x) => a.bitwiseOR(x))
  }

  /** SimHash signatures via the native [[graft.functions.SimHashSignature]]
    * expression: one token hash + 64 counter updates per token, map-side,
    * no explode/shuffle. Same signature as [[simhash]] (same sign
    * convention) and as [[simhashSignaturesExploded]] — both equalities
    * asserted in OpsSpec. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    FanOut.perRowCompute(df, idCol).select(col(idCol).as("doc"),
        call_function("simhash_sig", Text.tokens(col(textCol))).as("sig"))
      .where($"sig".isNotNull)
  }

  /** The explode + 64-sign-sum formulation of [[simhashSignatures]] —
    * built-ins only; the shuffle carries 64 longs per doc. Kept as the
    * cross-check path for the native expression. */
  private[graft] def simhashSignaturesExploded(df: DataFrame, idCol: String,
                                               textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc"), explode(Text.tokens(col(textCol))).as("t"))
      .select($"doc", xxhash64($"t").as("h"))
    val sums = (0 until 64).map { j =>
      sum(shiftright($"h", j).bitwiseAND(lit(1L)) * 2L - 1L).as(s"b$j")
    }
    toks.groupBy($"doc")
      .agg(sums.head, sums.tail: _*)
      .select($"doc",
        (0 until 64).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("sig"))
  }

  /** SimHash near-dup pairs. Candidate generation by the pigeonhole
    * principle: split 64 bits into `chunks` chunks; any pair within
    * Hamming distance < chunks must agree on at least one chunk, so an
    * equi-join per chunk finds all such pairs without a cross join.
    * Exact Hamming distance (bit_count of xor) filters candidates. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, chunks: Int = 4): DataFrame =
    hammingPairs64(simhashSignatures(df, idCol, textCol), maxHamming, chunks)

  /** All pairs within `maxHamming` of each other over ANY (doc, sig)
    * frame of 64-bit signatures — the pigeonhole core behind
    * [[simhashPairs]], reused verbatim by perceptual-hash image dedup
    * ([[Multimodal.imageNearDupPairs]]). Output: (doc_a, doc_b, hamming)
    * with doc_a < doc_b. */
  def hammingPairs64(sigFrame: DataFrame,
                     maxHamming: Int, chunks: Int): DataFrame = {
    // pigeonhole completeness: distance <= maxHamming flips at most
    // maxHamming chunks, so some chunk is untouched ONLY if there are
    // strictly more chunks than flips
    require(maxHamming >= 0 && maxHamming < chunks,
      s"hammingPairs64 needs 0 <= maxHamming < chunks for complete candidate " +
        s"generation (got maxHamming=$maxHamming, chunks=$chunks)")
    val bitsPerChunk = 64 / chunks
    // SIGNATURE-DEDUPLICATED candidate generation (same reasoning as the
    // Jaccard set-dedup): documents with identical signatures pair at
    // Hamming 0 among themselves and behave identically against every
    // other signature, so the pigeonhole machinery runs on DISTINCT
    // signatures and expands afterwards. With duplicate multiplicity m
    // the chunk-bucket self-join would otherwise cost m²× (measured
    // 41–69 s vs ~4 s on a 10×-duplicated corpus at sf0.1×10).
    // staged: unstaged, q26 scans the corpus three times and writes
    // 2.9× the shuffle bytes at sf0.01 and sf0.1
    val members = sigFrame
      .transform(Staged(_))
    // distinct signatures feed the chunk self-join (both sides); stage
    // the tiny frame rather than rely on cross-subtree exchange reuse
    // (unstaged, q26 writes 5–6% more shuffle bytes in 4–5 more jobs)
    val sigs = members.select($"sig").distinct()
      .transform(Staged(_))
    val chunkStructs = (0 until chunks).map { j =>
      struct(lit(j).as("chunk_id"),
        shiftright($"sig", j * bitsPerChunk)
          .bitwiseAND(lit((1L << bitsPerChunk) - 1)).as("chunk_val"))
    }
    val chunked = sigs.select($"sig", explode(array(chunkStructs: _*)).as("c"))
      .select($"sig", $"c.chunk_id", $"c.chunk_val")
    val sigPairs = chunked.select($"sig".as("sig_a"), $"chunk_id", $"chunk_val")
      .join(chunked.select($"sig".as("sig_b"), $"chunk_id", $"chunk_val"),
        Seq("chunk_id", "chunk_val"))
      .where($"sig_a" < $"sig_b")
      .select($"sig_a", $"sig_b")
      .dropDuplicates("sig_a", "sig_b")
      .withColumn("hamming", bit_count($"sig_a".bitwiseXOR($"sig_b")))
      .where($"hamming" <= maxHamming)
    val cross = sigPairs
      .join(members.select($"sig".as("sig_a"), $"doc".as("id_a")), Seq("sig_a"))
      .join(members.select($"sig".as("sig_b"), $"doc".as("id_b")), Seq("sig_b"))
      .select(least($"id_a", $"id_b").as("doc_a"),
        greatest($"id_a", $"id_b").as("doc_b"), $"hamming")
    // identical signatures: Hamming 0, always within any maxHamming >= 0
    val within = members.select($"sig", $"doc".as("doc_a"))
      .join(members.select($"sig", $"doc".as("doc_b")), Seq("sig"))
      .where($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", lit(0).as("hamming"))
    cross.unionByName(within)
  }

  /** SPAN-level duplication coverage — substring dedup at token-window
    * granularity, the distributed form of ExactSubstr (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): any
    * length-`k` verbatim token span that occurs more than once in the
    * corpus (in another document OR at another position of the same
    * document) is duplicated text. Where the paper builds a suffix array,
    * the distributed analog enumerates every k-token window — the SAME
    * O(total tokens) row count a suffix array holds, but embarrassingly
    * parallel and expressible as two shuffles:
    *
    *  1. window enumeration: per doc, positions `0..n-k` with the span's
    *     key = `spanKey(span text)` — a Generate + Project that stays
    *     inside whole-stage codegen (the token array is never
    *     materialized per span row);
    *  2. duplicated keys: `groupBy(key).count > 1` — partial aggregation
    *     combines map-side, so a corpus-wide stop-span (a boilerplate
    *     sentence in millions of docs) arrives at its reducer as one
    *     pre-counted row per map task, not df rows;
    *  3. a left-semi join marks each doc's duplicated positions, and a
    *     per-doc interval union (classic gaps-and-islands over a lag
    *     window — spans overlap, so summing k per hit would over-count)
    *     yields the number of TOKENS covered by at least one duplicated
    *     span.
    *
    * Output: one row per input doc — `n_tokens`, `dup_spans` (duplicated
    * window count), `covered_tokens` (union of their token intervals),
    * `dup_ratio` = covered/n. Docs shorter than `k` tokens have no
    * windows and report zero coverage.
    *
    * `spanKey` defaults to `xxhash64` (8-byte shuffle key — at 100 TB the
    * span-key shuffle is the dominant cost and a 64-bit key keeps it
    * minimal; collisions only ever ADD phantom coverage at ~df²/2⁶⁴
    * probability). The oracle-checked query surface passes `md5` instead
    * so DuckDB can recompute identical keys; OpsSpec pins both routes to
    * identical coverage on the fixture corpus.
    *
    * Reference anchor: the reference has no substring-level operator
    * (its dedup surface is row-level — `silver_enrichment.py`'s
    * dropDuplicates analog); this extends the dedup family the same way
    * [[minhashCandidates]] extends [[exactGroups]]. */
  def spanDupCoverage(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8,
                      spanKey: Column => Column = xxhash64(_)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"span length k must be >= 2, got $k")
    val toks = FanOut.perRowCompute(df, idCol)
      .select(col(idCol).as("doc"), Text.tokens(col(textCol)).as("t"))
      .withColumn("n_tokens", size($"t"))
    // generator first, key projection second: one Generate node with the
    // span arithmetic pipelined above it (same codegen span), and the
    // token array is dropped before anything shuffles
    val withPos = toks.where($"n_tokens" >= k)
      .select($"doc", $"t", explode(sequence(lit(0), $"n_tokens" - k)).as("pos"))
    val spans = withPos.select($"doc", $"pos",
      spanKey(concat_ws(" ", slice($"t", $"pos" + lit(1), lit(k)))).as("h"))
    val dupKeys = spans.groupBy($"h").agg(count(lit(1)).as("df"))
      .where($"df" > 1).select($"h")
    val hits = spans.join(dupKeys, Seq("h"), "left_semi").select($"doc", $"pos")
    // interval union: windows are fixed-length so ends are monotone in
    // pos — each hit adds min(k, distance to previous hit) new tokens
    val w = Window.partitionBy($"doc").orderBy($"pos")
    val cov = hits
      .withColumn("gap", $"pos" - lag($"pos", 1).over(w))
      .groupBy($"doc").agg(
        count(lit(1)).as("dup_spans"),
        sum(coalesce(least($"gap", lit(k)), lit(k))).as("covered_tokens"))
    toks.select($"doc", $"n_tokens").join(cov, Seq("doc"), "left")
      .select($"doc".as(idCol), $"n_tokens",
        coalesce($"dup_spans", lit(0L)).as("dup_spans"),
        coalesce($"covered_tokens", lit(0L)).as("covered_tokens"),
        (coalesce($"covered_tokens", lit(0L)) / $"n_tokens").as("dup_ratio"))
  }

  /** Span-dedup curation filter: keep documents whose duplicated-span
    * coverage stays at or below `maxRatio` (the deployable form of
    * [[spanDupCoverage]] — ExactSubstr-style pipelines drop or trim
    * documents past a coverage threshold rather than splice text
    * mid-span). Left-semi join, so the survivors keep their full input
    * schema and the coverage frame never widens the shuffle. */
  def dropSpanDuplicated(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, maxRatio: Double = 0.5,
                         spanKey: Column => Column = xxhash64(_)): DataFrame = {
    val keep = spanDupCoverage(df, idCol, textCol, k, spanKey)
      .where($"dup_ratio" <= maxRatio)
      .select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Segment-level keep-first dedup — the CCNet/RefinedWeb move applied
    * at tile granularity: the corpus keeps exactly ONE copy of every
    * duplicated text segment and each document is REWRITTEN with its
    * non-surviving segments removed (contrast [[dropSpanDuplicated]],
    * which drops whole documents, and [[spanDupCoverage]], which only
    * measures). The segmentation is non-overlapping `k`-token tiles
    * (the corpus here has no newline paragraphs to hash, so the tile
    * plays CCNet's paragraph role; the trailing partial tile is a
    * segment too — CCNet hashes short paragraphs like any other).
    *
    * Keep rule: a tile occurrence survives iff it is the corpus-wide
    * FIRST occurrence of its content, first = min (doc, position) —
    * total and deterministic under any partitioning. Computed as
    * `min(struct(doc, pos))` per tile key, which Catalyst plans as a
    * two-phase hash aggregate (map-side partials — a tile duplicated
    * 10⁶× shuffles one candidate row per map partition, not 10⁶ rows),
    * then a semi-shaped equi-join back on the tile key. The two
    * shuffles (tile key, then doc for reassembly) are both narrow:
    * the first carries (key, doc, pos), the second only the KEPT tiles.
    *
    * `tileKey` defaults to `xxhash64` (8-byte shuffle key at 100 TB;
    * a collision can only mis-drop ~df²/2⁶⁴ tiles); the oracle surface
    * passes `md5` so DuckDB recomputes identical keys.
    *
    * Output: one row per input doc — `n_tiles`, `n_kept`, and
    * `cleaned_text` (surviving tiles rejoined in document order; empty
    * string when nothing survives).
    *
    * Reference anchor: the reference's dedup is row-level
    * (`silver_enrichment.py` dropDuplicates analog); this is north-star
    * curation surface (Wenzek et al. 2020 §4.2's paragraph dedup). */
  /** Non-overlapping k-token tile segmentation shared by
    * [[tileDedupKeepFirst]] and [[Incremental.deltaDedupStatus]] — one
    * definition, because the cross-operator tile-containment contract
    * (and both operators' oracles) depends on the segmentation being
    * bit-identical. Output: (doc, pos, tile); the trailing partial tile
    * is a tile. NULL-text rows produce NO tiles (without the size guard,
    * `sequence(0, -1)` DESCENDS to [0, -1] in Spark and a null doc would
    * grow two phantom empty tiles — measured, and divergent from the
    * oracles' `range()`, which is empty on a negative bound). */
  /** Distinct (doc, tile-key) frame over non-overlapping k-token tiles —
    * the shared indexing step of the tile-based dedup family, exposed
    * for compositions that consume tile sets directly (novelty curves,
    * cross-snapshot diffing) rather than through the pair joins. One
    * explode, one distinct; tile keys via `tileKey` (xxhash64 default;
    * md5 on oracle-checked surfaces). */
  def docTiles(df: DataFrame, idCol: String, textCol: String, k: Int = 8,
               tileKey: Column => Column = xxhash64(_)): DataFrame =
    tileSegments(df, idCol, textCol, k, fan = false) // postings re-shuffle on h at once
      .select($"doc", tileKey($"tile").as("h")).distinct()

  private[ops] def tileSegments(df: DataFrame, idCol: String,
                                textCol: String, k: Int,
                                fan: Boolean = true): DataFrame = {
    require(k >= 1, s"tile length k must be >= 1, got $k")
    // per-row-compute entry point (tokenize + tile explode + slice):
    // round-15 guarded fan-out, CALLER-GATED. The A/B probe measured the
    // exchange paying only where the downstream holds heavy per-tile
    // work in the SAME stage (keep-first's collect_list rebuild); the
    // pair-graph/postings consumers re-shuffle immediately on (doc, h),
    // so for them the fan-out is a pure extra stage (q164 shape:
    // no-fanout median 1.16 s vs fanout 1.19 s, min 0.87 vs 1.04) and
    // they opt out.
    (if (fan) FanOut.perRowCompute(df, idCol) else df)
      .select(col(idCol).as("doc"), Text.tokens(col(textCol)).as("t"))
      .where(size($"t") >= 1)
      .select($"doc", $"t",
        explode(sequence(lit(0), ceil(size($"t") / lit(k.toDouble)).cast("int") - 1))
          .as("pos"))
      .select($"doc", $"pos",
        concat_ws(" ", slice($"t", $"pos" * k + 1, lit(k))).as("tile"))
  }

  /** Asymmetric CONTAINMENT pairs: documents whose tile set is mostly a
    * subset of another document's — the excerpt/quote/truncation
    * duplication that symmetric Jaccard under-scores by construction (a
    * 2-tile excerpt of a 1000-tile document has Jaccard ≈ 0.002 but
    * containment 1.0). Output one row per directed pair with
    * `containment` = |rare-tiles(inner) ∩ tiles(outer)| /
    * |rare-tiles(inner)| ≥ `minFrac`, inner ≠ outer.
    *
    * Candidates come from the df-capped tile postings (`maxDf`): a tile
    * shared by more than `maxDf` documents is boilerplate — it would
    * generate quadratic candidates, and evidence that common certifies
    * nothing about copying — so containment is DEFINED over each
    * document's rare tiles (both numerator and denominator; documented
    * semantics, not an approximation). Join work is bounded by
    * Σ df² over rare tiles, never |docs|². A document with no rare
    * tiles (pure boilerplate) emits nothing. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, minFrac: Double = 0.8, maxDf: Int = 64,
                       tileKey: Column => Column = xxhash64(_)): DataFrame = {
    require(minFrac > 0.0 && minFrac <= 1.0,
      s"minFrac must be in (0,1]: $minFrac")
    require(maxDf >= 2, s"maxDf must be >= 2: $maxDf")
    val tiles = tileSegments(df, idCol, textCol, k, fan = false)
      .select($"doc", tileKey($"tile").as("h")).distinct()
    val rare = tiles.join(
      tiles.groupBy($"h").agg(count(lit(1)).as("__df"))
        .where($"__df" <= maxDf).select($"h"),
      Seq("h"))
    val innerSizes = rare.groupBy($"doc".as("inner_doc"))
      .agg(count(lit(1)).cast("long").as("n_rare_inner"))
    rare.select($"h", $"doc".as("inner_doc"))
      .join(rare.select($"h", $"doc".as("outer_doc")), Seq("h"))
      .where($"inner_doc" =!= $"outer_doc")
      .groupBy($"inner_doc", $"outer_doc")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .join(innerSizes, Seq("inner_doc"))
      .withColumn("containment", round($"n_shared" / $"n_rare_inner", 9))
      .where($"containment" >= minFrac)
      .select($"inner_doc", $"outer_doc", $"n_rare_inner", $"n_shared",
        $"containment")
  }

  /** Boilerplate datasheet — the CCNet-style signal dual to
    * [[containmentPairs]]'s rare-tile containment: a tile that recurs
    * across ≥ `minDf` DISTINCT documents is boilerplate (headers,
    * disclaimers, navigation chrome — content no model should see a
    * million times), and each document reports how much of it is made
    * of such tiles. Output one row per doc: `n_tiles`,
    * `n_bp_tiles`, `bp_frac` (9 dp) — the quality gate upstream of
    * span-level removal ([[tileDedupKeepFirst]] strips; this MEASURES,
    * which is what the corpus datasheet and the filter threshold need).
    *
    * Shape: one tile explode; document frequency comes from the
    * distinct (tile, doc) frame's hash aggregation (partial aggregation
    * applies — the postings are df-bounded by nature, no cap needed
    * because counting is linear in postings); the boilerplate set joins
    * back to per-doc tile counts on the tile hash. No doc-doc join
    * anywhere, so there is no quadratic candidate stage to bound. */
  def boilerplateReport(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, minDf: Int = 8,
                        tileKey: Column => Column = xxhash64(_)): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2: $minDf")
    val tiles = tileSegments(df, idCol, textCol, k, fan = false)
      .select($"doc", tileKey($"tile").as("h"))
    val bp = tiles.distinct()
      .groupBy($"h").agg(count(lit(1)).as("__df"))
      .where($"__df" >= minDf).select($"h")
    tiles.join(bp.withColumn("__bp", lit(1L)), Seq("h"), "left")
      .groupBy($"doc")
      .agg(count(lit(1)).cast("long").as("n_tiles"),
        sum(coalesce($"__bp", lit(0L))).cast("long").as("n_bp_tiles"))
      .withColumn("bp_frac", round($"n_bp_tiles" / $"n_tiles".cast("double"), 9))
      .withColumnRenamed("doc", idCol)
  }

  /** Duplication-hub diagnostics — WHICH documents sit at the center of
    * duplication clusters (template pages, mirrored articles, spam
    * blasts): per document, the number of partners sharing at least
    * `minShared` rare tiles and the heaviest single overlap, top
    * `topK` hubs by degree. Volume reports (q103/q108's shape) say how
    * MUCH duplication exists; this names the documents to pull and
    * inspect before choosing a removal threshold.
    *
    * Same candidate bound as [[containmentPairs]]: pair work is Σ df²
    * over df-capped tiles, never |docs|²; the head is
    * `orderBy().limit(topK)` — per-partition heaps, no global sort. */
  def duplicationHubs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, maxDf: Int = 64, minShared: Int = 2,
                      topK: Int = 50,
                      tileKey: Column => Column = xxhash64(_)): DataFrame =
    rareTilePairs(df, idCol, textCol, k, maxDf, minShared, tileKey)
      .groupBy($"doc_a".as(idCol))
      .agg(count(lit(1)).cast("long").as("n_partners"),
        max($"n_shared").cast("long").as("max_shared"))
      .orderBy($"n_partners".desc, $"max_shared".desc, col(idCol))
      .limit(topK)

  /** The rare-tile overlap pair frame behind [[duplicationHubs]] — the
    * duplication GRAPH itself, both edge directions: `(doc_a, doc_b,
    * n_shared)` for every ordered pair of distinct docs sharing at least
    * `minShared` tiles whose document frequency is ≤ `maxDf`. Same Σ df²
    * candidate bound as [[containmentPairs]]; the df cap is what keeps
    * the self-join off boilerplate tiles, so pair work never approaches
    * |docs|². Feeds graph analytics over the duplication structure
    * ([[Graph.pageRank]] authority, connected components). */
  def rareTilePairs(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, maxDf: Int = 64, minShared: Int = 2,
                    tileKey: Column => Column = xxhash64(_)): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    val tiles = tileSegments(df, idCol, textCol, k, fan = false) // A/B: pair graphs lose the extra stage
      .select($"doc", tileKey($"tile").as("h")).distinct()
    val rare = tiles.join(
      tiles.groupBy($"h").agg(count(lit(1)).as("__df"))
        .where($"__df" <= maxDf).select($"h"),
      Seq("h"))
    rare.select($"h", $"doc".as("doc_a"))
      .join(rare.select($"h", $"doc".as("doc_b")), Seq("h"))
      .where($"doc_a" =!= $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .where($"n_shared" >= minShared)
  }


  /** Suffix→prefix stitch candidates — the shard-reassembly /
    * split-document detector: doc A's LAST `k` tokens equal doc B's
    * FIRST `k` tokens, the signature of one document split across two
    * records (crawl pagination, chunked exports, truncated+continued
    * logs). Output `(doc_a, doc_b)`: read "a continues into b".
    *
    * One projection computes each doc's two edge tiles (head k-gram,
    * tail k-gram — positional, deliberately NOT alignment-bucketed like
    * [[tileSegments]]: the stitch point falls anywhere); the join is
    * tail-key = head-key with both sides df-capped at `maxDf`, so
    * fan-out is bounded by Σ df_head·df_tail per key, never corpus².
    * Docs under `k` tokens have no full edge tile and drop out. */
  def stitchPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, maxDf: Int = 64,
                  tileKey: Column => Column = xxhash64(_)): DataFrame = {
    val w = split(col(textCol), " ")
    val frames = df.where(size(w) >= k)
      .select(col(idCol).as("doc"),
        tileKey(array_join(slice(w, 1, k), " ")).as("hh"),
        tileKey(array_join(slice(w, -k, k), " ")).as("ht"))
    val heads = frames.select($"doc".as("doc_b"), $"hh".as("h"))
    val tails = frames.select($"doc".as("doc_a"), $"ht".as("h"))
    def capped(side: DataFrame) = side.join(
      side.groupBy($"h").agg(count(lit(1)).as("__df"))
        .where($"__df" <= maxDf).select($"h"),
      Seq("h"))
    capped(tails).join(capped(heads), Seq("h"))
      .where($"doc_a" =!= $"doc_b")
      .select($"doc_a", $"doc_b")
  }

  def tileDedupKeepFirst(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8,
                         tileKey: Column => Column = xxhash64(_)): DataFrame = {
    val tiles = tileSegments(df, idCol, textCol, k)
      .withColumn("h", tileKey($"tile"))
    val firsts = tiles.groupBy($"h")
      .agg(min(struct($"doc", $"pos")).as("first"))
    tiles.join(firsts, Seq("h"))
      .withColumn("kept", $"doc" === $"first.doc" && $"pos" === $"first.pos")
      .groupBy($"doc")
      .agg(
        count(lit(1)).as("n_tiles"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(when($"kept", struct($"pos", $"tile")))),
            x => x.getField("tile")),
          " ").as("cleaned_text"))
      .withColumnRenamed("doc", idCol)
  }

  /** Soft dedup: keep at most `cap` copies of each distinct content, in a
    * deterministic seed-salted hash order (which copies survive must not
    * depend on partitioning or arrival order). Exact dedup (cap=1) is
    * sometimes too aggressive for training corpora — natural duplication
    * carries signal, catastrophic duplication drowns it — so the standard
    * compromise (e.g. the "keep a bounded number of copies" option in
    * CCNet-style pipelines) caps the multiplicity instead.
    *
    * Plan: rank within the content-hash group by the salted order key and
    * filter. The window partitions by the 32-char md5, never the text, so
    * the shuffle is narrow; group sizes are duplicate multiplicities
    * (small by nature — a pathological mega-duplicate is exactly what the
    * cap is for, and even then the group holds only its copies, not the
    * corpus). Output = input columns + `copy_rank` (1-based). */
  def softDedupCap(df: DataFrame, idCol: String, textCol: String,
                   cap: Int, seed: String): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val ranked = df
      .withColumn("__fp", md5(col(textCol)))
      .withColumn("__ord", Shard.orderKey(col(idCol), seed))
      .withColumn("copy_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"__fp")
          .orderBy($"__ord", col(idCol))))
    ranked.where($"copy_rank" <= cap).drop("__fp", "__ord")
  }

  /** Cross-source duplication matrix: for every unordered source pair
    * (a ≤ b), how many duplicate pairs share identical content across
    * them — the data-card number that tells a curation run WHERE its
    * duplication comes from (mirror sites, cross-source scrapes) before
    * deciding what to drop.
    *
    * Plan: never a text self-join. The corpus collapses once to
    * (content-hash, source, copies) — narrow rows, two-phase aggregate —
    * and the pair counts come from joining that tiny frame with itself
    * per hash: a group with nₐ copies in source a and n_b in source b
    * contributes nₐ·n_b pairs (nₐ·(nₐ−1)/2 within a source). Per-hash
    * work is |sources-present|², bounded by the taxonomy, not the corpus. */
  def crossSourceDupMatrix(df: DataFrame, textCol: String,
                           sourceCol: String): DataFrame = {
    val bySrc = df.groupBy(md5(col(textCol)).as("fp"),
        col(sourceCol).as("src"))
      .agg(count(lit(1)).as("n"))
    val a = bySrc.select($"fp", $"src".as("source_a"), $"n".as("na"))
    val b = bySrc.select($"fp", $"src".as("source_b"), $"n".as("nb"))
    a.join(b, Seq("fp"))
      .where($"source_a" <= $"source_b")
      .select($"source_a", $"source_b",
        // n·(n−1) is even, so the long division is exact — no double hop
        when($"source_a" === $"source_b",
          ($"na" * ($"na" - 1) / lit(2)).cast("long"))
          .otherwise($"na" * $"nb").as("pairs"))
      .groupBy($"source_a", $"source_b")
      .agg(sum($"pairs").as("dup_pairs"))
      .where($"dup_pairs" > 0)
  }

  /** Observable derivation counts — let specs assert publish-once. */
  private[graft] val clusterComputeCount =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val pairComputeCount =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Bumpable algorithm versions, part of each store's staleness key: a
    * semantics change to the derivation (new routing default, a scoring
    * fix) must bump these so pre-existing stores — whose corpus/plan
    * fingerprints and params all still match — are re-derived instead of
    * silently served stale (the round-10 Lloyd n-vs-n−1 fix would have
    * been exactly that hazard had the model store predated it). */
  val ClustersAlgoVersion = 1
  val PairsAlgoVersion = 1

  // ──────────────────── persisted scored-pair store ────────────────────
  //
  // The θ-scored exact-Jaccard pair table is the upstream half of the
  // cluster derivation and the shared input of the whole pair-analytics
  // family (raw pair listings, curation anti-joins, threshold sweeps,
  // decontamination splits, LSH ground truth). Stored once at the
  // LOOSEST threshold any consumer uses (θ=0.3 here): Jaccard is a
  // pairwise function — independent of the rest of the corpus — so every
  // tighter-θ consumer, every sub-corpus consumer (both endpoints
  // filtered), and every split consumer (endpoints on opposite sides)
  // is a FILTER over this one table, never a re-derivation.
  //
  // Layout under `path`:
  //   path/pairs — (doc_a bigint, doc_b bigint, jaccard double), doc_a <
  //                doc_b, partition-parallel (billions of rows at 100 TB)
  //   path/meta  — the StoreIO key + `route`: WHICH derivation produced
  //                the pairs (prefix/direct = exact, capped = df-capped
  //                approximate semantics past the router's Σdf² budget)

  /** The checked read-through path for the scored-pair store: load the
    * pair table published at `path` if its key (corpus files, input
    * plan with n/threshold, algorithm version) matches; else derive via
    * the routed exact-Jaccard entry point, publish atomically, and
    * return a READ of the published parquet. The returned frame is
    * always (doc_a, doc_b, jaccard) with jaccard ≥ `threshold`;
    * consumers filter to their own tighter θ / id subset. */
  def pairsPersisted(docs: DataFrame, idCol: String, textCol: String,
                     path: String, n: Int = 3,
                     threshold: Double = 0.3): DataFrame =
    pairsRouted(docs, idCol, textCol, path, n, threshold)._1

  /** [[pairsPersisted]] plus the derivation route recorded in the meta row
    * the read-through loaded: Some("prefix"/"direct") = exact pairs,
    * Some("capped") = df-capped approximate semantics (the store
    * UNDERCOUNTS pairs whose shingles were all stop-capped), None = a meta
    * row without the route column. Exact-truth consumers treat anything
    * but prefix/direct as "derive your own truth on your bounded slice".
    * Rows and route come from the same store generation. */
  def pairsRouted(docs: DataFrame, idCol: String, textCol: String,
                  path: String, n: Int, threshold: Double): (DataFrame, Option[String]) = {
    val spark = docs.sparkSession
    StoreIO.readThrough(spark, path,
      StoreIO.key(docs, PairsAlgoVersion, "n" -> n, "threshold" -> threshold),
      "pairsPersisted") { tmp =>
      pairComputeCount.incrementAndGet()
      ngramJaccardPairsAuto(docs, idCol, textCol, n = n, threshold = threshold)
        .select($"doc_a".cast("long"), $"doc_b".cast("long"),
          $"jaccard".cast("double"))
        .write.mode("overwrite").parquet(s"$tmp/pairs")
      // the route the derivation took (memoized — ngramJaccardPairsAuto
      // just paid the same decision), so exact-truth consumers can tell
      // a capped store from an exact one
      Seq(lit(jaccardAutoRoute(docs, idCol, textCol, n = n)).as("route"))
    } { meta => (graft.Parquet.read(spark, s"$path/pairs"),
      scala.util.Try(meta.getAs[String]("route")).toOption) }
  }

  // ──────────────────── persisted cluster store ────────────────────
  //
  // The near-dup cluster table (pair generation + connected components)
  // is the single most expensive derivation in the library — tens of
  // seconds at sf1, hours at 100 TB — yet it is a pure function of the
  // corpus, and EVERY downstream cluster analytic (purity, size
  // histogram, survivor selection, drop-rate reports) reads the same
  // logical table: derive ONCE, publish, and let every later
  // query/session/cluster load the parquet.
  //
  // Layout under `path`:
  //   path/clusters — (doc_id bigint, component_id bigint) parquet,
  //                   partition-parallel (NOT coalesced: at 100 TB this
  //                   table has billions of rows)
  //   path/meta     — the StoreIO key (n and threshold in plan_fp)

  /** The checked read-through path: load the cluster table published at
    * `path` if its key matches `docs` and the parameters; else derive
    * (scored pairs → threshold filter → connected components), publish
    * atomically, and return a READ of the published parquet — so
    * downstream plans in both branches scan a parquet table rather than
    * re-deriving, and the first caller's publish pays for every later
    * query, session, and JVM. A stale store (corpus files rewritten,
    * different input plan, different n/threshold, or a bumped
    * [[ClustersAlgoVersion]]) is re-derived and republished loudly,
    * never silently served.
    *
    * `pairSource`, when given, supplies the SCORED pair table —
    * (doc_a, doc_b, jaccard), covering at least jaccard ≥ `threshold` —
    * that the derivation filters and clusters. [[graft.queries.Stores]]
    * passes the persisted θ=0.3 pair store here, so the cluster store is
    * derived FROM the pair store and the two can never disagree on pair
    * scores. Without it the pairs are derived in-plan (routed exact
    * Jaccard at `threshold`). */
  def clustersPersisted(docs: DataFrame, idCol: String, textCol: String,
                        path: String, n: Int = 3,
                        threshold: Double = 0.5,
                        pairSource: Option[() => DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    StoreIO.readThrough(spark, path,
      StoreIO.key(docs, ClustersAlgoVersion, "n" -> n, "threshold" -> threshold),
      "clustersPersisted") { tmp =>
      clusterComputeCount.incrementAndGet()
      val pairs = pairSource.map(_())
        .getOrElse(ngramJaccardPairsAuto(docs, idCol, textCol, n = n,
          threshold = threshold))
      connectedComponents(
          pairs.where($"jaccard" >= threshold).select($"doc_a", $"doc_b"))
        .select($"doc_id".cast("long"), $"component_id".cast("long"))
        .write.mode("overwrite").parquet(s"$tmp/clusters")
      Nil
    } { _ => graft.Parquet.read(spark, s"$path/clusters") }
  }
}
