package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Trained quality classification — the fastText-shaped quality filter
  * every large curation pipeline runs (a linear model distilled from
  * seed labels, then applied to the full corpus), expressed Spark-first
  * with no ML library: batch-gradient-descent logistic regression where
  * each iteration is ONE aggregation job and the driver holds nothing
  * but the weight vector.
  *
  * Scale shape (the reason this is library-worthy rather than
  * `collect()`-and-sklearn):
  *
  *  - featurization is a per-row projection over codegen'd built-ins
  *    (no UDFs) — at 100 TB it is map-side work fused into the scan;
  *  - one training iteration = one `agg` over the training frame
  *    computing the full gradient (`Σ (σ(w·x) − y)·x_j` per component)
  *    via partial aggregation — the only driver traffic is one row of
  *    `nFeatures + 2` doubles per iteration, the classic
  *    "Spark as a parameter server for linear models" pattern;
  *  - training runs on a bounded (sampled) frame; SCORING runs on the
  *    full corpus as a stateless projection with the learned weights
  *    baked in as literals — exactly how [[Similarity.IvfIndex]]
  *    broadcasts its centroids.
  *
  * Determinism: gradient and loss sums go through decimal-exact
  * accumulation ([[Exact]]'s discipline — double→decimal cast is
  * well-defined, decimal addition is associative), so training produces
  * BIT-IDENTICAL weights regardless of partitioning or aggregation
  * order, making the trained model golden-pinnable.
  *
  * Reference anchor: the reference's quality surface is rule-based
  * routing only (`silver_enrichment.py` range rules); this extends it
  * the way a production curation stack does — seed labels from the
  * rules ([[Text.qualityScore]]), a parametric model trained on a
  * sample, calibrated scores for the corpus.
  */
object Classify {

  /** Decimal type for gradient/loss accumulation: components are O(1)
    * per row (features and errors both bounded by construction), so 16
    * integer digits hold sums over 10^15 rows with 12 fractional digits
    * of exactness. */
  private val D = DecimalType(28, 12)

  val nQualityFeatures: Int = 6

  /** Per-document quality feature vector (array<double>, all components
    * in [0, 1], bias first): [1, bounded length, stopword ratio, bounded
    * mean word length, distinct-token ratio, bounded subword density].
    * Pure projection over one tokenization — fused into the scan. */
  def qualityFeatures(text: Column): Column = {
    val wc = Text.tokenCount(text).cast("double")
    val stopRatio = Text.stopwordCount(text) / wc
    val awl = Text.sumTokenLen(text) / wc
    array(
      lit(1.0),
      least(lit(1.0), wc / lit(100.0)),
      stopRatio,
      least(lit(1.0), awl / lit(8.0)),
      Text.distinctTokenCount(text) / wc,
      least(lit(1.0), Text.bpeishTokenCount(text) / (lit(2.0) * wc)))
  }

  /** Seed (weak-supervision) label: 1.0 when the rule-based
    * [[Text.qualityScore]] clears `threshold` — the distillation target. */
  def seedQualityLabel(text: Column, threshold: Double = 0.6): Column = {
    val wc = Text.tokenCount(text).cast("double")
    (Text.qualityScore(wc, Text.stopwordCount(text) / wc,
      Text.sumTokenLen(text) / wc) >= threshold).cast("double")
  }

  /** Element-order-fixed dot product of a feature array against literal
    * weights — a fold over a 6-element zip, codegen'd, deterministic. */
  private def dotLit(features: Column, w: Array[Double]): Column =
    aggregate(zip_with(features, array(w.map(lit): _*), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)

  private def sigmoid(m: Column): Column = lit(1.0) / (lit(1.0) + exp(-m))

  final case class TrainedLogistic(weights: Array[Double], losses: Seq[Double],
                                   nRows: Long)

  /** Batch-GD logistic regression. `df` must carry `featuresCol`
    * (array<double>, fixed length `nFeatures`, bias included) and
    * `labelCol` (double 0/1). One aggregation job per iteration; the
    * mean log-loss per iteration is recorded so callers (and specs) can
    * assert convergence. Deterministic: decimal-exact sums, fixed
    * iteration count — no early stopping on floating comparisons. */
  def trainLogistic(df: DataFrame, featuresCol: String, labelCol: String,
                    nFeatures: Int = nQualityFeatures,
                    iters: Int = 30, lr: Double = 2.0): TrainedLogistic = {
    var w = Array.fill(nFeatures)(0.0)
    val losses = Array.newBuilder[Double]
    var n = 0L
    // the training frame is scanned `iters` times — persist it once (the
    // caller's sample should be bounded; this is the train-on-a-sample,
    // score-everything shape); lifecycle is fully local so this releases
    // itself rather than going through the Staged registry
    val staged = df.select(col(featuresCol).as("x"),
      col(labelCol).cast("double").as("y")).persist()
    try {
      for (_ <- 1 to iters) {
        val m = dotLit(col("x"), w)
        val p = sigmoid(m)
        val err = p - col("y")
        // numerically stable log-loss: log1p(e^-|m|) + max(m,0) - y*m
        val loss = log1p(exp(-abs(m))) + greatest(m, lit(0.0)) - col("y") * m
        val gradCols = (0 until nFeatures).map { j =>
          sum((err * element_at(col("x"), j + 1)).cast(D)).cast("double").as(s"g$j")
        }
        val row = staged.agg(gradCols.head, gradCols.tail :+
          sum(loss.cast(D)).cast("double").as("loss") :+
          count(lit(1)).as("n"): _*).head()
        n = row.getAs[Long]("n")
        losses += row.getAs[Double]("loss") / n
        w = w.zipWithIndex.map { case (wj, j) =>
          wj - lr * row.getAs[Double](s"g$j") / n
        }
      }
    } finally staged.unpersist(blocking = false)
    TrainedLogistic(w, losses.result().toSeq, n)
  }

  /** Score with a trained model: stateless projection, weights baked in
    * as plan literals. Returns σ(w·x) in [0, 1]. */
  def score(features: Column, model: TrainedLogistic): Column =
    sigmoid(dotLit(features, model.weights))

  /** Train-on-sample / score-everything composition over a text corpus:
    * seed labels + features from the text column, a deterministic
    * hash-sample of `samplePermille`/1000 docs for training, scores for
    * EVERY doc. Output: id, seed label, calibrated score, predicted.
    * The trained model is memoized per (corpus plan, params) — a model
    * is trained once and then applied, like a persisted index; pass
    * `memo = false` to force retraining. */
  def qualityClassifier(df: DataFrame, idCol: String, textCol: String,
                        samplePermille: Int = 300, iters: Int = 30,
                        lr: Double = 2.0, memo: Boolean = true): DataFrame = {
    val feats = df.select(col(idCol),
      qualityFeatures(col(textCol)).as("features"),
      seedQualityLabel(col(textCol)).as("label"))
    val key = (feats.queryExecution.analyzed.canonicalized.semanticHash(),
      samplePermille, iters, lr)
    def train(): TrainedLogistic = trainLogistic(
      feats.where(pmod(xxhash64(col(idCol)), lit(1000)) < samplePermille),
      "features", "label", nQualityFeatures, iters, lr)
    val model =
      if (memo) modelMemo.computeIfAbsent(key, _ => train())
      else train()
    feats.select(col(idCol), col("label"),
      score(col("features"), model).as("score"))
      .withColumn("predicted", (col("score") >= 0.5).cast("double"))
  }

  private val modelMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int, Double), TrainedLogistic]()

  /** Per-class evaluation report from a (truth, predicted) frame: one
    * row per class appearing on EITHER side — support, true/false
    * positives, false negatives, precision, recall, F1 (9 dp doubles;
    * a zero denominator scores 0.0, the conventional strict reading).
    *
    * Shape: two class-keyed partial aggregates (by truth, by prediction)
    * full-outer-joined on the class — everything after the input frame
    * is class-cardinality work. The input is whatever produced the
    * predictions; this operator adds no pass over the corpus. */
  def classifierEval(df: DataFrame, truthCol: String,
                     predCol: String): DataFrame = {
    val byTruth = df.groupBy(col(truthCol).as("label"))
      .agg(count(lit(1)).cast("long").as("support"),
        sum(when(col(truthCol) === col(predCol), 1L).otherwise(0L))
          .cast("long").as("tp"))
    val byPred = df.groupBy(col(predCol).as("label"))
      .agg(count(lit(1)).cast("long").as("n_pred"))
    val safeDiv = (a: Column, b: Column) =>
      when(b > 0, a.cast("double") / b).otherwise(lit(0.0))
    byTruth.join(byPred, Seq("label"), "full_outer")
      .select($"label",
        coalesce($"support", lit(0L)).as("support"),
        coalesce($"tp", lit(0L)).as("tp"),
        (coalesce($"n_pred", lit(0L)) - coalesce($"tp", lit(0L))).as("fp"),
        (coalesce($"support", lit(0L)) - coalesce($"tp", lit(0L))).as("fn"),
        coalesce($"n_pred", lit(0L)).as("__np"))
      .withColumn("precision", round(safeDiv($"tp", $"__np"), 9))
      .withColumn("recall", round(safeDiv($"tp", $"support"), 9))
      .withColumn("f1", round(
        when($"tp" > 0,
          lit(2.0) * ($"tp" / $"__np") * ($"tp" / $"support") /
            ($"tp" / $"__np" + $"tp" / $"support"))
          .otherwise(lit(0.0)), 9))
      .drop("__np")
  }

  /** Long-format (unit, annotator, label) melt of wide annotation
    * columns, nulls (missing ratings) dropped — ONE scan via a
    * struct-array explode (a union-per-annotator melt re-scans the
    * frame once per column; at scale annotations usually arrive
    * long-format already and skip this entirely). */
  private def meltRatings(df: DataFrame, unitCol: String,
                          annotatorCols: Seq[String]): DataFrame =
    df.select(col(unitCol).as("unit"),
        explode(array(annotatorCols.map(a =>
          struct(lit(a).as("annotator"),
            col(a).cast("string").as("label"))): _*)).as("__r"))
      .select($"unit", $"__r.annotator".as("annotator"),
        $"__r.label".as("label"))
      .where($"label".isNotNull)

  /** Krippendorff's alpha (nominal) over ≥2 annotator columns WITH
    * missing ratings — the agreement coefficient that, unlike
    * [[cohenKappa]], handles any number of annotators and incomplete
    * annotation (every real labeling project's shape). Nulls are
    * missing; units with fewer than 2 ratings are unpairable and drop.
    *
    *   D_o = (1/n) Σ_u Σ_c m_uc·(m_u − m_uc)/(m_u − 1)
    *   D_e = (n² − Σ_c n_c²) / (n·(n − 1))        α = 1 − D_o/D_e
    *
    * with m_uc = unit u's ratings of category c, m_u = Σ_c m_uc over
    * pairable units, n_c/n the pooled marginals. One row out: pairable
    * unit/rating counts, D_o, D_e, alpha (9 dp; a degenerate D_e = 0 —
    * all ratings one category — scores 1.0 by the perfect-agreement
    * convention).
    *
    * Shape: the melt is map-side; everything after is one unit-keyed
    * aggregation (m_uc counts carry partial aggregation) and then
    * category-cardinality work; the final combine broadcasts 1-row
    * frames. Per-unit divisions by (m_u − 1) are exact doubles for
    * ≤ 3 annotators (divisor 1 or 2) and ride round(·, 9) decimal sums
    * regardless, so cross-engine replay is bit-stable. */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
                        annotatorCols: Seq[String]): DataFrame = {
    require(annotatorCols.size >= 2, "need at least 2 annotator columns")
    val ratings = meltRatings(df, unitCol, annotatorCols)
    val muc = ratings.groupBy($"unit", $"label")
      .agg(count(lit(1)).cast("long").as("m_uc"))
    val mu = muc.groupBy($"unit")
      .agg(sum($"m_uc").cast("long").as("m_u"))
      .where($"m_u" >= 2)
    val perUnit = muc.join(mu, Seq("unit"))
      .groupBy($"unit", $"m_u")
      .agg(sum($"m_uc" * ($"m_u" - $"m_uc")).cast("long").as("__dis"))
      .select($"m_u",
        round($"__dis" / ($"m_u" - lit(1)).cast("double"), 9).as("t_u"))
    val tot = perUnit.agg(
      count(lit(1)).cast("long").as("n_units"),
      sum($"m_u").cast("long").as("n_ratings"),
      sum($"t_u".cast(D)).cast("double").as("__sumdis"))
    val marg = muc.join(mu, Seq("unit"))
      .groupBy($"label").agg(sum($"m_uc").cast("long").as("__nc"))
      .agg(sum($"__nc" * $"__nc").cast("long").as("__sumnc2"))
    tot.crossJoin(broadcast(marg))
      .select($"n_units", $"n_ratings",
        ($"__sumdis" / $"n_ratings").as("__do"),
        (($"n_ratings" * $"n_ratings" - $"__sumnc2") /
          ($"n_ratings".cast("double") * ($"n_ratings" - lit(1))))
          .as("__de"))
      .select($"n_units", $"n_ratings",
        round($"__do", 9).as("d_o"), round($"__de", 9).as("d_e"),
        round(when($"__de" > 0.0, lit(1.0) - $"__do" / $"__de")
          .otherwise(lit(1.0)), 9).as("alpha"))
  }

  /** Majority-vote label aggregation + per-annotator reliability — the
    * weak-supervision consensus step that turns N noisy annotator
    * columns into one training label, with the accuracy-vs-consensus
    * report used to re-weight or drop annotators. Consensus = the
    * modal label per unit (ties to the lexicographically smallest);
    * nulls are missing and never vote. Output one row per annotator:
    * rated units, consensus agreements, accuracy (9 dp), plus a
    * `__consensus__` row carrying the mean vote share the winning label
    * took (consensus confidence).
    *
    * Shape: one unit-keyed count aggregation, a unit-cardinality argmax
    * via `min(struct)` (q121's no-window pattern), then an
    * annotator-cardinality rollup. */
  def majorityVoteReport(df: DataFrame, unitCol: String,
                         annotatorCols: Seq[String]): DataFrame = {
    require(annotatorCols.size >= 2, "need at least 2 annotator columns")
    val ratings = meltRatings(df, unitCol, annotatorCols)
    val votes = ratings.groupBy($"unit", $"label")
      .agg(count(lit(1)).cast("long").as("v"))
    val consensus = votes.groupBy($"unit")
      .agg(min(struct((-$"v").as("nv"), $"label")).as("__w"),
        sum($"v").cast("long").as("__votes"))
      .select($"unit", $"__w.label".as("consensus"),
        round((-$"__w.nv") / $"__votes", 9).as("share"))
    val perAnn = ratings.join(consensus, Seq("unit"))
      .groupBy($"annotator")
      .agg(count(lit(1)).cast("long").as("n_rated"),
        sum(when($"label" === $"consensus", 1L).otherwise(0L))
          .cast("long").as("n_agree"))
      .select($"annotator", $"n_rated", $"n_agree",
        round($"n_agree" / $"n_rated".cast("double"), 9).as("score"))
    val confRow = consensus.agg(
        count(lit(1)).cast("long").as("n_rated"),
        sum(when($"share" >= 1.0, 1L).otherwise(0L)).cast("long")
          .as("n_agree"),
        round(sum($"share".cast(D)).cast("double") / count(lit(1)), 9)
          .as("score"))
      .select(lit("__consensus__").as("annotator"), $"n_rated",
        $"n_agree", $"score")
    perAnn.unionByName(confRow)
  }

  /** Accuracy-weighted re-vote — one Dawid–Skene-style refinement over
    * [[majorityVoteReport]]'s plain majority: estimate each annotator's
    * reliability against the majority consensus, convert it to a
    * log-odds weight w_a = ln(acc′/(1−acc′)) with Laplace-smoothed
    * accuracy acc′ = (agree+1)/(rated+2) (the smoothing keeps a perfect
    * annotator's weight finite and the arithmetic rational), then
    * re-elect each unit's label by summed weight (ties to the
    * lexicographically smallest). The one-step form is the standard
    * practical compromise: it captures most of EM's gain without an
    * iteration count to tune, and every quantity stays
    * oracle-replayable.
    *
    * Output one row per label: units won under majority, units won
    * under the weighted vote, units that changed INTO the label
    * (9 dp-stable weight sums; labels appearing under either vote).
    *
    * Shape: one melt + unit-keyed vote counts (shared with the majority
    * pass), an annotator-cardinality weight frame broadcast back onto
    * the ratings, one (unit,label) weight aggregation, and `min(struct)`
    * argmaxes — no pass is more than unit-cardinality after the melt. */
  def weightedVoteReport(df: DataFrame, unitCol: String,
                         annotatorCols: Seq[String]): DataFrame = {
    require(annotatorCols.size >= 2, "need at least 2 annotator columns")
    val ratings = meltRatings(df, unitCol, annotatorCols)
    val votes = ratings.groupBy($"unit", $"label")
      .agg(count(lit(1)).cast("long").as("v"))
    val majority = votes.groupBy($"unit")
      .agg(min(struct((-$"v").as("nv"), $"label")).as("__w"))
      .select($"unit", $"__w.label".as("majority"))
    val weights = ratings.join(majority, Seq("unit"))
      .groupBy($"annotator")
      .agg(count(lit(1)).cast("long").as("n_rated"),
        sum(when($"label" === $"majority", 1L).otherwise(0L))
          .cast("long").as("n_agree"))
      .select($"annotator",
        round(log((($"n_agree" + 1) / ($"n_rated" + 2).cast("double")) /
          (lit(1.0) - ($"n_agree" + 1) / ($"n_rated" + 2).cast("double"))), 9)
          .as("w"))
    val weighted = ratings.join(broadcast(weights), Seq("annotator"))
      .groupBy($"unit", $"label")
      .agg(sum($"w".cast(D)).cast("double").as("wsum"))
      .groupBy($"unit")
      .agg(min(struct((-round($"wsum", 9)).as("nw"), $"label")).as("__w"))
      .select($"unit", $"__w.label".as("weighted"))
    val joined = majority.join(weighted, Seq("unit"))
    val byMaj = joined.groupBy($"majority".as("label"))
      .agg(count(lit(1)).cast("long").as("n_majority"))
    val byWt = joined.groupBy($"weighted".as("label"))
      .agg(count(lit(1)).cast("long").as("n_weighted"),
        sum(when($"majority" =!= $"weighted", 1L).otherwise(0L))
          .cast("long").as("n_gained"))
    byMaj.join(byWt, Seq("label"), "full_outer")
      .select($"label",
        coalesce($"n_majority", lit(0L)).as("n_majority"),
        coalesce($"n_weighted", lit(0L)).as("n_weighted"),
        coalesce($"n_gained", lit(0L)).as("n_gained"))
  }

  /** Cohen's kappa between two label columns — chance-corrected
    * inter-annotator agreement, THE label-quality gate before a labeled
    * set becomes supervised training data (raw agreement flatters
    * skewed label distributions; kappa subtracts what marginals alone
    * would produce). One row: n_items, observed agreement p_o, chance
    * agreement p_e = Σ p_a(ℓ)·p_b(ℓ), kappa = (p_o − p_e)/(1 − p_e)
    * (9 dp doubles; degenerate p_e = 1 scores kappa 0.0).
    *
    * Shape: three class-keyed/scalar partial aggregates over one scan;
    * marginal products run on the class-cardinality frame. All counts
    * are exact longs, so the divisions are engine-exact. */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val tot = df.agg(count(lit(1)).cast("long").as("n_items"),
      sum(when(col(aCol) === col(bCol), 1L).otherwise(0L))
        .cast("long").as("__agree"))
    val pa = df.groupBy(col(aCol).as("label"))
      .agg(count(lit(1)).cast("long").as("__na"))
    val pb = df.groupBy(col(bCol).as("label"))
      .agg(count(lit(1)).cast("long").as("__nb"))
    val chance = pa.join(pb, Seq("label"))
      .agg(sum($"__na" * $"__nb").cast("long").as("__prod"))
    tot.crossJoin(broadcast(chance))
      .select($"n_items",
        ($"__agree" / $"n_items").as("__po"),
        ($"__prod" / ($"n_items".cast("double") * $"n_items")).as("__pe"))
      .select($"n_items", round($"__po", 9).as("po"),
        round($"__pe", 9).as("pe"),
        round(when($"__pe" < 1.0,
            ($"__po" - $"__pe") / (lit(1.0) - $"__pe"))
          .otherwise(lit(0.0)), 9).as("kappa"))
  }

  // ──────────────── persisted centroid-prediction store ────────────────
  //
  // The centroid-classifier predictions (q132's scoring half) are the
  // surface's single most expensive repeated computation — engine-exact
  // decimal dot products, N·d·|labels| arithmetic, ~12 s of every sf1
  // sweep — yet a pure function of the embeddings corpus, read by an
  // evaluation that never changes them: derive once per corpus
  // fingerprint, publish atomically, serve parquet scans.
  //
  // Layout under `path`:
  //   path/predictions — (vec_id bigint, label, predicted) — label and
  //                      predicted keep the corpus's own label type
  //   path/meta        — the StoreIO key

  /** Bump on any change to [[centroidPredictions]]' arithmetic: a store
    * published by older code must re-derive, never serve stale scores. */
  val PredictionsAlgoVersion = 1

  /** Observable derivation count (spec hook): a warm store must load
    * without incrementing this. */
  private[graft] val predictionsComputeCount =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Centroid-classifier predictions: each embedding's predicted label
    * is its cosine-nearest label centroid (per-dim decimal-rounded
    * means), ties broken by label order. Every dot/norm sum rides 9 dp
    * decimal accumulation, so the argmax is engine-exact and
    * reduction-order-free — which is what makes derived and
    * store-loaded predictions identical and lets the DuckDB oracle
    * replay the arithmetic. The centroid frame (|labels| × dims)
    * broadcasts; the big exchanges are the two vec-keyed aggregates.
    * Output: (vec_id, label [truth], predicted). */
  def centroidPredictions(emb: DataFrame): DataFrame = {
    val e = emb.select($"vec_id", $"label",
      posexplode($"embedding".cast("array<double>")).as(Seq("dim", "v")))
    val cent = e.groupBy($"label".as("clabel"), $"dim")
      .agg(round(sum($"v".cast("decimal(18,4)")).cast("double") /
        count($"v"), 6).as("c"))
    val cnorm = cent.groupBy($"clabel")
      .agg(sum(round($"c" * $"c", 9).cast(D)).cast("double").as("c2"))
    val vnorm = e.groupBy($"vec_id")
      .agg(sum(round($"v" * $"v", 9).cast(D)).cast("double").as("v2"))
    val dots = e.join(broadcast(cent), Seq("dim"))
      .groupBy($"vec_id", $"clabel")
      .agg(sum(round($"v" * $"c", 9).cast(D)).cast("double").as("dot"))
    val scored = dots.join(vnorm, Seq("vec_id"))
      .join(broadcast(cnorm), Seq("clabel"))
      .withColumn("cos", $"dot" / sqrt($"v2" * $"c2"))
    val pred = Windows.topNPerGroup(scored, Seq($"vec_id"),
        Seq($"cos".desc, $"clabel"), 1)
      .select($"vec_id", $"clabel".as("predicted"))
    emb.select($"vec_id", $"label").join(pred, Seq("vec_id"))
  }

  /** The checked read-through for the prediction store: load if the key
    * matches `emb`'s corpus/plan fingerprints and [[PredictionsAlgoVersion]];
    * else derive ([[centroidPredictions]]), publish atomically, and
    * return a READ of the published parquet. */
  def predictionsPersisted(emb: DataFrame, path: String): DataFrame = {
    val spark = emb.sparkSession
    StoreIO.readThrough(spark, path,
      StoreIO.key(emb, PredictionsAlgoVersion), "predictionsPersisted") { tmp =>
      predictionsComputeCount.incrementAndGet()
      // label/predicted keep the corpus's own label type (int for the
      // synthetic embeddings; a cast here would change the consumers'
      // surface schema)
      centroidPredictions(emb)
        .select($"vec_id".cast("long"), $"label", $"predicted")
        .write.mode("overwrite").parquet(s"$tmp/predictions")
      Nil
    } { _ => graft.Parquet.read(spark, s"$path/predictions") }
  }

  // ---- persisted quality-classifier score store (q79) -----------------

  /** Bump when [[qualityClassifier]]'s features, seed labels, training
    * loop, or the persisted schema change semantics — a bumped version
    * invalidates every published quality-score store. */
  val QualityScoresAlgoVersion = 1

  /** Count of actual train+score derivations (spec observability). */
  private[graft] val qualityScoresComputeCount =
    new java.util.concurrent.atomic.AtomicLong()

  /** The checked read-through for the quality-classifier score store:
    * load if the meta matches `df`'s corpus/plan fingerprints (the plan
    * fingerprint folds in the training hyperparameters) and
    * [[QualityScoresAlgoVersion]]; else train + score
    * ([[qualityClassifier]]), publish atomically, and return a READ of
    * the published parquet.
    *
    * Scale rationale: the trained weights
    * are a pure function of (corpus, hyperparams), so training-GD —
    * `iters` full passes over the sample — belongs in a
    * once-per-corpus-fingerprint derivation, not in every session's
    * first touch of the query; the steady state every consumer sees is
    * one parquet scan of (id, label, score, predicted). */
  def qualityScoresPersisted(df: DataFrame, idCol: String, textCol: String,
                             path: String, samplePermille: Int = 300,
                             iters: Int = 30, lr: Double = 2.0): DataFrame = {
    val spark = df.sparkSession
    StoreIO.readThrough(spark, path,
      StoreIO.key(df, QualityScoresAlgoVersion, "sample" -> samplePermille,
        "iters" -> iters, "lr" -> lr, "idCol" -> idCol, "textCol" -> textCol),
      "qualityScoresPersisted") { tmp =>
      qualityScoresComputeCount.incrementAndGet()
      // the RAW (unrounded) calibrated score: σ over literal weights is
      // bit-deterministic and doubles round-trip parquet exactly, so a
      // loaded table is indistinguishable from a fresh derivation and
      // consumers choose their own display rounding
      qualityClassifier(df, idCol, textCol, samplePermille, iters, lr)
        .select(col(idCol).cast("long"), col("label"), col("score"),
          col("predicted"))
        .write.mode("overwrite").parquet(s"$tmp/scores")
      Nil
    } { _ => graft.Parquet.read(spark, s"$path/scores") }
  }
}
