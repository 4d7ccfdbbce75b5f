package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Principal component analysis by DISTRIBUTED POWER ITERATION — the
  * real (cross-dimension) version of what [[Similarity.whitenDims]]'s
  * per-dim standardization approximates diagonally: the directions an
  * embedding-store team inspects for anisotropy (dominant directions
  * eat cosine contrast; the standard fix projects them off).
  *
  * Scale shape — "Spark as the parameter server", the
  * [[Classify.trainLogistic]] pattern:
  *
  *  - the driver holds ONLY d doubles per component (the direction);
  *    the d×d covariance matrix is NEVER materialized anywhere — each
  *    iteration computes the matrix-vector product C·v directly from
  *    data as one aggregation job:
  *      y_j = Σ_i s_i·x_ij − μ_j·Σ_i s_i   with  s_i = x_i·v − μ·v
  *    (s is a per-row codegen'd dot with v baked in as a literal; the
  *    per-dim sums ride one posexplode + dim-keyed partial aggregation,
  *    so the corpus never shuffles — only d-row partials do);
  *  - deflation for component p+1 is DRIVER-side arithmetic on the
  *    collected vector: C'v = Cv − Σ_q λ_q (v_q·v) v_q — no residual
  *    dataset is materialized;
  *  - all data-side sums ride `round(·, 9)` + decimal accumulation, so
  *    the result is bit-identical under any partitioning —
  *    golden-pinnable, like the trained logistic model.
  *
  * Sign convention: each component's largest-|loading| coordinate is
  * made positive (eigenvectors are sign-ambiguous; pinning one makes
  * the output deterministic).
  */
object Pca {

  /** Observable fit count — lets specs assert the persisted store's
    * derive-once contract ([[graft.ops.Dedup.clusterComputeCount]]'s
    * pattern). */
  private[graft] val fitCount =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Orthonormal components (rows, length d) with their sample-variance
    * eigenvalues (scatter eigenvalue / (n−1)) and the corpus mean. */
  final case class PcaModel(components: Array[Array[Double]],
                            eigenvalues: Array[Double], n: Long,
                            mean: Array[Double])

  /** Top-k principal components of `embCol` (array column, cast to
    * double). `iters` power iterations per component — convergence is
    * geometric in the eigengap; 12 suffices for well-separated spectra
    * and the result is deterministic regardless (same start, same
    * arithmetic). Memoized per (plan, k, iters): the bench's repeat
    * sweeps re-fit nothing, the production analogue of "train once,
    * probe everywhere" ([[Similarity.IvfIndex]]). */
  def topComponents(df: DataFrame, embCol: String, k: Int = 2,
                    iters: Int = 12, memo: Boolean = true): PcaModel = {
    require(k >= 1, s"k must be >= 1: $k")
    require(iters >= 1, s"iters must be >= 1: $iters")
    // key = full canonicalized plan + file-listing fingerprint (the
    // ivfCache discipline, Similarity.scala) — NOT the 32-bit
    // semanticHash, whose collisions would silently hand a model fitted
    // on a different frame to the caller; the fingerprint additionally
    // catches same-plan reads over rewritten parquet files
    val key = (df.queryExecution.analyzed.canonicalized,
      StoreIO.fileFingerprint(df), embCol, k, iters)
    if (modelMemo.size() > MemoMax) modelMemo.clear()
    if (memo) modelMemo.computeIfAbsent(key, _ => fit(df, embCol, k, iters))
    else fit(df, embCol, k, iters)
  }

  private def fit(df: DataFrame, embCol: String, k: Int,
                  iters: Int): PcaModel = {
    fitCount.incrementAndGet()
    val x = df.select(col(embCol).cast("array<double>").as("x"))
      .where(col("x").isNotNull)
    val e = x.select(posexplode($"x").as(Seq("dim", "v")))
    // mean vector + count: one dim-keyed aggregation, decimal-exact
    val meanRows = e.groupBy($"dim")
      .agg(sum(round($"v", 9).cast("decimal(28,12)")).cast("double").as("s"),
        count(lit(1)).as("n"))
      .collect()
    require(meanRows.nonEmpty, "PCA needs a non-empty embedding column")
    val d = meanRows.length
    val n = meanRows.head.getAs[Long]("n")
    val mu = new Array[Double](d)
    meanRows.foreach(r => mu(r.getAs[Int]("dim")) = r.getAs[Double]("s") / n)

    val comps = Array.ofDim[Double](k, d)
    val eigs = new Array[Double](k)
    for (c <- 0 until k) {
      var v = Similarity.hyperplanes(1, d, seed = 42L + c).head
      normalize(v)
      var lambda = 0.0
      for (_ <- 1 to iters) {
        val y = matVec(x, mu, v)
        // driver-side deflation by explicit Gram–Schmidt: project the
        // iterate off every found component. Unlike λ-weighted
        // subtraction, this keeps the OUTPUT orthonormal even when the
        // eigengap is near zero and `iters` can't converge the
        // direction (an isotropic corpus still yields an orthonormal
        // basis of the top subspace)
        for (q <- 0 until c) {
          val proj = dot(comps(q), y)
          for (j <- 0 until d) y(j) -= proj * comps(q)(j)
        }
        lambda = math.sqrt(dot(y, y))
        if (lambda > 0) { for (j <- 0 until d) y(j) /= lambda }
        v = y
      }
      // sign pin: largest-|loading| coordinate positive
      val m = (0 until d).maxBy(j => (math.abs(v(j)), -j))
      if (v(m) < 0) for (j <- 0 until d) v(j) = -v(j)
      comps(c) = v
      eigs(c) = lambda / math.max(n - 1, 1L)
    }
    PcaModel(comps, eigs, n, mu)
  }

  /** "All-but-the-top" anisotropy removal (Mu & Viswanath 2018, the
    * standard embedding post-process): center on the corpus mean and
    * project off the model's top components —
    * x′ = (x−μ) − Σ_q (v_q·(x−μ))·v_q (the components are orthonormal,
    * so the k projections are independent — no sequential deflation).
    * Dominant directions carry corpus-wide bias that eats cosine
    * contrast; removing them is what an embedding store does between
    * ingest and retrieval.
    *
    * Map-side only: μ, the components, AND their dim-major transpose
    * are baked in as literals (the [[Similarity.IvfIndex]] broadcast
    * pattern); the centered array and the k projection scalars
    * materialize as ONE intermediate projection so each is evaluated
    * once per row — an HOF lambda re-evaluates outer EXPRESSIONS per
    * element, so inlining the dot there would cost O(d²·k) per row
    * (measured 65 s vs 2 s at sf0.1). No shuffle, no second pass. */
  def removeTopComponents(df: DataFrame, embCol: String, outCol: String,
                          model: PcaModel): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val d = model.mean.length
    // dim-major transpose: vt(j) = the k components' loadings at dim j
    val vt = (0 until d).map(j => model.components.map(_(j)).toSeq)
    val centered = zip_with(col(embCol).cast("array<double>"),
      typedLit(model.mean.toSeq), (a, b) => a - b)
    // round-15: the k projections and the per-dim residual inner product
    // run through the native array_dot (whole-stage codegen) instead of
    // the interpreted aggregate(zip_with(...)) lambda chain — same left
    // fold bit-for-bit (ArrayDotProduct's pinned contract), ~d×k fewer
    // per-row lambda dispatches on the anisotropy hot path
    df.withColumn("__c", centered)
      .withColumn("__s", array(model.components.map(v =>
        Similarity.dot(col("__c"), typedLit(v.toSeq))): _*))
      .withColumn(outCol,
        zip_with(col("__c"), typedLit(vt),
          (cj, vtj) => cj - Similarity.dot(vtj, col("__s"))))
      .drop("__c", "__s")
  }

  /** One power step: y = Σ s·x − μ·(Σ s) with s = x·v − μ·v, as ONE
    * dim-keyed aggregation (Σ s falls out per dim for free — every row
    * contributes s to every dim). */
  private def matVec(x: DataFrame, mu: Array[Double],
                     v: Array[Double]): Array[Double] = {
    val muV = dot(mu, v)
    val s = Similarity.dotHof($"x", typedLit(v.toSeq)) - lit(muV)
    val rows = x.select($"x", s.as("s"))
      .select(posexplode($"x").as(Seq("dim", "xv")), $"s")
      .groupBy($"dim")
      .agg(sum(round($"s" * $"xv", 9).cast("decimal(28,12)"))
          .cast("double").as("sxv"),
        sum(round($"s", 9).cast("decimal(28,12)")).cast("double").as("ss"))
      .collect()
    val y = new Array[Double](mu.length)
    rows.foreach { r =>
      val j = r.getAs[Int]("dim")
      y(j) = r.getAs[Double]("sxv") - mu(j) * r.getAs[Double]("ss")
    }
    y
  }

  // ---- persisted model store ----------------------------------------
  //
  // The fit is a pure function of (corpus, embCol, k, iters) — 25
  // bounded aggregation jobs at k=2/iters=12, tens of seconds at sf1,
  // HOURS at 100 TB — and the model itself is a few KB of doubles. The
  // in-JVM memo (above) only helps the session that paid; the store is
  // the cross-JVM version: train ONCE, publish, and every later session,
  // cluster, or bench sweep loads the parquet instead of re-iterating.
  //
  // Layout under `path`:
  //   path/components — (component, loading array<double>, eigenvalue),
  //                     one row per component, order = component id
  //   path/meta       — the StoreIO key (embCol, k, iters in plan_fp)
  //                     + the model's `n` and `mean array<double>`
  // Doubles round-trip parquet losslessly, so a load returns the model
  // BIT-EXACTLY — loaded-vs-fitted outputs are hash-identical.

  /** Bumpable fit-algorithm version — part of the store staleness key
    * (see [[Kmeans.KmeansAlgoVersion]] for the rationale). */
  val PcaAlgoVersion = 1

  /** The checked read-through path: load the model published at `path`
    * if its key matches `df` and the parameters; else fit (via the
    * in-JVM memo), publish, and return the published model. A stale
    * store (corpus files rewritten, different input plan, or different
    * embCol/k/iters) is re-fitted and republished loudly, never silently
    * served. Component order is restored by id and validated loudly. */
  def topComponentsPersisted(df: DataFrame, embCol: String, k: Int,
                             iters: Int, path: String): PcaModel = {
    val spark = df.sparkSession
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    StoreIO.readThrough(spark, path,
      StoreIO.key(df, PcaAlgoVersion, "embCol" -> embCol, "k" -> k, "iters" -> iters),
      "topComponentsPersisted") { tmp =>
      val m = topComponents(df, embCol, k, iters)
      m.components.indices
        .map(c => (c, m.components(c).toSeq, m.eigenvalues(c)))
        .toDF("component", "loading", "eigenvalue")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/components")
      Seq(lit(m.n).as("n"), typedLit(m.mean.toSeq).as("mean"))
    } { meta =>
      val rows = graft.Parquet.read(spark, s"$path/components")
        .select(col("component").cast("int"), col("loading"),
          col("eigenvalue").cast("double"))
        .as[(Int, Seq[Double], Double)].collect().sortBy(_._1)
      require(rows.nonEmpty, s"no components at $path")
      require(rows.map(_._1).toSeq == rows.indices.toSeq,
        s"component ids at $path are not contiguous from 0 — corrupt model")
      PcaModel(rows.map(_._2.toArray), rows.map(_._3), meta.getAs[Long]("n"),
        meta.getAs[Seq[Double]]("mean").toArray)
    }
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def normalize(a: Array[Double]): Unit = {
    val nrm = math.sqrt(dot(a, a))
    if (nrm > 0) { var i = 0; while (i < a.length) { a(i) /= nrm; i += 1 } }
  }

  // never individually evicted; cleared wholesale past a small bound so a
  // long-lived driver doesn't accumulate plan trees (ivfCache precedent)
  private val MemoMax = 64
  private val modelMemo = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long, String,
      Int, Int), PcaModel]()
}
