package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means — the clustering step under IVF index
  * builds, SemDeDup cells, and topic-balanced sampling, expressed as
  * "Spark as the parameter server" ([[Classify.trainLogistic]] /
  * [[Pca.topComponents]]'s pattern): the driver holds only the k×d
  * centroid matrix; each Lloyd iteration is ONE aggregation job.
  *
  * Scale shape:
  *
  *  - ASSIGNMENT is a pure map-side projection: the centroids are baked
  *    into the plan as literals (the [[Similarity.IvfIndex]] broadcast
  *    pattern), each row scores k dots against its embedding and takes
  *    the argmin — O(k·d) per row fused into the scan, NO shuffle and
  *    no corpus-× -centroid join. The k scores materialize as one
  *    intermediate array projection so each is evaluated once per row
  *    (an HOF lambda re-evaluates captured expressions per element —
  *    [[Pca.removeTopComponents]]'s measured 40× lesson);
  *  - the UPDATE step aggregates `(cluster, dim) → Σx, n` over one
  *    posexplode with map-side partials — the only shuffled rows are
  *    k×d partials, and the only driver traffic is the k×d centroid
  *    frame per iteration;
  *  - seeding is deterministic WITHOUT a scan ordering: the k rows with
  *    the smallest seeded md5 of their id (a bounded
  *    TakeOrderedAndProject, never a sort of the corpus).
  *
  * Determinism: distances ride `round(·, 9)` before comparison, ties
  * break toward the lowest cluster index, and all update sums are
  * decimal-exact — assignments and centroids are bit-identical under
  * any partitioning, so the fit is golden-pinnable (no SQL oracle:
  * iterative fits have no SQL form — [[Pca]]/[[graft.ops.Bpe]]'s
  * precedent). Centroids round to 6 dp per iteration so the literal
  * plans stay engine-exact downstream.
  */
object Kmeans {

  /** Observable fit count — lets specs assert the persisted store's
    * derive-once contract ([[graft.ops.Dedup.clusterComputeCount]]'s
    * pattern). */
  private[graft] val fitCount =
    new java.util.concurrent.atomic.AtomicLong(0)

  private val D = "decimal(28,12)"

  /** Fitted model: `centroids(c)(j)` = cluster c's dim-j coordinate
    * (6 dp), `sizes(c)` = final assignment counts, `inertia` = Σ over
    * rows of the squared distance to the assigned centroid (9 dp sums). */
  final case class KmeansModel(centroids: Array[Array[Double]],
                               sizes: Array[Long], inertia: Double, n: Long)

  /** Fit k clusters with `iters` FULL Lloyd iterations (assignment +
    * centroid update each) over `embCol` (array column, cast to
    * double), then one extra assignment pass for sizes/inertia under
    * the final centroids — the textbook iteration count, not n−1.
    * Memoized per (plan, fingerprint, column, k, iters, seed) — the
    * bench's repeat sweeps re-fit nothing ("train once, probe
    * everywhere"). */
  def fit(df: DataFrame, embCol: String, idCol: String, k: Int,
          iters: Int = 8, seed: String = "kmeans",
          memo: Boolean = true): KmeansModel = {
    require(k >= 1, s"k must be >= 1: $k")
    require(iters >= 1, s"iters must be >= 1: $iters")
    // key = full canonicalized plan + file-listing fingerprint (the
    // ivfCache discipline) — NOT the 32-bit semanticHash, whose
    // collisions would silently hand a model fitted on a different
    // frame to the caller; the fingerprint additionally catches
    // same-plan reads over rewritten parquet files
    val key = (df.queryExecution.analyzed.canonicalized,
      StoreIO.fileFingerprint(df), embCol, idCol, k, iters, seed)
    if (modelMemo.size() > MemoMax) modelMemo.clear()
    if (memo) modelMemo.computeIfAbsent(key, _ =>
      run(df, embCol, idCol, k, iters, seed))
    else run(df, embCol, idCol, k, iters, seed)
  }

  private def run(df: DataFrame, embCol: String, idCol: String, k: Int,
                  iters: Int, seed: String): KmeansModel = {
    fitCount.incrementAndGet()
    val x = df.select(col(idCol).as("id"),
        col(embCol).cast("array<double>").as("x"))
      .where(col("x").isNotNull)
    // deterministic seeding: k corpus vectors in seeded-hash order of id
    // (TakeOrderedAndProject — per-partition heaps, k-row merge)
    val seeds = x.select($"x",
        md5(concat(lit(seed + " "), $"id".cast("string"))).as("hk"))
      .orderBy($"hk").limit(k).collect()
      .map(_.getAs[Seq[Double]]("x").toArray)
    require(seeds.length == k, s"corpus has fewer than k=$k rows")
    var cents = seeds.map(_.map(r6))

    // exactly `iters` full Lloyd iterations (assignment + centroid
    // update), then ONE separate stats pass under the final centroids —
    // so `iters = n` means n genuine updates, matching a reference Lloyd
    // implementation run for the same nominal count (through round 9 the
    // last iteration was repurposed for sizes/inertia, leaving n−1
    // updates: a documented-nowhere off-by-one vs any textbook run)
    for (_ <- 1 to iters) {
      // update: (cluster, dim)-keyed decimal sums, k×d rows back
      val rows = x.withColumn("c", assignExpr($"x", cents))
        .select($"c", posexplode($"x").as(Seq("dim", "v")))
        .groupBy($"c", $"dim")
        .agg(sum(round($"v", 9).cast(D)).cast("double").as("s"),
          count(lit(1)).as("cnt"))
        .collect()
      val next = cents.map(_.clone()) // empty cluster keeps its centroid
      rows.foreach { r =>
        next(r.getAs[Int]("c"))(r.getAs[Int]("dim")) =
          r6(r.getAs[Double]("s") / r.getAs[Long]("cnt"))
      }
      cents = next
    }
    // final pass: sizes + inertia under the FINAL centroids
    val stats = x.withColumn("c", assignExpr($"x", cents))
      .withColumn("d2", distExpr($"x", cents))
      .groupBy($"c")
      .agg(count(lit(1)).as("cnt"),
        sum(round($"d2", 9).cast(D)).cast("double").as("i"))
      .collect()
    val sizes = Array.fill(k)(0L)
    var inertia = 0.0
    stats.foreach { r =>
      val c = r.getAs[Int]("c")
      sizes(c) = r.getAs[Long]("cnt")
      inertia += r.getAs[Double]("i")
    }
    KmeansModel(cents, sizes, inertia, sizes.sum)
  }

  // ---- persisted model store ----------------------------------------
  //
  // The Lloyd fit is a pure function of (corpus, embCol, idCol, k,
  // iters, seed) — `iters`+2 aggregation jobs, each a full corpus scan:
  // seconds at sf1, HOURS at 100 TB — and the model is k×d doubles + k
  // longs: train ONCE per corpus, every later session/cluster loads.
  // Cluster ids are positional, so the store round-trips centroid ORDER
  // bit-exactly (a reordering load would silently re-label every
  // assignment).
  //
  // Layout under `path`:
  //   path/centroids — (cluster, centroid array<double>, size), one row
  //                    per cluster, order = cluster id
  //   path/meta      — the StoreIO key (embCol, idCol, k, iters, seed in
  //                    plan_fp) + the model's `inertia` and `n`

  /** Bumpable fit-algorithm version — part of the store staleness key,
    * so a semantics change to the fit (the round-10 Lloyd n-vs-n−1 fix
    * is the canonical example) invalidates pre-existing stores whose
    * fingerprints and params all still match. */
  val KmeansAlgoVersion = 1

  /** The checked read-through path: load the model published at `path`
    * if its key matches `df` and the parameters; else fit (via the
    * in-JVM memo), publish, and return the published model. A stale
    * store is re-fitted and republished loudly, never silently served.
    * Doubles round-trip parquet losslessly → loads are bit-exact. */
  def fitPersisted(df: DataFrame, embCol: String, idCol: String, k: Int,
                   iters: Int, seed: String, path: String): KmeansModel = {
    val spark = df.sparkSession
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    StoreIO.readThrough(spark, path,
      StoreIO.key(df, KmeansAlgoVersion, "embCol" -> embCol, "idCol" -> idCol,
        "k" -> k, "iters" -> iters, "seed" -> seed),
      "fitPersisted") { tmp =>
      val m = fit(df, embCol, idCol, k, iters, seed)
      m.centroids.indices
        .map(c => (c, m.centroids(c).toSeq, m.sizes(c)))
        .toDF("cluster", "centroid", "size")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/centroids")
      Seq(lit(m.inertia).as("inertia"), lit(m.n).as("n"))
    } { meta =>
      val rows = graft.Parquet.read(spark, s"$path/centroids")
        .select(col("cluster").cast("int"), col("centroid"),
          col("size").cast("long"))
        .as[(Int, Seq[Double], Long)].collect().sortBy(_._1)
      require(rows.nonEmpty, s"no centroids at $path")
      require(rows.map(_._1).toSeq == rows.indices.toSeq,
        s"cluster ids at $path are not contiguous from 0 — corrupt model")
      KmeansModel(rows.map(_._2.toArray), rows.map(_._3),
        meta.getAs[Double]("inertia"), meta.getAs[Long]("n"))
    }
  }

  /** Map-side cluster assignment for `emb` against literal centroids:
    * argmin over round(‖x−c‖², 9) with ties to the lowest cluster
    * index. The k distances materialize as ONE array projection. */
  def assignExpr(emb: Column, cents: Array[Array[Double]]): Column = {
    val d2s = array(cents.map(c => sqDist(emb, c)): _*)
    // array_position finds the FIRST occurrence → lowest-index tie-break
    (array_position(d2s, array_min(d2s)) - 1).cast("int")
  }

  /** round(‖x − assigned centroid‖², 9) for the inertia pass. */
  private def distExpr(emb: Column, cents: Array[Array[Double]]): Column =
    array_min(array(cents.map(c => sqDist(emb, c)): _*))

  private def sqDist(emb: Column, c: Array[Double]): Column =
    round(aggregate(zip_with(emb, array(c.map(lit): _*),
      (a, b) => (a - b) * (a - b)), lit(0.0), (acc, v) => acc + v), 9)

  /** Attach the model's assignment as `outCol` — a stateless projection
    * (scoring never re-fits; same contract as [[Classify.score]]). */
  def assign(df: DataFrame, embCol: String, outCol: String,
             model: KmeansModel): DataFrame =
    df.withColumn(outCol,
      assignExpr(col(embCol).cast("array<double>"), model.centroids))

  /** Assignment-confidence report — the cell-quality check an IVF index
    * or SemDeDup partition runs after a fit: per cluster, how many
    * members sit NEAR THE BOUNDARY to another cluster. A row's margin
    * is the distance gap √d₂ − √d₁ between its two nearest centroids
    * (a difference, not a ratio — defined even when a row coincides
    * with its centroid); margin < `ambThreshold` counts as ambiguous.
    * Output per cluster: members, ambiguous members, mean margin
    * (9 dp decimal-exact mean).
    *
    * Map-side except the final k-row rollup: the k distances, their
    * sort, and the margin are projections against literal centroids —
    * the same single-pass shape as [[assignExpr]]. */
  def marginReport(df: DataFrame, embCol: String, model: KmeansModel,
                   ambThreshold: Double): DataFrame = {
    require(model.centroids.length >= 2, "margin needs k >= 2")
    val emb = col(embCol).cast("array<double>")
    val scored = df
      .withColumn("__d2s", array(model.centroids.map(c =>
        sqDist(emb, c)): _*))
      .withColumn("__srt", array_sort($"__d2s"))
      .select(
        (array_position($"__d2s", element_at($"__srt", 1)) - 1)
          .cast("int").as("cluster"),
        round(sqrt(element_at($"__srt", 2)) -
          sqrt(element_at($"__srt", 1)), 9).as("margin"))
    scored.groupBy($"cluster")
      .agg(count(lit(1)).cast("long").as("n_members"),
        sum(when($"margin" < ambThreshold, 1L).otherwise(0L))
          .cast("long").as("n_ambiguous"),
        round(sum($"margin".cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 9).as("mean_margin"))
  }

  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // never individually evicted; cleared wholesale past a small bound so a
  // long-lived driver doesn't accumulate plan trees (ivfCache precedent)
  private val MemoMax = 64
  private val modelMemo = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long, String,
      String, Int, Int, String), KmeansModel]()
}
