package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - brute-force cosine top-k — the exact baseline. The query set is
  *    broadcast (it is small by construction); candidates stream through
  *    map-side, so the only shuffle is the final per-query top-k. At
  *    100 TB of candidates this is a single scan.
  *  - random-hyperplane LSH — the scale path: 2^h sign-buckets; queries
  *    and candidates join on bucket id, exact cosine re-ranks within the
  *    bucket. Trades recall for a bucket-bounded join.
  *
  * Dot products use `zip_with`+`aggregate` higher-order functions
  * (codegen'd, no UDF) over double-cast arrays.
  */
object Similarity {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact corpus row count WITHOUT a Spark job where the plan allows it:
    * when `df` is a row-count-preserving pipeline (projections /
    * repartitions / aliases only) over exactly one parquet relation, the
    * count is the sum of the parquet FOOTER record counts — the same
    * number `df.count()` computes by scheduling a cluster job over every
    * row group. The ANN parameter derivations below need |corpus| before
    * they can build a plan; at 100 TB that must be a metadata read (what
    * a real catalog's table statistics provide), not a pre-pass over the
    * data. Falls back to `df.count()` for any shape it cannot prove
    * (filters, joins, non-parquet, multi-relation) — never an estimate:
    * the derived parameters feed golden-pinned values, so the count must
    * be bit-identical to the job's. Round-15 measurement: removes one
    * 0.2–0.8 s job from every banded-LSH / scaled-IVF query at sf0.1. */
  def corpusCount(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    def preserving(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation                  => true
      case pr: Project                         => preserving(pr.child)
      case a: SubqueryAlias                    => preserving(a.child)
      case r: RepartitionOperation             => preserving(r.child)
      case _                                   => false
    }
    val plan = df.queryExecution.analyzed
    if (!preserving(plan)) return df.count()
    plan.collect { case lr: LogicalRelation => lr } match {
      case Seq(lr) => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          fs.location match {
            case loc: PartitioningAwareFileIndex =>
              val conf = df.sparkSession.sessionState.newHadoopConf()
              try loc.allFiles().map { f =>
                val in = org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromPath(f.getPath, conf)
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                try r.getRecordCount finally r.close()
              }.sum
              catch { case scala.util.control.NonFatal(e) =>
                log.warn(s"corpusCount: footer read failed (${e.getMessage}); " +
                  "falling back to a count job")
                df.count()
              }
            case _ => df.count()
          }
        case _ => df.count()
      }
      case _ => df.count()
    }
  }

  /** Dot product of two array<double> columns via the library's native
    * codegen'd expression (graft.functions.ArrayDotProduct) — requires
    * [[graft.functions.GraftFunctions.register]] on the session, which
    * every DataFrame entry point below performs. Same left-fold result as
    * [[dotHof]]. */
  def dot(a: Column, b: Column): Column = call_function("array_dot", a, b)

  /** Built-ins-only fallback: higher-order-function fold (allocates an
    * intermediate array and dispatches a lambda per element — kept for
    * cross-checking the native expression). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Project an embedding table to (id, double-cast embedding, norm).
    * The vector-math entry point, so it opts into the per-row-compute
    * fan-out ([[FanOut.perRowCompute]]): everything downstream of a
    * prepared frame is dot products over the whole corpus, which a
    * single-row-group fixture layout would otherwise pin to 1–2 cores. */
  def prepared(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val emb = col(embCol).cast("array<double>")
    FanOut.perRowCompute(df, idCol)
      .select(col(idCol).as("id"), emb.as("emb"), l2Norm(emb).as("norm"))
  }

  /** Shared re-rank tail: score each (query, candidate) pair by cosine and
    * keep the per-query top-k with a deterministic tie-break. */
  private def rerank(joined: DataFrame, k: Int): DataFrame = {
    val scored = joined.withColumn("cosine",
      cosine($"q_emb", $"c_emb", $"q_norm", $"c_norm"))
    Windows.topNPerGroup(scored, Seq($"query_id"), Seq($"cosine".desc, $"neighbor_id"), k)
      .select($"query_id", $"neighbor_id", $"cosine", $"rn".as("rank"))
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * candidates (excluding itself). Queries are broadcast; the join is a
    * BroadcastNestedLoopJoin over the candidate scan, then a per-query
    * top-k window. */
  def knnBruteForce(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select($"id".as("query_id"), $"emb".as("q_emb"), $"norm".as("q_norm"))
    val c = candidates.select($"id".as("neighbor_id"), $"emb".as("c_emb"), $"norm".as("c_norm"))
    rerank(c.join(broadcast(q), $"query_id" =!= $"neighbor_id"), k)
  }

  /** Mutual top-1 neighbor pairs — the bitext/duplicate-mining filter:
    * a pair survives only if each vector is the OTHER's nearest
    * neighbor, which strips the hub-dominated false matches a one-sided
    * top-1 keeps (the standard margin trick's hard form). Output
    * `(id_a, id_b, cosine)` with `id_a < id_b`, cosine rounded to 6 dp.
    *
    * The exact all-vs-all top-1 here is for evaluation-sized inputs
    * (the caller bounds `vecs`); at corpus scale generate candidates
    * with [[knnIvf]]/[[knnLsh]] and apply the SAME mutual join — the
    * filter is one self-equi-join on the (query, neighbor) pair either
    * way, never a second scan. */
  /** Hard-negative mining — the contrastive-training data step: for each
    * query vector, the `k` most-similar candidates whose label DIFFERS
    * from the query's (the near-miss negatives that make an embedding
    * model actually learn a boundary; easy random negatives teach
    * nothing). `labels` is `(id, label)`.
    *
    * Exact brute-force over an evaluation/batch-sized query slice
    * (queries + their labels broadcast; the label-exclusion predicate
    * rides the same broadcast join, so same-label pairs are never
    * scored). At corpus scale, generate candidates with
    * [[knnIvf]]/[[knnLsh]] and apply the same label anti-filter before
    * the re-rank — the shape mirrors [[knnBruteForce]] vs its ANN paths.
    * Output: `(query_id, neighbor_id, sim (6 dp), rnk, n_label)`. */
  def hardNegatives(queries: DataFrame, candidates: DataFrame,
                    labels: DataFrame, k: Int): DataFrame = {
    val lab = labels.select(col("id"), col("label"))
    val q = queries
      .select($"id".as("query_id"), $"emb".as("q_emb"), $"norm".as("q_norm"))
      .join(lab.select($"id".as("query_id"), $"label".as("q_label")),
        Seq("query_id"))
    val c = candidates
      .select($"id".as("neighbor_id"), $"emb".as("c_emb"), $"norm".as("c_norm"))
      .join(lab.select($"id".as("neighbor_id"), $"label".as("n_label")),
        Seq("neighbor_id"))
    val scored = c.join(broadcast(q),
        $"query_id" =!= $"neighbor_id" && $"q_label" =!= $"n_label")
      .withColumn("sim", cosine($"q_emb", $"c_emb", $"q_norm", $"c_norm"))
    Windows.topNPerGroup(scored, Seq($"query_id"),
        Seq($"sim".desc, $"neighbor_id"), k)
      .select($"query_id", $"neighbor_id", round($"sim", 6).as("sim"),
        $"rn".as("rnk"), $"n_label")
  }

  /** Contrastive (anchor, positive, hard-negative) triplet mining — the
    * training-data artifact a contrastive embedding run consumes: per
    * query, the most-similar SAME-label vector (hardest positive to
    * hold on to is not wanted — the closest one anchors the pair) and
    * the most-similar DIFFERENT-label vector ([[hardNegatives]]'
    * near-miss), plus the margin between them. A query whose label has
    * no other member yields null pos columns (visible, not dropped).
    *
    * ONE broadcast-join scoring pass feeds both sides: the
    * (query, is-positive) window ranks positives and negatives in the
    * same shuffle, then a query-keyed pivot folds the two rank-1 rows
    * into one triplet row. Same eval-slice posture as [[hardNegatives]];
    * at corpus scale feed IVF/LSH candidates through the identical
    * window+pivot. Output: `(query_id, pos_id, pos_sim, neg_id,
    * neg_sim, margin)`, sims 6 dp. */
  def contrastiveTriplets(queries: DataFrame, candidates: DataFrame,
                          labels: DataFrame): DataFrame = {
    val lab = labels.select(col("id"), col("label"))
    val q = queries
      .select($"id".as("query_id"), $"emb".as("q_emb"), $"norm".as("q_norm"))
      .join(lab.select($"id".as("query_id"), $"label".as("q_label")),
        Seq("query_id"))
    val c = candidates
      .select($"id".as("neighbor_id"), $"emb".as("c_emb"), $"norm".as("c_norm"))
      .join(lab.select($"id".as("neighbor_id"), $"label".as("n_label")),
        Seq("neighbor_id"))
    val scored = c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .withColumn("sim", cosine($"q_emb", $"c_emb", $"q_norm", $"c_norm"))
      .withColumn("is_pos", $"q_label" === $"n_label")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id", $"is_pos")
      .orderBy($"sim".desc, $"neighbor_id")
    scored.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .groupBy($"query_id")
      .agg(
        max(when($"is_pos", $"neighbor_id")).as("pos_id"),
        max(when($"is_pos", round($"sim", 6))).as("pos_sim"),
        max(when(!$"is_pos", $"neighbor_id")).as("neg_id"),
        max(when(!$"is_pos", round($"sim", 6))).as("neg_sim"))
      .withColumn("margin", round($"pos_sim" - $"neg_sim", 6))
  }

  def mutualTopOnePairs(vecs: DataFrame): DataFrame = {
    val t1 = knnBruteForce(vecs, vecs, 1)
      .select($"query_id", $"neighbor_id", $"cosine")
    val rev = t1.select($"query_id".as("neighbor_id"),
      $"neighbor_id".as("query_id"))
    t1.join(rev, Seq("query_id", "neighbor_id"))
      .where($"query_id" < $"neighbor_id")
      .select($"query_id".as("id_a"), $"neighbor_id".as("id_b"),
        round($"cosine", 6).as("cosine"))
  }

  /** Deterministic pseudo-random hyperplanes: `h` × `dim` doubles in
    * [-0.5, 0.5), derived from a seeded xorshift so runs are reproducible
    * with no RNG state. */
  def hyperplanes(h: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    var s = seed
    def next(): Double = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Array.fill(h, dim)(next())
  }

  /** Sign-bucket code: bit i = (emb · plane_i > 0). */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dot(emb, typedLit(p.toSeq)) > 0.0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Embedding dimensionality, read from the data at plan-build time (one
    * bounded `first()` — the alternative, a hard-coded dim, silently
    * bucketed wider embeddings on their first components only because the
    * dot product zips to the shorter array). Empty input → 1 (any planes
    * work; every downstream result is empty anyway). */
  private def embDim(df: DataFrame): Int =
    df.select(size($"emb")).limit(1).collect().headOption.map(_.getInt(0)).getOrElse(1)

  /** Approximate top-k: candidates considered only within the query's LSH
    * bucket, exact cosine re-rank inside. Recall < 1 by design; `h`
    * controls the bucket granularity (2^h buckets). Hyperplane
    * dimensionality is inferred from the candidate embeddings. */
  def knnLsh(queries: DataFrame, candidates: DataFrame, k: Int, h: Int = 8): DataFrame = {
    val dim = embDim(candidates)
    val planes = hyperplanes(h, dim)
    val q = queries.select($"id".as("query_id"), $"emb".as("q_emb"), $"norm".as("q_norm"),
      lshBucket($"emb", planes).as("bucket"))
    val c = candidates.select($"id".as("neighbor_id"), $"emb".as("c_emb"), $"norm".as("c_norm"),
      lshBucket($"emb", planes).as("bucket"))
    rerank(c.join(broadcast(q), Seq("bucket")).where($"query_id" =!= $"neighbor_id"), k)
  }

  /** Multi-probe LSH kNN — the recall/cost knob single-bucket LSH
    * ([[knnLsh]]) lacks: each query probes its own sign-bucket PLUS
    * every bucket at Hamming distance 1 (flip one of the `h` bits), so
    * a near neighbor that landed just across one hyperplane is still
    * found. Candidate volume grows ~(h+1)× per query while the
    * candidate CORPUS side is untouched — the standard way to buy
    * recall without adding hash tables or re-bucketing the corpus.
    *
    * Shape: the probe expansion is a query-side explode of h+1 literal
    * XORs (queries are the small side and stay broadcast); each
    * (query, candidate) pair arises in at most one probe bucket (a
    * candidate has ONE bucket), so no dedup pass is needed before the
    * shared rerank. */
  def knnLshMultiProbe(queries: DataFrame, candidates: DataFrame, k: Int,
                       h: Int = 8): DataFrame = {
    val dim = embDim(candidates)
    val planes = hyperplanes(h, dim)
    val q = queries.select($"id".as("query_id"), $"emb".as("q_emb"),
        $"norm".as("q_norm"), lshBucket($"emb", planes).as("__b"))
      .withColumn("bucket", explode(array(
        ($"__b" +: (0 until h).map(i => $"__b".bitwiseXOR(lit(1L << i)))): _*)))
      .drop("__b")
    val c = candidates.select($"id".as("neighbor_id"), $"emb".as("c_emb"),
      $"norm".as("c_norm"), lshBucket($"emb", planes).as("bucket"))
    rerank(c.join(broadcast(q), Seq("bucket"))
      .where($"query_id" =!= $"neighbor_id"), k)
  }

  // ------------------------------------------------- corpus-scaled ANN
  //
  // Round-14 scale evidence (perf/golden_sf1_checks.json): FIXED ANN
  // parameters collapse recall as the corpus grows — single-table LSH
  // at h=8 read recall 0.060 on a corpus 16× the fixture, and the
  // fixed-bucket near-dup pass found 7 of 58 true pairs. The parameters
  // below therefore DERIVE from corpus statistics:
  //
  //  - banded sign-LSH (the classic r-rows × L-tables scheme): `rows`
  //    bounds per-table bucket occupancy (rows ≈ log2(N / targetBucket),
  //    so per-table candidate volume stays ~targetBucket per query at
  //    ANY corpus size), and `tables` comes from the collision model —
  //    a pair agreeing per-hyperplane with probability p survives some
  //    band with prob 1-(1-p^rows)^tables, so tables =
  //    ln(1-targetRecall)/ln(1-p^rows). p is EXACT when a cosine
  //    threshold is given (p = 1 - arccos(θ)/π, Goemans–Williamson) and
  //    estimated from a bounded deterministic sample for kNN (the
  //    sample's kth-NN cosine UNDERestimates the full corpus's — more
  //    candidates ⇒ nearer neighbors — so the estimate errs toward MORE
  //    tables, never silently less recall).
  //  - IVF: nCells ∝ √N (the FAISS sizing rule — cells of ~√N rows
  //    balance quantizer cost against in-cell scan cost), nProbe holds
  //    a probe FRACTION rather than a count, so growing the corpus
  //    grows probed cells with it instead of silently under-probing.
  //
  // A corpus can still demand more tables than the cost cap allows
  // (e.g. near-random embeddings, where p barely clears the 0.5 of a
  // random pair); that is LSH's fundamental limit, and it is surfaced —
  // the derivation logs the clamp — never silently absorbed.

  /** Banded sign-LSH parameters: `rows` hyperplanes per band × `tables`
    * bands. See the derivation note above. */
  final case class BandedLsh(rows: Int, tables: Int, pHat: Double, n: Long) {
    def totalPlanes: Int = rows * tables
    /** Collision-model recall at agreement probability `p`. */
    def expectedRecall(p: Double): Double =
      1.0 - math.pow(1.0 - math.pow(p, rows), tables)
  }

  /** Derive banded-LSH parameters from corpus size and the per-plane
    * agreement probability of the pairs that must be found. */
  def bandedParams(n: Long, pHat: Double, targetRecall: Double,
                   maxTables: Int = 64, targetBucket: Long = 64): BandedLsh = {
    require(targetRecall > 0 && targetRecall < 1, s"targetRecall in (0,1): $targetRecall")
    require(pHat > 0 && pHat < 1, s"pHat in (0,1): $pHat")
    val rows = math.max(2, math.min(24,
      (math.log(math.max(2.0, n.toDouble / targetBucket)) / math.log(2.0)).floor.toInt))
    val pr = math.pow(pHat, rows)
    val need = math.ceil(math.log1p(-targetRecall) / math.log1p(-pr)).toInt
    if (need > maxTables)
      log.warn(s"bandedParams: corpus (n=$n, pHat=$pHat) demands $need tables " +
        s"for recall $targetRecall at rows=$rows; clamped to $maxTables " +
        f"(expected recall ${BandedLsh(rows, maxTables, pHat, n).expectedRecall(pHat)}%.3f) — " +
        "near-random embeddings are past sign-LSH's useful regime; consider IVF")
    BandedLsh(rows, math.max(1, math.min(maxTables, need)), pHat, n)
  }

  /** Per-plane agreement probability for pairs at cosine ≥ θ (exact:
    * sign-LSH collision probability, Goemans–Williamson). */
  def agreementP(minCosine: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, minCosine))) / math.Pi

  /** Bounded deterministic unit-vector sample (hash-of-id order — the
    * same reproducible sample discipline as [[buildIvfIndex]]). */
  private def unitSample(candidates: DataFrame, cap: Int): Array[Array[Double]] =
    candidates
      .select(transform($"emb", (x: Column) => x / $"norm").as("u"),
        xxhash64($"id").as("hk"))
      .orderBy($"hk").limit(cap)
      .select($"u").collect().map(_.getSeq[Double](0).toArray)

  /** Estimate the per-plane agreement probability of a query's k-th
    * nearest neighbor from a bounded deterministic sample: each sample
    * point's k-th-NN cosine WITHIN the sample, taken at a LOW percentile
    * across points (q10). Bias audit, both directions: the sample's
    * kth-NN is FARTHER than the corpus's (fewer candidates) and q10 is
    * below the typical query — both err toward a smaller p̂, hence MORE
    * tables, never fewer. Memoized per (plan, files, k). */
  private val pHatCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long, Int), java.lang.Double]()
  def estimatedNeighborP(candidates: DataFrame, k: Int,
                         sampleCap: Int = 512): Double = {
    val key = (candidates.queryExecution.analyzed.canonicalized,
      StoreIO.fileFingerprint(candidates), k)
    if (pHatCache.size() > IvfCacheMax) pHatCache.clear()
    pHatCache.computeIfAbsent(key, _ => {
      val s = unitSample(candidates, sampleCap)
      require(s.length > k, s"need > $k sample vectors, got ${s.length}")
      val kth = s.indices.map { i =>
        val cos = new Array[Double](s.length - 1)
        var w = 0
        for (j <- s.indices if j != i) {
          var d = 0.0; var t = 0
          val a = s(i); val b = s(j)
          while (t < a.length && t < b.length) { d += a(t) * b(t); t += 1 }
          cos(w) = d; w += 1
        }
        java.util.Arrays.sort(cos)
        cos(cos.length - k) // k-th largest
      }.sorted
      val q10 = kth(math.max(0, (kth.length / 10) - 1))
      math.max(0.51, math.min(0.99, agreementP(q10)))
    }).doubleValue()
  }

  /** Per-table bucket-id array for banded LSH: one `rows`-bit sign
    * bucket per table, all tables' planes drawn from one seeded stream.
    * Native expression ([[graft.functions.LshBuckets]]) — the composed
    * rows×tables dot-product tree's PLAN COMPILATION dominated the query
    * at the corpus-scaled table counts (measured 7–15 s per call at
    * r6×L30); the native form is one memoized plane matrix and one
    * primitive loop per row. The composed form below is spec-pinned
    * bit-equal (LshBucketsSpec). */
  private def bandedBuckets(emb: Column, prm: BandedLsh): Column =
    call_function("lsh_buckets", emb, lit(prm.rows), lit(prm.tables))

  /** The composed (built-ins + hyperplane literals) formulation — kept
    * as the cross-check path for the native expression. */
  private[graft] def bandedBucketsComposed(emb: Column, prm: BandedLsh, dim: Int): Column = {
    val planes = hyperplanes(prm.totalPlanes, dim)
    array((0 until prm.tables).map { t =>
      val bits = (0 until prm.rows).map { i =>
        when(dot(emb, typedLit(planes(t * prm.rows + i).toSeq)) > 0.0,
          lit(1L << i)).otherwise(lit(0L))
      }
      bits.reduce(_ + _)
    }: _*)
  }

  /** Banded (multi-table) LSH kNN — [[knnLsh]]'s corpus-scaled form:
    * parameters derive from N and the sampled neighbor-angle structure
    * so recall holds as the corpus grows (the round-14 finding: fixed
    * h=8 single-table recall fell 16× over one corpus decade). The
    * candidate side explodes ×tables on the (table, bucket) key — the
    * materialized form of an LSH index's L hash tables; per-query probe
    * volume stays ~tables × targetBucket at any corpus size. Every
    * (query, candidate) pair is deduped before the shared exact-cosine
    * re-rank, so reported values are exact regardless of how many
    * tables a pair collides in. */
  def knnLshBanded(queries: DataFrame, candidates: DataFrame, k: Int,
                   targetRecall: Double = 0.7, maxTables: Int = 64): DataFrame = {
    val n = corpusCount(candidates)
    val prm = bandedParams(n, estimatedNeighborP(candidates, k), targetRecall, maxTables)
    // Round-16 (guide §8: decide with small rows, move big rows once).
    // The ×tables explode and the pair dedup used to CARRY both sides'
    // embeddings: every corpus row was copied `tables` times with its
    // k-long array, and each collision pushed ~2 embeddings through the
    // dedup exchange, only for most copies to be discarded as duplicate
    // pairs. The probe/dedup pipeline now runs on BARE IDS (the bucket
    // ids and the pair set fully determine the result); embeddings
    // re-attach to the DEDUPLICATED pairs — queries by their existing
    // broadcast, candidates via a broadcast of the per-query-bounded
    // pair set onto a second corpus scan (a columnar scan costs far less
    // than an exploded payload shuffle). Pair set, cosines, and the
    // re-rank tie-break are unchanged — bit-identical output.
    val qk = queries.select($"id".as("query_id"),
      posexplode(bandedBuckets($"emb", prm)).as(Seq("tbl", "bucket")))
    val ck = candidates.select($"id".as("neighbor_id"),
      posexplode(bandedBuckets($"emb", prm)).as(Seq("tbl", "bucket")))
    val pairs = ck.join(broadcast(qk), Seq("tbl", "bucket"))
      .where($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    val scored = candidates
      .select($"id".as("neighbor_id"), $"emb".as("c_emb"), $"norm".as("c_norm"))
      .join(broadcast(pairs), Seq("neighbor_id"))
      .join(broadcast(queries.select($"id".as("query_id"), $"emb".as("q_emb"),
        $"norm".as("q_norm"))), Seq("query_id"))
    rerank(scored, k)
  }

  /** Corpus-scaled IVF parameters: nCells = the power of two nearest
    * √N (clamped [8, 65536] — the FAISS cell-sizing rule), nProbe = the
    * probe FRACTION of cells (≥1). Holding a fraction rather than a
    * count is what keeps recall stable across corpus decades: the
    * round-14 gate measured fixed nProbe=4/nCells=16 falling from
    * recall 0.62 at sf0.01 to 0.40 at sf1 purely because the corpus
    * outgrew the probe. On a weakly-clustered corpus recall ≈ slightly
    * above the probe fraction (the quantizer buys little); on a
    * clustered one it is far above. The fraction default (0.35) was
    * measured to hold recall ≥ 0.5 on the synthetic near-random corpus
    * at every shipped scale — a REAL corpus with cluster structure
    * holds it with a much smaller fraction. */
  def ivfScaledParams(n: Long, probeFraction: Double = 0.35): (Int, Int) = {
    require(n > 0, "empty candidate set")
    val cells = math.max(8, math.min(1 << 16,
      1 << math.round(math.log(math.sqrt(n.toDouble)) / math.log(2.0)).toInt))
    val probe = math.max(1, math.ceil(cells * probeFraction).toInt)
    (cells, probe)
  }

  /** A trained IVF coarse quantizer: unit-sphere centroids held as
    * driver-side constants, baked into plans as literals (the 100 TB
    * shape — an index is trained once, then broadcast into every probe
    * plan; it is never recomputed in a query's hot path).
    *
    * `corpusFp` is the fingerprint of the corpus the index was trained
    * for (see `StoreIO.fileFingerprint`): None for ad-hoc/in-memory training,
    * set by [[knnIvfPersisted]] before publishing so ANY later loader
    * can detect that the files behind the corpus were rewritten since
    * training — staleness detection at the index layer, not a
    * per-caller convention. */
  final case class IvfIndex(centroids: Array[Array[Double]],
                            corpusFp: Option[Long] = None) {
    def nCells: Int = centroids.length
    /** (centroid, ‖centroid‖²) pairs for plan literals. */
    private[ops] def centroidStructs: Seq[(Seq[Double], Double)] =
      centroids.toSeq.map(c => (c.toSeq, c.map(x => x * x).sum))
  }

  /** Persist a trained index: one parquet row per centroid, ordered by
    * cell id, each carrying the index's corpus fingerprint (nullable —
    * absent for ad-hoc indexes and for indexes saved before the
    * fingerprint scheme). The index is a few KB, but saving it matters
    * operationally at scale — the quantizer is trained ONCE (one bounded
    * sample job) and then shared across every job, session, and cluster
    * that probes the same corpus; without persistence each JVM re-trains
    * into its own memo. Cell ids are positional, so save/load must
    * round-trip the centroid ORDER bit-exactly — an index that reorders
    * cells would silently re-assign every stored/probed cell id. */
  def saveIvfIndex(index: IvfIndex, spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit = {
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq, index.corpusFp) }.toSeq
      .toDF("cell", "centroid", "corpus_fp")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted index; inverse of [[saveIvfIndex]] (bit-exact:
    * doubles round-trip parquet losslessly, order restored by cell id).
    * Pre-fingerprint index files (no `corpus_fp` column) load with
    * `corpusFp = None` — valid, but not staleness-checkable. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    val raw = graft.Parquet.read(spark, path)
    val withFp =
      if (raw.columns.contains("corpus_fp")) raw
      else raw.withColumn("corpus_fp", lit(null).cast("bigint"))
    val rows = withFp
      .select(col("cell").cast("int"), col("centroid"), col("corpus_fp"))
      .as[(Int, Seq[Double], Option[Long])].collect().sortBy(_._1)
    require(rows.nonEmpty, s"no centroids at $path")
    require(rows.map(_._1).toSeq == rows.indices.toSeq,
      s"cell ids at $path are not contiguous from 0 — corrupt index")
    IvfIndex(rows.map(_._2.toArray), rows.head._3)
  }

  /** Train an IVF coarse quantizer ONCE: k-means over a bounded,
    * deterministic sample of unit-normalized candidate vectors, run
    * driver-side (Lloyd's on ≤ `sampleCap` points is microseconds —
    * FAISS trains IVF quantizers on a bounded sample regardless of corpus
    * size for the same reason). The sample is the `sampleCap` lowest rows
    * by hash of id: Spark plans TakeOrderedAndProject (per-partition
    * partial top-k, no full sort), the hash order is corpus-wide
    * pseudo-random, and the result is independent of partitioning — so
    * the index is reproducible at any scale. Euclidean k-means on the
    * unit sphere partitions by cosine (‖a−b‖² = 2 − 2·cos on unit
    * vectors), the metric the probe re-ranks with. */
  def buildIvfIndex(candidates: DataFrame, nCells: Int,
                    sampleCap: Int = 4096, maxIter: Int = 10): IvfIndex = {
    val sample = candidates
      .select(transform($"emb", (x: Column) => x / $"norm").as("u"),
        xxhash64($"id").as("hk"))
      .orderBy($"hk").limit(sampleCap)
      .select($"u").collect().map(_.getSeq[Double](0).toArray)
    IvfIndex(lloyd(sample, nCells, maxIter))
  }

  /** Plain Lloyd's iterations, deterministic: init = first k distinct
    * points in (hash-ordered) sample order; empty clusters keep their
    * previous centroid. */
  private def lloyd(points: Array[Array[Double]], k: Int, maxIter: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "cannot train an IVF index on an empty candidate set")
    val init = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    for (p <- points if init.size < k && !init.exists(_.sameElements(p))) init += p
    var centroids = init.toArray
    def nearest(p: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      for (i <- centroids.indices) {
        var d = 0.0; var j = 0
        while (j < p.length && j < centroids(i).length) {
          val diff = p(j) - centroids(i)(j); d += diff * diff; j += 1
        }
        if (d < bestD) { bestD = d; best = i }
      }
      best
    }
    for (_ <- 0 until maxIter) {
      val sums = Array.fill(centroids.length)(new Array[Double](points.head.length))
      val counts = new Array[Long](centroids.length)
      for (p <- points) {
        val c = nearest(p); counts(c) += 1
        var j = 0; while (j < p.length) { sums(c)(j) += p(j); j += 1 }
      }
      centroids = centroids.indices.map { i =>
        if (counts(i) == 0) centroids(i)
        else sums(i).map(_ / counts(i))
      }.toArray
    }
    centroids
  }

  /** Add the IVF cell id to a prepared embedding frame: argmin over the
    * trained centroids of ‖c‖² − 2·û·c (û unit-normalized, ‖û‖² constant),
    * first-min tie-break. Native expression
    * ([[graft.functions.IvfAssign]] — centroids as expression data, one
    * primitive loop per row): the composed per-centroid literal tree's
    * plan compilation dominated the probe queries at the corpus-scaled
    * cell counts (the lsh_buckets disease). Cell assignment at 100 TB is
    * one map-side scan, no ML pipeline in the plan. Bit-equal to
    * [[assignCellsComposed]] (IvfOpsSpec). */
  def assignCells(df: DataFrame, index: IvfIndex): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("cell", call_function("ivf_assign", $"emb", $"norm",
      typedLit(index.centroids.toSeq.map(_.toSeq))))
  }

  /** The composed (per-centroid literal subtree) formulation — kept as
    * the cross-check path for the native expression. */
  private[graft] def assignCellsComposed(df: DataFrame, index: IvfIndex): DataFrame = {
    val withU = df.withColumn("u", transform($"emb", (x: Column) => x / $"norm"))
    val dists = array(index.centroidStructs.map { case (c, n2) =>
      lit(n2) - lit(2.0) * dot($"u", typedLit(c))
    }: _*)
    withU.withColumn("cell", (array_position(dists, array_min(dists)) - 1).cast("int"))
      .drop("u")
  }

  /** Probe a trained IVF index: each query ranks the centroid literals,
    * keeps its `nProbe` nearest cells, and exact-cosine re-ranks only the
    * candidates assigned to those cells. The probed side (queries ×
    * nProbe rows) is broadcast: 'cell' has only nCells distinct values,
    * so a shuffled join would hash the entire candidate table into
    * ≤ nCells reducers. */
  def probeIvf(index: IvfIndex, queries: DataFrame, candidates: DataFrame,
               k: Int, nProbe: Int): DataFrame = {
    val assigned = assignCells(candidates, index)
      .select($"id".as("neighbor_id"), $"emb".as("c_emb"), $"norm".as("c_norm"), $"cell")
    val centers = typedLit(index.centroidStructs)
    val probed = Windows.topNPerGroup(
        queries.select($"id".as("query_id"), $"emb".as("q_emb"), $"norm".as("q_norm"))
          .select($"*", posexplode(centers).as(Seq("cell", "centroid")))
          .withColumn("dist_rank",
            $"centroid._2" - lit(2.0) * dot(transform($"q_emb", (x: Column) => x / $"q_norm"),
              $"centroid._1")),
        Seq($"query_id"), Seq($"dist_rank".asc, $"cell"), nProbe)
      .select($"query_id", $"q_emb", $"q_norm", $"cell")
    rerank(assigned.join(broadcast(probed), Seq("cell"))
      .where($"query_id" =!= $"neighbor_id"), k)
  }

  // ------------------------------------------------------------- IVF-PQ

  /** A trained product quantizer: `m` sub-space codebooks over the
    * unit-normalized embedding, each with (up to) `kSub` centroids of
    * dimension dim/m. Sub-spaces may hold FEWER than `kSub` centroids
    * when the training sample had fewer distinct sub-vectors — codes and
    * lookup tables are built from the actual (possibly jagged) arrays,
    * so the index is always internally consistent. */
  final case class PqIndex(subCentroids: Array[Array[Array[Double]]]) {
    def m: Int = subCentroids.length
    def dSub: Int = subCentroids(0)(0).length
    private[ops] def asSeq: Seq[Seq[Seq[Double]]] =
      subCentroids.toSeq.map(_.toSeq.map(_.toSeq))
  }

  /** Train a product quantizer ONCE (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the same
    * bounded deterministic sample as [[buildIvfIndex]], split into `m`
    * contiguous sub-vectors, one Lloyd's run per sub-space. Bounded
    * driver work, reproducible at any scale. */
  def buildPqIndex(candidates: DataFrame, m: Int = 8, kSub: Int = 16,
                   sampleCap: Int = 4096, maxIter: Int = 10): PqIndex = {
    val sample = candidates
      .select(transform($"emb", (x: Column) => x / $"norm").as("u"),
        xxhash64($"id").as("hk"))
      .orderBy($"hk").limit(sampleCap)
      .select($"u").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot train a PQ index on an empty candidate set")
    val dim = sample.head.length
    require(dim % m == 0, s"m=$m must divide the embedding dim $dim")
    val dSub = dim / m
    PqIndex((0 until m).map { mm =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(v, mm * dSub, (mm + 1) * dSub)),
        kSub, maxIter)
    }.toArray)
  }

  /** Map-side PQ encoding: `codes[mm]` = argmin over sub-space mm's
    * centroids of ‖u_sub − c‖² (first-min tie-break, matching
    * [[assignCells]]). Native expression ([[graft.functions.PqEncode]]):
    * the composed form at m=16 × kSub=32 is 512 literal-dot subtrees and
    * its plan compilation dominated q73. At 100 TB the encode is one
    * scan, and the code column is what downstream ADC probes read
    * instead of the full embedding. Bit-equal to [[encodePqComposed]]
    * (IvfOpsSpec). */
  def encodePq(df: DataFrame, index: PqIndex): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("codes", call_function("pq_encode", $"emb", $"norm",
      typedLit(index.asSeq)))
  }

  /** The composed (per-codebook literal subtree) formulation — kept as
    * the cross-check path for the native expression. */
  private[graft] def encodePqComposed(df: DataFrame, index: PqIndex): DataFrame = {
    val u = transform($"emb", (x: Column) => x / $"norm")
    val codeCols = index.subCentroids.zipWithIndex.map { case (cents, mm) =>
      val sub = slice(u, mm * index.dSub + 1, index.dSub)
      val dists = array(cents.map { c =>
        lit(c.map(x => x * x).sum) - lit(2.0) * dot(sub, typedLit(c.toSeq))
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    df.withColumn("codes", array(codeCols: _*))
  }

  /** IVF-PQ approximate kNN (the FAISS composition): IVF restricts the
    * candidate set to the query's `nProbe` nearest cells, the PQ codes
    * rank those candidates by asymmetric distance computation — the
    * query stays exact, each candidate is represented by its codebook
    * entry, so the estimated cosine is Σ_mm û_q[mm]·centroid[mm][code] —
    * and the top `k·refine` by estimate are exact-cosine re-ranked to
    * the final k. The per-query lookup table (m × kSub dot products
    * against plan literals) is built INSIDE the broadcast query side, so
    * the candidate scan reads only (cell, codes) plus the columns the
    * surviving re-rank needs. Deterministic end to end. */
  def knnIvfPq(queries: DataFrame, candidates: DataFrame, k: Int,
               nCells: Int = 16, nProbe: Int = 4, m: Int = 8, kSub: Int = 16,
               refine: Int = 4): DataFrame = {
    // train-once memo discipline (plan + file listing): the IVF half goes
    // through the SAME cache as knnIvf — a corpus already coarse-indexed
    // by knnIvf never re-runs the IVF sample job here — and the PQ half
    // keys m/kSub as distinct tuple components (no packed-int collisions)
    val ivf = trainedIvf(candidates, nCells)
    val pqKey = (candidates.queryExecution.analyzed.canonicalized,
      StoreIO.fileFingerprint(candidates), m, kSub)
    if (pqCache.size() > IvfCacheMax) pqCache.clear()
    val pq = pqCache.computeIfAbsent(pqKey, _ => buildPqIndex(candidates, m, kSub))
    val assigned = encodePq(assignCells(candidates, ivf), pq)
      .select($"id".as("neighbor_id"), $"emb".as("c_emb"), $"norm".as("c_norm"),
        $"cell", $"codes")
    // query side: nProbe nearest cells (as probeIvf) + the ADC lookup table
    val centers = typedLit(ivf.centroidStructs)
    val qU = transform($"q_emb", (x: Column) => x / $"q_norm")
    val lut = transform(sequence(lit(0), lit(pq.m - 1)), mm =>
      transform(element_at(typedLit(pq.asSeq), mm + 1), cv =>
        dot(slice(qU, mm * lit(pq.dSub) + 1, lit(pq.dSub)), cv)))
    val probed = Windows.topNPerGroup(
        queries.select($"id".as("query_id"), $"emb".as("q_emb"), $"norm".as("q_norm"))
          .select($"*", posexplode(centers).as(Seq("cell", "centroid")))
          .withColumn("dist_rank",
            $"centroid._2" - lit(2.0) * dot(qU, $"centroid._1")),
        Seq($"query_id"), Seq($"dist_rank".asc, $"cell"), nProbe)
      .select($"query_id", $"q_emb", $"q_norm", $"cell", lut.as("lut"))
    val est = aggregate(
      zip_with($"codes", sequence(lit(0), lit(pq.m - 1)),
        (code, mm) => element_at(element_at($"lut", mm + 1), code + 1)),
      lit(0.0), (a, x) => a + x)
    val shortlist = Windows.topNPerGroup(
        assigned.join(broadcast(probed), Seq("cell"))
          .where($"query_id" =!= $"neighbor_id")
          .withColumn("est_cosine", est),
        Seq($"query_id"), Seq($"est_cosine".desc, $"neighbor_id"), k * refine)
      .drop("rn", "est_cosine", "codes", "cell", "lut")
    rerank(shortlist, k)
  }

  /** Train-once memo: fitted centroids per (canonicalized candidate plan,
    * underlying file listing, nCells, sampleCap) — repeated queries over
    * the same candidate set reuse the index instead of re-running the
    * sample job.
    *
    * The file-listing component closes the stale-index trap a pure
    * plan key has: two reads of the same path are plan-identical even
    * after the parquet files underneath were rewritten. The fingerprint
    * hashes (path, length, mtime) of every file each scan in the plan
    * covers, pulled from the relation's ALREADY-MATERIALIZED FileIndex —
    * the listing the scan itself will read, so no extra filesystem RPCs
    * at any scale and perfect agreement with what the sample job would
    * see. Non-file relations (in-memory test frames) contribute nothing
    * and fall back to plan-only keying.
    *
    * Entries are never individually evicted; the map is cleared wholesale
    * past a small bound to keep long-lived drivers from accumulating
    * plan trees. */
  private val IvfCacheMax = 64
  private val ivfCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long, Int, Int), IvfIndex]()
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long, Int, Int), PqIndex]()

  /** Observable training count — lets specs assert cache hits/misses. */
  private[graft] val ivfTrainCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** IVF approximate kNN: convenience wrapper = cached [[buildIvfIndex]]
    * + [[probeIvf]]. Search cost drops from O(|candidates|) to
    * O(nProbe/nCells · |candidates|) per query; fully deterministic. */
  def knnIvf(queries: DataFrame, candidates: DataFrame, k: Int,
             nCells: Int = 16, nProbe: Int = 2): DataFrame =
    probeIvf(trainedIvf(candidates, nCells), queries, candidates, k, nProbe)

  /** The shared train-once path behind [[knnIvf]] and [[knnIvfPq]]:
    * fitted centroids per (canonicalized plan, file listing, nCells). */
  private def trainedIvf(candidates: DataFrame, nCells: Int): IvfIndex = {
    val key = (candidates.queryExecution.analyzed.canonicalized,
      StoreIO.fileFingerprint(candidates), nCells, 4096)
    if (ivfCache.size() > IvfCacheMax) ivfCache.clear()
    ivfCache.computeIfAbsent(key, _ => {
      ivfTrainCount.incrementAndGet()
      buildIvfIndex(candidates, nCells)
    })
  }

  /** IVF kNN probing a PERSISTED index — the cross-session operational
    * path [[saveIvfIndex]] exists for: train once anywhere, then every
    * job/session/cluster probing the same corpus loads the few-KB
    * centroid table instead of re-running the sample job. When no index
    * exists at `indexPath` yet, falls back to train-once and PUBLISHES
    * the result there — stamped with the candidate corpus's file
    * fingerprint — so the first caller pays and every later session (or
    * JVM) loads. On load, cell counts are validated loudly, and a
    * fingerprint mismatch (the corpus files were rewritten since the
    * index was trained) RETRAINS and republishes instead of silently
    * probing a stale quantizer — every caller gets staleness detection,
    * not just those that key the path by corpus themselves. Indexes
    * published by an explicit [[saveIvfIndex]] without a fingerprint
    * (ad-hoc or pre-scheme) are trusted as-is: the disk index stays
    * authoritative when it carries no provenance to check. */
  def knnIvfPersisted(queries: DataFrame, candidates: DataFrame, k: Int,
                      indexPath: String, nCells: Int = 16,
                      nProbe: Int = 2): DataFrame = {
    val spark = candidates.sparkSession
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val fp = StoreIO.fileFingerprint(candidates)
    // atomic publish with readThrough's replace rule: a cold slot never
    // displaces a concurrent winner (which then serves this probe), a
    // stale index is renamed aside
    def trainAndPublish(stale: Boolean): IvfIndex = {
      val trained = trainedIvf(candidates, nCells).copy(corpusFp = Some(fp))
      val won = StoreIO.publish(spark, indexPath, replaceExisting = stale) {
        tmp => saveIvfIndex(trained, spark, tmp) }
      if (won) trained else loadIvfIndex(spark, indexPath)
    }
    val index =
      if (fs.exists(p)) {
        val loaded = loadIvfIndex(spark, indexPath)
        if (loaded.nCells != nCells) {
          // cell count is now corpus-derived (ivfScaledParams), so a
          // mismatch means the sizing policy moved since the index was
          // published — a stale index, not a caller error: retrain
          log.warn(s"index at $indexPath has ${loaded.nCells} cells, caller " +
            s"asked $nCells — retraining and republishing")
          trainAndPublish(stale = true)
        } else if (loaded.corpusFp.forall(_ == fp)) loaded
        else {
          log.warn(s"index at $indexPath was trained for a different corpus " +
            s"(fingerprint ${loaded.corpusFp.get} != $fp) — retraining and republishing")
          trainAndPublish(stale = true)
        }
      } else trainAndPublish(stale = false)
    probeIvf(index, queries, candidates, k, nProbe)
  }

  /** Embedding near-duplicate pairs: LSH-bucketed candidate generation,
    * exact cosine threshold filter. The scalable analog of an all-pairs
    * cosine join. */
  def nearDupPairs(df: DataFrame, minCosine: Double, h: Int = 6): DataFrame = {
    val planes = hyperplanes(h, embDim(df))
    val withBucket = df.withColumn("bucket", lshBucket($"emb", planes))
    val a = withBucket.select($"id".as("id_a"), $"emb".as("emb_a"), $"norm".as("norm_a"), $"bucket")
    val b = withBucket.select($"id".as("id_b"), $"emb".as("emb_b"), $"norm".as("norm_b"), $"bucket")
    a.join(b, Seq("bucket"))
      .where($"id_a" < $"id_b")
      .withColumn("cosine", cosine($"emb_a", $"emb_b", $"norm_a", $"norm_b"))
      .where($"cosine" >= minCosine)
      .select($"id_a", $"id_b", $"cosine")
      .dropDuplicates("id_a", "id_b")
  }

  /** Embedding near-duplicate pairs with CORPUS-SCALED banded LSH —
    * [[nearDupPairs]]'s scale-correct form (round 14 measured the fixed
    * single-table pass finding 7 of 58 true θ-pairs at sf1). The
    * per-plane agreement probability is EXACT from the threshold
    * (p = 1 − arccos θ / π), rows bound per-table bucket occupancy from
    * N, and the table count comes from the collision model at
    * `targetRecall` for a pair AT the threshold — pairs above θ (the
    * ones that matter for dedup) collide with strictly higher
    * probability. Candidates collide per (table, bucket); the exact
    * cosine filter runs map-side on the join output (before the pair
    * dedup, so only survivors — a vanishing fraction — shuffle), and
    * precision stays exact by construction. */
  def nearDupPairsBanded(df: DataFrame, minCosine: Double,
                         targetRecall: Double = 0.7,
                         maxTables: Int = 64): DataFrame = {
    val n = corpusCount(df)
    val prm = bandedParams(n, agreementP(minCosine), targetRecall, maxTables)
    // Round-16 (guide §8, same rewrite as [[knnLshBanded]]): candidate
    // generation and pair dedup on BARE IDS — the old form shuffled the
    // ×tables-exploded corpus with BOTH sides' embeddings through the
    // (tbl, bucket) self-join and pushed two k-long arrays per collision
    // into the dedup exchange (tables× the corpus payload, twice). The
    // all-pairs side cannot broadcast (unlike the kNN probe set), so the
    // embeddings re-attach to the DEDUPLICATED pair set by two id-keyed
    // joins against the un-exploded corpus: the heavy bytes cross an
    // exchange once per side instead of `tables` times per side. Dedup
    // moved BEFORE the cosine: the score is a pure function of the pair,
    // so score-then-dedup and dedup-then-score emit identical rows (and
    // the latter computes each cosine once, not once per collision).
    val ck = df.select($"id",
      posexplode(bandedBuckets($"emb", prm)).as(Seq("tbl", "bucket")))
    val pairs = ck.select($"tbl", $"bucket", $"id".as("id_a"))
      .join(ck.select($"tbl", $"bucket", $"id".as("id_b")),
        Seq("tbl", "bucket"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b")
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(df.select($"id".as("id_a"), $"emb".as("emb_a"),
        $"norm".as("norm_a")), Seq("id_a"))
      .join(df.select($"id".as("id_b"), $"emb".as("emb_b"),
        $"norm".as("norm_b")), Seq("id_b"))
      .withColumn("cosine", cosine($"emb_a", $"emb_b", $"norm_a", $"norm_b"))
      .where($"cosine" >= minCosine)
      .select($"id_a", $"id_b", $"cosine")
  }

  /** Bump when [[nearDupPairsBanded]]'s derivation semantics change —
    * a published store from an older algorithm must re-derive. */
  private val EmbedPairsAlgoVersion = 1

  /** Observable derivation count — lets specs assert store hits. */
  private[graft] val embedPairComputeCount =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** PERSISTED banded near-dup pairs — [[nearDupPairsBanded]] behind the
    * library's once-per-corpus store discipline ([[StoreIO.readThrough]]:
    * fingerprint-checked, atomically published, derive-once). The banded
    * derivation is a pure function of (corpus, θ, band params), every
    * embedding-cluster analytic reads the same logical pair table, and
    * at the recall-holding table counts the derivation is the expensive
    * part. Derivation params ride the plan fingerprint so a θ or recall
    * change re-derives. */
  def nearDupPairsPersisted(vecs: DataFrame, path: String, minCosine: Double,
                            targetRecall: Double = 0.7,
                            maxTables: Int = 64): DataFrame = {
    val spark = vecs.sparkSession
    StoreIO.readThrough(spark, path,
      StoreIO.key(vecs, EmbedPairsAlgoVersion, "minCosine" -> minCosine,
        "targetRecall" -> targetRecall, "maxTables" -> maxTables),
      "nearDupPairsPersisted") { tmp =>
      embedPairComputeCount.incrementAndGet()
      nearDupPairsBanded(vecs, minCosine, targetRecall, maxTables)
        .select($"id_a".cast("long"), $"id_b".cast("long"), $"cosine")
        .write.mode("overwrite").parquet(s"$tmp/pairs")
      Nil
    } { _ =>
      graft.Parquet.read(spark, s"$path/pairs")
        .select($"id_a", $"id_b", $"cosine")
    }
  }

  /** SEMANTIC decontamination across corpora: every (train, eval) pair
    * whose cosine similarity clears `minCosine` — the embedding-space
    * analog of the n-gram cross-corpus pass ([[graft.ops.Dedup.ngramJaccardPairsAcross]]),
    * catching paraphrased leakage that shingle overlap misses.
    *
    * Exact by construction, and scale-correct BECAUSE the sides are
    * asymmetric: eval suites are small (thousands of rows) so the eval
    * side is broadcast and the training corpus is scanned ONCE with no
    * shuffle — cost is |train|·|eval| fused dot products distributed
    * over the train partitions, and the output is threshold-filtered
    * before leaving the scan. When the "eval" side grows past broadcast
    * range, this stops being the right operator — use [[nearDupPairs]]
    * (LSH candidate generation) or [[knnIvf]] over the union instead.
    *
    * Both inputs are [[prepared]] frames.
    *
    * ID-SPACE CONTRACT: `excludeSameId = true` (the default) treats an
    * equal id on both sides as the SAME document and drops the pair, so
    * the caller may pass overlapping corpora (same guard as the n-gram
    * pass). That is only sound when the two sides share one id space —
    * if train and eval ids are assigned independently, a genuine leak
    * whose ids happen to collide would be silently dropped, the worst
    * failure direction for decontamination. Pass
    * `excludeSameId = false` for independent id spaces (an id collision
    * is then a coincidence, not an identity). */
  def cosinePairsAcross(train: DataFrame, evalSet: DataFrame,
                        minCosine: Double,
                        excludeSameId: Boolean = true): DataFrame = {
    val t = train.select($"id".as("train_id"), $"emb".as("q_emb"), $"norm".as("q_norm"))
    val e = evalSet.select($"id".as("eval_id"), $"emb".as("c_emb"), $"norm".as("c_norm"))
    t.join(broadcast(e),
        if (excludeSameId) $"train_id" =!= $"eval_id" else lit(true))
      .withColumn("cosine", cosine($"q_emb", $"c_emb", $"q_norm", $"c_norm"))
      .where($"cosine" >= minCosine)
      .select($"train_id", $"eval_id", $"cosine")
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication scoped by
    * k-means clusters — cluster the embeddings, find near-duplicate
    * pairs ONLY within a cluster, and for every such pair drop the
    * member closer (in cosine) to its cluster centroid, keeping the
    * outlier (the paper's §3 keep-rule: prototypical members are the
    * redundant ones; the far-from-centroid copy carries the most
    * marginal information). Deterministic end-to-end: the shared
    * [[trainedIvf]] centroids (sample-bounded, seeded), an id
    * tie-break on equal centroid-cosines, and a drop decision that is
    * a pure function of the pair.
    *
    * Scale posture: the cluster IS the candidate generator — pair cost
    * is Σ|cell|², bounded by choosing nCells so cells stay ~10⁴–10⁵
    * rows at the target corpus (the paper runs 50k clusters over 5B
    * embeddings); nothing compares across cells, and the per-cell
    * self-join is an equi-join on `cell`, not a cross join. Contrast
    * [[nearDupPairs]] (LSH buckets — recall depends on hyperplane
    * luck): SemDeDup's cluster scoping is the variant that also yields
    * the keep-rule's "prototype vs outlier" structure for free.
    *
    * Output: one row per input embedding — (id, cell, cent_cos
    * [rounded 6dp], n_near [in-cell near-dup partners], dropped).
    * Downstream curation keeps `!dropped`. */
  def semDedup(df: DataFrame, nCells: Int = 8,
               minCosine: Double = 0.3): DataFrame = {
    val index = trainedIvf(df, nCells)
    val centCosArr = array(index.centroidStructs.map { case (c, n2) =>
      dot(transform($"emb", (x: Column) => x / $"norm"), typedLit(c)) /
        lit(math.sqrt(math.max(n2, 1e-300)))
    }: _*)
    val assigned = assignCells(df, index)
      .withColumn("cent_cos", element_at(centCosArr, $"cell" + 1))
    val a = assigned.select($"cell", $"id".as("id_a"), $"emb".as("emb_a"),
      $"norm".as("norm_a"), $"cent_cos".as("cc_a"))
    val b = assigned.select($"cell", $"id".as("id_b"), $"emb".as("emb_b"),
      $"norm".as("norm_b"), $"cent_cos".as("cc_b"))
    val pairs = a.join(b, Seq("cell"))
      .where($"id_a" < $"id_b")
      .where(cosine($"emb_a", $"emb_b", $"norm_a", $"norm_b") >= minCosine)
      .select($"id_a", $"id_b", $"cc_a", $"cc_b")
    // the pair member nearer its centroid is dropped; ties drop the
    // larger id so the decision is total
    val dropped = pairs.select(
      when(struct($"cc_a", $"id_a") > struct($"cc_b", $"id_b"), $"id_a")
        .otherwise($"id_b").as("id")).distinct()
    val nNear = pairs.select($"id_a".as("id"))
      .unionAll(pairs.select($"id_b".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("n_near"))
    assigned.select($"id", $"cell", round($"cent_cos", 6).as("cent_cos"))
      .join(nNear, Seq("id"), "left")
      .join(dropped.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select($"id", $"cell", $"cent_cos",
        coalesce($"n_near", lit(0L)).as("n_near"),
        coalesce($"dropped", lit(false)).as("dropped"))
  }

  /** Per-dimension corpus statistics of an embedding column: (dim, n,
    * mean, std) with the decimal-exact (n, Σx, Σx²) components of
    * [[Normalize.zscore]], so the derived doubles are identical on any
    * engine and partitioning. posexplode → two-phase aggregate: the
    * shuffle carries per-(partition, dim) partial sums — `dim` rows per
    * map task — never vectors. std is the sample (n−1) deviation; NULL
    * when the dimension is constant (the caller must not divide by it). */
  def dimStats(df: DataFrame, embCol: String): DataFrame = {
    val e = df.select(posexplode(col(embCol).cast("array<double>")).as(Seq("dim", "v")))
    // DECIMAL(28,12), not Exact's (18,4): embedding components are ~0.1 so
    // their squares are ~0.01 — a 1e-4 quantum would carry only two
    // significant digits into the variance. 12 fractional digits keep the
    // square exact-ish while 16 integral digits still absorb ~1e15 rows.
    val fine = "decimal(28,12)"
    e.groupBy($"dim").agg(
        count($"v").cast("double").as("n"),
        sum($"v".cast(fine)).cast("double").as("sx"),
        sum(($"v" * $"v").cast(fine)).cast("double").as("sxx"))
      .select($"dim", $"n", ($"sx" / $"n").as("mean"),
        when($"n" >= 2 &&
          ($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1.0) > 0,
          sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1.0))).as("std"))
  }

  /** Whitening (per-dimension standardization) of an embedding corpus —
    * the preprocessing step that makes Euclidean/PQ geometry honest when
    * dimensions have wildly different scales (PCA-whitening's diagonal
    * little sibling; see Jégou et al.'s observations on uneven energy
    * across dimensions in PQ). Output is flat (id, dim, z): z-scored
    * against the CORPUS stats, which travel as a broadcast dim-sized
    * frame — the embedding table itself is never shuffled. Constant
    * dimensions (std NULL) yield z = NULL. */
  def whitenDims(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val stats = dimStats(df, embCol)
    df.select(col(idCol).as("id"),
        posexplode(col(embCol).cast("array<double>")).as(Seq("dim", "v")))
      .join(broadcast(stats), Seq("dim"))
      .select($"id", $"dim", (($"v" - $"mean") / $"std").as("z"))
  }

  /** Symmetric per-dimension int8 scalar quantization REPORT — the
    * storage-planning pass an embedding store runs before committing to
    * int8 codes (4× smaller than float32, the standard serving format):
    * per dimension, the scale (max |v| / 127) and the reconstruction
    * error the corpus would actually incur at that scale.
    *
    * code(v)  = floor(v/scale + 0.5)  — explicit floor, not `round`,
    *            because banker's-vs-half-up rounding differs between
    *            engines while floor is bit-identical everywhere. The
    *            symmetric scale bounds v/scale to [−127, 127], so
    *            floor(·+0.5) never leaves int8 range (127.5 floors to
    *            127) and no clamp is needed. A constant-zero dimension
    *            (scale 0) codes to 0 with zero error.
    * err(v)   = |code·scale − v|
    *
    * Shape: one posexplode; the per-dim max|v| aggregate is dim-sized
    * and broadcasts back onto the exploded frame; the error rollup is a
    * second two-phase aggregate on the same dim key. Max error is an
    * exact double (max is reduction-order-free); the mean rides the 9 dp
    * decimal discipline. The embedding table never shuffles — only
    * dim-keyed partial aggregates do. */
  def int8QuantReport(df: DataFrame, embCol: String): DataFrame = {
    val e = df.select(posexplode(col(embCol).cast("array<double>")).as(Seq("dim", "v")))
    val scales = e.groupBy($"dim")
      .agg((max(abs($"v")) / 127.0).as("scale"))
    val coded = e.join(broadcast(scales), Seq("dim"))
      .withColumn("code",
        when($"scale" === 0.0, lit(0.0))
          .otherwise(floor($"v" / $"scale" + 0.5)))
      .withColumn("err", abs($"code" * $"scale" - $"v"))
    coded.groupBy($"dim")
      .agg(count(lit(1)).cast("long").as("n"),
        round(max($"scale"), 9).as("scale"),
        round(max($"err"), 9).as("max_abs_err"),
        round(sum(round($"err", 9).cast("decimal(18,9)")).cast("double") /
          count(lit(1)), 9).as("mean_abs_err"))
      .orderBy($"dim")
  }
}
