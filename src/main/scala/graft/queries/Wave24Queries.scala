package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Similarity}

/** FILE→WAVE MAP: Wave24Queries.scala holds round-10 WAVE-27 queries
  * q206–q208 (file numbering lags wave numbering across this package —
  * each file's header carries this map).
  *
  * Storage/index calibration: latest-wins upsert compaction (the
  * lakehouse MERGE-read), the MinHash-LSH precision/recall scorecard
  * against exact Jaccard truth, and PQ quantization distortion per
  * subspace. q206 is DuckDB-oracle-checked; q207/q208 are golden-pinned
  * (seeded xxhash64 signatures / Lloyd codebooks have no SQL form). */
object Wave24Queries extends QuerySet {

  /** Latest-wins upsert compaction over the events log, keyed by
    * (user_id, event_type) with (ts, event_id) as the version order —
    * the MERGE-read every lakehouse table with upserts serves: per
    * event_type, log rows vs live keys, the live rows' exact value sum,
    * and the compaction ratio. One window pass (rank-1 within the key),
    * one rollup; at scale the window shuffle is the one unavoidable
    * exchange and it is keyed by the table's natural primary key. */
  private val q206: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, d)
      .withColumn("__rn", row_number().over(w))
      .groupBy($"event_type")
      .agg(count(lit(1)).cast("long").as("n_log_rows"),
        sum(when($"__rn" === 1, 1L).otherwise(0L)).cast("long")
          .as("n_live_keys"),
        sum(when($"__rn" === 1 && $"value".isNotNull,
          round($"value", 9).cast("decimal(28,12)"))).cast("double")
          .as("live_value_sum"))
      .select($"event_type", $"n_log_rows", $"n_live_keys",
        round($"live_value_sum", 9).as("live_value_sum"),
        round($"n_live_keys".cast("double") / $"n_log_rows".cast("double"), 9)
          .as("live_frac"))
      .orderBy($"event_type")
  }

  /** MinHash-LSH scorecard: precision/recall/F1 of the banded candidate
    * pairs (k=64, 16 bands — S-curve threshold ≈ 0.5) against EXACT
    * 3-gram Jaccard ≥ 0.5 truth, on a bounded evaluation slice — the
    * table a dedup team reads before committing to a band
    * configuration at corpus scale (where exact truth is unaffordable
    * but a slice's truth is one inverted-index pass). Golden-pinned:
    * the signatures are seeded xxhash64 mins. */
  private val q207: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).where($"doc_id" < 2000)
    // GUARANTEED-exact ground truth: the persisted θ=0.3 pair store when
    // its recorded route is exact (Jaccard is pairwise, so the slice's
    // truth = store rows with both endpoints in the slice), else exact
    // re-derivation on the bounded slice — a df-capped store would
    // silently truncate the truth and inflate this eval's recall
    // ([[Stores.docPairsExactSlice]])
    val exact = Stores.docPairsExactSlice(s, d, maxDocId = 2000)
      .where($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", lit(1L).as("__e"))
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
      k = 64, bands = 16, minEstJaccard = 0.5)
      .select($"doc_a", $"doc_b", lit(1L).as("__c"))
    exact.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(sum($"__e").cast("long").as("n_exact"),
        sum($"__c").cast("long").as("n_candidates"),
        sum($"__e" * $"__c").cast("long").as("n_hit"))
      .select($"n_exact", $"n_candidates", $"n_hit",
        round($"n_hit".cast("double") / $"n_candidates".cast("double"), 9)
          .as("precision"),
        round($"n_hit".cast("double") / $"n_exact".cast("double"), 9)
          .as("recall"))
      .withColumn("f1", round(lit(2.0) * $"precision" * $"recall" /
        ($"precision" + $"recall"), 9))
  }

  /** PQ quantization distortion per subspace ([[Similarity.buildPqIndex]]
    * m=8, kSub=16 over the full embedding corpus): mean ‖u_sub −
    * centroid(code)‖² — the table that says which subspaces carry
    * structure the 16-entry codebook can't capture (re-split or raise
    * kSub there before trusting IVF-PQ recall). Encode + error are one
    * map-side projection against literal codebooks; only m partial sums
    * shuffle. Golden-pinned (Lloyd codebooks). */
  private val q208: Q = (s, d) => {
    import s.implicits._
    val vecs = Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
    val pq = Similarity.buildPqIndex(vecs, m = 8, kSub = 16)
    val enc = Similarity.encodePq(vecs, pq)
      .withColumn("__u", transform($"emb", (x: Column) => x / $"norm"))
    val errs = pq.subCentroids.zipWithIndex.map { case (cents, mm) =>
      val centLit = typedLit(cents.toSeq.map(_.toSeq))
      val sub = slice($"__u", mm * pq.dSub + 1, pq.dSub)
      val chosen = element_at(centLit, element_at($"codes", mm + 1) + 1)
      aggregate(zip_with(sub, chosen, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
    }
    val aggCols = errs.zipWithIndex.map { case (e, mm) =>
      sum(round(e, 9).cast("decimal(28,12)")).as(s"__s$mm")
    }
    val melted = errs.indices.map { mm =>
      struct(lit(mm).as("subspace"),
        round(col(s"__s$mm").cast("double") / col("__n").cast("double"), 9)
          .as("mean_sq_err"))
    }
    enc.agg(count(lit(1)).as("__n"), aggCols: _*)
      .select(posexplode(array(melted: _*)).as(Seq("__i", "r")))
      .select($"r.subspace", $"r.mean_sq_err")
      .orderBy($"subspace")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q206_latest_compaction" -> q206,
    "q207_lsh_eval" -> q207,
    "q208_pq_distortion" -> q208)

  // ---- oracle SQL -------------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(
    "q206_latest_compaction" ->
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_log_rows,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_live_keys,
        |  round(CAST(sum(CASE WHEN rn = 1 AND value IS NOT NULL
        |    THEN CAST(round(value, 9) AS DECIMAL(28,12)) END) AS DOUBLE), 9)
        |    AS live_value_sum,
        |  round(CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE), 9) AS live_frac
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)
}
