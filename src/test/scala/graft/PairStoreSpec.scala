package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Pins the persisted θ-scored Jaccard pair store ([[Dedup.pairsPersisted]])
  * and the atomic-publish plumbing ([[StoreIO.publish]]) — round-10
  * verdict items 1 and 3:
  *
  *  - the θ=0.3 store is a SUPERSET of every consumer: tighter-θ
  *    listings, sub-corpus pair sets, and cross-split decontamination
  *    pairs are all filters over it, bit-identical to the dedicated
  *    generators they replace;
  *  - the cluster store derived FROM the pair store equals the cluster
  *    store derived directly (the two can never disagree);
  *  - publish is atomic: a concurrent second writer is a no-op, a
  *    failed write leaves the previous store intact and complete.
  */
class PairStoreSpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def pairRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_a").cast("long"), col("doc_b").cast("long"),
        col("jaccard").cast("double"))
      .as[(Long, Long, Double)].collect().toSet

  test("pairsPersisted: cold derive+publish, warm load, ≡ direct derivation") {
    val path = tmpDir("pairstore") + "/pairs"
    val docs = Tables.documents(spark, sf)
    val direct = pairRows(Dedup.ngramJaccardPairsAuto(
      docs, "doc_id", "text", n = 3, threshold = 0.3))

    val c0 = Dedup.pairComputeCount.get()
    val cold = pairRows(Dedup.pairsPersisted(docs, "doc_id", "text", path))
    assert(Dedup.pairComputeCount.get() == c0 + 1, "cold path must derive")
    assert(cold == direct, "published pairs diverge from direct derivation")

    val warm = pairRows(Dedup.pairsPersisted(docs, "doc_id", "text", path))
    assert(Dedup.pairComputeCount.get() == c0 + 1,
      "warm hit re-ran the pair machinery")
    assert(warm == cold)
  }

  test("θ=0.3 store subsumes every consumer: tighter θ, sub-corpus, split") {
    val path = tmpDir("pairsubsume") + "/pairs"
    val docs = Tables.documents(spark, sf)
    val store = Dedup.pairsPersisted(docs, "doc_id", "text", path)

    // tighter threshold (q24/q76's shape): filter ≡ dedicated generator
    val tight = pairRows(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5))
    assert(pairRows(store.where(col("jaccard") >= 0.5)) == tight,
      "θ=0.5 filter over the store diverges from direct θ=0.5 pairs")

    // sub-corpus (q42's shape): both-endpoints filter ≡ pairs over subset
    val sub = docs.where(col("doc_id") % 3 =!= 1)
    val subDirect = pairRows(Dedup.ngramJaccardPairs(sub, "doc_id", "text",
      n = 3, threshold = 0.5))
    val subStore = pairRows(store.where(col("jaccard") >= 0.5 &&
      col("doc_a") % 3 =!= 1 && col("doc_b") % 3 =!= 1))
    assert(subStore == subDirect,
      "sub-corpus filter over the store diverges from pairs over the subset")

    // cross-split (q72's shape): opposite-endpoints filter ≡ across-pairs
    val across = Dedup.ngramJaccardPairsAcross(
        docs.where(col("doc_id") % 5 =!= 0), docs.where(col("doc_id") % 5 === 0),
        "doc_id", "text", threshold = 0.5)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"),
        col("jaccard").cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    val isEvalA = col("doc_a") % 5 === 0
    val isEvalB = col("doc_b") % 5 === 0
    val split = store
      .where(col("jaccard") >= 0.5 && (isEvalA =!= isEvalB))
      .select(when(isEvalB, col("doc_a")).otherwise(col("doc_b")).as("t"),
        when(isEvalB, col("doc_b")).otherwise(col("doc_a")).as("e"),
        col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(split == across,
      "cross-split filter over the store diverges from ngramJaccardPairsAcross")
  }

  test("clusters derived FROM the pair store ≡ clusters derived directly") {
    val dir = tmpDir("pairclusters")
    val docs = Tables.documents(spark, sf)
    def clusterRows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "component_id").as[(Long, Long)].collect().toSet
    val fromPairs = clusterRows(Dedup.clustersPersisted(
      docs, "doc_id", "text", s"$dir/cl1", threshold = 0.5,
      pairSource = Some(() =>
        Dedup.pairsPersisted(docs, "doc_id", "text", s"$dir/pairs"))))
    val direct = clusterRows(Dedup.clustersPersisted(
      docs, "doc_id", "text", s"$dir/cl2", threshold = 0.5))
    assert(fromPairs == direct,
      "pair-store-derived clusters diverge from directly-derived clusters")
  }

  test("StoreIO.publish: concurrent second writer is a no-op; store stays complete") {
    val path = tmpDir("pubrace") + "/store"
    import spark.implicits.{newIntEncoder, localSeqToDatasetHolder}
    // two writers race the same cold path with the same pure payload;
    // a gate maximizes overlap so both complete their temp writes
    // before either renames (generous timeouts: under a full-suite run
    // the JVM can stall for tens of seconds on GC/compilation, and a
    // broken barrier here would fail the test for scheduling reasons,
    // not semantics)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    def writer(tag: Int): Boolean = {
      // cold-branch semantics (replaceExisting = false): the loser must
      // NEVER displace the winner's fresh store — this is what makes
      // the exactly-one assertion below sound even when the loser's
      // rename runs arbitrarily late
      StoreIO.publish(spark, path, replaceExisting = false) { tmp =>
        (1 to 100).toDS().toDF("v").write.parquet(s"$tmp/data")
        Seq(42).toDS().toDF("meta_v").write.parquet(s"$tmp/meta")
        gate.await(180, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val results = Await.result(
      Future.sequence(Seq(Future(writer(1)), Future(writer(2)))), 600.seconds)
    assert(results.count(identity) == 1,
      s"expected exactly one publish winner, got $results")
    // whichever won, the live store is COMPLETE — both halves readable
    assert(spark.read.parquet(s"$path/data").count() == 100)
    assert(spark.read.parquet(s"$path/meta").as[Int].head() == 42)
    // no temp debris left behind
    val parent = new java.io.File(path).getParentFile
    val debris = parent.listFiles().filter(_.getName.contains(".tmp-"))
    assert(debris.isEmpty, s"temp dirs leaked: ${debris.mkString(", ")}")
  }

  test("StoreIO.publish: a failed write leaves the previous store intact") {
    val path = tmpDir("pubfail") + "/store"
    import spark.implicits.{newIntEncoder, localSeqToDatasetHolder}
    StoreIO.publish(spark, path) { tmp =>
      (1 to 7).toDS().toDF("v").write.parquet(s"$tmp/data")
    }
    intercept[RuntimeException] {
      StoreIO.publish(spark, path) { _ => sys.error("disk full (simulated)") }
    }
    assert(spark.read.parquet(s"$path/data").count() == 7,
      "failed republish damaged the live store")
  }

  test("pre-algo-version meta schema reads as STALE, not a crash or a match") {
    val path = tmpDir("oldmeta") + "/pairs"
    val docs = Tables.documents(spark, sf)
    // plant a store whose meta lacks algo_version (the pre-round-11
    // layout): the read-through must re-derive, loudly, not throw on the
    // missing column and not trust the planted data
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    Seq((0L, 0L, 3, 0.3)).toDF("corpus_fp", "plan_fp", "n", "threshold")
      .write.parquet(s"$path/meta")
    Seq((1L, 2L, 0.99)).toDF("doc_a", "doc_b", "jaccard")
      .write.parquet(s"$path/pairs")
    val c0 = Dedup.pairComputeCount.get()
    val got = pairRows(Dedup.pairsPersisted(docs, "doc_id", "text", path))
    assert(Dedup.pairComputeCount.get() == c0 + 1,
      "old-schema meta did not trigger re-derivation")
    assert(!got.contains((1L, 2L, 0.99)), "planted stale data was served")
  }

  /** A tiny parquet-backed embedding corpus, unique per call, so the
    * in-JVM PCA/k-means fit memos never serve a prior test's model. */
  private def embCorpus(dir: String, tag: Double): org.apache.spark.sql.DataFrame = {
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    (0 until 40).map(i => (i.toLong, Seq(i % 5 + tag, (i % 7) * 0.5, i % 3 - 1.0)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/emb.parquet")
    spark.read.parquet(s"$dir/emb.parquet")
  }

  /** One store re-keyed from its earlier meta layout: how to plant it
    * (data + meta as that layout wrote them, under the corpus's real
    * fingerprint and the earlier plan fingerprint), the read-through,
    * its derivation count, and whether a result carries planted data. */
  private case class Rekeyed(name: String, dataDir: String,
                             corpus: String => org.apache.spark.sql.DataFrame,
                             plantData: () => org.apache.spark.sql.DataFrame,
                             oldMeta: Seq[(String, org.apache.spark.sql.Column)],
                             read: (org.apache.spark.sql.DataFrame, String) => Any,
                             derivations: () => Long,
                             servesPlanted: Any => Boolean,
                             oldPlanFp: org.apache.spark.sql.DataFrame => Long =
                               StoreIO.planFingerprint(_))

  private val docsOf = (_: String) => Tables.documents(spark, sf)
  private def hasId(df: Any, c: String): Boolean =
    df.asInstanceOf[org.apache.spark.sql.DataFrame].where(col(c) === -7L).count() > 0

  private val rekeyed = Seq(
    Rekeyed("pairs", "pairs", docsOf,
      () => spark.range(1).select(lit(-7L).as("doc_a"), lit(-8L).as("doc_b"),
        lit(0.99).as("jaccard")),
      Seq("n" -> lit(3), "threshold" -> lit(0.3), "algo_version" -> lit(1),
        "route" -> lit("prefix")),
      (d, p) => Dedup.pairsPersisted(d, "doc_id", "text", p),
      () => Dedup.pairComputeCount.get(), hasId(_, "doc_a")),
    Rekeyed("clusters", "clusters", docsOf,
      () => spark.range(1).select(lit(-7L).as("doc_id"), lit(-7L).as("component_id")),
      Seq("n" -> lit(3), "threshold" -> lit(0.5), "algo_version" -> lit(1)),
      (d, p) => Dedup.clustersPersisted(d, "doc_id", "text", p),
      () => Dedup.clusterComputeCount.get(), hasId(_, "doc_id")),
    Rekeyed("containment", "containment", docsOf,
      () => spark.range(1).select(lit(-7L).as("inner_id"), lit(-8L).as("outer_id"),
        lit(1.0).as("containment")),
      Seq("n" -> lit(3), "threshold" -> lit(0.9), "algo_version" -> lit(1),
        "route" -> lit("prefix")),
      (d, p) => Dedup.containmentPersisted(d, "doc_id", "text", p),
      () => Dedup.containmentComputeCount.get(), hasId(_, "inner_id")),
    Rekeyed("PCA", "components", dir => embCorpus(dir, 0.0625),
      () => spark.range(1).select(lit(0).as("component"),
        typedLit(Seq(1.0, 0.0, 0.0)).as("loading"), lit(-7.0).as("eigenvalue")),
      Seq("emb_col" -> lit("embedding"), "k" -> lit(1), "iters" -> lit(4),
        "n" -> lit(40L), "mean" -> typedLit(Seq(0.0, 0.0, 0.0)),
        "algo_version" -> lit(1)),
      (d, p) => Pca.topComponentsPersisted(d, "embedding", k = 1, iters = 4, p),
      () => Pca.fitCount.get(),
      m => m.asInstanceOf[Pca.PcaModel].eigenvalues.contains(-7.0)),
    Rekeyed("k-means", "centroids", dir => embCorpus(dir, 0.1875),
      () => spark.range(1).select(lit(0).as("cluster"),
        typedLit(Seq(0.0, 0.0, 0.0)).as("centroid"), lit(40L).as("size")),
      Seq("emb_col" -> lit("embedding"), "id_col" -> lit("vec_id"),
        "k" -> lit(1), "iters" -> lit(2), "seed" -> lit("kmeans"),
        "inertia" -> lit(-7.0), "n" -> lit(40L), "algo_version" -> lit(1)),
      (d, p) => Kmeans.fitPersisted(d, "embedding", "vec_id", k = 1, iters = 2,
        seed = "kmeans", p),
      () => Kmeans.fitCount.get(),
      m => m.asInstanceOf[Kmeans.KmeansModel].inertia == -7.0),
    Rekeyed("media", "features", docsOf,
      () => spark.range(1).select(lit(-7L).as("doc_id"), lit("image").as("media_type")),
      Seq("resize_w" -> lit(10), "resize_h" -> lit(10), "algo_version" -> lit(1)),
      (d, p) => MediaStore.persisted(d, p),
      () => MediaStore.computeCount.get(),
      h => hasId(h.asInstanceOf[MediaStore.Handle].features, "doc_id")),
    // already on the narrow meta layout, but its parameters were hashed
    // as a sequence beside the plan rather than folded in by name
    Rekeyed("embedding-pair", "pairs",
      _ => Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding"),
      () => spark.range(1).select(lit(-7L).as("id_a"), lit(-8L).as("id_b"),
        lit(1.0).as("cosine")),
      Seq("algo_version" -> lit(1)),
      (d, p) => Similarity.nearDupPairsPersisted(d, p, minCosine = 0.4,
        targetRecall = 0.7),
      () => Similarity.embedPairComputeCount.get(), hasId(_, "id_a"),
      d => StoreIO.fpOrdered64(Seq(d.queryExecution.analyzed.canonicalized.toString,
        "0.4", "0.7", "64"))))

  for (st <- rekeyed)
    test(s"${st.name} store under its earlier key re-derives once, then hits") {
      val dir = tmpDir(s"rekey-${st.name}")
      val path = s"$dir/store"
      val corpus = st.corpus(dir)
      // the earlier layout: corpus_fp and the earlier plan_fp, then (for
      // the six wide layouts) parameters and payload as meta columns
      spark.range(1).select(Seq(
          lit(StoreIO.fileFingerprint(corpus)).as("corpus_fp"),
          lit(st.oldPlanFp(corpus)).as("plan_fp")) ++
          st.oldMeta.map { case (n, c) => c.as(n) }: _*)
        .write.parquet(s"$path/meta")
      st.plantData().write.parquet(s"$path/${st.dataDir}")
      val c0 = st.derivations()
      val first = st.read(corpus, path)
      assert(st.derivations() == c0 + 1, "earlier-layout store was not re-derived")
      assert(!st.servesPlanted(first), "planted data was served")
      val second = st.read(corpus, path)
      assert(st.derivations() == c0 + 1, "re-keyed store did not hit")
      assert(!st.servesPlanted(second), "planted data was served on the hit")
    }
}
