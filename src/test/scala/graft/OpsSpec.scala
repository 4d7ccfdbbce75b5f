package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Unit coverage for the operator library over small inline fixtures and
  * the sf0.001 test tables. */
class OpsSpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The distributed CC fixpoint's RESULT frame is rebased on its final
    * localCheckpoint RDD, which stays persisted until the ContextCleaner
    * GCs the reference — nondeterministic in a shared test JVM and a
    * flaky trap for suites (StagedSpec) that audit persistent-RDD state.
    * Tests that force the distributed path unpersist their new blocks
    * eagerly once the assertions are done. */
  private def withRddCleanup[T](f: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try f finally spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  test("Quality.split is a partition: valid ∪ invalid = input, disjoint") {
    val ev = Tables.events(spark, sf)
    val pred = col("value") >= 0.0 && col("value") <= 100.0
    val (ok, bad) = Quality.split(ev, pred)
    assert(ok.count() + bad.count() == ev.count())
    assert(ok.join(bad, Seq("event_id"), "inner").count() == 0)
  }

  test("Quality.split routes NULL predicates to quarantine") {
    val df = Seq[(Integer, java.lang.Double)]((1, 5.0), (2, null), (3, 500.0))
      .toDF("id", "v")
    val (ok, bad) = Quality.split(df, col("v") <= 100.0)
    assert(ok.select("id").as[Int].collect().toSet == Set(1))
    assert(bad.select("id").as[Int].collect().toSet == Set(2, 3))
  }

  test("Text.shingles guards short documents (no descending sequence)") {
    val df = Seq("one two", "a b c d", "solo").toDF("text")
    val got = df.select(Text.shingles(col("text")).as("sh")).as[Seq[String]].collect()
    assert(got(0).isEmpty && got(2).isEmpty)
    assert(got(1) == Seq("a b c", "b c d"))
  }

  test("winnowing fingerprints are deterministic and position-shift stable") {
    val base = "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10"
    val df = Seq((1L, base), (2L, "zz " + base), (3L, "a b c")).toDF("doc_id", "text")
    def fps() = Text.winnowFingerprintRows(df, "doc_id", "text")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val a = fps()
    // a shared run of >= w+k-1 tokens must share at least one fingerprint
    assert(a(1L).intersect(a(2L)).nonEmpty)
    // short doc (single 3-gram, fewer than w windows) still fingerprints
    assert(a(3L).size == 1)
    assert(fps() == a)
  }

  test("Dedup.exactGroups finds duplicate content") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "doc_id", "text").collect()
    assert(groups.length == 2)
    val dup = groups.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("SimHash: identical texts collide, near-identical are Hamming-close") {
    val df = Seq(
      (1L, "spark window join filter agg scan table row value part"),
      (2L, "spark window join filter agg scan table row value part"),
      (3L, "spark window join filter agg scan table row value BATCH"),
      (4L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    // the aggregated signature path must agree with the per-row HOF path
    val aggSigs = Dedup.simhashSignatures(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(aggSigs == sigs)
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) < 16)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)) > 16)
  }

  test("prefix-filtered Jaccard pairs equal the naive inverted-index join") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    // 0.07 and 0.55 are fp-hazard thresholds: t*n overshoots the exact
    // product in IEEE doubles (0.07*100 == 7.000000000000001)
    for (t <- Seq(0.07, 0.3, 0.55, 0.7)) {
      val prefix = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val direct = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefix == direct, s"threshold $t: ${prefix.size} vs ${direct.size}")
      assert(direct.nonEmpty || t >= 0.7)
    }
  }

  test("native winnowing matches the windowed formulation on the corpus") {
    val docs = Tables.documents(spark, sf)
    def fpSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    val native = fpSet(Text.winnowFingerprintRows(docs, "doc_id", "text"))
    val windowed = fpSet(Text.winnowFingerprintRowsWindowed(docs, "doc_id", "text"))
    assert(native.nonEmpty && native == windowed)
  }

  test("winnowing invariants hold against the paper definition (q29)") {
    // implementation-independent properties from Schleimer et al. §3 —
    // checked against a straight re-derivation of the k-gram hash
    // sequence, NOT against either winnowing implementation:
    //  (1) soundness: every fingerprint is the xxhash64 of one of the
    //      document's own k-grams;
    //  (2) coverage: every window of w consecutive k-gram hashes has its
    //      minimum in the fingerprint set (so any match of length
    //      ≥ w+k−1 is guaranteed detected);
    //  (3) short docs (< w k-grams) contribute exactly the global min.
    val docs = Tables.documents(spark, sf)
    val fps = Text.winnowFingerprintRows(docs, "doc_id", "text")
    val hashes = docs.select(col("doc_id"),
        posexplode(Text.shingles(col("text"), 3)).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"), xxhash64(col("sh")).as("fp"))
    assert(fps.join(hashes, Seq("doc_id", "fp"), "left_anti").count() == 0) // (1)
    val fpByDoc = fps.as[(Long, Long)].collect()
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val seqByDoc = hashes.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("fp")))).as("ph"))
      .as[(Long, Seq[(Int, Long)])].collect()
    assert(seqByDoc.nonEmpty)
    val w = 4
    seqByDoc.foreach { case (doc, ph) =>
      val hs = ph.map(_._2)
      val sel = fpByDoc(doc)
      if (hs.length < w) assert(sel == Set(hs.min), s"doc $doc short-doc rule") // (3)
      else hs.sliding(w).zipWithIndex.foreach { case (win, i) =>                 // (2)
        assert(sel.contains(win.min), s"doc $doc window $i uncovered")
      }
    }
    // docs with no k-grams contribute no fingerprints
    assert(fpByDoc.keySet.subsetOf(seqByDoc.map(_._1).toSet))
  }

  test("q47 sketch-rollup estimates sit within published HLL error of exact") {
    // hll_sketch_agg default lgConfigK=12 → RSE ≈ 1.04/√4096 ≈ 1.63%;
    // assert 3σ (±5%, floor of 3 for tiny groups) against exact distincts
    // computed in-test. This pins "right", not just "unchanged" (the
    // golden file pins the latter).
    val out = SparkEntry.queries("q47_sketch_rollup")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = Tables.events(spark, sf)
    val exact = ev.groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .as[(String, Long)].collect().toMap
    val exactAll = ev.select(countDistinct("user_id")).as[Long].head()
    def within(est: Long, ref: Long): Boolean =
      math.abs(est - ref.toDouble) <= math.max(3.0, ref * 0.05)
    exact.foreach { case (t, n) => assert(within(out(t), n), s"$t: ${out(t)} vs $n") }
    assert(within(out("ALL"), exactAll), s"ALL: ${out("ALL")} vs $exactAll")
    assert(out.size == exact.size + 1)
  }

  test("native signature expressions match the exploded formulations bit-for-bit") {
    val docs = Tables.documents(spark, sf)
    val mNative = Dedup.minhashSignatures(docs, "doc_id", "text", 64)
      .as[(Long, Seq[Long])].collect().toMap
    val mExploded = Dedup.minhashSignaturesExploded(docs, "doc_id", "text", 64)
      .as[(Long, Seq[Long])].collect().toMap
    assert(mNative.nonEmpty && mNative == mExploded)
    val sNative = Dedup.simhashSignatures(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val sExploded = Dedup.simhashSignaturesExploded(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sNative.nonEmpty && sNative == sExploded)
  }

  test("MinHash estimate tracks exact Jaccard on duplicated docs") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val approx = Dedup.minhashCandidates(docs, "doc_id", "text", minEstJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // banding at est>=0.5 should recover most true >=0.5 pairs
    assert(exact.nonEmpty)
    assert((exact intersect approx).size >= exact.size * 0.8)
  }

  test("Similarity: cosine self-similarity is 1, brute-force kNN shape") {
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val self = e.select(Similarity.cosine(col("emb"), col("emb"), col("norm"), col("norm")).as("c"))
      .agg(min("c"), max("c")).as[(Double, Double)].head()
    assert(math.abs(self._1 - 1.0) < 1e-9 && math.abs(self._2 - 1.0) < 1e-9)
    val knn = Similarity.knnBruteForce(e.where(col("id") < 3), e, k = 4)
    val rows = knn.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(rows.keySet == Set(0L, 1L, 2L) && rows.values.forall(_ == 4L))
    // ranks are 1..k and cosine non-increasing within a query
    val r0 = knn.where(col("query_id") === 0).orderBy(col("rank")).select("cosine").as[Double].collect()
    assert(r0.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("cosinePairsAcross: exact cross-corpus pairs, overlap-safe, broadcast eval side") {
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val train = e.where(col("id") % 5 =!= 0)
    val ev = e.where(col("id") % 5 === 0)
    val got = Similarity.cosinePairsAcross(train, ev, minCosine = 0.3)
      .select("train_id", "eval_id").as[(Long, Long)].collect().toSet
    // reference: explicit all-pairs cosine over the same split/threshold
    val ref = train.select(col("id").as("t"), col("emb").as("ea"), col("norm").as("na"))
      .crossJoin(ev.select(col("id").as("v"), col("emb").as("eb"), col("norm").as("nb")))
      .where(Similarity.cosine(col("ea"), col("eb"), col("na"), col("nb")) >= 0.3)
      .select("t", "v").as[(Long, Long)].collect().toSet
    assert(got == ref && got.nonEmpty)
    // overlapping corpora emit no self-pairs
    val overlap = Similarity.cosinePairsAcross(e, e, minCosine = 0.999)
      .where(col("train_id") === col("eval_id")).count()
    assert(overlap == 0L)
    // independent id spaces: the same-id exclusion would drop a genuine
    // leak whose ids collide — excludeSameId=false keeps it
    val kept = Similarity.cosinePairsAcross(e, e, minCosine = 0.999,
        excludeSameId = false)
      .where(col("train_id") === col("eval_id")).count()
    assert(kept == e.count(), "colliding-id pairs dropped despite excludeSameId=false")
    // eval side is broadcast: no shuffle of the train scan
    val plan = Similarity.cosinePairsAcross(train, ev, 0.45)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }

  test("native array_dot equals the HOF fold bit-for-bit") {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("emb"))
    val diffs = e.select(
        Similarity.dot(col("emb"), col("emb")).as("native"),
        Similarity.dotHof(col("emb"), col("emb")).as("hof"))
      .where(col("native") =!= col("hof"))
    assert(diffs.count() == 0)
  }

  test("AsOf.join picks the latest right row at-or-before the left ts") {
    val left = Seq((1L, 100L, "2024-01-01 00:10:00"), (2L, 100L, "2024-01-01 00:00:30"))
      .toDF("event_id", "user_id", "ts_s")
      .select(col("event_id"), col("user_id"), to_timestamp(col("ts_s")).as("ts"))
    val right = Seq((100L, "2024-01-01 00:05:00", 5.0), (100L, "2024-01-01 00:10:00", 7.0))
      .toDF("user_id", "ts_s", "v")
      .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"), col("v"))
    val got = AsOf.join(left, right, "user_id", "ts", "ts", Seq("v"))
      .select("event_id", "v").as[(Long, java.lang.Double)].collect().toMap
    assert(got(1L) == 7.0) // equal-ts right row is eligible
    assert(got(2L) == null) // no right row at or before
  }

  test("sampling is monotone in fraction (threshold chain gives subset chain)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val chains = Seq(0.05, 0.2, 0.5, 0.9, 1.0).map { f =>
      f -> Sampling.deterministicSample(docs, "doc_id", f)
        .select("doc_id").as[Long].collect().toSet
    }
    chains.sliding(2).foreach { case Seq((fa, a), (fb, b)) =>
      assert(a.subsetOf(b), s"sample($fa) must be a subset of sample($fb)")
    }
    assert(chains.last._2.size == docs.count())
  }

  test("packSequences agrees with a sequential driver-side reference packing") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 500L).map(i => (i, "g" + (i % 3), 1 + rnd.nextInt(400)))
    val df = rows.toDF("doc_id", "grp", "n_tok")
    val got = Packing.packSequences(df, Seq("grp"), "doc_id", "n_tok", budget = 1000)
      .select("doc_id", "bin_id").as[(Long, Long)].collect().toMap
    val expected = rows.groupBy(_._2).flatMap { case (_, grp) =>
      var cum = 0L
      grp.sortBy(_._1).map { case (id, _, tok) =>
        val bin = cum / 1000; cum += tok; id -> bin
      }
    }
    assert(got == expected)
  }

  test("packSequences bins contiguously by token budget, boundary-split") {
    val df = Seq((1L, "a", 300), (2L, "a", 300), (3L, "a", 300), (4L, "a", 50),
        (5L, "b", 600))
      .toDF("doc_id", "grp", "n_tok")
    val got = Packing.packSequences(df, Seq("grp"), "doc_id", "n_tok", budget = 512)
      .select("doc_id", "bin_id").as[(Long, Long)].collect().toMap
    // doc1 starts at 0 -> bin 0; doc2 starts at 300 -> bin 0 (straddles);
    // doc3 starts at 600 -> bin 1; doc4 starts at 900 -> bin 1;
    // group b independent: doc5 starts at 0 -> bin 0
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L))
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // contains bench 4-gram
      (2L, "one two three four five six"),           // clean
      (3L, "x alpha beta gamma delta y"))            // contains it mid-doc
      .toDF("doc_id", "text")
    val bench = Seq((99L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
    // benchmark shorter than n contaminates nothing
    val keptAll = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 7)
      .select("doc_id").as[Long].collect().toSet
    assert(keptAll == Set(1L, 2L, 3L))
  }

  test("chunkTokens covers every token with the configured overlap") {
    val doc = (1 to 50).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val chunks = Text.chunkTokens(df, "doc_id", "text", chunkSize = 20, overlap = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    // 50 tokens, step 15 -> ceil(45/15) = 3 chunks at starts 1, 16, 31
    assert(d1.length == 3)
    assert(d1(0)._3.startsWith("w1 ") && d1(0)._4 == 20)
    assert(d1(1)._3.startsWith("w16 ") && d1(1)._4 == 20)
    assert(d1(2)._3.startsWith("w31 ") && d1(2)._4 == 20) // tokens 31..50
    // consecutive chunks overlap by 5 tokens
    assert(d1(0)._3.split(" ").takeRight(5).sameElements(d1(1)._3.split(" ").take(5)))
    // short docs yield exactly one whole-doc chunk
    assert(chunks.filter(_._1 == 2L).toSeq == Seq((2L, 0, "a b", 2)))
    assert(chunks.filter(_._1 == 3L).toSeq == Seq((3L, 0, "solo", 1)))
  }

  test("scrub applies ordered regex rules to all matches") {
    val df = Seq("user 12345 paid 99 at a@b.com", "no digits here").toDF("t")
    val got = df.select(Text.scrub(col("t"), Seq(
        "[0-9]+" -> "#",
        "[a-z]+@[a-z.]+" -> "<email>")).as("s"))
      .as[String].collect()
    assert(got(0) == "user # paid # at <email>")
    assert(got(1) == "no digits here")
  }

  test("rejectReason labels the first failing rule, NULL-safe, and agrees with split") {
    val df = Seq[(Integer, java.lang.Double, String)](
      (1, 50.0, "ok"), (2, null, "t"), (3, -5.0, "t"), (4, 500.0, null), (5, 50.0, null))
      .toDF("id", "v", "t")
    val rules = Seq(
      "null_v"  -> col("v").isNotNull,
      "v_low"   -> (col("v") >= 0.0),
      "v_high"  -> (col("v") <= 100.0),
      "null_t"  -> col("t").isNotNull)
    val got = df.withColumn("r", Quality.rejectReason(rules))
      .select("id", "r").as[(Int, String)].collect().toMap
    // first failing rule wins: row 4 fails v_high before null_t
    assert(got == Map(1 -> null, 2 -> "null_v", 3 -> "v_low", 4 -> "v_high", 5 -> "null_t"))
    // NULL reason <=> valid side of the conjunction split
    val (ok, bad) = Quality.split(df, rules.map(_._2).reduce(_ && _))
    assert(df.withColumn("r", Quality.rejectReason(rules)).where(col("r").isNull)
      .select("id").as[Int].collect().toSet == ok.select("id").as[Int].collect().toSet)
    assert(bad.count() == got.values.count(_ != null))
  }

  test("mixCorpora thins each source to its weight with provenance tags") {
    val a = (1L to 400L).map(i => (i, s"doc a$i")).toDF("doc_id", "text")
    val b = (1L to 100L).map(i => (i, s"doc b$i")).toDF("doc_id", "text")
    val mixed = Sampling.mixCorpora(Seq(("a", a, 0.25), ("b", b, 1.0)), "doc_id")
    val bySource = mixed.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySource("b") == 100L)
    assert(math.abs(bySource("a") - 100L) < 30, s"got ${bySource("a")}")
    intercept[IllegalArgumentException] {
      Sampling.mixCorpora(Seq(("a", a, 3.0)), "doc_id")
    }
  }

  test("deterministic sampling: partition-independent, fraction-accurate, stratified") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val n = docs.count().toDouble
    val half = Sampling.deterministicSample(docs, "doc_id", 0.5)
    val got = half.count().toDouble
    assert(math.abs(got / n - 0.5) < 0.07, s"sampled ${got / n}")
    // pure function of the data: identical under a different partitioning
    val reparted = Sampling.deterministicSample(docs.repartition(13), "doc_id", 0.5)
    assert(half.select("doc_id").exceptAll(reparted.select("doc_id")).isEmpty)
    assert(reparted.count() == got)
    // stratified: untouched strata stay complete, sampled stratum shrinks
    val strat = Sampling.stratifiedSample(docs, "lang", "doc_id", Map("en" -> 0.25))
    val byLang = strat.groupBy("lang").count().as[(String, Long)].collect().toMap
    val origByLang = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    origByLang.keys.filter(_ != "en").foreach(l => assert(byLang(l) == origByLang(l)))
    assert(byLang("en") < origByLang("en") / 2)
    // boundary fractions
    assert(Sampling.deterministicSample(docs, "doc_id", 1.0).count() == n)
    assert(Sampling.deterministicSample(docs, "doc_id", 0.0).count() == 0)
  }

  test("repetitionSignals flags degenerate repetition, not varied text") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),          // one 2-gram repeated
      (2L, "one two three four five six seven eight")) // all distinct
      .toDF("doc_id", "text")
    val got = Text.repetitionSignals(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (dup2a, top2a, dup3a, top3a) = got(1L)
    assert(dup2a == 0.8 && top2a == 1.0) // 5 bigrams, 1 distinct
    assert(dup3a == 0.75 && top3a == 1.0)
    val (dup2b, top2b, _, _) = got(2L)
    assert(dup2b == 0.0 && top2b == 1.0 / 7.0)
  }

  test("ngramJaccardPairsAuto equals the direct join on both corpus shapes") {
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // dense vocabulary (the synthetic corpus): auto must match direct
    val dense = Tables.documents(spark, sf)
    assert(triples(Dedup.ngramJaccardPairsAuto(dense, "doc_id", "text"))
      == triples(Dedup.ngramJaccardPairs(dense, "doc_id", "text")))
    // sparse vocabulary (every doc mints its own shingles + one dup pair):
    // auto picks the prefix path; results still identical (lossless)
    val sparse = ((0L until 40L).map(i =>
        (i, (0 until 20).map(j => s"d${i}w$j").mkString(" "))) :+
        (100L, (0 until 20).map(j => "d5w" + j).mkString(" ")))
      .toDF("doc_id", "text")
    assert(triples(Dedup.ngramJaccardPairsAuto(sparse, "doc_id", "text"))
      == triples(Dedup.ngramJaccardPairs(sparse, "doc_id", "text")))
    assert(triples(Dedup.ngramJaccardPairs(sparse, "doc_id", "text"))
      .exists { case (a, b, j) => a == 5L && b == 100L && j == 1.0 })

    // the route itself. sparse → prefix; the sf0.001 fixture sits near
    // the density boundary (ratio ~0.5), so the dense assertions use a
    // SATURATED corpus: 600 docs over a 12-word vocabulary — every
    // shingle frequent, the shape whose direct join is Σdf²-quadratic
    assert(Dedup.jaccardAutoRoute(sparse, "doc_id", "text") == "prefix")
    val vocab = IndexedSeq("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    val saturated = (0L until 600L).map { i =>
      (i, (0 until 30).map(j => vocab(((i * 31 + j * 7) % 12).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
    assert(Dedup.jaccardAutoRoute(saturated, "doc_id", "text") == "direct")
    assert(Dedup.jaccardAutoRoute(saturated, "doc_id", "text",
      maxCandidateEstimate = 1e3) == "capped")
    // Σdf² scaling: sampling a quarter of the docs must extrapolate
    // quadratically to the same route (estimate is (N/S)²-scaled)
    assert(Dedup.jaccardAutoRoute(saturated, "doc_id", "text",
      sampleDocs = 150, maxCandidateEstimate = 1e3) == "capped")
    // and the capped route produces the documented capped semantics
    val cappedOut = Dedup.ngramJaccardPairsAuto(saturated, "doc_id", "text",
      maxCandidateEstimate = 1e3, cappedMaxDf = 64)
    val cappedRef = Dedup.ngramJaccardPairsCapped(saturated, "doc_id", "text",
      n = 3, threshold = 0.5, maxDf = 64)
    assert(triples(cappedOut) == triples(cappedRef))
    // scale-free cap: with a relative fraction the effective maxDf is
    // max(floor, ceil(N * fraction)) — here max(8, 600*0.1) = 60
    val fracOut = Dedup.ngramJaccardPairsAuto(saturated, "doc_id", "text",
      maxCandidateEstimate = 1e3, cappedMaxDf = 8, cappedMaxDfFraction = 0.1)
    val fracRef = Dedup.ngramJaccardPairsCapped(saturated, "doc_id", "text",
      n = 3, threshold = 0.5, maxDf = 60)
    assert(triples(fracOut) == triples(fracRef))
    // the decision carries its measured inputs
    val dec = Dedup.jaccardRouteDecision(saturated, "doc_id", "text")
    assert(dec.nDocs == 600 && dec.route == "direct" && dec.estCandidates > 0)
    // the sample-only routes never pay the full corpus count (nDocs -1):
    // a prefix-routed 100 TB corpus costs one 2048-doc sample, not a scan
    val sparseDec = Dedup.jaccardRouteDecision(sparse, "doc_id", "text")
    assert(sparseDec.route == "prefix" && sparseDec.nDocs == -1L)
    // q76's surface contract: on the oracle corpus the default budget
    // routes to an EXACT shape (prefix or direct), which is what makes
    // q24's DuckDB SQL apply to the routed entry point verbatim
    val fixtureRoute = Dedup.jaccardAutoRoute(
      graft.Tables.documents(spark, sf), "doc_id", "text")
    assert(Set("prefix", "direct")(fixtureRoute),
      s"oracle corpus unexpectedly routed to $fixtureRoute")
  }

  test("jaccardRouteDecision memoizes per (plan, file listing) key") {
    val dir = tmpDir("routememo")
    (0L until 50L).map(i => (i, s"alpha beta gamma delta doc$i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    def docs = spark.read.parquet(s"$dir/docs")
    val c0 = Dedup.routeDecisionCount.get()
    val first = Dedup.jaccardRouteDecision(docs, "doc_id", "text")
    assert(Dedup.routeDecisionCount.get() == c0 + 1, "first call must decide")
    val second = Dedup.jaccardRouteDecision(docs, "doc_id", "text")
    assert(Dedup.routeDecisionCount.get() == c0 + 1,
      "identical (plan, listing, params) must reuse the memoized decision")
    assert(second == first)
    // different params → different key → fresh decision
    Dedup.jaccardRouteDecision(docs, "doc_id", "text", sampleDocs = 1024)
    assert(Dedup.routeDecisionCount.get() == c0 + 2)
    // rewriting the files underneath (same path, same plan) must
    // invalidate — the stale-decision trap a plan-only key would have
    (0L until 50L).map(i => (i, s"w$i x$i y$i z$i q$i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    Dedup.jaccardRouteDecision(docs, "doc_id", "text")
    assert(Dedup.routeDecisionCount.get() == c0 + 3,
      "a rewritten file listing must re-decide")
  }

  test("connectedComponents merges transitive chains to min-id labels") {
    // chain 1-2-3-4 (diameter 3, needs multi-round propagation) + pair 9-7
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 7L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("jaccard skew path (forced per-shingle join) equals the in-array path") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inArray = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
    // inArrayLimit = 1 pushes every posting list with df >= 2 through the
    // per-shingle self-join fallback
    val joined = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text", inArrayLimit = 1))
    assert(inArray.nonEmpty && inArray == joined)
  }

  test("connectedComponents fails loudly when maxIter is too small to converge") {
    withRddCleanup {
      val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
      intercept[IllegalStateException] {
        Dedup.connectedComponents(chain, maxIter = 1, driverLimit = 0L).collect()
      }
    }
  }

  test("connectedComponents: distributed fixpoint equals driver union-find") {
    withRddCleanup {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 7L), (100L, 1L),
        (50L, 60L), (60L, 70L), (70L, 50L)).toDF("doc_a", "doc_b")
      val small = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
      val dist = Dedup.connectedComponents(pairs, driverLimit = 0L)
        .as[(Long, Long)].collect().toMap
      assert(small == dist)
      assert(small(100L) == 1L && small(70L) == 50L)
    }
  }

  test("connectedComponents path choice: driver under the limit, distributed above") {
    withRddCleanup {
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
      // driver union-find materializes to a local relation — no distributed ops
      val driverPlan = Dedup.connectedComponents(pairs)
        .queryExecution.optimizedPlan.toString
      assert(driverPlan.contains("LocalRelation") && !driverPlan.contains("Join"),
        driverPlan)
      // driverLimit = 0 forces the distributed fixpoint, whose result is
      // rebased on the final round's checkpointed RDD (never a LocalRelation)
      val distPlan = Dedup.connectedComponents(pairs, driverLimit = 0L)
        .queryExecution.optimizedPlan.toString
      assert(distPlan.contains("LogicalRDD") && !distPlan.contains("LocalRelation"),
        distPlan)
    }
  }

  test("connectedComponents converges on a diameter-50 chain without raising maxIter") {
    withRddCleanup {
      // pure min-label propagation needs 50 rounds here; the pointer-jump
      // rounds (from round 3) halve label-chain depth per round, so the
      // default maxIter = 20 must suffice on the distributed path
      val chain = (0L until 50L).map(i => (i + 1, i)).toDF("doc_a", "doc_b")
      val got = Dedup.connectedComponents(chain, driverLimit = 0L)
        .as[(Long, Long)].collect().toMap
      assert(got.size == 51 && got.values.forall(_ == 0L), got.toSeq.sorted.take(5).toString)
    }
  }

  test("AsOf.join preserves a NULL payload value on the matched row") {
    // the matched right row (00:05) carries v = NULL; true as-of returns
    // NULL, not the older row's 1.0
    val left = Seq((1L, 100L, "2024-01-01 00:10:00")).toDF("event_id", "user_id", "ts_s")
      .select(col("event_id"), col("user_id"), to_timestamp(col("ts_s")).as("ts"))
    val right = Seq((100L, "2024-01-01 00:01:00", java.lang.Double.valueOf(1.0)),
        (100L, "2024-01-01 00:05:00", null.asInstanceOf[java.lang.Double]))
      .toDF("user_id", "ts_s", "v")
      .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"), col("v"))
    val got = AsOf.join(left, right, "user_id", "ts", "ts", Seq("v"))
      .select("v").as[java.lang.Double].head()
    assert(got == null)
  }

  test("saltedJoin rejects join types that would duplicate unmatched dim rows") {
    val f = Seq((1L, "x")).toDF("k", "a")
    val d = Seq((1L, "y")).toDF("k", "b")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(f, d, Seq("k"), saltFactor = 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(f, d, Seq("k"), saltFactor = 4, joinType = "full_outer")
    }
  }

  test("simhashPairs rejects maxHamming >= chunks (incomplete pigeonhole)") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 4, chunks = 4)
    }
  }

  test("IVF kNN recalls most brute-force neighbors") {
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val q = e.where(col("id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.knnBruteForce(q, e, k = 5))
    val ivf = pairs(Similarity.knnIvf(q, e, k = 5, nCells = 8, nProbe = 4))
    assert(exact.nonEmpty) // guard: 0 >= 0 would pass vacuously below
    assert((exact intersect ivf).size >= (exact.size * 0.5).toInt,
      s"recall ${(exact intersect ivf).size}/${exact.size}")
  }

  test("IVF-PQ recalls brute-force neighbors and is partitioning-invariant") {
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val q = e.where(col("id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.knnBruteForce(q, e, k = 5))
    // warm the IVF memo via knnIvf, then knnIvfPq over the SAME corpus
    // and cell count must reuse it (shared trainedIvf path) — no second
    // IVF sample/training job
    Similarity.knnIvf(q, e, k = 5, nCells = 8, nProbe = 4).count()
    val trained0 = Similarity.ivfTrainCount.get()
    val ivfpq = pairs(Similarity.knnIvfPq(q, e, k = 5, nCells = 8, nProbe = 4))
    assert(Similarity.ivfTrainCount.get() == trained0,
      "knnIvfPq re-trained an IVF index knnIvf had already fitted")
    assert(exact.nonEmpty)
    val recall = (exact intersect ivfpq).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall (${(exact intersect ivfpq).size}/${exact.size})")
    // deterministic under any input partitioning (sample is hash-ordered,
    // argmins are first-min, ranks tie-broken)
    val repart = pairs(Similarity.knnIvfPq(q, e.repartition(7), k = 5, nCells = 8, nProbe = 4))
    assert(repart == ivfpq)
    // codes are within each sub-codebook's range
    val pq = Similarity.buildPqIndex(e, m = 8, kSub = 16)
    val bad = Similarity.encodePq(e, pq)
      .select(posexplode(col("codes")).as(Seq("mm", "code")))
      .where(col("code") < 0 || col("code") >= 16)
    assert(bad.isEmpty)
  }

  test("IVF index save/load round-trips bit-exactly and probes identically") {
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val trained = Similarity.buildIvfIndex(e, nCells = 8)
    val path = tmpDir("ivf_idx") + "/index"
    Similarity.saveIvfIndex(trained, spark, path)
    val loaded = Similarity.loadIvfIndex(spark, path)
    assert(loaded.centroids.length == trained.centroids.length)
    assert(loaded.centroids.zip(trained.centroids).forall {
      case (a, b) => a.sameElements(b) // doubles round-trip parquet losslessly
    })
    val q = e.where(col("id") < 5)
    val a = Similarity.probeIvf(trained, q, e, k = 3, nProbe = 2)
    val b = Similarity.probeIvf(loaded, q, e, k = 3, nProbe = 2)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("knnIvfPersisted: first call trains + publishes, fresh session loads") {
    val dir = tmpDir("ivf_persist")
    val path = s"$dir/index"
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val q = e.where(col("id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet

    // cold path: no index on disk → train-once, publish, probe
    val first = pairs(Similarity.knnIvfPersisted(q, e, k = 3, path, nCells = 8, nProbe = 2))
    assert(new java.io.File(path).exists(), "index not published")
    assert(first == pairs(Similarity.knnIvf(q, e, k = 3, nCells = 8, nProbe = 2)))

    // warm path in a FRESH session (new session state, same JVM): loads
    // the persisted index and probes identically
    val s2 = spark.newSession()
    val e2 = Similarity.prepared(Tables.embeddings(s2, sf), "vec_id", "embedding")
    val again = pairs(Similarity.knnIvfPersisted(
      e2.where(col("id") < 5), e2, k = 3, path, nCells = 8, nProbe = 2))
    assert(again == first)

    // the DISK index is authoritative, not the in-JVM memo: publish an
    // index trained on a different (shifted) corpus to a second path and
    // the probe must follow THAT file's centroids exactly
    val shifted = Similarity.prepared(
      Tables.embeddings(spark, sf).withColumn("embedding",
        transform(col("embedding"), (x: org.apache.spark.sql.Column) => x * lit(-1.0))),
      "vec_id", "embedding")
    val custom = Similarity.buildIvfIndex(shifted, nCells = 8)
    val path2 = s"$dir/index2"
    Similarity.saveIvfIndex(custom, spark, path2)
    val viaPersisted = pairs(Similarity.knnIvfPersisted(q, e, k = 3, path2, nCells = 8, nProbe = 2))
    val viaExplicit = pairs(Similarity.probeIvf(custom, q, e, k = 3, nProbe = 2))
    assert(viaPersisted == viaExplicit)

    // cell-count mismatch = the corpus-derived sizing policy moved since
    // the index was published — a STALE index: retrained + republished
    // (never silently mis-probed with the wrong geometry)
    val reprobed = pairs(
      Similarity.knnIvfPersisted(q, e, k = 3, path, nCells = 4, nProbe = 2))
    assert(reprobed == pairs(Similarity.knnIvf(q, e, k = 3, nCells = 4, nProbe = 2)))
    assert(Similarity.loadIvfIndex(spark, path).nCells == 4,
      "mismatched-cell-count probe must republish the index at the new geometry")
    // the republish is atomic: the stale index was renamed aside, not
    // overwritten in place under the live path
    assert(new java.io.File(dir).list().exists(_.startsWith("index.old-")),
      "stale index was overwritten in place instead of published atomically")
  }

  test("IVF cache retrains when the files behind an identical plan change") {
    val dir = tmpDir("ivf_stale")
    def writeCorpus(shift: Double): Unit =
      Tables.embeddings(spark, sf)
        .withColumn("embedding",
          transform(col("embedding"), (x: org.apache.spark.sql.Column) => x + lit(shift)))
        .write.mode("overwrite").parquet(s"$dir/emb.parquet")
    def run(): Long = {
      val e = Similarity.prepared(
        spark.read.parquet(s"$dir/emb.parquet"), "vec_id", "embedding")
      Similarity.knnIvf(e.where(col("id") < 5), e, k = 3, nCells = 4, nProbe = 2).count()
    }
    writeCorpus(0.0)
    val t0 = Similarity.ivfTrainCount.get(); run()
    assert(Similarity.ivfTrainCount.get() == t0 + 1, "first run must train")
    run()
    assert(Similarity.ivfTrainCount.get() == t0 + 1,
      "unchanged files + identical plan must hit the cache")
    writeCorpus(1.0) // same path, same schema, same plan — different files
    run()
    assert(Similarity.ivfTrainCount.get() == t0 + 2,
      "rewritten files behind an identical plan must retrain, not reuse a stale index")
  }

  test("persisted IVF index detects a rewritten corpus and retrains in place") {
    val dir = tmpDir("ivf_fp")
    val idx = s"$dir/index"
    def writeCorpus(shift: Double): Unit =
      Tables.embeddings(spark, sf)
        .withColumn("embedding",
          transform(col("embedding"), (x: org.apache.spark.sql.Column) => x + lit(shift)))
        .write.mode("overwrite").parquet(s"$dir/emb.parquet")
    def run(): Long = {
      val e = Similarity.prepared(
        spark.read.parquet(s"$dir/emb.parquet"), "vec_id", "embedding")
      Similarity.knnIvfPersisted(e.where(col("id") < 5), e, k = 3, idx,
        nCells = 4, nProbe = 2).count()
    }
    writeCorpus(0.0)
    run()
    // the published index carries the corpus fingerprint
    val fp0 = Similarity.loadIvfIndex(spark, idx).corpusFp
    assert(fp0.nonEmpty, "published index must carry its corpus fingerprint")

    // the corpus is rewritten under the same path: the persisted index is
    // now stale, and probing it would use centroids trained on data that
    // no longer exists — the load must detect the mismatch and retrain,
    // republishing under the NEW fingerprint
    writeCorpus(1.0)
    val t0 = Similarity.ivfTrainCount.get()
    run()
    assert(Similarity.ivfTrainCount.get() == t0 + 1,
      "stale persisted index must retrain, not probe stale centroids")
    val fp1 = Similarity.loadIvfIndex(spark, idx).corpusFp
    assert(fp1.nonEmpty && fp1 != fp0, "republished index must carry the new fingerprint")

    // a second run against the republished index loads without retraining
    run()
    assert(Similarity.ivfTrainCount.get() == t0 + 1,
      "fingerprint-fresh index must load, not retrain")

    // a pre-fingerprint index file (no corpus_fp column) is trusted as-is
    val bare = Similarity.loadIvfIndex(spark, idx)
    import spark.implicits._
    bare.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(idx)
    val legacy = Similarity.loadIvfIndex(spark, idx)
    assert(legacy.corpusFp.isEmpty)
    run()
    // republishing would have stamped a fingerprint: the file still has
    // none, so the legacy index was trusted as-is (the in-JVM training
    // memo makes ivfTrainCount blind here — assert on the file)
    assert(Similarity.loadIvfIndex(spark, idx).corpusFp.isEmpty,
      "a fingerprint-less (legacy/ad-hoc) index is authoritative: no republish")
  }

  test("spanDupCoverage: cross-doc, within-doc, overlapping and short-doc cases") {
    val docs = Seq(
      (1L, "a b c d e f g h"),      // shares span [a b c d] with doc 2
      (2L, "x y a b c d z w"),
      (3L, "p q r s p q r s"),      // internal repetition, pos 0 == pos 4
      (4L, "short one"),            // < k tokens: no windows
      (5L, "m n o p q"),            // all windows unique
      (6L, "t1 t2 t3 t4 t5 u1 u2"), // overlapping dup windows pos 0,1 with doc 7
      (7L, "t1 t2 t3 t4 t5 v1 v2")
    ).toDF("doc_id", "text")
    val got = Dedup.spanDupCoverage(docs, "doc_id", "text", k = 4)
      .as[(Long, Int, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // (n_tokens, dup_spans, covered_tokens, dup_ratio)
    assert(got(1L) == ((8, 1L, 4L, 0.5)))
    assert(got(2L) == ((8, 1L, 4L, 0.5)))
    // within-doc repeat: hits at 0 and 4, disjoint intervals -> 8 covered
    assert(got(3L) == ((8, 2L, 8L, 1.0)))
    assert(got(4L) == ((2, 0L, 0L, 0.0)))
    assert(got(5L) == ((5, 0L, 0L, 0.0)))
    // overlapping hits 0,1: union covers tokens 0..4 -> 5, NOT 2*k=8
    assert(got(6L) == ((7, 2L, 5L, 5.0 / 7)))
    assert(got(7L) == ((7, 2L, 5L, 5.0 / 7)))
  }

  test("spanDupCoverage: xxhash64 and md5 span-key routes agree on the corpus") {
    val docs = Tables.documents(spark, sf)
    def run(key: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Dedup.spanDupCoverage(docs, "doc_id", "text", k = 8, spanKey = key)
        .orderBy(col("doc_id")).collect().toSeq
    assert(run(xxhash64(_)) == run(md5(_)),
      "span-key choice must not change coverage output")
  }

  test("dropSpanDuplicated keeps exactly the docs at or under the coverage threshold") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "x y a b c d z w"),
      (3L, "p q r s p q r s"), (4L, "short one"), (5L, "m n o p q"),
      (6L, "t1 t2 t3 t4 t5 u1 u2"), (7L, "t1 t2 t3 t4 t5 v1 v2")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropSpanDuplicated(docs, "doc_id", "text", k = 4, maxRatio = 0.5)
    assert(kept.columns.toSeq == Seq("doc_id", "text"), "survivors keep input schema")
    assert(kept.select(col("doc_id")).as[Long].collect().toSet == Set(1L, 2L, 4L, 5L))
  }

  test("LSH buckets use all embedding components (non-64-dim fixture)") {
    // two 128-dim vectors identical in the first 64 dims, opposed in the
    // upper 64: a truncated-to-64 bucketer can never separate them
    val lower = Seq.fill(64)(1.0)
    val v1 = lower ++ Seq.fill(64)(1.0)
    val v2 = lower ++ Seq.fill(64)(-1.0)
    val df = Seq((0L, v1), (1L, v2), (2L, v1)).toDF("id", "emb")
      .select(col("id"), col("emb"), Similarity.l2Norm(col("emb")).as("norm"))
    val planes = Similarity.hyperplanes(8, 128)
    val buckets = df.select(col("id"), Similarity.lshBucket(col("emb"), planes).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(buckets(0L) != buckets(1L), "opposed upper halves must bucket apart")
    assert(buckets(0L) == buckets(2L))
    // knnLsh infers dim from the data: the exact duplicate is found at rank 1
    val knn = Similarity.knnLsh(df.where(col("id") === 0), df, k = 2)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    assert(knn.contains((0L, 2L, 1)))
  }

  test("knnLshBanded: values exact, recall holds the collision-model target at fixture scale") {
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val qs = e.where(col("id") < 10)
    val bf = Similarity.knnBruteForce(qs, e, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val banded = Similarity.knnLshBanded(qs, e, k = 5, targetRecall = 0.7)
    // every reported cosine is the exact recomputation (6 dp grid)
    val joined = banded
      .join(e.select(col("id").as("query_id"), col("emb").as("qe"), col("norm").as("qn")), Seq("query_id"))
      .join(e.select(col("id").as("neighbor_id"), col("emb").as("ce"), col("norm").as("cn")), Seq("neighbor_id"))
    val badCos = joined.where(
      round(Similarity.cosine(col("qe"), col("ce"), col("qn"), col("cn")), 6) =!=
        round(col("cosine"), 6)).count()
    assert(badCos == 0)
    val hit = bf.join(banded.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / bf.count()
    // the parameter derivation promises ~targetRecall; allow sampling slack
    assert(recall >= 0.6, s"banded recall $recall < 0.6 at fixture scale")
    // duplicates from multi-table collisions are folded before the rerank
    val dup = banded.groupBy(col("query_id"), col("neighbor_id"))
      .count().where(col("count") > 1).count()
    assert(dup == 0)
  }

  test("knnLshBanded: ids-only probe/attach shape is partitioning-invariant (round-16 rewrite)") {
    // the §8 rewrite decides pairs on bare ids and re-attaches the
    // embeddings on a second scan: the result must not depend on how
    // either side happens to be partitioned
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val qs = e.where(col("id") < 10)
    def rows(q: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      Similarity.knnLshBanded(q, c, k = 5, targetRecall = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    val base = rows(qs, e)
    val shuffled = rows(qs.repartition(7), e.repartition(13))
    assert(base == shuffled, "banded kNN must be partitioning-invariant")
    assert(base.nonEmpty)
  }

  test("nearDupPairsBanded: precision exact; recall >= 0.5 vs brute-force truth") {
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val pairs = Similarity.nearDupPairsBanded(e, minCosine = 0.4, targetRecall = 0.7)
    val a = e.select(col("id").as("id_a"), col("emb").as("ea"), col("norm").as("na"))
    val b = e.select(col("id").as("id_b"), col("emb").as("eb"), col("norm").as("nb"))
    val truth = a.join(broadcast(b), col("id_a") < col("id_b"))
      .where(Similarity.cosine(col("ea"), col("eb"), col("na"), col("nb")) >= 0.4)
      .select(col("id_a"), col("id_b"))
    val nT = truth.count()
    val nP = pairs.count()
    val precise = pairs
      .join(a, Seq("id_a")).join(b, Seq("id_b"))
      .where(Similarity.cosine(col("ea"), col("eb"), col("na"), col("nb")) >= 0.4 &&
        col("id_a") < col("id_b")).count()
    assert(precise == nP, s"imprecise pairs: ${nP - precise}")
    val found = truth.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
    assert(found.toDouble / math.max(1, nT) >= 0.5,
      s"banded near-dup recall ${found.toDouble / nT} < 0.5 ($found/$nT)")
  }

  test("nearDupPairsPersisted: derives once, store read-back identical, stale θ re-derives") {
    val dir = tmpDir("embpairs")
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val before = Similarity.embedPairComputeCount.get()
    val first = Similarity.nearDupPairsPersisted(e, s"$dir/p", minCosine = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(Similarity.embedPairComputeCount.get() == before + 1)
    val second = Similarity.nearDupPairsPersisted(e, s"$dir/p", minCosine = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(Similarity.embedPairComputeCount.get() == before + 1, "second read must hit the store")
    assert(first == second)
    assert(first == Similarity.nearDupPairsBanded(e, minCosine = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    // a different θ is a different derivation: the store re-derives
    Similarity.nearDupPairsPersisted(e, s"$dir/p", minCosine = 0.45).count()
    assert(Similarity.embedPairComputeCount.get() == before + 2)
  }

  test("df-capped Jaccard equals exact above max df, restricts universe below") {
    val docs = Tables.documents(spark, sf)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5))
    // cap above any shingle's df: identical result (no shingle dropped)
    val capped = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.5, maxDf = Some(1000000)))
    assert(capped == exact && exact.nonEmpty)
    // tiny cap: exact duplicates (identical capped shingle sets) survive
    // with jaccard 1, since dropping stop-shingles drops them from both
    // sides and both sizes
    val tiny = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.5, maxDf = Some(2))
    val dupPairs = Dedup.exactGroups(docs, "doc_id", "text")
      .where(col("n_copies") >= 2).count()
    assert(dupPairs == 0 || tiny.where(col("jaccard") >= 0.999).count() > 0)
  }

  test("IVF index training is deterministic and probe matches assignment metric") {
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding")
    val i1 = Similarity.buildIvfIndex(e, nCells = 8)
    val i2 = Similarity.buildIvfIndex(e, nCells = 8)
    assert(i1.centroids.length == i2.centroids.length)
    assert(i1.centroids.zip(i2.centroids).forall { case (a, b) => a.sameElements(b) })
    // every candidate gets a cell in [0, nCells)
    val cells = Similarity.assignCells(e, i1).select("cell").as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < i1.nCells))
  }

  test("Skew.saltedJoin equals the plain join") {
    val ev = Tables.events(spark, sf)
    val cust = Tables.customer(spark, sf).withColumnRenamed("c_custkey", "user_id")
    val plain = ev.join(cust, Seq("user_id"), "inner")
      .groupBy("user_id").count()
    val salted = Skew.saltedJoin(ev, cust, Seq("user_id"), saltFactor = 8)
      .groupBy("user_id").count()
    assert(plain.exceptAll(salted).count() == 0 && salted.exceptAll(plain).count() == 0)
  }

  test("approximate sketches stay within error bounds of exact answers") {
    val ev = Tables.events(spark, sf)
    val hll = ev.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx"),
        countDistinct(col("user_id")).as("exact"))
      .collect()
    hll.foreach { r =>
      val (a, e) = (r.getAs[Long]("approx").toDouble, r.getAs[Long]("exact").toDouble)
      assert(math.abs(a - e) / e < 0.05, s"approx distinct off: $a vs $e")
    }
    // DDSketch carries a hard γ-relative guarantee: |est − true| ≤ α·|true|
    // for the value at the probed rank (α = 1%); the exact interpolated
    // percentile can sit between two data values, so allow 2α slack
    val dd = ops.Sketches.ddQuantiles(ev, "event_type", "value", Seq(0.5))
      .withColumnRenamed("est", "p50_dd")
      .join(ev.groupBy("event_type").agg(
        expr("percentile(value, 0.5)").as("p50_exact")), Seq("event_type"))
      .collect()
    assert(dd.nonEmpty)
    dd.foreach { r =>
      val (pa, pe) = (r.getAs[Double]("p50_dd"), r.getAs[Double]("p50_exact"))
      assert(math.abs(pa - pe) <= 0.02 * math.abs(pe) + 1e-9, s"dd p50 off: $pa vs $pe")
    }
  }

  test("cross-corpus Jaccard pairs equal the self-join restricted to cross pairs") {
    val docs = Tables.documents(spark, sf)
    val eval_ = docs.where(col("doc_id") % 5 === 0)
    val train = docs.where(col("doc_id") % 5 =!= 0)
    val across = Dedup.ngramJaccardPairsAcross(train, eval_, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the self-join emits (min,max)-ordered pairs over ALL docs; keep the
    // ones with exactly one eval-side member, re-directionalized
    val self = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) => (a % 5 == 0, b % 5 == 0) match {
        case (true, false) => Some((b, a))
        case (false, true) => Some((a, b))
        case _             => None
      }}.toSet
    assert(across == self, s"across=$across self=$self")
    assert(across.nonEmpty) // the corpus's dup seeding must cross the split
    // forcing every posting pair through the streamed skew path changes
    // the plan, never the result
    val skew = Dedup.ngramJaccardPairsAcross(train, eval_, "doc_id", "text",
        inArrayLimit = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(skew == across)
    // overlapping sides: a doc present in BOTH corpora must not emit a
    // jaccard-1.0 self-pair (either plan branch)
    for (lim <- Seq(512, 0)) {
      val overlap = Dedup.ngramJaccardPairsAcross(docs, eval_, "doc_id", "text",
          inArrayLimit = lim)
        .where(col("doc_a") === col("doc_b"))
      assert(overlap.isEmpty, s"self-pairs emitted at inArrayLimit=$lim")
    }
    // independent id spaces: excludeSameId=false keeps a genuine leak
    // whose ids happen to collide, either plan branch
    for (lim <- Seq(512, 0)) {
      val collide = Dedup.ngramJaccardPairsAcross(docs, eval_, "doc_id", "text",
          inArrayLimit = lim, excludeSameId = false)
        .where(col("doc_a") === col("doc_b")).count()
      assert(collide == eval_.count(),
        s"colliding-id leaks dropped despite excludeSameId=false at inArrayLimit=$lim")
    }
  }

  test("unigramLogProb ranks rare-token documents below common-token ones") {
    val docs = Seq(
      (1L, "the the the the the"),          // all max-frequency tokens
      (2L, "the the the zyxq the"),         // one singleton token
      (3L, "zyxq wvut qpon mlkj ihgf")      // all singletons
    ).toDF("doc_id", "text")
    val scored = ops.Text.unigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val lp = scored.map(_.getAs[Double]("logprob"))
    assert(lp(0) > lp(1) && lp(1) > lp(2), lp.toSeq.toString)
    assert(scored.forall(_.getAs[Long]("n_tokens") == 5L))
    // decimal-rounded per-token sum → partitioning cannot move the score
    val base = ops.Text.unigramLogProb(Tables.documents(spark, sf), "doc_id", "text")
    val shuffled = ops.Text.unigramLogProb(
      Tables.documents(spark, sf).repartition(13), "doc_id", "text")
    assert(base.exceptAll(shuffled).isEmpty && shuffled.exceptAll(base).isEmpty)
  }

  test("sketch family holds on the documents table (events-independent evidence)") {
    // round 7 lost the whole sketch family's round evidence to an
    // events-LOADER change; this pins the operators on a second table so
    // no single loader regression can blind the family again
    val docs = Tables.documents(spark, sf)
    val dd = ops.Sketches.ddQuantiles(docs, "lang", "n_chars", Seq(0.5))
      .join(docs.groupBy("lang").agg(
        expr("percentile(n_chars, 0.5)").as("exact")), Seq("lang"))
      .collect()
    assert(dd.nonEmpty)
    dd.foreach { r =>
      val (est, exact) = (r.getAs[Double]("est"), r.getAs[Double]("exact"))
      assert(math.abs(est - exact) <= math.max(0.02 * math.abs(exact), 1e-9),
        s"lang=${r.getAs[String]("lang")}: dd-est $est vs exact $exact")
    }
    val hll = docs.groupBy("lang")
      .agg(approx_count_distinct(col("source")).as("approx"),
        countDistinct(col("source")).as("exact"))
      .collect()
    hll.foreach { r =>
      val (a, e) = (r.getAs[Long]("approx").toDouble, r.getAs[Long]("exact").toDouble)
      // the default-rsd estimator sits right at 5% for the tiny source
      // cardinality here (19 vs 20) — 10% bounds the small-N regime
      assert(math.abs(a - e) / e <= 0.10, s"approx distinct off: $a vs $e")
    }
  }

  test("histQuantiles: absolute-error bound holds where DDSketch collapses") {
    // wide distribution: the guarantee is on the ORDER STATISTIC (the
    // interpolated percentile can sit past a bucket edge across a value
    // gap): v[⌊q(n−1)⌋] lies in the crossing bucket (est − w, est]
    val ev = Tables.events(spark, sf).where(col("value").isNotNull)
    val sortedByType = ev.select(col("event_type"), col("value").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val hq = ops.Sketches.histQuantiles(ev, Seq("event_type"), "value",
        Seq(0.5), nBuckets = 4096).collect()
    hq.foreach { r =>
      val vs = sortedByType(r.getAs[String]("event_type"))
      val w = (vs.last - vs.head) / 4096
      val vRank = vs(math.floor(0.5 * (vs.length - 1)).toInt)
      val est = r.getAs[Double]("est")
      assert(vRank > est - w - 1e-9 && vRank <= est + 1e-9,
        s"${r.getAs[String]("event_type")}: rank value $vRank outside " +
          s"(est-w, est] = (${est - w}, $est]")
    }
    // tightly-clustered far from zero — the case where DDSketch's
    // γ-relative buckets swallow the whole range: histogram stays exact
    // to bucket width, DDSketch does not
    val clustered = (0 until 1000).map(i => ("g", -3.5 + i * 0.0003))
      .toDF("g", "v")
    val h = ops.Sketches.histQuantiles(clustered, Seq("g"), "v", Seq(1.0 / 3, 2.0 / 3))
      .collect().map(r => r.getAs[Double]("quantile") -> r.getAs[Double]("est")).toMap
    val width = 0.0003 * 999 / 4096
    assert(math.abs(h(1.0 / 3) - (-3.5 + 333 * 0.0003)) <= width + 1e-9)
    assert(math.abs(h(2.0 / 3) - (-3.5 + 666 * 0.0003)) <= width + 1e-9)
    val dd = ops.Sketches.ddQuantiles(clustered, "g", "v", Seq(1.0 / 3, 2.0 / 3))
      .collect().map(r => r.getAs[Double]("quantile") -> r.getAs[Double]("est"))
    val ddErr = dd.map { case (q, est) =>
      math.abs(est - (-3.5 + math.floor(q * 999) * 0.0003)) }.max
    assert(ddErr > 10 * width, "DDSketch's relative buckets should be " +
      s"orders coarser than the histogram here (ddErr $ddErr vs width " +
      s"$width) — the motivating failure for histQuantiles")
    // partitioning-invariance (pure function of the multiset)
    val a = ops.Sketches.histQuantiles(clustered, Seq("g"), "v", Seq(0.5))
    val b = ops.Sketches.histQuantiles(clustered.repartition(17), Seq("g"), "v", Seq(0.5))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("ddQuantiles is partitioning-invariant (merge-order independence)") {
    val ev = Tables.events(spark, sf)
    val base = ops.Sketches.ddQuantiles(ev, "event_type", "value", Seq(0.5, 0.95, 0.99))
    val shuffled = ops.Sketches.ddQuantiles(
      ev.repartition(17, col("user_id")), "event_type", "value", Seq(0.5, 0.95, 0.99))
    assert(base.exceptAll(shuffled).isEmpty && shuffled.exceptAll(base).isEmpty)
    // signs: the zero and negative stores work too
    val mixed = ev.withColumn("value", col("value") - lit(100.0))
    val m = ops.Sketches.ddQuantiles(mixed, "event_type", "value", Seq(0.5))
      .join(mixed.groupBy("event_type").agg(
        expr("percentile(value, 0.5)").as("p50_exact")), Seq("event_type"))
      .collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val (pa, pe) = (r.getAs[Double]("est"), r.getAs[Double]("p50_exact"))
      assert(math.abs(pa - pe) <= 0.02 * math.abs(pe) + 0.05, s"mixed-sign p50 off: $pa vs $pe")
    }
  }

  test("Exact.dsum/davg equal plain sum/avg up to 1e-4 rounding") {
    val li = Tables.lineitem(spark, sf)
    val (ds, da, ps, pa) = li.select(
        Exact.dsum(col("l_extendedprice")).as("ds"), Exact.davg(col("l_extendedprice")).as("da"),
        sum(col("l_extendedprice")).as("ps"), avg(col("l_extendedprice")).as("pa"))
      .as[(Double, Double, Double, Double)].head()
    assert(math.abs(ds - ps) < 1e-2)
    assert(math.abs(da - pa) < 1e-4)
  }

  test("splitAssign partitions every row into a named split at ~fractions") {
    val docs = Tables.documents(spark, sf)
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val labeled = Sampling.splitAssign(docs, "doc_id", splits)
    val counts = labeled.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val n = docs.count()
    assert(counts.values.sum == n) // covering (no unnamed split)
    assert(counts.keySet.subsetOf(splits.map(_._1).toSet))
    val trainFrac = counts.getOrElse("train", 0L).toDouble / n
    assert(trainFrac > 0.6 && trainFrac < 0.95, s"train fraction $trainFrac")
    // deterministic: same assignment after a repartition
    val re = Sampling.splitAssign(docs.repartition(7), "doc_id", splits)
    assert(labeled.select("doc_id", "split").exceptAll(re.select("doc_id", "split")).isEmpty)
    assertThrows[IllegalArgumentException] {
      Sampling.splitAssign(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("zscore gates on group size: n=1 and NULL-key rows get NULL, never ±Inf/0.0") {
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), // real group
      ("b", 5.0),                          // n=1: (n-1)=0 denominator
      (null.asInstanceOf[String], 9.0))    // NULL group key
      .toDF("g", "v")
    val z = Normalize.zscore(df, "g", "v").collect()
      .map(r => (Option(r.getString(0)), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(z.size == 5, "NULL-key row must be preserved (left join)")
    assert(z.collect { case (Some("b"), _, zv) => zv } == Set(None))
    assert(z.collect { case (None, _, zv) => zv } == Set(None))
    val a = z.collect { case (Some("a"), v, zv) => (v, zv) }
    assert(a.forall(_._2.isDefined) && a.collect { case (2.0, Some(zv)) => zv } == Set(0.0))
  }

  test("token_entropy skips NULL elements instead of throwing") {
    graft.functions.GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT token_entropy(array('a', 'b', NULL, 'a'))").as[Double].head()
    val p1 = 2.0 / 3.0; val p2 = 1.0 / 3.0
    val want = -(p1 * math.log(p1) + p2 * math.log(p2))
    assert(math.abs(got - want) < 1e-12, s"$got vs $want")
  }

  test("intervalJoin rejects reserved temp columns and payload collisions loudly") {
    val l = Seq((1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("k", "ts", "x")
    val r = Seq((1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 2.0))
      .toDF("k", "rts", "x")
    val d = java.time.Duration.ofMinutes(5)
    assertThrows[IllegalArgumentException] { // payload "x" collides with left
      RangeJoin.intervalJoin(l, r, "k", "ts", "rts", d, d, Seq("x"))
    }
    assertThrows[IllegalArgumentException] { // reserved temp name on an input
      RangeJoin.intervalJoin(l.withColumnRenamed("x", "__graft_bkt"), r,
        "k", "ts", "rts", d, d, Seq.empty)
    }
  }

  test("decontaminateBloom equals exact decontamination") {
    val docs = Tables.documents(spark, sf)
    val bench = docs.where(col("doc_id") % 13 === 0)
    val exact = Dedup.decontaminate(docs, bench, "doc_id", "text", n = 8)
    val bloom = Dedup.decontaminateBloom(docs, bench, "doc_id", "text", n = 8)
    assert(bloom.count() == exact.count())
    assert(bloom.select("doc_id").exceptAll(exact.select("doc_id")).isEmpty)
    // a contaminated doc (a benchmark member shares its own shingles) is gone
    assert(bloom.where(col("doc_id") % 13 === 0 && length(col("text")) > 50).isEmpty)
  }

  test("rollingAvg: trailing frame warm-up and exact frame mean") {
    val df = Seq(
      (1L, "u1", 10.0), (2L, "u1", 20.0), (3L, "u1", 30.0),
      (4L, "u2", 5.0)).toDF("id", "user", "v")
    val got = Windows.rollingAvg(df, "user", Seq(col("id")), col("v"), frameRows = 2)
      .select("id", "rolling_avg", "n_frame")
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 10.0, 1L))) // warm-up: frame of one
    assert(got(1) == ((2L, 15.0, 2L)))
    assert(got(2) == ((3L, 25.0, 2L))) // row 1 left the trailing frame
    assert(got(3) == ((4L, 5.0, 1L)))  // partition isolation
  }

  test("zscore normalizes each group to mean 0, sample stddev 1") {
    val ev = Tables.events(spark, sf).select(
      col("event_id"), col("event_type"), col("value"))
    val z = Normalize.zscore(ev, "event_type", "value")
    val stats = z.groupBy("event_type")
      .agg(avg(col("value_z")).as("m"), stddev(col("value_z")).as("s"))
      .as[(String, Double, Double)].collect()
    assert(stats.nonEmpty)
    stats.foreach { case (t, m, sd) =>
      assert(math.abs(m) < 1e-9, s"group $t mean $m")
      assert(math.abs(sd - 1.0) < 1e-9, s"group $t stddev $sd")
    }
  }

  test("frequent-items sketch: exact when capacity covers vocab, MG guarantee under eviction") {
    graft.functions.GraftFunctions.register(spark)
    // exact regime: capacity >= distinct items -> true counts, stable order
    val docs = Seq.fill(30)("alpha") ++ Seq.fill(20)("beta") ++
      Seq.fill(10)("gamma") ++ Seq.fill(5)("delta")
    val df = docs.toDF("w").repartition(7) // partitioning must not matter here
    val exact = df.agg(call_function("topk_freq", col("w"), lit(16), lit(3)).as("top"))
      .select(explode(col("top")).as("t")).select("t.item", "t.cnt")
      .as[(String, Long)].collect()
    assert(exact.toSeq == Seq(("alpha", 30L), ("beta", 20L), ("gamma", 10L)))
    // eviction regime (capacity 2 over 4 distinct): the MG guarantee is
    // that any item with freq > n/(capacity+1) (= 65/3 ≈ 21.7) survives —
    // 'alpha' (30) must be reported; counts are lower bounds
    val sketched = df.agg(call_function("topk_freq", col("w"), lit(2), lit(2)).as("top"))
      .select(explode(col("top")).as("t")).select("t.item", "t.cnt")
      .as[(String, Long)].collect().toMap
    assert(sketched.contains("alpha"))
    assert(sketched("alpha") <= 30L)
    // grouped usage: per-group states are independent
    val grouped = Seq(("g1", "x"), ("g1", "x"), ("g1", "y"), ("g2", "z"))
      .toDF("g", "w")
      .groupBy("g").agg(call_function("topk_freq", col("w"), lit(8), lit(1)).as("top"))
      .select(col("g"), explode(col("top")).as("t")).select("g", "t.item")
      .as[(String, String)].collect().toMap
    assert(grouped == Map("g1" -> "x", "g2" -> "z"))
  }

  test("resampleFfill fills gaps with the last observed mean, grid bounded per entity") {
    import java.sql.Timestamp
    def ts(m: Int, s: Int = 0) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:$s%02d")
    val df = Seq(
      ("a", ts(0, 10), 10.0), ("a", ts(0, 40), 20.0), // minute 0: mean 15
      ("a", ts(3), 7.0),                              // minutes 1,2 are gaps
      ("b", ts(5), 1.0)                               // single-point entity
    ).toDF("k", "t", "v")
    val got = Windows.resampleFfill(df, "k", "t", "v")
      .select("k", "grid_ts", "value_ffill", "is_gap")
      .as[(String, Timestamp, Double, Boolean)].collect()
      .sortBy(r => (r._1, r._2.getTime))
    assert(got.map(r => (r._1, r._2)) ===
      Array(("a", ts(0)), ("a", ts(1)), ("a", ts(2)), ("a", ts(3)), ("b", ts(5)))
        .map(t => (t._1, t._2)))
    assert(got(0) == (("a", ts(0), 15.0, false)))
    assert(got(1) == (("a", ts(1), 15.0, true)))  // carried forward
    assert(got(2) == (("a", ts(2), 15.0, true)))
    assert(got(3) == (("a", ts(3), 7.0, false)))  // new observation resets
    assert(got(4) == (("b", ts(5), 1.0, false)))  // no cross-entity leakage
  }

  test("native token_entropy is bit-identical to the HOF fold") {
    val docs = Tables.documents(spark, sf)
    val a = Text.tokenEntropy(docs, "doc_id", "text")
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    val b = Text.tokenEntropyHof(docs, "doc_id", "text")
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case ((id1, n1, e1), (id2, n2, e2)) =>
      assert(id1 == id2 && n1 == n2)
      assert(java.lang.Double.doubleToRawLongBits(e1) ==
        java.lang.Double.doubleToRawLongBits(e2), s"doc $id1: $e1 vs $e2")
    }
    // degenerate repetition scores 0; uniform text scores ln(n)
    val fix = Seq((1L, "a a a a"), (2L, "w x y z")).toDF("doc_id", "text")
    val m = Text.tokenEntropy(fix, "doc_id", "text")
      .as[(Long, Int, Double)].collect().map(t => t._1 -> t._3).toMap
    assert(m(1L) == 0.0)
    assert(math.abs(m(2L) - math.log(4)) < 1e-6)
  }

  test("set-deduplicated Jaccard equals per-doc enumeration on a duplicate-heavy corpus") {
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val near = "alpha beta gamma delta epsilon zeta eta iota" // high overlap
    val other = "one two three four five six seven eight"
    val docs = Seq(
      (1L, dup), (2L, dup), (3L, dup),          // multiplicity 3
      (4L, near),
      (5L, other), (6L, other),                 // multiplicity 2, disjoint content
      (7L, "xy"), (8L, "xy")                    // < n tokens: empty shingle sets
    ).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val reference = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == reference)
    // within-set pairs at exactly 1.0, all orderings normalized
    assert(got.filter(_._3 == 1.0).map(t => (t._1, t._2)) ==
      Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L)))
    // cross-set near-dups replicate the representative score to every member
    val nearScores = got.filter(t => t._2 == 4L || t._1 == 4L)
    assert(nearScores.map(t => (t._1, t._2)) == Set((1L, 4L), (2L, 4L), (3L, 4L)))
    assert(nearScores.map(_._3).size == 1, "identical sets must carry identical scores")
    // empty shingle sets never pair (jaccard undefined, direct join emits nothing)
    assert(!got.exists(t => t._1 == 7L || t._2 == 7L || t._1 == 8L || t._2 == 8L))
  }

  test("intervalJoin equals the naive range join, boundaries inclusive") {
    import java.sql.Timestamp
    def ts(min: Int, sec: Int = 0) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:$sec%02d")
    val left = Seq((1L, "u1", ts(30)), (2L, "u1", ts(59)), (3L, "u2", ts(30)))
      .toDF("id", "k", "lts")
    val right = Seq(
      ("u1", ts(0), 1.0),   // exactly at lts-30min for id 1: inclusive
      ("u1", ts(29), 2.0),  // in window of 1 and 2
      ("u1", ts(30), 3.0),  // at lts of 1: inclusive; bucket boundary
      ("u1", ts(31), 4.0),  // after 1, in window of 2
      ("u2", ts(29), 5.0),  // other key
      ("u1", ts(0, 1), 6.0) // 1s past the id-2 window start? (29:01 cutoff) -> out for 2, out for 1? 10:00:01 >= 10:00:00 -> IN for 1
    ).toDF("k", "rts", "v")
    val got = RangeJoin.intervalJoin(left, right, "k", "lts", "rts",
        java.time.Duration.ofMinutes(30), java.time.Duration.ZERO, Seq("v"))
      .select("id", "v").as[(Long, Double)].collect().toSet
    val naive = left.join(right, Seq("k"))
      .where(col("rts") >= col("lts") - expr("INTERVAL 30 MINUTES") && col("rts") <= col("lts"))
      .select("id", "v").as[(Long, Double)].collect().toSet
    assert(got == naive)
    assert(got.contains((1L, 1.0)) && got.contains((1L, 3.0))) // both boundaries
    assert(!got.contains((2L, 1.0))) // outside the trailing window
    assert(got.contains((3L, 5.0)) && !got.contains((3L, 2.0))) // key isolation
  }

  test("tfidfTopTerms ranks rare-but-frequent terms over ubiquitous ones") {
    val df = Seq(
      (1L, "apple apple apple common common"),
      (2L, "banana common common common common"),
      (3L, "cherry grape common common common")).toDF("doc_id", "text")
    val top = Text.tfidfTopTerms(df, "doc_id", "text", topN = 2)
      .select("doc_id", "term", "rnk").as[(Long, String, Int)].collect()
    assert(top.count(_._1 == 1L) == 2)
    // 'common' appears in every doc → idf = ln(1) = 0 → never outranks
    // a distinctive term
    assert(top.find(t => t._1 == 1L && t._3 == 1).get._2 == "apple")
    assert(top.find(t => t._1 == 3L && t._3 == 1).get._2 == "cherry") // tie → term asc
    assert(top.forall(_._3 <= 2))
  }
}
