package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.ops.{Funnel, Incremental, Similarity, Text}

/** Third-wave operators: funnel (strictly-after chaining), cohort
  * retention (horizon-bounded state), PMI collocations (floor + total
  * semantics), int8 quantization (exactness + range), and incremental
  * delta dedup (status taxonomy + hash-route equality). */
class Wave3Spec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("funnel: steps chain on strictly increasing timestamps per user") {
    // u1 completes all 3 in order; u2 stops after click; u3's purchase
    // PRECEDES its click so step 3 must not count it; u4 starts at click
    // (no view) so it never enters the funnel.
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:01:00"), "click"),
      (1L, ts("2024-01-01 10:02:00"), "purchase"),
      (2L, ts("2024-01-01 11:00:00"), "view"),
      (2L, ts("2024-01-01 11:05:00"), "click"),
      (3L, ts("2024-01-01 12:00:00"), "view"),
      (3L, ts("2024-01-01 12:01:00"), "purchase"),
      (3L, ts("2024-01-01 12:02:00"), "click"),
      (4L, ts("2024-01-01 13:00:00"), "click"),
      (4L, ts("2024-01-01 13:01:00"), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .select($"step", $"n_users").as[(Int, Long)].collect().toSeq.sorted
    assert(got == Seq((1, 3L), (2, 3L), (3, 1L)), got.mkString(","))
  }

  test("funnel: same-timestamp events do NOT satisfy strictly-after") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click"))
      .select($"step", $"n_users").as[(Int, Long)].collect().toMap
    assert(got == Map(1 -> 1L, 2 -> 0L), got.toString)
  }

  test("cohortRetention: offsets and rates from first-event weeks") {
    // Weeks (Mondays): 2024-01-01, 2024-01-08, 2024-01-15.
    // u1 cohort w0, active w0+w2; u2 cohort w0, active w0 only;
    // u3 cohort w1, active w1+w2.
    val events = Seq(
      (1L, ts("2024-01-02 09:00:00")), (1L, ts("2024-01-16 09:00:00")),
      (2L, ts("2024-01-03 09:00:00")),
      (3L, ts("2024-01-09 09:00:00")), (3L, ts("2024-01-17 09:00:00"))
    ).toDF("user_id", "ts")
    val got = Funnel.cohortRetention(events, "user_id", "ts")
      .select(date_format($"cohort_week", "yyyy-MM-dd").as("cw"),
        $"week_offset", $"n_active", $"n_cohort")
      .as[(String, Int, Long, Long)].collect().toSet
    assert(got == Set(
      ("2024-01-01", 0, 2L, 2L), ("2024-01-01", 2, 1L, 2L),
      ("2024-01-08", 0, 1L, 1L), ("2024-01-08", 1, 1L, 1L)), got.toString)
  }

  test("cohortRetention: per-user state is weeks, not events") {
    // 500 events in one week for one user collapse to a single active week
    val burst = (1 to 500).map(i =>
      (9L, ts(f"2024-01-01 10:${i % 60}%02d:${i % 60}%02d")))
    val got = Funnel.cohortRetention(burst.toDF("user_id", "ts"),
      "user_id", "ts").collect()
    assert(got.length == 1 && got.head.getAs[Long]("n_active") == 1L)
  }

  test("cohortRetention: week offsets are calendar-true across a DST shift") {
    // In America/New_York the week boundary after 2024-03-10's
    // spring-forward sits 604800−3600 epoch-seconds past the previous
    // one; the old epoch/604800 formula floored that to offset 0,
    // collapsing week 1 into the cohort week. Timestamps are parsed
    // INSIDE the session (to_timestamp) so wall times are NY-local.
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val events = Seq((1L, "2024-03-05 09:00:00"), // cohort week Mon 03-04 (EST)
          (1L, "2024-03-12 09:00:00"))              // next week (EDT)
        .toDF("user_id", "ts_s")
        .select($"user_id", to_timestamp($"ts_s").as("ts"))
      val got = Funnel.cohortRetention(events, "user_id", "ts")
        .select($"week_offset").as[Int].collect().toSet
      assert(got == Set(0, 1), got.toString)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("pmiCollocations: floor prunes reporting but not the pair space") {
    // "a b" ×4 (below floor 5), "c d" ×5: with the floor at 5 only (c,d)
    // reports, and its PMI uses the FULL pair total (9), not 5.
    val docs = (Seq.fill(4)("a b") ++ Seq.fill(5)("c d"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = Text.pmiCollocations(docs, "text", minCount = 5L, topK = 10)
      .select($"w1", $"w2", $"n_pair", $"pmi".cast("double"))
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) == Seq(("c", "d", 5L)))
    // pmi = ln((5/9) / ((5/18)*(5/18))) computed with the same tree
    val expected = BigDecimal(math.log((5.0 / 9.0) / ((5.0 / 18.0) * (5.0 / 18.0))))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got.head._4 - expected) < 1e-12, s"${got.head._4} vs $expected")
  }

  test("int8QuantReport: codes stay in range, constant-zero dim is exact") {
    val vecs = Seq(
      (1L, Array(127.0f, 0.0f, 0.30f)),
      (2L, Array(-127.0f, 0.0f, -0.27f)),
      (3L, Array(63.0f, 0.0f, 0.11f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.int8QuantReport(vecs, "embedding")
      .select($"dim", $"scale".cast("double"), $"max_abs_err".cast("double"))
      .as[(Int, Double, Double)].collect().sortBy(_._1).toSeq
    // dim 0: scale 1.0, integral values quantize exactly
    assert(got(0) == ((0, 1.0, 0.0)), got(0).toString)
    // dim 1: constant zero — scale 0, zero error by the scale-0 rule
    assert(got(1) == ((1, 0.0, 0.0)), got(1).toString)
    // dim 2: error bounded by scale/2 (+ float→double noise margin)
    assert(got(2)._3 <= got(2)._2 / 2 + 1e-9, got(2).toString)
  }

  test("deltaDedupStatus: taxonomy on a constructed drop") {
    val mk = (id: Long, words: Seq[String]) => (id, words.mkString(" "))
    val w = (0 until 32).map(i => f"tok$i%02d") // 4 full tiles of 8
    val base = Seq(mk(1L, w), mk(2L, w.reverse)).toDF("doc_id", "text")
    val delta = Seq(
      mk(10L, w),                                   // exact copy
      mk(11L, w.take(24) ++ Seq("x1", "x2", "x3")), // 3/4 aligned tiles kept
      mk(12L, w.map(t => t + "z"))                  // every tile novel
    ).toDF("doc_id", "text")
    val got = Incremental.deltaDedupStatus(base, delta, "doc_id", "text",
        k = 8, nearFrac = 0.5)
      .select($"doc_id", $"status").as[(Long, String)].collect().toMap
    assert(got == Map(10L -> "exact_dup", 11L -> "near_dup", 12L -> "new"),
      got.toString)
  }

  test("kAnonSuppress: sub-k cells fold into one accounted row") {
    val rows = Seq(
      ("en", "s1"), ("en", "s1"), ("en", "s1"), // >= k
      ("de", "s2"), ("de", "s2"),               // below k
      ("fr", "s3")                              // below k
    ).map { case (l, s) => (l, s, 10L) }.toDF("lang", "source", "m")
    val got = graft.ops.Curate.kAnonSuppress(rows, Seq("lang", "source"),
        k = 3L, Seq(sum($"m").as("m_sum")))
      .select($"lang", $"source", $"n_rows", $"m_sum")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(
      ("en", "s1", 3L, 30L),
      ("__suppressed__", "__suppressed__", 3L, 30L)), got.toString)
    // every published row describes >= k rows or is the suppressed bucket
    assert(got.forall { case (l, _, n, _) => n >= 3 || l == "__suppressed__" })
  }

  test("kAnonSuppress: a lone sub-k cell pulls in the smallest survivor") {
    // {en/s1: 3, de/s2: 2}, k=3: folding only de/s2 would PUBLISH a
    // suppressed row of 2 people — complementary suppression must fold
    // en/s1 too, leaving one row describing all 5
    val rows = (Seq.fill(3)(("en", "s1")) ++ Seq.fill(2)(("de", "s2")))
      .map { case (l, s) => (l, s, 1L) }.toDF("lang", "source", "m")
    val got = graft.ops.Curate.kAnonSuppress(rows, Seq("lang", "source"),
        k = 3L, Seq(sum($"m").as("m_sum")))
      .select($"lang", $"source", $"n_rows", $"m_sum")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(("__suppressed__", "__suppressed__", 5L, 5L)), got.toString)
    // and when the sub-k mass alone reaches k, survivors stay published
    val rows2 = (Seq.fill(4)(("en", "s1")) ++ Seq.fill(2)(("de", "s2")) ++
      Seq.fill(2)(("fr", "s3"))).map { case (l, s) => (l, s, 1L) }
      .toDF("lang", "source", "m")
    val got2 = graft.ops.Curate.kAnonSuppress(rows2, Seq("lang", "source"),
        k = 3L, Seq(sum($"m").as("m_sum")))
      .select($"lang", $"source", $"n_rows")
      .as[(String, String, Long)].collect().toSet
    assert(got2 == Set(("en", "s1", 4L), ("__suppressed__", "__suppressed__", 4L)),
      got2.toString)
  }

  test("kAnonSuppress: a corpus whose total is below k is one suppressed row") {
    // every cell sub-k AND the whole corpus sub-k: nothing finer than a
    // single all-mass suppressed row may publish
    val rows = (Seq.fill(2)(("en", "s1")) ++ Seq.fill(1)(("de", "s2")))
      .map { case (l, s) => (l, s, 1L) }.toDF("lang", "source", "m")
    val got = graft.ops.Curate.kAnonSuppress(rows, Seq("lang", "source"),
        k = 100L, Seq(sum($"m").as("m_sum")))
      .select($"lang", $"source", $"n_rows", $"m_sum")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(("__suppressed__", "__suppressed__", 3L, 3L)), got.toString)
  }

  test("kAnonSuppress guards: non-string keys rejected, sentinel reserved") {
    // numeric key: masking would coerce the schema — reject at call time
    val numKey = Seq((1L, 1L), (1L, 2L)).toDF("g", "m")
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Curate.kAnonSuppress(numKey, Seq("g"), 1L,
        Seq(sum($"m").as("m_sum")))
    }
    assert(e1.getMessage.contains("must be STRING"), e1.getMessage)
    // a genuine published key equal to the sentinel would merge real
    // sub-k mass into a published row — the plan must raise, not merge
    // both groups >= k so neither folds: the genuine sentinel group
    // reaches the publish path, where the guard must fire
    val clash = (Seq.fill(5)("__suppressed__") ++ Seq.fill(3)("de"))
      .map(g => (g, 1L)).toDF("g", "m")
    val e2 = intercept[Exception] {
      graft.ops.Curate.kAnonSuppress(clash, Seq("g"), 3L,
        Seq(sum($"m").as("m_sum"))).collect()
    }
    assert(e2.getMessage.contains("reserved sentinel"), e2.getMessage)
  }

  test("dpNoisyCounts: deterministic, finite, and key-dependent") {
    val df = (1 to 100).map(i => s"k${i % 7}").toDF("k")
    def run() = graft.ops.Curate.dpNoisyCounts(df, "k", epsilon = 1.0,
        seed = "s").select($"k", $"true_count", $"noisy_count".cast("double"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    val a = run()
    assert(a == run(), "same seed must reproduce the release")
    assert(a.forall(r => !r._3.isNaN && !r._3.isInfinite))
    // noise is bounded in probability but never exactly zero here, and
    // a different seed gives a different draw
    val b = graft.ops.Curate.dpNoisyCounts(df, "k", epsilon = 1.0,
        seed = "other").select($"noisy_count".cast("double"))
      .as[Double].collect().sorted.toSeq
    assert(a.map(_._3).sorted != b, "seed must perturb the draw")
    // epsilon scales the noise magnitude: tighter epsilon -> larger |noise|
    val tight = graft.ops.Curate.dpNoisyCounts(df, "k", epsilon = 0.1,
        seed = "s").select($"true_count", $"noisy_count".cast("double"))
      .as[(Long, Double)].collect()
    val loose = a.map(r => math.abs(r._3 - r._2)).sum
    assert(tight.map(r => math.abs(r._2 - r._1)).sum > loose * 5.0)
  }

  test("appendAssign: membership matches a full re-export, positions continue") {
    import graft.ops.Shard
    val base = (1L to 30L).toDF("id")
    val delta = (101L to 115L).toDF("id")
    val baseCounts = Shard.shardAssign(base, "id", 4, "s")
      .groupBy($"shard").agg(count(lit(1)).as("n_rows"))
    val appended = Shard.appendAssign(baseCounts, delta, "id", 4, "s")
      .select($"id", $"shard", $"pos").as[(Long, Int, Long)].collect().toSeq
    // membership is the pure mod rule — identical to where a full
    // re-export of (base ∪ delta) would place each delta doc
    val full = Shard.shardAssign(base.unionByName(delta), "id", 4, "s")
      .select($"id", $"shard").as[(Long, Int)].collect().toMap
    assert(appended.forall { case (id, sh, _) => full(id) == sh })
    // per shard: positions are contiguous starting at the base count
    val baseN = baseCounts.select($"shard", $"n_rows")
      .as[(Int, Long)].collect().toMap
    appended.groupBy(_._2).foreach { case (sh, rows) =>
      val ps = rows.map(_._3).sorted
      assert(ps == (baseN.getOrElse(sh, 0L) until
        baseN.getOrElse(sh, 0L) + ps.size).toSeq, s"shard $sh: $ps")
    }
  }

  test("deflate_ratio: codegen matches direct zlib, repetition compresses") {
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq(
      (1L, "a a a a a a a a a a a a a a a a a a a a a a a a"),
      (2L, "the quick brown fox jumps over a lazy dog tonight quietly"),
      (3L, ""),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val got = rows.select($"id",
        call_function("deflate_ratio", $"text").as("r"))
      .as[(Long, Option[Double])].collect().toMap
    // expression result == the direct static computation (same path the
    // generated code calls — pins the codegen contract)
    assert(got(1L).get ==
      graft.functions.GraftCompress.ratio(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "a a a a a a a a a a a a a a a a a a a a a a a a")))
    // degenerate repetition compresses far below natural prose
    assert(got(1L).get < got(2L).get - 0.2, s"${got(1L)} vs ${got(2L)}")
    assert(got(3L).get == 1.0, "empty input defines ratio 1.0")
    assert(got(4L).isEmpty, "null propagates")
  }

  test("zipf fit recovers a planted power law") {
    // corpus where token t_r appears round(1000/r) times: slope ≈ -1
    val toks = (1 to 50).flatMap(r => Seq.fill(math.round(1000.0 / r).toInt)(f"t$r%02d"))
    val docs = toks.grouped(100).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    // drive the REAL registered query against a fixture table dir
    val dir = tmpDir("zipf")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = SparkEntry.queries("q124_zipf_fit")(spark, dir)
      .collect().head
    val slope = row.getAs[Double]("zipf_slope")
    assert(row.getAs[Long]("n_points") == 50L)
    assert(math.abs(slope - (-1.0)) < 0.05, s"planted Zipf slope $slope")
  }

  test("poissonBootstrapCI: mean inside CI, deterministic, partitioning-free") {
    import graft.ops.Sampling
    val docs = (1L to 400L).map(i => (i, (i % 37) + 5)).toDF("id", "v")
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.poissonBootstrapCI(df, "id", "v", b = 100, seed = "t")
        .as[(Double, Double, Double, Int)].collect().head
    val (mean, lo, hi, b) = run(docs)
    assert(b == 100 && lo < mean && mean < hi && hi - lo > 0, s"$mean [$lo,$hi]")
    // the draw is a pure function of (seed, rep, id): any partitioning
    // gives the identical interval
    assert(run(docs.repartition(7)) == ((mean, lo, hi, b)))
    // a different seed moves the replicate draw (interval shifts)
    val other = Sampling.poissonBootstrapCI(docs, "id", "v", 100, "u")
      .as[(Double, Double, Double, Int)].collect().head
    assert((other._2, other._3) != ((lo, hi)))
  }

  test("deltaDedupStatus: xxhash64 and md5 tile routes agree") {
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val delta = base.where($"doc_id" % 3 === 0)
      .select(($"doc_id" + 9000L).as("doc_id"),
        concat($"text", lit(" tail")).as("text"))
    def run(key: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Incremental.deltaDedupStatus(base, delta, "doc_id", "text",
          k = 8, nearFrac = 0.5, tileKey = key)
        .select($"doc_id", $"n_tiles", $"n_tiles_in_base", $"status")
        .as[(Long, Long, Long, String)].collect().toSet
    assert(run(xxhash64(_)) == run(md5(_)))
  }
}
