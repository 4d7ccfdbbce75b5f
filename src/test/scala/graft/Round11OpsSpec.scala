package graft

import org.apache.spark.sql.functions._

/** Randomized cross-checks for the round-11 additions: the histogram
  * nearest-rank quintile bucketing (q211's rewrite), the concat-then-
  * chunk packing stats (q229/q241), the waterfall decomposition
  * identity (q239), and the deterministic stratified sample (q236) —
  * each checked against a brute-force in-memory reference on seeded
  * random data (the Wave30OpsSpec discipline), so the
  * histogram/window/decomposition plumbing can't silently misalign. */
class Round11OpsSpec extends SparkSuite {
  import spark.implicits._

  private val rng = new scala.util.Random(20260816L)

  /** Brute-force nearest-rank quintile bucketing over integers:
    * boundary bᵢ = sorted(v)(⌈i·N/5⌉ − 1) ascending, bucket(v) =
    * 1 + #{i : v > bᵢ} — the exact semantics q211's histogram trick
    * claims. */
  private def bruteBuckets(vs: Seq[Int]): Map[Int, Int] = {
    val sorted = vs.sorted
    val n = vs.size
    val bs = (1 to 4).map(i => sorted(((i.toLong * n + 4) / 5).toInt - 1))
    vs.map(v => v -> (1 + bs.count(v > _))).toMap
  }

  test("histogram quintile boundaries == brute-force nearest-rank on random ints") {
    // mimic q211's boundary construction exactly, on a small random
    // integer domain with heavy ties (the case ntile gets wrong)
    for (trial <- 1 to 5) {
      val vs = Seq.fill(200 + rng.nextInt(300))(rng.nextInt(25))
      val df = vs.toDF("v")
      val hist = df.groupBy($"v").agg(count(lit(1)).cast("long").as("c"))
      val cum = hist.withColumn("cum",
          sum($"c").over(org.apache.spark.sql.expressions.Window.orderBy($"v")))
        .crossJoin(broadcast(hist.agg(sum($"c").cast("long").as("n"))))
      val bcols = (1 to 4).map(i =>
        min(when($"cum" >= floor((lit(i) * $"n" + 4) / 5).cast("long"), $"v"))
          .as(s"b$i"))
      val b = cum.agg(bcols.head, bcols.tail: _*).head()
      val bs = (0 until 4).map(b.getInt)
      val bucket = (v: Int) => 1 + bs.count(v > _)
      val want = bruteBuckets(vs)
      vs.distinct.foreach { v =>
        assert(bucket(v) == want(v),
          s"trial $trial value $v: histogram bucket ${bucket(v)} != brute ${want(v)}")
      }
    }
  }

  test("packing stats == sequential fold on random per-source docs") {
    val ctx = 256L
    val rows = for {
      src <- Seq("a", "b", "c")
      i <- 0 until (50 + rng.nextInt(100))
    } yield (src, i.toLong, (1 + rng.nextInt(400)).toLong)
    val df = rows.toDF("source", "doc_id", "toks")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val got = df
      .withColumn("before", coalesce(sum($"toks").over(w), lit(0L)))
      .withColumn("straddles",
        (floor($"before" / ctx) =!= floor(($"before" + $"toks" - 1) / ctx))
          .cast("long"))
      .groupBy($"source")
      .agg(sum($"straddles").as("n_straddle"), sum($"toks").as("total"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // sequential reference: walk each source's docs in doc_id order,
    // tracking the running offset
    val want = rows.groupBy(_._1).map { case (src, ds) =>
      var off = 0L; var straddle = 0L
      ds.sortBy(_._2).foreach { case (_, _, t) =>
        if (off / ctx != (off + t - 1) / ctx) straddle += 1
        off += t
      }
      src -> (straddle, off)
    }
    assert(got == want)
  }

  test("waterfall decomposition identity: volume + rate + interaction == total") {
    // the q239 algebra on random aggregates: for any (o97,o98,r97,r98),
    // Δo·rate97 + o97·Δrate + Δo·Δrate must equal Δrevenue exactly
    // (in exact arithmetic; here checked to 1e-6 of the double forms)
    for (_ <- 1 to 20) {
      val o97 = 1 + rng.nextInt(10000); val o98 = 1 + rng.nextInt(10000)
      val r97 = rng.nextDouble() * 1e8; val r98 = rng.nextDouble() * 1e8
      val rate97 = r97 / o97; val rate98 = r98 / o98
      val sum = (o98 - o97) * rate97 + o97 * (rate98 - rate97) +
        (o98 - o97) * (rate98 - rate97)
      assert(math.abs(sum - (r98 - r97)) < 1e-6 * math.max(1.0, math.abs(r98 - r97)),
        s"decomposition drifted: $sum vs ${r98 - r97}")
    }
  }

  test("q239 output satisfies the identity on real data") {
    val rows = SparkEntry.queries("q239_revenue_waterfall")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sum = r.getAs[Double]("volume_effect") +
        r.getAs[Double]("rate_effect") + r.getAs[Double]("interaction")
      val total = r.getAs[Double]("total_change")
      // components are independently rounded to 4 dp → ≤ 2e-4 slack
      assert(math.abs(sum - total) < 2e-4,
        s"${r.getAs[String]("c_mktsegment")}: $sum != $total")
    }
  }

  test("deterministic stratified sample: exact membership, stable across runs, no overflow") {
    // include ids ABOVE the naive formula's silent-overflow threshold
    // (doc_id ≳ 3.47e9, where doc_id * 2654435761 wraps a Long): the
    // round-12 two-step arithmetic must equal the TRUE (doc_id·K) mod
    // 2^32 — computed via BigInt here — at every magnitude
    val ids = (Seq.fill(2000)(math.abs(rng.nextLong()) % 1000000L) ++
      Seq.fill(500)(math.abs(rng.nextLong()))).distinct
    val df = ids.toDF("doc_id")
    // the q236 two-step modular hash (every intermediate < 2^49)
    val x = pmod($"doc_id", lit(4294967296L))
    val hiT = pmod(floor(x / 65536).cast("long") * 2654435761L, lit(4294967296L))
    val h = pmod(hiT * 65536L + pmod(x, lit(65536L)) * 2654435761L,
      lit(4294967296L))
    val got = df.where(pmod(h, lit(1000L)) < 100L)
      .collect().map(_.getLong(0)).toSet
    val want = ids.filter { id =>
      ((BigInt(id) * BigInt(2654435761L)) % BigInt(4294967296L)) % 1000 < 100
    }.toSet
    assert(got == want, "hash-sample membership diverges from the reference arithmetic")
    // rerun: identical (determinism — no RNG, no partitioning sensitivity)
    val again = df.repartition(7).where(pmod(h, lit(1000L)) < 100L)
      .collect().map(_.getLong(0)).toSet
    assert(again == got)
  }
}
