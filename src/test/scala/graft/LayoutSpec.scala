package graft

import org.apache.spark.sql.functions._
import graft.ops.Layout

/** Z-order layout: the native Morton interleave equals its reference
  * fold, ranks preserve order, and a Z-clustered write narrows per-file
  * spans in both dimensions. */
class LayoutSpec extends SparkSuite {

  test("native interleave_bits equals the builtins-only 32-term fold bit-for-bit") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"user_id",
        // exercise the full low-32-bit domain, not just small ranks
        xxhash64($"event_id").bitwiseAND(lit(0xFFFFFFFFL)).as("a"),
        xxhash64($"user_id", $"event_id").bitwiseAND(lit(0xFFFFFFFFL)).as("b"))
    val mism = ev.where(
      Layout.zValue($"a", $"b") =!= Layout.zValueRef($"a", $"b")).count()
    assert(mism == 0, s"$mism rows disagree with the reference fold")
    // spot-check the defining property on a known value
    val row = spark.range(1).select(
      Layout.zValue(lit(0xFFFFFFFFL), lit(0L)),
      Layout.zValue(lit(0L), lit(0xFFFFFFFFL)),
      Layout.zValue(lit(1L), lit(1L))).head()
    assert(row.getLong(0) == 0x5555555555555555L)
    assert(row.getLong(1) == 0xAAAAAAAAAAAAAAAAL)
    assert(row.getLong(2) == 3L)
  }

  test("rankBucket: shift-based ranks stay inside 2^bits and preserve order") {
    import spark.implicits._
    val df = spark.range(0, 100000).select(($"id" * 37 + 5).as("x"))
    val r = df.agg(min($"x"), max($"x")).head()
    val ranked = df.select($"x",
      Layout.rankBucket($"x", r.getLong(0), r.getLong(1), 8).as("rk"))
    assert(ranked.where($"rk" < 0 || $"rk" > 255).count() == 0)
    assert(ranked.select(countDistinct($"rk")).as[Long].head() > 128,
      "expected most of the 256 buckets used on a uniform domain")
    // monotone: rank order never inverts value order
    val sorted = ranked.as[(Long, Long)].collect().sortBy(_._1)
    val inv = sorted.zip(sorted.drop(1)).count { case (p, q) => p._2 > q._2 }
    assert(inv == 0, s"$inv rank inversions")
  }

  test("zOrderWrite clusters BOTH dimensions: per-file spans shrink vs a one-column sort") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val ev = Tables.events(spark, sf).select($"event_id", $"user_id")
    val nFiles = 16
    val zPath = tmpDir("zorder")
    Layout.zOrderWrite(ev, "user_id", "event_id", zPath, nFiles)
    // baseline: same file count, range-sorted by event_id only
    val linPath = tmpDir("linsort")
    ev.repartitionByRange(nFiles, $"event_id").sortWithinPartitions($"event_id")
      .write.mode("overwrite").parquet(linPath)
    def meanSpan(path: String, dim: String): Double = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max(col(dim)) - min(col(dim))).as("s"))
        .select($"s").as[Long].collect()
      spans.sum.toDouble / spans.length
    }
    // the linear layout is perfect on event_id and hopeless on user_id;
    // Z-order must be FAR better on user_id while giving up only a
    // bounded factor on event_id — the two-sided trade that makes scans
    // on either dimension skip most files
    val zUser = meanSpan(zPath, "user_id"); val linUser = meanSpan(linPath, "user_id")
    val zEvt = meanSpan(zPath, "event_id"); val linEvt = meanSpan(linPath, "event_id")
    assert(zUser < linUser / 2,
      f"z-order user_id span $zUser%.0f not < half of linear $linUser%.0f")
    assert(zEvt < linEvt * 16,
      f"z-order event_id span $zEvt%.0f lost too much vs linear $linEvt%.0f")
  }
}
