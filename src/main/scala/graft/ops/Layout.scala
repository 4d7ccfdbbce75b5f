package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout operators: Z-order clustering, the storage-side lever
  * that lets parquet row-group statistics skip scans filtered on either
  * of two dimensions. */
object Layout {

  // ---- Z-order clustering: multi-dimensional data skipping ----------------
  //
  // Partitioning prunes on ONE column hierarchy and bucketing co-locates
  // ONE join key; a table filtered sometimes by time and sometimes by key
  // needs its row groups narrow in BOTH. Sorting by the Morton interleave
  // of bucketed dimension ranks keeps every file's min/max span small in
  // every interleaved dimension at once, so parquet row-group stats prune
  // scans for predicates on either — the standard lakehouse Z-ORDER,
  // expressed as a plain range-sorted write.

  /** Equi-width rank of an integral column over the corpus range
    * [lo, hi], scaled to EXACTLY `bits` significant bits: a bare shift
    * of (x - lo) — right when the range is wider than the budget, LEFT
    * when narrower. The left-scaling matters: interleaving a narrow
    * dimension's rank unscaled would park all its bits below the wide
    * dimension's, and the Z-curve would degenerate to a plain sort on
    * the wide one (measured: identical per-file spans). A shift has no
    * rounding edge for engines to disagree on (Spark's `/` on longs is
    * DOUBLE division), is identical in any engine, and is overflow-free
    * for the full long range. Equi-width, not equi-depth: rank cost is
    * two corpus scalars (min/max), and skew only degrades skipping,
    * never correctness. */
  def rankBucket(x: Column, lo: Long, hi: Long, bits: Int): Column = {
    require(bits >= 1 && bits <= 32, s"bits must be in [1,32]: $bits")
    if (hi <= lo) lit(0L)
    else {
      val s = rankShift(lo, hi, bits)
      if (s >= 0) shiftright(x.cast("long") - lit(lo), s).cast("long")
      else shiftleft(x.cast("long") - lit(lo), -s).cast("long")
    }
  }

  /** Morton Z-value of two rank columns (low 32 bits each): the native
    * codegen'd [[graft.functions.InterleaveBits]]. */
  def zValue(x: Column, y: Column): Column =
    call_function("interleave_bits", x.cast("long"), y.cast("long"))

  /** Shift [[rankBucket]] applies for range [lo, hi] at `bits`
    * (negative = left shift, scaling a narrow range UP to the budget) —
    * `length(bin(hi-lo)) - bits` in portable SQL terms, exposed so
    * oracle SQL and specs embed the identical integer arithmetic. */
  def rankShift(lo: Long, hi: Long, bits: Int): Int =
    if (hi <= lo) 0
    else (64 - java.lang.Long.numberOfLeadingZeros(hi - lo)) - bits

  /** Builtins-only reference form of [[zValue]] — the 32-term shift/mask
    * fold the native expression must equal bit-for-bit (spec-asserted,
    * same discipline as every native expression here). */
  def zValueRef(x: Column, y: Column): Column =
    (0 until 32).map { i =>
      val xb = shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
      val yb = shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      xb.bitwiseOR(yb)
    }.reduce(_ bitwiseOR _)

  /** Z-clustered parquet write: rank each dimension over its corpus
    * range (one min/max agg — two driver scalars, no sort), range-
    * partition by the interleaved Z-value (`numFiles` output files whose
    * Z-ranges don't overlap), locally sort, write. Filters on EITHER
    * dimension then skip most row groups via parquet min/max stats.
    * Returns the path. */
  def zOrderWrite(df: DataFrame, dimX: String, dimY: String, path: String,
                  numFiles: Int, bits: Int = 16): String = {
    val r = df.agg(min(col(dimX)).cast("long"), max(col(dimX)).cast("long"),
      min(col(dimY)).cast("long"), max(col(dimY)).cast("long")).head()
    val z = zValue(
      rankBucket(col(dimX), r.getLong(0), r.getLong(1), bits),
      rankBucket(col(dimY), r.getLong(2), r.getLong(3), bits))
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
    path
  }
}
