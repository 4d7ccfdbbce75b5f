package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-bucketed aggregation and ordered-window analytics
  * (SURVEY.md §2.6/§2.7 batch analogs: A1/A2/A4 windowed aggs;
  * plus sessionization, the classic event-stream batch operator).
  */
object Windows {

  /** Gaps-and-islands sessionization: a new session starts after `gapMin`
    * minutes of inactivity. Two narrow window functions over one
    * hash-partition by user — a single shuffle, no self-join. */
  def sessionize(df: DataFrame, userCol: String, tsCol: String, idCol: String, gapMin: Int): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    // exact integer microseconds (unix_micros), not seconds: a cast to long
    // truncates sub-second precision and mis-buckets boundary events
    val gap = unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(byUser))
    val brk = when(gap > gapMin * 60L * 1000000L, 1).otherwise(0)
    df.withColumn("brk", brk)
      .withColumn("session_id",
        sum(col("brk")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
      .drop("brk")
  }

  /** Session windows via Spark's native `session_window` (usable in batch
    * and — with a watermark — streaming). Semantics: events merge while
    * the gap to the previous event is strictly less than `gap`; the
    * session end is last-event + gap. Complements [[sessionize]] (which
    * yields explicit session ids and exact first/last timestamps). */
  def sessionWindows(df: DataFrame, entity: String, tsCol: String, gap: String): DataFrame =
    df.groupBy(col(entity), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(entity),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Top-N rows per group by a strict ordering (deterministic tie-break
    * columns required). Plans as WindowExec + Filter — at scale Spark's
    * rank-limit pushdown (WindowGroupLimit) keeps only N rows per group
    * per partition before the final sort. */
  def topNPerGroup(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column], n: Int): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(partCols: _*).orderBy(orderCols: _*)).cast("int"))
      .where(col("rn") <= n)

  /** Time-series resampling with forward fill — the gap-filling step of a
    * sensor/metrics pipeline: project each entity's event stream onto a
    * regular 1-minute grid spanning its observed range, carrying the last
    * known per-minute mean across empty minutes (`is_gap` marks grid
    * minutes with NO observation; a minute whose values are all NULL
    * counts as observed). The first grid row of every entity is an
    * observed minute by construction (the grid starts at the entity's
    * min event), so forward fill never reads before the series starts —
    * though its value can be NULL if that minute's values are all NULL.
    *
    * Shape: per-minute decimal-exact means (two-phase aggregate), a
    * per-entity bounds aggregate whose `sequence` explode generates the
    * grid (array length = span/step per ENTITY — bounded by time span,
    * not data volume; pick a coarser step for multi-year spans), one
    * left join grid⋈means, one forward-fill window partitioned by
    * entity. No driver collects, no global windows. */
  def resampleFfill(df: DataFrame, entity: String, tsCol: String,
                    valueCol: String): DataFrame = {
    // the observed-minute marker (not the mean) drives is_gap: a minute
    // whose values are all NULL is still an OBSERVED minute, not a grid
    // gap — and its ffilled value legitimately carries the prior mean
    // Round-16: stage the minute-grain aggregate. Its two consumers —
    // the grid subtree (bounds → explode) and the join's probe side —
    // each planned their own scan+aggregate of the raw input, and
    // exchange reuse cannot merge them: column pruning strips `__v`
    // from the bounds branch, so the two exchanges are no longer
    // identical subtrees (verified in the executed plan — two FileScans,
    // zero ReusedExchange). The staged frame is minute-grain (bounded by
    // span × entities, not row volume), so caching it costs far less
    // than the second raw-input pass it removes.
    val agg = Staged(df
      .groupBy(col(entity), date_trunc("minute", col(tsCol)).as("grid_ts"))
      .agg(Exact.davg(col(valueCol)).as("__v"), lit(true).as("__obs")))
    // bounds derive from the per-minute aggregate (date_trunc commutes
    // with min/max), not a second scan of the raw input
    val bounds = agg.groupBy(col(entity)).agg(
      min($"grid_ts").as("__lo"), max($"grid_ts").as("__hi"))
    val grid = bounds.select(col(entity),
      explode(sequence($"__lo", $"__hi", expr("INTERVAL 1 MINUTE"))).as("grid_ts"))
    val w = Window.partitionBy(col(entity)).orderBy($"grid_ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(agg, Seq(entity, "grid_ts"), "left")
      .withColumn("value_ffill", last($"__v", ignoreNulls = true).over(w))
      .withColumn("is_gap", $"__obs".isNull)
      .drop("__v", "__obs")
  }

  /** Trailing rolling-frame stats per entity: decimal-exact moving average
    * of `valueCol` over the last `frameRows` rows (inclusive) plus the
    * frame's row count (< frameRows during warm-up at each partition
    * head). `orderCols` must be a strict per-entity ordering (include a
    * tie-break id) or the frame contents are nondeterministic.
    *
    * One hash-partition by entity + one sort — the scale shape of per-key
    * feature backfill; no self-join, no state beyond the frame. The frame
    * sum is decimal-exact ([[Exact]] rationale: double accumulation order
    * differs between engines, decimal does not). */
  def rollingAvg(df: DataFrame, entity: String, orderCols: Seq[Column],
                 valueCol: Column, frameRows: Int,
                 outCol: String = "rolling_avg"): DataFrame = {
    val w = Window.partitionBy(col(entity)).orderBy(orderCols: _*)
      .rowsBetween(-(frameRows - 1L), Window.currentRow)
    df.withColumn(outCol,
        sum(valueCol.cast(org.apache.spark.sql.types.DecimalType(18, 4))).over(w)
          .cast("double") / count(valueCol).over(w))
      .withColumn("n_frame", count(valueCol).over(w))
  }

  /** Exponentially time-decayed mean per group — the freshness-weighted
    * aggregate a metrics/reputation pipeline publishes instead of the
    * all-history mean: each value weights by `2^(-age/halfLifeDays)`
    * with age measured back from the corpus' latest event, so a
    * half-life-old observation counts half. Null values are excluded
    * from BOTH sums (their weight must not dilute the mean).
    *
    * Shape: one 1-row max-timestamp broadcast onto the scan, then one
    * group-keyed aggregation with map-side partials — two passes over
    * the frame, no window, no shuffle beyond the final group key. Age
    * uses exact integer epoch-MICROSECONDS (`unix_micros`; DuckDB
    * `epoch_us`) so both engines see identical longs. exp() is the one
    * libm call (engines may differ by ~1 ulp): its ARGUMENT quantizes
    * to 6 dp (pure-double arithmetic, so identical) and the weight
    * rounds to 6 dp — at a 1e-6 grid the odds an ulp disagreement
    * straddles a rounding boundary are ~1e-10 per distinct timestamp
    * (at 1e-9 it measurably flaked: one boundary row at sf0.01). */
  def decayedMean(df: DataFrame, groupCol: String, tsCol: String,
                  valueCol: String, halfLifeDays: Double): DataFrame = {
    require(halfLifeDays > 0, s"halfLifeDays must be > 0: $halfLifeDays")
    val D = "decimal(28,12)"
    val ln2 = math.log(2.0)
    val maxTs = df.agg(max(unix_micros(col(tsCol))).as("__max_us"))
    val ageDays = ($"__max_us" - unix_micros(col(tsCol))) /
      lit(86400000000.0)
    val w = round(exp(round(lit(-ln2) * ageDays / lit(halfLifeDays), 6)), 6)
    df.where(col(valueCol).isNotNull)
      .crossJoin(broadcast(maxTs))
      .select(col(groupCol), col(valueCol).as("__v"), w.as("__w"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(round($"__v" * $"__w", 9).cast(D)).cast("double"), 9)
          .as("decayed_sum"),
        round(sum($"__w".cast(D)).cast("double"), 9).as("weight_sum"),
        round(sum($"__v".cast(D)).cast("double") / count(lit(1)), 9)
          .as("mean_raw"))
      .withColumn("mean_decayed",
        round($"decayed_sum" / $"weight_sum", 9))
  }
}
