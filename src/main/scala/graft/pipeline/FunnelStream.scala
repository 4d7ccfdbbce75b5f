package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** One user's funnel event (projected, typed). */
case class FunnelEvent(user_id: Long, ts_micros: Long, step_idx: Int)

/** Funnel event that KEEPS its event-time column, so the
  * disorder-tolerant variant can carry a watermark and take event-time
  * timeouts ([[FunnelStream.progressBuffered]]). */
case class FunnelEventT(user_id: Long, ts: java.sql.Timestamp, step_idx: Int)

/** A user's funnel progress after a batch: `step_reached` is the number
  * of completed steps (0 = not entered), `ts_micros` the completion time
  * of the LAST reached step. Emitted only when a batch ADVANCES the
  * user, so the stream is an append-only progress log. */
case class FunnelProgress(user_id: Long, step_reached: Int, ts_micros: Long)

/** Streaming funnel tracking — the live face of [[graft.ops.Funnel]]:
  * per user, how far along the step sequence they are, updated as events
  * arrive. Batch funnel answers "how many converted"; this answers
  * "who just converted" while it happens (trigger an action on step-3
  * completion, not in tomorrow's rollup).
  *
  * Semantics = the batch operator's greedy strictly-after chain, applied
  * in event-time order: step i completes at the first event of type
  * steps(i) with ts strictly after step i−1's completion. For an
  * IN-ORDER stream (event time monotone per user across batches, as the
  * `cardinality` scenario of [[graft.tools.Soak]] replays it) this equals
  * the batch result exactly (FunnelStreamSpec pins cross-batch parity). An
  * out-of-order event that arrives AFTER its step window was passed
  * cannot retroactively improve the chain — the state keeps completion
  * times only (k longs per user), not the event history an exact
  * out-of-order recomputation would need; that trade is the whole
  * reason the state is bounded. For the reordering a real event bus
  * produces, [[progressBuffered]] buffers each user's events inside the
  * watermark horizon and folds them only once finalized — exact batch
  * parity under any disorder bounded by the watermark delay, at the
  * cost of `delay` emission latency and a horizon-bounded buffer.
  *
  * Scale: state = (k+1) longs per user, NoTimeout (the user population
  * is the key domain, same posture as [[BudgetAdmission]]'s per-source
  * longs); each batch sorts only its own per-user slice. Emission is
  * append-only and only on progress, so the sink is a compact event log
  * (latest row per user = current position).
  */
object FunnelStream {

  /** Per-user state: completion time (micros) per step, -1 = unreached. */
  case class FunnelState(times: Seq[Long])

  /** [[progressBuffered]]'s per-user state: completion times plus the
    * not-yet-finalized (ts_micros, step_idx) buffer — events the
    * watermark has not passed, which a straggler could still reorder. */
  case class BufferedFunnelState(times: Seq[Long], buf: Seq[(Long, Int)])

  /** Project a raw event frame (static or streaming) onto typed funnel
    * events; rows whose type is not a funnel step drop here, map-side,
    * so the stateful operator only ever sees relevant events. */
  def funnelEvents(df: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, steps: Seq[String]): Dataset[FunnelEvent] = {
    implicit val enc = Encoders.product[FunnelEvent]
    val stepIdx = steps.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when(col(typeCol) === s, i).otherwise(acc) }
    df.select(col(userCol).cast("long").as("user_id"),
        unix_micros(col(tsCol)).as("ts_micros"),
        stepIdx.as("step_idx"))
      .where(col("step_idx") >= 0)
      .as[FunnelEvent]
  }

  /** [[progressBuffered]]'s projection: same step mapping as
    * [[funnelEvents]] but the event-time column survives, and the
    * watermark (`delay` = the disorder bound the pipeline tolerates) is
    * attached here so the stateful operator can take event-time
    * timeouts. */
  def funnelEventsWatermarked(df: DataFrame, userCol: String, tsCol: String,
                              typeCol: String, steps: Seq[String],
                              delay: String): Dataset[FunnelEventT] = {
    implicit val enc = Encoders.product[FunnelEventT]
    val stepIdx = steps.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when(col(typeCol) === s, i).otherwise(acc) }
    df.select(col(userCol).cast("long").as("user_id"),
        col(tsCol).as("ts"), stepIdx.as("step_idx"))
      .where(col("step_idx") >= 0)
      .withWatermark("ts", delay)
      .as[FunnelEventT]
  }

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L

  /** Disorder-tolerant progress: EXACT batch semantics for any stream
    * whose reordering is bounded by the watermark delay — the hardening
    * [[progress]]'s in-order precondition asks for. Incoming events are
    * BUFFERED per user until the watermark passes them (nothing earlier
    * can then still be admitted — Spark drops sub-watermark rows before
    * the stateful operator), and only finalized events fold into the
    * greedy chain, in event-time order. A quiet user's buffer drains via
    * an event-time timeout, so finalization never waits for that user's
    * next event.
    *
    * State per user = k completion longs + the events inside the
    * disorder horizon (watermark-bounded — the buffer holds at most the
    * user's events from the last `delay` of event time, NOT history).
    * Emission is delayed by up to `delay` relative to [[progress]] —
    * the standard completeness/latency trade, chosen per funnel by the
    * caller. */
  def progressBuffered(events: Dataset[FunnelEventT],
                       nSteps: Int): Dataset[FunnelProgress] = {
    require(nSteps >= 1, s"nSteps must be >= 1: $nSteps")
    implicit val stateEnc = Encoders.product[BufferedFunnelState]
    implicit val outEnc = Encoders.product[FunnelProgress]
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[BufferedFunnelState, FunnelProgress](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmMicros = wmMs * 1000L
          val st = state.getOption
            .getOrElse(BufferedFunnelState(Seq.fill(nSteps)(-1L), Seq.empty))
          // same restart-reconciliation rule as the in-order variant
          val times = {
            val a = st.times.toArray
            if (a.length == nSteps) a else a.take(nSteps).padTo(nSteps, -1L)
          }
          val all = st.buf ++
            rows.map(r => (micros(r.ts), r.step_idx)).toSeq
          // strictly below the watermark = finalized: any straggler the
          // watermark still admits has ts >= wm, so folding < wm in
          // event-time order is exact
          val (fin, buf) = all.partition(_._1 < wmMicros)
          val before = times.count(_ >= 0)
          fin.sorted.foreach { case (t, i) =>
            if (i < nSteps && times(i) < 0 &&
                (i == 0 || (times(i - 1) >= 0 && t > times(i - 1))))
              times(i) = t
          }
          val after = times.count(_ >= 0)
          state.update(BufferedFunnelState(times.toSeq, buf))
          if (buf.nonEmpty)
            // wake when the watermark passes the oldest buffered event
            // (must exceed the CURRENT watermark by contract)
            state.setTimeoutTimestamp(
              math.max(wmMs + 1L, buf.map(_._1).min / 1000L + 1L))
          if (after > before)
            Iterator(FunnelProgress(user, after, times(after - 1)))
          else Iterator.empty
      }
  }

  /** The progress transform (unstarted). Append output: one row per
    * (user, batch) in which the user advanced at least one step. */
  def progress(events: Dataset[FunnelEvent], nSteps: Int): Dataset[FunnelProgress] = {
    require(nSteps >= 1, s"nSteps must be >= 1: $nSteps")
    implicit val stateEnc = Encoders.product[FunnelState]
    implicit val outEnc = Encoders.product[FunnelProgress]
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          // reconcile restored state with the CURRENT funnel depth: a
          // restart may lengthen the funnel (pad new steps unreached) or
          // shorten it (drop the tail) — without this, a checkpoint from
          // a 3-step run crashes a 4-step restart on the array index
          val times = state.getOption.map(_.times.toArray)
            .map(a => if (a.length == nSteps) a
                      else a.take(nSteps).padTo(nSteps, -1L))
            .getOrElse(Array.fill(nSteps)(-1L))
          val before = times.count(_ >= 0)
          // event-time order within the batch; state carries order
          // across batches for an in-order stream
          rows.toSeq.sortBy(r => (r.ts_micros, r.step_idx)).foreach { r =>
            val i = r.step_idx
            if (i < nSteps && times(i) < 0 &&
                (i == 0 || (times(i - 1) >= 0 && r.ts_micros > times(i - 1))))
              times(i) = r.ts_micros
          }
          val after = times.count(_ >= 0)
          state.update(FunnelState(times.toSeq))
          if (after > before)
            Iterator(FunnelProgress(user, after, times(after - 1)))
          else Iterator.empty
      }
  }
}
