package graft.ops

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Caller-scoped release for operator-staged frames.
  *
  * The rule for a `Staged(...)` site: it stays only while a measurement
  * shows that it saves work. Without it, for some query that reaches it,
  * a shuffle must re-run (more than 1% more shuffle bytes written), more
  * parquet files must be scanned without a matching speed-up, or the
  * query must get slower at sf0.01 or sf0.1. Having several consumers
  * is not by itself a reason: within one query, Spark's exchange reuse
  * already runs a subtree shared up to a shuffle only once, while a lazy
  * persist adds a job and a task pass of its own. Every site names what
  * it saves in a comment, and no answer may depend on a staged frame:
  * `StagedAnswersSpec` releases every one before the action and expects
  * the same rows.
  *
  * A staged frame stays cached until released, and the operator RETURNS
  * a lazy frame, so it cannot unpersist before the caller's action
  * without forfeiting the staging. Fire-and-forget persists are fine
  * under a batch driver that clears the cache between queries, but a
  * long-lived interactive session running these operators repeatedly
  * accumulates storage-memory pressure until eviction thrashes.
  *
  * `Staged(df)` persists AND registers the frame; the caller releases
  * every frame staged since the last release with [[releaseAll]], or
  * scopes a run-and-consume block with [[scoped]]:
  *
  * {{{
  *   Staged.scoped {
  *     Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.7).count()
  *   } // staged posting lists unpersisted here
  * }}}
  *
  * Release must come AFTER the consuming action — unpersisting earlier
  * is correctness-neutral (Spark recomputes) but re-runs the staged
  * subtree per consumer. Unpersist is non-blocking: block removal
  * proceeds asynchronously while the caller moves on. Re-staging a frame
  * a later query re-creates hits Spark's cache manager (same analyzed
  * plan → same InMemoryRelation), so repeated scoped runs neither leak
  * nor double-cache.
  *
  * The registry is THREAD-scoped, so concurrent interactive callers
  * (e.g. two `GraftSql` sessions in one JVM) cannot release each
  * other's staged frames mid-consumption — a stolen release was
  * correctness-neutral but silently re-ran the staged subtree per
  * consumer. Plan construction and the consuming action run on the
  * caller's thread, so stage-then-release naturally stays on one
  * thread; the corollary is that [[releaseAll]] only frees the CALLING
  * thread's frames. A thread that stages and then abandons frames
  * without releasing keeps them cached until `clearCache()` — the same
  * discipline as any pinned resource.
  */
object Staged {

  private val frames =
    ThreadLocal.withInitial[java.util.ArrayDeque[Dataset[_]]](
      () => new java.util.ArrayDeque[Dataset[_]]())

  /** Persist `ds` at `level` and register it on this THREAD's registry
    * for its next [[releaseAll]]. */
  def apply[T](ds: Dataset[T],
               level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    ds.persist(level)
    frames.get().add(ds)
    ds
  }

  /** Unpersist (non-blocking) every frame THIS thread staged since its
    * last release. Other threads' staged frames are untouched — each
    * concurrent caller releases what it staged. */
  def releaseAll(): Unit = {
    val q = frames.get()
    var ds = q.poll()
    while (ds != null) { ds.unpersist(blocking = false); ds = q.poll() }
  }

  /** Run `body` (which must CONSUME whatever it builds — an action, a
    * write, a collect), then release all frames staged during it. */
  def scoped[T](body: => T): T =
    try body finally releaseAll()
}
