package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit

/** The one protocol of the persisted-derivation stores (pair, cluster,
  * containment, PCA, k-means, media, prediction, quality-score,
  * LM-score and embedding-pair tables; the IVF index uses [[publish]]):
  *
  *  - KEY. Every store is keyed by [[StoreKey]] = (corpus_fp, plan_fp,
  *    algo_version). `corpus_fp` ([[fileFingerprint]]) hashes the files
  *    behind the input frame; `plan_fp` ([[planFingerprint]]) hashes
  *    its canonicalized plan with the store's parameters folded in, so
  *    two different frames over the same files, or one frame under two
  *    parameter sets, never share a store.
  *  - READ-THROUGH. [[readThrough]] owns the key check, the cold/stale
  *    branch, the atomic publish, the meta write, the post-publish
  *    check and the reload. A store supplies its key, a writer for the
  *    temp directory and a loader.
  *  - META. `path/meta` is one row: the key, then the store's non-key
  *    payload (e.g. the pair store's route, the PCA mean). Only this
  *    module reads or writes it. [[readMeta]] keeps the row per meta
  *    part file (path, length, mtime), so a hit lists `path/meta` and
  *    runs no Spark job; data and meta are read with [[graft.Parquet]],
  *    whose schema comes from one driver-side footer read.
  *
  * Two defects this module exists to close (round-10 advice):
  *
  *  - FINGERPRINT WIDTH. `MurmurHash3.stringHash(...).toLong` is a
  *    32-bit value in a 64-bit coat — at ~77 k keys the birthday bound
  *    gives even odds of a collision, and a cross-session store that
  *    collides is silently served the WRONG table. [[StoreIO.fp64]] /
  *    [[StoreIO.fpOrdered64]] combine two independently-seeded 32-bit
  *    murmurs into an honest 64-bit key (collision odds at the same
  *    population: ~2⁻³²).
  *
  *  - PUBLISH ATOMICITY. `write.mode("overwrite")` into the live store
  *    path means a reader overlapping a republish can see a transient
  *    mixed state (new meta + half-deleted data, or vice versa), and two
  *    JVMs racing a cold store corrupt each other. [[StoreIO.publish]]
  *    writes the whole store into `path.tmp-<nonce>` and RENAMES the
  *    directory over the live path — rename is atomic on every
  *    filesystem the store targets (POSIX local, HDFS), so readers see
  *    either the complete old store or the complete new one, never a
  *    mixture. A writer that loses the rename race simply discards its
  *    temp dir: the winner published the same pure function of the same
  *    inputs.
  */
object StoreIO {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Honest 64-bit string hash: two independently-seeded 32-bit murmurs
    * packed high/low. */
  def fp64(s: String): Long = {
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x9E3779B9)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x85EBCA6B)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** Honest 64-bit ordered-sequence hash, same two-seed construction. */
  def fpOrdered64[T](xs: Iterable[T]): Long = {
    val hi = scala.util.hashing.MurmurHash3.orderedHash(xs, 0x9E3779B9)
    val lo = scala.util.hashing.MurmurHash3.orderedHash(xs, 0x85EBCA6B)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** Atomically publish a store directory: `write` fills a fresh temp
    * sibling (`path.tmp-<nonce>`), which is then renamed over `path`.
    *
    * Concurrency contract (provable with local-FS rename semantics):
    *  - a READER never observes partial state — every transition of the
    *    live path is a whole-directory rename, so it flips between
    *    complete stores in one metadata operation;
    *  - with `replaceExisting = false` (the read-through COLD branch),
    *    a concurrent second writer is a strict no-op: the plain rename
    *    is attempted FIRST, whichever lands second fails (destination
    *    exists), and the loser deletes its temp dir and returns `false`
    *    so the caller reloads the winner's store and re-checks
    *    fingerprints (both writers derived the same pure function, so
    *    the check passes). Without this flag, a cold-race loser whose
    *    existence check ran after the winner's rename would mistake the
    *    winner's FRESH store for a stale one and swap it out — both
    *    writers "winning" (the round-11 publish-race flake);
    *  - with `replaceExisting = true` (the caller OBSERVED a stale
    *    store, or an unconditional pipeline publish), a conflicting
    *    live directory is renamed aside and the publish retried once.
    *    CAVEAT (not a full guarantee): between the aside-rename and the
    *    fresh rename the live path briefly does not exist, so a
    *    concurrent reader's existence check in that window sees a cold
    *    slot and pays a spurious (correct, just redundant) re-derivation;
    *    a reader that already RESOLVED the old directory's files keeps
    *    reading them under the `.old-<nonce>` name — which is why the
    *    aside copy is NOT deleted inline: it ages out via
    *    [[sweepOrphans]] (next publish at this path, or
    *    `graft.tools.StoreGc`) after [[OrphanGraceMs]], long past any
    *    in-flight scan.
    *
    * Returns true when this writer's store is the one now live. */
  def publish(spark: SparkSession, path: String,
              replaceExisting: Boolean = true)(write: String => Unit): Boolean = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val nonce = java.util.UUID.randomUUID().toString.take(12)
    val tmp = new Path(s"$path.tmp-$nonce")
    write(tmp.toString)
    // fresh-slot attempt first: on a cold store this is the whole
    // publish, and in a cold race it is what makes exactly one winner
    var won = atomicRename(fs, tmp, live)
    if (!won && replaceExisting) {
      // stale republish: move the old store aside (atomic) so the live
      // path is free; readers that already resolved the old path keep a
      // complete table under the .old name until the GRACE-AGED sweep
      // below (never an inline delete — an in-flight scan of the old
      // files must be able to finish)
      val old = new Path(s"$path.old-$nonce")
      if (atomicRename(fs, live, old)) {
        won = atomicRename(fs, tmp, live)
        if (!won) atomicRename(fs, old, live) // put the old store back
        // only if the live path is still free (a winner filled it)
      }
    }
    if (!won) {
      log.warn(s"StoreIO.publish: lost the publish race for $path — " +
        "discarding this writer's temp store and deferring to the winner")
      fs.delete(tmp, true)
    }
    // deferred lifecycle: sweep THIS path's aged `.old-*` / `.tmp-*`
    // siblings (previous republishes' aside copies, crashed writers'
    // temp dirs). Grace-aged so in-flight readers of a just-replaced
    // store finish; a crash before this line leaves orphans that the
    // next publish — or tools.StoreGc — removes.
    sweepOrphans(fs, path)
    won
  }

  /** Age after which an orphaned `.old-<nonce>` / `.tmp-<nonce>` sibling
    * of a store path is eligible for removal (15 min — orders of
    * magnitude past any single store scan; override for tests via
    * [[sweepOrphans]]' `graceMs`). */
  val OrphanGraceMs: Long = 15L * 60 * 1000

  /** Remove AGED orphan siblings of `path`: directories named
    * `<store>.old-*` (aside copies from stale republishes) or
    * `<store>.tmp-*` (crashed writers — a clean loser deletes its own).
    * Age = the directory's own modification time vs now; younger
    * orphans are left for in-flight readers. Returns the paths removed.
    * Never touches the live store or other stores' directories. */
  def sweepOrphans(fs: org.apache.hadoop.fs.FileSystem, path: String,
                   graceMs: Long = OrphanGraceMs): Seq[String] = {
    val live = new Path(path)
    val parent = live.getParent
    if (parent == null || !fs.exists(parent)) return Nil
    val prefixes = Seq(s"${live.getName}.old-", s"${live.getName}.tmp-")
    val now = System.currentTimeMillis()
    try {
      fs.listStatus(parent).toSeq
        .filter(st => prefixes.exists(st.getPath.getName.startsWith))
        .filter(st => now - st.getModificationTime > graceMs)
        .map { st =>
          log.info(s"StoreIO.sweepOrphans: removing aged orphan ${st.getPath}")
          fs.delete(st.getPath, true)
          st.getPath.toString
        }
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"StoreIO.sweepOrphans: sweep under $parent failed " +
          s"(${e.getMessage}) — orphans left for the next publish/StoreGc")
        Nil
    }
  }

  /** A store's staleness key: the first three columns of its meta row. */
  final case class StoreKey(corpusFp: Long, planFp: Long, algoVersion: Int)

  /** The key of a store derived from `df` under `params` (name → value,
    * folded into `plan_fp`) by algorithm version `algoVersion`. */
  def key(df: DataFrame, algoVersion: Int, params: (String, Any)*): StoreKey =
    StoreKey(fileFingerprint(df), planFingerprint(df, params: _*), algoVersion)

  /** (path, len, mtime)-hash over every file-backed scan in the plan,
    * pulled from the relation's ALREADY-MATERIALIZED FileIndex — the
    * listing the scan itself will read, so no extra filesystem RPCs.
    * Non-file relations (in-memory test frames) contribute nothing and
    * fall back to plan-only keying. Also the file-listing half of every
    * decide-once-per-corpus memo in the library (IVF/PQ training, the
    * Jaccard route, the PCA/k-means fits). */
  private[graft] def fileFingerprint(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
    val perScan = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case p: PartitioningAwareFileIndex =>
            fpOrdered64(
              p.allFiles().sortBy(_.getPath.toString)
                .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))
          // exotic FileIndex impls expose only paths — still catches
          // listing-membership changes, not same-name rewrites
          case other => fpOrdered64(other.inputFiles.sorted.toSeq)
        }
        case _ => 0L
      }
    }
    fpOrdered64(perScan)
  }

  /** Hash of the canonicalized logical plan plus ` name=value` for each
    * parameter — the "which frame, under which settings" half of the
    * key. Canonicalization normalizes expression ids, so the hash is
    * stable across sessions for the same query over the same tables. */
  private[graft] def planFingerprint(df: DataFrame, params: (String, Any)*): Long =
    fp64(df.queryExecution.analyzed.canonicalized.toString +
      params.map { case (k, v) => s" $k=$v" }.mkString)

  /** The one-row meta of the store at `path`; None when it is missing or
    * unreadable. One listing of `path/meta` decides whether the row read
    * last time still holds: it is kept with the (path, length, mtime) of
    * the meta part files it came from. A part file's name carries its
    * write's UUID and [[publish]] swaps whole directories, so a
    * republished store never matches and is read again. */
  def readMeta(spark: SparkSession, path: String): Option[Row] = {
    val meta = new Path(s"$path/meta")
    val parts =
      try meta.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(meta).toSeq
        .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).sorted
      catch { case _: java.io.FileNotFoundException => return None }
    Option(metaRows.get(path)).collect { case (`parts`, row) => row }.orElse {
      val row = scala.util.Try(graft.Parquet.read(spark, meta.toString).head()).toOption
      row.foreach(r => metaRows.put(path, (parts, r)))
      row
    }
  }

  /** [[readMeta]]'s last row per store path, with the part files it was
    * read from. */
  private val metaRows =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], Row)]()

  private def keyOf(meta: Row): Option[StoreKey] = scala.util.Try(StoreKey(
    meta.getAs[Number]("corpus_fp").longValue,
    meta.getAs[Number]("plan_fp").longValue,
    meta.getAs[Number]("algo_version").intValue)).toOption

  /** The checked read-through of every store: when the meta row's key
    * equals `key`, return `load(meta)`. Otherwise derive: [[publish]] a
    * temp directory that `write` fills with the store's data and whose
    * meta row this method writes (the key, then the payload columns
    * `write` returns — literals, each aliased), then re-read the live
    * meta, fail loudly if it is not this key (a concurrent writer with
    * different inputs), and return `load(meta)`.
    * A hit lists `path/meta` once, and runs no Spark job once
    * [[readMeta]] holds the row: [[publish]] renames a store's data into
    * place with its meta, so a live meta row vouches for the data.
    *
    * Cold-vs-stale decides the publish's `replaceExisting`: a truly cold
    * slot publishes with strict no-replace semantics (a cold-race loser
    * must defer to the winner, not swap it out), while an occupied store
    * — stale key, or no readable meta — is replaced, with a log line. */
  def readThrough[T](spark: SparkSession, path: String, key: StoreKey, label: String)
                    (write: String => Seq[Column])
                    (load: Row => T): T = {
    def derive(replaceStale: Boolean): T = {
      publish(spark, path, replaceStale) { tmp =>
        val payload = write(tmp)
        spark.range(1).select(Seq(lit(key.corpusFp).as("corpus_fp"),
            lit(key.planFp).as("plan_fp"),
            lit(key.algoVersion).as("algo_version")) ++ payload: _*)
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
      }
      // whether this writer won or lost the publish race, the live store
      // must now hold the same pure function of the same inputs
      readMeta(spark, path).filter(keyOf(_).contains(key)).map(load).getOrElse(sys.error(
        s"$label: store at $path does not match its own publish " +
          s"(want $key) — concurrent writer with different inputs?"))
    }
    readMeta(spark, path) match {
      case Some(meta) if keyOf(meta).contains(key) =>
        log.info(s"$label: loading published store at $path")
        load(meta)
      case Some(meta) =>
        log.warn(s"$label: store at $path is stale (have " +
          s"${keyOf(meta).getOrElse(meta)}, want $key) — re-deriving and republishing")
        derive(replaceStale = true)
      case None if new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
          .exists(new Path(path)) =>
        log.warn(s"$label: store at $path has no readable meta — " +
          "re-deriving and replacing it")
        derive(replaceStale = true)
      case None => derive(replaceStale = false)
    }
  }

  /** Directory rename with FAIL-if-destination-exists semantics on every
    * backend. On `file:` this goes straight to rename(2)
    * (`Files.move(ATOMIC_MOVE)`) — necessary because Hadoop's
    * `RawLocalFileSystem.rename` falls back to COPYING the source *into*
    * an existing destination directory and returning true, which would
    * make a race's loser "win" by dumping its temp dir inside the
    * winner's live store. On HDFS, `FileSystem.rename` already returns
    * false when the destination exists. Object stores without atomic
    * rename are outside this store design's contract (documented in
    * README — use an HDFS-semantics layer there). */
  private def atomicRename(fs: org.apache.hadoop.fs.FileSystem,
                           src: Path, dst: Path): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      try {
        Files.move(Paths.get(src.toUri.getPath), Paths.get(dst.toUri.getPath),
          StandardCopyOption.ATOMIC_MOVE)
        true
      } catch { case _: java.io.IOException => false }
    } else fs.rename(src, dst)
  }
}
