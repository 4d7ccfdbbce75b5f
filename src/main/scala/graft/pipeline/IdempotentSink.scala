package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog, SinkFileStatus}
import org.apache.hadoop.fs.Path

/** Exactly-once parquet append for `foreachBatch` sinks.
  *
  * Plain `mode("append")` inside `foreachBatch` is at-least-once: a crash
  * after the clean write but before the rejected write (or before the
  * checkpoint commit) makes the replayed batch append its rows a second
  * time. This writer closes that window with the stage → publish → mark
  * protocol that log-structured table formats use, built only on the
  * Hadoop FS API:
  *
  *   1. '''stage''': write the batch to `<sink>/.staging/<batchId>/` with
  *      overwrite — a replay rewrites the same staging dir, never the sink;
  *   2. '''publish''': move each staged file into the sink under a
  *      DETERMINISTIC name, `b<batchId>-part-<index><ext>` (partition
  *      subdirs preserved; the write job's random UUID is dropped from
  *      the name). Streaming replay re-executes the same plan over the
  *      same offsets, so a replayed batch re-creates the same partition
  *      indices with the same contents; publishing overwrites those
  *      exact names instead of adding new ones;
  *   3. '''log''': append the published files to `<sink>/_spark_metadata`
  *      as one entry of the file log Spark's own file sink keeps. Once
  *      that log exists, every Spark file reader of the sink — batch
  *      reads and the downstream tier's file-stream source — lists the
  *      sink through it, so a batch becomes visible in one atomic log
  *      commit. Without it a streaming reader could list the sink midway
  *      through step 2, see one partition dir's file and not another's,
  *      and advance its watermark on half a batch: the rest then arrives
  *      as late rows and a stateful consumer drops them;
  *   4. '''mark''': create `<sink>/_commits/<batchId>`. A replay that
  *      finds the marker skips the batch entirely.
  *
  * Crash anywhere between 1 and 4 and the replay converges to the same
  * final file set — no duplicate rows, no torn batch (readers never see a
  * half-published batch; a replay of a batch the log already holds adds
  * no entry; parquet readers also ignore the dot/underscore staging, log
  * and marker paths). The staging dir lives inside
  * the sink so publish is a same-filesystem rename (metadata-only on
  * HDFS; on object stores use a real table format instead — this class
  * documents the boundary rather than pretending S3 rename is atomic).
  */
private[pipeline] object IdempotentSink {

  private def fs(batch: DataFrame, dir: String) =
    new Path(dir).getFileSystem(
      batch.sparkSession.sessionState.newHadoopConf())

  /** Run scope for markers and published names, derived from the
    * streaming query's checkpoint location. Batch ids are only unique
    * WITHIN one checkpoint lineage: restarting a stream against the same
    * sink with a FRESH checkpoint restarts batch ids at 0, and without a
    * run scope the old `_commits/0..N` markers would make `write` skip
    * the new batches — silently DROPPING different data (worse than the
    * duplicate-append this sink exists to prevent). Scoped markers and
    * file names make that restart an append of new data instead.
    * Deliberately stable for the SAME checkpoint path, so crash-replay
    * dedup still works; wiping a checkpoint dir in place (rather than
    * using a new path) keeps the old identity — documented boundary.
    *
    * The path is canonicalized first (relative → absolute, redundant
    * separators and trailing slashes dropped) so two spellings of the
    * same checkpoint share one lineage, and the id is a 64-bit FNV-1a
    * hash rather than 32-bit `String.hashCode`: at 32 bits two distinct
    * lineages writing one sink collide with birthday probability ~2^-16
    * per pair, and a collision silently DROPS the second lineage's
    * batches — the exact failure this tag exists to prevent. At 64 bits
    * that probability is ~2^-48. One-time upgrade hazard: sinks written
    * by the old 32-bit scheme hold markers/files under `r<8 hex>-`
    * names; the first crash-replay after upgrading re-publishes that
    * one unfinished batch under the new `r<16 hex>-` tag beside the old
    * files. Compact or re-create long-lived sinks when upgrading. */
  def tagFor(checkpoint: String): String = {
    val p = new Path(checkpoint)
    val canonical =
      if (p.toUri.getScheme == null && !p.isAbsolute)
        new Path(new java.io.File(checkpoint).getAbsolutePath).toString
      else p.toString
    f"r${fnv64(canonical)}%016x-"
  }

  /** FNV-1a over UTF-16 code units — stable across JVMs, full 64 bits. */
  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  def committed(batch: DataFrame, sinkDir: String, batchId: Long,
                runTag: String = ""): Boolean = {
    val f = fs(batch, sinkDir)
    f.exists(new Path(s"$sinkDir/_commits/$runTag$batchId"))
  }

  /** The sink's file log, created BEFORE any file of the first logged
    * batch is published: a reader that finds a data file then also finds
    * the log, and lists through it. A sink that holds data from before
    * the log (an upgrade) gets those files as the log's first entry, so
    * they stay visible. */
  private def fileLog(spark: org.apache.spark.sql.SparkSession,
                      f: org.apache.hadoop.fs.FileSystem, sinkDir: String): FileStreamSinkLog = {
    val dir = new Path(sinkDir, FileStreamSink.metadataDir)
    val existing = if (f.exists(dir) || !f.exists(new Path(sinkDir))) Nil else {
      val root = f.makeQualified(new Path(sinkDir)).toUri
      val it = f.listFiles(new Path(sinkDir), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).filter { st =>
        root.relativize(st.getPath.toUri).getPath.split('/')
          .forall(n => !n.startsWith("_") && !n.startsWith("."))
      }.toList
    }
    val log = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, dir.toString, None)
    appendToLog(log, existing)
    log
  }

  /** Log `files` as the next entry, unless the latest entry already holds
    * them: a replay whose first run crashed between log and mark (one
    * writer per sink, so no later batch can have been logged since). Spark's
    * readers do not deduplicate paths across log entries. */
  private def appendToLog(log: FileStreamSinkLog, files: Seq[org.apache.hadoop.fs.FileStatus]): Unit = {
    val entry = files.map(SinkFileStatus(_))
    val latest = log.getLatestBatchId()
    val logged = latest.flatMap(log.get).toSeq.flatten.map(_.path).toSet
    if (entry.exists(e => !logged(e.path)))
      log.add(latest.map(_ + 1).getOrElse(0L), entry.toArray)
  }

  /** Stage, publish, log, mark. `partitionCols` are passed through to the
    * staged write so the sink keeps its Hive layout. `runTag` (see
    * [[tagFor]]) scopes the batch identity to one checkpoint lineage. */
  def write(batch: DataFrame, sinkDir: String, batchId: Long,
            partitionCols: Seq[String] = Nil, runTag: String = ""): Unit = {
    if (committed(batch, sinkDir, batchId, runTag)) return
    val f = fs(batch, sinkDir)
    val log = fileLog(batch.sparkSession, f, sinkDir)
    val staging = s"$sinkDir/.staging/$runTag$batchId"
    val writer = batch.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(staging)
    // publish: every data file under staging moves to the sink at a name
    // derived only from (batchId, partition dir, partition index) —
    // `part-00003-<uuid>-c000.snappy.parquet` publishes as
    // `b7-part-00003.snappy.parquet`, so a replay (same offsets → same
    // plan → same partition indices and contents) lands on identical
    // names. The one nondeterminism caveat: a Spark upgrade changing AQE
    // coalescing MID-REPLAY could alter the index set; the commit marker
    // makes that window one unfinished batch wide, not the whole sink.
    val partName = "^part-(\\d+)-.*?(\\..+)$".r
    // qualify so relativize against the (always-qualified) listed file
    // URIs yields clean relative paths
    val stagingPath = f.makeQualified(new Path(staging))
    val it = f.listFiles(stagingPath, true)
    val published = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      partName.findFirstMatchIn(name).foreach { m =>
        val rel = stagingPath.toUri.relativize(s.getPath.toUri).getPath
        val relDir = rel.stripSuffix(name).stripSuffix("/")
        val destDir = if (relDir.isEmpty) new Path(sinkDir) else new Path(s"$sinkDir/$relDir")
        f.mkdirs(destDir)
        val dest = new Path(destDir, s"${runTag}b$batchId-part-${m.group(1)}${m.group(2)}")
        if (f.exists(dest)) f.delete(dest, false) // replay of a partial publish
        if (!f.rename(s.getPath, dest))
          throw new java.io.IOException(s"could not publish $rel into $sinkDir")
        published += dest
      }
    }
    appendToLog(log, published.map(f.getFileStatus).toSeq)
    f.delete(stagingPath, true)
    f.mkdirs(new Path(s"$sinkDir/_commits"))
    val marker = f.create(new Path(s"$sinkDir/_commits/$runTag$batchId"), true)
    marker.close()
  }
}
