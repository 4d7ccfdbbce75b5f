package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog, SinkFileStatus}
import org.apache.spark.sql.functions.{coalesce, concat_ws, lit, struct, udf}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

/** Exactly-once parquet append for `foreachBatch` sinks.
  *
  * Plain `mode("append")` inside `foreachBatch` is at-least-once: a crash
  * after the clean write but before the rejected write (or before the
  * checkpoint commit) makes the replayed batch append its rows a second
  * time. This writer closes that window with the stage → publish → mark
  * protocol that log-structured table formats use, built only on the
  * Hadoop FS API:
  *
  *   1. '''stage''': write the batch to `<sink>/.staging/<batchId>/`, which
  *      is deleted first — a replay restages, never touching the sink;
  *   2. '''publish''': move each staged file that a successful task
  *      reported into the sink under a DETERMINISTIC name,
  *      `b<batchId>-part-<split><ext>` (partition subdirs preserved; `ext`
  *      is `.c000.snappy.parquet` in a partitioned sink, as Spark's own
  *      writer names it, and `.snappy.parquet` otherwise).
  *      Streaming replay re-executes the same plan over the same offsets,
  *      so a replayed batch re-creates the same splits with the same
  *      contents; publishing overwrites those exact names instead of
  *      adding new ones;
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
  *
  * [[writeAll]] stages every sink of a micro-batch from ONE Spark job:
  * each task reads its split once and writes each row to the staging
  * files of every sink the row is routed to. A batch of a few hundred
  * rows costs one job's fixed overhead instead of one per sink.
  */
private[pipeline] object IdempotentSink {

  /** One sink of a [[writeAll]] call: the frame's rows where `where` holds
    * (NULL counts as false), projected to `columns`, appended to `dir`,
    * Hive-partitioned by the frame columns `partitionCols`. */
  case class Route(dir: String, where: Column, columns: Seq[Column],
                   partitionCols: Seq[String] = Nil)

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
    if (existing.nonEmpty) appendToLog(log, existing)
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

  /** Stage, publish, log, mark one sink: a one-route [[writeAll]] of every
    * row and column, `partitionCols` moved into the sink's Hive layout.
    * `runTag` (see [[tagFor]]) scopes the batch identity to one
    * checkpoint lineage. */
  def write(batch: DataFrame, sinkDir: String, batchId: Long,
            partitionCols: Seq[String] = Nil, runTag: String = ""): Unit =
    writeAll(batch, batchId, runTag, Seq(Route(sinkDir, lit(true),
      batch.columns.toSeq.filterNot(partitionCols.contains).map(batch.col), partitionCols)))

  /** What a task needs to stage one route: its staging dir, data schema,
    * whether it is Hive-partitioned, and the parquet writer factory with
    * that schema. */
  private case class Staging(dir: String, schema: StructType, schemaJson: String,
                             partitioned: Boolean, factory: OutputWriterFactory)

  /** A file a task finished: route index, partition subdir ("" when
    * unpartitioned), staged name, and the split and extension it is
    * published under. */
  private case class Staged(route: Int, subdir: String, name: String, split: Int, ext: String)

  /** Stage, publish, log and mark every route of one micro-batch, staging
    * all of them from one Spark job over `frame`. Routes already marked
    * committed for `(runTag, batchId)` are left out, so a replay after a
    * crash between two routes' marks restages only the others.
    *
    * All partitioned routes share one partition column list: tasks sort
    * their rows on it, so a task holds at most one open file per route.
    * An unpartitioned route's file on split 0 is written even when empty
    * (as Spark's single-directory writer does), so every batch publishes
    * a file a schema can be read from. Only the files the successful task
    * attempts report are published; a failed or speculative attempt's
    * files stay under the dot-prefixed staging dir that readers ignore. */
  def writeAll(frame: DataFrame, batchId: Long, runTag: String, routes: Seq[Route]): Unit = {
    val spark = frame.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val open = routes.filterNot { r =>
      val marker = new Path(s"${r.dir}/_commits/$runTag$batchId")
      marker.getFileSystem(conf).exists(marker)
    }
    if (open.isEmpty) return
    val partitionCols = open.map(_.partitionCols).filter(_.nonEmpty).distinct match {
      case Seq() => Nil
      case Seq(cols) => cols
      case more => throw new IllegalArgumentException(
        s"routes of one writeAll must share their partition columns, got ${more.mkString("; ")}")
    }
    val sinks = open.map { r =>
      val f = new Path(r.dir).getFileSystem(conf)
      val log = fileLog(spark, f, r.dir)
      val staging = f.makeQualified(new Path(s"${r.dir}/.staging/$runTag$batchId"))
      f.delete(staging, true)
      (f, log, staging)
    }

    // per route its flag and data struct, then the row's Hive partition
    // dir, which tasks sort on
    val dir = if (partitionCols.isEmpty) lit("") else concat_ws("/", partitionCols.map { p =>
      udf((v: String) => ExternalCatalogUtils.getPartitionPathString(p, v))
        .apply(frame.col(p).cast("string"))
    }: _*)
    val projected = frame.select(open.indices.flatMap { i =>
      Seq(coalesce(open(i).where, lit(false)).as(s"w$i"), struct(open(i).columns: _*).as(s"d$i"))
    } :+ dir.as("dir"): _*)
    val rows = if (partitionCols.isEmpty) projected else projected.sortWithinPartitions("dir")

    val job = Job.getInstance(conf)
    val stagings = open.indices.map { i =>
      val st = projected.schema(s"d$i").dataType.asInstanceOf[StructType]
      val schema = StructType(st.fields.map(_.copy(nullable = true)))
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      Staging(sinks(i)._3.toString, schema,
        job.getConfiguration.get(ParquetWriteSupport.SPARK_ROW_SCHEMA),
        open(i).partitionCols.nonEmpty, factory)
    }
    val hadoop = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
    val qe = rows.queryExecution
    val staged = SQLExecution.withNewExecutionId(qe, Some(s"stage batch $batchId")) {
      val rdd = qe.toRdd
      val input = if (rdd.partitions.nonEmpty) rdd
        else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      input.mapPartitionsWithIndex { (split, it) =>
        Iterator.single(stageSplit(split, it, stagings, hadoop.value.value))
      }.collect().flatten
    }
    hadoop.destroy()

    open.indices.foreach { i =>
      val (f, log, staging) = sinks(i)
      val dir = open(i).dir
      val published = staged.filter(_.route == i).map { s =>
        val destDir = under(new Path(dir), s.subdir)
        f.mkdirs(destDir)
        val dest = new Path(destDir, f"${runTag}b$batchId-part-${s.split}%05d${s.ext}")
        if (f.exists(dest)) f.delete(dest, false) // replay of a partial publish
        val src = new Path(under(staging, s.subdir), s.name)
        if (!f.rename(src, dest))
          throw new java.io.IOException(s"could not publish $src into $dir")
        dest
      }
      appendToLog(log, published.map(f.getFileStatus).toSeq)
      f.delete(staging, true)
      f.mkdirs(new Path(s"$dir/_commits"))
      f.create(new Path(s"$dir/_commits/$runTag$batchId"), true).close()
    }
  }

  private def under(base: Path, subdir: String): Path =
    if (subdir.isEmpty) base else new Path(base, subdir)

  /** One task of [[writeAll]]: route each row of the split to the staging
    * file of every route whose flag is set, opening a route's next file
    * when the row's partition dir changes (rows arrive sorted on it). */
  private def stageSplit(split: Int, rows: Iterator[InternalRow], stagings: Seq[Staging],
                         base: Configuration): Seq[Staged] = {
    val attempt = TaskContext.get().attemptNumber()
    val done = Seq.newBuilder[Staged]
    val contexts = stagings.map { st =>
      val c = new Configuration(base)
      c.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, st.schemaJson)
      new TaskAttemptContextImpl(c, new TaskAttemptID("graft", 0, TaskType.MAP, split, attempt))
    }
    // Spark's partitioned writer numbers a task's files per dir (`.c000`),
    // its single-directory writer does not; published names keep both
    val exts = stagings.indices.map(i => (if (stagings(i).partitioned) ".c000" else "") +
      stagings(i).factory.getFileExtension(contexts(i)))
    val names = exts.map(e => f"part-$split%05d-a$attempt$e")
    val current = Array.fill[OutputWriter](stagings.size)(null)
    val currentDir = Array.fill[String](stagings.size)(null)
    def close(i: Int): Unit = if (current(i) != null) {
      current(i).close()
      current(i) = null
      done += Staged(i, currentDir(i), names(i), split, exts(i))
    }
    def openAt(i: Int, subdir: String): Unit = {
      close(i)
      current(i) = stagings(i).factory.newInstance(
        new Path(under(new Path(stagings(i).dir), subdir), names(i)).toString,
        stagings(i).schema, contexts(i))
      currentDir(i) = subdir
    }
    // an empty split 0 still stages the unpartitioned routes' files
    if (split == 0) stagings.indices.filterNot(stagings(_).partitioned).foreach(openAt(_, ""))
    val dirField = 2 * stagings.size
    var lastDir: UTF8String = null
    var subdir = ""
    try {
      while (rows.hasNext) {
        val row = rows.next()
        val dir = row.getUTF8String(dirField)
        if (!dir.equals(lastDir)) { lastDir = dir.clone(); subdir = dir.toString }
        var i = 0
        while (i < stagings.size) {
          if (row.getBoolean(2 * i)) {
            val routeDir = if (stagings(i).partitioned) subdir else ""
            if (current(i) == null || currentDir(i) != routeDir) openAt(i, routeDir)
            current(i).write(row.getStruct(2 * i + 1, stagings(i).schema.size))
          }
          i += 1
        }
      }
      stagings.indices.foreach(close)
    } catch {
      case e: Throwable =>
        current.foreach(w => if (w != null) scala.util.Try(w.close()))
        throw e
    }
    done.result()
  }
}
