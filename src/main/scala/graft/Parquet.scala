package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The library's one parquet read: `spark.read.parquet(path)` with the
  * schema resolved on the driver.
  *
  * A read without a schema makes Spark infer one, and Spark 4.1 does that
  * with a Spark job (`SchemaMergeUtils.mergeSchemasInParallel`) even when
  * it reads a single footer. With `mergeSchema` off, that job reads one
  * file, chosen from the sorted listing: `_common_metadata`, else
  * `_metadata`, else the first data file, since Spark "assumes all schemas
  * are consistent". [[read]] lists `path` through the Hadoop FS (`file:`
  * is [[LocalFs]]), reads that same footer on the driver with the calls
  * that job makes (`ParquetFooterReader.readFooter` without row groups,
  * then `ParquetFileFormat.readSchemaFromFooter`), and hands the schema to
  * the reader. Partition columns still come from the directory names, as in
  * the inferred read.
  *
  * It reads exactly as `spark.read.parquet(path)` does, and falls back to
  * that call, so Spark's own semantics and errors apply, when the session
  * merges schemas (`spark.sql.parquet.mergeSchema`), when `path` is a
  * streaming file sink's output, when the listing holds no data file or a
  * directory Spark does not read as a partition, or when the listing (of a
  * missing path, or a glob) or the footer read fails. */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** The schema `spark.read.parquet(path)` infers for its data columns,
    * or None where [[read]] falls back. */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(hadoopConf)
      leafFiles(fs, fs.getFileStatus(root)).flatMap { files =>
        val sorted = files.sortBy(_.getPath.toString)
        def named(n: String) = sorted.find(_.getPath.getName == n)
        sorted.find(f => !Summaries(f.getPath.getName)).map { first =>
          val touch = named("_common_metadata").orElse(named("_metadata")).getOrElse(first)
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(touch, hadoopConf), SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(touch.getPath, footer),
            new ParquetToSparkSchemaConverter(conf))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private val Summaries = Set("_common_metadata", "_metadata")

  /** The files Spark's file index lists under `st`: hidden names skipped
    * as Spark skips them, `k=v` directories walked. None on any other
    * directory, whose files Spark may or may not read, and on a streaming
    * file sink's output, which Spark reads through its `_spark_metadata`
    * log rather than the listing. */
  private def leafFiles(fs: FileSystem, st: FileStatus): Option[Seq[FileStatus]] =
    if (!st.isDirectory) Some(Seq(st))
    else {
      val children = fs.listStatus(st.getPath).toSeq
      val (dirs, files) = children.filterNot(c => hidden(c.getPath.getName)).partition(_.isDirectory)
      if (children.exists(_.getPath.getName == "_spark_metadata") ||
          !dirs.forall(_.getPath.getName.contains("="))) None
      else dirs.foldLeft(Option(files)) { (acc, d) =>
        acc.flatMap(a => leafFiles(fs, d).map(a ++ _))
      }
    }

  /** Spark's `HadoopFSUtils.shouldFilterOutPathName`. */
  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
  }
}
