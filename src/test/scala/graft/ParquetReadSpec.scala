package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.StoreIO

/** [[Parquet.read]] resolves a schema from one driver-side footer read;
  * it must give what `spark.read.parquet` infers, in every layout the
  * library reads, and the same store keys, or every persisted store would
  * turn stale. Each case also checks that the driver-side path was taken,
  * so a silent fallback cannot pass for equivalence. */
class ParquetReadSpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def sameAsInferred(path: String): Unit = {
    assert(Parquet.footerSchema(spark, path).isDefined, s"$path: fell back to inference")
    assert(Parquet.read(spark, path).schema == spark.read.parquet(path).schema, path)
  }

  test("every sf0.001 table reads with the inferred schema") {
    // the session conf `Tables.events` sets, under which events' footer
    // maps in every encoding
    Tables.events(spark, sf)
    for (t <- Tables.all) sameAsInferred(s"$sf/$t.parquet")
  }

  test("all three events encodings read through Tables.events as inferred") {
    for (enc <- Seq("nanos", "micros_ntz", "micros_utc")) {
      val dir = getClass.getResource(s"/encodings/$enc").getPath
      val viaTables = Tables.events(spark, dir)
      sameAsInferred(s"$dir/events.parquet")
      assert(viaTables.schema("ts").dataType == org.apache.spark.sql.types.TimestampType, enc)
    }
  }

  test("a Hive-partitioned directory keeps its partition columns and types") {
    val path = tmpDir("parquet-hive") + "/t"
    spark.range(40).select($"id", ($"id" % 3).cast("int").as("k"),
        concat(lit("s"), ($"id" % 2).cast("string")).as("j"), ($"id" * 0.5).as("v"))
      .write.partitionBy("k", "j").parquet(path)
    sameAsInferred(path)
    val cols = Parquet.read(spark, path).columns.toSeq
    assert(cols == Seq("id", "v", "k", "j"), cols)
    def rows(df: DataFrame) = df.orderBy("id").collect().toSeq
    assert(rows(Parquet.read(spark, path)) == rows(spark.read.parquet(path)))
  }

  test("_SUCCESS, .crc and hidden files are skipped as Spark skips them") {
    val path = tmpDir("parquet-hidden") + "/t"
    spark.range(10).select($"id", $"id".cast("string").as("s")).write.parquet(path)
    assert(Files.exists(Paths.get(path, "_SUCCESS")))
    assert(Files.list(Paths.get(path)).toArray.exists(_.toString.endsWith(".crc")))
    // not parquet, and each sorts before the part files
    for (junk <- Seq(".hidden", "_hidden", "a._COPYING_"))
      Files.write(Paths.get(path, junk), "not parquet".getBytes)
    sameAsInferred(path)
    assert(Parquet.read(spark, path).count() == 10)
    // a glob is Spark's to expand
    assert(Parquet.footerSchema(spark, s"$path/part-*").isEmpty)
    assert(Parquet.read(spark, s"$path/part-*").count() == 10)
  }

  test("a streaming file sink's output is read through its log, as Spark reads it") {
    val path = tmpDir("parquet-sink") + "/t"
    spark.range(5).write.parquet(path)
    Files.createDirectory(Paths.get(path, "_spark_metadata"))
    assert(Parquet.footerSchema(spark, path).isEmpty)
  }

  test("an empty directory fails with the exception class of spark.read.parquet") {
    val path = tmpDir("parquet-empty")
    val want = intercept[Exception](spark.read.parquet(path)).getClass
    assert(intercept[Exception](Parquet.read(spark, path)).getClass == want)
    val missing = s"$path/nothing-here"
    assert(intercept[Exception](Parquet.read(spark, missing)).getClass ==
      intercept[Exception](spark.read.parquet(missing)).getClass)
  }

  test("with mergeSchema set, the read is Spark's own and merges") {
    val path = tmpDir("parquet-merge") + "/t"
    spark.range(3).select($"id").write.parquet(s"$path/k=0")
    spark.range(3).select($"id", ($"id" * 2).as("extra")).write.parquet(s"$path/k=1")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(Parquet.footerSchema(spark, path).isEmpty)
      assert(Parquet.read(spark, path).schema == spark.read.parquet(path).schema)
      assert(Parquet.read(spark, path).columns.contains("extra"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("store keys are equal for a frame from either reader") {
    for (t <- Seq("documents", "embeddings", "orders")) {
      val p = s"$sf/$t.parquet"
      def keyOf(df: DataFrame) = StoreIO.key(df.where(col(df.columns.head).isNotNull), 1, "n" -> 3)
      assert(keyOf(Parquet.read(spark, p)) == keyOf(spark.read.parquet(p)), t)
    }
  }
}
