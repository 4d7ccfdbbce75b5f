package graft.pipeline

import java.io.File
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.IdempotentSink.Route

/** [[IdempotentSink.writeAll]]: each sink holds what Spark's own
  * `DataFrameWriter` would have written for its route, and the stage →
  * publish → log → mark protocol holds under stale files and replay. */
class IdempotentSinkSpec extends graft.SparkSuite {
  import spark.implicits._

  /** 12 rows over 3 splits, both dates in every split, with NULL dates,
    * NULL values and negative (invalid) values among them. */
  private def frame(): DataFrame =
    spark.sparkContext.parallelize((1 to 12).map { i =>
      val d = if (i % 5 == 0) null else if (i % 2 == 0) "2024-03-01" else "2024-03-02"
      val v = if (i % 4 == 0) None else Some(if (i % 3 == 0) -i.toDouble else i.toDouble)
      (i.toLong, d, v)
    }, 3).toDF("id", "d", "v")

  private val ok = $"v" >= 0

  private def rows(dir: String): Seq[String] = {
    val df = spark.read.parquet(dir)
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq.sorted
  }

  /** The Hive partition dirs (and data files at the top) of a sink. */
  private def layout(dir: String): Set[String] =
    new File(dir).list().filterNot(n => n.startsWith("_") || n.startsWith("."))
      .map(n => if (n.endsWith(".parquet")) "<file>" else n).toSet

  test("writeAll writes per route what DataFrameWriter writes for it") {
    val root = tmpDir("routed")
    val df = frame()
    assert(df.rdd.getNumPartitions >= 2)
    val routes = Seq(
      Route(s"$root/valid", ok, Seq($"id", $"v"), Seq("d")),
      Route(s"$root/rejected", !coalesce(ok, lit(false)), Seq($"id", $"d", $"v")),
      Route(s"$root/scaled", lit(true), Seq($"id", ($"v" * 2).as("v2")), Seq("d")))
    IdempotentSink.writeAll(df, batchId = 0, runTag = "", routes)

    routes.zipWithIndex.foreach { case (r, i) =>
      val ref = s"$root/ref$i"
      val selected = df.where(r.where).select((r.columns ++ r.partitionCols.map(col)): _*)
      selected.write.partitionBy(r.partitionCols: _*).parquet(ref)
      assert(rows(r.dir) == rows(ref), r.dir)
      assert(layout(r.dir) == layout(ref), r.dir)
    }
    assert(layout(s"$root/valid").contains("d=__HIVE_DEFAULT_PARTITION__"))
    assert(rows(s"$root/rejected").size == 6) // -3, -6, -9 and three NULL values
    // published names: split-scoped, with the extension Spark's writer
    // gives a partitioned and an unpartitioned file
    def published(dir: String) = new File(dir).list().filter(_.endsWith(".parquet")).toSeq
    assert(published(s"$root/scaled/d=2024-03-01").sorted ==
      Seq("b0-part-00000.c000.snappy.parquet", "b0-part-00001.c000.snappy.parquet",
        "b0-part-00002.c000.snappy.parquet"))
    assert(published(s"$root/rejected").forall(_.matches("b0-part-\\d{5}\\.snappy\\.parquet")))
  }

  test("a staged file no successful task reported is never published") {
    val root = tmpDir("routed-stale")
    val sink = s"$root/sink"
    val tag = IdempotentSink.tagFor(s"$root/cp")
    // a crashed earlier run of batch 3 left a staged file for a split this
    // run does not have, under a name that run's tasks use
    val staging = new File(s"$sink/.staging/${tag}3")
    staging.mkdirs()
    Seq((99L, "2024-03-01", Option(99.0))).toDF("id", "d", "v").coalesce(1)
      .write.parquet(s"$root/stray")
    val stray = new File(s"$root/stray").listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(stray.toPath, new File(staging, "part-00007-a0.snappy.parquet").toPath)

    IdempotentSink.write(frame(), sink, batchId = 3, Nil, tag)
    assert(spark.read.parquet(sink).count() == 12)
    assert(spark.read.parquet(sink).where($"id" === 99).count() == 0)
    assert(!new File(sink).list().exists(_.contains("part-00007")))
    assert(!staging.exists())
  }

  test("a crash between publish and mark converges on replay with no duplicate rows") {
    val root = tmpDir("routed-replay")
    val tag = IdempotentSink.tagFor(s"$root/cp")
    def routes = Seq(
      Route(s"$root/valid", ok, Seq($"id", $"v"), Seq("d")),
      Route(s"$root/rejected", !coalesce(ok, lit(false)), Seq($"id", $"d", $"v")))
    IdempotentSink.writeAll(frame(), 0, tag, routes)
    val before = routes.map(r => rows(r.dir))
    // the valid sink published and logged batch 0 but its marker is gone;
    // the rejected sink is marked, so the replay leaves it alone
    assert(new File(s"$root/valid/_commits/${tag}0").delete())
    val rejectedFiles = new File(s"$root/rejected").list().toSet
    IdempotentSink.writeAll(frame(), 0, tag, routes)
    assert(routes.map(r => rows(r.dir)) == before)
    assert(new File(s"$root/rejected").list().toSet == rejectedFiles)
    assert(new File(s"$root/valid/_commits/${tag}0").exists())
    // the next batch appends
    IdempotentSink.writeAll(frame(), 1, tag, routes)
    assert(rows(s"$root/valid").size == 2 * before.head.size)
  }

  test("an all-valid batch still publishes a quarantine file to read the schema from") {
    val root = tmpDir("routed-empty")
    val df = frame().where($"v".isNotNull && $"v" >= 0)
    val valid: Column = $"v" >= 0
    IdempotentSink.writeAll(df, 0, "", Seq(
      Route(s"$root/valid", valid, Seq($"id", $"v"), Seq("d")),
      Route(s"$root/rejected", !coalesce(valid, lit(false)), Seq($"id", $"d", $"v"))))
    val quarantine = spark.read.parquet(s"$root/rejected")
    assert(quarantine.count() == 0)
    assert(quarantine.columns.toSeq == Seq("id", "d", "v"))
    assert(new File(s"$root/rejected").list().count(_.endsWith(".parquet")) == 1)
  }
}
