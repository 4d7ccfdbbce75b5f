package graftbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's output checks count a tampered output and a missing
  * window as failed, do not depend on partitioning, and date gold files by
  * their first log entry. */
class CheckSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("a tampered query output fails its reference; reordering does not") {
    import spark.implicits._
    val ref = Check.fingerprint(Seq((1, "a", 0.1 + 0.2), (2, "b", 2.5)).toDF("k", "s", "x"))
    val reordered = Check.fingerprint(Seq((2, "b", 2.5), (1, "a", 0.3)).toDF("k", "s", "x"))
    assert(Check.compare("q", reordered, ref).isEmpty)
    val tampered = Check.fingerprint(Seq((1, "a", 0.3), (2, "b", 2.51)).toDF("k", "s", "x"))
    assert(Check.compare("q", tampered, ref).isDefined)
    val duplicated = Check.fingerprint(Seq((1, "a", 0.3), (1, "a", 0.3), (2, "b", 2.5)).toDF("k", "s", "x"))
    assert(Check.compare("q", duplicated, ref).isDefined)
  }

  test("an aggregate over 1 and over 4 partitions has one fingerprint") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    val rows = (0 until 20000).map(i => (i % 7, 1e9 * ((i * 7919) % 1000) / 997.0 + 1.0 / (i + 1)))
    def agg(parts: Int) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val df = rows.toDF("k", "x").repartition(parts).groupBy("k").agg(sum("x").as("s"))
        (df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap, Check.fingerprint(df))
      } finally spark.conf.unset("spark.sql.shuffle.partitions")
    }
    val (one, fp1) = agg(1)
    val (four, fp4) = agg(4)
    assert(one != four) // summation order shows in the last bits
    assert(Check.compare("q", fp4, fp1).isEmpty)
  }

  private val w0 = 1709251200000L // 2024-03-01T00:00:00Z
  private val expected = Map(
    (1, w0) -> ((20.0, 5.0, 10.0)), (2, w0) -> ((21.0, 6.0, 11.0)),
    (1, w0 + 60000) -> ((22.0, 7.0, 12.0)))
  private def row(b: Int, w: Long, v: (Double, Double, Double)) = Stream.GoldRow(b, w, v, "f")

  test("gold: every due window emitted with the reference values passes") {
    val emitted = expected.toSeq.map { case ((b, w), v) => row(b, w, v) }
    assert(Stream.checkGold(emitted, expected, expected.keySet) == ((3, Nil)))
  }

  test("gold: a missing window and a tampered window each count as failed") {
    val emitted = Seq(
      row(1, w0, (20.0, 5.0, 10.0)),
      row(2, w0, (21.0, 6.5, 11.0)))
    val (attempted, failures) = Stream.checkGold(emitted, expected, expected.keySet)
    assert(attempted == 3)
    assert(failures.size == 2)
    assert(failures.exists(_.contains("not emitted")))
    assert(failures.exists(_.contains("got")))
  }

  test("gold: a window emitted twice fails") {
    val emitted = expected.toSeq.map { case ((b, w), v) => row(b, w, v) } :+ row(1, w0, (20.0, 5.0, 10.0))
    assert(Stream.checkGold(emitted, expected, expected.keySet)._2.size == 1)
  }

  test("gold commit time is the earliest log entry listing the file, not a later compaction") {
    val dir = Files.createTempDirectory("gold").toFile
    val log = new File(dir, "_spark_metadata")
    log.mkdirs()
    def entry(name: String, mtime: Long, files: String*): Unit = {
      val f = new File(log, name)
      Files.write(f.toPath, ("v1\n" + files.map(p =>
        s"""{"path":"file:///g/$p","size":1,"isDir":false,"modificationTime":1,"blockReplication":1,"blockSize":1,"action":"add"}""")
        .mkString("\n")).getBytes("UTF-8"))
      f.setLastModified(mtime)
    }
    entry("8", 1000000L, "a.parquet")
    entry("9.compact", 5000000L, "a.parquet", "b.parquet")
    val t = Stream.commitTimes(dir.getPath)
    assert(t("a.parquet") == 1000000L)
    assert(t("b.parquet") == 5000000L)
  }

  test("a window's closing publish is the last sensor to pass window end plus watermark") {
    val need = w0 + 180000L
    val ps = Seq(
      Stream.Published("temperature", 0, 100, need - 1, 1),
      Stream.Published("temperature", 0, 200, need, 1),
      Stream.Published("vibration", 0, 150, need + 5, 1),
      Stream.Published("tilt", 0, 300, need + 9, 1))
    assert(Stream.closingPublish(ps, Set(w0), liveFromMs = 0L) == Map(w0 -> 300L))
    // closed by the backlog already: not a live window
    assert(Stream.closingPublish(ps, Set(w0), liveFromMs = need) == Map.empty)
  }

  test("the sample: one query per equal-size cost stratum, fixed by the seed") {
    val refs = (1 to 100).map(i => Batch.Ref(f"q$i%03d", Check.Fingerprint(0, "0"), i.toDouble))
    val a = Batch.sample(refs, 7L, 10)
    assert(a.map(_.name) == Batch.sample(refs, 7L, 10).map(_.name))
    assert(Batch.sample(refs, 8L, 10).map(_.name) != a.map(_.name))
    assert(a.map(r => ((r.costS - 1) / 10).toInt).sorted == (0 until 10))
  }
}
