package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session comes from [[Session]]: no other source file builds one,
  * and the shared test session carries the policy's settings. */
class SessionPolicySpec extends SparkSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  test("no source file outside graft.Session builds its own session") {
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val policy = Paths.get("src/main/scala/graft/Session.scala")
    val files = scalaFiles("src/main") ++ scalaFiles("src/test")
    assert(files.contains(policy))
    val offenders = files.filterNot(_ == policy)
      .filter(f => builder.findFirstIn(Files.readString(f)).isDefined)
    assert(offenders.isEmpty, s"session built outside graft.Session: ${offenders.mkString(", ")}")
  }

  test("the shared test session carries the policy's settings") {
    assert(spark.sparkContext.master == s"local[${SparkSuite.Cores}]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "32768")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("the shared test session serves file: through graft.LocalFs for both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    val local = java.net.URI.create("file:///")
    assert(org.apache.hadoop.fs.FileSystem.get(local, conf).isInstanceOf[NioLocalFileSystem])
    assert(org.apache.hadoop.fs.FileSystem.getLocal(conf).getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(org.apache.hadoop.fs.FileContext.getFileContext(local, conf).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  test("applySessionConf binds file: on a session graft did not build") {
    val other = spark.newSession()
    LocalFs.HadoopConf.foreach { case (k, _) => assert(other.conf.getOption(k).isEmpty, k) }
    graft.pipeline.PipelineConfig.under("/unused", "/unused/bridges.csv").applySessionConf(other)
    val conf = other.sessionState.newHadoopConf()
    LocalFs.HadoopConf.foreach { case (k, v) =>
      assert(other.conf.get(k) == v, k)
      assert(conf.get(k) == v, k)
    }
    assert(LocalFs.HadoopConf.map(_._1).toSet ==
      Set("fs.file.impl", "fs.file.impl.disable.cache", "fs.AbstractFileSystem.file.impl"))
  }
}
