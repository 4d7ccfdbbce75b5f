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
}
