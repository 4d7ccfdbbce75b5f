package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites in the forked test JVM. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session(cores = SparkSuite.Cores)

  /** A fresh work dir, deleted with everything in it when the JVM exits. */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    SparkSuite.workDirs.add(d)
    d.toString
  }
}

object SparkSuite {
  /** The tests' core count: fixed, so plan shapes and partition-dependent
    * outputs do not vary with the host. */
  val Cores = 4

  private val workDirs = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
    // Hadoop's hook manager runs hooks by priority, highest first; Spark
    // stops its contexts at 50, so the work dirs go after every session
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)), 10)
    dirs
  }
}
