package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites in the forked test JVM. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session(cores = SparkSuite.Cores)

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }
}

object SparkSuite {
  /** The tests' core count: fixed, so plan shapes and partition-dependent
    * outputs do not vary with the host. */
  val Cores = 4
}
