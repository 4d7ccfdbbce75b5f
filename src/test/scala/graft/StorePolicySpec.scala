package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every store's meta row goes through [[graft.ops.StoreIO]]: no other
  * source file reads or writes a `<store>/meta` directory, so the key
  * shape and the read-through protocol live in one place. */
class StorePolicySpec extends org.scalatest.funsuite.AnyFunSuite {

  test("no source file outside ops/StoreIO.scala touches a store's meta directory") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"src/main not found from ${Paths.get("").toAbsolutePath}")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    // `s"$path/meta"`, `s"${dir}/meta"` or a `"/meta"` literal
    val metaDir = """(\$\{?\w+\}?|")/meta\b""".r
    val policy = Paths.get("src/main/scala/graft/ops/StoreIO.scala")
    assert(files.contains(policy))
    assert(metaDir.findFirstIn(Files.readString(policy)).isDefined)
    val offenders = files.filterNot(_ == policy)
      .filter(f => metaDir.findFirstIn(Files.readString(f)).isDefined)
    assert(offenders.isEmpty,
      s"store meta read or written outside StoreIO: ${offenders.mkString(", ")}")
  }
}
