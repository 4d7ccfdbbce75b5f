package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import graft.pipeline.{Generator, PipelineConfig, Pipelines}

/** [[NioRawLocalFileSystem]] reports what Hadoop's forking
  * [[RawLocalFileSystem]] reports, and a pipeline drain forks no Hadoop
  * shell command. */
class LocalFsSpec extends SparkSuite {

  private def fs(raw: RawLocalFileSystem, conf: Configuration = new Configuration()) = {
    raw.initialize(URI.create("file:///"), conf); raw
  }
  private val hadoop = fs(new RawLocalFileSystem)
  private val nio = fs(new NioRawLocalFileSystem)

  private def fields(s: FileStatus) = Seq(
    "len" -> s.getLen, "dir" -> s.isDirectory, "symlink" -> (if (s.isSymlink) s.getSymlink else null),
    "mtime" -> s.getModificationTime, "atime" -> s.getAccessTime, "permission" -> s.getPermission,
    "owner" -> s.getOwner, "group" -> s.getGroup, "path" -> s.getPath,
    "replication" -> s.getReplication, "block" -> s.getBlockSize)

  private def same(p: Path): Unit =
    for ((name, stat) <- Seq[(String, RawLocalFileSystem => FileStatus)](
      "getFileStatus" -> (_.getFileStatus(p)), "getFileLinkStatus" -> (_.getFileLinkStatus(p)))) {
      val expected = scala.util.Try(stat(hadoop))
      val actual = scala.util.Try(stat(nio))
      expected.failed.foreach { e =>
        assert(e.isInstanceOf[FileNotFoundException], s"$name($p): Hadoop threw $e")
        assert(actual.failed.toOption.exists(_.isInstanceOf[FileNotFoundException]),
          s"$name($p): Hadoop threw $e, NIO gave $actual")
      }
      expected.foreach(h => assert(fields(actual.get) == fields(h), s"$name($p)"))
    }

  private val root = new File(tmpDir("graft-localfs"))
  private def mode(f: File) = Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  test("file, directory, symlinks and a missing path: same status as Hadoop, field by field") {
    val file = new File(root, "file.txt")
    Files.writeString(file.toPath, "twelve bytes")
    val dir = new File(root, "dir")
    dir.mkdir()
    // sticky bit: Hadoop reads it from `ls -ld`, PosixFilePermission cannot hold it
    Files.setAttribute(dir.toPath, "unix:mode", Int.box(0x3ed | 0x200)) // 01755
    val live = new File(root, "live")
    Files.createSymbolicLink(live.toPath, file.toPath)
    val dangling = new File(root, "dangling")
    Files.createSymbolicLink(dangling.toPath, Paths.get(root.getPath, "gone"))
    assert(hadoop.getFileStatus(new Path(dir.getPath)).getPermission.getStickyBit)
    assert(hadoop.getFileLinkStatus(new Path(live.getPath)).isSymlink)
    for (f <- Seq(file, dir, live, dangling, new File(root, "missing")))
      same(new Path(f.getPath))
    same(new Path(new Path(root.getPath), "dir"))
  }

  test("create and mkdirs leave the same modes as Hadoop under the same umask") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val (h, n) = (fs(new RawLocalFileSystem, conf), fs(new NioRawLocalFileSystem, conf))
      def made(raw: RawLocalFileSystem, name: String) = {
        val d = new File(root, s"$name-$umask")
        assert(raw.mkdirs(new Path(d.getPath, "a/b")))
        raw.create(new Path(d.getPath, "a/b/f")).close()
        Seq("a", "a/b", "a/b/f").map(s => mode(new File(d, s)))
      }
      assert(made(n, "nio") == made(h, "hadoop"), s"umask $umask")
    }
  }

  test("a pipeline drain forks no Hadoop shell command") {
    val base = tmpDir("graft-localfs-drain")
    val cfg = PipelineConfig.under(base, s"$base/bridges.csv")
    Generator.writeBridgesCsv(cfg.bridgesCsv)
    Generator.generate(cfg.landingRoot, rate = 2, durationSeconds = 90, seed = 7L)
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try Pipelines.drainOnce(spark, cfg) finally { rec.stop(); rec.dump(jfr); rec.close() }
    val events = RecordingFile.readAllEvents(jfr).asScala
    Files.delete(jfr)
    val shell = events.filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    assert(shell.isEmpty, s"${shell.size} of ${events.size} forks came from Hadoop's Shell: " +
      shell.take(3).map(_.getString("command")).mkString("; "))
    assert(spark.read.parquet(cfg.silverDir("tilt")).count() > 0)
  }
}
