package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import graft.streaming.Streams
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The session's `file:` scheme ([[NoForkLocalFileSystem]] and
  * [[NoForkLocalFs]]): the same modes and link statuses as Hadoop's
  * process-starting fallback, and no `chmod`, `readlink` or `ls` process
  * on a streaming and a compaction query. */
class LocalFsSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark
  private lazy val conf = spark.sparkContext.hadoopConfiguration
  private lazy val fs = FileSystem.get(new URI("file:///"), conf)

  private def withDir[A](body: File => A): A = {
    val d = Files.createTempDirectory("localfs_spec_").toFile
    def rm(f: File): Unit = {
      if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    try body(d) finally rm(d)
  }

  private def mode(f: File): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  /** The fields a caller reads off a status; `FileStatus.equals` compares
    * only the path. */
  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)

  test("both Hadoop APIs resolve file: to the no-fork classes") {
    assert(fs.isInstanceOf[NoForkLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NoForkLocalFileSystem])
    val afs = FileContext.getFileContext(new URI("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NoForkLocalFs])
  }

  test("created files are 0644 and made directories 0755 in both APIs") {
    withDir { d =>
      val f = new File(d, "a/b/part-0")
      fs.create(new Path(f.getPath)).close()
      assert(mode(f) === "rw-r--r--")
      assert(mode(f.getParentFile) === "rwxr-xr-x")
      assert(mode(f.getParentFile.getParentFile) === "rwxr-xr-x")
      val m = new File(d, "m/n")
      assert(fs.mkdirs(new Path(m.getPath)))
      assert(mode(m) === "rwxr-xr-x")

      val fc = FileContext.getFileContext(new URI("file:///"), conf)
      val g = new File(d, "c/d/offsets-0")
      fc.mkdir(new Path(g.getParent), FsPermission.getDirDefault, true)
      fc.create(new Path(g.getPath), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        .close()
      assert(mode(g) === "rw-r--r--")
      assert(mode(g.getParentFile) === "rwxr-xr-x")
    }
  }

  test("getFileLinkStatus of a regular file or directory is its getFileStatus") {
    withDir { d =>
      val f = new File(d, "plain")
      Files.writeString(f.toPath, "x")
      for (p <- Seq(new Path(f.getPath), new Path(d.getPath))) {
        assert(fields(fs.getFileLinkStatus(p)) === fields(fs.getFileStatus(p)))
        assert(!fs.getFileLinkStatus(p).isSymlink)
      }
    }
  }

  test("getFileLinkStatus reports a symbolic link and its target") {
    withDir { d =>
      val target = new File(d, "target")
      Files.writeString(target.toPath, "x")
      val link = new File(d, "link")
      Files.createSymbolicLink(link.toPath, target.toPath)
      val st = fs.getFileLinkStatus(new Path(link.getPath))
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath === target.getPath)
    }
  }

  test("getFileLinkStatus of a missing path throws FileNotFoundException") {
    withDir { d =>
      intercept[FileNotFoundException] {
        fs.getFileLinkStatus(new Path(new File(d, "missing").getPath))
      }
    }
  }

  test("a mode above 0777 (sticky bit) is still applied") {
    withDir { d =>
      val p = new Path(new File(d, "sticky").getPath)
      assert(fs.mkdirs(p))
      fs.setPermission(p, new FsPermission(Integer.parseInt("1777", 8).toShort))
      val perm = fs.getFileStatus(p).getPermission
      assert(perm.getStickyBit)
      assert(perm.toShort === Integer.parseInt("1777", 8))
      fs.setPermission(p, new FsPermission(Integer.parseInt("0700", 8).toShort))
      assert(mode(new File(d, "sticky")) === "rwx------")
    }
  }

  test("a streaming dedup and a compaction start no chmod, readlink or ls process") {
    val dir = "/root/testdata/sf0.001"
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val rows = try {
      Streams.streamDedup(spark, dir).collect().length +
        SparkEntry.queries("q115_compaction")(spark, dir).collect().length
    } finally rec.stop()
    assert(rows > 0)
    val jfr = Files.createTempFile("localfs_spec_", ".jfr")
    try {
      rec.dump(jfr)
      val commands = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      val forked = commands.filter { c =>
        Set("chmod", "readlink", "ls")(Paths.get(c.trim.split("\\s+")(0)).getFileName.toString)
      }
      if (forked.nonEmpty)
        fail(s"${forked.size} of ${commands.size} process starts were: ${forked.take(3).mkString("; ")}")
    } finally { rec.close(); Files.deleteIfExists(jfr) }
  }
}
