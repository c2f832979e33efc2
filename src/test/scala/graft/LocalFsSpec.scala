package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.RainStorm

/** Every graft session reads and writes `file:` paths through the fork-free
  * local file system, which answers every metadata call as Hadoop's own
  * `RawLocalFileSystem` does and keeps its `.crc` checksums.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def init(fs: RawLocalFileSystem, conf: Configuration = new Configuration()) = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
  private lazy val nio = init(new NioRawLocalFileSystem)
  private lazy val hadoop = init(new RawLocalFileSystem)

  private def tmp(): java.nio.file.Path = Files.createTempDirectory("graft_localfs")

  private def fields(s: FileStatus) =
    (s.getPath.toString, s.getLen, s.isDirectory, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)

  private def sameStatus(p: Path): Unit =
    assert(fields(nio.getFileStatus(p)) == fields(hadoop.getFileStatus(p)))

  test("a graft session's Hadoop conf resolves file: paths to the fork-free classes") {
    val hc = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), hc).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), hc)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("a file, a directory and a symlink have Hadoop's status") {
    val d = tmp()
    val file = Files.write(d.resolve("f.txt"), "hello".getBytes(StandardCharsets.UTF_8))
    val dir = Files.createDirectory(d.resolve("sub"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    Seq(file, dir, link).foreach(p => sameStatus(new Path(p.toString)))
    val l = new Path(link.toString)
    val (ours, theirs) = (nio.getFileLinkStatus(l), hadoop.getFileLinkStatus(l))
    assert(ours.isSymlink && theirs.isSymlink && ours.getSymlink == theirs.getSymlink)
    assert(!nio.getFileLinkStatus(new Path(file.toString)).isSymlink)
    assert(fields(nio.getFileLinkStatus(new Path(dir.toString))) ==
      fields(hadoop.getFileLinkStatus(new Path(dir.toString))))
  }

  test("a missing path throws FileNotFoundException") {
    val missing = new Path(tmp().resolve("none").toString)
    intercept[FileNotFoundException](hadoop.getFileStatus(missing))
    intercept[FileNotFoundException](nio.getFileStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("listStatus of a directory matches Hadoop's") {
    val d = tmp()
    (1 to 3).foreach(i => Files.write(d.resolve(s"part-$i"), Array.fill(i)(1.toByte)))
    Files.createDirectory(d.resolve("child"))
    def listed(fs: RawLocalFileSystem) =
      fs.listStatus(new Path(d.toString)).map(fields).sortBy(_._1).toSeq
    assert(listed(nio).size == 4)
    assert(listed(nio) == listed(hadoop))
  }

  test("setPermission round-trips 000, 644, 700 and 755 both ways") {
    val f = new Path(Files.write(tmp().resolve("p"), Array[Byte](1)).toString)
    Seq("000", "644", "700", "755").foreach { mode =>
      val perm = new FsPermission(mode)
      nio.setPermission(f, perm)
      assert(hadoop.getFileStatus(f).getPermission == perm, mode)
      sameStatus(f)
      hadoop.setPermission(f, FsPermission.getFileDefault)
      hadoop.setPermission(f, perm)
      assert(nio.getFileStatus(f).getPermission == perm, mode)
    }
  }

  test("mkdirs with a permission applies it under the umask as Hadoop does") {
    val d = tmp()
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    val (ours, theirs) = (init(new NioRawLocalFileSystem, c), init(new RawLocalFileSystem, c))
    val perm = new FsPermission("777")
    assert(ours.mkdirs(new Path(s"$d/a/b"), perm) && theirs.mkdirs(new Path(s"$d/c/d"), perm))
    Seq("a", "a/b").zip(Seq("c", "c/d")).foreach { case (o, t) =>
      val (po, pt) = (hadoop.getFileStatus(new Path(s"$d/$o")), hadoop.getFileStatus(new Path(s"$d/$t")))
      assert(po.getPermission == pt.getPermission, o)
      assert(nio.getFileStatus(new Path(s"$d/$o")).getPermission == po.getPermission, o)
    }
    assert(hadoop.getFileStatus(new Path(s"$d/a/b")).getPermission == new FsPermission("750"))
  }

  test("CheckpointFileManager.createAtomic writes, overwrites and checksums as Hadoop's LocalFs") {
    def write(impl: Option[String]): (Map[String, String], Seq[String]) = {
      val d = tmp()
      val hc = spark.sessionState.newHadoopConf()
      impl.foreach(hc.set("fs.AbstractFileSystem.file.impl", _))
      val fm = CheckpointFileManager.create(new Path(d.toString), hc)
      val p = new Path(s"$d/offsets/0")
      fm.mkdirs(p.getParent)
      Seq("first", "second").foreach { text =>
        val out = fm.createAtomic(p, overwriteIfPossible = true)
        out.write(text.getBytes(StandardCharsets.UTF_8))
        out.close()
      }
      val files = Files.walk(d).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      (files.filterNot(_.getFileName.toString.endsWith(".crc"))
        .map(f => d.relativize(f).toString -> Files.readString(f)).toMap,
        files.map(f => d.relativize(f).toString).sorted)
    }
    val ours = write(None)
    assert(ours == write(Some("org.apache.hadoop.fs.local.LocalFs")))
    assert(ours._1 == Map("offsets/0" -> "second"))
    assert(ours._2 == Seq("offsets/.0.crc", "offsets/0"))
  }

  test("a RainStorm word-count drain leaves a .crc beside every checkpoint file") {
    val d = tmp()
    val src = Files.createDirectory(d.resolve("src"))
    (0 until 3).foreach(i => Files.write(src.resolve(s"in-$i.txt"), s"a b c $i\nb c\n".getBytes(StandardCharsets.UTF_8)))
    val ckpt = d.resolve("ckpt")
    val q = RainStorm.wordCount(spark, src.toString, ckpt.toString, d.resolve("dest").toString,
      maxFilesPerTrigger = Some(1))
    q.awaitTermination(120000)
    val data = Files.walk(ckpt).iterator.asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc")).toSeq
    assert(Seq("offsets/2", "commits/2").forall(f => data.contains(ckpt.resolve(f))), data)
    val missing = data.filterNot(f => Files.exists(f.resolveSibling(s".${f.getFileName}.crc")))
    assert(missing.isEmpty, missing)
    assert(RainStorm.quantify(spark, d.resolve("dest").toString).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 3L, "b" -> 6L, "c" -> 6L, "0" -> 1L, "1" -> 1L, "2" -> 1L))
  }
}
