package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The in-process local filesystem ([[graft.LocalFs]]) against stock
  * Hadoop: the same permission bits, link statuses and rename outcomes,
  * and the shared session resolves `file://` to it on both the
  * `FileSystem` and the `FileContext` side.
  */
class LocalFsSpec extends SparkSpec {

  private val root = new URI("file:///")

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Instances built directly, past Hadoop's per-JVM FileSystem cache. */
  private def init[F <: FileSystem](fs: F, c: Configuration): F = {
    fs.initialize(root, c); fs
  }

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  /** Permission bits, setuid/setgid/sticky included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & oct("7777")

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  test("create and mkdirs leave stock permission bits under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      val modes = Seq("stock" -> new LocalFileSystem(), "in-process" -> new InProcessLocalFileSystem)
        .map { case (name, fresh) =>
          val fs = init(fresh, conf(umask))
          val dir = tmp(s"graft-perm-$name")
          fs.create(new Path(s"$dir/default.txt")).close()
          fs.create(new Path(s"$dir/exec.txt"), new FsPermission("755"), false, 4096,
            1.toShort, 1L << 20, null).close()
          fs.mkdirs(new Path(s"$dir/a/b"))
          fs.mkdirs(new Path(s"$dir/c"), new FsPermission("750"))
          Seq("default.txt", ".default.txt.crc", "exec.txt", ".exec.txt.crc", "a", "a/b", "c")
            .map(f => f -> mode(s"$dir/$f"))
        }
      assert(modes(0) == modes(1), s"umask $umask")
      val m = modes(1).toMap
      val (file, dir) = if (umask == "077") ("600", "700") else ("644", "755")
      assert(m("default.txt") == oct(file) && m("a/b") == oct(dir), s"umask $umask")
    }
  }

  test("getFileLinkStatus matches stock on files, dirs, links and missing paths") {
    val dir = tmp("graft-link")
    Files.writeString(Paths.get(s"$dir/file"), "x")
    Files.createDirectory(Paths.get(s"$dir/dir"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/file"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    val stock = init(new RawLocalFileSystem, conf())
    val ours = init(new InProcessRawLocalFileSystem, conf())
    for (name <- Seq("file", "dir", "link", "dangling")) {
      val p = new Path(s"$dir/$name")
      assert(ours.getFileLinkStatus(p).toString == stock.getFileLinkStatus(p).toString, name)
    }
    val link = ours.getFileLinkStatus(new Path(s"$dir/link"))
    assert(link.isSymlink && link.getSymlink == new Path(s"file:$dir/file"))
    val dangling = ours.getFileLinkStatus(new Path(s"$dir/dangling"))
    assert(dangling.isSymlink && dangling.getSymlink == new Path(s"file:$dir/gone"))
    assert(!ours.getFileLinkStatus(new Path(s"$dir/dir")).isSymlink)
    intercept[FileNotFoundException](stock.getFileLinkStatus(new Path(s"$dir/missing")))
    intercept[FileNotFoundException](ours.getFileLinkStatus(new Path(s"$dir/missing")))
  }

  test("FileContext.rename onto an existing file: refused without OVERWRITE, done with it") {
    val outcomes = Seq(None, Some(classOf[InProcessLocalFs].getName)).map { impl =>
      val c = conf()
      impl.foreach(c.set("fs.AbstractFileSystem.file.impl", _))
      val fc = FileContext.getFileContext(root, c)
      assert(fc.getDefaultFileSystem.getClass.getName ==
        impl.getOrElse("org.apache.hadoop.fs.local.LocalFs"))
      val dir = tmp("graft-rename")
      def write(name: String, body: String): Unit = {
        val out = fc.create(new Path(s"$dir/$name"),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        out.write(body.getBytes(UTF_8)); out.close()
      }
      write("src", "new"); write("dst", "old")
      intercept[FileAlreadyExistsException](
        fc.rename(new Path(s"$dir/src"), new Path(s"$dir/dst")))
      fc.rename(new Path(s"$dir/src"), new Path(s"$dir/dst"), Options.Rename.OVERWRITE)
      (new java.io.File(dir).list.sorted.toSeq, Files.readString(Paths.get(s"$dir/dst")))
    }
    assert(outcomes(0) == outcomes(1))
    assert(outcomes(1) == (Seq(".dst.crc", "dst"), "new"))
  }

  test("a sticky bit or a setgid directory goes to the stock chmod, which keeps it") {
    val fs = init(new InProcessRawLocalFileSystem, conf())
    val sticky = tmp("graft-sticky")
    fs.setPermission(new Path(sticky), new FsPermission(oct("1777").toShort))
    assert(mode(sticky) == oct("1777"))
    val setgid = tmp("graft-setgid")
    assert(new ProcessBuilder("chmod", "2755", setgid).start().waitFor() == 0)
    fs.setPermission(new Path(setgid), new FsPermission("750"))
    assert(mode(setgid) == oct("2750"))
  }

  test("the shared session resolves file:/// to the in-process classes") {
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(root, hc)
    assert(fs.isInstanceOf[InProcessLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[InProcessRawLocalFileSystem])
    assert(FileContext.getFileContext(root, hc).getDefaultFileSystem.isInstanceOf[InProcessLocalFs])
  }
}
