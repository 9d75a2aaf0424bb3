package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two per-file process launches served
  * in-process.
  *
  * Without libhadoop, stock `RawLocalFileSystem.setPermission` forks
  * `chmod` for every created file, `.crc` and directory, and
  * `getFileLinkStatus` forks `readlink` for every `FileContext` rename —
  * Structured Streaming's checkpoint logs and state files commit that way,
  * so each micro-batch of a stream paid about 110 forks. Here both are
  * `java.nio` calls; every case whose result java.nio cannot reproduce
  * exactly (sticky bit, a setuid/setgid directory, a non-POSIX store, a
  * symbolic link) still goes to the stock code.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  import InProcessRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    try {
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      // `chmod 0755` keeps a directory's setuid/setgid bits; chmod(2) with
      // only the rwx bits would clear them
      val setIdDir = (mode & IfMt) == IfDir && (mode & SetIds) != 0
      if (permission.getStickyBit || setIdDir) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, posix(permission.toShort))
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }

  /** A path that is not a link has the status of its target (what the
    * stock code returns after an empty `readlink`); links, dangling ones
    * included, keep the stock answer. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object InProcessRawLocalFileSystem {
  // st_mode fields (octal 0170000, 0040000, 06000)
  private val IfMt = 0xF000
  private val IfDir = 0x4000
  private val SetIds = 0xC00

  /** The nine rwx bits of `bits` as java.nio permissions: the enum runs
    * OWNER_READ … OTHERS_EXECUTE, i.e. bit 8 down to bit 0. */
  private def posix(bits: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { q =>
      if (((bits >> (8 - q.ordinal)) & 1) == 1) set.add(q)
    }
    set
  }
}

/** `fs.file.impl`: the checksummed local `FileSystem` over the in-process
  * raw one (stock `LocalFileSystem` wraps a stock `RawLocalFileSystem`). */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** The `FileContext` side of the raw filesystem: Hadoop's `RawLocalFs`
  * (a delegate over a stock `RawLocalFileSystem`) with its overrides. */
class InProcessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new InProcessRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they accept; the OS decides
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * filesystem Spark's checkpoint manager renames through (`LocalFs`'s
  * shape). */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(uri, conf))

object LocalFs {
  /** Session conf registering the pair for the `file` scheme. Hadoop
    * caches the first `file` FileSystem per JVM and user, so the session
    * must be built before anything else touches Hadoop's local FS. */
  val conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[InProcessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[InProcessLocalFs].getName)
}
