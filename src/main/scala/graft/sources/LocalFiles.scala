package graft.sources

import java.net.URI
import java.nio.file.{Files, attribute}
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's `file:` file system without a process per file.
  *
  * Without the native `libhadoop.so`, Hadoop's local file system starts
  * a `chmod` process for every file and directory it creates with a
  * permission, and a `readlink` process for every link-status lookup,
  * which every `FileContext` rename makes (streaming checkpoints and
  * state stores commit that way). These bindings answer both through
  * `java.nio.file` in-process and fall back to Hadoop's own code
  * wherever NIO cannot (a non-POSIX file system, a sticky bit, a
  * symbolic link). `GraftSession.builder` binds both scheme entries:
  * `fs.file.impl` ([[Local]]) and `fs.AbstractFileSystem.file.impl`
  * ([[Fs]]). */
object LocalFiles {

  /** The raw (checksum-free) local file system. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
        catch {
          case _: java.io.IOException | _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }

    /** Hadoop's answer for a path that is not a symbolic link is its
      * plain file status; only a link needs the `readlink` lookup. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: the checksummed local file system over [[Raw]].
    * A rename onto an existing file fails and leaves both files, as it
    * does with the binding this one replaces: Hive's jars on Spark's
    * classpath register `ProxyLocalFileSystem` for `file:`, and Hadoop's
    * own local rename would overwrite the file. */
  class Local extends LocalFileSystem(new Raw) {
    override def rename(src: Path, dst: Path): Boolean = {
      val dstIsFile =
        try getFileStatus(dst).isFile catch { case _: java.io.FileNotFoundException => false }
      !dstIsFile && super.rename(src, dst)
    }
  }

  /** `fs.AbstractFileSystem.file.impl`: the `FileContext` binding over
    * [[Raw]], as Hadoop's `LocalFs` is over `RawLocalFs`. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  private final class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("overrides AbstractFileSystem's deprecated method", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private def posix(p: FsPermission): java.util.Set[attribute.PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    def add(a: FsAction, r: attribute.PosixFilePermission, w: attribute.PosixFilePermission,
            x: attribute.PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) out.add(r)
      if (a.implies(FsAction.WRITE)) out.add(w)
      if (a.implies(FsAction.EXECUTE)) out.add(x)
    }
    add(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    out
  }
}
