package graft

import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its child processes. Without
  * the native `libhadoop`, the stock class forks a `chmod` for every
  * file and directory it creates and a `readlink` for every link-status
  * probe (four per `FileContext` rename). Here a plain chmod is one
  * `java.nio` call and a probe of a path that is not a symlink is one
  * `lstat`. Whatever NIO cannot express goes to `super`, which keeps
  * Hadoop's own behaviour: a sticky, setuid or setgid bit (GNU chmod
  * keeps a directory's setgid bit, NIO would clear it), a symlink, a
  * non-POSIX file system, and every error. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    val path = pathToFile(p).toPath
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // enum order is 0400, 0200, ..., 0001; 0xE00 = 07000, 0xF000 the
    // file-type mask, 0xA000 a symlink
    PosixFilePermission.values.foreach(q => if ((bits & (0x100 >> q.ordinal)) != 0) perms.add(q))
    val viaNio = (bits & 0xE00) == 0 && (try {
      val mode = Files.getAttribute(path, "unix:mode", LinkOption.NOFOLLOW_LINKS)
        .asInstanceOf[Int]
      (mode & 0xF000) != 0xA000 && (mode & 0xE00) == 0 && {
        Files.setPosixFilePermissions(path, perms); true
      }
    } catch { case _: UnsupportedOperationException | _: java.io.IOException => false })
    if (!viaNio) super.setPermission(p, permission)
  }

  // the stock probe is `readlink <f.toString>`: a symlink iff NIO says so
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new java.io.File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the FileSystem API (Spark's file writers and readers,
  * the staging and store code) with checksums over the fork-free raw. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext API (the streaming
  * offset, commit and source logs, RocksDB changelog uploads). Mirrors
  * `org.apache.hadoop.fs.local.LocalFs` over `RawLocalFs`; Hadoop calls the
  * (URI, Configuration) constructor and, as there, the URI is unused. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
        conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
