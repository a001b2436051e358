package graft.sources

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem,
  FSDataInputStream, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's raw local file system with its two process launches done in
 * process. Without the native libhadoop library (a plain JVM host has
 * none), the stock `RawLocalFileSystem` runs a `chmod` process for every
 * `setPermission` — that is, every file create and every mkdirs with a
 * mode — and a `readlink` process for every `getFileLinkStatus`, which a
 * FileContext rename calls on both of its paths. A Gold write, a Silver
 * append and every streaming offset, commit and state-store file pay them.
 *
 * Both overrides keep the stock result:
 *  - `setPermission` sets the 9 mode bits with
 *    `Files.setPosixFilePermissions`, the same `chmod(2)` that `chmod 0644`
 *    makes. It takes the stock path when the permission carries the
 *    sticky bit, when the target already has setuid or setgid (GNU chmod
 *    keeps them on a directory under a 4-digit mode, nio would clear
 *    them), when the platform has no POSIX attribute view, and when the
 *    in-process call fails, so a missing path throws the stock exception.
 *  - `getFileLinkStatus` is `getFileStatus` unless the path is a symlink,
 *    which takes the stock path. The stock code reads the link with
 *    `readlink`, and for a path that is no link that yields nothing and
 *    falls through to the same `getFileStatus`.
 *
 * [[graft.GraftSession]] installs the two wrappers below for the `file:`
 * scheme: [[GraftLocalFileSystem]] as `fs.file.impl` and [[GraftLocalFs]]
 * as `fs.AbstractFileSystem.file.impl`. Caveat: Hadoop caches one `file:`
 * FileSystem per JVM and user, not per Configuration. A lookup through a
 * Configuration that lacks the setting (`FileSystem.getLocal(new
 * Configuration())`) made before the first session caches the stock
 * LocalFileSystem, and every later `file:` lookup in that JVM, Spark's
 * included, gets it. FileContext file systems are not cached: each
 * lookup reads its own Configuration.
 */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!InProcessRawLocalFileSystem.chmod(pathToFile(p).toPath, permission.toShort))
      super.setPermission(p, permission)

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object InProcessRawLocalFileSystem {

  /** OWNER_READ (0400) down to OTHERS_EXECUTE (0001), one bit each. */
  private val bitOrder = PosixFilePermission.values

  /** Sets `mode` on `file` in process; false when only the stock `chmod`
    * keeps its semantics (see the class doc) and nothing was changed. */
  private def chmod(file: java.nio.file.Path, mode: Int): Boolean =
    (mode & ~0x1ff) == 0 && (try {
      val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      (current & 0xc00) == 0 && {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        for (i <- bitOrder.indices if (mode & (0x100 >> i)) != 0)
          perms.add(bitOrder(i))
        Files.setPosixFilePermissions(file, perms)
        true
      }
    } catch {
      case _: IOException | _: UnsupportedOperationException => false
    })
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` (`.crc`
  * sidecars written and verified) over [[InProcessRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, used by FileContext (Spark's
  * streaming checkpoint manager: offsets, commits, state store): Hadoop's
  * `LocalFs`, a `ChecksumFs` over `RawLocalFs`, over
  * [[InProcessRawLocalFileSystem]] instead.
  *
  * One intended difference from the stock `LocalFs`: `open(path)` verifies
  * the `.crc` sidecar. Stock `FileContext.open(path)`, which Spark's
  * checkpoint manager calls, reaches `FilterFs.open(path)` and reads the
  * raw file unchecked, so a torn offset, commit or state-store file would
  * be read as data; only `open(path, bufferSize)` is checksummed. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftLocalFs.Raw(uri, conf)) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object GraftLocalFs {

  /** `org.apache.hadoop.fs.local.RawLocalFs` over the in-process file
    * system. Its constructors are package-private, so its three overrides
    * are restated here. */
  private final class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new InProcessRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
