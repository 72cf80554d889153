package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two shell-outs done in the JVM.
  *
  * Without `libhadoop`, `org.apache.hadoop.fs.RawLocalFileSystem` starts
  * a child process (plus a stderr-reader thread) for `chmod` on every
  * file or directory it creates with a permission, and for `readlink` on
  * every link-status probe; a `FileContext` rename, which commits every
  * streaming checkpoint and state-store file, makes four such probes.
  * Everything else, checksums included, is Hadoop's own code.
  *
  * Bound as session defaults in `build.sbt`:
  * `spark.hadoop.fs.file.impl=graft.fs.LocalFileSystem` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl=graft.fs.LocalFs`. */
class RawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {

  /** `chmod` through NIO, same mode bits (callers have applied the
    * umask already). NIO cannot express the sticky bit, so such a
    * permission keeps Hadoop's shell path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  /** For a path that is not a symlink, Hadoop's `readlink` prints nothing
    * and it returns `getFileStatus(f)`; return that directly. A real
    * symlink keeps Hadoop's path unchanged. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[RawLocalFileSystem]]. */
class LocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new RawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` binding that
  * streaming checkpoints commit through): Hadoop's `LocalFs` over
  * [[RawLocalFileSystem]]. Hadoop's `RawLocalFs` hard-codes its raw class
  * behind package-private constructors, so its overrides are copied. */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(uri, new RawLocalFileSystem,
      conf, "file", false) {
      override def getUriDefaultPort(): Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def getServerDefaults(): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
