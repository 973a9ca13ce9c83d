package graft.hadoop

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` with `setPermission` reimplemented via
  * `java.nio.file.Files.setPosixFilePermissions`.
  *
  * Without libhadoop (this sandbox, and any vanilla-JRE deployment),
  * Hadoop's local filesystem falls back to fork/exec-ing a `chmod`
  * shell per `setPermission` call — and the local-fs create path
  * applies a permission to EVERY file and directory it makes, so each
  * streaming micro-batch pays one subprocess per state-store delta
  * file, offset log, commit log and checkpoint dir. Stack sampling
  * the stream-join bench showed executor threads queued on
  * `StateStore.getStateStoreProvider`'s global lock while the holder
  * sat inside that fork/exec (provider init = mkdirs under the lock).
  * The NIO call is the same chmod syscall libhadoop's NativeIO would
  * issue, with no subprocess.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val m: Int = permission.toShort.toInt
    val perms = EnumSet.noneOf(classOf[PosixFilePermission])
    if ((m & 0x100) != 0) perms.add(PosixFilePermission.OWNER_READ)
    if ((m & 0x080) != 0) perms.add(PosixFilePermission.OWNER_WRITE)
    if ((m & 0x040) != 0) perms.add(PosixFilePermission.OWNER_EXECUTE)
    if ((m & 0x020) != 0) perms.add(PosixFilePermission.GROUP_READ)
    if ((m & 0x010) != 0) perms.add(PosixFilePermission.GROUP_WRITE)
    if ((m & 0x008) != 0) perms.add(PosixFilePermission.GROUP_EXECUTE)
    if ((m & 0x004) != 0) perms.add(PosixFilePermission.OTHERS_READ)
    if ((m & 0x002) != 0) perms.add(PosixFilePermission.OTHERS_WRITE)
    if ((m & 0x001) != 0) perms.add(PosixFilePermission.OTHERS_EXECUTE)
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
  }
}

/** Local `file:` FileSystem for the engine's sessions: a
  * [[LocalFileSystem]] (several Hadoop/Spark code paths cast the
  * `file:` scheme to that class — e.g. `FileSystem.getLocal` inside
  * the RocksDB state file manager) over [[NioRawLocalFileSystem]],
  * with per-file CRC shadow files off in both directions — the
  * durability story for local scratch (checkpoints, staged fixtures,
  * sink work dirs) is the atomic-rename commit protocol, not `.crc`
  * twins that double every metadata operation. Registered for the
  * `file:` scheme by [[graft.GraftSession]]; overridable with
  * `--conf spark.hadoop.fs.file.impl=...` and simply never used by
  * HDFS/object-store deployments.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}
