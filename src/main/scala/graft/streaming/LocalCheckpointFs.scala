package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Hadoop's local file system without its shell-outs. When libhadoop
  * is not loaded, `RawLocalFileSystem` launches a `chmod` process for
  * every file or directory it creates, and a `readlink` process for
  * every `getFileLinkStatus` (which FileContext's rename calls twice).
  * A streaming micro-batch writes a state-store delta, its `.crc` and
  * Spark's checksum sidecar per operator partition, plus the offset
  * and commit logs, so those launches were most of a batch's commit
  * time. This class does the same two things in-process; files,
  * bytes, permissions and rename semantics are unchanged. */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {

  /** Plain rwx bits through NIO; sticky bits, and file systems
    * without POSIX attributes, keep Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0 || !ForkFreeLocalFileSystem.posix)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeLocalFileSystem.toPosix(bits))
  }

  /** A path that is not a symlink has the same link status as file
    * status; only real links pay for Hadoop's link resolution. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: bit 8 down to bit 0 of the octal mode
  private val byBit = PosixFilePermission.values.reverse

  private def toPosix(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    byBit.indices.foreach(i => if ((bits & (1 << i)) != 0) s.add(byBit(i)))
    s
  }
}

/** [[ForkFreeLocalFileSystem]] as a FileContext file system: the
  * counterpart of Hadoop's `RawLocalFs`, whose constructor is
  * package-private, with the same overrides. */
class RawLocalCheckpointFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed (`.crc`) wrapper, the counterpart of Hadoop's `LocalFs`.
  * FileContext instantiates it reflectively from
  * `fs.AbstractFileSystem.file.impl` with a (URI, Configuration)
  * constructor; like `LocalFs` it ignores the URI. */
class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalCheckpointFs(conf))

/** Spark's FileContext checkpoint manager, with `file:` paths served by
  * [[LocalCheckpointFs]]. The file system is swapped on a COPY of the
  * Hadoop conf, for the `file` scheme only, so HDFS, S3 and other
  * checkpoint stores behave exactly as under Spark's own manager. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, LocalCheckpointFs.conf(hadoopConf))

object LocalCheckpointFs {
  /** Spark's own setting that picks a query's checkpoint manager. */
  val ManagerConf = "spark.sql.streaming.checkpointFileManagerClass"

  /** A copy of `hadoopConf` whose `file:` scheme is [[LocalCheckpointFs]]. */
  def conf(hadoopConf: Configuration): Configuration = {
    val c = new Configuration(hadoopConf)
    c.set("fs.AbstractFileSystem.file.impl", classOf[LocalCheckpointFs].getName)
    c
  }

  /** Point the session's streaming checkpoints at
    * [[LocalCheckpointFileManager]], unless the caller already chose a
    * manager. Idempotent. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ManagerConf).isEmpty)
      spark.conf.set(ManagerConf, classOf[LocalCheckpointFileManager].getName)
}
