package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, FsConstants, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.internal.SQLConf

/** A streaming checkpoint manager that writes `file:` checkpoints without
  * starting a process (pinned by [[StreamingEntry]]'s state pins).
  *
  * Without `libhadoop`, Hadoop's local file system starts a `chmod` process
  * for every file or directory it creates, and `FileContext` (Spark's
  * default manager) starts a `readlink` process for every rename: ~340
  * processes for a three-micro-batch stateful query on four partitions
  * (EXPERIMENTS.md "Streaming checkpoints without a process per file").
  *
  * For `file:` paths this is Spark's FileSystem-based manager over Hadoop's
  * checksummed [[LocalFileSystem]]: a rename is the raw file system's POSIX
  * rename, which needs no `readlink`, `.crc` files are still written and
  * verified, and an existing file is still refused when overwriting is not
  * allowed. Two things differ from Hadoop's own local file system:
  *   - the raw layer sets a mode through `java.nio` (same bits; Hadoop's own
  *     call for bits NIO cannot express, such as sticky);
  *   - a checksum failure leaves the damaged file where it is, as Spark's
  *     default manager does, instead of moving it to a `bad_files` directory.
  *
  * Any other scheme gets exactly Spark's default manager (`FileContext`-based,
  * falling back to FileSystem-based), so HDFS and S3 checkpoints are as
  * before.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[streaming] val underlying: CheckpointFileManager =
    if (isLocalPath(path, hadoopConf)) new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
      override protected val fs: FileSystem = localFs(hadoopConf)
    }
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ClassKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** The session conf that names a streaming query's checkpoint manager. */
  val ClassKey: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  private def isLocalPath(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** A fresh (uncached) checksummed local file system over [[NioRawLocalFileSystem]]. */
  private def localFs(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem(new NioRawLocalFileSystem) {
      override def reportChecksumFailure(
          p: Path, in: FSDataInputStream, inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean =
        false
    }
    fs.initialize(FsConstants.LOCAL_FS_URI, conf)
    fs
  }

  /** `PosixFilePermission.values` runs owner r/w/x, group r/w/x, others
    * r/w/x: mode bits 8 down to 0.
    */
  private val PosixBits = PosixFilePermission.values.toIndexedSeq

  /** Hadoop's raw local file system, setting modes without a `chmod` process. */
  private class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (NativeIO.isAvailable || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixBits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) perms.add(PosixBits(i)))
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }
}
