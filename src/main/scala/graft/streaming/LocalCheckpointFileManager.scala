package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.internal.SQLConf

/** Spark `CheckpointFileManager` that writes `file:` checkpoints without
  * forking a process per file.
  *
  * Every trigger of a stateful query makes its checkpoint durable with
  * small writes: an offsets and a commits WAL entry, plus one state-store
  * delta (and Spark's checksum sidecar) per state partition, each with a
  * Hadoop `.crc`. Spark's default manager for local paths goes through
  * `FileContext` over Hadoop's `RawLocalFileSystem`, which without the
  * Hadoop native library forks `chmod` for every file and directory it
  * creates (`setPermission`) and `readlink` twice per rename — dozens of
  * `fork/exec`s per trigger, which set the per-trigger floor of the
  * streaming queries, not the dataflow.
  *
  * For `file:` paths this manager is Spark's own
  * `FileSystemBasedCheckpointFileManager` over Hadoop's checksummed
  * `LocalFileSystem`, wrapping a `RawLocalFileSystem` whose
  * `setPermission` sets the same mode bits through `java.nio`; the
  * FileSystem API renames with `File.renameTo`, so no `readlink` either.
  * What lands on disk is unchanged: data files plus their `.crc`, Spark's
  * checksum sidecars, the same mode bits (directories get the default
  * permission under the configured umask, as `FileContext.mkdir` applies
  * it). Every other scheme (`hdfs://`, `s3a://`, ...) gets exactly the
  * manager Spark would pick without this class.
  *
  * [[graft.plans.GraftExtensions]] installs it as the default for every
  * engine session; an explicit `spark.sql.streaming.checkpointFileManagerClass`
  * wins over it.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFileScheme(path, hadoopConf))
      new LocalCheckpointFileManager.ForkFreeManager(path, hadoopConf)
    else LocalCheckpointFileManager.sparkDefault(path, hadoopConf)

  override def createAtomic(
      p: Path,
      overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** The Hadoop conf key `CheckpointFileManager.create` reads. */
  val ConfKey: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** Make this manager the default of `hadoopConf` unless a class is
    * already set there. */
  def install(hadoopConf: Configuration): Unit =
    hadoopConf.setIfUnset(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The manager Spark picks when no class is configured. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val unset = new Configuration(conf)
    unset.unset(ConfKey)
    CheckpointFileManager.create(path, unset)
  }

  private class ForkFreeManager(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new ForkFreeRawLocalFileSystem)
      local.setConf(hadoopConf)
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }

    // FileSystem.mkdirs(p, perm) takes `perm` as is; FileContext.mkdir,
    // which Spark's default manager uses, applies the umask first
    private val dirPermission =
      FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(hadoopConf))

    override def mkdirs(p: Path): Unit = fs.mkdirs(p, dirPermission)

    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      fs.mkdirs(qualified, dirPermission)
      qualified
    }

    // Replace an existing file the way FileContext.rename(OVERWRITE) does
    // on local paths: delete it, then rename onto the free name. Renaming
    // over an existing file instead makes ext4 (auto_da_alloc) allocate
    // the new file's blocks at once, and deleting allocated files is
    // slow on disks mounted with online discard (~50 ms a file measured
    // on a 4-vCPU VM when a stopped query removes its checkpoint).
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      if (overwriteIfPossible && fs.exists(dst)) fs.delete(dst, false)
      super.renameTempFile(src, dst, overwriteIfPossible)
    }
  }

  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `RawLocalFileSystem` that sets rwx mode bits with `java.nio` instead
    * of forking `chmod`. Modes with setuid, setgid or sticky bits, which
    * `java.nio` cannot express, and non-POSIX hosts keep Hadoop's path. */
  private final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // enum order OWNER_READ .. OTHERS_EXECUTE is mode bit 8 .. 0
        PosixFilePermission.values.foreach { pp =>
          if ((mode & (1 << (8 - pp.ordinal))) != 0) perms.add(pp)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }
}
