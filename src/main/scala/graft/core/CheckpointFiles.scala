package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint-file manager of every graft session (set in
  * `GraftSession.withGraftConfigs`): offset and commit logs, state-store
  * deltas, snapshots and changelogs all open through it.
  *
  * A local directory goes through Hadoop `FileSystem`
  * (`FileSystemBasedCheckpointFileManager`); anything else keeps Spark's
  * default, `FileContextBasedCheckpointFileManager` (and Spark's fallback
  * to `FileSystem` where no `FileContext` binding exists). On a local
  * path the `FileContext` create path sets permissions, which without
  * Hadoop's native library forks `chmod` per file: on a 4-vCPU host one
  * `createAtomic` + `close` took 11–16 ms through `FileContext` and
  * 2.4–3.5 ms through `FileSystem` in a fresh JVM, and a warm stream's
  * state commit over 4 partitions fell from 100 to 5 ms a batch.
  *
  * Both managers write a temp file and rename it. On a local path both
  * check for an existing target and rename in two steps (`FileContext`
  * is atomic on HDFS only), and [[CheckpointFiles.Local]] overwrites as
  * `FileContext` does there.
  */
class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[core] val delegate: CheckpointFileManager =
    if (CheckpointFiles.isLocal(path, conf)) new CheckpointFiles.Local(path, conf)
    else try new FileContextBasedCheckpointFileManager(path, conf)
    catch { // Spark's own fallback for a file system with no FileContext binding
      case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = delegate.open(p)
  override def list(p: Path, filter: PathFilter) = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object CheckpointFiles {
  /** Whether `path` names the local file system: its own scheme, or the
    * default file system's when it has none, is `file`. Opens nothing. */
  def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Spark's `FileSystem` manager, overwriting as `FileContext` does on a
    * local path: `LocalFileSystem.rename` refuses an existing target, so
    * the plain manager would keep the old file where `overwriteIfPossible`
    * asks for the new one. The target is deleted, then the temp file
    * renamed onto it, the same two steps `FileContext` takes locally.
    */
  private[core] class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      if (overwriteIfPossible) fs.delete(dst, false)
      super.renameTempFile(src, dst, overwriteIfPossible)
    }
  }
}
