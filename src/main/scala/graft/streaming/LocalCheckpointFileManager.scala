package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption,
  Path => NioPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem,
  UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files without forked processes.
  *
  * Without libhadoop, Hadoop's local filesystem forks a shell command
  * for permission work: every checkpoint file Spark's default manager
  * writes (offset, commit, metadata and source logs, state-store
  * files) goes through `ChecksumFs` and costs a `chmod` for the file,
  * another for its `.crc` and `readlink`s during the rename, mostly on
  * the stream execution thread. On `file:` paths this manager does the
  * same work through java.nio:
  *  - `createAtomic` writes `.<name>.<uuid>.tmp` beside the target and
  *    publishes it on `close` with an atomic rename (overwrite) or a
  *    hard link (no-clobber: an existing target fails with Hadoop's
  *    `FileAlreadyExistsException`, which `HDFSMetadataLog` reads as a
  *    second writer of the same batch);
  *  - files and directories get the process umask's modes (0644 /
  *    0755 under umask 022, what Hadoop's `chmod` sets);
  *  - no `.crc` sidecars are written; a stale sidecar left by the
  *    default manager is removed with its file, so either manager can
  *    reopen the checkpoint;
  *  - `open`, `list` and `delete` go through `RawLocalFileSystem`,
  *    which forks nothing on those calls.
  * Other schemes get Spark's own choice: `FileContext`-based, falling
  * back to `FileSystem`-based.
  *
  * Installed by [[StreamingOps.session]] through
  * `spark.sql.streaming.checkpointFileManagerClass`, which
  * `CheckpointFileManager.create` instantiates with this constructor. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file")
      new LocalCheckpointFileManager.NioFiles(path, hadoopConf)
    else
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch { case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path =
    impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  private def isHidden(name: String): Boolean =
    name.endsWith(".crc") || (name.startsWith(".") && name.endsWith(".tmp"))

  /** The `file:` implementation. */
  private final class NioFiles(root: Path, hadoopConf: Configuration)
      extends CheckpointFileManager {
    private val raw: RawLocalFileSystem =
      FileSystem.getLocal(hadoopConf).getRawFileSystem
        .asInstanceOf[RawLocalFileSystem]

    private def nio(p: Path): NioPath = raw.pathToFile(p).toPath

    /** The default manager's checksum sidecar of `p`. */
    private def crcOf(p: NioPath): NioPath =
      p.resolveSibling(s".${p.getFileName}.crc")

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val target = nio(p)
      val tmp = target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new CancellableFSDataOutputStream(new BufferedOutputStream(
          Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW))) {
        private var terminated = false

        override def close(): Unit = synchronized {
          if (!terminated) try {
            underlyingStream.close()
            if (overwriteIfPossible) {
              // a stale sidecar would fail the default manager's read
              Files.deleteIfExists(crcOf(target))
              Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
            } else try Files.createLink(target, tmp)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$p already exists")
            }
          } finally { terminated = true; Files.deleteIfExists(tmp) }
        }

        override def cancel(): Unit = synchronized {
          if (!terminated) try underlyingStream.close()
          finally { terminated = true; Files.deleteIfExists(tmp) }
        }
      }
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      raw.listStatus(p, (f: Path) => !isHidden(f.getName) && filter.accept(f))

    override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))

    override def exists(p: Path): Boolean = Files.exists(nio(p))

    override def delete(p: Path): Unit = {
      raw.delete(p, true)
      Files.deleteIfExists(crcOf(nio(p)))
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val q = raw.makeQualified(root)
      mkdirs(q)
      q
    }
  }
}
