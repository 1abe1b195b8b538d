package graft.jobs

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` FileSystem, without forked processes.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks
  * `chmod` — once for every file, `.crc` sidecar and directory a
  * parquet write creates, from the executor tasks and the commit
  * protocol alike. This FileSystem sets the same mode, the one Hadoop
  * has already computed under its umask (0644 files, 0755
  * directories), through `java.nio`. Everything else, the `.crc`
  * layout included, is `LocalFileSystem`'s.
  *
  * Installed per write through [[writeOptions]], never for the JVM or
  * a session: Spark copies a writer's options into the Hadoop
  * configuration of that write's driver side and tasks, and turning
  * the `file:` cache off for it keeps other writers on the cached
  * default. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The write options that route a write's `file:` paths here. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The raw FileSystem under the checksums. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      // java.nio has no sticky bit: that mode keeps Hadoop's chmod
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
        PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
          if ((mode & (0x100 >> i)) != 0) bits.add(b)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      }
    }
  }
}
