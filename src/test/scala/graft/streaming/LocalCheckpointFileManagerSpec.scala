package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  import LocalCheckpointFileManagerSpec._

  private val conf = new Configuration()

  private def withDir(body: NioPath => Unit): Unit = {
    val dir = graft.SparkSpec.tempDir("graft-lcfm")
    try body(dir)
    finally Files.walk(dir).iterator().asScala.toVector.reverse
      .foreach(Files.delete)
  }

  private def names(dir: NioPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(m: CheckpointFileManager, p: Path, bytes: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(bytes.getBytes("UTF-8"))
    out.close()
  }

  private def read(p: NioPath): String =
    new String(Files.readAllBytes(p), "UTF-8")

  test("a closed createAtomic stream makes exactly the written bytes " +
      "visible, and only on close") {
    withDir { dir =>
      val m = manager(dir)
      val target = dir.resolve("0")
      val out = m.createAtomic(new Path(target.toUri), false)
      out.write("v1\n{\"batchWatermarkMs\":0}".getBytes("UTF-8"))
      out.flush()
      assert(!m.exists(new Path(target.toUri)))
      assert(names(dir).exists(n => n.startsWith(".0.") && n.endsWith(".tmp")))
      out.close()
      assert(read(target) === "v1\n{\"batchWatermarkMs\":0}")
      assert(names(dir) === Set("0"))
      out.close() // idempotent
      assert(names(dir) === Set("0"))
    }
  }

  test("cancel leaves neither the target nor a temp file") {
    withDir { dir =>
      val m = manager(dir)
      val out = m.createAtomic(new Path(dir.resolve("1").toUri), true)
      out.write(Array[Byte](1, 2, 3))
      out.cancel()
      assert(names(dir) === Set.empty)
    }
  }

  test("an existing target fails a no-clobber publish with Hadoop's " +
      "FileAlreadyExistsException and keeps its bytes; overwrite " +
      "replaces it") {
    withDir { dir =>
      val m = manager(dir)
      val p = new Path(dir.resolve("2").toUri)
      write(m, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException] {
        write(m, p, "second", overwrite = false)
      }
      assert(read(dir.resolve("2")) === "first")
      assert(names(dir) === Set("2"))
      write(m, p, "third", overwrite = true)
      assert(read(dir.resolve("2")) === "third")
      assert(names(dir) === Set("2"))
    }
  }

  test("list hides .crc sidecars and temp files; delete takes the " +
      "sidecar with its file") {
    withDir { dir =>
      val m = manager(dir)
      Seq("3", "4", ".3.crc", ".4.crc").foreach(n =>
        Files.write(dir.resolve(n), Array[Byte](0)))
      val open = m.createAtomic(new Path(dir.resolve("5").toUri), false)
      val listed = m.list(new Path(dir.toUri)).map(_.getPath.getName).toSet
      assert(listed === Set("3", "4"))
      open.cancel()
      m.delete(new Path(dir.resolve("3").toUri))
      assert(names(dir) === Set("4", ".4.crc"))
    }
  }

  test("files and directories get the modes Spark's default manager " +
      "gives them") {
    withDir { dir =>
      def publish(m: CheckpointFileManager, sub: NioPath): Unit = {
        m.mkdirs(new Path(sub.toUri))
        write(m, new Path(sub.resolve("0").toUri), "x", overwrite = false)
      }
      val theirs = dir.resolve("default/state/0")
      val ours = dir.resolve("local/state/0")
      publish(new FileContextBasedCheckpointFileManager(
        new Path(theirs.toUri), conf), theirs)
      publish(manager(ours), ours)
      def mode(p: NioPath) = Files.getPosixFilePermissions(p)
      assert(mode(ours.resolve("0")) === mode(theirs.resolve("0")))
      Seq(ours, ours.getParent).zip(Seq(theirs, theirs.getParent))
        .foreach { case (o, t) => assert(mode(o) === mode(t)) }
    }
  }

  test("a non-file: path is delegated to Spark's own manager") {
    withDir { dir =>
      val c = new Configuration()
      c.set(s"fs.$TestScheme.impl", classOf[CountingLocalFs].getName)
      c.setBoolean(s"fs.$TestScheme.impl.disable.cache", true)
      val p = new Path(s"$TestScheme://${dir.resolve("6")}")
      val before = CountingLocalFs.renames.get
      write(new LocalCheckpointFileManager(p, c), p, "y", overwrite = true)
      assert(CountingLocalFs.renames.get === before + 1)
      assert(read(dir.resolve("6")) === "y")
    }
  }
}

object LocalCheckpointFileManagerSpec {
  val TestScheme = "graftlocal"

  /** The local filesystem under a test-only scheme, counting renames:
    * `FileContext` has no implementation for the scheme, so Spark's
    * choice is its `FileSystem`-based manager over this class. */
  class CountingLocalFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$TestScheme:///")
    override def rename(src: Path, dst: Path): Boolean = {
      CountingLocalFs.renames.incrementAndGet()
      super.rename(src, dst)
    }
  }
  object CountingLocalFs {
    val renames = new AtomicInteger()
  }
}
